"""Plan-quality audit: for every registered query, inspect the physical plan
for the scale-critical properties (run at any SF — plans don't change):

- column pruning: parquet ReadSchema should not include unused columns;
- predicate pushdown: filters on scanned tables appear as PushedFilters;
- join strategy: broadcast joins where a side is known-small, no accidental
  shuffled cartesian products;
- python boundary: flags plans with row-at-a-time Python UDFs (none should
  exist; ArrowEvalPython/MapInPandas are the sanctioned boundary);
- window partitioning: flags WindowExec nodes with an EMPTY partition spec
  ("No Partition Defined for Window" — the whole input collapses to one
  task) unless the window is structurally bounded (the two-pass offset
  table of distrank: ordered by a spark_partition_id column, |range
  partitions| rows) or the query is allowlisted below with a reason why
  its window input is values/vocab-bounded rather than corpus-sized;
- lambda invariance: flags column-reading subexpressions inside a
  higher-order function's lambda body that do not depend on the lambda
  variable. Lambda bodies run interpreted with no common-subexpression
  elimination, so such a subexpression is recomputed for every element
  (``word_ngrams`` over an inline ``tokens(text)`` re-split the document
  2·n times per n-gram). Project the value to a column first. Cached
  relations are searched too, and so is every frame the builder itself
  persists, checkpoints or runs (``build_and_capture``): q_pagerank's
  tokenizing edge pass runs only inside its builder, and its returned plan
  reads nothing but the last round's checkpoint.

Usage: python scripts/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import functools
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from prefect_flow_arc_indexer_spark.plans import all_queries
from prefect_flow_arc_indexer_spark.session import get_spark

# Queries whose registered plan contains an unpartitioned window over an
# input PROVABLY bounded by values (a histogram of distinct lengths/scores),
# vocabulary, catalog size (#indexes), or calendar (days/months) — never by
# corpus row count. Every entry says which. LIMIT-k-fed windows are NOT
# listed here: those are detected structurally (a WindowExec whose unary
# input chain passes through TakeOrderedAndProject/GlobalLimit is bounded
# by construction — see unpartitioned_windows), which is how the former
# q_pagerank / q_returned_top_customers / q_negative_sampling /
# q_source_keywords / q_zipf_fit / q_vocab_coverage entries retired.
BOUNDED_GLOBAL_WINDOWS: dict[str, str] = {
    "q_backlog_sweep": "cumsum over the DAILY delta table (calendar axis)",
    "q_ccnet_buckets": "tercile cut over the score HISTOGRAM (distinct "
    "quantized scores)",
    "q_ece_calibration": "weighted-ECE sum over the 10-row bin table",
    "q_ks_drift": "ECDF cumsum over distinct feature values (histogram)",
    "q_length_trim": "percentile cut over the token-length HISTOGRAM",
    "q_mom_growth": "lag over the per-MONTH revenue rollup",
    "q_revenue_acf": "lag windows over the DAILY revenue series",
    "q_rolling_revenue": "rolling sum over the DAILY revenue rollup",
    "q_skyline_docs": "frontier running-max over the token-count HISTOGRAM "
    "(distinct lengths)",
    "q_topk_tail": "rank over per-INDEX doc counts (catalog-bounded)",
}

# RATCHET (VERDICT r10 task 5): the allowlist may only SHRINK. This frozen
# snapshot is the r11 state; a new query with a global window must fix its
# plan (top-k-first via orderBy+limit — the q_pagerank pattern — or a real
# partition key), not add a line above. Any key present in
# BOUNDED_GLOBAL_WINDOWS but absent here is an audit failure by itself,
# and tests/test_round11.py pins both directions.
ALLOWLIST_RATCHET = frozenset(
    {
        "q_backlog_sweep",
        "q_ccnet_buckets",
        "q_ece_calibration",
        "q_ks_drift",
        "q_length_trim",
        "q_mom_growth",
        "q_revenue_acf",
        "q_rolling_revenue",
        "q_skyline_docs",
        "q_topk_tail",
    }
)

RATCHET_VIOLATIONS = sorted(set(BOUNDED_GLOBAL_WINDOWS) - ALLOWLIST_RATCHET)

# Queries whose lambda bodies hold a lambda-invariant column expression
# that is cheap per element (an array length or a scalar cast, O(1) and
# never a pass over a document or a vector). Every entry says which
# expression and why it stays; a hit outside this list fails the audit.
INVARIANT_LAMBDAS: dict[str, str] = {
    "q_span_mask": "cast(doc_id as string) and n_spans - 1 per span: "
    "O(1) scalars beside the per-span hash they feed",
}

# RATCHET: like ALLOWLIST_RATCHET, this frozen snapshot can only shrink; a
# new hit is fixed by projecting the invariant value to a column before
# the higher-order function, never by adding a line above.
INVARIANT_LAMBDAS_RATCHET = frozenset({"q_span_mask"})

INVARIANT_RATCHET_VIOLATIONS = sorted(
    set(INVARIANT_LAMBDAS) - INVARIANT_LAMBDAS_RATCHET
)


def _iter_plan_nodes(node):
    """DFS over a physical-plan tree via py4j, descending through the AQE
    wrapper (AdaptiveSparkPlanExec is a leaf whose real tree hangs off
    inputPlan) and query-stage wrappers."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _iter_plan_nodes(node.inputPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _iter_plan_nodes(node.plan())
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _iter_plan_nodes(ch.apply(i))


def _iter_plan_nodes_and_caches(node):
    """:func:`_iter_plan_nodes`, also descending into the plan each
    InMemoryTableScan reads (the cached relation's physical plan)."""
    for n in _iter_plan_nodes(node):
        yield n
        if n.getClass().getSimpleName() == "InMemoryTableScanExec":
            yield from _iter_plan_nodes_and_caches(n.relation().cachedPlan())


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _invariant_subexprs(expr, in_lambda: bool, hits: list[str]):
    """Post-order walk of one expression tree. Returns (free lambda
    variable ids, reads a column) for ``expr``; appends to ``hits`` every
    maximal non-leaf subexpression of a lambda body that reads a column
    and has no free lambda variable."""
    name = expr.getClass().getSimpleName()
    if name == "NamedLambdaVariable":
        return {expr.exprId().id()}, False
    if name == "AttributeReference":
        return set(), True
    free, reads, inner = set(), False, []
    body = in_lambda or name == "LambdaFunction"
    for child in _seq(expr.children()):
        f, r = _invariant_subexprs(child, body, inner)
        free |= f
        reads |= r
    if name == "LambdaFunction":
        # a nested lambda runs per element of its own array; its body,
        # visited above, is where an invariant would be recomputed
        free -= {a.exprId().id() for a in _seq(expr.arguments())}
    if in_lambda and reads and not free and name != "LambdaFunction":
        hits.append(expr.toString())
    else:
        hits.extend(inner)
    return free, reads


def lambda_invariants(*plan_roots) -> list[str]:
    """Column-reading subexpressions of lambda bodies that no lambda
    variable reaches, over each whole physical plan and every cached plan
    it reads (see the module docstring)."""
    hits: list[str] = []
    for root in plan_roots:
        for n in _iter_plan_nodes_and_caches(root):
            for e in _seq(n.expressions()):
                if "lambdafunction" in e.toString():
                    _invariant_subexprs(e, False, hits)
    return hits


# DataFrame methods through which a builder materializes an intermediate
# frame; its lineage is invisible in the returned plan afterwards
_MATERIALIZERS = (
    "persist",
    "cache",
    "localCheckpoint",
    "checkpoint",
    "collect",
    "count",
    "toPandas",
    "toLocalIterator",
)


def build_and_capture(builder, spark, sf_dir: str):
    """Run one query builder; return its frame and the executed plans of
    that frame and of every frame the builder materialized on the way."""
    cls = type(spark.range(0))
    seen = []
    originals = {name: cls.__dict__[name] for name in _MATERIALIZERS}

    def recording(orig):
        @functools.wraps(orig)
        def method(self, *args, **kwargs):
            seen.append(self)
            return orig(self, *args, **kwargs)

        return method

    for name, orig in originals.items():
        setattr(cls, name, recording(orig))
    try:
        df = builder(spark, sf_dir)
    finally:
        for name, orig in originals.items():
            setattr(cls, name, orig)
    frames = [df] + seen
    return df, [f._jdf.queryExecution().executedPlan() for f in frames]


_LIMIT_NODES = (
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "CollectLimitExec",
)


def _limit_bounded(node) -> bool:
    """True when every row reaching ``node`` passed through a LIMIT: walk
    the input chain downward while it stays unary (project/sort/filter/
    exchange/codegen wrappers — all row-preserving-or-reducing pass-
    throughs), descending through AQE/query-stage wrappers; a
    TakeOrderedAndProject/GlobalLimit on that chain bounds the window
    input by the literal k regardless of corpus size. A multi-child node
    (join/union) before any limit means unbounded — some input escapes
    the limit."""
    while True:
        name = node.getClass().getSimpleName()
        if name in _LIMIT_NODES:
            return True
        if name == "AdaptiveSparkPlanExec":
            node = node.inputPlan()
            continue
        if name.endswith("QueryStageExec"):
            node = node.plan()
            continue
        ch = node.children()
        if ch.size() != 1:
            return False
        node = ch.apply(0)


def unpartitioned_windows(plan_root) -> list[str]:
    """Order specs of WindowExec nodes with an empty partition spec,
    excluding (a) the sanctioned two-pass offset pattern (ordered by a
    ``pid``/``_pid`` spark_partition_id column — one row per range
    partition, bounded by construction) and (b) windows whose unary input
    chain passes through a LIMIT node (top-k-first: the window runs over
    at most k survivor rows — the q_pagerank pattern)."""
    found = []
    for n in _iter_plan_nodes(plan_root):
        if n.getClass().getSimpleName() not in (
            "WindowExec",
            "WindowInPandasExec",
        ):
            continue
        if not n.partitionSpec().isEmpty():
            continue
        order = n.orderSpec().toString()
        if re.search(r"\b_?pid#", order):
            continue
        if _limit_bounded(n.children().apply(0)):
            continue
        found.append(order)
    return found


def audit(plan: str) -> dict[str, object]:
    scans = re.findall(r"FileScan parquet \[[^\]]*\]", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "scans": len(scans),
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_cols": [
            len([c for c in rs.split(",") if c.strip()]) for rs in read_schemas
        ],
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct"),
        # row-at-a-time scalar Python UDFs: bad in any hot path. The UDTF
        # node (BatchEvalPythonUDTF) is counted separately — it exists only
        # in the deliberate UDTF-surface demo (q_udtf_chunks), whose JVM-side
        # hot-path equivalent is the higher-order-function explode.
        "python_udf": plan.count("BatchEvalPython")
        - plan.count("BatchEvalPythonUDTF"),
        "python_udtf": plan.count("BatchEvalPythonUDTF"),
        "arrow_python": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a]
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    flagged = 0
    # emit the allowlist with the run so a diff of audit output shows any
    # attempted growth; the ratchet makes growth a failure outright
    print(f"allowlist ({len(BOUNDED_GLOBAL_WINDOWS)} entries, "
          f"ratchet {len(ALLOWLIST_RATCHET)}): "
          + ", ".join(sorted(BOUNDED_GLOBAL_WINDOWS)))
    if RATCHET_VIOLATIONS:
        flagged += len(RATCHET_VIOLATIONS)
        print("RATCHET-VIOLATION: allowlist grew beyond the frozen "
              f"baseline: {RATCHET_VIOLATIONS} — fix the plan "
              "(top-k-first / partition key), do not allowlist")
    print(f"lambda allowlist ({len(INVARIANT_LAMBDAS)} entries, "
          f"ratchet {len(INVARIANT_LAMBDAS_RATCHET)}): "
          + ", ".join(sorted(INVARIANT_LAMBDAS)))
    if INVARIANT_RATCHET_VIOLATIONS:
        flagged += len(INVARIANT_RATCHET_VIOLATIONS)
        print("RATCHET-VIOLATION: lambda allowlist grew beyond the frozen "
              f"baseline: {INVARIANT_RATCHET_VIOLATIONS} — project the "
              "invariant value to a column, do not allowlist")
    for name, rq in sorted(qs.items()):
        if names and name not in names:
            continue
        try:
            df, roots = build_and_capture(rq.builder, spark, sf_dir)
            root = roots[0]
            plan = root.toString()
            global_windows = unpartitioned_windows(root)
            invariants = lambda_invariants(*roots)
        except Exception as e:  # a broken builder must not hide the rest
            flagged += 1
            print(f"{name:28s} <-- BUILD-ERROR: {e}")
            continue
        a = audit(plan)
        flags = []
        if a["python_udf"]:
            flags.append("ROW-PYTHON-UDF")
        if a["cartesian"]:
            flags.append("CARTESIAN")
        if global_windows and name not in BOUNDED_GLOBAL_WINDOWS:
            flags.append(f"GLOBAL-WINDOW({len(global_windows)})")
        if invariants and name not in INVARIANT_LAMBDAS:
            flags.append(f"LAMBDA-INVARIANT({len(invariants)})")
        mark = " <-- " + ",".join(flags) if flags else ""
        flagged += bool(flags)
        print(
            f"{name:28s} scans={a['scans']} cols={a['read_cols']} "
            f"pushed={len(a['pushed_filters'])} bcast={a['broadcast_joins']} "
            f"smj={a['sortmerge_joins']} arrow={a['arrow_python']} "
            f"wscg={a['codegen_spans']}{mark}"
        )
        for hit in invariants:
            print(f"{'':28s}   lambda-invariant: {hit[:160]}")
    print(f"\nflagged: {flagged}")
    spark.stop()


if __name__ == "__main__":
    main()
