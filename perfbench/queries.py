"""The ``queries`` workload: one pass over the ``corpus`` list, then the
``tables`` list (``queries.json``).

A run sets up (``run.Context.setup``), then makes timed passes until
``--seconds`` have gone by, always in list order. The inputs are the
committed tables, so the seed changes nothing here: a seeded query order
moved first-use costs from query to query and spread ``op_geomean_s`` by a
quarter between seeds. An op builds one query and collects its rows; the
rows are then compared with the query's DuckDB oracle or property
(``checks.py``) outside the timed window. Collecting, rather than writing to
the ``noop`` sink, lets every timed execution be checked without running it
twice. Caches and checkpoints a query leaves behind are released between
queries, also outside timing.
"""

from __future__ import annotations

import json
import os
import time

LISTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.json")
FAMILIES = ("corpus", "tables")


def query_lists() -> dict[str, list[str]]:
    with open(LISTS) as f:
        return json.load(f)


def run(ctx) -> dict:
    from prefect_flow_arc_indexer_spark.plans import all_queries
    from prefect_flow_arc_indexer_spark.plans.registry import oracle_map
    from prefect_flow_arc_indexer_spark.sources.parquet import TABLES, load_table

    from checks import QueryChecker

    registered = all_queries()
    lists = query_lists()
    family = {n: f for f in FAMILIES for n in lists[f]}
    names = [n for f in FAMILIES for n in lists[f]]
    ctx.setup(lambda spark: [load_table(spark, ctx.sf_dir, t).schema for t in TABLES])
    spark, tracer = ctx.spark, ctx.tracer
    checker = QueryChecker(ctx.sf_dir, TABLES, oracle_map(), ctx.cores, ctx.cache)

    def op(tag: str, name: str) -> float:
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=tag):
                with tracer.span("operators"):
                    df = registered[name].builder(spark, ctx.sf_dir)
                if tracer.enabled:
                    with tracer.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.exec"):
                    rows = [tuple(r) for r in df.collect()]
            el = time.perf_counter() - t0
            problems = checker.check(name, df.columns, rows)
        except Exception as exc:  # an op that raises is a failed op
            el = time.perf_counter() - t0
            problems = [f"raised {type(exc).__name__}: {str(exc)[:200]}"]
        ctx.record(tag, problems)
        ctx.release()
        return el

    if tracer.enabled:
        _wrap(tracer)
    out = {"passes": [], "ops": {n: [] for n in names}, "pass_ops": []}
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx.seconds:
        wall, pass_ops = 0.0, []
        for name in names:
            tag = f"{len(out['passes'])}:{name}"
            el = op(tag, name)
            wall += el
            out["ops"][name].append(el)
            if tracer.enabled:
                pass_ops.append((tag, el, tracer.collect(tag), family[name]))
        out["passes"].append(wall)
        out["pass_ops"].append(pass_ops)
        ctx.log(f"pass {len(out['passes'])} took {wall:.2f}s")
    tracer.unwrap()
    return out


def _wrap(tracer) -> None:
    import prefect_flow_arc_indexer_spark.sources.parquet as sources

    for fn in ("load_table", "index_documents", "table_row_count"):
        tracer.wrap(sources, fn, "sources")
