"""Mergeable frequency sketch: Misra–Gries heavy hitters over the token
stream — the bounded-memory answer to "top terms" when the exact
two-stage aggregation's keyspace itself is too large to shuffle.

Misra–Gries with capacity ``m`` keeps at most ``m`` counters per partition;
on overflow every counter decrements (the classic majority-vote
generalization). Guarantees, per partition of ``n`` items:
``true_count - n/(m+1) <= counter <= true_count``. Summaries MERGE by
summing counters per key — undercounts add, so the merged estimate keeps
``true_total - sum_p(n_p/(m+1)) <= est <= true_total`` (Agarwal et al.,
"Mergeable Summaries", PODS'12). The dataflow:

1. ``mapInPandas`` runs MG per partition — Arrow batches in, one tiny
   (token, count) summary out, memory O(m) regardless of partition size;
2. the summaries (≤ m rows per partition, not the token stream) shuffle
   once into a per-token sum;
3. deterministic top-k by (estimate, token) cut.

At 100 TB this is the difference between shuffling a trillion-token stream
(exact) and shuffling ``m × partitions`` summary rows. The estimate is
order-dependent within a partition (hence no DuckDB oracle — the driver
applies a rows-only check); the ERROR BOUND is order-independent, and
``tests/test_sketches.py`` asserts it against exact counts, which is the
guarantee that matters.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.functions.textfns import (
    dd_tokens,
    tokens,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

MG_CAPACITY = 64
TOP_K = 10


def _mg_partition(capacity: int):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        counters: dict[str, int] = {}
        n = 0
        for pdf in batches:
            for tok in pdf["token"]:
                n += 1
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < capacity:
                    counters[tok] = 1
                else:
                    # decrement-all step; drop zeros (dict stays <= capacity)
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame(
            {
                "token": list(counters.keys()),
                "est": list(counters.values()),
                "part_id": [part_id] * len(counters),
                "part_n": [n] * len(counters),
            }
        )

    return run


def mg_summaries(token_stream: DataFrame, capacity: int = MG_CAPACITY) -> DataFrame:
    """Per-partition MG summaries: (token, est, part_id, part_n), ≤ capacity
    rows per partition; (part_id, part_n) lets callers reconstruct the exact
    error budget."""
    return token_stream.mapInPandas(
        _mg_partition(capacity),
        schema="token string, est long, part_id int, part_n long",
    )


def heavy_hitters(
    token_stream: DataFrame, capacity: int = MG_CAPACITY, k: int = TOP_K
) -> DataFrame:
    """Merged top-k heavy hitters: (token, est_count) with est_count the
    summed per-partition lower-bound estimates, deterministic (est DESC,
    token ASC) cut. Callers needing the error budget reconstruct it from
    :func:`mg_summaries`'s (part_id, part_n) columns — sum of
    part_n/(capacity+1) over distinct partitions (see
    tests/test_sketches.py for the exact recipe)."""
    summaries = mg_summaries(token_stream, capacity)
    merged = summaries.groupBy("token").agg(F.sum("est").alias("est_count"))
    return (
        merged.orderBy(F.col("est_count").desc(), F.col("token").asc())
        .limit(k)
    )


@register(
    "q_heavy_hitters",
    oracle=None,  # MG estimates are partition-order-dependent; the driver
    # does a rows-only check and tests assert the MG error bound + top-set
    # containment against exact counts
    doc=f"Misra-Gries heavy hitters: per-partition capacity-{MG_CAPACITY} "
    "sketches via mapInPandas (O(capacity) memory each), merged by a "
    f"summary-only shuffle, deterministic top-{TOP_K} cut — the "
    "bounded-memory frequent-items path for keyspaces too large to "
    "shuffle exactly",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    stream = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    return heavy_hitters(stream)


@register(
    "q_hll_merge",
    oracle=None,  # Datasketches HLL binary layout is engine-specific; the
    # driver does a rows-only check and tests assert estimate tolerance
    # against exact distinct counts
    doc="mergeable HLL sketches (Apache DataSketches): per-segment "
    "customer-key sketches built in one pass (hll_sketch_agg), then "
    "UNIONED (hll_union_agg) into a global estimate WITHOUT rescanning — "
    "the two-level pattern that lets 100 TB pipelines keep per-partition/"
    "per-day sketches and answer any rollup by merging kilobyte sketches "
    "instead of re-reading data. Output: per-segment estimate + exact, "
    "plus one 'ALL' row whose estimate comes only from the merge",
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sketches = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count_distinct("o_custkey").alias("exact_customers"),
    )
    per_seg = sketches.select(
        F.col("o_orderpriority").alias("segment"),
        F.hll_sketch_estimate("sk").alias("approx_customers"),
        "exact_customers",
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
            "approx_customers"
        ),
    ).select(
        F.lit("ALL").alias("segment"),
        "approx_customers",
        F.lit(None).cast("long").alias("exact_customers"),
    )
    return per_seg.unionByName(merged)


# --------------------------------------------------------------------------
# Count-Min sketch
# --------------------------------------------------------------------------
CM_WIDTH = 512
CM_DEPTH = 4
# fixed probe vocabulary: estimates are read for these terms (common corpus
# words — the sketch itself covers the whole keyspace)
CM_PROBES = (
    "the", "spark", "data", "join", "merge",
    "batch", "window", "key", "scan", "table",
)


def cm_cell(token: str, depth: int, width: int = CM_WIDTH) -> int:
    """Engine-independent cell index: md5 of 'depth:token' mod width. Python
    and the executor-side UDF share this single definition, so driver-side
    probe hashing and executor-side counting can never diverge."""
    import hashlib

    h = hashlib.md5(f"{depth}:{token}".encode()).hexdigest()
    return int(h[:8], 16) % width


def _cm_partition(batches):
    import numpy as np
    import pandas as pd

    # Zipfian streams repeat tokens constantly: count first (vectorized),
    # hash each DISTINCT token once — md5 cost scales with vocabulary, not
    # stream length.
    counts = np.zeros((CM_DEPTH, CM_WIDTH), dtype=np.int64)
    for pdf in batches:
        for tok, n in pdf["token"].value_counts().items():
            for d in range(CM_DEPTH):
                counts[d, cm_cell(tok, d)] += n
    d_idx, w_idx = counts.nonzero()
    yield pd.DataFrame(
        {"d": d_idx.astype("int32"), "w": w_idx.astype("int32"),
         "cnt": counts[d_idx, w_idx]}
    )


_CM_PROBES_SQL = ", ".join(f"'{t}'" for t in CM_PROBES)


@register(
    "q_countmin",
    # exact oracle since r6: the cell hash is md5-derived (md5 hex is
    # engine-identical), so DuckDB can rebuild the WHOLE sketch — count
    # every (depth, cell) exactly as the executors do — and read the same
    # probe minima. tests/test_sketches.py additionally asserts
    # est >= exact, the CM width error bound, and merge
    # partitioning-independence, which a single-corpus oracle can't prove.
    oracle=f"""WITH toks AS (
  SELECT unnest({dd_tokens("text")}) AS token
    FROM documents WHERE text IS NOT NULL
),
depths AS (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d),
cells AS (
  SELECT d,
         CAST('0x' || substr(md5(d || ':' || token), 1, 8) AS BIGINT)
           % {CM_WIDTH} AS w,
         CAST(count(*) AS BIGINT) AS cnt
    FROM toks, depths GROUP BY 1, 2
),
probes AS (SELECT unnest([{_CM_PROBES_SQL}]) AS token),
probe_cells AS (
  SELECT p.token, dd.d,
         CAST('0x' || substr(md5(dd.d || ':' || p.token), 1, 8) AS BIGINT)
           % {CM_WIDTH} AS w
    FROM probes p, depths dd
),
est AS (
  SELECT pc.token, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
    FROM probe_cells pc
    LEFT JOIN cells c ON c.d = pc.d AND c.w = pc.w
   GROUP BY pc.token
),
exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count FROM toks
   WHERE token IN ({_CM_PROBES_SQL}) GROUP BY token
)
SELECT e.token, e.est_count,
       coalesce(x.exact_count, 0) AS exact_count
  FROM est e LEFT JOIN exact x USING (token)
""",
    doc=f"Count-Min sketch ({CM_DEPTH}x{CM_WIDTH}): per-partition cell "
    "grids built in one mapInPandas pass (O(depth*width) memory each), "
    "merged by summing cells — unlike Misra-Gries the merge is exact and "
    "partition-order-INDEPENDENT, so estimates are deterministic. Output: "
    "probe-term estimates beside exact counts (est >= exact always)",
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    stream = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    cells = stream.mapInPandas(
        _cm_partition, schema="d int, w int, cnt long"
    )
    merged = cells.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))
    # driver-side probe hashing via the SAME cm_cell fn; tiny literal frame
    probe_rows = [
        (tok, d, cm_cell(tok, d)) for tok in CM_PROBES for d in range(CM_DEPTH)
    ]
    probes = local_frame(spark, probe_rows, "token string, d int, w int")
    est = (
        probes.join(F.broadcast(merged), ["d", "w"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
    exact = (
        stream.where(F.col("token").isin(*CM_PROBES))
        .groupBy("token")
        .agg(F.count("*").alias("exact_count"))
    )
    return est.join(exact, "token", "left").select(
        "token",
        "est_count",
        F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
    )
