"""Deterministic splitting and sampling over ``documents`` —
training-data-pipeline extension surface (ABSENT in the reference, which
never samples; north-star operators per SURVEY §7).

Both operators key every decision off the engine-stable 28-bit md5 hash of
the doc id (``functions.hashing.stable_hash``), NOT ``rand()``:

- **reproducible**: the same corpus always yields the same split/sample, on
  any cluster size, partitioning, or execution order — the property a
  training pipeline actually needs (re-runs must not leak val docs into
  train);
- **oracle-able**: DuckDB replays the identical md5 arithmetic bit-for-bit;
- **scan-local**: the split/sample decision is a narrow projection+filter
  with zero shuffles — at 100 TB it runs at wire speed and pushes nothing
  across the network (the only shuffle below is the tiny per-stratum summary
  agg).

Salting the hash input (``'split:' || doc_id``) decorrelates these buckets
from any other use of the doc-id hash (LSH bands, fingerprints), so split
membership is independent of dedup bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.functions.hashing import (
    dd_stable_hash,
    stable_hash,
)
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

# train/val/test percentage bounds over the 100-bucket hash space:
# [0,80) / [80,90) / [90,100).
TRAIN_PCT = 80
VAL_PCT = 10
SPLIT_SALT = "split:"

# per-stratum keep-rate for the stratified sample, out of 100 buckets
SAMPLE_PCT = 10
SAMPLE_SALT = "sample:"


def split_bucket(doc_id_col, salt: str):
    """0-99 engine-stable bucket for a doc id (Spark side)."""
    return stable_hash(F.concat(F.lit(salt), doc_id_col.cast("string"))) % 100


def _dd_bucket(salt: str) -> str:
    hashed = dd_stable_hash(f"concat('{salt}', CAST(doc_id AS VARCHAR))")
    return f"{hashed} % 100"


@register(
    "q_train_split",
    oracle=f"""SELECT doc_id,
       {_dd_bucket(SPLIT_SALT)} AS bucket,
       CASE WHEN {_dd_bucket(SPLIT_SALT)} < {TRAIN_PCT} THEN 'train'
            WHEN {_dd_bucket(SPLIT_SALT)} < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
  FROM documents
""",
    doc="deterministic train/val/test assignment (80/10/10) by salted "
    "engine-stable hash of doc_id — reproducible across runs/cluster "
    "shapes, zero-shuffle scan-side projection",
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = split_bucket(F.col("doc_id"), SPLIT_SALT)
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "q_stratified_sample",
    oracle=f"""WITH marked AS (
  SELECT source,
         CASE WHEN {_dd_bucket(SAMPLE_SALT)} < {SAMPLE_PCT} THEN 1 ELSE 0 END AS keep
    FROM documents
)
SELECT source,
       count(*) AS total_docs,
       CAST(sum(keep) AS BIGINT) AS sampled_docs
  FROM marked GROUP BY source
""",
    doc=f"deterministic {SAMPLE_PCT}%-per-stratum sample over source strata "
    "(salted hash bucket < rate), summarized as per-stratum total vs "
    "sampled counts — the filter is scan-side; only the summary shuffles",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = (
        (split_bucket(F.col("doc_id"), SAMPLE_SALT) < SAMPLE_PCT)
        .cast("int")
        .alias("keep")
    )
    return (
        docs.select("source", keep)
        .groupBy("source")
        .agg(
            F.count("*").alias("total_docs"),
            F.sum("keep").alias("sampled_docs"),
        )
    )


# --------------------------------------------------------------------------
# weighted sampling: integer-exact systematic (size-proportional) draw
# --------------------------------------------------------------------------
WEIGHTED_K = 50


@register(
    "q_weighted_sample",
    oracle=f"""WITH w AS (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
    FROM documents
),
tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total FROM documents)
SELECT doc_id, lang, n_chars,
       CAST((cum * {WEIGHTED_K}) // total AS BIGINT) AS ticket
  FROM w, tot
 WHERE (cum * {WEIGHTED_K}) // total
     > ((cum - n_chars) * {WEIGHTED_K}) // total
""",
    doc=f"weighted sampling, probability proportional to size: systematic "
    f"draw of ~{WEIGHTED_K} docs along the exact integer cumulative-weight "
    "axis (a doc is picked iff a ticket boundary falls inside its weight "
    "span — ALL-integer arithmetic, so unlike the classic -ln(u)/w "
    "exponential-rank trick there is no float ordering to drift across "
    "engines); the doc_id-ordered cumulative weight is the operator's "
    "determinism contract and is computed in the two-pass "
    "distrank.global_cumsum form (parallel range sort + broadcast "
    "offsets) — no single-task window at any cardinality",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_indexer_spark.operators.distrank import (
        global_cumsum,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tot = docs.agg(F.sum("n_chars").cast("long").alias("total"))
    cum = global_cumsum(
        docs, F.col("n_chars"), [F.col("doc_id").asc()], "cum"
    )
    rel = cum.ckpt_release  # distrank's pinned-partitioning handle
    w = cum.join(F.broadcast(tot))
    ticket = F.expr(f"(cum * {WEIGHTED_K}) div total")
    prev_ticket = F.expr(f"((cum - n_chars) * {WEIGHTED_K}) div total")
    out = (
        w.where(ticket > prev_ticket)
        .select("doc_id", "lang", "n_chars", ticket.cast("long").alias("ticket"))
    )
    out.ckpt_release = rel
    return out
