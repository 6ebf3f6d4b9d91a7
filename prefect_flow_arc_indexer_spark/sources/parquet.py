"""Parquet table loaders for the test star schema, plus the logical
``index_documents`` view that stands in for the reference's Postgres source
table (``graph.index_documents``, reference ``flows/main_flow.py:607``).

The stand-in mapping (documented in repo FIXTURES.md §C) is::

    index      <- events.event_type        (low-cardinality routing key)
    id         <- CAST(events.event_id AS STRING)
    document   <- events.props             (JSON string payload)
    is_deleted <- events.event_id % 13 = 0 (deterministic tombstone mix;
                  events.value is never negative and props has no 'deleted'
                  key, so FIXTURES' two candidate derivations would both be
                  constant-false — this one exercises both branches)
    updated_at <- events.ts                (CDC watermark column)

Everything here is expressed so Catalyst can push projection + predicates to
the parquet scan; the view is a select, never a materialization.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one star-schema table; normalizes events' nano timestamps.

    The schema comes from the parquet footer, read on the driver with
    pyarrow (:func:`footer_schema`), and is handed to ``spark.read.schema``,
    so a load runs no Spark job; schema inference would run one footer job
    per call. Paths pyarrow cannot open (directories, remote filesystems)
    and column types the footer mapping does not cover fall back to Spark's
    inference, which gives the same schema.

    events.parquet may store TIMESTAMP(NANOS); Spark reads it as long (via
    the nanosAsLong conf applied in session.prepare_session) and we convert
    to a microsecond TimestampType — the same truncation DuckDB applies,
    keeping the oracle comparison exact.

    ``fan_out=True`` is for operators whose per-row work dominates the scan
    (shingling, hashing, vector math): when fewer tasks than the cluster has
    cores read the rows (the test files are single-row-group, so they read
    as ONE task; see :func:`_splits`), redistribute rows first. The guard
    makes it a no-op at production scale, where a 100 TB scan already has
    ~1e5 partitions — no gratuitous shuffle lands in the big-data path.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: nano values (~1.7e18) exceed double's exact-int
        # range, so `ts / 1000` would drift by ±1us
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        # events staged by another writer (DuckDB, plain Spark) carry
        # micro timestamps with isAdjustedToUTC=false, which Spark 4 reads
        # as TIMESTAMP_NTZ; downstream event-time ops (window(),
        # session_window(), unix_micros()) require the instant type
        df = df.withColumn("ts", F.to_timestamp("ts"))
    if fan_out:
        par = spark.sparkContext.defaultParallelism
        if _splits(df, path) < par:
            df = df.repartition(par)
    return df


def _splits(df: DataFrame, path: str) -> int:
    """At most how many tasks read ``df``'s rows. For a local file this
    comes from the footer and the file size, so the decision plans no scan:
    Spark cuts the file into byte splits (:func:`_byte_splits`) and only a
    split that holds a row group's midpoint reads rows, so no more tasks
    read rows than there are row groups or splits. For other paths, the
    scan's partition count."""
    md = _footer(path)
    if md is None:
        return df.rdd.getNumPartitions()
    size = os.path.getsize(path)
    return min(md.num_row_groups, _byte_splits(df.sparkSession, size))


def _byte_splits(spark: SparkSession, size: int) -> int:
    """How many splits Spark's file scan cuts one ``size``-byte file into:
    ``FilePartition.maxSplitBytes`` for a one-file scan, which also packs
    each split into its own partition."""
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    cores = (
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    per_core = (size + open_cost) // int(cores)
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))
    return -(-size // split)


# session confs that change what parquet inference gives:
# schema key -> (conf name, Spark's default)
_INFERENCE_CONFS = {
    "nanos_as_long": ("spark.sql.legacy.parquet.nanosAsLong", "false"),
    "infer_ntz": ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
    "binary_as_string": ("spark.sql.parquet.binaryAsString", "false"),
}
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer(path: str):
    """pyarrow ``FileMetaData`` of one local parquet file, or None where
    pyarrow cannot open ``path`` (a directory, a remote filesystem)."""
    try:
        import pyarrow.parquet as pq

        return pq.read_metadata(path)
    except Exception:
        return None


def _leaf_type(col, conf: dict[str, bool]) -> T.DataType | None:
    """Spark's inferred type for one primitive parquet column, after
    ``ParquetToSparkSchemaConverter`` under the session's confs; None for
    a type not mapped here."""
    phys, lt = col.physical_type, json.loads(col.logical_type.to_json())
    kind = lt["Type"]
    if kind == "Decimal":
        return T.DecimalType(col.precision, col.scale)
    if phys == "BOOLEAN" and kind == "None":
        return T.BooleanType()
    if phys == "FLOAT" and kind == "None":
        return T.FloatType()
    if phys == "DOUBLE" and kind == "None":
        return T.DoubleType()
    if phys in ("INT32", "INT64") and kind in ("None", "Int"):
        if kind == "Int" and not lt["isSigned"]:
            return None
        bits = lt.get("bitWidth", 32 if phys == "INT32" else 64)
        return {
            8: T.ByteType(),
            16: T.ShortType(),
            32: T.IntegerType(),
            64: T.LongType(),
        }[bits]
    if phys == "INT32" and kind == "Date":
        return T.DateType()
    if phys == "INT64" and kind == "Timestamp":
        if lt["timeUnit"] == "nanoseconds":
            # without nanosAsLong inference refuses the column outright
            return T.LongType() if conf["nanos_as_long"] else None
        # a writer-local (isAdjustedToUTC=false) timestamp infers as NTZ
        if lt["isAdjustedToUTC"] or not conf["infer_ntz"]:
            return T.TimestampType()
        return T.TimestampNTZType()
    if phys == "BYTE_ARRAY" and kind == "String":
        return T.StringType()
    if phys == "BYTE_ARRAY" and kind == "None":
        return T.StringType() if conf["binary_as_string"] else T.BinaryType()
    if phys == "FIXED_LEN_BYTE_ARRAY" and kind == "None":
        return T.BinaryType()
    return None


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's parquet inference gives for the local file
    ``path``, built from its footer with no Spark job; None where pyarrow
    cannot open the file or a column is outside the mapped subset
    (primitive columns and standard 3-level lists of them). Files Spark
    wrote carry Spark's own schema in the footer; those are left to
    inference too, which reads that schema back."""
    md = _footer(path)
    if md is None or _SPARK_ROW_METADATA in (md.metadata or {}):
        return None
    conf = {
        key: spark.conf.get(name, default).lower() == "true"
        for key, (name, default) in _INFERENCE_CONFS.items()
    }
    fields: dict[str, list] = {}
    for i in range(len(md.schema)):
        col = md.schema.column(i)
        fields.setdefault(col.path.split(".")[0], []).append(col)
    out = []
    for name, leaves in fields.items():
        parts = leaves[0].path.split(".")
        dt = _leaf_type(leaves[0], conf) if len(leaves) == 1 else None
        if dt is None:
            return None
        if parts[1:] in (["list", "element"], ["list", "item"]):
            dt = T.ArrayType(dt, True)
        elif len(parts) > 1:
            return None
        out.append(T.StructField(name, dt, True))
    return T.StructType(out)


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one table from parquet FOOTER metadata — the cheap
    input to plan-selection gates (f91d8c8 pattern), where a Spark count
    job would cost more than the plan difference it arbitrates. Uses
    pyarrow on the driver for local paths (zero jobs); falls back to a
    metadata-only Spark count for filesystems pyarrow can't reach (at
    production scale the table catalog answers this instead)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    md = _footer(path)
    return md.num_rows if md is not None else spark.read.parquet(path).count()


def index_documents(
    spark: SparkSession, sf_dir: str, fan_out: bool = False
) -> DataFrame:
    """The reference's source table as a logical view over ``events``.

    Mirrors the 5-column schema implied by reference ``flows/main_flow.py``
    (index text / id text / document jsonb / is_deleted bool / updated_at
    timestamptz — see SURVEY §1.1). ``fan_out`` as in :func:`load_table` —
    pass it from consumers whose per-row work (JSON/VARIANT parsing)
    dominates the scan; the events file reads as 1-4 partitions at test
    SFs, which would serialize that CPU.
    """
    ev = load_table(spark, sf_dir, "events", fan_out=fan_out)
    return ev.select(
        F.col("event_type").alias("index"),
        F.col("event_id").cast("string").alias("id"),
        F.col("props").alias("document"),
        ((F.col("event_id") % 13) == 0).alias("is_deleted"),
        F.col("ts").alias("updated_at"),
    )


# DuckDB CTE encoding the identical view for oracle SQL; every oracle that
# touches the reference surface starts with `WITH {IDX_DOCS_CTE} ...`.
IDX_DOCS_CTE = """index_documents AS (
  SELECT event_type AS "index",
         CAST(event_id AS VARCHAR) AS id,
         props AS document,
         (event_id % 13 = 0) AS is_deleted,
         ts AS updated_at
    FROM events
)"""
