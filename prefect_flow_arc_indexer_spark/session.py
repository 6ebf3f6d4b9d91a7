"""SparkSession construction tuned for the engine.

The reference delegates all planning to Postgres/Elasticsearch; here Catalyst
owns the plan, so the session is where scale knobs live: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for any Pandas-UDF
boundary, and shuffle-partition sizing from the available cores.

Two entry points:

- :func:`get_spark` builds a session (tests, bench, pipelines own the session).
- :func:`prepare_session` applies the *runtime-settable* confs to a session we
  did not build (the correctness driver passes its own session into
  ``__spark_entry__.entry/queries``); it is idempotent and cheap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set on an already-running session.
# nanosAsLong is required because events.parquet carries TIMESTAMP(NANOS),
# which Spark 4 refuses to read natively; the events loader converts the
# resulting long back to a proper microsecond timestamp.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Session-window and timestamp arithmetic should not silently switch
    # to LEGACY parsing.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}

# Confs that must be set at build time.
_BUILD_CONFS: dict[str, str] = {
    # Local test files are tiny; on a real cluster this default (128MB) is
    # what keeps 100TB scans at ~800k tasks instead of millions.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "arc-indexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the core count: right for local test
    scale; a production deployment sizes it to ~2-3x total executor cores or
    lets AQE coalesce from a high initial value. ``extra_confs`` override
    the tuned defaults.
    """
    par = _default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{par}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
    )
    confs = {**_BUILD_CONFS, **RUNTIME_CONFS, **(extra_confs or {})}
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-owned session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf rejected => keep going
            pass
    return spark
