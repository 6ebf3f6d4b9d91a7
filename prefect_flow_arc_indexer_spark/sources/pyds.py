"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API): a
deterministic CDC-feed generator registered as ``cdc_feed``.

Why this exists: the reference's source is a Postgres server-side cursor
(``/root/reference/flows/main_flow.py:308-349``) — a paginated, external,
row-oriented feed. ``sources/jdbc.py`` maps that onto Spark's JDBC reader;
this module shows the OTHER half of the story: when there is no connector,
the Python DataSource API lets the engine wrap any external feed as a
first-class, partition-parallel Spark source — each partition reads its own
slice (the moral equivalent of JDBC's partitionColumn ranges), executors pull
independently, and the driver never materializes the feed.

The generated rows mirror the ``index_documents`` schema (SURVEY §1.1) and
are a pure function of (partition, row) indices — same options, same data,
every time, on any cluster — so tests can assert exact counts and replays
are idempotent end to end.

Scale note: ``partitions()`` is the parallelism contract. N partitions →
N independent read tasks; a real feed wrapper would map pagination tokens or
key ranges here. Nothing is collected on the driver: ``read`` runs in the
executor's Python worker, Arrow-batched back to the JVM.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

FEED_SCHEMA = (
    "index string, id string, document string, "
    "is_deleted boolean, updated_at timestamp"
)

_INDEXES = ("alpha", "beta", "gamma")
_EPOCH = datetime(2024, 1, 1)


def _h(s: str) -> int:
    """Stable 8-hex-digit hash — deterministic across processes (no PYTHONHASHSEED dependence)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


class CdcFeedDataSource(DataSource):
    """``spark.read.format("cdc_feed").option("rows", N).option("partitions", P)``"""

    @classmethod
    def name(cls) -> str:
        return "cdc_feed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def reader(self, schema) -> "CdcFeedReader":
        return CdcFeedReader(
            rows=int(self.options.get("rows", 1000)),
            partitions=int(self.options.get("partitions", 4)),
        )


class CdcFeedReader(DataSourceReader):
    def __init__(self, rows: int, partitions: int):
        if rows < 0 or partitions < 1:
            raise ValueError("rows must be >= 0 and partitions >= 1")
        self.rows = rows
        self.n_parts = partitions

    def partitions(self):
        # contiguous row ranges per partition — the pagination contract
        return [InputPartition(p) for p in range(self.n_parts)]

    def read(self, partition: InputPartition):
        per = -(-self.rows // self.n_parts)  # ceil
        lo = partition.value * per
        hi = min(lo + per, self.rows)
        for i in range(lo, hi):
            key = _h(f"row{i}")
            idx = _INDEXES[key % len(_INDEXES)]
            yield (
                idx,
                str(i),
                f'{{"k":"v{key % 100}","row":{i}}}',
                key % 13 == 0,
                _EPOCH + timedelta(minutes=i),
            )


def register_cdc_feed(spark: SparkSession) -> None:
    """Idempotent registration of the ``cdc_feed`` format on a session."""
    spark.dataSource.register(CdcFeedDataSource)
