"""End-to-end lifecycle of the round-5 pipeline pieces composed: one-pass
bucketed full sync -> bucketed incremental merge (hard-linked untouched
buckets) -> bucket-preserving compaction -> streaming continuation. Each
piece has unit tests; this pins that they COMPOSE on one sink."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.pipeline.bucketed import bucket_count
from prefect_flow_arc_indexer_spark.pipeline.runner import (
    full_sync,
    incremental_sync,
)
from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink
from prefect_flow_arc_indexer_spark.streaming.watermark import WatermarkStore

from tests.test_pipeline import _docs

N_BUCKETS = 4


def _rows(n, index="alpha", deleted=(), ts="2024-01-01 00:00:00"):
    return [
        (index, str(i), '{"v": %d}' % i, i in deleted, ts) for i in range(n)
    ]


def test_one_pass_bucketed_full_sync_then_merge_then_compact(spark, tmp_path):
    sink = VersionedSink(str(tmp_path / "life_sink"))
    docs0 = _docs(spark, _rows(40) + _rows(10, index="beta"))

    # 1) one-pass + bucketed: single-scan data plane lays down the
    #    hash-bucketed layout for every index
    report = full_sync(
        spark, docs0, sink, now=datetime(2024, 2, 1),
        bucketed=True, n_buckets=N_BUCKETS,
    )
    assert report.written == {"beta": 10, "alpha": 40}
    assert all(report.reconcile_ok.values())
    for idx in ("alpha", "beta"):
        gen = sink.read_manifest()[idx]
        assert bucket_count(sink, gen) == N_BUCKETS
        assert any(
            d.startswith("bucket=")
            for d in os.listdir(sink.generation_path(gen))
        )
    assert sink.read_alias(spark, "alpha").columns == ["id", "document"]

    # 2) incremental merge auto-detects the layout and hard-links
    gen_before = sink.read_manifest()["alpha"]
    inode_before = {}
    for d in os.listdir(sink.generation_path(gen_before)):
        if d.startswith("bucket="):
            full = os.path.join(sink.generation_path(gen_before), d)
            inode_before[d] = {
                f: os.stat(os.path.join(full, f)).st_ino
                for f in os.listdir(full) if f.endswith(".parquet")
            }
    docs1 = _docs(
        spark,
        _rows(40)
        + _rows(10, index="beta")
        + [("alpha", "3", '{"v": 333}', False, "2024-03-01 00:00:00"),
           ("alpha", "7", "{}", True, "2024-03-01 00:00:00")],
    )
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 2, 15))
    rep2 = incremental_sync(
        spark, docs1, sink, wm, now=datetime(2024, 3, 2)
    )
    assert "beta" in rep2.skipped  # no beta changes
    gen_after = sink.read_manifest()["alpha"]
    assert bucket_count(sink, gen_after) == N_BUCKETS
    live = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert live["3"] == '{"v": 333}'
    assert "7" not in live and len(live) == 39
    # at least one untouched bucket is the SAME inodes (hard link)
    linked = 0
    for d, files in inode_before.items():
        full = os.path.join(sink.generation_path(gen_after), d)
        if os.path.isdir(full):
            after = {
                f: os.stat(os.path.join(full, f)).st_ino
                for f in os.listdir(full) if f.endswith(".parquet")
            }
            linked += after == files
    assert linked >= 1

    # 3) compaction keeps the bucket layout and the data
    gen_c = sink.compact(spark, "alpha", now=datetime(2024, 3, 3))
    assert bucket_count(sink, gen_c) == N_BUCKETS
    assert sink.read_alias(spark, "alpha").count() == 39

    # 4) a second incremental over the compacted generation still merges
    docs2 = _docs(
        spark,
        _rows(40) + _rows(10, index="beta")
        + [("alpha", "12", '{"v": 1212}', False, "2024-04-01 00:00:00")],
    )
    wm.set("default", datetime(2024, 3, 15))
    incremental_sync(spark, docs2, sink, wm, now=datetime(2024, 4, 2))
    live2 = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert live2["12"] == '{"v": 1212}'
    # id 7's docs2 row predates the watermark -> still tombstoned
    assert "7" not in live2 and len(live2) == 39


def test_one_pass_bucketed_respects_or_ids(spark, tmp_path):
    sink = VersionedSink(str(tmp_path / "pin_sink"))
    docs = _docs(spark, _rows(6) + _rows(4, index="beta"))
    report = full_sync(
        spark, docs, sink, or_ids=["ALPHA"], now=datetime(2024, 2, 1),
        bucketed=True, n_buckets=N_BUCKETS,
    )
    assert report.indexes == ["alpha"]  # P8 lowercase + pinning
    assert not sink.alias_exists("beta")
    assert bucket_count(sink, sink.read_manifest()["alpha"]) == N_BUCKETS
