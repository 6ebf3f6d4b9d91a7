"""The custom Python DataSource (``sources/pyds.py``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.operators.actions import doc_actions
from prefect_flow_arc_indexer_spark.sources.pyds import register_cdc_feed


def test_cdc_feed_deterministic_and_partitioned(spark):
    register_cdc_feed(spark)
    df = (
        spark.read.format("cdc_feed")
        .option("rows", 500)
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 500
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(
        tuple(r)
        for r in spark.read.format("cdc_feed")
        .option("rows", 500)
        .option("partitions", 8)
        .load()
        .collect()
    )
    assert a == b, "same options must generate identical data"
    # ids unique; tombstone mix present; schema usable downstream
    assert df.select("id").distinct().count() == 500
    deleted = df.where("is_deleted").count()
    assert 0 < deleted < 500
    actions = doc_actions(df, timestamp=None)
    assert actions.where(F.col("_op_type") == "delete").count() == deleted


def test_cdc_feed_uneven_partition_split(spark):
    register_cdc_feed(spark)
    df = (
        spark.read.format("cdc_feed")
        .option("rows", 10)
        .option("partitions", 3)
        .load()
    )
    assert df.count() == 10  # ceil-split must not duplicate or drop rows


def test_full_sync_from_python_datasource(spark, tmp_path):
    """Integration seam: the pipeline's full-sync driver consumes the
    custom Python DataSource exactly like any DataFrame source — the feed
    generates executor-side, actions route, generations publish, and
    counts reconcile per index."""
    from prefect_flow_arc_indexer_spark.pipeline.runner import full_sync
    from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink

    register_cdc_feed(spark)
    docs = (
        spark.read.format("cdc_feed")
        .option("rows", 300)
        .option("partitions", 4)
        .load()
    )
    sink = VersionedSink(str(tmp_path / "sink"))
    report = full_sync(spark, docs, sink)
    # every generated index publishes, counts reconcile, nothing rolls back
    assert sorted(report.indexes) == ["alpha", "beta", "gamma"]
    assert all(report.reconcile_ok.values())
    assert not report.rolled_back
    live_total = sum(report.written.values())
    want = docs.where(~F.col("is_deleted")).count()
    assert live_total == want
    # published aliases read back the same live documents
    read_back = sum(
        sink.read_alias(spark, idx).count() for idx in report.indexes
    )
    assert read_back == want
