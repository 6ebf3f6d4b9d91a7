"""Bucketed generations (VERDICT r4 task 5): O(touched-buckets) merges —
layout roundtrip, hard-linked untouched buckets, replay idempotence,
bucket-preserving compaction, and the batch/streaming driver integration.
Plus the streaming EsStreamSink chunk-size carry-over (task 7)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.pipeline.bucketed import (
    bucket_count,
    merge_bucketed,
    write_generation_bucketed,
)
from prefect_flow_arc_indexer_spark.pipeline.runner import (
    full_sync,
    incremental_sync,
)
from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink
from prefect_flow_arc_indexer_spark.streaming.watermark import WatermarkStore

from tests.test_pipeline import BASE_ROWS, _docs

N_BUCKETS = 4


@pytest.fixture()
def sink(tmp_path):
    return VersionedSink(str(tmp_path / "bsink"))


def _live(spark, n=20):
    return spark.range(n).select(
        F.concat(F.lit("doc"), F.col("id")).alias("id"),
        F.concat(F.lit('{"v": '), F.col("id"), F.lit("}")).alias("document"),
    )


def _bucket_files(sink, gen):
    """{bucket dir name: {file: inode}} for a generation."""
    path = sink.generation_path(gen)
    out = {}
    for d in os.listdir(path):
        if d.startswith("bucket="):
            full = os.path.join(path, d)
            out[d] = {
                f: os.stat(os.path.join(full, f)).st_ino
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
    return out


def test_bucketed_write_roundtrip(spark, sink):
    gen = write_generation_bucketed(
        sink, _live(spark), "alpha", "2024-01-01t00.00.00", N_BUCKETS
    )
    sink.publish("alpha", gen)
    assert bucket_count(sink, gen) == N_BUCKETS
    back = sink.read_alias(spark, "alpha")
    assert back.columns == ["id", "document"]  # bucket col hidden
    assert back.count() == 20
    assert len(_bucket_files(sink, gen)) <= N_BUCKETS


def test_merge_rewrites_only_touched_buckets_and_links_rest(spark, sink):
    gen0 = write_generation_bucketed(
        sink, _live(spark), "alpha", "2024-01-01t00.00.00", N_BUCKETS
    )
    sink.publish("alpha", gen0)
    before = _bucket_files(sink, gen0)

    batch = spark.createDataFrame(
        [
            ("doc3", '{"v": 333}', False),  # upsert
            ("doc7", "{}", True),  # tombstone
        ],
        "id string, document string, is_deleted boolean",
    )
    touched = {
        f"bucket={r.b}"
        for r in batch.select(
            F.pmod(F.xxhash64("id"), F.lit(N_BUCKETS)).cast("int").alias("b")
        ).collect()
    }
    gen1 = merge_bucketed(spark, sink, "alpha", batch, "2024-01-02t00.00.00")
    after = _bucket_files(sink, gen1)

    untouched = set(before) - touched
    assert untouched, "fixture should leave some buckets untouched"
    for d in untouched:
        assert after[d] == before[d], "untouched bucket must be hard-linked"
    for d in touched & set(after):
        assert not (set(after[d].values()) & set(before.get(d, {}).values()))

    sink.publish("alpha", gen1)  # drops gen0; links keep untouched data live
    live = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert live["doc3"] == '{"v": 333}'
    assert "doc7" not in live
    assert len(live) == 19


def test_merge_replay_is_idempotent(spark, sink):
    gen0 = write_generation_bucketed(
        sink, _live(spark), "alpha", "2024-01-01t00.00.00", N_BUCKETS
    )
    sink.publish("alpha", gen0)
    batch = spark.createDataFrame(
        [("doc3", '{"v": 9}', False), ("doc5", "{}", True)],
        "id string, document string, is_deleted boolean",
    )
    gen1 = merge_bucketed(spark, sink, "alpha", batch, "2024-01-02t00.00.00")
    sink.publish("alpha", gen1, drop_old=False)
    first = sorted(
        (r.id, r.document)
        for r in sink.read_alias(spark, "alpha").collect()
    )
    # replay the SAME batch against the same published state
    sink.publish("alpha", gen0, drop_old=False)
    gen2 = merge_bucketed(spark, sink, "alpha", batch, "2024-01-03t00.00.00")
    sink.publish("alpha", gen2, drop_old=False)
    second = sorted(
        (r.id, r.document)
        for r in sink.read_alias(spark, "alpha").collect()
    )
    assert first == second


def test_compact_preserves_bucket_layout(spark, sink):
    from prefect_flow_arc_indexer_spark.pipeline.bucketed import (
        _write_marker,
        bucket_of,
    )

    # hand-build a FRAGMENTED bucketed generation (every task writes into
    # every bucket — the small-file state a busy merge stream accumulates;
    # write_generation_bucketed itself pre-shuffles, so bypass it here)
    gen0 = sink.generation_name("alpha", "2024-01-01t00.00.00")
    path = sink.generation_path(gen0)
    (
        _live(spark, 40)
        .withColumn("bucket", bucket_of(F.col("id"), N_BUCKETS))
        .repartition(8)
        .write.partitionBy("bucket")
        .parquet(path)
    )
    _write_marker(path, N_BUCKETS)
    sink.publish("alpha", gen0)
    n_files_before = sum(len(v) for v in _bucket_files(sink, gen0).values())

    gen1 = sink.compact(spark, "alpha", now=datetime(2024, 1, 2))
    assert bucket_count(sink, gen1) == N_BUCKETS  # marker carried over
    files = _bucket_files(sink, gen1)
    assert set(files)  # still bucket dirs
    assert all(len(v) == 1 for v in files.values())  # 1 file per bucket
    assert sum(len(v) for v in files.values()) < n_files_before
    assert sink.read_alias(spark, "alpha").count() == 40


def test_incremental_sync_uses_bucketed_merge(spark, tmp_path):
    sink = VersionedSink(str(tmp_path / "sync_sink"))
    docs0 = _docs(spark, BASE_ROWS)
    full_sync(spark, docs0, sink, now=datetime(2024, 2, 1), bucketed=True)
    gen0 = sink.read_manifest()["alpha"]
    assert bucket_count(sink, gen0) is not None
    before = _bucket_files(sink, gen0)

    rows = BASE_ROWS + [
        ("alpha", "4", '{"v": 4}', False, "2024-03-01 00:00:00"),
    ]
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 2, 15))
    report = incremental_sync(
        spark, _docs(spark, rows), sink, wm, now=datetime(2024, 3, 2)
    )
    assert report.written["alpha"] == 1
    gen1 = sink.read_manifest()["alpha"]
    assert bucket_count(sink, gen1) is not None  # layout survives the merge
    after = _bucket_files(sink, gen1)
    # at least one untouched bucket rode through as a hard link
    linked = [
        d for d in before
        if d in after and after[d] == before[d]
    ]
    assert linked
    live = {r.id for r in sink.read_alias(spark, "alpha").collect()}
    assert live == {"1", "2", "4"}


def test_stream_incremental_sink_seeds_and_merges_bucketed(spark, tmp_path):
    import json

    from prefect_flow_arc_indexer_spark.streaming import jobs

    src = tmp_path / "cdc"
    src.mkdir()

    def write_cdc(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    mk = lambda i, doc, deleted, ts: {  # noqa: E731
        "index": "alpha", "id": str(i), "document": doc,
        "is_deleted": "true" if deleted else "false", "updated_at": ts,
    }
    write_cdc(
        "b0.json",
        [mk(i, '{"v": %d}' % i, False, "2024-01-01 00:00:00") for i in range(12)],
        1_700_000_000,
    )
    write_cdc(
        "b1.json",
        [
            mk(3, '{"v": 33}', False, "2024-01-02 00:00:00"),
            mk(5, "{}", True, "2024-01-02 00:01:00"),
        ],
        1_700_000_100,
    )
    sink = VersionedSink(str(tmp_path / "stream_sink"))
    q = jobs.stream_incremental_sink(
        jobs.read_cdc_stream(spark, str(src)),
        spark,
        sink,
        str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS,
    )
    q.awaitTermination(180)
    gen = sink.read_manifest()["alpha"]
    assert bucket_count(sink, gen) == N_BUCKETS
    live = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert live["3"] == '{"v": 33}'
    assert "5" not in live
    assert len(live) == 11


def test_es_stream_sink_carries_shrunken_chunk_across_batches(spark):
    """T6 on the streaming path: a timeout in batch 0 shrinks the chunk
    size, and batch 1 STARTS at the reduced size."""
    from prefect_flow_arc_indexer_spark.operators.actions import doc_actions
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        EsStreamSink,
    )

    seen: list[int] = []
    fail_once = {"armed": True}

    def flaky_write(df, cfg):
        seen.append(cfg.batch_entries)
        if fail_once["armed"]:
            fail_once["armed"] = False
            raise TimeoutError("injected es.http.timeout")

    es = EsStreamSink(
        EsSinkConfig(nodes="example:9200", batch_entries=500),
        write=flaky_write,
        write_delete=lambda df, cfg: None,
        sleep=lambda s: None,
    )
    batch = doc_actions(
        _docs(spark, BASE_ROWS).where(F.col("index") == "alpha"),
        timestamp=None,
    )
    es(batch, 0)
    assert seen == [500, 450]  # injected timeout -> one -50 shrink
    es(batch, 1)
    assert seen[-1] == 450  # batch 1 starts at the carried-over size
    assert es.cfg.batch_entries == 450
    assert len(es.batches) == 2


def test_merge_crash_before_publish_leaves_published_gen_intact(spark, sink):
    """Crash-recovery (VERDICT r5 task 7): a merge that dies BETWEEN bucket
    links and the manifest flip must leave the published generation fully
    readable, and rollback must drop ONLY the partial generation — the
    hard-linked files in the old generation survive the rmtree."""
    import prefect_flow_arc_indexer_spark.pipeline.bucketed as bucketed_mod

    gen0 = write_generation_bucketed(
        sink, _live(spark), "alpha", "2024-01-01t00.00.00", N_BUCKETS
    )
    sink.publish("alpha", gen0)
    before = _bucket_files(sink, gen0)
    batch = spark.createDataFrame(
        [("doc0", '{"v": 100}', False)], "id string, document string, is_deleted boolean"
    )

    # die after the FIRST untouched-bucket link: a partially-built new gen
    calls = {"n": 0}
    orig_link = bucketed_mod._link_bucket

    def dying_link(src, dst):
        orig_link(src, dst)
        calls["n"] += 1
        raise RuntimeError("simulated crash mid-merge")

    bucketed_mod._link_bucket, saved = dying_link, bucketed_mod._link_bucket
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            merge_bucketed(spark, sink, "alpha", batch, "2024-01-02t00.00.00")
    finally:
        bucketed_mod._link_bucket = saved
    assert calls["n"] == 1

    # the manifest never flipped; the published generation still reads whole
    assert sink.read_manifest()["alpha"] == gen0
    assert sink.read_alias(spark, "alpha").count() == 20

    # rollback: dropping the partial generation touches only its own dir...
    partial = sink.generation_name("alpha", "2024-01-02t00.00.00")
    assert os.path.isdir(sink.generation_path(partial))
    sink.drop_generation(partial)
    assert not os.path.isdir(sink.generation_path(partial))
    # ...and the old generation's files (hard-link sources) are untouched
    assert _bucket_files(sink, gen0) == before
    assert sink.read_alias(spark, "alpha").count() == 20

    # a clean re-run of the same merge then succeeds and publishes
    gen2 = merge_bucketed(spark, sink, "alpha", batch, "2024-01-03t00.00.00")
    sink.publish("alpha", gen2)
    rows = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert rows["doc0"] == '{"v": 100}' and len(rows) == 20


def test_time_travel_survives_retention_over_bucketed_merges(spark, tmp_path):
    """Time-travel x bucketed-layout interaction (VERDICT r6 task 7): a
    retention + merge sequence must keep as-of reads resolving for every
    SURVIVING generation. The sharp edge is the hard-link optimization:
    a merged generation's untouched buckets are links into the PREVIOUS
    generation's files, so retain()'s rmtree of the old generation must
    not hollow out the newer ones (inodes survive the directory drop)."""
    sink = VersionedSink(str(tmp_path / "tsink"), keep_history=True)
    t1, t2, t3 = (
        "2024-01-01t00.00.00", "2024-01-02t00.00.00", "2024-01-03t00.00.00"
    )
    gen0 = write_generation_bucketed(sink, _live(spark), "alpha", t1, N_BUCKETS)
    sink.publish("alpha", gen0)

    def _batch(doc_id, v):
        return spark.createDataFrame(
            [(doc_id, '{"v": %d}' % v, False)],
            "id string, document string, is_deleted boolean",
        )

    gen1 = merge_bucketed(spark, sink, "alpha", _batch("doc0", 100), t2)
    sink.publish("alpha", gen1)
    gen2 = merge_bucketed(spark, sink, "alpha", _batch("doc1", 200), t3)
    sink.publish("alpha", gen2)
    assert sink.generations_of("alpha") == [gen0, gen1, gen2]

    # as-of reads resolve each generation; the bucket column stays hidden
    as_of_t2 = sink.read_as_of(spark, "alpha", t2)
    assert "bucket" not in as_of_t2.columns
    rows_t2 = {r.id: r.document for r in as_of_t2.collect()}
    assert rows_t2["doc0"] == '{"v": 100}' and rows_t2["doc1"] == '{"v": 1}'

    # retention drops gen0 (the hard-link SOURCE of gen1/gen2's untouched
    # buckets)...
    assert sink.retain("alpha", keep=2) == [gen0]
    assert sink.generations_of("alpha") == [gen1, gen2]

    # ...and the surviving generations still read WHOLE: their linked
    # bucket files kept the inodes alive through gen0's rmtree
    rows_t2 = {
        r.id: r.document
        for r in sink.read_as_of(spark, "alpha", t2).collect()
    }
    assert len(rows_t2) == 20 and rows_t2["doc0"] == '{"v": 100}'
    rows_now = {
        r.id: r.document
        for r in sink.read_as_of(spark, "alpha", t3).collect()
    }
    assert rows_now["doc1"] == '{"v": 200}'
    assert sink.read_alias(spark, "alpha").count() == 20

    # pre-history as-of is an explicit KeyError, not a silent wrong answer
    with pytest.raises(KeyError, match="retention"):
        sink.read_as_of(spark, "alpha", t1)

    # merging ON TOP of a retained history still works: the published
    # generation is the merge base regardless of what retention dropped
    gen3 = merge_bucketed(
        spark, sink, "alpha", _batch("doc2", 300), "2024-01-04t00.00.00"
    )
    sink.publish("alpha", gen3)
    rows = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert rows["doc2"] == '{"v": 300}' and len(rows) == 20
    # published generation is always kept, even when older than the cut
    assert sink.retain("alpha", keep=1) == [gen1, gen2]
    assert sink.read_alias(spark, "alpha").count() == 20
