"""Structured Streaming jobs: CDC action stream via foreachBatch, watermarked
windows, custom stateful operator (SURVEY §2.6 / extension surface)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.streaming import jobs
from tests.test_pipeline import BASE_ROWS, _docs


def _write_cdc_file(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_doc_actions_two_phase_apply(spark, tmp_path):
    src = tmp_path / "cdc"
    src.mkdir()
    _write_cdc_file(
        src / "batch0.json",
        [
            {"index": "a", "id": "1", "document": '{"v":1}', "is_deleted": "false", "updated_at": "2024-01-01 00:00:00"},
            {"index": "a", "id": "2", "document": '{"v":2}', "is_deleted": "false", "updated_at": "2024-01-01 00:01:00"},
            # same id updated then deleted IN ONE batch: delete must win
            {"index": "a", "id": "1", "document": '{"v":9}', "is_deleted": "true", "updated_at": "2024-01-01 00:02:00"},
        ],
    )
    applied = []

    def apply_batch(actions, batch_id):
        applied.append(
            {r["_id"]: (r["_op_type"], r["_source"]) for r in actions.collect()}
        )

    cdc = jobs.read_cdc_stream(spark, str(src))
    q = jobs.stream_doc_actions(cdc, apply_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    merged = {}
    for batch in applied:
        merged.update(batch)
    assert merged["1"][0] == "delete" and merged["1"][1] is None
    assert merged["2"] == ("index", '{"v":2}')


def test_stream_hourly_counts_matches_batch(spark, tmp_path):
    """availableNow stream over the real events table == batch answer."""
    from prefect_flow_arc_indexer_spark.operators.sessionize import (
        q_events_hourly,
    )
    from prefect_flow_arc_indexer_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    # stage events as a stream source (microsecond timestamps preserved)
    staged = str(tmp_path / "events_stream")
    load_table(spark, sf, "events").write.parquet(staged)
    stream = spark.readStream.schema(
        load_table(spark, sf, "events").schema
    ).parquet(staged)
    out_dir = str(tmp_path / "out")
    q = (
        jobs.stream_hourly_counts(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.event_type, r.hour_start, r.n_events, r.total_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = (
        q_events_hourly(spark, sf)
        .withColumn("hour_start", F.timestamp_micros("hour_start_us"))
        .select("event_type", "hour_start", "n_events", "total_value")
        .collect()
    )
    max_ts = load_table(spark, sf, "events").agg(F.max("ts")).first()[0]
    # append mode only emits windows the watermark has closed: window end
    # (start + 1h) must be <= max event time - 2h. The tail windows are
    # correctly withheld — that IS the late-data contract.
    from datetime import timedelta

    want_closed = {
        (r.event_type, r.hour_start, r.n_events, r.total_value)
        for r in batch
        if r.hour_start + timedelta(hours=3) <= max_ts
    }
    assert want_closed <= got  # every closed window emitted, values exact
    all_batch = {
        (r.event_type, r.hour_start, r.n_events, r.total_value) for r in batch
    }
    assert got <= all_batch  # nothing emitted that batch doesn't have
    assert len(all_batch) - len(got) < 20  # only the watermark tail withheld


def test_stream_user_running_totals_state_survives_batches(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    _write_cdc_file(
        src / "b0.json",
        [
            {"user_id": 1, "value": 10.0, "ts": "2024-01-01 00:00:00"},
            {"user_id": 1, "value": 5.0, "ts": "2024-01-01 00:01:00"},
            {"user_id": 2, "value": 1.0, "ts": "2024-01-01 00:02:00"},
        ],
    )
    _write_cdc_file(
        src / "b1.json",
        [{"user_id": 1, "value": 2.5, "ts": "2024-01-01 01:00:00"}],
    )
    schema = "user_id long, value double, ts string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("user_id", "value", F.col("ts").cast("timestamp").alias("ts"))
    )
    results = []

    def capture(batch, batch_id):
        results.extend(
            (r.user_id, r.n_events, r.total_value) for r in batch.collect()
        )

    q = (
        jobs.stream_user_running_totals(stream)
        .writeStream.foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # final state for user 1 must accumulate across micro-batches
    finals = {}
    for uid, n, total in results:
        finals[uid] = (n, total)
    assert finals[1] == (3, 17.5)
    assert finals[2] == (1, 1.0)


def test_stream_user_sessions_subset_of_batch(spark, tmp_path):
    """Streaming session windows (append mode) emit only sessions sealed by
    the watermark; every emitted session must exist in the batch answer."""
    from prefect_flow_arc_indexer_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    staged = str(tmp_path / "events_sessions")
    ev = load_table(spark, sf, "events").select("user_id", "ts", "value")
    ev.write.parquet(staged)
    stream = spark.readStream.schema(ev.schema).parquet(staged)
    out = (
        jobs.stream_user_sessions(stream)
        .writeStream.format("memory")
        .queryName("user_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    out.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM user_sessions").collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in (
            ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        ).collect()
    }
    assert got, "stream emitted no sealed sessions"
    assert got <= batch


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """The same event_ids delivered again in a later micro-batch (the
    reference's inclusive->= watermark re-delivery) must come out once."""
    src = tmp_path / "dup_ev"
    src.mkdir()
    rows = [
        {"event_id": 1, "user_id": 1, "value": 1.0, "ts": "2024-01-01 00:00:00"},
        {"event_id": 2, "user_id": 1, "value": 2.0, "ts": "2024-01-01 00:05:00"},
        {"event_id": 3, "user_id": 2, "value": 3.0, "ts": "2024-01-01 00:10:00"},
    ]
    _write_cdc_file(src / "b0.json", rows)
    # re-delivery: same ids again, plus one genuinely new event
    _write_cdc_file(
        src / "b1.json",
        rows
        + [
            {
                "event_id": 4,
                "user_id": 2,
                "value": 4.0,
                "ts": "2024-01-01 00:20:00",
            }
        ],
    )
    schema = "event_id long, user_id long, value double, ts string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select(
            "event_id",
            "user_id",
            "value",
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    q = (
        jobs.stream_dedup_events(stream)
        .writeStream.format("memory")
        .queryName("dedup_events")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_events").collect()]
    assert sorted(got) == [1, 2, 3, 4]  # each id exactly once


def test_stream_enrich_with_dim_broadcast(spark, tmp_path):
    """Stream-static join: every stream row picks up its dim attributes;
    unmatched users keep NULL (left join)."""
    src = tmp_path / "enrich_src"
    src.mkdir()
    _write_cdc_file(
        src / "b0.json",
        [
            {"user_id": 1, "event_id": 10, "ts": "2024-01-01 00:00:00"},
            {"user_id": 2, "event_id": 11, "ts": "2024-01-01 00:01:00"},
            {"user_id": 99, "event_id": 12, "ts": "2024-01-01 00:02:00"},
        ],
    )
    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .json(str(src))
    )
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, segment string"
    )
    out = []

    q = (
        jobs.stream_enrich_with_dim(stream, dim)
        .writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["event_id"]: r["segment"] for r in out}
    assert got == {10: "gold", 11: "silver", 12: None}


def test_stream_stream_join_time_range(spark, tmp_path):
    """Stream-stream join: purchases pair only with same-user clicks within
    the preceding hour; out-of-range and cross-user pairs never emit."""
    c_src, p_src = tmp_path / "clicks", tmp_path / "purch"
    c_src.mkdir(), p_src.mkdir()
    _write_cdc_file(
        c_src / "b0.json",
        [
            {"user_id": 1, "event_id": 100, "ts": "2024-01-01 10:00:00"},
            {"user_id": 1, "event_id": 101, "ts": "2024-01-01 08:00:00"},  # stale
            {"user_id": 2, "event_id": 102, "ts": "2024-01-01 10:05:00"},
        ],
    )
    _write_cdc_file(
        p_src / "b0.json",
        [
            {"user_id": 1, "event_id": 200, "ts": "2024-01-01 10:30:00", "value": 42.0},
            {"user_id": 3, "event_id": 201, "ts": "2024-01-01 10:31:00", "value": 7.0},
        ],
    )
    schema = "user_id long, event_id long, ts timestamp, value double"
    clicks = spark.readStream.schema(schema).json(str(c_src))
    purchases = spark.readStream.schema(schema).json(str(p_src))
    out = []
    q = (
        jobs.stream_click_to_purchase(clicks, purchases)
        .writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    pairs = {(r["click_id"], r["purchase_id"]) for r in out}
    # click 100 (10:00) is within an hour of purchase 200 (10:30);
    # click 101 (08:00) aged out; user-2 click and user-3 purchase unmatched
    assert pairs == {(100, 200)}


def test_stream_session_flush_event_time_timeout(spark, tmp_path):
    """Event-time timeout closes an idle user's session exactly once when
    the watermark (driven by OTHER users' later events) passes
    last_event + gap; active users stay open (no emission)."""
    src = tmp_path / "flush_src"
    src.mkdir()
    # batch 0: user 1 has two events early; user 2 appears much later,
    # dragging the watermark far past user 1's last event + 30min gap
    _write_cdc_file(
        src / "b0.json",
        [
            {"user_id": 1, "value": 10.0, "ts": "2024-01-01 00:00:00"},
            {"user_id": 1, "value": 5.0, "ts": "2024-01-01 00:10:00"},
        ],
    )
    _write_cdc_file(
        src / "b1.json",
        [
            {"user_id": 2, "value": 1.0, "ts": "2024-01-01 06:00:00"},
        ],
    )
    # timeouts fire in the micro-batch AFTER the one that advanced the
    # watermark — a third batch carries the trigger
    _write_cdc_file(
        src / "b2.json",
        [
            {"user_id": 2, "value": 2.0, "ts": "2024-01-01 06:30:00"},
        ],
    )
    # the file source orders batches by MODIFICATION TIME, not name — all
    # three files share a writing second, so stagger mtimes or user 1's
    # early events can arrive after the watermark and be dropped as late
    import os as _os
    import time as _time

    base = _time.time() - 300
    for i, name in enumerate(["b0.json", "b1.json", "b2.json"]):
        _os.utime(src / name, (base + i * 100, base + i * 100))
    stream = (
        spark.readStream.schema("user_id long, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = []
    q = (
        jobs.stream_session_flush(stream)
        .writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_flush"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    closed = {r["user_id"]: r for r in out}
    assert 1 in closed, f"user 1's idle session must flush; got {out}"
    r = closed[1]
    assert r["n_events"] == 2 and r["total_value"] == 15.0
    assert r["closed_by_timeout"] == "yes"
    # user 2's session is still open: watermark never passed its last+gap
    assert 2 not in closed


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas speaks a protobuf state-server "
    "protocol; this container ships no google.protobuf (the job itself is "
    "the forward-looking surface and is exercised wherever protobuf "
    "exists)",
)
def test_stream_user_profile_transform_with_state(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: ValueState totals + MapState
    per-type counts survive across micro-batches (RocksDB state store)."""
    src = tmp_path / "tws_src"
    src.mkdir()
    _write_cdc_file(
        src / "b0.json",
        [
            {"user_id": 1, "event_type": "click", "value": 10.0, "ts": "2024-01-01 00:00:00"},
            {"user_id": 1, "event_type": "view", "value": 5.0, "ts": "2024-01-01 00:01:00"},
        ],
    )
    _write_cdc_file(
        src / "b1.json",
        [
            {"user_id": 1, "event_type": "click", "value": 1.0, "ts": "2024-01-01 00:02:00"},
        ],
    )
    import os as _os
    import time as _time

    base = _time.time() - 300
    for i, name in enumerate(["b0.json", "b1.json"]):
        _os.utime(src / name, (base + i * 100, base + i * 100))

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(
                "user_id long, event_type string, value double, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        out = []
        q = (
            jobs.stream_user_profile_tws(stream)
            .writeStream.foreachBatch(lambda b, i: out.append((i, b.collect())))
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
    finally:
        if prior:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = {i: {r["user_id"]: r for r in batch} for i, batch in out if batch}
    first = rows[0][1]
    assert (first["n_events"], first["total_value"], first["n_event_types"]) == (2, 15.0, 2)
    last = rows[max(rows)][1]
    assert (last["n_events"], last["total_value"], last["n_event_types"]) == (3, 16.0, 2)


def test_stream_stream_outer_join_flushes_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: unconverted clicks emit with null
    purchase columns once the watermark passes their expiry (state
    eviction), converted clicks pair exactly as the inner join."""
    c_src, p_src = tmp_path / "clicks_o", tmp_path / "purch_o"
    c_src.mkdir(), p_src.mkdir()
    _write_cdc_file(
        c_src / "b0.json",
        [
            {"user_id": 1, "event_id": 100, "ts": "2024-01-01 10:00:00"},
            {"user_id": 2, "event_id": 101, "ts": "2024-01-01 10:05:00"},  # never converts
        ],
    )
    _write_cdc_file(
        p_src / "b0.json",
        [{"user_id": 1, "event_id": 200, "ts": "2024-01-01 10:30:00"}],
    )
    # batch 2: far-future events on BOTH streams advance the combined
    # watermark past every batch-1 expiry, forcing the unmatched flush
    _write_cdc_file(
        c_src / "b1.json",
        [{"user_id": 9, "event_id": 199, "ts": "2024-01-01 20:00:00"}],
    )
    _write_cdc_file(
        p_src / "b1.json",
        [{"user_id": 9, "event_id": 299, "ts": "2024-01-01 20:00:00"}],
    )
    schema = "user_id long, event_id long, ts timestamp"
    clicks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(c_src))
    )
    purchases = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(p_src))
    )
    out = []
    q = (
        jobs.stream_click_purchase_outer(clicks, purchases)
        .writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_oj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    pairs = sorted((r["click_id"], r["purchase_id"]) for r in out)
    assert pairs == [(100, 200), (101, None), (199, 299)]


def test_stream_hopping_counts_matches_batch(spark, tmp_path):
    """availableNow hopping-window stream == the batch q_hopping_window on
    every window the watermark has closed; each event updates 4 panes."""
    from prefect_flow_arc_indexer_spark.operators.sessionize import (
        q_hopping_window,
    )
    from prefect_flow_arc_indexer_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    staged = str(tmp_path / "events_stream_hop")
    load_table(spark, sf, "events").write.parquet(staged)
    stream = spark.readStream.schema(
        load_table(spark, sf, "events").schema
    ).parquet(staged)
    out_dir = str(tmp_path / "out_hop")
    q = (
        jobs.stream_hopping_counts(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_hop"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.event_type, r.win_start, r.n_events, r.total_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = (
        q_hopping_window(spark, sf)
        .withColumn("win_start", F.timestamp_micros("win_start_us"))
        .select("event_type", "win_start", "n_events", "total_value")
        .collect()
    )
    all_batch = {
        (r.event_type, r.win_start, r.n_events, r.total_value) for r in batch
    }
    max_ts = load_table(spark, sf, "events").agg(F.max("ts")).first()[0]
    from datetime import timedelta

    want_closed = {
        t
        for t in all_batch
        # pane end = start + 1h; emitted once watermark (max_ts - 2h) passes
        if t[1] + timedelta(hours=3) <= max_ts
    }
    assert want_closed <= got
    assert got <= all_batch


def test_stream_quality_router_partitions_feed(spark, tmp_path):
    import json as _json

    src = tmp_path / "docs"
    src.mkdir()
    rows0 = [
        {"doc_id": 1, "text": "one two three four five six", "source": "a"},
        {"doc_id": 2, "text": "tiny", "source": "a"},
    ]
    rows1 = [
        {"doc_id": 3, "text": None, "source": "b"},
        {"doc_id": 4, "text": " ".join(["w"] * 300), "source": "b"},
        {"doc_id": 5, "text": "alpha beta gamma delta epsilon zeta", "source": "b"},
    ]
    for i, rows in enumerate((rows0, rows1)):
        (src / f"b{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )
    keep_dir, rej_dir = str(tmp_path / "keep"), str(tmp_path / "rej")
    q = jobs.stream_quality_router(
        jobs.read_doc_stream(spark, str(src)),
        keep_dir,
        rej_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.read.parquet(keep_dir).collect()}
    rejected = {
        r["doc_id"]: r["failed_rule"]
        for r in spark.read.parquet(rej_dir).collect()
    }
    assert kept == {1, 5}
    assert rejected == {2: "too_short", 3: "null_text", 4: "too_long"}
    # parity with the batch-side verdict on the same rows
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in rows0 + rows1],
        "doc_id long, text string, source string",
    )
    judged = jobs.quality_verdict(batch).collect()
    assert {r["doc_id"] for r in judged if r["keep"]} == kept


def test_stream_dedup_exact_drops_content_identical_docs(spark, tmp_path):
    """Content-identical documents (different ids, same payload) arriving
    within the watermark horizon come out once; distinct payloads all
    survive. This is the ingest-side twin of q_dedup_exact's hash-groupBy
    (id-based re-delivery dedup is stream_dedup_events; this keys on
    sha2(document))."""
    src = tmp_path / "dup_docs"
    src.mkdir()
    mk = lambda i, doc, ts: {  # noqa: E731
        "index": "idx", "id": str(i), "document": doc,
        "is_deleted": "false", "updated_at": ts,
    }
    _write_cdc_file(
        src / "b0.json",
        [
            mk(1, '{"v": 1}', "2024-01-01 00:00:00"),
            mk(2, '{"v": 1}', "2024-01-01 00:05:00"),  # same content as 1
            mk(3, '{"v": 3}', "2024-01-01 00:10:00"),
        ],
    )
    _write_cdc_file(
        src / "b1.json",
        [
            mk(4, '{"v": 1}', "2024-01-01 00:20:00"),  # replay within horizon
            mk(5, '{"v": 5}', "2024-01-01 00:25:00"),  # genuinely new
        ],
    )
    cdc = jobs.read_cdc_stream(spark, str(src))
    q = (
        jobs.stream_dedup_exact(cdc)
        .writeStream.format("memory")
        .queryName("dedup_docs")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup_docs"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    docs = sorted(
        r.document for r in spark.sql("SELECT document FROM dedup_docs").collect()
    )
    assert docs == ['{"v": 1}', '{"v": 3}', '{"v": 5}']


def test_stream_incremental_sink_matches_batch_merge(spark, tmp_path):
    """E2 as a stream: CDC files drained through stream_incremental_sink
    must leave the versioned sink in exactly the state the BATCH
    incremental driver produces from the same rows — upserts applied,
    tombstones propagated, later batches overriding earlier ones."""
    from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink

    src = tmp_path / "cdc_inc"
    src.mkdir()
    mk = lambda idx, i, doc, deleted, ts: {  # noqa: E731
        "index": idx, "id": str(i), "document": doc,
        "is_deleted": "true" if deleted else "false", "updated_at": ts,
    }
    _write_cdc_file(
        src / "b0.json",
        [
            mk("alpha", 1, '{"v": 1}', False, "2024-01-01 00:00:00"),
            mk("alpha", 2, '{"v": 2}', False, "2024-01-01 00:01:00"),
            mk("beta", 10, '{"v": 10}', False, "2024-01-01 00:02:00"),
        ],
    )
    _write_cdc_file(
        src / "b1.json",
        [
            mk("alpha", 2, '{"v": 22}', False, "2024-01-02 00:00:00"),
            mk("alpha", 1, "{}", True, "2024-01-02 00:01:00"),  # tombstone
            mk("alpha", 3, '{"v": 3}', False, "2024-01-02 00:02:00"),
        ],
    )
    # the file source orders same-mtime files arbitrarily; the CDC contract
    # is watermark-ordered delivery (as in the reference), so pin mtimes
    import os as _os

    _os.utime(src / "b0.json", (1_700_000_000, 1_700_000_000))
    _os.utime(src / "b1.json", (1_700_000_100, 1_700_000_100))
    sink = VersionedSink(str(tmp_path / "stream_sink"))
    q = jobs.stream_incremental_sink(
        jobs.read_cdc_stream(spark, str(src)),
        spark,
        sink,
        str(tmp_path / "ckpt_inc_sink"),
    )
    q.awaitTermination(180)

    alpha = {
        r.id: r.document for r in sink.read_alias(spark, "alpha").collect()
    }
    assert alpha == {"2": '{"v": 22}', "3": '{"v": 3}'}  # 1 tombstoned
    beta = {r.id: r.document for r in sink.read_alias(spark, "beta").collect()}
    assert beta == {"10": '{"v": 10}'}
    # one live generation per alias; every published dir is complete
    manifest = sink.read_manifest()
    assert set(manifest) == {"alpha", "beta"}


def test_stream_doc_actions_with_es_stream_sink_carries_chunk(spark, tmp_path):
    """Task-7 wiring proved end-to-end: the CDC stream drives EsStreamSink
    through foreachBatch; an injected timeout in micro-batch 0 shrinks the
    bulk chunk and micro-batch 1 STARTS at the carried-over size; a
    checkpoint restart re-applies nothing until new files arrive."""
    import os as _os

    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        EsStreamSink,
    )

    src = tmp_path / "cdc_es"
    src.mkdir()
    mk = lambda i, ts: {  # noqa: E731
        "index": "a", "id": str(i), "document": '{"v":%d}' % i,
        "is_deleted": "false", "updated_at": ts,
    }
    _write_cdc_file(src / "b0.json", [mk(1, "2024-01-01 00:00:00")])
    _write_cdc_file(src / "b1.json", [mk(2, "2024-01-02 00:00:00")])
    _os.utime(src / "b0.json", (1_700_000_000, 1_700_000_000))
    _os.utime(src / "b1.json", (1_700_000_100, 1_700_000_100))

    seen: list[tuple[str, int, int]] = []  # (ids, chunk at write time)
    fail_once = {"armed": True}

    def flaky_write(df, cfg):
        ids = ",".join(sorted(r["_id"] for r in df.collect()))
        seen.append((ids, cfg.batch_entries, 0))
        if fail_once["armed"]:
            fail_once["armed"] = False
            raise TimeoutError("injected es.http.timeout")

    es = EsStreamSink(
        EsSinkConfig(nodes="example:9200", batch_entries=500),
        write=flaky_write,
        write_delete=lambda df, cfg: None,
        sleep=lambda s: None,
    )
    ckpt = str(tmp_path / "ckpt_es")
    q = jobs.stream_doc_actions(jobs.read_cdc_stream(spark, str(src)), es, ckpt)
    q.awaitTermination(180)

    # batch 0: attempt at 500 (timeout) then 450; batch 1 starts at 450
    assert [(ids, c) for ids, c, _ in seen] == [
        ("1", 500), ("1", 450), ("2", 450)
    ]
    assert es.cfg.batch_entries == 450
    assert len(es.batches) == 2

    # restart from the same checkpoint: nothing re-applied...
    q2 = jobs.stream_doc_actions(jobs.read_cdc_stream(spark, str(src)), es, ckpt)
    q2.awaitTermination(180)
    assert len(seen) == 3
    # ...until a NEW file arrives — applied at the carried-over chunk size
    _write_cdc_file(src / "b2.json", [mk(3, "2024-01-03 00:00:00")])
    _os.utime(src / "b2.json", (1_700_000_200, 1_700_000_200))
    q3 = jobs.stream_doc_actions(jobs.read_cdc_stream(spark, str(src)), es, ckpt)
    q3.awaitTermination(180)
    assert [(ids, c) for ids, c, _ in seen[3:]] == [("3", 450)]


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
