"""Pipeline semantics: versioned sink, atomic publish, rollback, orphan
cleanup, full/incremental sync, watermark round trip (SURVEY §2.6/§2.7)."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.pipeline.runner import (
    SyncReport,
    full_sync,
    incremental_sync,
)
from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink
from prefect_flow_arc_indexer_spark.streaming.watermark import WatermarkStore

DOCS_SCHEMA = (
    "`index` string, id string, document string, is_deleted boolean, "
    "updated_at string"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA).withColumn(
        "updated_at", F.col("updated_at").cast("timestamp")
    )


BASE_ROWS = [
    ("alpha", "1", '{"v": 1}', False, "2024-01-01 00:00:00"),
    ("alpha", "2", '{"v": 2}', False, "2024-01-02 00:00:00"),
    ("alpha", "3", '{"v": 3}', True, "2024-01-03 00:00:00"),
    ("beta", "10", '{"v": 10}', False, "2024-01-01 12:00:00"),
]


@pytest.fixture()
def sink(tmp_path):
    return VersionedSink(str(tmp_path / "sink"))


def test_full_sync_excludes_tombstones_and_publishes(spark, sink):
    report = full_sync(
        spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1)
    )
    # smallest-first ordering: beta(1) before alpha(2 live + 1 tombstone)
    assert report.indexes == ["beta", "alpha"]
    assert report.written == {"beta": 1, "alpha": 2}
    assert report.reconcile_ok == {"alpha": True, "beta": True}
    alpha = sink.read_alias(spark, "alpha")
    assert {r.id for r in alpha.collect()} == {"1", "2"}


def test_publish_is_atomic_manifest_swap(spark, sink, tmp_path):
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1))
    manifest = sink.read_manifest()
    assert manifest["alpha"] == "alpha_2024-02-01t00.00.00"
    # no temp files left behind by the atomic replace
    leftovers = [f for f in os.listdir(sink.base_dir) if f.endswith(".tmp")]
    assert leftovers == []


def test_full_sync_replaces_old_generation(spark, sink):
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1))
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 2))
    gens = sink.list_generations()
    assert "alpha_2024-02-02t00.00.00" in gens
    assert "alpha_2024-02-01t00.00.00" not in gens  # old generation dropped


def test_or_ids_pins_and_lowercases(spark, sink):
    report = full_sync(
        spark,
        _docs(spark, BASE_ROWS),
        sink,
        or_ids=["ALPHA"],
        now=datetime(2024, 2, 1),
    )
    assert report.indexes == ["alpha"]
    assert not sink.alias_exists("beta")


def test_cleanup_orphans_spares_published(spark, sink):
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1))
    os.makedirs(os.path.join(sink.base_dir, "legacy_2023-01-01t00.00.00"))
    report = full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 2))
    assert report.dropped_orphans == ["legacy_2023-01-01t00.00.00"]
    assert sink.alias_exists("alpha")


def test_incremental_merge_upsert_and_delete(spark, sink, tmp_path):
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1))
    wm.set("default", datetime(2024, 1, 10))
    changed = BASE_ROWS + [
        ("alpha", "2", '{"v": 22}', False, "2024-01-15 00:00:00"),  # update
        ("alpha", "1", "{}", True, "2024-01-16 00:00:00"),  # tombstone
        ("alpha", "4", '{"v": 4}', False, "2024-01-17 00:00:00"),  # insert
    ]
    report = incremental_sync(
        spark,
        _docs(spark, changed),
        sink,
        wm,
        now=datetime(2024, 2, 2),
    )
    state = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert state == {"2": '{"v": 22}', "4": '{"v": 4}'}
    assert "beta" in report.skipped  # nothing past the watermark
    # the run's start is the watermark it earned; storing it is the
    # caller's last step, so the store still holds the one the run read
    assert report.watermark == datetime(2024, 2, 2)
    assert wm.get("default") == datetime(2024, 1, 10)


def test_incremental_watermark_is_inclusive(spark, sink, tmp_path):
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1))
    # watermark exactly at alpha/2's updated_at: row must re-deliver (T2)
    wm.set("default", datetime(2024, 1, 2))
    report = incremental_sync(
        spark, _docs(spark, BASE_ROWS), sink, wm, now=datetime(2024, 2, 2)
    )
    assert report.written["alpha"] >= 1


def test_incremental_requires_seeded_watermark(spark, sink, tmp_path):
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    with pytest.raises(ValueError, match="no watermark"):
        incremental_sync(spark, _docs(spark, BASE_ROWS), sink, wm)


def test_rollback_drops_partial_generation(spark, sink, monkeypatch):
    docs = _docs(spark, BASE_ROWS)
    original_publish = VersionedSink.publish
    calls = {"n": 0}

    def failing_publish(self, alias, generation, drop_old=True):
        calls["n"] += 1
        if calls["n"] == 2:  # fail on the second index (alpha)
            raise RuntimeError("simulated publish failure")
        return original_publish(self, alias, generation, drop_old)

    monkeypatch.setattr(VersionedSink, "publish", failing_publish)
    with pytest.raises(RuntimeError, match="simulated"):
        full_sync(spark, docs, sink, now=datetime(2024, 2, 1))
    monkeypatch.setattr(VersionedSink, "publish", original_publish)
    # beta (first, smallest) published; alpha's partial generation removed
    assert sink.alias_exists("beta")
    assert not sink.alias_exists("alpha")
    assert all("alpha" not in g for g in sink.list_generations())


def test_watermark_store_roundtrip(tmp_path):
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    assert wm.get("p") is None
    t = datetime(2024, 3, 1, 12, 30, 45, 123456)
    wm.set("p", t)
    assert wm.get("p") == t
    # file is valid JSON (atomic replace completed)
    assert json.load(open(tmp_path / "wm.json"))["p"].startswith("2024-03-01")


def test_traced_entry_points_keep_their_names():
    """``perfbench/sync.py:_wrap`` patches these functions and sink methods
    by name to trace the sync benchmark's layers; a rename would break only the traced run,
    so it fails here instead."""
    from prefect_flow_arc_indexer_spark.pipeline import es_sink, runner

    for name in ("write_upserts_rest", "write_deletes", "swap_alias",
                 "count_index"):
        assert callable(getattr(es_sink, name, None)), name
    for name in ("full_sync", "incremental_sync"):
        assert callable(getattr(runner, name, None)), name
    for name in ("write_generation", "publish"):
        assert callable(getattr(VersionedSink, name, None)), name


def test_es_sink_rest_delete_bulk_bodies(spark, tmp_path):
    """write_deletes ships NDJSON delete actions over the injectable bulk
    transport — executor-side, chunked by cfg.batch_entries, and never
    touches the upsert connector options. The fake transport persists each
    POST to disk because foreachPartition closures run in Python worker
    processes, not the driver."""
    import json as _json

    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        write_deletes,
    )

    cfg = EsSinkConfig(nodes="es:9200", id_column="_id", batch_entries=2)
    ids = [("idx_live", f"d{i}") for i in range(5)]
    df = spark.createDataFrame(ids, "_index string, _id string").coalesce(1)

    cap_dir = tmp_path / "bulk"
    cap_dir.mkdir()
    cap = str(cap_dir)

    def fake_post(url, body, timeout_s):
        import os
        import uuid

        with open(os.path.join(cap, uuid.uuid4().hex + ".json"), "w") as f:
            _json.dump(
                {"url": url, "body": body.decode(), "timeout": timeout_s}, f
            )
        return 200

    write_deletes(df, cfg, post=fake_post)
    posts = [
        _json.load(open(p)) for p in sorted(cap_dir.glob("*.json"))
    ]
    assert posts, "no bulk bodies shipped"
    assert all(p["url"] == "http://es:9200/_bulk" for p in posts)
    assert all(p["timeout"] == 30 for p in posts)
    lines = [
        _json.loads(line)
        for p in posts
        for line in p["body"].strip().split("\n")
    ]
    assert sorted(a["delete"]["_id"] for a in lines) == [
        "d0", "d1", "d2", "d3", "d4",
    ]
    assert all(a["delete"]["_index"] == "idx_live" for a in lines)
    # chunking respected: no body carries more than batch_entries actions
    assert max(len(p["body"].strip().split("\n")) for p in posts) <= 2


def test_schema_drift_forces_full_rebuild(spark, sink, tmp_path):
    """T7 (reference flows/main_flow.py:62-86,674-693): when the sink's
    stored schema_maintainer.schema_name diverges from the source's current
    value, the incremental path must fully rebuild that index — not merge —
    and flip the alias to the new generation."""
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    v1 = [
        ("alpha", "1", '{"schema_maintainer": {"schema_name": "Org A"}, "v": 1}',
         False, "2024-01-01 00:00:00"),
        ("alpha", "2", '{"schema_maintainer": {"schema_name": "Org A"}, "v": 2}',
         False, "2024-01-02 00:00:00"),
        ("alpha", "9", '{"schema_maintainer": {"schema_name": "Org A"}}',
         False, "2024-01-02 00:00:00"),
    ]
    full_sync(spark, _docs(spark, v1), sink, now=datetime(2024, 2, 1))
    wm.set("default", datetime(2024, 1, 10))
    # the org renamed: every doc now carries the new schema_name, but only
    # doc 2 is past the watermark — a plain merge would leave 1 and 9 stale
    v2 = [
        ("alpha", "1", '{"schema_maintainer": {"schema_name": "Org B"}, "v": 1}',
         False, "2024-01-01 00:00:00"),
        ("alpha", "2", '{"schema_maintainer": {"schema_name": "Org B"}, "v": 22}',
         False, "2024-01-15 00:00:00"),
        ("alpha", "9", '{"schema_maintainer": {"schema_name": "Org B"}}',
         False, "2024-01-02 00:00:00"),
    ]
    report = incremental_sync(
        spark, _docs(spark, v2), sink, wm, now=datetime(2024, 2, 2)
    )
    assert report.rebuilt == ["alpha"]
    state = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert len(state) == 3
    assert all('"Org B"' in doc for doc in state.values())  # no stale docs
    # alias points at the rebuilt generation, old generation dropped
    assert sink.read_manifest()["alpha"] == "alpha_2024-02-02t00.00.00"


def test_schema_stable_keeps_merge_path(spark, sink, tmp_path):
    """T7 negative: same schema_name on both sides -> normal CDC merge."""
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    rows = [
        ("alpha", "1", '{"schema_maintainer": {"schema_name": "Org A"}, "v": 1}',
         False, "2024-01-01 00:00:00"),
        ("alpha", "2", '{"schema_maintainer": {"schema_name": "Org A"}, "v": 2}',
         False, "2024-01-15 00:00:00"),
    ]
    full_sync(spark, _docs(spark, rows), sink, now=datetime(2024, 2, 1))
    wm.set("default", datetime(2024, 1, 10))
    report = incremental_sync(
        spark, _docs(spark, rows), sink, wm, now=datetime(2024, 2, 2)
    )
    assert report.rebuilt == []
    assert report.written == {"alpha": 1}


def test_flow_level_retries_then_success(spark, sink, monkeypatch):
    """X4 (reference flows/main_flow.py:722-723): a transient sink failure
    retries after the delay instead of aborting the run; the failed
    attempt's generation is rolled back before the retry."""
    calls = {"n": 0}
    slept = []
    original = VersionedSink.publish

    def flaky_publish(self, alias, generation, drop_old=True):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient sink failure")
        return original(self, alias, generation, drop_old)

    monkeypatch.setattr(VersionedSink, "publish", flaky_publish)
    report = full_sync(
        spark,
        _docs(spark, BASE_ROWS),
        sink,
        now=datetime(2024, 2, 1),
        retries=2,
        retry_delay_s=500.0,
        sleep=slept.append,
    )
    monkeypatch.setattr(VersionedSink, "publish", original)
    assert slept == [500.0]
    assert report.retried == {"beta": 1}  # beta (smallest) hit the failure
    assert report.rolled_back == []
    assert sink.alias_exists("beta") and sink.alias_exists("alpha")


def test_flow_level_retries_exhaust_and_rollback(spark, sink, monkeypatch):
    """X4 + X5: after exhausting retries the run aborts, the half-written
    generation is gone, and the index is recorded as rolled back."""
    def always_fail(self, alias, generation, drop_old=True):
        raise RuntimeError("persistent sink failure")

    monkeypatch.setattr(VersionedSink, "publish", always_fail)
    slept = []
    with pytest.raises(RuntimeError, match="persistent"):
        full_sync(
            spark,
            _docs(spark, BASE_ROWS),
            sink,
            now=datetime(2024, 2, 1),
            retries=2,
            retry_delay_s=1.0,
            sleep=slept.append,
        )
    assert slept == [1.0, 1.0]  # 1 initial + 2 retries -> 2 sleeps
    assert sink.list_generations() == []  # every attempt rolled back


def _stage_dirs(sink):
    return [d for d in os.listdir(sink.base_dir) if d.startswith("_stage")]


def test_staged_write_retries_then_rolls_back(spark, tmp_path, monkeypatch):
    """X4 + X5 on the single-scan write: a failed staged write removes its
    stage and retries; once retries are exhausted every index is recorded
    as rolled back, nothing is published and no stage is left behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    import prefect_flow_arc_indexer_spark.pipeline.runner as runner_mod

    original = DataFrameWriter.parquet
    calls = {"n": 0, "fail": 1}

    def lossy_parquet(self, path, *args, **kwargs):
        # the write lands, then the attempt fails: the stage is half-made
        original(self, path, *args, **kwargs)
        if "_stage_" in path:
            calls["n"] += 1
            if calls["n"] <= calls["fail"]:
                raise RuntimeError("staged write lost")

    monkeypatch.setattr(DataFrameWriter, "parquet", lossy_parquet)
    docs = _docs(spark, BASE_ROWS)
    ok = VersionedSink(str(tmp_path / "ok"))
    slept = []
    report = full_sync(
        spark, docs, ok, now=datetime(2024, 2, 1), retries=1,
        retry_delay_s=2.0, sleep=slept.append,
    )
    assert calls["n"] == 2 and slept == [2.0]
    assert report.retried == {"beta": 1, "alpha": 1}
    assert report.rolled_back == []
    assert report.written == {"beta": 1, "alpha": 2}
    assert not _stage_dirs(ok)

    reports = []

    class SpyReport(SyncReport):
        def __init__(self):
            super().__init__()
            reports.append(self)

    monkeypatch.setattr(runner_mod, "SyncReport", SpyReport)
    calls.update(n=0, fail=2)
    bad = VersionedSink(str(tmp_path / "bad"))
    with pytest.raises(RuntimeError, match="staged write lost"):
        full_sync(
            spark, docs, bad, now=datetime(2024, 2, 1), retries=1,
            sleep=slept.append,
        )
    assert calls["n"] == 2
    assert sorted(reports[0].rolled_back) == ["alpha", "beta"]
    assert reports[0].written == {}
    assert bad.read_manifest() == {}
    assert bad.list_generations() == []
    assert not _stage_dirs(bad)


def _three_index_rows():
    return BASE_ROWS + [
        ("gamma", "20", '{"v": 20}', False, "2024-01-01 00:00:00"),
        ("gamma", "21", '{"v": 21}', False, "2024-01-01 00:00:00"),
        ("gamma", "22", '{"v": 22}', False, "2024-01-01 00:00:00"),
    ]


def test_one_pass_full_sync_matches_python_live_set(spark, tmp_path):
    """Every published alias holds exactly the live (id, document) rows of
    its index, computed here in plain Python from the input rows."""
    rows = _three_index_rows()
    want: dict[str, list] = {}
    for index, id_, document, is_deleted, _ in rows:
        if not is_deleted:
            want.setdefault(index, []).append((id_, document))
    sink = VersionedSink(str(tmp_path / "one"))
    report = full_sync(spark, _docs(spark, rows), sink, now=datetime(2024, 2, 1))
    # ascending size: beta(1) < alpha(3 rows, 1 tombstone) = gamma(3)
    assert report.indexes == ["beta", "alpha", "gamma"]
    assert report.written == {i: len(d) for i, d in want.items()}
    assert report.reconcile_ok == dict.fromkeys(want, True)
    for index, live in want.items():
        assert sorted(
            (r.id, r.document) for r in sink.read_alias(spark, index).collect()
        ) == sorted(live)
    assert not _stage_dirs(sink)


def test_one_pass_plan_scans_fact_table_once(spark, tmp_path):
    """The full-sync data plane is ONE FileScan (not one per index) and ONE
    shuffle, a rebalance rather than a hash repartition, so AQE can split
    a large index over many write tasks."""
    from prefect_flow_arc_indexer_spark.pipeline.runner import one_pass_live

    src = str(tmp_path / "docs_parquet")
    _docs(spark, _three_index_rows()).write.parquet(src)
    docs = spark.read.parquet(src)
    plan = (
        one_pass_live(docs, ["alpha", "beta", "gamma"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "REBALANCE_PARTITIONS_BY_COL" in plan


def _parquet_docs(spark, tmp_path, name, rows):
    """The rows as a parquet-backed source, as the CLI reads one."""
    path = str(tmp_path / name)
    _docs(spark, rows).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _jobs_run(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts, counted under a job group
    of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _index_rows(indexes, updated="2024-01-01 00:00:00", v=0):
    return [
        (index, f"{n}{k}", f'{{"v": {v}}}', False, updated)
        for n, index in enumerate(indexes)
        for k in range(3)
    ]


SIX = ["i0", "i1", "i2", "i3", "i4", "i5"]


def test_sync_job_count_does_not_grow_with_indexes(spark, tmp_path):
    """Counting, enumerating and probing are one grouped job over every
    index, writing is one staged write, and the audit reads parquet footers
    on the driver, so a full sync over 3 indexes runs as many Spark jobs as
    one over 6, and an incremental sync touching 2 indexes as many as one
    touching 5: the runners add no per-index jobs. Under AQE each shuffle
    stage is a job of its own: a full sync is the stats job's two and the
    rebalanced write's two; an incremental sync adds the broadcast of the
    delta's keys."""
    full_jobs = []
    for n in (3, 6):
        docs = _parquet_docs(spark, tmp_path, f"full{n}", _index_rows(SIX[:n]))
        sink = VersionedSink(str(tmp_path / f"full_sink{n}"))
        full_jobs.append(_jobs_run(spark, lambda: full_sync(
            spark, docs, sink, now=datetime(2024, 2, 1)
        )))
        assert sorted(sink.read_manifest()) == SIX[:n]
    assert full_jobs == [4, 4]

    incr_jobs = []
    base = _index_rows(SIX)
    for n in (2, 5):
        sink = VersionedSink(str(tmp_path / f"incr_sink{n}"))
        full_sync(
            spark, _parquet_docs(spark, tmp_path, f"base{n}", base), sink,
            now=datetime(2024, 2, 1),
        )
        wm = WatermarkStore(str(tmp_path / f"wm{n}.json"))
        wm.set("default", datetime(2024, 1, 10))
        delta = _index_rows(SIX[:n], "2024-01-15 00:00:00", v=1)
        delta[0] = delta[0][:3] + (True, delta[0][4])  # one tombstone
        docs = _parquet_docs(
            spark, tmp_path, f"delta{n}",
            [r for r in base if r[0] not in SIX[:n]] + delta,
        )
        report = None

        def run():
            nonlocal report
            report = incremental_sync(
                spark, docs, sink, wm, now=datetime(2024, 2, 2)
            )

        incr_jobs.append(_jobs_run(spark, run))
        assert sorted(report.written) == SIX[:n]
        assert report.published_rows == {
            i: 2 if i == "i0" else 3 for i in SIX[:n]
        }
        assert report.rebuilt == []
    assert incr_jobs == [5, 5]


def test_incremental_staged_write_retries_then_rolls_back(
    spark, tmp_path, monkeypatch
):
    """X4 + X5 on the incremental staged write: a failed write removes its
    stage and retries; once retries are exhausted every touched index is
    recorded as rolled back, the manifest is byte-identical, no stage is
    left behind and the watermark does not move, so the next run replays
    the delta. The runner never stores the watermark: a successful run
    returns the one it earned."""
    from pyspark.sql.readwriter import DataFrameWriter

    import prefect_flow_arc_indexer_spark.pipeline.runner as runner_mod

    changed = BASE_ROWS + [
        ("alpha", "4", '{"v": 4}', False, "2024-01-15 00:00:00"),
        ("beta", "11", '{"v": 11}', False, "2024-01-15 00:00:00"),
    ]
    sinks, marks = [], []
    for name in ("ok", "bad"):
        sink = VersionedSink(str(tmp_path / name))
        full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1))
        wm = WatermarkStore(str(tmp_path / f"{name}_wm.json"))
        wm.set("default", datetime(2024, 1, 10))
        sinks.append(sink)
        marks.append(wm)

    original = DataFrameWriter.parquet
    calls = {"n": 0, "fail": 1}

    def lossy_parquet(self, path, *args, **kwargs):
        original(self, path, *args, **kwargs)
        if "_stage_" in path:
            calls["n"] += 1
            if calls["n"] <= calls["fail"]:
                raise RuntimeError("staged write lost")

    monkeypatch.setattr(DataFrameWriter, "parquet", lossy_parquet)
    slept = []
    report = incremental_sync(
        spark, _docs(spark, changed), sinks[0], marks[0],
        now=datetime(2024, 2, 2), retries=1, retry_delay_s=2.0,
        sleep=slept.append,
    )
    assert calls["n"] == 2 and slept == [2.0]
    assert report.retried == {"alpha": 1, "beta": 1}
    assert report.rolled_back == []
    assert report.written == {"alpha": 1, "beta": 1}
    assert report.published_rows == {"alpha": 3, "beta": 2}
    assert not _stage_dirs(sinks[0])
    assert report.watermark == datetime(2024, 2, 2)
    assert marks[0].get("default") == datetime(2024, 1, 10)

    reports = []

    class SpyReport(SyncReport):
        def __init__(self):
            super().__init__()
            reports.append(self)

    monkeypatch.setattr(runner_mod, "SyncReport", SpyReport)
    calls.update(n=0, fail=2)
    bad = sinks[1]
    with open(os.path.join(bad.base_dir, "manifest.json"), "rb") as f:
        manifest = f.read()
    with pytest.raises(RuntimeError, match="staged write lost"):
        incremental_sync(
            spark, _docs(spark, changed), bad, marks[1],
            now=datetime(2024, 2, 2), retries=1, sleep=slept.append,
        )
    assert calls["n"] == 2
    assert sorted(reports[0].rolled_back) == ["alpha", "beta"]
    assert reports[0].written == {}
    with open(os.path.join(bad.base_dir, "manifest.json"), "rb") as f:
        assert f.read() == manifest
    assert sorted(bad.list_generations()) == sorted(bad.read_manifest().values())
    assert not _stage_dirs(bad)
    assert marks[1].get("default") == datetime(2024, 1, 10)


def test_awkward_index_names_merge_and_rebuild(spark, tmp_path):
    """Index names that partition inference would retype ('007' -> 7) or
    that Spark escapes in a path ('a:b' -> 'a%3Ab') go through an
    incremental merge and a schema-drift rebuild, and each lands in its own
    generation holding the audited count."""
    v1 = '{"schema_maintainer": {"schema_name": "v1"}}'
    v2 = '{"schema_maintainer": {"schema_name": "v2"}}'
    base = [
        ("007", "1", '{"v": 1}', False, "2024-01-01 00:00:00"),
        ("007", "2", '{"v": 2}', False, "2024-01-01 00:00:00"),
        ("a:b", "5", v1, False, "2024-01-01 00:00:00"),
        ("a:b", "6", v1, False, "2024-01-01 00:00:00"),
    ]
    sink = VersionedSink(str(tmp_path / "sink"))
    report = full_sync(spark, _docs(spark, base), sink, now=datetime(2024, 2, 1))
    assert report.written == {"007": 2, "a:b": 2}
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 1, 10))
    changed = [
        ("007", "1", '{"v": 1}', False, "2024-01-01 00:00:00"),
        ("007", "2", "{}", True, "2024-01-15 00:00:00"),
        ("007", "3", '{"v": 3}', False, "2024-01-15 00:00:00"),
        ("007", "4", '{"v": 4}', False, "2024-01-15 00:00:00"),
        ("a:b", "5", v2, False, "2024-01-01 00:00:00"),
        ("a:b", "6", v2, False, "2024-01-01 00:00:00"),
        ("a:b", "7", v2, False, "2024-01-15 00:00:00"),
    ]
    report = incremental_sync(
        spark, _docs(spark, changed), sink, wm, now=datetime(2024, 2, 2)
    )
    assert report.rebuilt == ["a:b"]
    assert report.written == {"007": 3, "a:b": 3}
    assert report.published_rows == {"007": 3, "a:b": 3}
    assert report.reconcile_ok == {"007": True, "a:b": True}
    assert sink.read_manifest() == {
        "007": "007_2024-02-02t00.00.00", "a:b": "a:b_2024-02-02t00.00.00",
    }
    assert {r.id for r in sink.read_alias(spark, "007").collect()} == {
        "1", "3", "4",
    }
    rebuilt = {r.id: r.document for r in sink.read_alias(spark, "a:b").collect()}
    assert rebuilt == {"5": v2, "6": v2, "7": v2}


def test_drift_probe_reads_live_rows_and_both_sides(spark, tmp_path):
    """The T7 probe compares the lowest-id LIVE document of each side: a
    tombstone holding the source's lowest id, with another schema_name,
    does not force a rebuild; a drifted document that only the sink still
    holds does."""
    org_a = '{"schema_maintainer": {"schema_name": "Org A"}}'
    org_x = '{"schema_maintainer": {"schema_name": "Org X"}}'
    rows = [
        ("alpha", "0", org_x, True, "2024-01-01 00:00:00"),
        ("alpha", "1", org_a, False, "2024-01-01 00:00:00"),
        ("alpha", "2", org_a, False, "2024-01-01 00:00:00"),
    ]
    sink = VersionedSink(str(tmp_path / "sink"))
    full_sync(spark, _docs(spark, rows), sink, now=datetime(2024, 2, 1))
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 1, 10))
    rows.append(("alpha", "3", org_a, False, "2024-01-15 00:00:00"))
    report = incremental_sync(
        spark, _docs(spark, rows), sink, wm, now=datetime(2024, 2, 2)
    )
    assert report.rebuilt == []
    assert report.written == {"alpha": 1}

    # the published generation still carries an old schema_name on its
    # lowest id, while every source document has moved on
    stale = spark.createDataFrame(
        [("1", org_x), ("2", org_a), ("3", org_a)],
        "id string, document string",
    )
    sink.publish(
        "alpha", sink.write_generation(stale, "alpha", "2024-02-03t00.00.00")
    )
    wm.set("default", datetime(2024, 1, 10))
    report = incremental_sync(
        spark, _docs(spark, rows), sink, wm, now=datetime(2024, 2, 4)
    )
    assert report.rebuilt == ["alpha"]
    assert report.written == {"alpha": 3}
    state = {r.id: r.document for r in sink.read_alias(spark, "alpha").collect()}
    assert state == {"1": org_a, "2": org_a, "3": org_a}


def _damage_stage(monkeypatch, damage):
    """After the staged write lands, and before the audit reads it, call
    ``damage`` on the path of one staged parquet file."""
    original = VersionedSink.write_generation

    def write_generation(self, df, alias, timestamp, partition_by=()):
        gen = original(self, df, alias, timestamp, partition_by)
        if alias == "_stage":
            root = self.generation_path(gen)
            damage(next(
                os.path.join(d, f) for d, _, fs in sorted(os.walk(root))
                for f in sorted(fs) if f.endswith(".parquet")
            ))
        return gen

    monkeypatch.setattr(VersionedSink, "write_generation", write_generation)


def _truncate(path):
    with open(path, "rb") as f:
        head = f.read(16)
    with open(path, "wb") as f:
        f.write(head)


@pytest.mark.parametrize("damage", [os.remove, _truncate],
                         ids=["deleted", "truncated"])
def test_audit_fails_on_lost_or_unreadable_staged_file(
    spark, tmp_path, monkeypatch, damage
):
    """The audit sums the staged files' parquet footers: a staged file
    deleted, or truncated so that its footer cannot be read, between the
    write and the audit makes the run raise before anything is published,
    on a full sync and on an incremental one, and no stage is left."""
    import prefect_flow_arc_indexer_spark.pipeline.runner as runner_mod

    reports = []

    class SpyReport(SyncReport):
        def __init__(self):
            super().__init__()
            reports.append(self)

    monkeypatch.setattr(runner_mod, "SyncReport", SpyReport)
    full = VersionedSink(str(tmp_path / "full"))
    incr = VersionedSink(str(tmp_path / "incr"))
    full_sync(spark, _docs(spark, BASE_ROWS), incr, now=datetime(2024, 2, 1))
    with open(os.path.join(incr.base_dir, "manifest.json"), "rb") as f:
        manifest = f.read()
    gens = incr.list_generations()
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 1, 10))
    changed = BASE_ROWS + [
        ("alpha", "4", '{"v": 4}', False, "2024-01-15 00:00:00"),
        ("beta", "11", '{"v": 11}', False, "2024-01-15 00:00:00"),
    ]

    _damage_stage(monkeypatch, damage)
    reports.clear()
    with pytest.raises(RuntimeError, match="audit failed"):
        full_sync(spark, _docs(spark, BASE_ROWS), full, now=datetime(2024, 2, 1))
    assert sorted(reports[0].rolled_back) == ["alpha", "beta"]
    assert reports[0].written == {} and reports[0].published_rows == {}
    assert full.read_manifest() == {}
    assert full.list_generations() == []

    reports.clear()
    with pytest.raises(RuntimeError, match="audit failed"):
        incremental_sync(
            spark, _docs(spark, changed), incr, wm, now=datetime(2024, 2, 2)
        )
    assert sorted(reports[0].rolled_back) == ["alpha", "beta"]
    assert reports[0].written == {}
    with open(os.path.join(incr.base_dir, "manifest.json"), "rb") as f:
        assert f.read() == manifest
    assert incr.list_generations() == gens


def _stats_plans(spark, monkeypatch) -> list[list[str]]:
    """The file locations each query ``runner._index_stats`` runs scans,
    one list per query, read from its executed plan in Spark's SQL status
    store as each call returns."""
    import prefect_flow_arc_indexer_spark.pipeline.runner as runner_mod

    store = spark._jsparkSession.sharedState().statusStore()
    plans: list[list[str]] = []
    original = runner_mod._index_stats
    conf = "spark.sql.maxMetadataStringLength"

    def executions():
        # the store keeps only the newest executions, so a long-lived
        # session is told apart by execution id, not by position
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        runs = store.executionsList()
        return [runs.apply(n) for n in range(runs.size())]

    def spy(*args, **kwargs):
        seen = max((e.executionId() for e in executions()), default=-1)
        cap = spark.conf.get(conf)
        spark.conf.set(conf, "100000")  # whole paths in the plan text
        try:
            out = original(*args, **kwargs)
        finally:
            spark.conf.set(conf, cap)
        for run in executions():
            if run.executionId() > seen:
                plans.append(sorted(
                    line for line in run.physicalPlanDescription().splitlines()
                    if line.startswith("Location:")
                ))
        return out

    monkeypatch.setattr(runner_mod, "_index_stats", spy)
    return plans


def test_drift_probe_reads_recorded_value_not_the_alias(
    spark, tmp_path, monkeypatch
):
    """Each published generation records its probe value in
    ``_probe.json``; the next incremental run compares the source with that
    record and its stats job reads no published alias. A hand-published
    generation has no record, so its rows enter the stats job."""
    org_a = '{"schema_maintainer": {"schema_name": "Org A"}}'
    base = [(i, str(n), org_a, False, "2024-01-01 00:00:00")
            for n, i in enumerate(["alpha", "alpha", "beta"])]
    sink = VersionedSink(str(tmp_path / "sink"))
    full_sync(spark, _docs(spark, base), sink, now=datetime(2024, 2, 1))
    for index, gen in sink.read_manifest().items():
        with open(os.path.join(sink.generation_path(gen), "_probe.json")) as f:
            assert json.load(f) == {
                "path": "$.schema_maintainer.schema_name", "value": "Org A",
            }, index
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 1, 10))
    rows = base + [("alpha", "5", org_a, False, "2024-01-15 00:00:00"),
                   ("beta", "6", org_a, False, "2024-01-15 00:00:00")]
    docs = _parquet_docs(spark, tmp_path, "src", rows)
    plans = _stats_plans(spark, monkeypatch)

    report = incremental_sync(spark, docs, sink, wm, now=datetime(2024, 2, 2))
    assert report.rebuilt == [] and report.written == {"alpha": 1, "beta": 1}
    assert len(plans) == 1 and len(plans[0]) == 1  # the source alone
    assert str(tmp_path / "src") in plans[0][0]

    # the record, not the alias's rows, is what the source is compared with
    gen = sink.generation_path(sink.read_manifest()["alpha"])
    with open(os.path.join(gen, "_probe.json"), "w") as f:
        json.dump({"path": "$.schema_maintainer.schema_name",
                   "value": "Org Z"}, f)
    plans.clear()
    report = incremental_sync(spark, docs, sink, wm, now=datetime(2024, 2, 3))
    assert report.rebuilt == ["alpha"]
    assert len(plans[0]) == 1 and sink.base_dir not in plans[0][0]

    # a generation published without a record is read by the same job
    stale = spark.createDataFrame([("0", org_a)], "id string, document string")
    sink.publish(
        "beta", sink.write_generation(stale, "beta", "2024-02-04t00.00.00")
    )
    plans.clear()
    report = incremental_sync(spark, docs, sink, wm, now=datetime(2024, 2, 5))
    assert report.rebuilt == []
    assert len(plans) == 1 and len(plans[0]) == 2
    assert [loc for loc in plans[0] if sink.base_dir in loc] == [
        f"Location: InMemoryFileIndex "
        f"[file:{sink.generation_path('beta_2024-02-04t00.00.00')}]"
    ]


def test_probe_recorded_under_another_path_is_ignored(spark, tmp_path):
    """A record taken at another ``schema_path`` says nothing about this
    one: the run reads the alias instead, and the generation it publishes
    records the new path."""
    doc = '{"schema_maintainer": {"schema_name": "Org A"}, "kind": "x"}'
    rows = [("alpha", "1", doc, False, "2024-01-01 00:00:00")]
    sink = VersionedSink(str(tmp_path / "sink"))
    full_sync(spark, _docs(spark, rows), sink, now=datetime(2024, 2, 1))
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 1, 10))
    rows.append(("alpha", "2", doc, False, "2024-01-15 00:00:00"))
    # trusted, the "Org A" recorded at the default path would differ from
    # the source's "x" and force a rebuild
    report = incremental_sync(
        spark, _docs(spark, rows), sink, wm, now=datetime(2024, 2, 2),
        schema_path="$.kind",
    )
    assert report.rebuilt == [] and report.written == {"alpha": 1}
    gen = sink.generation_path(sink.read_manifest()["alpha"])
    with open(os.path.join(gen, "_probe.json")) as f:
        assert json.load(f) == {"path": "$.kind", "value": "x"}


def test_read_files_formats_agree(spark, tmp_path):
    """The same table staged as parquet/json/csv reads back identically
    through the unified reader (explicit schema, FAILFAST)."""
    from prefect_flow_arc_indexer_spark.sources.files import read_files
    from prefect_flow_arc_indexer_spark.sources.parquet import load_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    schema = nation.schema
    staged = {}
    for fmt in ("parquet", "json", "csv"):
        p = str(tmp_path / f"nation_{fmt}")
        nation.write.format(fmt).option("header", "true").save(p)
        staged[fmt] = p
    base = sorted(map(tuple, nation.collect()))
    for fmt, p in staged.items():
        got = sorted(
            map(tuple, read_files(spark, p, fmt, schema=schema).collect())
        )
        assert got == base, fmt

    import pytest as _pytest

    with _pytest.raises(ValueError, match="explicit schema"):
        read_files(spark, staged["json"], "json")


def test_cli_full_then_incremental_roundtrip(spark, tmp_path, capsys):
    """The __main__ CLI mirrors the reference's flow parameters: a full
    sync publishes every index and seeds the watermark (the reference's
    save_last_run_config hook), and the follow-up incremental run (the
    reference's default mode) reads that watermark instead of failing."""
    import json as _json

    from prefect_flow_arc_indexer_spark.__main__ import main

    sink_dir = str(tmp_path / "cli_sink")
    rc = main(
        [
            "--source", "/root/testdata/sf0.001",
            "--sink-dir", sink_dir,
            "--full-sync",
        ]
    )
    assert rc == 0
    full = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert full["indexes"] and full["written"]
    assert all(full["reconcile_ok"].values())

    rc = main(["--source", "/root/testdata/sf0.001", "--sink-dir", sink_dir])
    assert rc == 0
    inc = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # nothing changed since the full sync's watermark -> all skipped
    assert sorted(inc["skipped"]) == sorted(full["indexes"])

    # or_ids pinning + lowercase (reference or_ids_to_run)
    rc = main(
        [
            "--source", "/root/testdata/sf0.001",
            "--sink-dir", str(tmp_path / "pin_sink"),
            "--full-sync",
            "--or-ids", "PURCHASE",
        ]
    )
    assert rc == 0
    pinned = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pinned["indexes"] == ["purchase"]


def test_sink_compaction_reduces_files_and_preserves_rows(spark, sink):
    """compact() rewrites a many-file generation into the byte-targeted
    file count, reconciles rows before the atomic flip, and drops the old
    generation — readers only ever see a complete generation."""
    rows = [("alpha", str(i), '{"v": %d}' % i, False, "2024-01-01 00:00:00")
            for i in range(200)]
    # written straight through the sink: full_sync's rebalanced write
    # already coalesces 200 rows into one file
    docs = _docs(spark, rows).select("id", "document").repartition(16)
    old_gen = sink.write_generation(docs, "alpha", "2024-02-01t00.00.00")
    sink.publish("alpha", old_gen)
    old_files = [
        f for f in os.listdir(sink.generation_path(old_gen))
        if f.endswith(".parquet")
    ]
    assert len(old_files) > 4  # fragmented by the shuffle parallelism

    gen = sink.compact(
        spark, "alpha", target_bytes=10**9, now=datetime(2024, 2, 2)
    )
    assert sink.read_manifest()["alpha"] == gen
    new_dir = sink.generation_path(gen)
    new_files = [f for f in os.listdir(new_dir) if f.endswith(".parquet")]
    assert len(new_files) == 1  # everything fits one 1GB target file
    assert sink.read_alias(spark, "alpha").count() == 200
    assert old_gen not in sink.list_generations()

    # same-second re-compaction must not clobber the generation it reads
    gen2 = sink.compact(
        spark, "alpha", target_bytes=10**9, now=datetime(2024, 2, 2)
    )
    assert gen2 != gen
    assert sink.read_alias(spark, "alpha").count() == 200


def test_compact_rewrites_legacy_bucketed_alias_plain(spark, sink):
    """An alias an earlier release wrote hash-bucketed (bucket=N/ dirs)
    compacts by its real byte size into a plain generation."""
    legacy = sink.generation_name("alpha", "2024-02-01t00.00.00")
    path = sink.generation_path(legacy)
    spark.range(200).selectExpr(
        "CAST(id AS STRING) AS id", "repeat('x', 100) AS document",
        "CAST(id % 2 AS INT) AS bucket",
    ).repartition(8).write.partitionBy("bucket").parquet(path)
    sink.publish("alpha", legacy)
    size = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )

    gen = sink.compact(
        spark, "alpha", target_bytes=size // 3 + 1, now=datetime(2024, 2, 2)
    )
    new_dir = sink.generation_path(gen)
    assert not any(e.startswith("bucket=") for e in os.listdir(new_dir))
    assert len([f for f in os.listdir(new_dir) if f.endswith(".parquet")]) == 3
    assert spark.read.parquet(new_dir).columns == ["id", "document"]
    assert sink.read_alias(spark, "alpha").count() == 200


def test_es_rest_delete_over_real_http(spark):
    """The REST bulk-delete path exercised over an actual HTTP listener
    (stdlib http.server playing ES): executors POST NDJSON to /_bulk,
    chunked by batch_entries, and the server sees every id exactly once.
    This covers the production transport up to the cluster boundary —
    URL shaping, content type, chunking, executor-side execution."""
    import http.server
    import json as _json
    import tempfile
    import threading

    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        write_deletes,
    )

    cap_dir = tempfile.mkdtemp(prefix="es_bulk_")

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            import os
            import uuid

            with open(os.path.join(cap_dir, uuid.uuid4().hex), "wb") as f:
                f.write(
                    _json.dumps(
                        {
                            "path": self.path,
                            "ctype": self.headers["Content-Type"],
                            "body": body.decode(),
                        }
                    ).encode()
                )
            resp = b'{"errors": false, "items": []}'
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        cfg = EsSinkConfig(
            nodes=f"127.0.0.1:{port}", id_column="_id", batch_entries=3
        )
        df = spark.createDataFrame(
            [("idx_http", f"d{i}") for i in range(8)], "_index string, _id string"
        ).coalesce(2)
        write_deletes(df, cfg)  # default urllib transport
    finally:
        srv.shutdown()

    import os

    posts = [_json.load(open(os.path.join(cap_dir, p))) for p in os.listdir(cap_dir)]
    assert posts, "no HTTP bulk requests arrived"
    assert all(p["path"] == "/_bulk" for p in posts)
    assert all(p["ctype"] == "application/x-ndjson" for p in posts)
    actions = [
        _json.loads(line)
        for p in posts
        for line in p["body"].strip().split("\n")
    ]
    assert sorted(a["delete"]["_id"] for a in actions) == [
        f"d{i}" for i in range(8)
    ]
    assert all(a["delete"]["_index"] == "idx_http" for a in actions)
    assert max(len(p["body"].strip().split("\n")) for p in posts) <= 3


def test_es_rest_upsert_over_real_http(spark):
    """The connector-less REST upsert path over a live HTTP listener:
    NDJSON {"index": meta}\\n{doc} pairs, chunked, every (_id, _source)
    delivered exactly once."""
    import http.server
    import json as _json
    import os
    import tempfile
    import threading
    import uuid

    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        write_upserts_rest,
    )

    cap_dir = tempfile.mkdtemp(prefix="es_upsert_")

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with open(os.path.join(cap_dir, uuid.uuid4().hex), "wb") as f:
                f.write(body)
            resp = b'{"errors": false, "items": []}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        cfg = EsSinkConfig(
            nodes=f"127.0.0.1:{srv.server_address[1]}",
            id_column="_id",
            batch_entries=2,
        )
        df = spark.createDataFrame(
            [("idx_up", str(i), '{"v": %d}' % i) for i in range(5)],
            "_index string, _id string, _source string",
        ).coalesce(1)
        write_upserts_rest(df, cfg)
    finally:
        srv.shutdown()

    lines = [
        ln
        for p in os.listdir(cap_dir)
        for ln in open(os.path.join(cap_dir, p)).read().strip().split("\n")
    ]
    metas = [_json.loads(ln) for ln in lines[0::2] if "index" in ln] or [
        _json.loads(ln) for ln in lines if '"index"' in ln
    ]
    docs = [ln for ln in lines if ln.startswith('{"v"')]
    got = sorted(
        (m["index"]["_id"] for m in metas if "index" in m), key=int
    )
    assert got == [str(i) for i in range(5)]
    assert all(m["index"]["_index"] == "idx_up" for m in metas)
    assert sorted(docs) == sorted('{"v": %d}' % i for i in range(5))


def test_incremental_replay_is_idempotent(spark, sink, tmp_path):
    """Running the same incremental batch twice (the reference's inclusive
    >= watermark re-delivers rows at the boundary) must leave the sink in
    an identical state — the idempotence that makes T2/T5 safe."""
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=datetime(2024, 2, 1))
    changed = BASE_ROWS + [
        ("alpha", "2", '{"v": 22}', False, "2024-01-15 00:00:00"),
        ("alpha", "4", '{"v": 4}', False, "2024-01-17 00:00:00"),
    ]
    for run_day in (2, 3):
        wm.set("default", datetime(2024, 1, 10))  # same watermark replayed
        incremental_sync(
            spark,
            _docs(spark, changed),
            sink,
            wm,
            now=datetime(2024, 2, run_day),
        )
        state = sorted(
            (r.id, r.document)
            for r in sink.read_alias(spark, "alpha").collect()
        )
        assert state == [
            ("1", '{"v": 1}'),
            ("2", '{"v": 22}'),
            ("4", '{"v": 4}'),
        ]
    # exactly one live generation per alias after the replay
    gens = [g for g in sink.list_generations() if g.startswith("alpha_")]
    assert gens == [sink.read_manifest()["alpha"]]
