"""Round-5 pipeline fixes (ADVICE r4): bulk item-error detection, the
same-second generation-collision guard, rebuild written-count accounting,
and the CLI's ES mirror path."""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
    BulkItemError,
    EsSinkConfig,
    _check_bulk_response,
    write_deletes,
)
from prefect_flow_arc_indexer_spark.pipeline.runner import (
    full_sync,
    incremental_sync,
)
from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink
from prefect_flow_arc_indexer_spark.streaming.watermark import WatermarkStore

from tests.test_pipeline import BASE_ROWS, _docs


@pytest.fixture()
def sink(tmp_path):
    return VersionedSink(str(tmp_path / "sink"))


# -- ES _bulk item errors ---------------------------------------------------


def test_bulk_body_errors_true_raises_with_first_item():
    body = json.dumps(
        {
            "errors": True,
            "items": [
                {"index": {"_id": "a", "status": 201}},
                {
                    "index": {
                        "_id": "b",
                        "status": 429,
                        "error": {"type": "es_rejected_execution_exception"},
                    }
                },
            ],
        }
    ).encode()
    with pytest.raises(BulkItemError, match="es_rejected_execution"):
        _check_bulk_response(body)


def test_bulk_body_ok_and_non_json_pass():
    _check_bulk_response(b'{"errors": false, "items": []}')
    _check_bulk_response(b"")  # proxies may return empty 200 bodies
    _check_bulk_response(b"not json")


def test_rest_path_raises_on_item_rejections_over_http(spark):
    """End to end over a real HTTP listener: a 200 response whose body says
    errors:true makes the executor task (and the job) fail instead of
    silently dropping the rejected ids."""
    import http.server
    import threading

    class Rejecting(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            resp = json.dumps(
                {
                    "errors": True,
                    "items": [
                        {
                            "delete": {
                                "_id": "d0",
                                "status": 429,
                                "error": {
                                    "type": "es_rejected_execution_exception"
                                },
                            }
                        }
                    ],
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Rejecting)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        # retries=0: this test asserts the FAILURE surface; the in-place
        # 429 retry schedule has its own tests (test_round6_pipeline)
        cfg = EsSinkConfig(
            nodes=f"127.0.0.1:{srv.server_address[1]}", id_column="_id",
            retries=0,
        )
        df = spark.createDataFrame(
            [("idx_http", "d0"), ("idx_http", "d1")], "_index string, _id string"
        ).coalesce(1)
        with pytest.raises(Exception, match="item failures"):
            write_deletes(df, cfg)
    finally:
        srv.shutdown()


# -- same-second generation collision guard ---------------------------------


def test_incremental_same_second_as_publish_keeps_live_data(spark, sink, tmp_path):
    """Publish then incremental-sync within the SAME second: without the
    guard, write_generation(mode=overwrite) clobbers the directory the lazy
    merge plan reads from. The guard bumps the generation timestamp."""
    t = datetime(2024, 2, 1, 12, 0, 0)
    full_sync(spark, _docs(spark, BASE_ROWS), sink, now=t)
    published = sink.read_manifest()["alpha"]

    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 1, 2))  # row id=2 onward counts as changed
    report = incremental_sync(
        spark, _docs(spark, BASE_ROWS), sink, wm, now=t  # same second!
    )
    assert report.written["alpha"] > 0
    new_gen = sink.read_manifest()["alpha"]
    assert new_gen != published  # name collision avoided by the bump
    # the merge read intact pre-publish data: live set is still exactly 1,2
    assert {r.id for r in sink.read_alias(spark, "alpha").collect()} == {"1", "2"}


# -- rebuild written-count accounting ---------------------------------------


def test_missing_alias_rebuild_reports_live_count(spark, sink, tmp_path):
    """A forced rebuild writes the FULL live set; report.written must say so
    (not the CDC batch count), consistent with full_sync."""
    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 1, 2))  # 1 changed alpha row (id=2)
    report = incremental_sync(
        spark,
        _docs(spark, BASE_ROWS),
        sink,  # no alias published yet -> rebuild path
        wm,
        or_ids=["alpha"],
        now=datetime(2024, 3, 1),
    )
    # alpha live set is ids {1, 2}; the old accounting reported 1
    assert report.written["alpha"] == 2


# -- CLI ES mirror path ------------------------------------------------------


def test_cli_es_nodes_mirrors_published_indexes(tmp_path, capsys, monkeypatch):
    import prefect_flow_arc_indexer_spark.pipeline.es_sink as es_sink
    from prefect_flow_arc_indexer_spark.__main__ import main

    calls: list[tuple[list[str], int, int, int, int]] = []
    delete_calls: list[tuple[list[str], int]] = []

    def targets(df) -> list[str]:
        return sorted(r["_index"] for r in df.select("_index").distinct().collect())

    def fake_mirror(df, cfg, source_column="_source"):
        calls.append(
            (
                targets(df),
                df.count(),
                cfg.batch_entries,
                cfg.timeout_s,
                cfg.retries,
            )
        )

    def fake_deletes(df, cfg):
        delete_calls.append((targets(df), df.count()))

    swaps: list[tuple[str, str]] = []
    monkeypatch.setattr(es_sink, "write_upserts_rest", fake_mirror)
    monkeypatch.setattr(es_sink, "write_deletes", fake_deletes)
    monkeypatch.setattr(
        es_sink, "swap_alias", lambda cfg, a, g: swaps.append((a, g))
    )
    # the reconcile's _count answers from the fake mirror: example:9200 is
    # not a host the test may resolve
    monkeypatch.setattr(
        es_sink, "count_index", lambda cfg, index, refresh=True: calls[-1][1]
    )
    rc = main(
        [
            "--source", "/root/testdata/sf0.001",
            "--sink-dir", str(tmp_path / "sink"),
            "--full-sync",
            "--or-ids", "purchase",
            "--es-nodes", "example:9200",
            "--es-chunk-size", "123",
            "--es-timeout", "7",
            "--es-retries", "2",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the full-sync bulk load targets the generation-named physical index
    # and the alias is swapped to it afterwards (VERDICT r8 task 4)
    assert len(calls) == 1 and len(calls[0][0]) == 1
    gen = calls[0][0][0]
    assert gen.startswith("purchase_")
    assert calls[0][1] == report["written"]["purchase"]
    assert calls[0][2:] == (123, 7, 2)  # flags reached EsSinkConfig
    assert swaps == [("purchase", gen)]
    assert report["mirror_published"] == {"purchase": gen}
    assert report["mirror_reconcile"] == {"purchase": True}
    # tombstone deletes are no longer shipped on full sync: the swap drops
    # the superseded physical index wholesale (they remain the incremental
    # path's job)
    assert delete_calls == []


# -- single-scan full sync ------------------------------------------------


def test_one_pass_publishes_empty_generation_for_all_tombstone_index(
    spark, tmp_path
):
    rows = BASE_ROWS + [
        ("gamma", "30", '{"v": 30}', True, "2024-01-05 00:00:00"),
    ]
    one = VersionedSink(str(tmp_path / "one"))
    report = full_sync(spark, _docs(spark, rows), one, now=datetime(2024, 2, 1))
    assert report.written["gamma"] == 0
    assert report.reconcile_ok["gamma"] is True
    assert one.alias_exists("gamma")
    # the empty generation carries the document schema and nothing else,
    # so a reader that infers it can still union (id, document) rows in
    gen = one.generation_path(one.read_manifest()["gamma"])
    assert spark.read.parquet(gen).columns == ["id", "document"]

    # the next incremental run merges into the empty generation
    marks = WatermarkStore(str(tmp_path / "wm.json"))
    marks.set("default", report.watermark)
    later = rows + [("gamma", "31", '{"v": 31}', False, "2024-02-02 00:00:00")]
    incr = incremental_sync(
        spark, _docs(spark, later), one, marks, now=datetime(2024, 3, 1)
    )
    assert incr.written == {"gamma": 1} and incr.rebuilt == []
    assert [tuple(r) for r in one.read_alias(spark, "gamma").collect()] == [
        ("31", '{"v": 31}')
    ]
