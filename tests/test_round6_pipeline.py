"""Round-6 pipeline fixes (VERDICT r5 tasks 4/7/8 + ADVICE r5): the CLI
ES mirror end-to-end over a real REST stub (delta-only upserts + tombstone
deletes), one-pass publish guards, and the plain layout every merge writes.
"""

from __future__ import annotations

import http.server
import json
import threading
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink
from prefect_flow_arc_indexer_spark.streaming.watermark import WatermarkStore


class _RecordingEs(http.server.BaseHTTPRequestHandler):
    """Minimal ES stand-in: records every NDJSON _bulk action, maintains a
    per-index doc store plus an alias map, and answers GET /{name}/_count
    (alias-resolving), POST /_refresh, GET /_alias/{name}, POST /_aliases,
    PUT /{index}/_settings and DELETE /{indexes} — enough surface for the
    post-mirror count reconcile gate AND the publish-time settings-restore
    + atomic alias swap (VERDICT r8 task 4)."""

    ops: list[tuple[str, str, str]] = []  # (op, index, id) — class-level
    docs: dict[str, set[str]] = {}  # index -> live ids — class-level
    bodies: dict[str, dict[str, str]] = {}  # index -> id -> document
    aliases: dict[str, str] = {}  # alias -> physical index — class-level
    settings: list[tuple[str, dict]] = []  # PUT _settings calls — class-level
    fail_bulk = False  # answer every _bulk with a non-retryable item error

    def _resolve(self, name: str) -> str:
        return type(self).aliases.get(name, name)

    def do_POST(self):
        if self.path.endswith("/_refresh"):
            return self._reply({"_shards": {"failed": 0}})
        body = self.rfile.read(int(self.headers["Content-Length"]))
        if self.path.rstrip("/").endswith("_aliases"):
            for act in json.loads(body)["actions"]:
                kind, spec = next(iter(act.items()))
                if kind == "add":
                    type(self).aliases[spec["alias"]] = spec["index"]
                elif (
                    kind == "remove"
                    and type(self).aliases.get(spec["alias"]) == spec["index"]
                ):
                    del type(self).aliases[spec["alias"]]
            return self._reply({"acknowledged": True})
        if type(self).fail_bulk:
            return self._reply({"errors": True, "items": [{"index": {
                "status": 400, "error": {"type": "mapper_parsing_exception"},
            }}]})
        lines = [ln for ln in body.decode().splitlines() if ln.strip()]
        i = 0
        while i < len(lines):
            meta = json.loads(lines[i])
            op = next(iter(meta))
            index, _id = meta[op]["_index"], meta[op]["_id"]
            type(self).ops.append((op, index, _id))
            store = type(self).docs.setdefault(self._resolve(index), set())
            bodies = type(self).bodies.setdefault(self._resolve(index), {})
            if op == "delete":
                store.discard(_id)
                bodies.pop(_id, None)
            else:
                store.add(_id)
                bodies[_id] = lines[i + 1]
            i += 2 if op == "index" else 1  # index meta is followed by a doc
        self._reply({"errors": False, "items": []})

    def do_GET(self):
        if self.path.endswith("/_count"):
            index = self._resolve(self.path.strip("/").split("/")[0])
            return self._reply(
                {"count": len(type(self).docs.get(index, set()))}
            )
        if self.path.startswith("/_alias/"):
            alias = self.path[len("/_alias/"):]
            phys = type(self).aliases.get(alias)
            if phys is None:
                self.send_response(404)
                self.end_headers()
                return
            return self._reply({phys: {"aliases": {alias: {}}}})
        self.send_response(404)
        self.end_headers()

    def do_PUT(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if "/_settings" in self.path:
            index = self.path.strip("/").split("/")[0]
            type(self).settings.append((index, json.loads(body)))
            return self._reply({"acknowledged": True})
        self.send_response(404)
        self.end_headers()

    def do_DELETE(self):
        for index in self.path.strip("/").split(","):
            type(self).docs.pop(index, None)
            type(self).bodies.pop(index, None)
        self._reply({"acknowledged": True})

    def _reply(self, payload: dict):
        resp = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(resp)))
        self.end_headers()
        self.wfile.write(resp)

    def log_message(self, *a):
        pass


@pytest.fixture()
def es_stub():
    _RecordingEs.ops = []
    _RecordingEs.docs = {}
    _RecordingEs.bodies = {}
    _RecordingEs.aliases = {}
    _RecordingEs.settings = []
    _RecordingEs.fail_bulk = False
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _RecordingEs)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"127.0.0.1:{srv.server_address[1]}", _RecordingEs.ops
    srv.shutdown()


def _write_events(spark, path: str, rows: list[tuple[str, int, str, datetime]]):
    """events.parquet rows (event_type, event_id, props, ts); tombstones are
    derived by index_documents as event_id % 13 == 0."""
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, props string, ts timestamp"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def test_cli_es_mirror_e2e_full_then_incremental(spark, tmp_path, capsys, es_stub):
    """Drive --sink-dir + --es-nodes together through a real REST stub:
    the full sync bulk-loads the GENERATION index, restores serving
    settings, and atomically swaps the alias to it (reference swap_indexes,
    VERDICT r8 task 4); the incremental run mirrors ONLY the merged delta
    (not the whole alias) through the alias and bulk-deletes the batch's
    tombstones (ADVICE r5 / VERDICT task 8)."""
    from prefect_flow_arc_indexer_spark.__main__ import main

    nodes, ops = es_stub
    src = str(tmp_path / "src")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    _write_events(
        spark,
        f"{src}/events.parquet",
        [
            ("alpha", 1, '{"v": 1}', t0),
            ("alpha", 2, '{"v": 2}', t0),
            ("alpha", 3, '{"v": 3}', t0),
            ("alpha", 13, '{"v": 13}', t0),  # tombstone (13 % 13 == 0)
        ],
    )
    argv = [
        "--source", src,
        "--sink-dir", str(tmp_path / "sink"),
        "--es-nodes", nodes,
        "--or-ids", "alpha",
    ]
    assert main([*argv, "--full-sync"]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["written"]["alpha"] == 3
    # the bulk load targets the generation-named physical index ...
    gen = report["mirror_published"]["alpha"]
    assert gen and gen.startswith("alpha_") and gen != "alpha"
    assert sorted(o for o in ops if o[0] == "index") == [
        ("index", gen, "1"), ("index", gen, "2"), ("index", gen, "3"),
    ]
    # ... which got its serving settings restored BEFORE the alias flip
    assert _RecordingEs.settings == [
        (gen, {"index": {"refresh_interval": "30s",
                         "number_of_replicas": 1}}),
    ]
    # ... and the alias now points at it (the atomic _aliases call)
    assert _RecordingEs.aliases == {"alpha": gen}
    # tombstones are NOT shipped on full sync: the fresh generation never
    # contained them and the swap drops the superseded physical index
    assert not [o for o in ops if o[0] == "delete"]
    # post-mirror reconcile (VERDICT r6 task 6): alias count == ES _count
    assert report["mirror_reconcile"] == {"alpha": True}

    # --- incremental: only the delta crosses the wire -----------------------
    ops.clear()
    _write_events(
        spark,
        f"{src}/events.parquet",
        [
            ("alpha", 1, '{"v": 1}', t0),       # unchanged, pre-watermark
            ("alpha", 2, '{"v": 2}', t0),
            ("alpha", 3, '{"v": 3}', t0),
            ("alpha", 4, '{"v": 4}', datetime(2030, 1, 1)),   # new upsert
            ("alpha", 26, '{"v": 26}', datetime(2030, 1, 1)), # new tombstone
        ],
    )
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["written"]["alpha"] == 2  # the CDC batch: ids 4 and 26
    upserted = sorted(o[2] for o in ops if o[0] == "index")
    deleted = sorted(o[2] for o in ops if o[0] == "delete")
    assert upserted == ["4"]       # ids 1-3 were NOT re-shipped
    assert deleted == ["26"]       # the tombstone reached ES
    # the incremental mirror converged too: ES holds exactly {1,2,3,4}
    assert report["mirror_reconcile"] == {"alpha": True}
    # and the local alias agrees with what ES now holds
    sink = VersionedSink(str(tmp_path / "sink"))
    assert {r.id for r in sink.read_alias(spark, "alpha").collect()} == {
        "1", "2", "3", "4",
    }


def test_mirror_reconcile_mismatch_warns_only(spark, tmp_path, capsys, es_stub):
    """A drifted mirror (stray doc in ES the alias never wrote) flips the
    reconcile flag to False and logs a warning — but the run still succeeds,
    matching the reference's warn-only count gate."""
    from prefect_flow_arc_indexer_spark.__main__ import main

    nodes, _ops = es_stub
    src = str(tmp_path / "src")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    _write_events(
        spark,
        f"{src}/events.parquet",
        [("alpha", 1, '{"v": 1}', t0), ("alpha", 2, '{"v": 2}', t0)],
    )
    argv = [
        "--source", src,
        "--sink-dir", str(tmp_path / "sink"),
        "--es-nodes", nodes,
        "--or-ids", "alpha",
    ]
    assert main([*argv, "--full-sync"]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the full sync's swapped-in generation starts clean -> reconciled
    assert report["mirror_reconcile"] == {"alpha": True}
    # drift appears behind the alias (a doc the sink never wrote) ...
    _RecordingEs.docs[report["mirror_published"]["alpha"]].add("999")
    _write_events(
        spark,
        f"{src}/events.parquet",
        [
            ("alpha", 1, '{"v": 1}', t0),
            ("alpha", 2, '{"v": 2}', t0),
            ("alpha", 3, '{"v": 3}', datetime(2030, 1, 1)),
        ],
    )
    # ... and the next incremental run flags it warn-only
    assert main(argv) == 0  # the mismatch does NOT fail the run
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["written"]["alpha"] == 1
    assert report["mirror_reconcile"] == {"alpha": False}  # ES holds 4, alias 3


def _count_mirror_calls(spark, monkeypatch) -> dict[str, int]:
    """Count the CLI mirror's bulk writer calls, and the Spark jobs they
    run, through wrappers that still ship to the stub."""
    import prefect_flow_arc_indexer_spark.pipeline.es_sink as es_sink
    from tests.test_pipeline import _jobs_run

    calls = {"write_upserts_rest": 0, "write_deletes": 0, "jobs": 0}
    for name in ("write_upserts_rest", "write_deletes"):
        original = getattr(es_sink, name)

        def counted(*args, _name=name, _original=original, **kwargs):
            calls[_name] += 1
            calls["jobs"] += _jobs_run(
                spark, lambda: _original(*args, **kwargs)
            )

        monkeypatch.setattr(es_sink, name, counted)
    return calls


def test_cli_mirror_one_pass_across_indexes(
    spark, tmp_path, capsys, es_stub, monkeypatch
):
    """Three indexes mirror in ONE Spark job per run, the incremental one
    carrying upserts and deletes alike, and every document still lands in
    its own index: the full sync's in its alias's generation, the
    incremental delta's through its alias, a schema-drift rebuild's whole
    alias too."""
    from prefect_flow_arc_indexer_spark.__main__ import main

    nodes, ops = es_stub
    calls = _count_mirror_calls(spark, monkeypatch)
    src = str(tmp_path / "src")
    t0, t1 = datetime(2024, 1, 1, 12, 0, 0), datetime(2030, 1, 1)
    v1 = '{"schema_maintainer": {"schema_name": "v1"}}'
    v2 = '{"schema_maintainer": {"schema_name": "v2"}}'
    base = [
        ("alpha", 1, '{"v": 1}', t0),
        ("alpha", 2, '{"v": 2}', t0),
        ("alpha", 13, '{"v": 13}', t0),  # tombstone (13 % 13 == 0)
        ("beta", 3, '{"v": 3}', t0),
        ("beta", 4, '{"v": 4}', t0),
        ("gamma", 5, v1, t0),
        ("gamma", 6, v1, t0),
    ]
    _write_events(spark, f"{src}/events.parquet", base)
    argv = ["--source", src, "--sink-dir", str(tmp_path / "sink"),
            "--es-nodes", nodes]
    assert main([*argv, "--full-sync"]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    gens = report["mirror_published"]
    assert sorted(gens) == ["alpha", "beta", "gamma"]
    assert all(gens[a].startswith(f"{a}_") for a in gens)
    assert sorted(ops) == sorted([
        ("index", gens["alpha"], "1"), ("index", gens["alpha"], "2"),
        ("index", gens["beta"], "3"), ("index", gens["beta"], "4"),
        ("index", gens["gamma"], "5"), ("index", gens["gamma"], "6"),
    ])
    assert _RecordingEs.aliases == gens
    assert calls == {"write_upserts_rest": 1, "write_deletes": 0, "jobs": 1}
    assert report["mirror_reconcile"] == {
        "alpha": True, "beta": True, "gamma": True,
    }

    # --- incremental: alpha merges an upsert, beta a tombstone, gamma's
    # schema_name drifts and it is rebuilt -------------------------------
    ops.clear()
    _write_events(spark, f"{src}/events.parquet", [
        *[r for r in base if r[0] != "gamma"],
        ("alpha", 7, '{"v": 7}', t1),
        ("beta", 26, '{"v": 26}', t1),  # tombstone
        ("gamma", 5, v2, t0),
        ("gamma", 6, v2, t0),
        ("gamma", 8, v2, t1),
    ])
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rebuilt"] == ["gamma"]
    assert sorted(ops) == sorted([
        ("index", "alpha", "7"),
        ("delete", "beta", "26"),
        ("index", "gamma", "5"), ("index", "gamma", "6"),
        ("index", "gamma", "8"),
    ])
    assert calls == {"write_upserts_rest": 2, "write_deletes": 0, "jobs": 2}
    assert report["mirror_reconcile"] == {
        "alpha": True, "beta": True, "gamma": True,
    }
    assert _RecordingEs.docs[gens["alpha"]] == {"1", "2", "7"}


def test_cli_full_sync_mirror_failure_swaps_no_alias(
    spark, tmp_path, capsys, es_stub
):
    """Every upsert finishes before any alias swaps: when the bulk load of
    a full sync fails, the run raises and every alias still points at its
    previous generation."""
    from prefect_flow_arc_indexer_spark.__main__ import main

    nodes, _ops = es_stub
    src = str(tmp_path / "src")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    _write_events(spark, f"{src}/events.parquet", [
        ("alpha", 1, '{"v": 1}', t0),
        ("beta", 2, '{"v": 2}', t0),
        ("gamma", 3, '{"v": 3}', t0),
    ])
    argv = ["--source", src, "--sink-dir", str(tmp_path / "sink"),
            "--es-nodes", nodes, "--full-sync"]
    assert main(argv) == 0
    capsys.readouterr()
    before = dict(_RecordingEs.aliases)
    assert sorted(before) == ["alpha", "beta", "gamma"]
    settings_before = list(_RecordingEs.settings)

    _RecordingEs.fail_bulk = True
    with pytest.raises(Exception):
        main(argv)
    assert _RecordingEs.aliases == before
    assert _RecordingEs.settings == settings_before  # no swap even began


def _digests(pairs) -> dict[str, str]:
    import hashlib

    return {i: hashlib.sha1(d.encode()).hexdigest() for i, d in pairs}


def _mirror_matches_sink(spark, sink_dir: str) -> None:
    """Every alias's documents in the stub equal the sink's published rows,
    compared by digest, not by count."""
    sink = VersionedSink(sink_dir)
    for alias in sink.read_manifest():
        held = _RecordingEs.bodies.get(_RecordingEs.aliases.get(alias, alias), {})
        assert _digests(held.items()) == _digests(
            (r.id, r.document) for r in sink.read_alias(spark, alias).collect()
        ), alias


@pytest.mark.parametrize("failed_run", ["incremental", "full"])
def test_failed_mirror_keeps_watermark_and_rerun_converges(
    spark, tmp_path, capsys, es_stub, failed_run
):
    """The watermark is stored only once the mirror has landed: a run
    whose mirror fails leaves it where it was, so a healthy incremental
    re-run ships the update that ES missed, even one stamped before the
    failed run started."""
    from prefect_flow_arc_indexer_spark.__main__ import main

    nodes, _ops = es_stub
    src, sink_dir = str(tmp_path / "src"), str(tmp_path / "sink")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    base = [("alpha", 1, '{"v": 1}', t0), ("alpha", 2, '{"v": 2}', t0),
            ("beta", 3, '{"v": 3}', t0)]
    _write_events(spark, f"{src}/events.parquet", base)
    argv = ["--source", src, "--sink-dir", sink_dir, "--es-nodes", nodes]
    assert main([*argv, "--full-sync"]) == 0
    capsys.readouterr()
    marks = WatermarkStore(f"{sink_dir}/watermarks.json")
    wm = marks.get("default")
    _mirror_matches_sink(spark, sink_dir)

    # an update stamped after the stored watermark, before the failed run
    _write_events(spark, f"{src}/events.parquet", [
        base[0], ("alpha", 2, '{"v": 22}', datetime.now()), base[2],
    ])
    _RecordingEs.fail_bulk = True
    with pytest.raises(Exception):
        main([*argv, "--full-sync"] if failed_run == "full" else argv)
    assert marks.get("default") == wm
    with pytest.raises(AssertionError):
        _mirror_matches_sink(spark, sink_dir)  # the sink moved, ES did not

    _RecordingEs.fail_bulk = False
    assert main(argv) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["written"] == {"alpha": 1}
    assert report["mirror_reconcile"] == {"alpha": True}
    assert marks.get("default") > wm
    assert str(marks.get("default")) == report["watermark"]
    _mirror_matches_sink(spark, sink_dir)


def test_mixed_stream_ships_tombstones_as_deletes(spark, tmp_path):
    """With ``deleted_column`` one job ships index and delete actions: a
    tombstone goes out as ``delete`` with no document line, even when its
    document is not null."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        write_upserts_rest,
    )

    rows = spark.createDataFrame(
        [("a", "1", '{"v": 1}', False), ("a", "2", '{"v": 2}', True),
         ("b", "3", '{"v": 3}', False), ("b", "4", None, True)],
        "_index string, id string, document string, is_deleted boolean",
    ).coalesce(1)
    cap = tmp_path / "bulk"
    cap.mkdir()

    def post(url, body, timeout_s, _cap=str(cap)):
        import os
        import uuid

        with open(os.path.join(_cap, uuid.uuid4().hex), "wb") as f:
            f.write(body)
        return 200

    write_upserts_rest(
        rows, EsSinkConfig(nodes="es:9200", batch_entries=3), post=post,
        source_column="document", deleted_column="is_deleted",
    )
    lines = [ln for p in sorted(cap.iterdir())
             for ln in p.read_text().splitlines()]
    actions, docs = [], []
    while lines:
        meta = json.loads(lines.pop(0))
        op, target = next(iter(meta.items()))
        actions.append((op, target["_index"], target["_id"]))
        if op == "index":
            docs.append(lines.pop(0))
    assert sorted(actions) == [
        ("delete", "a", "2"), ("delete", "b", "4"),
        ("index", "a", "1"), ("index", "b", "3"),
    ]
    assert sorted(docs) == ['{"v": 1}', '{"v": 3}']


def test_count_index_refresh_then_count(es_stub):
    """count_index refreshes first (the bulk writers run refresh=false) and
    parses the _count body."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        count_index,
    )

    nodes, _ops = es_stub
    _RecordingEs.docs["idx"] = {"1", "2", "3"}
    cfg = EsSinkConfig(nodes=nodes)
    assert count_index(cfg, "idx") == 3
    assert count_index(cfg, "absent") == 0


# -- publish-time settings restore + atomic alias swap (VERDICT r8 task 4) ---


def _fake_es_transport(alias_map: dict[str, str]):
    """Recording transport for the injected-``request`` unit tests: answers
    GET /_alias/{a} from ``alias_map`` (404 -> raises, like urllib) and
    acknowledges everything else."""
    import json as _json

    log: list[tuple[str, str, dict | None]] = []

    def request(url, data, method, timeout):
        path = url.split("://", 1)[-1].split("/", 1)[1]
        payload = None if data is None else _json.loads(data)
        log.append((method, "/" + path, payload))
        if path.startswith("_alias/"):
            alias = path[len("_alias/"):]
            if alias not in alias_map:
                raise OSError("404 alias not found")
            return _json.dumps(
                {alias_map[alias]: {"aliases": {alias: {}}}}
            ).encode()
        return b'{"acknowledged": true}'

    return request, log


def test_restore_publish_settings_puts_reference_body():
    """PUT {index}/_settings with refresh_interval=30s / replicas=1 — the
    reference's serving-posture restore (flows/main_flow.py:544-548)."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        restore_publish_settings,
    )

    request, log = _fake_es_transport({})
    restore_publish_settings(
        EsSinkConfig(nodes="es:9200", timeout_s=7), "alpha_2024", request
    )
    assert log == [
        (
            "PUT",
            "/alpha_2024/_settings?timeout=7s",
            {"index": {"refresh_interval": "30s", "number_of_replicas": 1}},
        )
    ]


def test_swap_alias_first_publish_add_only():
    """No existing alias: one atomic _aliases call with a single add
    action, no DELETE (reference exists_alias guard, main_flow.py:536)."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        swap_alias,
    )

    request, log = _fake_es_transport({})
    old = swap_alias(
        EsSinkConfig(nodes="es:9200"), "alpha", "alpha_2024", request=request
    )
    assert old == []
    methods = [(m, p) for m, p, _ in log]
    assert ("POST", "/_aliases") in methods
    assert not any(m == "DELETE" for m, _ in methods)
    aliases_payload = next(pl for m, p, pl in log if p == "/_aliases")
    assert aliases_payload == {
        "actions": [{"add": {"index": "alpha_2024", "alias": "alpha"}}]
    }


def test_swap_alias_changeover_removes_and_deletes_old():
    """Existing alias: settings restore first, then ONE actions array that
    removes the old index and adds the new (atomic flip), then the old
    physical index is deleted (reference indices.delete,
    main_flow.py:551-555)."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        swap_alias,
    )

    request, log = _fake_es_transport({"alpha": "alpha_2023"})
    old = swap_alias(
        EsSinkConfig(nodes="es:9200"), "alpha", "alpha_2024", request=request
    )
    assert old == ["alpha_2023"]
    paths = [(m, p) for m, p, _ in log]
    # order: read alias -> settings restore -> atomic flip -> delete old
    assert [p.split("?")[0] for _, p in paths] == [
        "/_alias/alpha",
        "/alpha_2024/_settings",
        "/_aliases",
        "/alpha_2023",
    ]
    assert paths[-1][0] == "DELETE"
    aliases_payload = next(pl for m, p, pl in log if p == "/_aliases")
    assert aliases_payload == {
        "actions": [
            {"remove": {"index": "alpha_2023", "alias": "alpha"}},
            {"add": {"index": "alpha_2024", "alias": "alpha"}},
        ]
    }


# -- one-pass publish guards (ADVICE r5) --------------------------------------

DOCS_SCHEMA = (
    "`index` string, id string, document string, is_deleted boolean, "
    "updated_at string"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA).withColumn(
        "updated_at", F.col("updated_at").cast("timestamp")
    )


def test_one_pass_handles_partition_escaped_index_names(spark, tmp_path):
    """An index name Spark partition-escapes ('a:b' stages as index=a%3Ab)
    must still sync: the staged dir is resolved by DECODING the escaping,
    not by string-building 'index={value}' (which would miss it and either
    publish an empty generation — the pre-r6 bug — or abort a good run)."""
    from prefect_flow_arc_indexer_spark.pipeline.runner import full_sync

    sink = VersionedSink(str(tmp_path / "sink"))
    docs = _docs(
        spark,
        [
            ("a:b", "1", '{"v": 1}', False, "2024-01-01 00:00:00"),
            ("a:b", "2", '{"v": 2}', False, "2024-01-01 00:00:00"),
        ],
    )
    report = full_sync(spark, docs, sink, now=datetime(2024, 2, 1))
    assert report.written == {"a:b": 2}
    assert report.reconcile_ok == {"a:b": True}
    assert {r.id for r in sink.read_alias(spark, "a:b").collect()} == {"1", "2"}


def test_one_pass_missing_stage_aborts_instead_of_empty_publish(
    spark, tmp_path, monkeypatch
):
    """A genuinely lost staged partition (prior partial failure) must abort
    before publish — committing would put an EMPTY generation over live
    data (previously: published with reconcile_ok=False, silently)."""
    import prefect_flow_arc_indexer_spark.pipeline.runner as runner_mod

    sink = VersionedSink(str(tmp_path / "sink"))
    docs = _docs(spark, [("alpha", "1", '{"v": 1}', False, "2024-01-01 00:00:00")])
    # the stage->generation promotion silently does nothing: the generation
    # dir never appears while the observed count says 1 doc exists
    monkeypatch.setattr(runner_mod.shutil, "move", lambda src, dst: None)
    with pytest.raises(RuntimeError, match="one-pass (stage|audit)"):
        runner_mod.full_sync(spark, docs, sink, now=datetime(2024, 2, 1))
    assert "alpha" not in sink.read_manifest()


def test_all_tombstone_and_legacy_bucketed_aliases_merge_plain(
    spark, tmp_path
):
    """Two generations the merge must read as plain ``id, document``: (a)
    the empty generation an all-tombstone index publishes, and (b) one an
    earlier release wrote hash-bucketed (``bucket=N/`` dirs plus a
    ``_buckets.json`` marker). The next incremental run touching either
    publishes a plain generation holding the merged rows."""
    import os

    from prefect_flow_arc_indexer_spark.pipeline.runner import (
        full_sync,
        incremental_sync,
    )

    sink = VersionedSink(str(tmp_path / "sink"))
    docs = _docs(
        spark,
        [
            ("alpha", "1", '{"v": 1}', False, "2024-01-01 00:00:00"),
            ("ghost", "9", '{"v": 9}', True, "2024-01-01 00:00:00"),
        ],
    )
    report = full_sync(spark, docs, sink, now=datetime(2024, 2, 1))
    assert report.written == {"alpha": 1, "ghost": 0}
    gen = sink.generation_path(sink.read_manifest()["ghost"])
    assert spark.read.parquet(gen).columns == ["id", "document"]
    assert sink.read_alias(spark, "ghost").count() == 0

    # hand-write alpha's generation in the retired bucketed layout
    legacy = sink.generation_name("alpha", "2024-02-01t12.00.00")
    legacy_path = sink.generation_path(legacy)
    spark.createDataFrame(
        [("1", '{"v": 1}', 0), ("2", '{"v": 2}', 1)],
        "id string, document string, bucket int",
    ).write.partitionBy("bucket").parquet(legacy_path)
    with open(os.path.join(legacy_path, "_buckets.json"), "w") as f:
        json.dump({"n_buckets": 2}, f)
    sink.publish("alpha", legacy)
    assert sink.read_alias(spark, "alpha").columns == ["id", "document"]
    assert {r.id for r in sink.read_alias(spark, "alpha").collect()} == {
        "1", "2"
    }

    wm = WatermarkStore(str(tmp_path / "wm.json"))
    wm.set("default", datetime(2024, 2, 1))
    docs = docs.unionByName(_docs(
        spark,
        [
            ("ghost", "10", '{"v": 10}', False, "2024-02-02 00:00:00"),
            ("alpha", "3", '{"v": 3}', False, "2024-02-02 00:00:00"),
        ],
    ))
    report = incremental_sync(spark, docs, sink, wm, now=datetime(2024, 2, 3))
    assert report.rebuilt == []
    # alpha keeps "2", which only the legacy generation held: a merge, not
    # a rebuild from the source
    assert report.published_rows == {"ghost": 1, "alpha": 3}
    assert [tuple(r) for r in sink.read_alias(spark, "ghost").collect()] == [
        ("10", '{"v": 10}')
    ]
    assert sorted(
        tuple(r) for r in sink.read_alias(spark, "alpha").collect()
    ) == [("1", '{"v": 1}'), ("2", '{"v": 2}'), ("3", '{"v": 3}')]
    for idx in ("alpha", "ghost"):
        gen_path = sink.generation_path(sink.read_manifest()[idx])
        assert spark.read.parquet(gen_path).columns == ["id", "document"]
        assert not any(e.startswith("bucket=") for e in os.listdir(gen_path))
    assert not os.path.exists(legacy_path)  # superseded, dropped at publish


# -- ES retry/backoff parity (VERDICT r5 task 4) -------------------------------


def _reject_429(n_failures):
    """A fake _post_bulk failing the first n_failures calls with 429 items."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import BulkItemError

    calls = {"n": 0}

    def post(url, body, timeout_s):
        calls["n"] += 1
        if calls["n"] <= n_failures:
            raise BulkItemError("bulk response reported item failures", (429,))
        return 200

    post.calls = calls
    return post


def test_backoff_schedule_matches_reference():
    """streaming_bulk(initial_backoff=30, max_backoff=200, max_retries=10)
    -> 30, 60, 120 then 200 capped, ten delays (flows/main_flow.py:420-421)."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        backoff_schedule,
    )

    sched = backoff_schedule(EsSinkConfig(nodes="x"))
    assert sched == [30.0, 60.0, 120.0] + [200.0] * 7
    assert len(sched) == 10  # reference es_max_retries


def test_retrying_post_sleeps_the_reference_schedule():
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        make_retrying_post,
    )

    slept: list[float] = []
    post = _reject_429(3)
    retrying = make_retrying_post(
        EsSinkConfig(nodes="x"), post=post, sleep=slept.append
    )
    assert retrying("u", b"", 30) == 200
    assert slept == [30.0, 60.0, 120.0]
    assert post.calls["n"] == 4


def test_retrying_post_exhausts_then_raises_and_nonretryable_is_immediate():
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        BulkItemError,
        EsSinkConfig,
        make_retrying_post,
    )

    slept: list[float] = []
    retrying = make_retrying_post(
        EsSinkConfig(nodes="x", retries=3), post=_reject_429(99),
        sleep=slept.append,
    )
    with pytest.raises(BulkItemError):
        retrying("u", b"", 30)
    assert slept == [30.0, 60.0, 120.0]  # retries exhausted, then re-raise

    # a mapping error (400) must NOT be retried
    def post_400(url, body, timeout_s):
        raise BulkItemError("bulk response reported item failures", (400,))

    slept.clear()
    retrying = make_retrying_post(
        EsSinkConfig(nodes="x"), post=post_400, sleep=slept.append
    )
    with pytest.raises(BulkItemError):
        retrying("u", b"", 30)
    assert slept == []


def test_retrying_post_schedule_restarts_on_each_call():
    """Each call runs the whole 429 schedule afresh: an exhausted schedule
    fails the chunk (and so the task), and a replay of that chunk starts
    again from the first delay."""
    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        BulkItemError,
        EsSinkConfig,
        make_retrying_post,
    )

    slept: list[float] = []
    post = _reject_429(3)
    retrying = make_retrying_post(
        EsSinkConfig(nodes="x", retries=1), post=post, sleep=slept.append
    )
    # call 1: the post fails, its one retry (30s) fails -> re-raise
    with pytest.raises(BulkItemError):
        retrying("u", b"", 30)
    assert slept == [30.0]
    # call 2: the post fails (3rd failure), the retry lands
    assert retrying("u", b"", 30) == 200
    assert slept == [30.0, 30.0]
    assert post.calls["n"] == 4


def test_rest_429s_retry_over_real_http(spark, es_stub):
    """End to end over a live listener: a server that 429-rejects the first
    two bulk posts sees exactly three attempts and the docs land."""
    import http.server
    import threading

    state = {"posts": 0}

    class Flaky(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            state["posts"] += 1
            if state["posts"] <= 2:
                resp = json.dumps({
                    "errors": True,
                    "items": [{"index": {"_id": "d0", "status": 429,
                                          "error": {"type": "es_rejected_execution_exception"}}}],
                }).encode()
            else:
                resp = json.dumps({"errors": False, "items": []}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):
            pass

    from prefect_flow_arc_indexer_spark.pipeline.es_sink import (
        EsSinkConfig,
        write_upserts_rest,
    )

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Flaky)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        cfg = EsSinkConfig(
            nodes=f"127.0.0.1:{srv.server_address[1]}",
            # compressed schedule: same shape, test-speed delays
            initial_backoff_s=0.01, max_backoff_s=0.02,
        )
        df = spark.createDataFrame(
            [("idx_retry", "1", '{"v": 1}')],
            "_index string, id string, _source string",
        ).coalesce(1)
        write_upserts_rest(df, cfg)
        assert state["posts"] == 3
    finally:
        srv.shutdown()


def test_unescape_partition_value():
    from prefect_flow_arc_indexer_spark.pipeline.runner import (
        _unescape_partition_value as un,
    )

    assert un("a%3Ab") == "a:b"
    assert un("plain") == "plain"
    assert un("sp%20ace%2Fslash") == "sp ace/slash"
    assert un("50%") == "50%"          # trailing bare percent stays literal
    assert un("%zz") == "%zz"          # invalid hex stays literal


# -- time travel (retained generations) ----------------------------------------


def test_time_travel_read_as_of_and_retention(spark, tmp_path):
    sink = VersionedSink(str(tmp_path / "tsink"))
    for day, val in (("01", 1), ("02", 2), ("03", 3)):
        df = spark.createDataFrame(
            [(str(i), f'{{"v": {val}}}') for i in range(val)],
            "id string, document string",
        )
        ts = f"2024-01-{day}t00.00.00"
        gen = sink.write_generation(df, "alpha", ts)
        sink.publish("alpha", gen, drop_old=False)  # retention mode

    # current read = newest generation
    assert sink.read_alias(spark, "alpha").count() == 3
    # AS OF the middle day -> the 2-row generation
    mid = sink.read_as_of(spark, "alpha", "2024-01-02t12.00.00")
    assert mid.count() == 2
    # AS OF exactly a generation timestamp includes it
    assert sink.read_as_of(spark, "alpha", "2024-01-01t00.00.00").count() == 1
    # pre-history raises
    with pytest.raises(KeyError, match="no generation"):
        sink.read_as_of(spark, "alpha", "2023-12-31t23.59.59")

    # retention keeps the newest 2; the oldest becomes unreadable
    dropped = sink.retain("alpha", keep=2)
    assert dropped == ["alpha_2024-01-01t00.00.00"]
    with pytest.raises(KeyError):
        sink.read_as_of(spark, "alpha", "2024-01-01t12.00.00")
    assert sink.read_as_of(spark, "alpha", "2024-01-02t12.00.00").count() == 2
    assert sink.read_alias(spark, "alpha").count() == 3


def test_time_travel_prefix_alias_isolation(spark, tmp_path):
    """Generations of alias 'a_b' must not leak into alias 'a' history
    (the name format is alias_{ts}; the parse-validate guard filters)."""
    sink = VersionedSink(str(tmp_path / "psink"))
    df = spark.createDataFrame([("1", "{}")], "id string, document string")
    sink.publish("a", sink.write_generation(df, "a", "2024-01-01t00.00.00"),
                 drop_old=False)
    sink.publish("a_b", sink.write_generation(df, "a_b", "2024-01-02t00.00.00"),
                 drop_old=False)
    assert sink.generations_of("a") == ["a_2024-01-01t00.00.00"]
    assert sink.generations_of("a_b") == ["a_b_2024-01-02t00.00.00"]


def test_cli_keep_generations_enables_time_travel(spark, tmp_path, capsys):
    """--keep-generations N: publishes retain the superseded generation and
    the post-run retention bounds history — after a full sync plus one
    incremental merge, the pre-merge state is still readable AS OF its
    generation timestamp."""
    from datetime import datetime as dt

    from prefect_flow_arc_indexer_spark.__main__ import main
    from prefect_flow_arc_indexer_spark.pipeline.sinks import TS_FORMAT

    src = str(tmp_path / "src")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    base = [("alpha", i, f'{{"v": {i}}}', t0) for i in (1, 2, 3)]
    _write_events(spark, f"{src}/events.parquet", base)
    argv = [
        "--source", src,
        "--sink-dir", str(tmp_path / "sink"),
        "--or-ids", "alpha",
        "--keep-generations", "5",
    ]
    assert main([*argv, "--full-sync"]) == 0
    capsys.readouterr()
    _write_events(
        spark,
        f"{src}/events.parquet",
        base + [("alpha", 4, '{"v": 4}', datetime(2030, 1, 1))],
    )
    assert main(argv) == 0
    capsys.readouterr()

    sink = VersionedSink(str(tmp_path / "sink"))
    gens = sink.generations_of("alpha")
    assert len(gens) == 2  # both survived (keep 5)
    assert sink.read_alias(spark, "alpha").count() == 4
    first_ts = dt.strptime(gens[0][len("alpha_"):], TS_FORMAT)
    assert sink.read_as_of(spark, "alpha", first_ts).count() == 3


def test_unescape_roundtrips_sparks_own_partition_escaping(spark, tmp_path):
    """Write a partitioned frame with hostile index values and decode the
    directory names Spark actually produced — parity with escapePathName
    itself, not with our mental model of it."""
    import os

    from prefect_flow_arc_indexer_spark.pipeline.runner import (
        _unescape_partition_value as un,
    )

    vals = ["plain", "a:b", "sp ace", "a/b", "a%b", "a=b", "100%", "q?m",
            "a%3Ab"]  # the last: a value that LOOKS pre-escaped
    df = spark.createDataFrame([(v, 1) for v in vals], "index string, v int")
    out = str(tmp_path / "p")
    df.write.partitionBy("index").parquet(out)
    decoded = {
        un(e[len("index="):])
        for e in os.listdir(out)
        if e.startswith("index=")
    }
    assert decoded == set(vals)
