"""The ``sync`` workload: full and incremental syncs through the CLI.

Inputs come from ``syncgen`` (generated once per seed, then cached). The
mirror target is ``esstub.EsStub`` on localhost. After set-up, a warm-up full
sync and incremental cycle run on the smallest index alone, against a sink
and a stub of their own. Then rounds run until ``--seconds`` have gone by;
a round is one ``--full-sync`` ``main()`` call and one incremental ``main()``
call per generated cycle, each on the snapshot landed just before it, in one
persistent sink and stub. Every op is checked: the published generations and
the stub's alias contents must both equal the live set DuckDB derives from
the landed source, and the report's counts, skips, rebuilds, reconcile flags
and watermark must be the expected ones.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import time
from datetime import datetime

import checks
import syncgen
from esstub import EsStub

WARM_INDEX = syncgen.INDEXES[-1]
WM_FORMAT = "%Y-%m-%d %H:%M:%S.%f"


def _watermark(sink: str) -> datetime | None:
    try:
        with open(os.path.join(sink, "watermarks.json")) as f:
            return datetime.strptime(json.load(f)["default"], WM_FORMAT)
    except FileNotFoundError:
        return None


def _generations(sink: str) -> dict[str, str]:
    try:
        with open(os.path.join(sink, "manifest.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _files(path: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")
    ]


class Target:
    """One sink directory and one stub: the state a series of ops builds."""

    def __init__(self, state: str) -> None:
        self.source = os.path.join(state, "source")
        self.sink = os.path.join(state, "sink")
        self.stub = EsStub()
        self.url = self.stub.start()


def sync_op(ctx, target: Target, snapshot: str, cycle: int, only: str | None = None) -> dict:
    """Land ``cycle``'s snapshot, run ``main()`` on it, check the outcome."""
    from prefect_flow_arc_indexer_spark.__main__ import main as cli_main

    wm_prev = _watermark(target.sink)
    landed = syncgen.land(snapshot, cycle, wm_prev, target.source, only)
    before_gens = _generations(target.sink)
    before = target.stub.counters()
    argv = ["--source", target.source, "--sink-dir", target.sink,
            "--es-nodes", target.url] + (["--full-sync"] if cycle == 0 else [])
    op = f"{ctx.attempted}:{'full' if cycle == 0 else 'incr'}{cycle}"
    buf = io.StringIO()
    problems: list[str] = []
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("cli", op=op), contextlib.redirect_stdout(buf):
            cli_main(argv)
    except Exception as exc:
        problems.append(f"raised {type(exc).__name__}: {str(exc)[:200]}")
    wall = time.perf_counter() - t0

    expected = checks.expected_live(os.path.join(target.source, "events.parquet"))
    cycles = landed.column("cycle").to_pylist()
    delta: dict[str, int] = {}
    for index, c in zip(landed.column("event_type").to_pylist(), cycles):
        if cycle and c == cycle:
            delta[index] = delta.get(index, 0) + 1
    rebuilt = [syncgen.DRIFT_INDEX] if (
        cycle and syncgen.CYCLES[cycle - 1] == "drift" and syncgen.DRIFT_INDEX in expected
    ) else []
    if cycle == 0:
        want_written = {i: len(d) for i, d in expected.items()}
    else:
        want_written = {i: len(expected[i]) if i in rebuilt else n for i, n in delta.items()}
    want = {
        "written": want_written,
        "skipped": sorted(set(expected) - set(delta)) if cycle else [],
        "rebuilt": rebuilt,
        "full": cycle == 0,
    }
    if not problems:
        lines = buf.getvalue().strip().splitlines()
        report = json.loads(lines[-1]) if lines else {}
        problems += checks.check_report(report, want)
        wm = _watermark(target.sink)
        if wm is None or (wm_prev is not None and wm <= wm_prev):
            problems.append(f"watermark {wm_prev} -> {wm} did not advance")
        problems += checks.compare_live("sink", checks.published_live(target.sink), expected)
        problems += checks.compare_live(
            "mirror", {i: target.stub.contents(i) for i in expected}, expected
        )
    ctx.record(op, problems)

    after = target.stub.counters()
    new_gens = [g for a, g in _generations(target.sink).items() if before_gens.get(a) != g]
    files = [f for g in new_gens for f in _files(os.path.join(target.sink, g))]
    return {
        "op": op, "wall": wall, "full": cycle == 0,
        "changed_rows": sum(delta.values()),
        "stub": {k: after[k] - before[k] for k in after},
        "files_written": len(files),
        "mb_written": sum(os.path.getsize(f) for f in files) / 1e6,
        "spans": ctx.tracer.collect(op) if ctx.tracer.enabled else [],
    }


def sink_bytes_per_doc(sink: str) -> float:
    gens = _generations(sink).values()
    size = sum(os.path.getsize(f) for g in gens for f in _files(os.path.join(sink, g)))
    return size / sum(len(d) for d in checks.published_live(sink).values())


def run(ctx) -> dict:
    from prefect_flow_arc_indexer_spark.sources.parquet import index_documents

    snaps = syncgen.snapshots(ctx.cache, ctx.seed)
    warm, main = Target(os.path.join(ctx.state, "warm")), Target(ctx.state)
    try:
        syncgen.land(snaps[0], 0, None, main.source)
        ctx.setup(lambda spark: index_documents(spark, main.source).schema)
        for cycle in (0, 1):
            ctx.cold_setup += sync_op(ctx, warm, snaps[cycle], cycle, only=WARM_INDEX)["wall"]
        ctx.log("warm-up ops done")
        if ctx.tracer.enabled:
            _wrap(ctx.tracer)
        out = {"passes": [], "ops": {}, "rounds": []}
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < ctx.seconds:
            ops = [sync_op(ctx, main, snaps[c], c) for c in range(len(snaps))]
            out["rounds"].append(ops)
            out["passes"].append(sum(o["wall"] for o in ops))
            for c, o in enumerate(ops):
                out["ops"].setdefault(f"cycle{c}", []).append(o["wall"])
        ctx.log(f"{len(out['rounds'])} timed rounds done")
        out["sink_bytes_per_doc"] = sink_bytes_per_doc(main.sink)
        ctx.tracer.unwrap()
        return out
    finally:
        warm.stub.stop()
        main.stub.stop()


def _wrap(tracer) -> None:
    from prefect_flow_arc_indexer_spark import session
    from prefect_flow_arc_indexer_spark.pipeline import es_sink, runner
    from prefect_flow_arc_indexer_spark.pipeline.sinks import VersionedSink
    from prefect_flow_arc_indexer_spark.sources import parquet as sources

    tracer.wrap(session, "get_spark", "session")
    for fn in ("load_table", "index_documents"):
        tracer.wrap(sources, fn, "sources")
    for fn in ("full_sync", "incremental_sync"):
        tracer.wrap(runner, fn, "runner")
    tracer.wrap(VersionedSink, "write_generation", "sinks.write")
    tracer.wrap(VersionedSink, "publish", "sinks.publish")
    for fn, layer in (("write_upserts_rest", "es_sink.upsert"),
                      ("write_deletes", "es_sink.delete"),
                      ("swap_alias", "es_sink.swap"),
                      ("count_index", "es_sink.reconcile")):
        tracer.wrap(es_sink, fn, layer)
