"""Per-layer metrics of a traced run, from the spans of its timed ops.

A layer's time is the self time of its spans: each span's duration minus
the part its child spans cover. Jobs count toward the span that was open when
they were submitted; stage and SQL counters are summed over the whole op.

Query workloads report each metric as the median over timed passes of its
per-pass total; ``sync`` as the median over rounds of its per-round total,
with ``runner.full_s``/``runner.incr_s`` taken per op kind and the
per-changed-row ratios over the incremental ops. A metric a workload never
reaches reads 0.
"""

from __future__ import annotations

import statistics
from collections import Counter

from spans import self_times

UNITS = {
    "setup.cold_s": "s", "session.start_s": "s", "session.get_s": "s",
    "sources.load_s": "s", "sources.load_jobs": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.peak_exec_mem_mb": "MB",
    "spark.core_busy": "ratio",
    "functions.python_s": "s", "functions.python_boot_s": "s",
    "functions.arrow_mb": "MB",
    "runner.full_s": "s", "runner.incr_s": "s", "runner.jobs": "count",
    "sinks.write_s": "s", "sinks.write_jobs": "count", "sinks.mb_written": "MB",
    "sinks.files_written": "count", "sinks.publish_s": "s",
    "sinks.rows_written_per_changed_row": "ratio",
    "es_sink.upsert_s": "s", "es_sink.delete_s": "s", "es_sink.swap_s": "s",
    "es_sink.reconcile_s": "s", "es_sink.jobs": "count",
    "es_sink.bulk_requests": "count", "es_sink.bulk_mb": "MB",
    "es_sink.docs_shipped_per_changed_doc": "ratio",
    "cli.self_s": "s",
    "sync.full_s": "s", "sync.incr_s": "s", "sync.sink_bytes_per_doc": "bytes",
    "queries.corpus_s": "s", "queries.tables_s": "s",
    "queries.corpus_python_s": "s", "queries.tables_python_s": "s",
    "trace.unattributed_s": "s", "trace.self_sum_error": "ratio",
}

# span layer -> (self-time metric, job-count metric); every layer a span can
# carry is here, so every second of an op lands in one reported metric
_LAYER_METRICS = {
    "op": ("trace.unattributed_s", None),
    "session": ("session.get_s", None),
    "sources": ("sources.load_s", "sources.load_jobs"),
    "operators": ("operators.build_s", "operators.build_jobs"),
    "spark.plan": ("spark.plan_s", None),
    "spark.exec": ("spark.exec_s", None),
    "runner": ("runner.self_s", "runner.jobs"),
    "sinks.write": ("sinks.write_s", "sinks.write_jobs"),
    "sinks.publish": ("sinks.publish_s", None),
    "es_sink.upsert": ("es_sink.upsert_s", "es_sink.jobs"),
    "es_sink.delete": ("es_sink.delete_s", "es_sink.jobs"),
    "es_sink.swap": ("es_sink.swap_s", "es_sink.jobs"),
    "es_sink.reconcile": ("es_sink.reconcile_s", "es_sink.jobs"),
    "cli": ("cli.self_s", None),
}
_TIME_METRICS = {t for t, _ in _LAYER_METRICS.values()}
_PEAKS = ("spark.peak_exec_mem_mb",)


def op_totals(spans: list[dict], wall: float) -> tuple[Counter, float]:
    """One op's layer totals, and how far the layer times it reports miss
    its wall (measured outside its spans)."""
    own = self_times(spans)
    m: Counter = Counter()
    for s in spans:
        time_metric, job_metric = _LAYER_METRICS[s["layer"]]
        m[time_metric] += own[s["id"]]
        if s["layer"] == "sinks.write":
            m["sinks.output_rows"] += s["metrics"].get("spark.output_rows", 0)
        if job_metric:
            m[job_metric] += s["metrics"]["jobs"]
        m["spark.jobs"] += s["metrics"]["jobs"]
        for k, v in s["metrics"].items():
            if k in _PEAKS:
                m[k] = max(m[k], v)
            elif k.startswith(("spark.", "functions.")):
                m[k] += v
    m["wall"] += wall
    return m, abs(sum(m[k] for k in _TIME_METRICS) - wall) / wall


def _median_totals(groups: list[list[Counter]]) -> dict[str, float]:
    """Sum each group (a pass or a round), then take the median per metric."""
    totals = []
    for g in groups:
        t: Counter = Counter()
        for m in g:
            for k, v in m.items():
                t[k] = max(t[k], v) if k in _PEAKS else t[k] + v
        totals.append(t)
    keys = set().union(*totals) if totals else set()
    return {k: statistics.median(t.get(k, 0.0) for t in totals) for k in keys}


def per_layer(ctx, out: dict) -> dict:
    metrics = {k: 0.0 for k in UNITS}
    errors = []
    if "rounds" in out:
        groups, full, incr = [], [], []
        for rnd in out["rounds"]:
            g = []
            for o in rnd:
                m, err = op_totals(o["spans"], o["wall"])
                errors.append(err)
                m["es_sink.bulk_requests"] = o["stub"]["bulk_requests"]
                m["es_sink.bulk_mb"] = o["stub"]["bulk_bytes"] / 1e6
                m["sinks.files_written"] = o["files_written"]
                m["sinks.mb_written"] = o["mb_written"]
                g.append(m)
                (full if o["full"] else incr).append((o, m))
            groups.append(g)
        metrics.update(_median_totals(groups))
        metrics["runner.full_s"] = statistics.median(m["runner.self_s"] for _, m in full)
        metrics["runner.incr_s"] = statistics.median(m["runner.self_s"] for _, m in incr)
        metrics["sync.full_s"] = statistics.median(o["wall"] for o, _ in full)
        metrics["sync.incr_s"] = statistics.median(o["wall"] for o, _ in incr)
        changed = sum(o["changed_rows"] for o, _ in incr)
        metrics["sinks.rows_written_per_changed_row"] = (
            sum(m["sinks.output_rows"] for _, m in incr) / changed
        )
        metrics["es_sink.docs_shipped_per_changed_doc"] = sum(
            o["stub"]["bulk_index_items"] + o["stub"]["bulk_delete_items"] for o, _ in incr
        ) / changed
        metrics["sync.sink_bytes_per_doc"] = out["sink_bytes_per_doc"]
    else:
        groups = []
        for pass_ops in out["pass_ops"]:
            g = []
            for _op, wall, spans, family in pass_ops:
                m, err = op_totals(spans, wall)
                m[f"queries.{family}_s"] += wall
                m[f"queries.{family}_python_s"] += m["functions.python_s"]
                errors.append(err)
                g.append(m)
            groups.append(g)
        metrics.update(_median_totals(groups))
    metrics["spark.core_busy"] = metrics["spark.executor_run_s"] / (metrics["wall"] * ctx.cores)
    metrics["setup.cold_s"] = ctx.cold_setup
    metrics["session.start_s"] = ctx.session_starts[0]
    metrics["trace.self_sum_error"] = max(errors)
    return {k: (metrics[k], u) for k, u in UNITS.items()}
