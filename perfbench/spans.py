"""Spans around the program's public calls, and Spark's own counters per span.

A span records a layer name, its parent, the op it belongs to and its start
and end. While a span is open its id is the thread's Spark job group, so
every job submitted inside it is attributed to it; after each op the jobs of
its spans are looked up in Spark's status store (stages, task metrics) and
its SQL executions in the SQL status store (Python UDF metrics). Spans stay
in memory and are written out when the run ends.

Nothing is added inside the package: :meth:`Tracer.wrap` replaces a public
function or method, for the traced run only, by one that opens a span around
the original call.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "prefect_flow_arc_indexer_spark"

# stage fields summed per op: StageData accessor -> (metric, scale to unit)
_STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.jvm_gc_s", 1e-3),
    "inputBytes": ("spark.input_mb", 1e-6),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1e-6),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1e-6),
    "memoryBytesSpilled": ("spark.spill_mb", 1e-6),
    "diskBytesSpilled": ("spark.spill_mb", 1e-6),
    "numTasks": ("spark.tasks", 1),
    "outputRecords": ("spark.output_rows", 1),
}

# SQL metrics of the Python/Arrow operators, by display name
_PY_METRICS = {
    "time to run python workers": ("functions.python_s", "time"),
    "time to start python workers": ("functions.python_boot_s", "time"),
    "time to initialize python workers": ("functions.python_boot_s", "time"),
    "data sent to python workers": ("functions.arrow_mb", "size"),
    "data returned from python workers": ("functions.arrow_mb", "size"),
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1e-6, "KiB": 1024e-6, "MiB": 1024**2 * 1e-6,
               "GiB": 1024**3 * 1e-6, "TiB": 1024**4 * 1e-6}


def parse_sql_metric(text: str, kind: str) -> float:
    """Total of an aggregated SQL metric string, as the SQL status store
    renders it: ``"total (min, med, max ...)\\n1.2 s (...)"`` or ``"1.2 s"``."""
    line = text.split("\n")[-1].split(" (")[0].strip().replace(",", "")
    value, _, unit = line.partition(" ")
    units = _TIME_UNITS if kind == "time" else _SIZE_UNITS
    return float(value) * units.get(unit, 1.0)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self._executions_seen = 0

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "id": sid, "parent": parent, "layer": layer,
            "op": op if op is not None or parent is None else self.spans[parent]["op"],
            "group": f"perfbench-{sid}", "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(rec["group"], layer)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                up = self.spans[self._stack[-1]]
                sc.setJobGroup(up["group"], up["layer"])
            else:
                sc._jsc.clearJobGroup()

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Open a ``layer`` span around every call of ``owner.attr``. A
        module-level function is replaced in every package module that
        imported it by name."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(layer):
                return original(*args, **kwargs)

        targets = [owner]
        if isinstance(owner, type(sys)):
            targets = [
                m for name, m in list(sys.modules.items())
                if name.startswith(PACKAGE) and getattr(m, attr, None) is original
            ]
        for t in targets:
            self._patched.append((t, attr, original))
            setattr(t, attr, traced)

    def unwrap(self) -> None:
        for t, attr, original in reversed(self._patched):
            setattr(t, attr, original)
        self._patched.clear()

    # -- attribution ------------------------------------------------------
    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and "metrics" not in s]

    def collect(self, op: str) -> list[dict]:
        """Attach job and stage counters to the spans of ``op`` (call after
        the op ends, outside its timed window) and return them."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        spans = self.op_spans(op)
        job_span: dict[int, dict] = {}
        for s in spans:
            s["metrics"] = {"jobs": 0, "spark.stages": 0}
            for job in tracker.getJobIdsForGroup(s["group"]):
                job_span[job] = s
                s["metrics"]["jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    if stage in self._seen_stages:
                        continue
                    self._seen_stages.add(stage)
                    try:
                        data = store.lastStageAttempt(stage)
                    except Exception:
                        continue  # never ran: skipped because its output was reused
                    if data.status().toString() != "COMPLETE":
                        continue
                    m = s["metrics"]
                    m["spark.stages"] += 1
                    for field, (name, scale) in _STAGE_FIELDS.items():
                        m[name] = m.get(name, 0.0) + getattr(data, field)() * scale
                    peak = data.peakExecutionMemory() * 1e-6
                    m["spark.peak_exec_mem_mb"] = max(m.get("spark.peak_exec_mem_mb", 0.0), peak)
        self._collect_sql(job_span)
        return spans

    def _collect_sql(self, job_span: dict[int, dict]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        batch = sql.executionsList(self._executions_seen, 1 << 30)
        self._executions_seen += batch.size()
        for ex in _scala_iter(batch):
            eid = ex.executionId()
            owner = next(
                (job_span[j] for j in _scala_iter(ex.jobs().keys()) if j in job_span),
                None,
            )
            if owner is None:
                continue
            names = {}
            for pm in _scala_iter(ex.metrics()):
                key = pm.name().lower()
                if key in _PY_METRICS:
                    names[pm.accumulatorId()] = _PY_METRICS[key]
            if not names:
                continue
            for kv in _scala_iter(sql.executionMetrics(eid)):
                if kv._1() in names:
                    name, kind = names[kv._1()]
                    v = parse_sql_metric(kv._2(), kind)
                    owner["metrics"][name] = owner["metrics"].get(name, 0.0) + v

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out
