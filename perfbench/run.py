"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {sync,queries} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The program is driven only through its
public functions (``__main__.main``, the registered query builders,
``session.get_spark``, ``sources.parquet``). ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` wraps the program's public calls in spans
(``spans.py``) and prints the per-layer metrics instead. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "prefect_flow_arc_indexer_spark"
SF_DIR = os.path.join(HERE, "data", "sf0.01")
SETUPS = 3  # set-ups per run; setup_s is their median
MAX_CORES = 4
T0 = time.perf_counter()


def _environment() -> dict[str, str]:
    """Pin cores, keep Spark's and Python's scratch files inside the
    checkout, and let Python workers import the package."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # the JVM that builds Spark's launch command would otherwise write
        # /tmp/hsperfdata_<user>; the driver JVM gets the same flag below
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the traced run reads jobs and stages back after every op
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


class Context:
    """What a workload gets: the session, the tracer, the op counters."""

    def __init__(self, args, confs: dict[str, str]) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.confs = confs
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.state = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.cache = os.path.join(ROOT, ".perfbench", "cache")
        self.sf_dir = SF_DIR
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.tracer = None
        self.session_starts: list[float] = []
        self.setups: list[float] = []
        self.cold_setup = 0.0  # the first set-up, and on sync its warm-up ops

    def start_session(self):
        from prefect_flow_arc_indexer_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_confs=self.confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_starts.append(time.perf_counter() - t0)
        return self.spark

    def setup(self, register) -> None:
        """Set up ``SETUPS`` times: session start, source registration
        (``register(spark)``) and a fixed warm-up job. Every set-up but the
        last is torn down again; the JVM stays, as it would for a service."""
        for n in range(SETUPS):
            if n:
                self.spark.stop()
            t0 = time.perf_counter()
            spark = self.start_session()
            register(spark)
            spark.range(1_000_000).selectExpr("sum(id)").collect()
            self.setups.append(time.perf_counter() - t0)
            self.log(f"set-up {n + 1} took {self.setups[-1]:.2f}s")
        self.cold_setup = self.setups[0]
        from spans import Tracer

        self.tracer = Tracer(self.spark, self.traced)

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - T0:7.2f}s {what}", file=sys.stderr, flush=True)

    def record(self, op: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{op}: {p}" for p in problems[:5])

    def release(self) -> None:
        """Drop caches and checkpoints an op left behind, outside timing."""
        spark = self.spark
        spark.catalog.clearCache()
        sc = spark.sparkContext._jsc.sc()
        ids = sc.getPersistentRDDs().keys().toList()
        for i in range(ids.size()):
            sc.unpersistRDD(ids.apply(i), False)

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        self.spark = None


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(ctx: Context, out: dict) -> dict:
    """``out``: ``passes`` (wall of each timed pass) and ``ops`` (op name ->
    list of timed walls)."""
    return {
        "setup_s": (statistics.median(ctx.setups), "s"),
        "pass_s": (statistics.median(out["passes"]), "s"),
        "op_geomean_s": (
            geomean(statistics.median(v) for v in out["ops"].values()), "s"
        ),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("sync", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(SF_DIR):
        print(f"perfbench: no {PACKAGE} package or input tables under {ROOT}",
              file=sys.stderr)
        return 2
    confs = _environment()
    sys.path.insert(0, ROOT)
    ctx = Context(args, confs)
    os.makedirs(ctx.state, exist_ok=True)
    try:
        if args.workload == "sync":
            import sync as workload
        else:
            import queries as workload
        out = workload.run(ctx)
        if ctx.traced:
            from layers import per_layer

            metrics = per_layer(ctx, out)
            ctx.tracer.dump(os.path.join(
                ROOT, ".perfbench", "spans", f"{args.workload}-s{args.seed}.jsonl"
            ))
        else:
            metrics = end_to_end(ctx, out)
    finally:
        ctx.stop()
        shutil.rmtree(ctx.state, ignore_errors=True)
    for line in ctx.problems:
        print(f"FAILED {line}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
