"""Steadiness check: two sets of runs per workload, alternating.

    python3 perfbench/steady.py [--runs 10] [--workloads sync,queries] [--out FILE]

Run ``i`` of set A uses seed ``1000 + i`` and run ``i`` of set B seed
``2000 + i``; each step runs every workload once for A and once for B, and
which set goes first alternates from step to step. For each set, workload and
metric it prints the median, the quartiles (``statistics.quantiles(n=4)``)
and the quartile spread as a share of the median; then, per metric, how far
set B's median lies from set A's, next to the bound in ``BENCHMARK.json``.
Every run lasts ``run_seconds`` of ``BENCHMARK.json`` and is untraced, as the
bounds speak of those runs. ``--out`` also writes every run's result line as
JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--out")
    args = p.parse_args()
    workloads = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results: dict[str, dict[str, list[dict]]] = {s: {w: [] for w in workloads} for s in "AB"}
    for i in range(args.runs):
        for s in ("AB" if i % 2 == 0 else "BA"):
            seed = (1000 if s == "A" else 2000) + i
            for w in workloads:
                res = one_run(w, seed, bench["run_seconds"])
                results[s][w].append(res)
                print(f"set {s} run {i} {w} seed {seed}: attempted {res['attempted']} "
                      f"failed {res['failed']}", flush=True)

    for w in workloads:
        print(f"\n== {w}")
        shares = {s: {r["failed"] / r["attempted"] for r in results[s][w]} for s in "AB"}
        print(f"failed share per run: A {sorted(shares['A'])}  B {sorted(shares['B'])}")
        medians = {}
        for s in "AB":
            for name in results[s][w][0]["metrics"]:
                vals = [r["metrics"][name]["value"] for r in results[s][w]]
                st = summary(vals)
                medians[(s, name)] = st["median"]
                print(f"set {s} {name:34s} median {st['median']:.4f}  q1 {st['q1']:.4f}  "
                      f"q3 {st['q3']:.4f}  spread {st['spread']:.3f}")
        for name in results["A"][w][0]["metrics"]:
            a, b = medians[("A", name)], medians[("B", name)]
            drift = (b - a) / a if a else 0.0
            bound = bounds.get(name)
            print(f"B vs A {name:34s} {drift:+.3f}" + (f"  bound {bound}" if bound else ""))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
