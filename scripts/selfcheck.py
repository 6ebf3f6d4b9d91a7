"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle on the same
parquet dir, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified with
float canonicalization). Run:

    python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from prefect_flow_arc_indexer_spark.plans import all_queries
from prefect_flow_arc_indexer_spark.session import get_spark
from prefect_flow_arc_indexer_spark.sources.parquet import TABLES


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_signature(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), sorted(cols), h


# JavaUtils.byteStringAs suffixes; a bare number is MiB for
# spark.driver.memory, which SPARK_GRAFT_DRIVER_MEM sets (session.py)
_UNITS = {"": 1 << 20, "b": 1} | {
    u + b: 1 << (10 * i) for i, u in enumerate("kmgtp", 1) for b in ("", "b")
}

# q_pagerank's recursive-CTE oracle fails at a 3950 MB limit (3.6 GiB
# accounted) and passes at 5300 MB, though it peaks under 1 GB of RSS
# without a limit; no cap goes below this
_ORACLE_FLOOR = 6 << 30


def machine_memory() -> int:
    """Physical memory in bytes, or the cgroup v2 limit when lower."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            total = min(total, int(f.read()))
    except (OSError, ValueError):  # no cgroup v2 limit ("max") here
        pass
    return total


def duckdb_memory_limit(total: int, heap: str) -> str | None:
    """DuckDB's ``memory_limit`` beside a Spark driver with heap ``heap``
    on a machine of ``total`` bytes, or None to keep DuckDB's default of
    80% of memory.

    The default stands when it fits beside the heap and 2 GiB for the
    JVM's off-heap use, the Python workers and this process's own objects.
    It does not on a 15 GB machine with the 8 GB default heap, where an
    sf1 sweep was killed; there the limit is the memory left after both,
    but at least ``_ORACLE_FLOOR``. Above the limit DuckDB spills to disk.
    A heap value Spark would not parse keeps the default.
    """
    m = re.fullmatch(r"(\d+)([a-z]*)", heap.strip().lower())
    if m is None or m.group(2) not in _UNITS:
        return None
    left = total - int(m.group(1)) * _UNITS[m.group(2)] - (2 << 30)
    cap = max(_ORACLE_FLOOR, left)
    return None if cap >= total * 0.8 else f"{cap >> 20}MB"


def main() -> int:
    args = sys.argv[1:]
    json_path = None
    skip: set[str] = set()
    for a in list(args):
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
            args.remove(a)
        elif a.startswith("--skip="):
            # collect-too-big results (e.g. q_simhash_pairs at sf1) get the
            # distributed-checksum gate via scripts/verify_bigresult.py
            # instead; each skipped name is recorded as a {"mode":
            # "skipped"} entry (excluded from n_queries/n_pass) so the
            # emitted artifact is self-describing rather than silently
            # narrower than a full run (ADVICE r9)
            skip |= set(a.split("=", 1)[1].split(","))
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    spark = get_spark("selfcheck")
    limit = duckdb_memory_limit(
        machine_memory(), os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    con = duckdb.connect(config={"memory_limit": limit} if limit else {})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    def _release_all() -> None:
        """Per-query storage hygiene: internal persist() caches and
        localCheckpoint blocks (invisible to df.unpersist and never
        reclaimed by the ContextCleaner from PySpark — functions/
        caching.py) would otherwise accumulate over a 257-query sweep and
        pressure the executors by the tail queries."""
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        sc = spark.sparkContext._jsc.sc()
        ids = sc.getPersistentRDDs().keys().toList()
        for i in range(ids.size()):
            try:
                sc.unpersistRDD(ids.apply(i), False)
            except Exception:
                pass

    failures = 0
    for name, rq in sorted(all_queries().items()):
        if only and name not in only:
            continue
        if name in skip:
            print(f"skip  {name}: excluded via --skip "
                  "(see verify_bigresult.py for its distributed gate)")
            results[name] = {
                "mode": "skipped",
                "note": "excluded via --skip; verify with "
                "scripts/verify_bigresult.py",
            }
            continue
        _release_all()
        t0 = time.time()
        try:
            sdf = rq.builder(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            ssig = frame_signature(scols, srows)
        except Exception as e:
            if "maxResultSize" in str(e) and rq.oracle is not None:
                # legitimately collect-too-big result (e.g. q_simhash_pairs
                # at sf1: 175.6M pairs) — apply the same gate shape
                # distributed: count + 32-bit row-checksum sum + numeric
                # column sums on both engines, no driver collect
                sys.path.insert(0, str(Path(__file__).resolve().parent))
                from verify_bigresult import checksum_gate

                try:
                    srow, drow = checksum_gate(
                        rq.builder(spark, sf_dir), rq.oracle, con
                    )
                except Exception as e2:
                    print(f"FAIL  {name}: checksum fallback error: {e2}")
                    results[name] = {"mode": "oracle-distributed-checksum",
                                     "pass": False,
                                     "err": f"checksum: {e2}"[:300]}
                    failures += 1
                    continue
                ok = srow == drow
                results[name] = {
                    "mode": "oracle-distributed-checksum",
                    "pass": ok,
                    "spark_rows": srow[0],
                    "oracle_rows": drow[0],
                    "note": "collect exceeded spark.driver.maxResultSize; "
                    "verified via scripts/verify_bigresult.py's "
                    "checksum_gate (count + 32-bit row-checksum sum + "
                    "numeric column sums, both engines, no collect)",
                    "secs": round(time.time() - t0, 1),
                }
                if ok:
                    print(f"ok    {name}: distributed checksum "
                          f"{srow[0]} rows match ({time.time()-t0:.1f}s)")
                else:
                    failures += 1
                    print(f"FAIL  {name}: checksum spark={srow} duck={drow}")
                continue
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"mode": "oracle" if rq.oracle else "rows-only",
                             "pass": False, "err": f"spark: {e}"[:300]}
            failures += 1
            continue
        if rq.oracle is None:
            print(f"ok    {name}: rows-only ({ssig[0]} rows, {time.time()-t0:.1f}s)")
            results[name] = {"mode": "rows-only", "pass": True,
                             "spark_rows": ssig[0],
                             "secs": round(time.time() - t0, 1)}
            continue
        try:
            res = con.execute(rq.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            dsig = frame_signature(dcols, drows)
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            results[name] = {"mode": "oracle", "pass": False,
                             "err": f"duckdb: {e}"[:300]}
            failures += 1
            continue
        results[name] = {
            "mode": "oracle",
            "pass": ssig == dsig,
            "rows_match": ssig[0] == dsig[0],
            "schema_match": ssig[1] == dsig[1],
            "hash_match": ssig[2] == dsig[2],
            "spark_rows": ssig[0],
            "oracle_rows": dsig[0],
            "secs": round(time.time() - t0, 1),
        }
        if ssig == dsig:
            print(f"ok    {name}: {ssig[0]} rows match ({time.time()-t0:.1f}s)")
        else:
            failures += 1
            print(f"FAIL  {name}:")
            print(f"      spark  rows={ssig[0]} cols={ssig[1]} hash={ssig[2]}")
            print(f"      duckdb rows={dsig[0]} cols={dsig[1]} hash={dsig[2]}")
            if ssig[0] and dsig[0] and ssig[0] < 50 and dsig[0] < 50:
                print(f"      spark sample: {srows[:3]}")
                print(f"      duck  sample: {drows[:3]}")
    spark.stop()
    if json_path:
        import json as _json

        run = {n: r for n, r in results.items() if r["mode"] != "skipped"}
        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(run),
            "n_pass": sum(1 for r in run.values() if r["pass"]),
            "n_fail": failures,
            "n_skipped": len(results) - len(run),
            "queries": results,
        }
        Path(json_path).write_text(_json.dumps(summary, indent=1, sort_keys=True))
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
