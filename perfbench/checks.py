"""Output checks made apart from the program.

Queries are compared with their DuckDB oracle through the order-insensitive
signature of ``scripts/selfcheck.py``; the five queries without an oracle are
held to a property their method must have, against exact values DuckDB
computes. Sync ops are compared with the live ``(id, document)`` set DuckDB
derives from the landed source. Every check returns a list of problems; an
empty list means the output is correct.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import importlib.util
import json
import os
from collections import Counter

import duckdb
import pyarrow.parquet as pq

from esstub import digest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _selfcheck():
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(ROOT, "scripts", "selfcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_signature(cols: list[str], rows: list[tuple]):
    """``scripts/selfcheck.py``'s order-insensitive result signature."""
    return _selfcheck().frame_signature(cols, rows)


# -- queries ----------------------------------------------------------------
def _within(est: float, exact: float, rel: float) -> bool:
    return abs(est - exact) <= rel * max(abs(exact), 1.0)


def _approx_distinct(con, rows, cores):
    exact = dict(con.execute(
        "SELECT o_orderstatus, count(DISTINCT o_custkey) FROM orders GROUP BY 1"
    ).fetchall())
    out = [] if len(rows) == len(exact) else [f"{len(rows)} groups, want {len(exact)}"]
    for r in rows:
        want = exact.get(r["o_orderstatus"])
        if r["exact_customers"] != want:
            out.append(f"{r['o_orderstatus']}: exact {r['exact_customers']} != {want}")
        elif not _within(r["approx_customers"], want, 0.03):  # rsd 0.01, 3 sigma
            out.append(f"{r['o_orderstatus']}: estimate {r['approx_customers']} vs {want}")
    return out


def _approx_percentiles(con, rows, cores):
    out = []
    groups = dict(con.execute(
        "SELECT l_returnflag, list(CAST(l_extendedprice AS DOUBLE) ORDER BY l_extendedprice) "
        "FROM lineitem GROUP BY 1"
    ).fetchall())
    if len(rows) != len(groups):
        out.append(f"{len(rows)} groups, want {len(groups)}")
    for r in rows:
        values = groups.get(r["l_returnflag"])
        if values is None or r["n"] != len(values):
            out.append(f"{r['l_returnflag']}: n {r['n']}")
            continue
        n = len(values)
        for q, col in ((0.25, "approx_p25"), (0.5, "approx_p50"), (0.75, "approx_p75")):
            # the estimate is a member whose rank is within 1/accuracy of q
            lo = bisect.bisect_left(values, float(r[col])) / n
            hi = bisect.bisect_right(values, float(r[col])) / n
            tol = 1e-4 + 1 / n  # relative error 1/accuracy, plus rank rounding
            if not (lo - tol <= q <= hi + tol):
                out.append(f"{r['l_returnflag']}: {col} rank [{lo:.4f}, {hi:.4f}]")
        k, f = divmod(0.5 * (n - 1), 1)
        median = values[int(k)] + f * (values[min(int(k) + 1, n - 1)] - values[int(k)])
        if not _within(float(r["exact_median"]), median, 1e-9):
            out.append(f"{r['l_returnflag']}: median {r['exact_median']} != {median}")
    return out


def _heavy_hitters(con, rows, cores):
    counts = dict(con.execute(
        "SELECT t, count(*) FROM (SELECT unnest(list_filter("
        "string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t "
        "FROM documents) GROUP BY t"
    ).fetchall())
    total = sum(counts.values())
    # Misra-Gries: each of at most `cores` partition summaries under-counts
    # a token by at most its stream length / (capacity + 1), capacity 64
    slack = total * cores / 65
    out = [] if len(rows) == min(10, len(counts)) else [f"{len(rows)} rows"]
    for r in rows:
        exact = counts.get(r["token"], 0)
        if not (exact - slack <= r["est_count"] <= exact):
            out.append(f"{r['token']}: estimate {r['est_count']}, exact {exact}")
    top = sorted(counts.values(), reverse=True)
    if rows and top and top[0] - slack > max(r["est_count"] for r in rows) + slack:
        out.append("most frequent token missing")
    return out


def _hll_merge(con, rows, cores):
    exact = dict(con.execute(
        "SELECT o_orderpriority, count(DISTINCT o_custkey) FROM orders GROUP BY 1"
    ).fetchall())
    exact["ALL"] = con.execute("SELECT count(DISTINCT o_custkey) FROM orders").fetchone()[0]
    out = [] if len(rows) == len(exact) else [f"{len(rows)} rows, want {len(exact)}"]
    for r in rows:
        want = exact.get(r["segment"])
        if want is None or (r["segment"] != "ALL" and r["exact_customers"] != want):
            out.append(f"{r['segment']}: exact {r['exact_customers']} != {want}")
        elif not _within(r["approx_customers"], want, 0.05):  # lg_k 12: rse 1.6 %
            out.append(f"{r['segment']}: estimate {r['approx_customers']} vs {want}")
    return out


def _audio_spectral(con, rows, cores):
    # per 64-sample window: one row per (doc, window), the dominant bin is a
    # non-DC bin of the 33-bin real FFT and the centroid lies inside the band
    out = []
    keys = Counter((r["doc_id"], r["window_idx"]) for r in rows)
    if not rows:
        out.append("no windows")
    if any(c > 1 for c in keys.values()):
        out.append("duplicate (doc_id, window_idx)")
    for r in rows:
        if not 1 <= r["dominant_bin"] <= 32 or not 0.0 <= r["centroid"] <= 32.0:
            out.append(f"{r['doc_id']}/{r['window_idx']}: {r['dominant_bin']}, {r['centroid']}")
            break
    docs = {d for d, _ in keys}
    for d in docs:
        windows = sorted(w for doc, w in keys if doc == d)
        if windows != list(range(len(windows))):
            out.append(f"doc {d}: windows not contiguous from 0")
            break
    return out


PROPERTIES = {
    "q_approx_distinct": _approx_distinct,
    "q_approx_percentiles": _approx_percentiles,
    "q_heavy_hitters": _heavy_hitters,
    "q_hll_merge": _hll_merge,
    "q_audio_spectral": _audio_spectral,
}


class QueryChecker:
    """Checks query results. Oracle signatures are kept in ``cache_dir``,
    keyed by the oracle's SQL and the input files' names and sizes, so a
    slow oracle runs once per checkout, not once per run."""

    def __init__(self, sf_dir: str, tables, oracles: dict[str, str], cores: int,
                 cache_dir: str) -> None:
        self.con = duckdb.connect()
        inputs = []
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            inputs.append(f"{t}:{os.path.getsize(path)}")
        self.oracles = oracles
        self.cores = cores
        self._inputs = ",".join(inputs)
        self._cache = cache_dir

    def oracle_signature(self, name: str) -> list:
        sql = self.oracles[name]
        key = hashlib.sha256(f"{self._inputs}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self._cache, "oracles", f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        res = self.con.execute(sql)
        sig = list(frame_signature([d[0] for d in res.description], res.fetchall()))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(sig, f)
        os.replace(path + ".tmp", path)
        return sig

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> list[str]:
        if name in self.oracles:
            got, want = list(frame_signature(cols, rows)), self.oracle_signature(name)
            return [] if got == want else [f"signature {got} != oracle {want}"]
        if name in PROPERTIES:
            return PROPERTIES[name](self.con, [dict(zip(cols, r)) for r in rows], self.cores)
        return ["no oracle and no property to check against"]


# -- sync -------------------------------------------------------------------
def expected_live(source_file: str) -> dict[str, dict[str, bytes]]:
    """``{index: {id: digest(document)}}`` of the live documents in a landed
    source, by the stand-in layout's tombstone rule."""
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(event_id AS VARCHAR), props "
        f"FROM read_parquet('{source_file}') WHERE event_id % 13 <> 0"
    ).fetchall()
    out: dict[str, dict[str, bytes]] = {}
    for index, doc_id, props in rows:
        out.setdefault(index, {})[doc_id] = digest(props.encode())
    return out


def published_live(sink_dir: str) -> dict[str, dict[str, bytes]]:
    """The same view of the sink: each alias's generation, found through the
    manifest and read with pyarrow."""
    with open(os.path.join(sink_dir, "manifest.json")) as f:
        manifest = json.load(f)
    out = {}
    for alias, gen in manifest.items():
        t = pq.read_table(os.path.join(sink_dir, gen), columns=["id", "document"])
        out[alias] = {
            i: digest(d.encode())
            for i, d in zip(t["id"].to_pylist(), t["document"].to_pylist())
        }
    return out


def compare_live(where: str, got: dict, want: dict) -> list[str]:
    out = []
    for index in sorted(set(got) | set(want)):
        g, w = got.get(index, {}), want.get(index, {})
        if g == w:
            continue
        missing = len(w.keys() - g.keys())
        extra = len(g.keys() - w.keys())
        changed = sum(1 for k in w.keys() & g.keys() if w[k] != g[k])
        out.append(f"{where} {index}: {missing} missing, {extra} extra, {changed} differ")
    return out


def check_report(report: dict, want: dict) -> list[str]:
    """``want`` holds the expected ``written``, ``skipped`` and ``rebuilt``,
    and ``full`` for a full sync; reconcile flags must all be true, the
    mirror's for every written index and, on a full sync, the sink's too."""
    out = []
    for key in ("written", "skipped", "rebuilt"):
        got = report.get(key)
        if isinstance(got, list):
            got = sorted(got)
        if got != want[key]:
            out.append(f"report {key}: {got} != {want[key]}")
    for key in ("reconcile_ok", "mirror_reconcile"):
        bad = sorted(k for k, v in report.get(key, {}).items() if v is not True)
        if bad:
            out.append(f"report {key} not true for {bad}")
    covered = ("mirror_reconcile", "reconcile_ok") if want["full"] else ("mirror_reconcile",)
    for key in covered:
        if sorted(report.get(key, {})) != sorted(want["written"]):
            out.append(f"report {key} does not cover every written index")
    return out
