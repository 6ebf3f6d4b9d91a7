"""Seeded input for the ``sync`` workload, cached on disk by seed and version.

The source uses the stand-in layout the CLI's ``--source`` reads
(``sources/parquet.py``): one ``events.parquet`` whose ``event_type`` is the
index, ``event_id`` the document id, ``props`` the JSON document and ``ts``
the watermark column; ids with ``event_id % 13 == 0`` are tombstones.

Make-up (``GEN_VERSION`` changes whenever any of it does):

- ``N_DOCS`` documents of about 0.5-1 KB, each carrying
  ``schema_maintainer.schema_name``, over the six ``INDEXES`` with the
  skewed ``WEIGHTS``; the two largest take the ``pg-indexer-large`` class;
  about 1 in 13 ids is a tombstone;
- cycle 1 (``narrow``): in the four ``NARROW_INDEXES``, 2 % of live
  documents updated, 0.5 % inserted and 0.3 % re-delivered as tombstones;
  the other two indexes are untouched, so they are skipped;
- cycle 2 (``drift``): every document of ``DRIFT_INDEX`` re-rendered under a
  new ``schema_name`` (the schema-drift rebuild), plus the same mix at 1 %
  in ``DRIFT_EXTRA``; the other four are skipped.

Snapshot ``k`` is the base with deltas ``1..k`` applied; its ``cycle``
column says which delta last touched a row. :func:`land` writes a snapshot
as the program's source, stamping the rows of the current delta just after
the stored watermark and every other row in the past.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 3
N_DOCS = 16_000
INDEXES = ("or-a1", "or-b2", "or-c3", "or-d4", "or-e5", "or-f6")
WEIGHTS = (0.34, 0.24, 0.16, 0.12, 0.08, 0.06)
NARROW_INDEXES = ("or-a1", "or-b2", "or-d4", "or-f6")
DRIFT_INDEX = "or-e5"
DRIFT_EXTRA = ("or-c3",)
CYCLES = ("narrow", "drift")
TOMBSTONE_MOD = 13
BASE_TS = datetime(2024, 1, 1)

def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, size=3000)
    return np.array(["".join(rng.choice(letters, n)) for n in lengths])


def _render(rng, vocab, index: str, doc_id: int, rev: int, schema: int) -> str:
    n_desc = int(np.clip(rng.lognormal(4.2, 0.35), 30, 120))
    w = vocab[rng.integers(0, len(vocab), n_desc + 13)]
    doc = {
        "schema_maintainer": {
            "schema_name": f"{index}_v{schema}",
            "maintainer_id": index,
        },
        "schema_identifier": f"{doc_id:012x}",
        "rev": rev,
        "schema_name": " ".join(w[:4]),
        "schema_description": " ".join(w[13:]),
        "schema_creator": [" ".join(w[4:6]), " ".join(w[6:8])],
        "schema_keywords": w[8:13].tolist(),
        "schema_date_created": f"20{10 + doc_id % 14}-0{1 + rev % 9}-1{doc_id % 10}",
        "dcterms_format": ("video", "audio", "paper", "film")[doc_id % 4],
    }
    return json.dumps(doc, separators=(",", ":"))


def _generate(seed: int) -> list[pa.Table]:
    rng = np.random.default_rng([GEN_VERSION, seed])
    vocab = _vocab(rng)
    sizes = np.floor(np.array(WEIGHTS) * N_DOCS).astype(int)
    ids = rng.permutation(np.arange(1, N_DOCS + 1))
    rows: dict[int, dict] = {}
    start = 0
    for index, size in zip(INDEXES, sizes):
        for doc_id in ids[start : start + size]:
            doc_id = int(doc_id)
            rows[doc_id] = {
                "index": index, "rev": 0, "schema": 1, "cycle": 0,
                "props": _render(rng, vocab, index, doc_id, 0, 1),
            }
        start += size
    next_id = N_DOCS + 1
    snapshots = [_table(rows)]

    def update(doc_id: int, cycle: int, schema: int | None = None) -> None:
        r = rows[doc_id]
        r["rev"] += 1
        r["cycle"] = cycle
        r["schema"] = schema or r["schema"]
        if doc_id % TOMBSTONE_MOD:
            r["props"] = _render(rng, vocab, r["index"], doc_id, r["rev"], r["schema"])

    def mix(cycle: int, indexes, update_share: float) -> None:
        nonlocal next_id
        for index in indexes:
            members = sorted(i for i, r in rows.items() if r["index"] == index)
            live = [i for i in members if i % TOMBSTONE_MOD]
            dead = [i for i in members if not i % TOMBSTONE_MOD]
            schema = max(rows[i]["schema"] for i in members)
            for i in rng.choice(live, max(1, int(len(live) * update_share)), replace=False):
                update(int(i), cycle)
            for i in rng.choice(dead, max(1, int(len(members) * 0.003)), replace=False):
                update(int(i), cycle)
            for _ in range(max(1, int(len(members) * 0.005))):
                rows[next_id] = {
                    "index": index, "rev": 0, "cycle": cycle,
                    "schema": schema,
                    "props": "",
                }
                update(next_id, cycle)
                next_id += 1

    for cycle, kind in enumerate(CYCLES, start=1):
        if kind == "narrow":
            mix(cycle, NARROW_INDEXES, 0.02)
        else:
            for i, r in list(rows.items()):
                if r["index"] == DRIFT_INDEX:
                    update(i, cycle, schema=r["schema"] + 1)
            mix(cycle, DRIFT_EXTRA, 0.01)
        snapshots.append(_table(rows))
    return snapshots


def _table(rows: dict[int, dict]) -> pa.Table:
    ids = sorted(rows)
    return pa.table({
        "event_type": pa.array([rows[i]["index"] for i in ids], pa.string()),
        "event_id": pa.array(ids, pa.int64()),
        "props": pa.array([rows[i]["props"] for i in ids], pa.string()),
        "cycle": pa.array([rows[i]["cycle"] for i in ids], pa.int8()),
    })


def snapshots(cache_root: str, seed: int) -> list[str]:
    """Paths of snapshots ``0..len(CYCLES)`` for ``seed``, generated on the
    first call and read from ``cache_root`` afterwards."""
    key = os.path.join(cache_root, f"sync-v{GEN_VERSION}-n{N_DOCS}-s{seed}")
    paths = [os.path.join(key, f"snapshot_{k}.parquet") for k in range(len(CYCLES) + 1)]
    if all(os.path.exists(p) for p in paths):
        return paths
    tmp = key + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for k, table in enumerate(_generate(seed)):
        pq.write_table(table, os.path.join(tmp, f"snapshot_{k}.parquet"))
    shutil.rmtree(key, ignore_errors=True)
    os.replace(tmp, key)
    return paths


def land(
    snapshot: str, cycle: int, watermark: datetime | None, source_dir: str,
    only: str | None = None,
) -> pa.Table:
    """Write snapshot ``cycle`` (restricted to index ``only`` if given) as
    ``source_dir/events.parquet``: the rows of delta ``cycle`` are stamped one
    millisecond after ``watermark``, all others at fixed past instants.
    Returns the landed table, with its ``cycle`` column."""
    table = pq.read_table(snapshot)
    if only is not None:
        table = table.filter(pc.equal(table["event_type"], only))
    base = np.datetime64(BASE_TS, "us") + table["event_id"].to_numpy() * np.timedelta64(1, "s")
    ts = base
    if cycle:
        # the watermark is a naive local time; Spark reads literals of it in
        # the session time zone, so stamp through the same local conversion
        due = (watermark + timedelta(milliseconds=1)).timestamp()
        fresh = np.datetime64(int(due * 1_000_000), "us")
        ts = np.where(table["cycle"].to_numpy() == cycle, fresh, base)
    landed = table.append_column("ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
    os.makedirs(source_dir, exist_ok=True)
    tmp = os.path.join(source_dir, "events.parquet.tmp")
    pq.write_table(landed.drop_columns(["cycle"]), tmp)
    os.replace(tmp, os.path.join(source_dir, "events.parquet"))
    return landed
