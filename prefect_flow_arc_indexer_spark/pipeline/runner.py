"""Pipeline drivers reproducing the reference's three entry points (SURVEY
§3 E1/E2/E3; reference ``main_flow``, ``flows/main_flow.py:603-762``):

- :func:`full_sync` (E1): one stats job lists the indexes and orders them
  smallest first -> one write job stages every index's fresh generation
  -> a driver-side audit sums the staged files' parquet footers -> per
  index: atomic publish.
- :func:`incremental_sync` (E2): the same stats job also counts each
  index's rows changed since the inclusive watermark (skip-if-zero, T4) and
  takes the source's drift probe, the ``schema_name`` of each index's
  lowest-id live document; it is compared with the value each published
  generation recorded in its ``_probe.json``, and a drifted index is
  rebuilt instead of merged (T7, reference
  ``flows/main_flow.py:62-86,674-693``). One staged write merges upserts
  and tombstone deletes into every touched index (T3), audited and
  published as in a full sync.
- both accept ``or_ids`` (E3): a caller-pinned, lowercased index subset that
  bypasses enumeration and orphan cleanup (reference flows/main_flow.py:
  633-640,652).
- neither stores the watermark (T1): each returns the one to store in
  ``SyncReport.watermark``, and the caller commits it once everything
  downstream of the sink (the CLI's ES mirror) has landed.

So a run costs a fixed number of Spark jobs however many indexes exist or
are touched: the reference's per-index count and probe are one grouped
job here, its per-index writes one staged write whose ``Observation``
records each generation's row count and probe value, its reconcile a
footer sum that runs no job, and only the renames and manifest flips of
the publish stay per index. A generation without a usable probe record
(written by an earlier release, by hand or by ``compact``) has its rows
read by the stats job instead, so the verdict never depends on the
record being there. Every generation has one layout, the
``partitionBy("index")`` stage's directory of parquet files. X4 retries
(reference ``flows/main_flow.py:722-723``): a failed write or publish
rolls back what it half-wrote, sleeps and retries; only after exhaustion
does the run abort. X3's separate pool for the two largest indexes
(reference ``flows/main_flow.py:685-687,721``) has no counterpart: every
index is written by one job whose tasks AQE spreads over the cluster. The
merge is the parquet-sink form of ES upsert+delete-by-id, ``old ANTI JOIN
batch ids UNION batch upserts`` (a Delta/Iceberg MERGE at scale).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime
from functools import partial, reduce

from pyspark.sql import (
    Column,
    DataFrame,
    Observation,
    Row,
    SparkSession,
    functions as F,
)
from pyspark.sql.types import StructType

from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.pipeline.sinks import (
    VersionedSink,
    generation_timestamp,
)
from prefect_flow_arc_indexer_spark.sources.parquet import _footer
from prefect_flow_arc_indexer_spark.streaming.watermark import WatermarkStore

# Reference JSONB probe path (flows/main_flow.py:69:
# ``document->'schema_maintainer'->>'schema_name'``).
SCHEMA_PATH = "$.schema_maintainer.schema_name"
# A generation's drift-probe record: ``{"path": ..., "value": ...}``. The
# leading underscore keeps it out of every Spark and pyarrow read of the
# generation's parquet files.
PROBE_FILE = "_probe.json"


@dataclass
class SyncReport:
    """Per-run observability (the reference logs these; X7 warn-only)."""

    indexes: list[str] = field(default_factory=list)
    written: dict[str, int] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    reconcile_ok: dict[str, bool] = field(default_factory=dict)
    rolled_back: list[str] = field(default_factory=list)
    dropped_orphans: list[str] = field(default_factory=list)
    rebuilt: list[str] = field(default_factory=list)  # T7 forced rebuilds
    retried: dict[str, int] = field(default_factory=dict)  # X4 retries used
    # X7 applied to the ES mirror: published_rows == ES _count after the
    # mirror writes (warn-only, like the reference's reconcile; None =
    # the _count call failed, so the check could not run)
    mirror_reconcile: dict[str, bool | None] = field(default_factory=dict)
    # X6 applied to the ES mirror on full sync: the physical index the
    # alias was atomically swapped to (None = swap attempted and failed;
    # warn-only posture, reference swap_indexes flows/main_flow.py:534-555)
    mirror_published: dict[str, str | None] = field(default_factory=dict)
    # the audited row count of every generation the run published (X7)
    published_rows: dict[str, int] = field(default_factory=dict)
    # T1: the watermark the run earned, for the caller to store once the
    # run's downstream writes have landed
    watermark: datetime | None = None


def changed(watermark: datetime) -> Column:
    """T2: the rows an incremental sync merges and the CLI's ES mirror
    ships; inclusive, so a boundary row re-delivers (safe: idempotent)."""
    return F.col("updated_at") >= F.lit(watermark)


def _probe(rows: Column, document: Column, id_: Column, path: str) -> Column:
    """T7's probe value over the ``rows`` a predicate selects: the JSON
    ``path`` of their lowest-id document. ``min_by`` skips the rows whose
    ordering is null, so unselected rows drop out, and the path is parsed
    once per group, not once per document."""
    return F.get_json_object(
        F.min_by(F.when(rows, document), F.when(rows, id_)), path
    )


def _index_stats(
    docs: DataFrame,
    pinned: list[str] | None,
    watermark: datetime | None = None,
    path: str = SCHEMA_PATH,
    aliases: DataFrame | None = None,
) -> tuple[dict[str, Row], dict[str, str | None]]:
    """A1+A2+T4 in ONE grouped job: each non-null (or ``pinned``) index with
    its row count ``n``, smallest first (reference flows/main_flow.py:121,
    153-169,317-343). Given a watermark, each row also carries its
    ``changed`` count and ``probe``, the ``path`` value of the index's
    lowest-id live document; only then is ``document`` read. ``aliases``
    (published rows tagged by ``index``) enter the same job, and the second
    dict holds the probe value of each alias that has rows."""
    rows = docs.where(F.col("index").isNotNull())
    if pinned:
        rows = rows.where(F.col("index").isin(pinned))
    keys, aggs = ["index"], [F.count("id").alias("n")]
    if watermark is not None:
        aggs += [
            F.count_if(changed(watermark)).alias("changed"),
            _probe(~F.col("is_deleted"), F.col("document"), F.col("id"),
                   path).alias("probe"),
        ]
    if aliases is not None:
        keys.append("_alias")
        rows = rows.withColumn("_alias", F.lit(False)).unionByName(
            aliases.select(
                "index", "id", "document",
                F.lit(False).alias("is_deleted"), F.lit(True).alias("_alias"),
            ),
            allowMissingColumns=True,
        )
    stats, alias_probes = [], {}
    for r in rows.groupBy(*keys).agg(*aggs).collect():
        if aliases is not None and r["_alias"]:
            alias_probes[r["index"]] = r["probe"]
        else:
            stats.append(r)
    return {
        r["index"]: r for r in sorted(stats, key=lambda r: (r["n"], r["index"]))
    }, alias_probes


def _recorded_probe(
    sink: VersionedSink, generation: str, path: str
) -> dict | None:
    """The probe record ``generation`` was published with, or None when it
    has none, it cannot be read, or it was taken at another ``path``."""
    try:
        with open(os.path.join(sink.generation_path(generation), PROBE_FILE)) as f:
            record = json.load(f)
    except (OSError, ValueError):
        return None
    if not isinstance(record, dict) or record.get("path") != path:
        return None
    return record


def _run_with_retries(
    indexes: list[str],
    attempt,
    rollback,
    report: SyncReport,
    retries: int,
    retry_delay_s: float,
    sleep,
) -> None:
    """X4: run ``attempt()`` up to ``1 + retries`` times; every failure
    rolls back via ``rollback()`` (X5) so a retry starts from a clean sink;
    the last failure re-raises after a final rollback. ``indexes`` are the
    ones the attempt writes: each is charged the retries it used, and on
    exhaustion each is recorded as rolled back."""
    for n in range(retries + 1):
        try:
            attempt()
            if n:
                for index in indexes:
                    report.retried[index] = report.retried.get(index, 0) + n
            return
        except Exception:
            rollback()
            if n == retries:
                report.rolled_back.extend(indexes)
                raise
            sleep(retry_delay_s)


def _collision_free_ts(
    sink: VersionedSink, index: str, ts: str, run_started: datetime
) -> str:
    """Same-second generation-name collision guard (the hazard ``compact``
    already dodges): if this run's timestamp reproduces the PUBLISHED
    generation name of ``index`` — publish followed by an incremental run
    within one second — ``write_generation``'s overwrite would clobber the
    directory the lazy merge plan is reading from, and a retry rollback
    would delete live published data. Bump the timestamp forward one second
    until the name is free (ADVICE r4)."""
    published = sink.read_manifest().get(index)
    bump = 0
    while sink.generation_name(index, ts) == published:
        bump += 1
        ts = generation_timestamp(
            datetime.fromtimestamp(run_started.timestamp() + bump)
        )
    return ts


def _aliases(
    spark: SparkSession, sink: VersionedSink, indexes: list[str],
    schema: StructType,
) -> DataFrame:
    """The published rows of ``indexes`` in one frame, tagged by index."""
    return reduce(DataFrame.unionByName, [
        sink.read_alias(spark, i, schema).withColumn("index", F.lit(i))
        for i in indexes
    ])


def _unescape_partition_value(s: str) -> str:
    """Decode Spark's partition-dir escaping (ExternalCatalogUtils.
    escapePathName: unsafe chars written as %XX, uppercase hex). Only %XX
    triples are decoded; a bare '%' that isn't a valid escape is kept
    literal, matching Spark's own unescapePathName."""
    out: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def _stage_rows(rows: DataFrame) -> DataFrame:
    """``rows`` in the stage's column layout: the ``index`` partition
    column, then the document."""
    return rows.select("index", "id", "document")


def one_pass_live(docs: DataFrame, indexes: list[str]) -> DataFrame:
    """Every index's live documents in ONE frame, rebalanced on ``index``
    so the ``partitionBy`` write emits each directory from few tasks. A
    ``REBALANCE`` rather than a hash repartition: AQE splits a skewed
    partition, so an index holding a third of the corpus is still written
    by many tasks. A full sync through this frame scans the fact table
    ONCE, not O(#indexes) times -- the Spark-native improvement over the
    reference's one-SQL-per-index shape (flows/main_flow.py:317-343)."""
    live = docs.where(F.col("index").isin(indexes) & ~F.col("is_deleted"))
    return _stage_rows(live).hint("rebalance", "index")


def _staged_rows(part_dir: str) -> int | None:
    """The row count of one staged partition directory, summed from its
    parquet footers on the driver (no Spark job); None when a file's footer
    cannot be read."""
    total = 0
    for name in os.listdir(part_dir):
        if name.startswith(("_", ".")):  # the files Spark's reader skips
            continue
        md = _footer(os.path.join(part_dir, name))
        if md is None:
            return None
        total += md.num_rows
    return total


def _stage_audit_publish(
    spark: SparkSession,
    sink: VersionedSink,
    frame: DataFrame,
    timestamps: dict[str, str],
    ts: str,
    report: SyncReport,
    retry,
    path: str = SCHEMA_PATH,
) -> None:
    """Write-audit-publish for every index of ``frame`` (``_stage_rows``
    layout) in ONE Spark job:

    - ONE ``partitionBy`` write stages ``frame`` under ``_stage_<ts>``; an
      ``Observation`` on it counts each index's rows and takes its T7
      probe value at ``path`` (no extra scan);
    - the audit sums ``num_rows`` over the footers of every staged parquet
      file on the driver; a short index, or a footer that cannot be read,
      aborts before anything is published;
    - per index, in ``timestamps`` order, the staged dir is renamed into
      place as generation ``{index}_{timestamps[index]}``, given its probe
      record (:data:`PROBE_FILE`) and published; ``report.written`` and
      ``report.published_rows`` take its audit count.

    The write and each publish run under ``retry`` (a bound
    :func:`_run_with_retries`): a failed write removes the stage, a failed
    publish moves the generation back into the stage for the retry to
    re-promote. The stage is removed however it ends."""
    indexes = list(timestamps)
    schema = frame.select("id", "document").schema
    stage_gen = sink.generation_name("_stage", ts)
    stage = sink.generation_path(stage_gen)
    expected: dict[str, int] = {}
    probes: dict[str, str | None] = {}

    def write_stage() -> None:
        # pyspark refuses to reuse an Observation (REUSE_OBSERVATION): each
        # attempt observes through a fresh one, named by a random UUID
        obs = Observation()
        aggs = []
        for n, i in enumerate(indexes):
            mine = F.col("index") == i
            aggs += [
                F.count_if(mine).alias(f"c_{n}"),
                _probe(mine, F.col("document"), F.col("id"), path)
                .alias(f"p_{n}"),
            ]
        sink.write_generation(
            frame.observe(obs, *aggs), "_stage", ts, partition_by=["index"]
        )
        got = obs.get  # blocks until the write job finishes
        for n, i in enumerate(indexes):
            expected[i], probes[i] = got[f"c_{n}"], got[f"p_{n}"]

    try:
        retry(indexes, write_stage, lambda: sink.drop_generation(stage_gen))
        # decode the dir names: 'a:b' stages as 'index=a%3Ab'
        staged_dirs = {
            _unescape_partition_value(entry[len("index="):]): os.path.join(
                stage, entry
            )
            for entry in os.listdir(stage)
            if entry.startswith("index=")
        }
        audited = {i: _staged_rows(d) for i, d in staged_dirs.items()}
        short = {i: (n, audited.get(i, 0)) for i, n in expected.items()
                 if audited.get(i, 0) != n}
        if short:  # lost or truncated files: abort, publish none
            report.rolled_back.extend(indexes)
            raise RuntimeError(f"one-pass audit failed (expected, staged): {short}")
        for index in indexes:
            part_dir = staged_dirs.get(
                index, os.path.join(stage, f"index={index}")
            )
            gen = sink.generation_name(index, timestamps[index])
            gen_path = sink.generation_path(gen)

            def attempt(index=index, part_dir=part_dir, gen=gen,
                        gen_path=gen_path):
                want = expected[index]
                if os.path.isdir(part_dir) and not os.path.isdir(gen_path):
                    shutil.move(part_dir, gen_path)
                if not os.path.isdir(gen_path):
                    if want > 0:
                        # publishing would put an EMPTY generation over
                        # live data: abort, so the attempt rolls back
                        raise RuntimeError(
                            f"one-pass stage for {index!r} missing: "
                            f"expected {want} docs but {gen_path} is absent"
                        )
                    # an all-tombstone index stages no partition: publish
                    # an empty generation
                    sink.write_generation(
                        local_frame(spark, [], schema), index,
                        timestamps[index],
                    )
                with open(os.path.join(gen_path, PROBE_FILE), "w") as f:
                    json.dump({"path": path, "value": probes[index]}, f)
                report.reconcile_ok[index] = True
                sink.publish(index, gen)
                report.published_rows[index] = want
                report.written[index] = want

            def rollback(part_dir=part_dir, gen_path=gen_path):
                # restore the staged partition so a retry can re-promote it
                if os.path.isdir(gen_path) and not os.path.isdir(part_dir):
                    shutil.move(gen_path, part_dir)
                else:
                    shutil.rmtree(gen_path, ignore_errors=True)

            retry([index], attempt, rollback)
    finally:
        sink.drop_generation(stage_gen)


def full_sync(
    spark: SparkSession,
    docs: DataFrame,
    sink: VersionedSink,
    or_ids: list[str] | None = None,
    now: datetime | None = None,
    retries: int = 0,
    retry_delay_s: float = 0.0,
    sleep=time.sleep,
) -> SyncReport:
    """E1: full rebuild with write-audit-publish per index.

    One stats job lists and sizes the indexes; :func:`one_pass_live` (a
    single fact-table scan) feeds :func:`_stage_audit_publish`, which
    stages, audits and publishes every index smallest first. The run's
    start is the watermark it earns (``report.watermark``): the reference
    records ``last_modified`` after either flow (``save_last_run_config``,
    flows/main_flow.py:603), so a full sync seeds the next incremental run.
    """
    report = SyncReport()
    run_started = now or datetime.now()
    report.watermark = run_started
    pinned = [x.lower() for x in or_ids] if or_ids else None  # P8, :640
    stats, _ = _index_stats(docs, pinned)
    report.indexes = list(stats)
    if not pinned:
        # X8: orphan cleanup only runs on unpinned full syncs
        report.dropped_orphans = sink.cleanup_orphans(report.indexes)
    if not report.indexes:
        return report
    ts = generation_timestamp(run_started)
    _stage_audit_publish(
        spark, sink, one_pass_live(docs, report.indexes),
        dict.fromkeys(report.indexes, ts), ts, report,
        partial(_run_with_retries, report=report, retries=retries,
                retry_delay_s=retry_delay_s, sleep=sleep),
    )
    return report


def incremental_sync(
    spark: SparkSession,
    docs: DataFrame,
    sink: VersionedSink,
    watermarks: WatermarkStore,
    pipeline_name: str = "default",
    or_ids: list[str] | None = None,
    now: datetime | None = None,
    schema_path: str = SCHEMA_PATH,
    retries: int = 0,
    retry_delay_s: float = 0.0,
    sleep=time.sleep,
) -> SyncReport:
    """E2: CDC merge since the inclusive watermark, tombstones propagated;
    schema drift forces a full per-index rebuild (T7).

    A touched, published index has drifted when the source's probe value
    (from the stats job) differs from the one its generation recorded; a
    generation without a record at ``schema_path`` has its rows probed in
    the stats job instead. Every rebuilt index (no alias yet, or drifted)
    and every merged one goes through ONE :func:`_stage_audit_publish`
    whose frame is the merged aliases' rows ``LEFT ANTI JOIN`` the delta's
    ``(index, id)`` plus the source's live rows of rebuilt indexes and of
    the delta. A failed staged write publishes none of them. The store is
    only read: the caller stores ``report.watermark``, the run's start, once
    the run's downstream writes have landed, so a run that fails anywhere
    is replayed from the same watermark (safe: idempotent by id). A merged
    index is rewritten whole: O(index) I/O per run, not O(delta)."""
    report = SyncReport()
    wm = watermarks.get(pipeline_name)
    if wm is None:
        raise ValueError(
            "no watermark recorded; run full_sync first or seed the store"
        )
    # T1: the *run start* becomes the next watermark (rows updated while the
    # run was in flight re-deliver next time; safe by idempotence)
    run_started = now or datetime.now()
    report.watermark = run_started
    pinned = [x.lower() for x in or_ids] if or_ids else None
    schema = docs.select("id", "document").schema
    manifest = sink.read_manifest()
    recorded = {
        i: _recorded_probe(sink, gen, schema_path)
        for i, gen in manifest.items() if not pinned or i in pinned
    }
    unrecorded = [i for i, r in recorded.items() if r is None]
    stats, alias_probes = _index_stats(
        docs, pinned, wm, schema_path,
        _aliases(spark, sink, unrecorded, schema) if unrecorded else None,
    )
    report.indexes = pinned or list(stats)
    touched = {i: r["changed"] for i, r in stats.items() if r["changed"]}
    report.skipped = [i for i in report.indexes if i not in touched]

    published = [i for i in touched if i in manifest]
    # an alias with no rows probes as None, like an index with no live rows
    probes = {i: alias_probes.get(i) if r is None else r["value"]
              for i, r in recorded.items()}
    report.rebuilt = [i for i in published if probes[i] != stats[i]["probe"]]
    merged = [i for i in published if i not in report.rebuilt]
    rebuild = [i for i in touched if i not in merged]
    ts = generation_timestamp(run_started)

    if touched:
        fresh = docs.where(F.col("index").isin(rebuild) | changed(wm))
        frame = one_pass_live(fresh, rebuild + merged)
        if merged:
            old = _aliases(spark, sink, merged, schema)
            # idempotent by id: delete-then-insert covers upsert +
            # tombstone. One struct key, not (index, id): Catalyst pushes
            # the anti join into each branch of the union, and a per-column
            # key would filter the delta side per branch (one broadcast job
            # per index); this way every branch probes one broadcast.
            touched_keys = docs.where(
                changed(wm) & F.col("index").isin(merged)
            ).select(F.struct("index", "id").alias("key"))
            kept = old.join(
                touched_keys,
                F.struct(old["index"], old["id"]) == touched_keys["key"],
                "left_anti",
            )
            frame = _stage_rows(kept).unionByName(frame)
        _stage_audit_publish(
            spark, sink, frame,
            {i: _collision_free_ts(sink, i, ts, run_started) for i in touched},
            ts, report,
            partial(_run_with_retries, report=report, retries=retries,
                    retry_delay_s=retry_delay_s, sleep=sleep),
            schema_path,
        )
        report.written.update({i: touched[i] for i in merged})
    return report
