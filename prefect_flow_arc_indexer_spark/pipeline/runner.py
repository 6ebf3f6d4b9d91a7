"""Pipeline drivers reproducing the reference's three entry points (SURVEY
§3 E1/E2/E3; reference ``main_flow``, ``flows/main_flow.py:603-762``):

- :func:`full_sync` (E1): enumerate indexes -> order smallest-first -> one
  write job stages every index's fresh generation -> per index: count
  reconcile -> atomically publish; failed attempts roll back (X5).
- :func:`incremental_sync` (E2): per index, count changed rows since the
  inclusive watermark (skip-if-zero, T4), then merge upserts and tombstone
  deletes into the live generation (T3) and advance the watermark (T1).
  When the sink's stored ``schema_name`` diverges from the source's current
  value, the index is force-rebuilt instead of merged (T7, reference
  ``flows/main_flow.py:62-86,674-693``).
- both accept ``or_ids`` (E3): a caller-pinned, lowercased index subset that
  bypasses enumeration and orphan cleanup (reference flows/main_flow.py:
  633-640,652).

Resilience / scheduling semantics carried over from the reference:

- X4 flow-level retries (reference ``flows/main_flow.py:722-723``: 5 retries
  x 500 s on the stream task): both drivers accept ``(retries,
  retry_delay_s)``; a failed write or publish rolls back what it
  half-wrote, sleeps, and retries — only after exhaustion does the run
  abort.
- X3 concurrency classes (reference ``flows/main_flow.py:685-687,721``)
  have no counterpart: the reference runs its two largest indexes in a
  separate pool because each index is its own job, while :func:`full_sync`
  writes every index in one Spark job whose tasks AQE spreads over the
  cluster.

Spark notes: the per-index publish loop is *driver-side control flow* (as
in the reference, where Prefect owns it); the data plane is declarative
DataFrame jobs, so Catalyst still sees whole plans. The incremental
merge is the parquet-sink equivalent of ES upsert+delete-by-id:
``old ANTI JOIN batch ids  UNION  batch upserts`` — at production scale the
same logic is a Delta/Iceberg MERGE or ES upserts and deletes by id.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.pipeline.sinks import (
    VersionedSink,
    generation_timestamp,
)
from prefect_flow_arc_indexer_spark.streaming.watermark import WatermarkStore

# Reference JSONB probe path (flows/main_flow.py:69:
# ``document->'schema_maintainer'->>'schema_name'``).
SCHEMA_PATH = "$.schema_maintainer.schema_name"


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
    # X7 applied to the ES mirror: alias count == ES _count after the
    # mirror writes (warn-only, like the reference's reconcile; None =
    # the _count call failed, so the check could not run)
    mirror_reconcile: dict[str, bool | None] = field(default_factory=dict)
    # X6 applied to the ES mirror on full sync: the physical index the
    # alias was atomically swapped to (None = swap attempted and failed;
    # warn-only posture, reference swap_indexes flows/main_flow.py:534-555)
    mirror_published: dict[str, str | None] = field(default_factory=dict)


def changed_since(docs: DataFrame, watermark: datetime) -> DataFrame:
    """T2: the rows an incremental sync merges and the CLI's ES mirror
    ships; inclusive, so a boundary row re-delivers (safe: idempotent)."""
    return docs.where(F.col("updated_at") >= F.lit(watermark))


def _enumerate_indexes(docs: DataFrame) -> list[str]:
    """A1: distinct non-null index names."""
    return [
        r["index"]
        for r in docs.where(F.col("index").isNotNull())
        .select("index")
        .distinct()
        .collect()
    ]


def _order_by_size(docs: DataFrame, indexes: list[str]) -> list[str]:
    """A2+O1: smallest index first (fail fast, free memory early —
    reference flows/main_flow.py:153-169)."""
    rows = (
        docs.where(F.col("index").isin(indexes))
        .groupBy("index")
        .agg(F.count("id").alias("cnt"))
        .orderBy(F.col("cnt").asc(), F.col("index").asc())
        .collect()
    )
    return [r["index"] for r in rows]


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
    and ``stream_incremental_sink`` already dodge): if this run's timestamp
    reproduces the PUBLISHED generation name of ``index`` — publish followed
    by an incremental run within one second — ``write_generation``'s
    overwrite would clobber the directory the lazy merge plan is reading
    from, and a retry rollback would delete live published data. Bump the
    timestamp forward one second until the name is free (ADVICE r4)."""
    published = sink.read_manifest().get(index)
    bump = 0
    while sink.generation_name(index, ts) == published:
        bump += 1
        ts = generation_timestamp(
            datetime.fromtimestamp(run_started.timestamp() + bump)
        )
    return ts


def _probe_schema_name(frame: DataFrame, path: str):
    """T7 probe: the ``schema_name`` of one (deterministically-arbitrary:
    min-id) document — the reference grabs an arbitrary doc from each side
    (flows/main_flow.py:37-59) and compares the JSONB path value."""
    row = frame.agg(
        F.min_by(F.get_json_object(F.col("document"), path), F.col("id"))
        .alias("schema_name")
    ).first()
    return row["schema_name"] if row else None


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


def one_pass_live(
    docs: DataFrame, indexes: list[str], n_buckets: int | None = None
) -> DataFrame:
    """Every index's live documents in ONE frame, rebalanced on ``index``
    (plus ``bucket`` when ``n_buckets`` lays down the hash-bucketed layout)
    so the ``partitionBy`` write emits each directory from few tasks. A
    ``REBALANCE`` rather than a hash repartition: AQE splits a skewed
    partition, so an index holding a third of the corpus is still written
    by many tasks. A full sync through this frame scans the fact table
    ONCE, not O(#indexes) times -- the Spark-native improvement over the
    reference's one-SQL-per-index shape (flows/main_flow.py:317-343)."""
    from prefect_flow_arc_indexer_spark.pipeline.bucketed import bucket_of

    live = docs.where(F.col("index").isin(indexes) & ~F.col("is_deleted"))
    part_cols = ["index"]
    if n_buckets is not None:
        live = live.withColumn("bucket", bucket_of(F.col("id"), n_buckets))
        part_cols.append("bucket")
    return live.select(*part_cols, "id", "document").hint(
        "rebalance", *part_cols
    )


def full_sync(
    spark: SparkSession,
    docs: DataFrame,
    sink: VersionedSink,
    or_ids: list[str] | None = None,
    now: datetime | None = None,
    retries: int = 0,
    retry_delay_s: float = 0.0,
    sleep=time.sleep,
    bucketed: bool = False,
    n_buckets: int = 16,
) -> SyncReport:
    """E1: full rebuild with write-audit-publish per index.

    One ``partitionBy("index")`` write job (a single fact-table scan)
    stages every index's generation data under ``_stage_<ts>``; an
    ``Observation`` on that job counts each index's rows, so the audit
    costs no extra scan. Then, smallest index first, each staged directory
    is moved into place as its generation, audited against its count and
    atomically published. The staged write and every per-index publish
    run under :func:`_run_with_retries`: a failed write removes the stage
    before its retry, a failed publish moves the generation back to the
    stage so a retry can re-promote it. ``bucketed=True`` lays generations
    out hash-bucketed by id (``pipeline.bucketed``) so later incremental
    merges rewrite only touched buckets.
    """
    from pyspark.sql import Observation

    from prefect_flow_arc_indexer_spark.pipeline.bucketed import (
        _write_marker,
        write_generation_bucketed,
    )

    report = SyncReport()
    if or_ids:
        indexes = [x.lower() for x in or_ids]  # P8, flows/main_flow.py:640
    else:
        indexes = _enumerate_indexes(docs)
        # X8: orphan cleanup only runs on unpinned full syncs
        report.dropped_orphans = sink.cleanup_orphans(indexes)
    if not indexes:
        return report
    report.indexes = _order_by_size(docs, indexes)
    ts = generation_timestamp(now)
    stage = os.path.join(sink.base_dir, f"_stage_{ts}")
    os.makedirs(sink.base_dir, exist_ok=True)
    live_all = one_pass_live(
        docs, report.indexes, n_buckets if bucketed else None
    )
    part_cols = ["index", "bucket"] if bucketed else ["index"]
    expected: dict[str, int] = {}

    def write_stage() -> None:
        # pyspark refuses to reuse an Observation (REUSE_OBSERVATION): each
        # attempt observes through a fresh one, named by a random UUID
        obs = Observation()
        live_all.observe(
            obs,
            *(
                F.sum(F.when(F.col("index") == idx, 1).otherwise(0))
                .cast("long")
                .alias(f"c_{n}")
                for n, idx in enumerate(report.indexes)
            ),
        ).write.partitionBy(*part_cols).mode("overwrite").parquet(stage)
        counts = obs.get  # blocks until the write job finishes
        for n, idx in enumerate(report.indexes):
            expected[idx] = counts[f"c_{n}"] or 0

    try:
        _run_with_retries(
            report.indexes,
            write_stage,
            lambda: shutil.rmtree(stage, ignore_errors=True),
            report,
            retries,
            retry_delay_s,
            sleep,
        )
        # Resolve each index's staged dir by DECODING Spark's
        # partition-value escaping (escapePathName writes %XX for chars
        # that are unsafe in a path, e.g. 'a:b' stages as 'index=a%3Ab'):
        # building 'index={value}' by hand would miss every escaped name and
        # the audit below would abort a perfectly good sync.
        staged_dirs = {
            _unescape_partition_value(entry[len("index="):]): os.path.join(
                stage, entry
            )
            for entry in (os.listdir(stage) if os.path.isdir(stage) else [])
            if entry.startswith("index=")
        }
        for index in report.indexes:
            part_dir = staged_dirs.get(
                index, os.path.join(stage, f"index={index}")
            )
            gen = sink.generation_name(index, ts)
            gen_path = sink.generation_path(gen)

            def attempt(index=index, part_dir=part_dir, gen=gen,
                        gen_path=gen_path):
                want = expected[index]
                if os.path.isdir(part_dir) and not os.path.isdir(gen_path):
                    shutil.move(part_dir, gen_path)
                    if bucketed:
                        _write_marker(gen_path, n_buckets)
                if os.path.isdir(gen_path):
                    actual = spark.read.parquet(gen_path).count()
                elif want > 0:
                    # the write job counted live docs for this index but its
                    # staged partition dir is absent: publishing would
                    # commit an EMPTY generation over live data -- abort so
                    # _run_with_retries rolls back, mirroring compact()'s
                    # audit-abort discipline
                    raise RuntimeError(
                        f"one-pass stage for {index!r} missing: expected "
                        f"{want} docs but no staged partition at {part_dir}"
                    )
                else:
                    # an index whose docs are all tombstones writes no
                    # partition -- publish an explicitly empty generation,
                    # in the bucketed layout when requested so the index
                    # keeps its O(touched-buckets) merge cost class
                    empty = docs.where(F.lit(False)).select("id", "document")
                    if bucketed:
                        write_generation_bucketed(
                            sink, empty, index, ts, n_buckets
                        )
                    else:
                        sink.write_generation(empty, index, ts)
                    actual = 0
                if actual != want:
                    # short generation (lost files, concurrent truncation):
                    # abort-before-publish, same contract as compact()
                    raise RuntimeError(
                        f"one-pass audit for {index!r} failed: expected "
                        f"{want} docs, staged generation has {actual}"
                    )
                report.reconcile_ok[index] = True
                sink.publish(index, gen)
                report.written[index] = actual

            def rollback(part_dir=part_dir, gen_path=gen_path):
                # restore the staged partition so a retry can re-promote it
                if os.path.isdir(gen_path) and not os.path.isdir(part_dir):
                    shutil.move(gen_path, part_dir)
                else:
                    shutil.rmtree(gen_path, ignore_errors=True)

            _run_with_retries(
                [index], attempt, rollback, report, retries, retry_delay_s,
                sleep,
            )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
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
    bucketed: bool = False,
    n_buckets: int = 16,
) -> SyncReport:
    """E2: CDC merge since the inclusive watermark, tombstones propagated;
    schema drift forces a full per-index rebuild (T7).

    When the published generation is hash-bucketed (or ``bucketed=True``
    makes rebuilds write that layout), the merge goes through
    ``pipeline.bucketed.merge_bucketed``: only buckets containing touched
    ids are rewritten, untouched buckets are hard-linked into the new
    generation — O(touched) I/O per batch instead of O(corpus)."""
    from prefect_flow_arc_indexer_spark.pipeline.bucketed import (
        bucket_count,
        merge_bucketed,
        write_generation_bucketed,
    )
    report = SyncReport()
    wm = watermarks.get(pipeline_name)
    if wm is None:
        raise ValueError(
            "no watermark recorded; run full_sync first or seed the store"
        )
    run_started = now or datetime.now()
    indexes = (
        [x.lower() for x in or_ids] if or_ids else _enumerate_indexes(docs)
    )
    report.indexes = indexes

    changed = changed_since(docs, wm)
    ts = generation_timestamp(run_started)
    for index in indexes:
        batch = changed.where(F.col("index") == index)
        # T4/A4: skip-if-zero gate before any write work
        n = batch.count()
        if n == 0:
            report.skipped.append(index)
            continue
        live = docs.where(
            (F.col("index") == index) & ~F.col("is_deleted")
        ).select("id", "document")

        rebuild = not sink.alias_exists(index)
        old = None
        if not rebuild:
            old = sink.read_alias(spark, index)
            # T7: schema_name drift in the sink forces a full rebuild
            # (reference flows/main_flow.py:62-86,674-693) — compare one
            # arbitrary doc's JSONB path value on each side.
            sink_name = _probe_schema_name(old, schema_path)
            src_name = _probe_schema_name(live, schema_path)
            if sink_name != src_name:
                rebuild = True
                report.rebuilt.append(index)

        # same-second collision with the published generation would clobber
        # the directory the lazy plan reads from (and rollback would delete
        # live data) — bump this index's timestamp until the name is free
        idx_ts = _collision_free_ts(sink, index, ts, run_started)

        if rebuild:
            gen = sink.generation_name(index, idx_ts)
            actual = [0]

            def attempt(index=index, live=live, gen=gen, idx_ts=idx_ts,
                        actual=actual):
                if bucketed:
                    write_generation_bucketed(
                        sink, live, index, idx_ts, n_buckets
                    )
                else:
                    sink.write_generation(live, index, idx_ts)
                # record what the rebuild actually wrote (the full live doc
                # set), not the CDC batch count — consistent with full_sync
                actual[0] = spark.read.parquet(
                    sink.generation_path(gen)
                ).count()
                sink.publish(index, gen)

            _run_with_retries(
                [index],
                attempt,
                lambda gen=gen: sink.drop_generation(gen),
                report,
                retries,
                retry_delay_s,
                sleep,
            )
            report.written[index] = actual[0]
            continue

        gen = sink.generation_name(index, idx_ts)
        if bucket_count(sink, sink.read_manifest()[index]) is not None:
            # bucketed merge: rewrite only buckets containing touched ids
            def attempt(index=index, batch=batch, gen=gen, idx_ts=idx_ts):
                merge_bucketed(
                    spark,
                    sink,
                    index,
                    batch.select("id", "document", "is_deleted"),
                    idx_ts,
                )
                sink.publish(index, gen)
        else:
            upserts = batch.where(~F.col("is_deleted")).select(
                "id", "document"
            )
            touched_ids = batch.select("id")
            # idempotent by id: delete-then-insert covers upsert + tombstone
            merged = old.join(touched_ids, "id", "left_anti").unionByName(
                upserts
            )

            def attempt(index=index, merged=merged, gen=gen, idx_ts=idx_ts):
                sink.write_generation(merged, index, idx_ts)
                sink.publish(index, gen)

        _run_with_retries(
            [index],
            attempt,
            lambda gen=gen: sink.drop_generation(gen),
            report,
            retries,
            retry_delay_s,
            sleep,
        )
        report.written[index] = n

    # T1: the *run start* becomes the next watermark (rows updated while the
    # run was in flight re-deliver next time; safe by idempotence)
    watermarks.set(pipeline_name, run_started)
    return report
