"""Structured Streaming variants of the engine's incremental semantics
(SURVEY §2.6). The reference is micro-batch CDC, not a true stream; these
jobs show the same operators under ``readStream`` so the engine covers both
execution modes:

- :func:`stream_doc_actions`: file-source CDC stream -> action routing
  (upsert/delete) -> ``foreachBatch`` two-phase apply. ``foreachBatch`` is
  the production pattern for sinks that can't mix operations in one write
  (the ES connector can't — SURVEY risk #4): within each micro-batch the
  delete set and the upsert set are applied separately, deletes first is NOT
  safe (a row can be deleted then re-created inside one batch), so the apply
  uses last-writer-wins by (id, updated_at).
- :func:`stream_hourly_counts`: watermarked tumbling-window aggregation
  (late rows beyond 2 hours dropped) — the streaming form of
  ``q_events_hourly``.
- :func:`stream_user_running_totals`: custom stateful operator via
  ``applyInPandasWithState`` — a per-user running event counter/value sum,
  the minimal shape of "custom stateful operator the built-ins lack".

All jobs take an explicit trigger so tests run them with
``availableNow=True`` (process-everything-then-stop).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from prefect_flow_arc_indexer_spark.operators.actions import doc_actions

CDC_SCHEMA = StructType(
    [
        StructField("index", StringType()),
        StructField("id", StringType()),
        StructField("document", StringType()),
        StructField("is_deleted", StringType()),  # file sources: lax input
        StructField("updated_at", StringType()),
    ]
)


def read_cdc_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source CDC stream with the index_documents schema; one file per
    micro-batch drop (the streaming stand-in for the JDBC watermark scan)."""
    raw = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )
    return raw.select(
        "index",
        "id",
        "document",
        F.col("is_deleted").cast("boolean").alias("is_deleted"),
        F.col("updated_at").cast("timestamp").alias("updated_at"),
    )


def stream_doc_actions(
    cdc: DataFrame,
    apply_batch,
    checkpoint_dir: str,
):
    """Route the CDC stream to actions and hand each micro-batch to
    ``apply_batch(actions_df, batch_id)`` (two-phase upsert/delete apply).

    Within a batch, only the latest version of each id is applied
    (last-writer-wins by updated_at, ties broken deterministically), which
    makes replays idempotent — the reference gets the same property from
    ES versioning by _id.
    """

    def _apply(batch: DataFrame, batch_id: int) -> None:
        latest = (
            batch.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.col("updated_at").desc(), F.col("is_deleted").desc()
                    )
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        apply_batch(doc_actions(latest, timestamp=None), batch_id)

    return (
        cdc.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_hourly_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window agg (streaming q_events_hourly)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("hour_start"),
            "n_events",
            "total_value",
        )
    )


def stream_hopping_counts(events: DataFrame) -> DataFrame:
    """Watermarked hopping-window agg (streaming q_hopping_window): 1-hour
    width sliding by 15 minutes. Same state-store shape as the tumbling
    variant, but each event updates width/slide = 4 window panes — the
    state-size multiplier a capacity plan must budget for; eviction is
    still watermark-driven per pane."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("event_type", F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("win_start"),
            "n_events",
            "total_value",
        )
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def stream_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    applyInPandasWithState (Arrow-batched; state survives across batches)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_events(events: DataFrame, horizon: str = "2 hours") -> DataFrame:
    """Streaming ingest dedup: drop re-deliveries of the same ``event_id``
    arriving within the watermark horizon (``dropDuplicatesWithinWatermark``).

    This is the streaming face of the dedup family in ``operators/dedup``:
    an at-least-once upstream (the reference's inclusive ``>=`` watermark
    re-delivers boundary rows on every incremental run,
    ``flows/main_flow.py:322``) becomes exactly-once-per-id downstream. The
    within-watermark variant is the 100 TB-safe form — state holds only ids
    newer than the horizon instead of every id ever seen, so the state
    store is bounded by arrival rate x horizon, not by stream lifetime."""
    return events.withWatermark("ts", horizon).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_user_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Watermarked session windows (streaming q_session_window): per-user
    sessions close after ``gap`` of inactivity; late rows beyond the
    watermark are dropped. Streaming session_window keeps per-key open
    sessions in the state store — the merge is incremental, no batch-style
    global sort."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_enrich_with_dim(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static dimension.

    The static side re-resolves per micro-batch (so a dim refresh is picked
    up without restarting the query) and is broadcast when small — the
    stream side never shuffles, which is the property that matters when the
    stream is the 100 TB-rate side. No watermark is needed: static rows
    can't be late."""
    return events.join(
        F.broadcast(user_dim.select("user_id", "segment")), "user_id", "left"
    )


def stream_click_to_purchase(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: each purchase
    pairs with the same user's clicks in the preceding ``horizon``.

    Both sides are watermarked and the join condition bounds event-time
    distance, so the state store evicts rows once the watermark passes
    ``click.ts + horizon`` — without the range condition the join would
    have to buffer both streams FOREVER (unbounded state), which is the
    canonical stream-stream join mistake. State is keyed by user_id, so
    partitioning matches the equi-key and the range is enforced post-match.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", horizon)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", horizon)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("last_ms", LongType()),
    ]
)
_SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("closed_by_timeout", StringType()),
    ]
)


def _flush_idle_sessions(gap_ms: int):
    def update(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # the watermark passed last_event + gap with no new rows: the
            # session is CLOSED — emit the final aggregate and drop state
            n, total, _ = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "closed_by_timeout": ["yes"],
                }
            )
            return
        n, total, last_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            # pandas datetime64[ns] -> EPOCH MILLISECONDS: setTimeoutTimestamp
            # interprets a bare int as ms; feeding it microseconds silently
            # arms a timeout in year ~56k that never fires
            last_ms = max(
                last_ms, int(pdf["ts"].astype("int64").max()) // 1_000_000
            )
        state.update((n, total, last_ms))
        # arm the event-time timeout: fire once the WATERMARK (not the wall
        # clock) passes last event + gap — deterministic under replay,
        # unlike ProcessingTimeTimeout
        state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(
            {
                "user_id": [],
                "n_events": [],
                "total_value": [],
                "closed_by_timeout": [],
            }
        )

    return update


def stream_session_flush(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT: per-user
    state accumulates until the watermark passes ``last event + gap``, then
    the timed-out branch emits the closed session exactly once and frees
    the state — the applyInPandasWithState surface session_window() hides.

    Why this exists next to ``stream_user_sessions``: the built-in session
    window can only EMIT aggregates; the timeout callback is the hook for
    side effects and custom close logic (flush to a sink, emit a tombstone,
    start a downstream job) at the moment a key goes idle. State stays
    bounded by active keys x gap horizon, identical to the built-in.

    One ``gap_minutes`` knob derives BOTH the watermark delay and the
    timeout offset — two separate parameters in different encodings would
    silently drift apart."""
    gap = f"{gap_minutes} minutes"
    gap_ms = gap_minutes * 60 * 1000
    return (
        events.withWatermark("ts", gap)
        .groupBy("user_id")
        .applyInPandasWithState(
            _flush_idle_sessions(gap_ms),
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_user_profile_tws(events: DataFrame) -> DataFrame:
    """Per-user running profile on the Spark 4 ``transformWithStateInPandas``
    API — the successor to ``applyInPandasWithState`` with TYPED state
    primitives instead of one tuple: a ValueState for the running totals
    and a MapState for per-event-type counts. Requires the RocksDB state
    store provider (the default HDFS-backed store does not implement the
    new operator's column-family layout).

    Emits one row per (user, batch) with the running totals — the same
    contract as ``stream_user_running_totals``, so tests can diff the two
    implementations against each other.

    ENVIRONMENT GATE: the operator's Python state server speaks protobuf;
    containers without ``google.protobuf`` fail at query start with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE (the test skips itself
    accordingly — ``applyInPandasWithState`` above is the
    dependency-free fallback with equivalent semantics).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, total DOUBLE"
            )
            self._by_type = handle.getMapState(
                "by_type", "event_type STRING", "cnt BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                for et, cnt in pdf["event_type"].value_counts().items():
                    prev = (
                        self._by_type.getValue((et,))[0]
                        if self._by_type.containsKey((et,))
                        else 0
                    )
                    self._by_type.updateValue((et,), (prev + int(cnt),))
            self._totals.update((n, total))
            n_types = sum(1 for _ in self._by_type.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "n_event_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfile(),
        outputStructType=(
            "user_id long, n_events long, total_value double, "
            "n_event_types long"
        ),
        outputMode="Update",
        timeMode="None",
    )


def stream_click_purchase_outer(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: like :func:`stream_click_to_purchase`
    but clicks that find no purchase within ``horizon`` still emit (with
    null purchase columns) once the watermark passes their expiry — the
    attribution shape ("which clicks converted, which didn't") that an
    inner join can't answer.

    The null rows are produced by STATE EVICTION: a click buffers until
    watermark > click_ts + horizon, then flushes as unmatched. That makes
    the outer result eventually-complete per watermark, not instant — and
    is exactly why the range condition is mandatory (without it, state
    never expires and null rows never emit)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", horizon)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", horizon)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )


# --------------------------------------------------------------------------
# streaming corpus-quality router (keep / reject split writes)
# --------------------------------------------------------------------------
ROUTER_MIN_TOKENS = 5
ROUTER_MAX_TOKENS = 200

DOC_STREAM_SCHEMA = "doc_id LONG, text STRING, source STRING"


def read_doc_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source document stream (one JSON drop per micro-batch) — the
    streaming stand-in for a crawl feed."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )


def quality_verdict(docs: DataFrame) -> DataFrame:
    """Attach keep/reject verdict + first failed rule. Pure column
    expressions (shared verbatim by the batch and streaming paths, which is
    the parity contract the router test pins): NULL text, token-count
    bounds. Evaluation order defines first_failed_rule."""
    n_tok = F.size(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    rule = (
        F.when(F.col("text").isNull(), F.lit("null_text"))
        .when(n_tok < ROUTER_MIN_TOKENS, F.lit("too_short"))
        .when(n_tok > ROUTER_MAX_TOKENS, F.lit("too_long"))
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.withColumn("failed_rule", rule).withColumn(
        "keep", F.col("failed_rule").isNull()
    )


def stream_quality_router(
    docs: DataFrame, keep_dir: str, reject_dir: str, checkpoint_dir: str
):
    """Route a document stream through the quality gate: keepers append to
    the corpus sink, rejects (with their first failed rule) to the audit
    sink — the streaming form of corpus filtering, split inside ONE
    foreachBatch so both writes see the same micro-batch exactly once per
    trigger (two independent writeStreams would each re-read and could
    diverge on retry). At scale each append is a partitioned parquet/Delta
    write; the verdict itself is a shuffle-free projection."""

    def _route(batch: DataFrame, batch_id: int) -> None:
        judged = quality_verdict(batch).persist()
        try:
            judged.where(F.col("keep")).drop("failed_rule", "keep").write.mode(
                "append"
            ).parquet(keep_dir)
            judged.where(~F.col("keep")).drop("keep").write.mode(
                "append"
            ).parquet(reject_dir)
        finally:
            judged.unpersist()

    return (
        docs.writeStream.foreachBatch(_route)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(cdc: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop content-identical documents as they
    arrive — the ingest-side companion of the batch ``q_dedup_exact``
    hash-groupBy. The content key is sha2(document); state is bounded by
    ``dropDuplicatesWithinWatermark``, so a duplicate arriving within the
    2-hour watermark horizon of its first sighting is dropped, and the
    state store evicts keys once the watermark passes them — the property
    that makes streaming dedup feasible over an unbounded stream (plain
    ``dropDuplicates`` on a stream grows state forever). Downstream batch
    dedup (the MinHash/SimHash cascade) still catches duplicates that
    re-arrive beyond the horizon; this stage exists to stop the 99% case
    (immediate replays, double-delivery) from ever hitting the sink."""
    return (
        cdc.withColumn("content_sha", F.sha2("document", 256))
        .withWatermark("updated_at", "2 hours")
        .dropDuplicatesWithinWatermark(["content_sha"])
        .drop("content_sha")
    )


def stream_incremental_sink(
    cdc: DataFrame,
    spark: SparkSession,
    sink,
    checkpoint_dir: str,
):
    """The reference's incremental flow (E2) as a STREAM: each micro-batch
    is last-writer-wins-compacted per id, split per target index, and
    merged into the live generation of the versioned sink (anti-join old
    by touched ids, union upserts — tombstones propagate by omission),
    publishing a fresh generation per (index, batch) through the same
    atomic manifest flip the batch driver uses.

    Exactly-once story: foreachBatch gives at-least-once batch delivery;
    the merge is idempotent by id (replaying a batch rebuilds an identical
    generation) and the alias flip is atomic, so readers never observe a
    partial merge. Generation names carry the batch id, so a same-second
    replay can never overwrite the directory the merge is reading.

    Ordering contract: batches must arrive in CDC-watermark order — the
    guarantee the reference's single watermark-ordered cursor provides
    (and Kafka provides per partition key). The file source orders by
    modification time, so same-mtime drops are ambiguous; a deployment
    that cannot guarantee delivery order should carry ``updated_at`` into
    the sink rows and merge newest-wins with tombstone retention — the
    Delta/Iceberg ``MERGE`` formulation of this same logic.

    This is the piece that makes the engine a drop-in for the reference's
    stream task (flows/main_flow.py:712-723): point ``read_cdc_stream`` at
    the CDC drop location and the sink stays continuously synced.
    """
    from prefect_flow_arc_indexer_spark.pipeline.sinks import (
        generation_timestamp,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        latest = (
            batch.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.col("updated_at").desc(), F.col("is_deleted").desc()
                    )
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        ts = f"{generation_timestamp()}.b{batch_id}"
        for row in latest.select("index").distinct().collect():
            idx = row["index"]
            if idx is None:
                continue
            b = latest.where(F.col("index") == idx)
            upserts = b.where(~F.col("is_deleted")).select("id", "document")
            if sink.alias_exists(idx):
                old = sink.read_alias(spark, idx)
                merged = old.join(
                    b.select("id"), "id", "left_anti"
                ).unionByName(upserts)
            else:
                merged = upserts
            gen = sink.write_generation(merged, idx, ts)
            sink.publish(idx, gen)

    return (
        cdc.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
