"""CDC materialization & temporal modeling — what a consumer builds ON TOP of
the reference's change feed.

The reference ships changes (upsert/delete actions keyed by id,
`/root/reference/flows/main_flow.py:366-395`) and leaves materialization to
Elasticsearch: the index IS the latest-snapshot table, by-id upsert IS the
compaction. A Spark-native engine has to own that materialization, so these
operators make it an explicit, testable surface:

- `q_latest_snapshot`: compact a change feed to one current row per key —
  exactly the state the reference's by-id upserts converge to. row_number
  over (key, recency) = 1; ONE shuffle on the key, and the filter runs
  map-side after the window sort (no second pass). At 100 TB this is the
  canonical "dedup to latest" — partial windows per shuffle partition, no
  driver involvement, no skew beyond the key distribution itself.
- `q_scd2_intervals`: the history the reference throws away — slowly-changing
  dimension type 2. Change-detection (lag) keeps only rows where the tracked
  attribute actually changed, then validity intervals come from lead() over
  the surviving rows. Both windows share the (user_id, ts) partition/order,
  so Spark plans ONE shuffle+sort and evaluates the second window on the
  (much smaller) filtered set.
- `q_calendar_spine`: date densification — join a generated day spine against
  daily aggregates and zero-fill gaps, the standard prep for
  training-pipeline time features. The spine comes from sequence()+explode
  of the min/max bounds (a 1-row broadcast side), so the only real work is
  the daily aggregate: one shuffle at day granularity (bounded cardinality),
  then a broadcast join spine←daily.
- `q_rolling_revenue`: trailing 7-day window over the daily series with a
  RANGE frame on integer day numbers (not ROWS: gaps in the calendar must
  widen the frame, not slide past it). Sums stay DECIMAL through the rolling
  frame so float association order can't drift between engines; day
  cardinality is tiny after the daily pre-aggregate, so the single-partition
  global window is a non-issue (and at scale you'd window per entity, which
  partitions naturally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table


@register(
    "q_latest_snapshot",
    oracle="""SELECT user_id, event_id, ts, event_type, value
  FROM (SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
 WHERE rn = 1
""",
    doc="CDC compaction: latest row per key (the state by-id upserts "
    "converge to, main_flow.py:378-395) — row_number over (key, recency "
    "DESC) = 1, one shuffle",
)
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_scd2_intervals",
    oracle="""WITH changes AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
    FROM events
),
hist AS (
  SELECT user_id, event_type, ts AS valid_from
    FROM changes
   WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_type) AS valid_to,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY valid_from, event_type) AS version
  FROM hist
""",
    doc="SCD type-2 history build: lag() change-detection keeps attribute "
    "transitions, lead() over survivors assigns [valid_from, valid_to) — "
    "both windows share one (user_id, ts) shuffle+sort",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_full = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(w_full).alias("prev_type"),
    )
    hist = changes.where(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", "event_type", F.col("ts").alias("valid_from"))
    # event_type tie-break: two attribute changes at the same (user, ts)
    # would otherwise get engine-arbitrary version/valid_to assignment
    w_hist = Window.partitionBy("user_id").orderBy("valid_from", "event_type")
    return hist.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_hist).alias("valid_to"),
        F.row_number().over(w_hist).alias("version"),
    )


@register(
    "q_calendar_spine",
    oracle="""WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
         CAST(max(o_orderdate) AS DATE) AS hi
    FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
    FROM orders
   GROUP BY 1
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       coalesce(d.revenue, 0.0) AS revenue,
       coalesce(d.n_orders, 0) AS n_orders
  FROM spine s LEFT JOIN daily d ON s.day = d.day
""",
    doc="date densification: sequence()+explode day spine from the 1-row "
    "min/max bounds, left-joined to the daily aggregate, gaps zero-filled "
    "— spine side broadcasts, only shuffle is the bounded daily groupBy. "
    "day is surfaced as an ISO string: pandas-path harnesses turn DuckDB "
    "DATE into datetime64 ('… 00:00:00') but Spark DATE into date objects, "
    "splitting the hash on otherwise-equal values",
)
def q_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.to_date(F.min("o_orderdate")).alias("lo"),
        F.to_date(F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return spine.join(daily, "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "q_rolling_revenue",
    oracle="""WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders
   GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(sum(rev) OVER (ORDER BY day_num
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS rolling_7d
  FROM daily
""",
    doc="trailing 7-day revenue: RANGE frame on integer day numbers so "
    "calendar gaps widen the frame instead of sliding past it; DECIMAL "
    "through the rolling sum (association-order-proof), cast double at "
    "the edge; day surfaced as ISO string for pandas-path date parity",
)
def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "day_num"
        ),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("day_num").rangeBetween(-6, Window.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w).cast("double").alias("rolling_7d"),
    )


# --------------------------------------------------------------------------
# incremental view maintenance: merge a batch's partial aggregates into the
# standing rollup without rescanning the corpus
# --------------------------------------------------------------------------
IVM_SALT = "ivm:"
IVM_EXISTING_PCT = 80


@register(
    "q_incremental_rollup",
    # The ORACLE is the direct full recompute — the merged result must be
    # indistinguishable from rescanning everything, which is the whole IVM
    # correctness contract.
    oracle="""SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
  FROM documents GROUP BY source, lang
""",
    doc="incremental view maintenance (the mergeable-aggregate algebra): "
    "the standing corpus (a deterministic 80% hash slice, standing in for "
    "yesterday's stored rollup) and the incoming batch each produce "
    "PARTIAL aggregates — count and sum, the commutative monoids — which "
    "merge by addition; derived values (avg) are computed only after the "
    "merge, never merged themselves (averaging averages is the classic "
    "IVM bug). The oracle is the direct full recompute: merged == rescan "
    "is the IVM correctness contract. At 100 TB this is the difference "
    "between touching |batch| + |groups| rows daily and rescanning the "
    "corpus; the same algebra is why Spark's own partial aggregation "
    "works, applied here across JOB runs instead of across partitions.",
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prefect_flow_arc_indexer_spark.operators.sampling import split_bucket

    docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", "source", "lang", "n_chars"
    )
    is_existing = split_bucket(F.col("doc_id"), IVM_SALT) < IVM_EXISTING_PCT

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("source", "lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )

    standing = partial(docs.where(is_existing))
    batch = partial(docs.where(~is_existing))
    merged = (
        standing.unionByName(batch)
        .groupBy("source", "lang")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_chars").cast("bigint").alias("total_chars"),
        )
    )
    return merged.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        F.round(
            F.col("total_chars").cast("double") / F.col("n_docs"), 6
        ).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# dataset snapshot diff: content-hash census between two corpus versions
# --------------------------------------------------------------------------
# Deterministic stand-ins for two published dataset versions: v1 drops every
# 7th doc, v2 drops every 5th and rewrites every 11th — so the diff exercises
# all four verdicts (added / removed / changed / unchanged).


@register(
    "q_dataset_diff",
    oracle="""WITH v1 AS (
  SELECT doc_id, md5(text) AS h FROM documents
   WHERE doc_id % 7 <> 0 AND text IS NOT NULL
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
    FROM documents
   WHERE doc_id % 5 <> 0 AND text IS NOT NULL
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN v1.h <> v2.h THEN 'changed'
            ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
""",
    doc="dataset-versioning diff: row-level added/removed/changed/unchanged "
    "verdicts between two corpus snapshots by (doc_id, content-hash) — the "
    "release-note census a data-governance pipeline publishes with every "
    "dataset version (and the input to incremental re-embedding: only "
    "'added'+'changed' rows re-enter the expensive stages). One full-outer "
    "hash join on the id key; content equality via md5 so the comparison "
    "ships 32 bytes per row, never the documents — at 100 TB the hashes "
    "come from the write path's column statistics and the diff never "
    "rereads payloads.",
)
def q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("text").isNotNull()
    )
    v1 = docs.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("v1_id"), F.md5("text").alias("v1_h")
    )
    v2 = docs.where(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("v2_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("v2_h"),
    )
    return v1.join(v2, F.col("v1_id") == F.col("v2_id"), "full_outer").select(
        F.coalesce(F.col("v1_id"), F.col("v2_id")).alias("doc_id"),
        F.when(F.col("v1_id").isNull(), F.lit("added"))
        .when(F.col("v2_id").isNull(), F.lit("removed"))
        .when(F.col("v1_h") != F.col("v2_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


# --------------------------------------------------------------------------
# incremental re-embedding plan (vector-index maintenance from the diff)
# --------------------------------------------------------------------------
def _register_reembed_plan():
    """The diff's downstream consumer: join the snapshot verdicts against
    the standing vector index (embeddings.vec_id plays the has-a-vector
    check) and emit the maintenance work plan — only 'added'/'changed'
    rows re-enter the expensive embedding stage, 'removed' rows become
    vector deletes, and 'unchanged' rows without a vector surface as
    backfill debt. This is incremental view maintenance for the ANN index."""
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    diff_sql = _REGISTRY["q_dataset_diff"].oracle
    oracle = f"""WITH diff AS ({diff_sql}),
joined AS (
  SELECT d.status, CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS has_vec
    FROM diff d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
),
planned AS (
  SELECT CASE WHEN status IN ('added', 'changed') THEN 'embed'
              WHEN status = 'removed' AND has_vec = 1 THEN 'delete_vector'
              WHEN status = 'unchanged' AND has_vec = 0 THEN 'backfill'
              ELSE 'noop' END AS action,
         has_vec
    FROM joined
)
SELECT action, count(*) AS n_docs,
       CAST(sum(has_vec) AS BIGINT) AS n_with_vector
  FROM planned GROUP BY action
"""

    @register(
        "q_reembed_plan",
        oracle=oracle,
        doc="incremental re-embedding plan: the dataset diff's verdicts "
        "joined against the standing vector index -> per-action work "
        "census (embed the added/changed, delete vectors of the removed, "
        "surface unchanged-but-unembedded backfill debt). The join ships "
        "ids only (the diff already reduced content to hashes); the "
        "census is a 4-key bounded aggregate — at 100 TB the expensive "
        "embedding stage runs over exactly the 'embed' slice, never the "
        "corpus. This is incremental view maintenance for the ANN index, "
        "composing q_dataset_diff the way q_incremental_rollup composes "
        "the corpus rollup.",
    )
    def q_reembed_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        diff = _REGISTRY["q_dataset_diff"].builder(spark, sf_dir)
        vec = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_vec_flag")
        )
        joined = diff.join(vec, "doc_id", "left").select(
            "status",
            F.coalesce("has_vec_flag", F.lit(0)).alias("has_vec"),
        )
        action = (
            F.when(F.col("status").isin("added", "changed"), "embed")
            .when(
                (F.col("status") == "removed") & (F.col("has_vec") == 1),
                "delete_vector",
            )
            .when(
                (F.col("status") == "unchanged") & (F.col("has_vec") == 0),
                "backfill",
            )
            .otherwise("noop")
        )
        return (
            joined.select(action.alias("action"), "has_vec")
            .groupBy("action")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("has_vec").cast("bigint").alias("n_with_vector"),
            )
        )


_register_reembed_plan()


# --------------------------------------------------------------------------
# stream == batch parity: the CDC merge drained through Structured
# Streaming (VERDICT r9 task 5)
# --------------------------------------------------------------------------
_PARITY_CHUNKS = 4


def _register_stream_batch_parity():
    """Drain the CDC merge THROUGH Structured Streaming and gate the result
    on q_cdc_merge's exact oracle — the driver-visible proof that a
    micro-batch fold of the feed computes the same answer as the batch
    merge."""
    # force q_cdc_merge's registration before dereferencing it, so this
    # module stays independently importable instead of relying on
    # _OPERATOR_MODULES ordering (the _register_quality_ensemble pattern;
    # ADVICE r10)
    import prefect_flow_arc_indexer_spark.operators.indexer  # noqa: F401
    from prefect_flow_arc_indexer_spark.plans.registry import _REGISTRY

    merge_sql = _REGISTRY["q_cdc_merge"].oracle

    @register(
        "q_stream_batch_parity",
        oracle=merge_sql,
        doc="stream==batch parity on the engine's core semantic: the events "
        f"feed is re-chunked into {_PARITY_CHUNKS} files, read back with "
        "readStream (maxFilesPerTrigger=1 -> one micro-batch per file), "
        "and folded through foreachBatch last-writer-wins merges into a "
        "keyed snapshot (tombstones retained in state so a late-arriving "
        "older row can never resurrect a deleted key, dropped only at "
        "read-out). The final snapshot equals q_cdc_merge's batch oracle "
        "EXACTLY because per-key global last-writer-wins by (ts, event_id) "
        "with tombstone-drop is the closed form both compute: every "
        "batch-side ts >= watermark > every snapshot-side ts, so the "
        "oracle's carried/applied split picks precisely the per-key global "
        "maximum (reference micro-batch CDC semantics, "
        "flows/main_flow.py:317-323,603; T1-T4). Per micro-batch the merge "
        "is one (key)-shuffled window over state+batch — the same "
        "compact-to-latest kernel as q_latest_snapshot — and state lives "
        "in alternating parquet snapshots (the open-source stand-in for an "
        "upsert sink); at 100 TB the same fold runs with a partitioned "
        "MERGE INTO and per-batch cost keyed by the batch, not the state.",
    )
    def q_stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
        import shutil
        import tempfile

        work = tempfile.mkdtemp(prefix="stream_parity_")
        try:
            ev = load_table(spark, sf_dir, "events").select(
                "user_id", "event_id", "ts", "props"
            )
            feed_dir = f"{work}/feed"
            # re-chunk the feed so availableNow genuinely exercises
            # multi-micro-batch offset tracking (one file per trigger)
            ev.repartition(_PARITY_CHUNKS).write.parquet(feed_dir)
            schema = spark.read.parquet(feed_dir).schema

            state_paths = [f"{work}/state_a", f"{work}/state_b"]
            current: list[int] = []  # state_paths index after each fold

            w = Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )

            def fold(batch_df: DataFrame, batch_id: int) -> None:
                s = batch_df.sparkSession
                merged = batch_df
                if current:
                    merged = s.read.parquet(
                        state_paths[current[-1]]
                    ).unionByName(batch_df)
                nxt = len(current) % 2
                (
                    merged.withColumn("rn", F.row_number().over(w))
                    .where(F.col("rn") == 1)
                    .drop("rn")
                    .write.mode("overwrite")
                    .parquet(state_paths[nxt])
                )
                current.append(nxt)

            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(feed_dir)
                .writeStream.foreachBatch(fold)
                .option("checkpointLocation", f"{work}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if not current:  # empty feed
                return local_frame(spark, [], schema)
            # the eager checkpoint materializes the snapshot BEFORE the
            # finally-block deletes the temp state parquet; the release
            # handle is the caller's (the q_pagerank/q_golden_record
            # shape, ADVICE r10 — harness sweeps also blanket-release
            # persistent RDDs between queries)
            from prefect_flow_arc_indexer_spark.functions.caching import (
                CheckpointRelease,
            )

            out = (
                spark.read.parquet(state_paths[current[-1]])
                .where(F.col("event_id") % 13 != 0)
                .select("user_id", "event_id", "ts", "props")
                .localCheckpoint(eager=True)
            )
            out.ckpt_release = CheckpointRelease(out)
            return out
        finally:
            shutil.rmtree(work, ignore_errors=True)


_register_stream_batch_parity()
