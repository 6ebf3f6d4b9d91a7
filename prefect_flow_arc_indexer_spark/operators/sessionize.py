"""Event-time windowing over ``events`` — streaming-shaped semantics run in
batch (the reference's incremental sync is CDC-by-watermark, SURVEY §2.6;
these operators add the event-time window surface it lacks).

- `q_session_window`: per-user session windows with a 30-minute inactivity
  gap via Spark's native ``session_window`` aggregation. The DuckDB oracle
  replicates the semantics with gaps-and-islands SQL (lag -> boundary flag ->
  running sum), pinning down the boundary rule: an event exactly ``gap``
  after its predecessor MERGES into the session (Spark treats the session
  end ``last_event + gap`` as inclusive for the next event; verified by
  test_session_window_gap_semantics).
- `q_events_hourly`: tumbling 1-hour windows per event type.

Money-style double sums go through DECIMAL(18,2) so partial-aggregation
order can't produce float drift between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prefect_flow_arc_indexer_spark.functions.hashing import stable_hash
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

SESSION_GAP = "30 minutes"


@register(
    "q_session_window",
    oracle="""WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
    FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM sessions
 GROUP BY user_id, session_seq
""",
    doc="sessionization: per-user 30-min-gap session windows "
    "(session_window agg; oracle = gaps-and-islands SQL)",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", SESSION_GAP))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q_events_hourly",
    oracle="""SELECT event_type,
       epoch_us(date_trunc('hour', ts)) AS hour_start_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events
 GROUP BY event_type, date_trunc('hour', ts)
""",
    doc="tumbling 1-hour event-time windows per event type",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            F.unix_micros("window.start").alias("hour_start_us"),
            "n_events",
            "total_value",
        )
    )


RATE_WINDOW_SEC = 3600


@register(
    "q_rolling_event_rate",
    # floor() before the BIGINT cast: Spark's unix_timestamp TRUNCATES
    # sub-second micros while DuckDB's CAST(double AS BIGINT) ROUNDS —
    # an event at x.84s would order as x+1 on one engine and x on the
    # other, flipping RANGE-frame membership exactly at the 3600s edge
    # (surfaced by the sf0.1 sweep, invisible at sf0.01).
    oracle=f"""SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id
                      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN {RATE_WINDOW_SEC} PRECEDING
                                AND CURRENT ROW) AS events_last_hour
  FROM events
""",
    doc="sliding event rate: per user, events in the trailing hour via a "
    "RANGE frame over epoch seconds (value-based, so irregular event "
    "spacing is handled exactly — a ROWS frame would be wrong) — the "
    "rate-limiter / burst-detection feature; one shuffle on user_id, the "
    "frame scan is per-user-ordered and O(events in window) per row",
)
def q_rolling_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-RATE_WINDOW_SEC, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("events_last_hour"),
    )


HOP_WIDTH_US = 3600 * 1_000_000
HOP_SLIDE_US = 900 * 1_000_000
HOPS_PER_WINDOW = HOP_WIDTH_US // HOP_SLIDE_US  # 4


@register(
    "q_hopping_window",
    oracle=f"""SELECT CAST((epoch_us(ts) // {HOP_SLIDE_US}) * {HOP_SLIDE_US}
            - k.k * {HOP_SLIDE_US} AS BIGINT) AS win_start_us,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events, range({HOPS_PER_WINDOW}) k(k)
 GROUP BY 1, 2
""",
    doc="hopping (sliding) event-time windows: 1-hour width, 15-minute "
    "slide, per event type — each event lands in exactly width/slide = 4 "
    "windows. Spark's window(ts, width, slide) expands the assignment "
    "scan-side (a 4x row multiplier BEFORE one shuffle on (window, type)); "
    "the oracle replicates the epoch-aligned window math with a range() "
    "cross join. Tumbling (q_events_hourly) is the slide == width "
    "special case.",
)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# chat-format training-example assembly (session -> budgeted turn prefix)
# --------------------------------------------------------------------------
CHAT_TOKEN_BUDGET = 16
CHAT_GAP_US = 1_800_000_000  # 30 min in microseconds, exact-integer compare


@register(
    "q_chat_assembly",
    oracle=f"""WITH flagged AS (
  SELECT user_id, event_id, ts, event_type, props,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {CHAT_GAP_US}
              THEN 1 ELSE 0 END AS new_session
    FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq,
         1 + coalesce(length(props), 0) // 8 AS cost
    FROM flagged
), cum AS (
  SELECT *,
         sum(cost) OVER (PARTITION BY user_id, session_seq
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS cum
    FROM sess
)
SELECT user_id,
       min(epoch_us(ts)) AS session_start_us,
       count(*) AS n_events,
       CAST(sum(CASE WHEN cum <= {CHAT_TOKEN_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(max(CASE WHEN cum <= {CHAT_TOKEN_BUDGET} THEN cum ELSE 0 END)
            AS BIGINT) AS tokens_used,
       coalesce(string_agg(event_type, '|' ORDER BY ts, event_id)
                FILTER (WHERE cum <= {CHAT_TOKEN_BUDGET}), '') AS transcript
  FROM cum GROUP BY user_id, session_seq
""",
    doc="chat-format training-example assembly: 30-min-gap sessions "
    "(exact-integer microsecond gap compare), each event is a turn whose "
    "token cost is 1 + len(props) div 8, and the example keeps the "
    "longest turn PREFIX whose cumulative cost fits the context budget "
    f"of {CHAT_TOKEN_BUDGET} (prefix = running-sum <= budget; no "
    "re-packing after the first overflow). Emits the ordered transcript, "
    "kept-turn count and tokens used — the conversation->context-window "
    "materialization step of a chat-training pipeline. Scale shape: all "
    "three windows cluster on user_id (one exchange; the session-level "
    "window's (user, session) requirement is satisfied by the user_id "
    "hash partitioning, Spark adds only the sort), transcripts are "
    "assembled per session with bounded length, and the final agg "
    "combines map-side on (user, session).",
)
def q_chat_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "props"
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsu = F.unix_micros("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag(tsu).over(w_u).isNull()
            | (tsu - F.lag(tsu).over(w_u) > CHAT_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w_u.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn(
        "cost", F.expr("1 + coalesce(length(props), 0) div 8")
    )
    w_s = (
        Window.partitionBy("user_id", "session_seq")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sess.withColumn("cum", F.sum("cost").over(w_s)).withColumn(
        "kept", F.col("cum") <= CHAT_TOKEN_BUDGET
    )
    turns = F.array_sort(
        F.collect_list(
            F.struct(
                tsu.alias("tsu"),
                F.col("event_id").alias("eid"),
                F.col("kept").alias("kept"),
                F.col("event_type").alias("etype"),
            )
        )
    )
    return cum.groupBy("user_id", "session_seq").agg(
        F.min(tsu).alias("session_start_us"),
        F.count("*").alias("n_events"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
        F.max(F.when(F.col("kept"), F.col("cum")).otherwise(0))
        .cast("bigint")
        .alias("tokens_used"),
        F.concat_ws(
            "|",
            F.transform(
                F.filter(turns, lambda t: t["kept"]),
                lambda t: t["etype"],
            ),
        ).alias("transcript"),
    ).drop("session_seq")


# --------------------------------------------------------------------------
# event-time lateness census (the watermark-delay design audit)
# --------------------------------------------------------------------------
_LATE_BUCKETS_US = (
    ("on-time", 0),
    ("<1m", 60_000_000),
    ("<10m", 600_000_000),
    ("<1h", 3_600_000_000),
)  # else '>=1h'


@register(
    "q_late_census",
    oracle="""WITH arr AS (
  SELECT user_id, ts,
         CAST('0x' || substr(md5('arr:' || CAST(event_id AS VARCHAR)), 1, 7)
              AS BIGINT) AS arr_h,
         event_id
    FROM events
), lat AS (
  SELECT user_id,
         max(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY arr_h, event_id
                                 ROWS UNBOUNDED PRECEDING)
           - epoch_us(ts) AS late_us
    FROM arr
), bucketed AS (
  SELECT CASE WHEN late_us = 0 THEN 'on-time'
              WHEN late_us < 60000000 THEN '<1m'
              WHEN late_us < 600000000 THEN '<10m'
              WHEN late_us < 3600000000 THEN '<1h'
              ELSE '>=1h' END AS bucket,
         late_us
    FROM lat
), counts AS (
  SELECT bucket, count(*) AS n_events,
         CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM bucketed GROUP BY bucket
)
SELECT bucket, n_events,
       round(CAST(n_events AS DOUBLE)
             / (SELECT sum(n_events) FROM counts), 6) AS share,
       max_late_us
  FROM counts
""",
    doc="event-time lateness census: how far behind its user's running "
    "event-time high-water mark (over simulated ingest order — a salted "
    "deterministic arrival permutation; production uses the real ingest "
    "sequence) each event "
    "arrives, bucketed on exact integer microseconds — the out-of-"
    "orderness profile that DESIGNS the streaming layer's withWatermark "
    "delay (pick the bucket that covers the tail you're willing to wait "
    "for; the '>=1h' share is the fraction a 1h watermark would drop). "
    "Scale shape: one user-keyed window (running max over ingest order), "
    "then a 5-key bounded aggregation that map-side combines; nothing "
    "wider than (user partition) ever shuffles.",
)
def q_late_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    # The demo corpus is perfectly event-time-sorted, so the REAL ingest
    # order would make every event on-time; arrival is therefore simulated
    # as a deterministic salted-hash permutation (worst case: arrival
    # uncorrelated with event time). Production swaps arr_h for the actual
    # ingest sequence column — the rest of the plan is unchanged.
    arr_h = stable_hash(
        F.concat(F.lit("arr:"), F.col("event_id").cast("string"))
    )
    ev = ev.withColumn("arr_h", arr_h)
    tsu = F.unix_micros("ts")
    w_u = (
        Window.partitionBy("user_id")
        .orderBy("arr_h", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select((F.max(tsu).over(w_u) - tsu).alias("late_us"))
    bucket = F.when(F.col("late_us") == 0, "on-time")
    for name, bound in _LATE_BUCKETS_US[1:]:
        bucket = bucket.when(F.col("late_us") < bound, name)
    bucket = bucket.otherwise(">=1h")
    counts = (
        late.select(bucket.alias("bucket"), "late_us")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
        )
    )
    total = counts.agg(F.sum("n_events").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bucket",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
        "max_late_us",
    )
