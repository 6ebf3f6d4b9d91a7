"""Temporal join operators Spark lacks as built-ins: as-of join and range
(interval) join — implemented as compositions of DataFrame ops, per the
custom-operator ladder (composition > pandas UDF > mapPartitions).

**As-of join** (`asof_join`, `q_asof_join`): for each left row (key, ts),
attach the most recent right row with the same key and right.ts <= left.ts.
The naive formulation is a range join (quadratic blow-up per key); the
scalable one used here is the union-and-carry pattern:

  1. tag right rows 0, left rows 1, union on (key, ts, tag);
  2. one window over (partition key, order ts, tag) carries the last non-null
     right payload forward (`last(..., ignoreNulls=True)`);
  3. keep left rows.

Cost: ONE shuffle on the key (same as any equi-join), no pair explosion,
and the window sort is exactly the shuffle sort. Right rows with equal
(key, ts) are pre-deduped to the highest-priority one so the carry is
deterministic.

**Range join** (`q_range_join`): band/interval lookup — each fact row joins
the band whose [lo, hi) contains its value. With a tiny band table the right
plan is a broadcast nested-loop join (corpus scanned once, bands in memory);
when bands are regular, arithmetic bucketing (`floor(value/width)`) turns it
into a pure projection — both shapes shown.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.frames import local_frame
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
) -> DataFrame:
    """Generic as-of join (backward-looking, inclusive) via union-and-carry.

    Returns ``left`` columns plus ``payload_cols`` from the latest matching
    right row (NULL when no right row precedes the left row).
    """
    r = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in payload_cols],
    )
    l = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(r.schema[c].dataType).alias(c) for c in payload_cols],
        *[F.col(c) for c in left.columns],
    )
    # right rows sort before left rows at equal ts => inclusive (<=) as-of
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r.unionByName(l, allowMissingColumns=True).select(
        "*",
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in payload_cols
        ],
    )
    return carried.where(F.col("_side") == 1).select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"_asof_{c}").alias(c) for c in payload_cols],
    )


@register(
    "q_asof_join",
    oracle="""WITH r AS (
  SELECT o_custkey AS k, o_orderdate AS t,
         max_by(o_orderkey, o_orderkey) AS asof_orderkey,
         max_by(o_totalprice, o_orderkey) AS asof_totalprice
    FROM orders GROUP BY o_custkey, o_orderdate
),
l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id, l.ts, r.asof_orderkey, r.asof_totalprice
  FROM l ASOF LEFT JOIN r ON l.user_id = r.k AND l.ts >= r.t
""",
    doc="as-of join: each purchase event picks the customer's most recent "
    "order at-or-before the event time; union-and-carry plan (one shuffle, "
    "no range-join explosion). Right side pre-deduped per (key, ts) by max "
    "orderkey for determinism.",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"))
        .agg(
            F.max_by("o_orderkey", "o_orderkey").alias("asof_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("asof_totalprice"),
        )
    )
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    return asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="k",
        left_ts="ts",
        right_ts="t",
        payload_cols=["asof_orderkey", "asof_totalprice"],
    ).select("event_id", "user_id", "ts", "asof_orderkey", "asof_totalprice")


BAND_WIDTH = 50_000
N_BANDS = 12


@register(
    "q_range_join",
    oracle=f"""WITH bands AS (
  SELECT i AS band_id,
         i * {BAND_WIDTH} AS lo,
         (i + 1) * {BAND_WIDTH} AS hi
    FROM generate_series(0, {N_BANDS - 1}) AS t(i)
)
SELECT b.band_id, b.lo, b.hi,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders o JOIN bands b
    ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
 GROUP BY b.band_id, b.lo, b.hi
""",
    doc="range (interval) join: orders matched to price bands by "
    "containment; tiny band table broadcast -> nested-loop join with the "
    "fact side scanned once (regular bands could instead be arithmetic "
    "bucketing, a pure projection)",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = spark.range(N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.col("id") * BAND_WIDTH).alias("lo"),
        ((F.col("id") + 1) * BAND_WIDTH).alias("hi"),
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


ASOF_TOLERANCE_DAYS = 90


@register(
    "q_asof_tolerance",
    oracle=f"""WITH r AS (
  SELECT o_custkey AS k, o_orderdate AS t,
         max_by(o_orderkey, o_orderkey) AS asof_orderkey,
         max_by(o_totalprice, o_orderkey) AS asof_totalprice
    FROM orders GROUP BY o_custkey, o_orderdate
),
l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id, l.user_id, l.ts,
       CASE WHEN r.t >= l.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
            THEN r.asof_orderkey END AS asof_orderkey,
       CASE WHEN r.t >= l.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
            THEN r.asof_totalprice END AS asof_totalprice,
       (r.t IS NOT NULL
        AND r.t >= l.ts - INTERVAL {ASOF_TOLERANCE_DAYS} DAY) AS is_fresh
  FROM l ASOF LEFT JOIN r ON l.user_id = r.k AND l.ts >= r.t
""",
    doc=f"as-of join with max-staleness tolerance ({ASOF_TOLERANCE_DAYS} "
    "days): the feature-store variant — a match older than the tolerance "
    "is treated as missing (payload nulled, is_fresh=false) so models "
    "never train on stale features. Same union-and-carry plan as "
    "q_asof_join (the carried right timestamp rides along as one more "
    "payload column; the staleness check is a post-projection, not a "
    "second join)",
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"))
        .agg(
            F.max_by("o_orderkey", "o_orderkey").alias("asof_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("asof_totalprice"),
        )
        .withColumn("asof_t", F.col("t"))
    )
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    joined = asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="k",
        left_ts="ts",
        right_ts="t",
        payload_cols=["asof_orderkey", "asof_totalprice", "asof_t"],
    )
    fresh = F.col("asof_t") >= F.col("ts") - F.expr(
        f"INTERVAL {ASOF_TOLERANCE_DAYS} DAY"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("asof_orderkey")).alias("asof_orderkey"),
        F.when(fresh, F.col("asof_totalprice")).alias("asof_totalprice"),
        F.coalesce(fresh, F.lit(False)).alias("is_fresh"),
    )


# --------------------------------------------------------------------------
# sweep-line interval concurrency (order-to-ship backlog depth)
# --------------------------------------------------------------------------
@register(
    "q_backlog_sweep",
    oracle="""WITH iv AS (
  SELECT CAST(least(o.o_orderdate, l.l_shipdate) AS DATE) AS start_day,
         CAST(greatest(o.o_orderdate, l.l_shipdate) AS DATE) + 1 AS end_day
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deltas AS (
  SELECT start_day AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT end_day AS day, -1 AS delta FROM iv
), daily AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM deltas GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, delta,
       CAST(sum(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS open_items
  FROM daily
""",
    doc="sweep-line interval concurrency: how many order lines are open "
    "(between order placement and ship, endpoints normalized, end "
    "exclusive) on each calendar day — the classic +1/-1 endpoint sweep. "
    "Scale shape: the corpus-sized work is ONE equi-join (lineitem x "
    "orders on the order key) and one groupBy over DAYS — a "
    "values-bounded key (~2.4k distinct days regardless of SF), so the "
    "running-sum window runs over the tiny daily table, never the fact "
    "stream. The global-order cumsum is a deliberate single-partition "
    "window over that bounded table (thousands of rows at any scale) — "
    "the same two-level shape a 100 TB deployment uses: reduce to the "
    "bounded axis first, sweep second.",
)
def q_backlog_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.to_date(F.least("o_orderdate", "l_shipdate")).alias("start_day"),
        F.date_add(
            F.to_date(F.greatest("o_orderdate", "l_shipdate")), 1
        ).alias("end_day"),
    )
    deltas = iv.select(
        F.col("start_day").alias("day"), F.lit(1).alias("d")
    ).unionAll(iv.select(F.col("end_day").alias("day"), F.lit(-1).alias("d")))
    daily = deltas.groupBy("day").agg(F.sum("d").cast("bigint").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "delta",
        F.sum("delta").over(w).cast("bigint").alias("open_items"),
    )


# --------------------------------------------------------------------------
# autocorrelation of the daily revenue series (time-series health)
# --------------------------------------------------------------------------
ACF_LAGS = (1, 7, 30)


@register(
    "q_revenue_acf",
    oracle=f"""WITH bounds AS (
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
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
series AS (
  SELECT row_number() OVER (ORDER BY s.day) AS t,
         coalesce(d.cents, 0) AS y
    FROM spine s LEFT JOIN daily d ON s.day = d.day
),
lagged AS (
  SELECT lag AS lag_d, t, y,
         lag(y, lag) OVER (PARTITION BY lag ORDER BY t) AS y_lag
    FROM series CROSS JOIN (VALUES {", ".join(f"({L})" for L in ACF_LAGS)}) l(lag)
),
sums AS (
  SELECT lag_d, count(*) AS n,
         CAST(sum(y) AS BIGINT) AS sx, CAST(sum(y_lag) AS BIGINT) AS sy,
         sum(CAST(y AS HUGEINT) * y) AS sxx,
         sum(CAST(y_lag AS HUGEINT) * y_lag) AS syy,
         sum(CAST(y AS HUGEINT) * y_lag) AS sxy
    FROM lagged WHERE y_lag IS NOT NULL GROUP BY lag_d
)
SELECT lag_d AS lag, CAST(n AS BIGINT) AS n_pairs,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS acf
  FROM sums
""",
    doc="autocorrelation of the zero-filled daily revenue series at lags "
    f"{ACF_LAGS} (weekly/monthly seasonality detector for the corpus's "
    "event-volume health). All moment sums are EXACT integer cents "
    "(partial-agg-order-proof); the Pearson formula is applied once in "
    "doubles, identically on both engines. Scale shape: the corpus "
    "reduces to the values-bounded day axis in one groupBy; the lag "
    "windows and moment sums run over that ~2.4k-row table (x3 lags), "
    "driver-trivial at any SF. Second moments exceed int64, so they "
    "accumulate in exact 128-bit integers (DECIMAL(38,0) / HUGEINT) — "
    "headroom past sf10000.",
)
def q_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.to_date(F.min("o_orderdate")).alias("lo"),
        F.to_date(F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        )
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w_day = Window.orderBy("day")
    series = (
        spine.join(daily, "day", "left")
        .select(
            F.row_number().over(w_day).alias("t"),
            F.coalesce("cents", F.lit(0)).alias("y"),
        )
    )
    lags = local_frame(spark, [(L,) for L in ACF_LAGS], "lag_d int")
    # Spark's lag() needs a literal offset; on a DENSE integer spine the
    # per-lag shift is the equi-join t_prev = t - lag_d (rows with
    # t - lag_d < 1 drop out — exactly the oracle's y_lag IS NOT NULL)
    prev = series.select(
        F.col("t").alias("t_prev"), F.col("y").alias("y_lag")
    )
    lagged = (
        series.crossJoin(F.broadcast(lags))
        .withColumn("t_prev", F.col("t") - F.col("lag_d"))
        .join(prev, "t_prev")
    )
    # second moments exceed int64 (daily cents squared): exact 128-bit on
    # both engines — DECIMAL(38,0) sums here, HUGEINT in the oracle; the
    # single decimal->double conversion rounds-to-nearest identically
    yd = F.col("y").cast("decimal(19,0)")
    yl = F.col("y_lag").cast("decimal(19,0)")
    sums = (
        lagged.groupBy("lag_d")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").cast("bigint").alias("sx"),
            F.sum("y_lag").cast("bigint").alias("sy"),
            F.sum(yd * yd).alias("sxx"),
            F.sum(yl * yl).alias("syy"),
            F.sum(yd * yl).alias("sxy"),
        )
    )
    n = F.col("n")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return sums.select(
        F.col("lag_d").alias("lag"),
        n.cast("bigint").alias("n_pairs"),
        F.round(
            (n * d("sxy") - d("sx") * d("sy"))
            / F.sqrt(
                (n * d("sxx") - d("sx") * d("sx"))
                * (n * d("syy") - d("sy") * d("sy"))
            ),
            6,
        ).alias("acf"),
    )


# --------------------------------------------------------------------------
# interval-overlap join: user sessions x incident windows
# --------------------------------------------------------------------------
INC_WINDOW_US = 900 * 1_000_000  # each error event opens a 15-min incident
IJ_BUCKET_US = 3600 * 1_000_000  # physical blocking bucket (1 h)


@register(
    "q_interval_join",
    oracle=f"""WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
    FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id,
         epoch_us(min(ts)) AS s_start_us,
         epoch_us(max(ts)) AS s_end_us
    FROM (SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS seq
            FROM flagged)
   GROUP BY user_id, seq
),
incidents AS (
  SELECT event_id AS incident_id,
         epoch_us(ts) AS i_start_us,
         epoch_us(ts) + {INC_WINDOW_US} AS i_end_us
    FROM events WHERE event_type = 'error'
),
pairs AS (
  SELECT s.user_id, s.s_start_us, s.s_end_us, i.incident_id,
         least(s.s_end_us, i.i_end_us)
           - greatest(s.s_start_us, i.i_start_us) AS overlap_us
    FROM sessions s JOIN incidents i
      ON s.s_start_us <= i.i_end_us AND i.i_start_us <= s.s_end_us
)
SELECT user_id, s_start_us, s_end_us,
       count(*) AS n_incidents,
       CAST(sum(overlap_us) AS BIGINT) AS overlap_us_total
  FROM pairs
 GROUP BY user_id, s_start_us, s_end_us
""",
    doc="interval-overlap join: per-user activity sessions (30-min-gap "
    "gaps-and-islands intervals) joined against global incident windows "
    "(each error event opens a closed 15-minute interval) on time "
    "OVERLAP, aggregated to per-session incident count + total overlap. "
    "The oracle states the semantics as the theta join "
    "(s.start <= i.end AND i.start <= s.end); the Spark plan BUCKETIZES "
    "both interval sets onto a 1-hour grid (F.sequence over bucket ids, "
    "explode) so candidate generation is a hash EQUI-join on bucket id — "
    "the theta form would be a broadcast-nested-loop scan of every "
    "(session x incident) pair, which dies at 100 TB while the bucket "
    "join's volume tracks per-bucket concurrency (intervals alive in the "
    "same hour). Pairs spanning multiple shared buckets are deduped "
    "before the exact overlap arithmetic, so bucket width changes cost, "
    "never results.",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    tsu = F.unix_micros("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (tsu - F.unix_micros(F.lag("ts").over(w)) > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = (
        flagged.withColumn(
            "seq",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "seq")
        .agg(
            F.min(tsu).alias("s_start_us"),
            F.max(tsu).alias("s_end_us"),
        )
    )
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        tsu.alias("i_start_us"),
        (tsu + INC_WINDOW_US).alias("i_end_us"),
    )

    def bucketed(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    (F.col(lo) / IJ_BUCKET_US).cast("bigint"),
                    (F.col(hi) / IJ_BUCKET_US).cast("bigint"),
                )
            ),
        )

    pairs = (
        bucketed(sessions, "s_start_us", "s_end_us")
        .join(
            bucketed(incidents, "i_start_us", "i_end_us"),
            "bucket",
        )
        .where(
            (F.col("s_start_us") <= F.col("i_end_us"))
            & (F.col("i_start_us") <= F.col("s_end_us"))
        )
        # one logical pair per (session, incident): drop bucket multiplicity
        .select(
            "user_id", "s_start_us", "s_end_us", "incident_id",
            (
                F.least("s_end_us", "i_end_us")
                - F.greatest("s_start_us", "i_start_us")
            ).alias("overlap_us"),
        )
        .distinct()
    )
    return pairs.groupBy("user_id", "s_start_us", "s_end_us").agg(
        F.count("*").alias("n_incidents"),
        F.sum("overlap_us").cast("bigint").alias("overlap_us_total"),
    )
