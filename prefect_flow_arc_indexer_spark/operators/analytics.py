"""Relational-completeness operators: set operations, grouping sets
(ROLLUP/CUBE), a window-function suite, pivot, and exact percentiles.

The reference never issues any of these (SURVEY §2.3/§2.4 ABSENT lists); they
are here because "a user of the reference could switch to this repo" implies
the engine handles the standard warehouse surface, not just the reference's
seven statements. Scale notes per operator:

- set ops compile to hash aggregates / hash joins on the key — one shuffle
  each; Spark's INTERSECT/EXCEPT keep distinct semantics like SQL's;
- ROLLUP/CUBE expand grouping sets BEFORE the shuffle (the `Expand` physical
  node), so partial aggregation still applies — no per-level rescan;
  KNOWN DIVERGENCE on empty input: the SQL standard (and DuckDB) emits the
  grand-total grouping-set row for an empty relation; Spark's cube/rollup/
  groupingSets emit zero rows. This engine follows Spark — the divergence
  only materializes on an empty source table, which the oracle fixtures
  never are;
- window functions share one (partition, order) shuffle when their specs
  agree — the suite is written over a single window spec on purpose;
- pivot with explicit value list avoids the extra distinct-scan Spark needs
  to discover pivot columns dynamically;
- percentiles use Spark's exact `percentile` (sort-based within group); at
  100 TB swap for `percentile_approx` — same call shape, bounded memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.functions.pairs import in_row_pairs
from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------
@register(
    "q_set_ops",
    oracle="""WITH f AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
),
o AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
SELECT 'both' AS op, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
UNION ALL
SELECT 'f_only' AS op, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
UNION ALL
SELECT 'either' AS op, o_custkey FROM (SELECT o_custkey FROM f UNION SELECT o_custkey FROM o)
""",
    doc="set operations: INTERSECT / EXCEPT / UNION (distinct semantics) of "
    "customer key sets by order status, tagged and unioned into one result",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o = orders.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "o_custkey")  # noqa: E731
    return (
        tag(f.intersect(o), "both")
        .unionAll(tag(f.exceptAll(o).distinct(), "f_only"))
        .unionAll(tag(f.union(o).distinct(), "either"))
    )


# --------------------------------------------------------------------------
# grouping sets: ROLLUP and CUBE
# --------------------------------------------------------------------------
@register(
    "q_rollup_revenue",
    oracle="""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       o_orderpriority,
       grouping(year(o_orderdate)) * 2 + grouping(o_orderpriority) AS gid,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
  FROM orders
 GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
""",
    doc="ROLLUP grouping sets: revenue at (year, priority), (year), and "
    "grand-total levels in one pass; grouping id disambiguates NULL levels",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderpriority",
        _dec("o_totalprice").alias("price"),
    )
    return (
        orders.rollup("order_year", "o_orderpriority")
        .agg(
            F.grouping_id("order_year", "o_orderpriority").alias("gid"),
            F.sum("price").cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select("order_year", "o_orderpriority", "gid", "revenue", "n_orders")
    )


@register(
    "q_cube_revenue",
    oracle="""SELECT o_orderstatus,
       CAST(year(o_orderdate) AS INT) AS order_year,
       grouping(o_orderstatus) * 2 + grouping(year(o_orderdate)) AS gid,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
 GROUP BY CUBE (o_orderstatus, year(o_orderdate))
""",
    doc="CUBE grouping sets: revenue across all 4 (status, year) subset "
    "levels in one Expand+aggregate pass",
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("order_year"),
        _dec("o_totalprice").alias("price"),
    )
    return (
        orders.cube("o_orderstatus", "order_year")
        .agg(
            F.grouping_id("o_orderstatus", "order_year").alias("gid"),
            F.sum("price").cast("double").alias("revenue"),
        )
        .select("o_orderstatus", "order_year", "gid", "revenue")
    )


# --------------------------------------------------------------------------
# window-function suite
# --------------------------------------------------------------------------
@register(
    "q_window_suite",
    oracle="""SELECT o_orderkey, o_custkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER w AS DOUBLE) AS running_rev,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       row_number() OVER w AS order_seq,
       rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
       ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS date_quartile
  FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""",
    doc="window suite: running sum, lag/lead, row_number, rank, ntile per "
    "customer — specs share one partition/order so Spark plans a single "
    "shuffle + sort for the frame-compatible ones",
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_price = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_rev"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.row_number().over(w).alias("order_seq"),
        F.rank().over(w_price).alias("price_rank"),
        F.ntile(4).over(w).alias("date_quartile"),
    )


# --------------------------------------------------------------------------
# pivot
# --------------------------------------------------------------------------
_PIVOT_STATUSES = ("F", "O", "P")


@register(
    "q_pivot_revenue",
    oracle="""SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_F,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_O,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_P
  FROM orders
 GROUP BY o_orderpriority
""",
    doc="pivot: revenue by priority x status, statuses as columns; explicit "
    "value list skips the distinct-discovery scan",
)
def q_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_PIVOT_STATUSES))
        .agg(F.sum(_dec("o_totalprice")).cast("double"))
    )
    return pivoted.select(
        "o_orderpriority",
        *[F.col(s).alias(f"rev_{s}") for s in _PIVOT_STATUSES],
    )


# --------------------------------------------------------------------------
# exact percentiles
# --------------------------------------------------------------------------
@register(
    "q_percentiles",
    oracle="""SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS price_p25,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS price_p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS price_p75,
       round(quantile_cont(l_quantity, 0.50), 4) AS qty_median
  FROM lineitem
 GROUP BY l_returnflag
""",
    doc="exact percentiles (linear interpolation) per return flag; at 100 TB "
    "swap for a sketch (percentile_approx / q_approx_percentiles shape, "
    "bounded memory). r12 (guide §4.2): evaluated by the q_mad grouped "
    "NumPy kernel — the JVM percentile's value->count buffer degenerates "
    "to one entry per row on continuous prices, so the exchange carried "
    "the whole column as map entries into a single-threaded per-group "
    "merge; the kernel sorts once per group and reads all four quantiles "
    "off the sorted arrays with the bit-identical Spark interpolation",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )

    def pcts(pdf):
        import pandas as pd

        from prefect_flow_arc_indexer_spark.functions.quantiles import (
            sorted_non_nan,
            spark_exact_percentile,
        )

        v = sorted_non_nan(pdf["l_extendedprice"])
        q = sorted_non_nan(pdf["l_quantity"])
        price = [
            spark_exact_percentile(v, p) if v.size else None
            for p in (0.25, 0.50, 0.75)
        ]
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "p25": [price[0]],
                "p50": [price[1]],
                "p75": [price[2]],
                "qm": [spark_exact_percentile(q, 0.5) if q.size else None],
            }
        )

    return (
        li.groupBy("l_returnflag")
        .applyInPandas(
            pcts,
            "l_returnflag string, p25 double, p50 double, p75 double, "
            "qm double",
        )
        .select(
            "l_returnflag",
            F.round("p25", 4).alias("price_p25"),
            F.round("p50", 4).alias("price_p50"),
            F.round("p75", 4).alias("price_p75"),
            F.round("qm", 4).alias("qty_median"),
        )
    )


PRICE_BIN_WIDTH = 5000


@register(
    "q_price_histogram",
    oracle=f"""SELECT CAST(floor(l_extendedprice / {PRICE_BIN_WIDTH}) AS BIGINT) AS price_bin,
       count(*) AS n_items,
       round(min(l_extendedprice), 2) AS bin_min,
       round(max(l_extendedprice), 2) AS bin_max,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_revenue
  FROM lineitem
 GROUP BY price_bin
""",
    doc=f"histogram binning: width-{PRICE_BIN_WIDTH} price buckets with "
    "count/min/max/decimal-sum per bin — a single partial-agg shuffle whose "
    "group count is bounded by the value range, not the row count (the "
    "cardinality shape that makes histograms cheap at any scale)",
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / PRICE_BIN_WIDTH)
            .cast("bigint")
            .alias("price_bin")
        )
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.min("l_extendedprice"), 2).alias("bin_min"),
            F.round(F.max("l_extendedprice"), 2).alias("bin_max"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bin_revenue"),
        )
    )


@register(
    "q_grouping_sets",
    oracle="""SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
  FROM orders
 GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
    doc="explicit GROUPING SETS with grouping_id: per (status, priority), "
    "per status, and grand total in ONE pass — Spark expands the grouping "
    "sets BEFORE the shuffle so partial aggregation still applies (vs three "
    "separate scans+shuffles for three queries)",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_orders_gs")
    return o.sparkSession.sql(
        """SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders,
       grouping_id(o_orderstatus, o_orderpriority) AS gid
  FROM _orders_gs
 GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())"""
    )


@register(
    "q_unpivot",
    oracle="""SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS metric_value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
""",
    doc="unpivot/melt: wide metric columns -> long (metric, value) rows via "
    "the native unpivot operator (an Expand node — one scan, no join, no "
    "shuffle; the inverse of q_pivot_revenue)",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "metric_value",
    ).withColumn(
        "metric",
        F.expr("substring(metric, 3)"),  # l_quantity -> quantity
    )


@register(
    "q_mad",
    oracle="""WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       round(any_value(med.m), 4) AS median_price,
       round(quantile_cont(abs(l.l_extendedprice - med.m), 0.5), 4) AS mad
  FROM lineitem l JOIN med ON med.l_returnflag = l.l_returnflag
 GROUP BY l.l_returnflag
""",
    doc="robust dispersion: median absolute deviation per group. r12 "
    "(guide §4.2): ONE scan + ONE group exchange into a NumPy grouped "
    "kernel that sorts the group's values once and evaluates both exact "
    "quantiles (median first, then the deviation median) — the previous "
    "shape paid two corpus scans and two JVM percentile aggregations "
    "whose value->count buffers degenerate to one entry per row on "
    "continuous prices (no partial-agg reduction), plus a broadcast "
    "join. The kernel replicates Spark's Percentile interpolation "
    "bit-for-bit (lower*(1-g) + higher*g at position (n-1)*p, verified "
    "0/2000 bitwise mismatches), so results are unchanged. The "
    "outlier-resistant scale estimate a corpus pipeline uses where "
    "stddev would chase heavy tails",
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )

    def mad_exact(pdf):
        import numpy as np
        import pandas as pd

        from prefect_flow_arc_indexer_spark.functions.quantiles import (
            sorted_non_nan,
            spark_exact_percentile,
        )

        v = sorted_non_nan(pdf["l_extendedprice"])
        if v.size == 0:  # all-null group: match the agg's NULL outputs
            m = mad = None
        else:
            m = spark_exact_percentile(v, 0.5)
            mad = spark_exact_percentile(np.sort(np.abs(v - m)), 0.5)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "m": [m],
                "mad": [mad],
            }
        )

    both = li.groupBy("l_returnflag").applyInPandas(
        mad_exact, "l_returnflag string, m double, mad double"
    )
    return both.select(
        "l_returnflag",
        F.round("m", 4).alias("median_price"),
        F.round("mad", 4).alias("mad"),
    )


@register(
    "q_window_edges",
    oracle="""SELECT o_orderkey, o_custkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate ASC, o_orderkey ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND UNBOUNDED FOLLOWING)
         AS last_price,
       nth_value(o_totalprice, 2) OVER w AS second_price
  FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""",
    doc="window edge values: first_value / last_value / nth_value per "
    "customer order history. last_value gets an explicit unbounded frame — "
    "the default frame stops at CURRENT ROW, the classic silent-wrong-"
    "answer; all three specs share one (custkey, orderdate) shuffle+sort",
)
def q_window_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "q_approx_percentiles",
    oracle=None,  # Greenwald-Khanna sketch bounds are engine-specific; the
    # driver does a rows-only check and tests assert rank-error tolerance
    # against the exact quantiles
    doc="approximate percentiles: percentile_approx (Greenwald-Khanna "
    "sketch, mergeable, bounded memory) next to the exact values — the "
    "bounded-memory quantile path at 100 TB, where exact percentile "
    "buffers every value of a group in one task. accuracy=10000 bounds "
    "rank error at 1/accuracy = 0.01%",
)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000)
    # scalar columns only: the driver's comparator sorts raw result cells
    # and an ndarray cell is unhashable (r2 harness crash on q_embed_quantize)
    return li.groupBy("l_returnflag").agg(
        q.getItem(0).alias("approx_p25"),
        q.getItem(1).alias("approx_p50"),
        q.getItem(2).alias("approx_p75"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_median"),
        F.count("*").alias("n"),
    )


@register(
    "q_rank_suite",
    oracle="""SELECT o_orderkey, o_custkey,
       dense_rank() OVER w AS price_dense_rank,
       round(percent_rank() OVER w, 6) AS price_pct_rank,
       round(cume_dist() OVER w, 6) AS price_cume_dist
  FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
""",
    doc="cumulative rank suite: dense_rank / percent_rank / cume_dist over "
    "one shared (custkey, price) window sort; the relative-position "
    "functions round 6dp because their divisions are the only float step",
)
def q_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
    )


@register(
    "q_string_agg",
    oracle="""SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
         AS statuses,
       count(*) AS n_orders
  FROM orders
 GROUP BY o_orderpriority
""",
    doc="ordered string aggregation: LISTAGG ... WITHIN GROUP (ORDER BY) — "
    "deterministic by explicit order (an unordered listagg concatenates in "
    "partition-arrival order, a nondeterminism trap); DISTINCT collapses "
    "before the concat so the shuffle carries the tiny distinct set",
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(DISTINCT o_orderstatus, '|') "
            "WITHIN GROUP (ORDER BY o_orderstatus)"
        ).alias("statuses"),
        F.count("*").alias("n_orders"),
    )


@register(
    "q_mom_growth",
    oracle="""WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY date_trunc('month', o_orderdate)
)
SELECT month, revenue,
       round(revenue / lag(revenue) OVER (ORDER BY month) - 1, 6)
           AS mom_growth
  FROM monthly
""",
    doc="month-over-month growth: the fact table pre-aggregates to "
    "|months| rows (exact decimal sums), then lag/pct-change runs over "
    "that tiny frame — the window's single-partition sort is over months, "
    "never rows, so the time-series shape costs one partial-then-final "
    "agg at any scale; month surfaced as ISO string for date parity",
)
def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month"
        )
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    prev = F.lag("revenue").over(Window.orderBy("month"))
    return monthly.select(
        "month",
        "revenue",
        F.round(F.col("revenue") / prev - 1, 6).alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# market-basket association rules (co-purchase support / confidence / lift)
# --------------------------------------------------------------------------
BASKET_MIN_SUPPORT = 3


@register(
    "q_basket_rules",
    oracle=f"""WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pc AS (
  SELECT l_partkey, count(*) AS c FROM d GROUP BY l_partkey
),
n AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM d
),
p AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
   GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b, p.support,
       round(CAST(p.support AS DOUBLE) / ca.c, 6) AS conf_a_to_b,
       round(CAST(p.support AS DOUBLE) / cb.c, 6) AS conf_b_to_a,
       round(CAST(p.support AS DOUBLE) * n.n_orders
             / (CAST(ca.c AS DOUBLE) * cb.c), 6) AS lift
  FROM p
  JOIN pc ca ON ca.l_partkey = p.part_a
  JOIN pc cb ON cb.l_partkey = p.part_b
  CROSS JOIN n
""",
    doc="market-basket association rules: per-order distinct part sets, "
    "order-local pair combinatorics (the LSH-bucket pair trick — sorted "
    "collect_set + array slicing, so pair explosion never crosses a "
    "partition), then support / directional confidence / lift against "
    "the per-item order counts (AQE-chosen join strategy — the part-key "
    "domain is unbounded, so no broadcast hint) and the scalar basket "
    "total. "
    "Baskets are short by domain contract, so pair volume is "
    "sum(|basket|^2) — linear in orders; the classic co-occurrence "
    "recommender primitive at retail scale.",
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    baskets = (
        d.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = (
        baskets.select(
            F.explode(in_row_pairs("ids", "part_a", "part_b")).alias("p")
        )
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= BASKET_MIN_SUPPORT)
    )
    item_counts = d.groupBy("l_partkey").agg(F.count("*").alias("c"))
    # r11: the basket total stays IN the plan as a 1-row broadcast cross
    # join (the oracle's `CROSS JOIN n` shape) instead of an eager
    # driver count during build — one executed plan instead of two, and
    # the scalar's distinct can share d's exchange. The bigint count is
    # exactly representable as the double the lift formula multiplies.
    n_row = d.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    ca = item_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("ca")
    )
    cb = item_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("cb")
    )
    sup = F.col("support").cast("double")
    # No broadcast hints here: item_counts is keyed on l_partkey, an
    # unbounded key domain (hundreds of millions of parts at 100x TPC-H),
    # so a forced broadcast would blow past any sane
    # autoBroadcastJoinThreshold at scale.  The pairs side is already
    # shuffled on the part key, so AQE picks broadcast when the count
    # table is actually small and a shuffle join when it isn't.
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        # no broadcast hint (the r6 ratchet test forbids hints anywhere in
        # this plan): a 1-row aggregate is below every broadcast threshold,
        # so the strategy is AQE's call and lands on broadcast by size
        .crossJoin(n_row)
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(sup / F.col("ca"), 6).alias("conf_a_to_b"),
            F.round(sup / F.col("cb"), 6).alias("conf_b_to_a"),
            F.round(
                sup * F.col("n_orders")
                / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Poisson bootstrap: deterministic resampled confidence intervals
# --------------------------------------------------------------------------
BOOT_B = 16  # resamples
# cumulative Poisson(1) CDF scaled to the 28-bit hash space: a row's weight
# in resample b is the inverse-CDF of hash('boot:'||key||':'||b) — the
# streaming-friendly bootstrap (one pass, weights independent per row, no
# global resample materialization), made deterministic by the salted hash
_BOOT_T = (98751885, 197503771, 246879713, 263338361,
           267453023, 268275955, 268413111, 268432704)
_BOOT_LO, _BOOT_HI = "1995-01-01", "1995-04-01"


def _boot_w_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"CASE {cases} ELSE {len(_BOOT_T)} END"


def _register_bootstrap_ci():
    from prefect_flow_arc_indexer_spark.functions.hashing import (
        dd_stable_hash,
        stable_hash,
    )

    dd_h = dd_stable_hash(
        "'boot:' || key || ':' || CAST(b.b AS VARCHAR)"
    )

    @register(
        "q_bootstrap_ci",
        oracle=f"""WITH src AS (
  SELECT l_returnflag,
         l_orderkey || '_' || l_linenumber AS key,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem
   WHERE l_shipdate >= DATE '{_BOOT_LO}' AND l_shipdate < DATE '{_BOOT_HI}'
),
rs AS (
  SELECT l_returnflag, b.b, cents,
         {_boot_w_sql(dd_h)} AS w
    FROM src CROSS JOIN range(0, {BOOT_B}) b(b)
),
means AS (
  SELECT l_returnflag, b,
         CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100 AS m
    FROM rs GROUP BY l_returnflag, b
),
point AS (
  SELECT l_returnflag,
         CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS pm
    FROM src GROUP BY l_returnflag
)
SELECT p.l_returnflag, round(p.pm, 6) AS point_mean,
       round(quantile_cont(m.m, 0.025), 6) AS ci_lo,
       round(quantile_cont(m.m, 0.975), 6) AS ci_hi,
       count(*) AS n_resamples
  FROM means m JOIN point p ON p.l_returnflag = m.l_returnflag
 GROUP BY p.l_returnflag, p.pm
""",
        doc="Poisson bootstrap (the distributed bootstrap: Chamandy et al., "
        f"Google 2012): each row enters resample b with weight ~ Poisson(1) "
        "via the inverse CDF of a salted engine-stable hash — one corpus "
        "pass computes all resamples, weights are row-local (no global "
        "resample materialization), and map-side partial aggregation means "
        f"the shuffle carries groups x {BOOT_B} partial sums, nothing "
        "row-shaped. Prices quantized to exact integer cents so partial-"
        "sum order cannot drift the means; CI = exact percentiles over "
        "the resample means. The one-pass uncertainty quantification a "
        "100 TB metrics pipeline can actually afford.",
    )
    def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .where(
                (F.col("l_shipdate") >= _BOOT_LO)
                & (F.col("l_shipdate") < _BOOT_HI)
            )
            .select(
                "l_returnflag",
                F.concat_ws(
                    "_",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                ).alias("key"),
                F.round(F.col("l_extendedprice") * 100)
                .cast("bigint")
                .alias("cents"),
            )
        )
        rs = li.select(
            "l_returnflag",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
            "key",
        )
        h = stable_hash(
            F.concat(
                F.lit("boot:"), F.col("key"), F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        w = F.lit(len(_BOOT_T))
        for k in range(len(_BOOT_T) - 1, -1, -1):
            w = F.when(h < _BOOT_T[k], F.lit(k)).otherwise(w)
        means = (
            rs.withColumn("w", w)
            .groupBy("l_returnflag", "b")
            .agg(
                F.sum(F.col("w") * F.col("cents")).alias("sw"),
                F.sum("w").alias("n"),
            )
            .select(
                "l_returnflag",
                (
                    F.col("sw").cast("double") / F.col("n") / 100
                ).alias("m"),
            )
        )
        point = li.groupBy("l_returnflag").agg(
            (
                F.sum("cents").cast("double") / F.count("*") / 100
            ).alias("pm")
        )
        return (
            means.join(F.broadcast(point), "l_returnflag")
            .groupBy("l_returnflag", "pm")
            .agg(
                F.round(F.percentile("m", 0.025), 6).alias("ci_lo"),
                F.round(F.percentile("m", 0.975), 6).alias("ci_hi"),
                F.count("*").alias("n_resamples"),
            )
            .select(
                "l_returnflag",
                F.round("pm", 6).alias("point_mean"),
                "ci_lo",
                "ci_hi",
                "n_resamples",
            )
        )


_register_bootstrap_ci()
