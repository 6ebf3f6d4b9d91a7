"""General relational analytics over the TPC-H-style tables — the engine's
bench-headline queries. The reference surface never joins two real tables
(SURVEY §2.4: ABSENT); these queries prove the engine handles the classic
warehouse shapes (multi-way equi-joins, grouped aggregation over the fact
table, correlated top-k) with plans that hold at 100 TB:

- dimension joins are broadcast (region/nation/customer-side filters cut the
  build side first);
- fact-table aggregations are partial-then-final hash aggs over the scan;
- money sums go through DECIMAL(18,2) so the result is order-independent
  (double partial-agg order would otherwise drift vs the oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from prefect_flow_arc_indexer_spark.plans.registry import register
from prefect_flow_arc_indexer_spark.sources.parquet import load_table

SHIP_CUTOFF = "1998-09-01"


def _dec(col):
    return F.col(col).cast("decimal(18,2)") if isinstance(col, str) else col


@register(
    "q_pricing_summary",
    oracle=f"""SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
  FROM lineitem
 WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
 GROUP BY l_returnflag, l_linestatus
""",
    doc="pricing summary (TPC-H Q1 shape): scan-heavy grouped agg over the "
    "fact table; decimal sums for engine-stable results",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit(f"{SHIP_CUTOFF} 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_market_revenue",
    oracle="""SELECT n.n_name AS nation,
       c.c_mktsegment AS mktsegment,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
 WHERE o.o_orderstatus = 'F'
 GROUP BY n.n_name, c.c_mktsegment
""",
    doc="multi-way equi-join + agg: orders x customer x nation revenue per "
    "nation/segment; dimensions broadcast",
)
def q_market_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q_top_parts_by_supplier",
    oracle="""WITH per AS (
  SELECT l_suppkey, l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
   GROUP BY l_suppkey, l_partkey
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_suppkey
                               ORDER BY revenue DESC, l_partkey ASC) AS rank
    FROM per
)
SELECT l_suppkey, l_partkey, revenue, rank FROM ranked WHERE rank <= 3
""",
    doc="correlated top-k: top-3 parts per supplier by discounted revenue "
    "(two-level agg + window; the agg pre-shrinks the window input)",
)
def q_top_parts_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
        .cast("double")
        .alias("revenue")
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("revenue").desc(), F.col("l_partkey").asc()
    )
    return (
        per.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("l_suppkey", "l_partkey", "revenue", "rank")
    )


@register(
    "q_order_priority",
    oracle="""SELECT o_orderpriority, count(*) AS order_count
  FROM orders o
 WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
   AND EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate)
 GROUP BY o_orderpriority
""",
    doc="correlated EXISTS (TPC-H Q4 shape): orders with at least one "
    "late-shipped line; Catalyst decorrelates to a left-semi hash join, "
    "with the date filter pushed to the orders scan",
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_returned_top_customers",
    oracle="""WITH per AS (
  SELECT c.c_custkey, c.c_name, n.n_name AS nation,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
   WHERE l.l_returnflag = 'R'
   GROUP BY c.c_custkey, c.c_name, n.n_name
)
SELECT c_custkey, c_name, nation, revenue,
       row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rk
  FROM per
 QUALIFY rk <= 20
""",
    doc="returned-item revenue top-20 customers (TPC-H Q10 shape): "
    "fact-fact join on orderkey (shuffle), dimensions broadcast, then a "
    "global top-k (single-partition window over the small aggregated set)",
)
def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )
    # top-k FIRST via orderBy+limit (plans as TakeOrderedAndProject — no
    # single-partition window over the whole aggregate), then rank the 20
    # survivors; identical result to ranking-then-filtering because the
    # sort key is the same total order.
    top = per.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return top.withColumn("rk", F.row_number().over(w))


@register(
    "q_approx_distinct",
    oracle=None,  # HLL sketches are engine-specific; driver does a rows-only
    # check and tests assert <=2% error against the exact count
    doc="approximate aggregates: approx_count_distinct (HLL) + exact count "
    "per order status — the bounded-memory path for distinct-cardinality "
    "at 100 TB, where exact distinct would shuffle every key",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The HLL sketch (object aggregate) and count_distinct (Expand rewrite)
    # are computed in SEPARATE aggregations and joined on the tiny group set:
    # combining them in one agg forces Spark onto a non-codegen fallback
    # plan that measured 5x slower (3.1s vs 0.6s at sf0.1).
    o = load_table(spark, sf_dir, "orders")
    approx = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_customers")
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    return approx.join(exact, "o_orderstatus")


Q3_CUTOFF = "1998-01-01"


@register(
    "q_ship_priority",
    oracle=f"""SELECT l.l_orderkey AS orderkey,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate AS orderdate,
       o.o_orderpriority AS orderpriority
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
 WHERE c.c_mktsegment = 'BUILDING'
   AND o.o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
   AND l.l_shipdate > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
 GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
 ORDER BY revenue DESC, orderkey ASC
 LIMIT 10
""",
    doc="shipping priority (TPC-H Q3 shape): segment-filtered customer "
    "broadcast into orders, fact-side date filters pushed to the lineitem "
    "scan, decimal revenue agg, deterministic top-10 via "
    "TakeOrderedAndProject (no global sort materialization)",
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit(f"{Q3_CUTOFF} 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > cutoff
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


@register(
    "q_small_qty_revenue",
    oracle="""SELECT l.l_partkey AS partkey,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_lot_revenue,
       count(*) AS n_small_lots
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
 WHERE p.p_brand = 'Brand#4'
   AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                         FROM lineitem l2
                        WHERE l2.l_partkey = l.l_partkey)
 GROUP BY l.l_partkey
""",
    doc="correlated scalar subquery (TPC-H Q17 shape): lines under half the "
    "part's average quantity — Catalyst decorrelates the subquery into a "
    "per-part aggregate joined back to the fact table (one extra shuffle, "
    "not one subquery execution per row, which is what makes the shape "
    "viable at 100 TB)",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#4")
    # express the decorrelation explicitly (identical to what Catalyst does
    # for the SQL form): per-part average once, then a fact-side filter
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias(
                "small_lot_revenue"
            ),
            F.count("*").alias("n_small_lots"),
        )
    )


@register(
    "q_disjunctive_join",
    oracle="""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
  FROM lineitem JOIN part ON p_partkey = l_partkey
 WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 20)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        AND l_quantity BETWEEN 10 AND 35)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        AND l_quantity BETWEEN 20 AND 50)
""",
    doc="disjunctive-predicate join (TPC-H Q19 shape): OR-of-ANDs mixing "
    "build-side and probe-side columns. Catalyst's CNF conversion extracts "
    "the common implications — the brand/size disjunction (part-only) "
    "pushes to the part scan and the quantity disjunction (lineitem-only) "
    "pushes to the lineitem scan BEFORE the join, so the join input is "
    "pre-filtered on both sides even though no single conjunct spans the "
    "whole WHERE; the filtered part side then broadcasts. The residual "
    "cross-side OR evaluates post-join on the reduced pairs",
)
def q_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q_salted_join",
    oracle="""SELECT o_orderpriority,
       count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
 GROUP BY o_orderpriority
""",
    doc="skew-safe salted join: the fact side keys on (orderkey, "
    "hash(lineno) % R) and the build side explodes into R replicas per "
    "key, so ONE hot join key spreads over R reducers instead of stalling "
    "a single task — the manual form of what AQE skew-join does "
    "reactively, needed when skew is known up front (and on the map-side "
    "partial agg, which AQE cannot split). r12 (guide §2.5): the salt "
    "width R is DERIVED from the data's measured skew in-plan — "
    "clamp(ceil(max rows per join key / target rows per reducer), 2, 32) "
    "collected once as a driver scalar and embedded as a literal in both "
    "sides (one lineitem scan in the final plan) — instead of a constant "
    "8. A constant "
    "width replicates the build side R-fold whether or not the skew "
    "exists (the r11 sf1 ratio flagged exactly that: 5.6x wall for 10x "
    "data from an 8x build fan-out on unskewed keys); deriving it sizes "
    "the replication to the hot key that motivates it while the floor "
    "of 2 keeps the full salted mechanics engaged. Semantically "
    "identical to the plain equi-join the oracle runs — salting only "
    "changes the physical key space, and R never affects the aggregate",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # target rows a single hot key may leave on one reducer before the
    # salt splits it further; production tunes via env without replan
    target = int(os.environ.get("SPARK_GRAFT_SALT_TARGET_ROWS", "4"))
    li0 = load_table(spark, sf_dir, "lineitem")
    # the skew pre-flight (q_skew_metrics shape): max rows per join key,
    # map-side combined, collected as one driver scalar and embedded as a
    # literal in both sides — a 1-row subtree crossJoined into each side
    # would be planned twice, and the final plan would scan lineitem 3x
    r = (
        li0.groupBy("l_orderkey")
        .agg(F.count("*").alias("c"))
        .agg(
            F.least(
                F.lit(32),
                F.greatest(F.lit(2), F.ceil(F.max("c") / F.lit(target))),
            )
            .cast("int")
            .alias("r")
        )
        .first()["r"]
    )
    li = li0.select(
        "l_orderkey",
        "l_extendedprice",
        F.pmod(F.xxhash64("l_linenumber"), F.lit(r)).cast("int").alias("salt"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # the replicas only pay off in a shuffled join; with r a literal the
    # replicated side no longer looks large, so keep the planner from
    # broadcasting it R-fold
    o_rep = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(r - 1)))
    ).hint("merge")
    joined = li.join(
        o_rep,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (o_rep["salt"] == li["salt"]),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
    )
