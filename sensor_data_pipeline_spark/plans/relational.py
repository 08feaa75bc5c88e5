"""Core relational query suite (SURVEY.md §2.3, §2.4, §2.9).

The reference has exactly one join shape (the per-tick two-sensor
fan-in, J1) and no aggregation framework; the engine inherits the full
relational surface from Spark and this module exercises it against the
DuckDB oracle: scans, filters, projections, equi/broadcast/semi/anti/
outer joins, hash aggregation, rollup/cube, distinct, ranking and
frame windows, top-k, set ops, string/date/array/JSON functions.

Scale notes (100 TB north star):
- dimension joins (nation/region/supplier at TPC-H scale) are
  broadcast explicitly — no shuffle of the fact table;
- aggregations are expressed as groupBy().agg() so Catalyst plans
  partial (map-side) aggregation before the shuffle;
- top-k per group is window row_number over a shuffled-once partition,
  not a self-join; global top-k is orderBy+limit which Spark executes
  as per-partition TakeOrdered + merge (no full sort shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import REGISTRY, register
from sensor_data_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Flagship: scan -> filter -> derive -> agg -> sort  (TPC-H Q1 shape).
# Lights up the whole reference dataflow: P2-style derivation
# (revenue = price * (1 - discount)), groupBy aggregation, ordering.
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    category="aggregation",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / 100.0            AS sum_qty,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0       AS sum_base_price,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) / 10000.0 AS sum_disc_price,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
           * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))) / 1000000.0   AS sum_charge,
       sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / (100.0 * count(*))      AS avg_qty,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / (100.0 * count(*)) AS avg_price,
       sum(CAST(round(l_discount * 100, 0) AS BIGINT)) / (100.0 * count(*))      AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pricing summary (scan->filter->derive->agg->sort).

    Money/discount columns are fixed-2-decimal doubles; aggregating
    them as scaled bigints makes every output bit-deterministic under
    any partial-aggregation order (matters for the differential oracle
    and for reproducible results at cluster scale).
    """
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    qty_c = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    tax_c = F.round(F.col("l_tax") * 100, 0).cast("bigint")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c) / 100.0).alias("sum_qty"),
            (F.sum(cents) / 100.0).alias("sum_base_price"),
            (F.sum(cents * (100 - disc_c)) / 10000.0).alias("sum_disc_price"),
            (F.sum(cents * (100 - disc_c) * (100 + tax_c)) / 1000000.0).alias("sum_charge"),
            (F.sum(qty_c) / (100.0 * n)).alias("avg_qty"),
            (F.sum(cents) / (100.0 * n)).alias("avg_price"),
            (F.sum(disc_c) / (100.0 * n)).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------
@register(
    "q02_join_customer_orders",
    category="join",
    oracle="""
SELECT c.c_mktsegment,
       count(*)                       AS n_orders,
       sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE)  AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_orderstatus = 'F'
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def q02_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join fact->dim + aggregation by segment."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")) / 100.0).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q03_broadcast_dim_chain",
    category="join",
    oracle="""
SELECT n.n_name                                              AS nation,
       r.r_name                                              AS region,
       sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))) / 10000.0 AS revenue,
       count(*)                                              AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
ORDER BY revenue DESC, nation
""",
)
def q03_broadcast_dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join through broadcast dims: the fact table never shuffles
    for the joins (only for the final agg)."""
    l = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
                    * (100 - F.round(F.col("l_discount") * 100, 0).cast("bigint"))
                )
                / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


@register(
    "q04_semi_join",
    category="join",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
ORDER BY c_custkey
""",
)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having a big order."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q05_anti_join",
    category="join",
    oracle="""
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
ORDER BY c_custkey
""",
)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no very-large order."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 450000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("c_custkey")
    )


@register(
    "q06_outer_join_counts",
    category="join",
    oracle="""
SELECT c.c_custkey,
       count(o.o_orderkey)                        AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2) AS spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
ORDER BY c.c_custkey
""",
)
def q06_outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------
@register(
    "q07_agg_stats",
    category="aggregation",
    oracle="""
SELECT p_brand,
       count(*)                         AS n_parts,
       CAST(sum(p_size) AS BIGINT)      AS total_size,
       round(min(p_retailprice), 2)     AS min_price,
       round(max(p_retailprice), 2)     AS max_price,
       sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) / (100.0 * count(*)) AS avg_price,
       count(DISTINCT p_type)           AS n_types
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
)
def q07_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate hash agg incl. exact distinct count."""
    p = load_table(spark, "part", sf_dir)
    return (
        p.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_size").cast("bigint").alias("total_size"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
            (F.sum(F.round(F.col("p_retailprice") * 100, 0).cast("bigint")) / (100.0 * F.count(F.lit(1)))).alias(
                "avg_price"
            ),
            F.countDistinct("p_type").alias("n_types"),
        )
        .orderBy("p_brand")
    )


@register(
    "q08_rollup",
    category="aggregation",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
       sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_qty,
       count(*)                  AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
)
def q08_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup with grouping id (inherited operator, §2.9)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            (F.sum(F.round(F.col("l_quantity") * 100, 0).cast("bigint")) / 100.0).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "q09_cube",
    category="aggregation",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       count(*)                      AS n,
       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE)   AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus, o_orderpriority
""",
)
def q09_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")) / 100.0).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "revenue")
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


@register(
    "q10_distinct",
    category="aggregation",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
)
def q10_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct projection (dedup primitive in its simplest form)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select("l_returnflag", "l_linestatus").distinct().orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# Window functions (engine forms of A1 running state, §2.9 ranking)
# ---------------------------------------------------------------------------
@register(
    "q11_window_rank",
    category="window",
    oracle="""
SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS price, rk
FROM (
  SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
         CAST(row_number() OVER (PARTITION BY c.c_custkey
                                 ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT) AS rk
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
)
WHERE rk <= 3
ORDER BY c_custkey, rk
""",
)
def q11_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via ranking window (no self-join)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("c_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rk")
        .orderBy("c_custkey", "rk")
    )


@register(
    "q12_window_lag_delta",
    category="window",
    oracle="""
SELECT user_id, event_id,
       round(value, 2)                                    AS value,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank
FROM events
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
""",
)
def q12_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous-value memory (A1: reference keeps prev_current across
    ticks, src/modules/module_rpi_ups_hat.c:64,259) as a lag window."""
    e = load_table(spark, "events", sf_dir).filter(F.col("event_type") == "purchase")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.select(
            "user_id",
            "event_id",
            F.round("value", 2).alias("value"),
            F.round(F.col("value") - F.lag("value").over(wo), 2).alias("delta"),
            F.rank().over(wr).cast("bigint").alias("value_rank"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "q13_window_running_sum",
    category="window",
    oracle="""
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_so_far
FROM events
ORDER BY user_id, event_id
""",
)
def q13_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame window (running totals per user)."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_so_far"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "q14_global_topk",
    category="sort",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
)
def q14_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge), no full sort shuffle."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


# ---------------------------------------------------------------------------
# Set operations (§2.9)
# ---------------------------------------------------------------------------
@register(
    "q15_set_ops",
    category="setop",
    oracle="""
WITH big_buyers AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
     f_buyers   AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM big_buyers INTERSECT SELECT custkey FROM f_buyers)
UNION ALL
SELECT custkey, 'big_only' AS tag FROM (SELECT custkey FROM big_buyers EXCEPT SELECT custkey FROM f_buyers)
ORDER BY tag, custkey
""",
)
def q15_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one query."""
    o = load_table(spark, "orders", sf_dir)
    # each side is consumed by BOTH set ops — pinned, so orders is
    # scanned twice (once per predicate) instead of four times
    big = (
        o.filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
        .transform(pin)
    )
    fbuy = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
        .transform(pin)
    )
    both = big.intersect(fbuy).withColumn("tag", F.lit("both"))
    big_only = big.subtract(fbuy).withColumn("tag", F.lit("big_only"))
    return both.unionAll(big_only).select("custkey", "tag").orderBy("tag", "custkey")


# ---------------------------------------------------------------------------
# String / date / conditional function library (§2.9)
# ---------------------------------------------------------------------------
@register(
    "q16_string_funcs",
    category="scalar",
    oracle="""
SELECT p_partkey,
       upper(p_brand)                                   AS brand_uc,
       concat_ws('/', p_brand, p_type)                  AS brand_type,
       CAST(length(p_name) AS INT)                      AS name_len,
       substr(p_type, 1, 5)                             AS type_prefix,
       replace(p_name, ' ', '_')                        AS name_snake,
       CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass
FROM part
ORDER BY p_partkey
""",
)
def q16_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (upper/concat_ws/length/substr/replace/LIKE)."""
    p = load_table(spark, "part", sf_dir)
    return (
        p.select(
            "p_partkey",
            F.upper("p_brand").alias("brand_uc"),
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
            F.length("p_name").cast("int").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.regexp_replace("p_name", " ", "_").alias("name_snake"),
            F.when(F.col("p_type").like("%BRASS%"), 1).otherwise(0).alias("is_brass"),
        )
        .orderBy("p_partkey")
    )


@register(
    "q17_date_funcs",
    category="scalar",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT)    AS order_year,
       CAST(month(o_orderdate) AS INT)   AS order_month,
       count(*)                          AS n,
       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE)       AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q17_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date extraction + range filter + monthly aggregation."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01"))
        .groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")) / 100.0).alias("revenue"))
        .orderBy("order_year", "order_month")
    )


@register(
    "q18_case_bucketing",
    category="scalar",
    oracle="""
SELECT CASE WHEN o_totalprice < 100000 THEN 'S'
            WHEN o_totalprice < 250000 THEN 'M'
            WHEN o_totalprice < 400000 THEN 'L'
            ELSE 'XL' END  AS bucket,
       count(*)            AS n,
       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / (100.0 * count(*)) AS avg_price
FROM orders
GROUP BY 1
ORDER BY bucket
""",
)
def q18_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing then aggregation (P4-style range logic)."""
    o = load_table(spark, "orders", sf_dir)
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "S")
        .when(F.col("o_totalprice") < 250000, "M")
        .when(F.col("o_totalprice") < 400000, "L")
        .otherwise("XL")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")) / (100.0 * F.count(F.lit(1)))).alias(
                "avg_price"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "q19_correlated_scalar",
    category="join",
    oracle="""
SELECT n_name,
       count(*)                   AS n_cust,
       sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / (100.0 * count(*)) AS avg_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / (100.0 * count(*)) FROM customer)
GROUP BY n_name
ORDER BY n_name
""",
)
def q19_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter (above-average account balances by nation).

    Spark-first: the scalar aggregate is a 1-row DataFrame cross-joined
    (broadcast) rather than a driver-side collect."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    bal_c = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    avg_bal = c.agg((F.sum(bal_c) / (100.0 * F.count(F.lit(1)))).alias("_avg"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum(bal_c) / (100.0 * F.count(F.lit(1)))).alias("avg_bal"),
        )
        .orderBy("n_name")
    )


@register(
    "q97_shipping_priority",
    category="join",
    oracle="""
SELECT l_orderkey,
       sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) / 10000.0 AS revenue,
       o_orderdate, CAST(1 AS BIGINT) * o_shippriority_stub AS o_shippriority
FROM (
  SELECT l.l_orderkey, l.l_extendedprice, l.l_discount, o.o_orderdate,
         CAST(0 AS BIGINT) AS o_shippriority_stub
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1997-03-15'
    AND l.l_shipdate > TIMESTAMP '1997-03-15'
)
GROUP BY l_orderkey, o_orderdate, o_shippriority_stub
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q97_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customer
    broadcast into orders, date filters pushed to both fact scans,
    revenue top-10. The selective dimension (one market segment) rides
    a broadcast so the orders->lineitem join is the only big exchange;
    the top-10 is TakeOrdered, not a global sort. (The testdata has no
    o_shippriority column; a zero stub keeps the classic output shape.)"""
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < "1997-03-15")
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") > "1997-03-15")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    return (
        li.join(F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey", "o_orderdate")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(cents * (100 - disc_c)) / 10000.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", F.lit(0).cast("bigint").alias("o_shippriority"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q98_local_supplier_volume",
    category="join",
    oracle="""
SELECT n.n_name,
       sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))) / 10000.0 AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
""",
)
def q98_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): a six-table join where
    every dimension (region->nation->customer, supplier) broadcasts and
    only the orders->lineitem fact-fact equi-join shuffles. The
    same-nation constraint (s_nationkey = c_nationkey) rides the
    supplier broadcast as a second join key — Catalyst keeps it a hash
    join, no theta fallback."""
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n = load_table(spark, "nation", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    cust_side = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")),
               c.c_nationkey == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust_side), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(cents * (100 - disc_c)) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "q99_decimal_exact",
    category="agg",
    oracle="""
SELECT l_linestatus,
       sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,2))) AS total_price,
       sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,2))
           * CAST(CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,2)))    AS total_discount_amt
FROM lineitem
GROUP BY l_linestatus ORDER BY l_linestatus
""",
)
def q99_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType end-to-end (§1.2 "inherited for free"): money cast
    to exact decimals at the scan, aggregated without any floating
    point. Decimal sums are associative — partial aggregation and AQE
    re-splits cannot change a digit, unlike double sums. Output stays
    DECIMAL so the oracle comparison is exact string equality."""
    li = load_table(spark, "lineitem", sf_dir)
    price = F.col("l_extendedprice").cast("decimal(18,2)").cast("decimal(38,2)")
    disc = F.col("l_discount").cast("decimal(18,2)").cast("decimal(38,2)")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.sum(price).alias("total_price"),
            F.sum(price * disc).alias("total_discount_amt"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q126_schema_evolution_union",
    category="setop",
    oracle="""
WITH v1 AS (
  SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0
),
v2 AS (
  SELECT event_id, user_id, value, event_type FROM events WHERE event_id % 2 = 1
),
unified AS (
  SELECT event_id, user_id, value, NULL AS event_type FROM v1
  UNION ALL
  SELECT event_id, user_id, value, event_type FROM v2
)
SELECT coalesce(event_type, '_pre_schema') AS event_type,
       count(*) AS n,
       sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
FROM unified
GROUP BY 1
ORDER BY 1
""",
)
def q126_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution harmonization: an old feed (no event_type
    column) and a new feed union into one relation via
    ``unionByName(allowMissingColumns=True)`` — missing columns null-
    fill, names align by NAME not position (positional UNION silently
    mismatches evolved schemas; by-name is the only safe form for a
    pipeline whose shards span schema versions). Sentinel-labeled
    rollup mirrors the reference's default-on-missing handling
    (consumer.cpp:124-131, P13)."""
    e = load_table(spark, "events", sf_dir)
    v1 = e.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id", "value")
    v2 = e.filter(F.col("event_id") % 2 == 1).select("event_id", "user_id", "value", "event_type")
    unified = v1.unionByName(v2, allowMissingColumns=True)
    return (
        unified.select(F.coalesce(F.col("event_type"), F.lit("_pre_schema")).alias("event_type"), "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")) / 100.0).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "q127_grouping_indicators",
    category="aggregation",
    oracle="""
SELECT coalesce(l_returnflag, '_all') AS l_returnflag,
       coalesce(l_linestatus, '_all') AS l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
""",
)
def q127_grouping_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicator columns over grouping sets: the only way a
    consumer can tell a real NULL group from a rollup subtotal row.
    Each indicator is per-column (portable across engines — bit order
    of the combined grouping_id is engine-specific, so the combined
    form is deliberately avoided). Executed as the IDENTICAL SQL text
    the oracle runs (the q111 pattern): GROUPING SETS + GROUPING parse
    and plan the same in Spark SQL and DuckDB, one expand pass."""
    from sensor_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(REGISTRY["q127_grouping_indicators"].oracle)


@register(
    "q128_error_safe_math",
    category="scalar",
    oracle="""
SELECT event_id,
       CASE WHEN event_id % 5 = 0 THEN NULL
            ELSE round(value / (event_id % 5), 6) END AS safe_ratio,
       TRY_CAST(event_type AS DOUBLE) AS bad_cast,
       TRY_CAST(CAST(event_id AS VARCHAR) AS DOUBLE) AS good_cast
FROM events
WHERE event_id % 13 = 0
ORDER BY event_id
""",
)
def q128_error_safe_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expressions (E1/E2 as scalar semantics): try_divide
    turns division-by-zero into NULL instead of a failed tick, and
    try_cast turns an unparseable value into NULL instead of a dead
    stream — the engine form of 'recoverable error: skip this tick,
    keep running' (reference src/event_loops.c:43-49). The oracle
    expresses the same totals with CASE/TRY_CAST."""
    e = load_table(spark, "events", sf_dir).filter(F.col("event_id") % 13 == 0)
    return (
        e.select(
            "event_id",
            F.round(F.try_divide(F.col("value"), F.col("event_id") % 5), 6).alias("safe_ratio"),
            F.try_to_number(F.col("event_type"), F.lit("999")).cast("double").alias("bad_cast"),
            F.col("event_id").cast("string").cast("double").alias("good_cast"),
        )
        .orderBy("event_id")
    )


@register(
    "q130_bitwise_aggregates",
    category="aggregation",
    oracle="""
SELECT user_id % 8 AS user_bucket,
       bit_or(CAST(event_id % 256 AS BIGINT))  AS flags_or,
       bit_and(CAST(event_id % 256 + 256 AS BIGINT)) AS flags_and,
       bit_xor(CAST(event_id AS BIGINT)) AS checksum_xor,
       count(*) AS n
FROM events
GROUP BY 1 ORDER BY 1
""",
)
def q130_bitwise_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregation (the rollup form of the reference's
    register/bitfield handling, P6/P7
    src/modules/module_rpi_ups_hat.c:97,117-139): OR-merge of flag
    bits, AND of always-set masks, XOR checksum per bucket. All three
    are associative+commutative, so partial aggregation is exact under
    any partitioning — the bit-level analog of the integer-cents
    convention."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy((F.col("user_id") % 8).alias("user_bucket"))
        .agg(
            F.bit_or((F.col("event_id") % 256).cast("bigint")).alias("flags_or"),
            F.bit_and((F.col("event_id") % 256 + 256).cast("bigint")).alias("flags_and"),
            F.bit_xor(F.col("event_id").cast("bigint")).alias("checksum_xor"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_bucket")
    )


@register(
    "q131_ordered_string_agg",
    category="aggregation",
    oracle="""
SELECT l_returnflag,
       string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS statuses,
       count(DISTINCT l_linestatus) AS n_statuses
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q131_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: distinct values concatenated in a
    DEFINED order — unordered listagg output is partition-dependent
    and useless for hashing/caching keys. Spark form:
    array_join(sort_array(collect_set)), which is order-insensitive by
    construction; the oracle's string_agg carries an explicit ORDER
    BY."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(F.sort_array(F.collect_set("l_linestatus")), "|").alias("statuses"),
            F.count_distinct("l_linestatus").alias("n_statuses"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q133_null_safe_join",
    category="join",
    oracle="""
WITH a AS (
  SELECT event_id, nullif(user_id % 5, 0) AS k, value FROM events WHERE event_type = 'view'
),
b AS (
  SELECT nullif(user_id % 5, 0) AS k, count(*) AS n_click
  FROM events WHERE event_type = 'click' GROUP BY 1
)
SELECT coalesce(CAST(a.k AS VARCHAR), '_null') AS k,
       count(*) AS n_views,
       CAST(max(b.n_click) AS BIGINT) AS n_click
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY 1 ORDER BY 1
""",
)
def q133_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the correct behavior when
    a nullable dimension key means 'unknown bucket' rather than 'drop
    the row'. Still a hash join (null-safe equality is a valid
    equi-key), not a theta fallback."""
    e = load_table(spark, "events", sf_dir)
    a = (
        e.filter(F.col("event_type") == "view")
        .select("event_id", F.nullif(F.col("user_id") % 5, F.lit(0)).alias("k"), "value")
    )
    b = (
        e.filter(F.col("event_type") == "click")
        .select(F.nullif(F.col("user_id") % 5, F.lit(0)).alias("bk"))
        .groupBy("bk")
        .agg(F.count(F.lit(1)).alias("n_click"))
    )
    return (
        a.join(b, a.k.eqNullSafe(b.bk))
        .groupBy(F.coalesce(F.col("k").cast("string"), F.lit("_null")).alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.max("n_click").cast("bigint").alias("n_click"),
        )
        .orderBy("k")
    )


@register(
    "q134_keyset_pagination",
    category="sort",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) / 100.0 AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25 OFFSET 50
""",
)
def q134_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (page 3 of a priced-orders listing) over
    a TOTAL order — o_orderkey tie-break makes the page deterministic;
    offset over a partial order returns a different page per run.
    Spark executes orderBy+offset+limit as TakeOrdered of the first
    offset+limit rows then a driver-side skip — no global sort of the
    table. (Keyset/cursor pagination beats OFFSET at depth; this gates
    the OFFSET surface itself.)"""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            (F.round(F.col("o_totalprice") * 100, 0).cast("bigint") / 100.0).alias("o_totalprice"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(50)
        .limit(25)
    )
