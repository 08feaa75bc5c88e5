"""Advanced relational queries: range/salted joins, pivot/unpivot,
grouping sets, percentiles, array/map functions, gap-and-islands,
histogram binning, hierarchical time rollup, approximate aggregates.

These fill out SURVEY.md §2.9's "inherited from Spark, exercised in
tests" categories beyond the first registry wave (relational.py), plus
two custom join strategies (operators/joins.py) the reference's
generalization demands at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.scalar import int_div
from sensor_data_pipeline_spark.operators.joins import range_join, salted_join
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# custom join strategies
# ---------------------------------------------------------------------------
@register(
    "q55_range_join",
    category="join",
    oracle="""
WITH iv AS (
  SELECT event_id AS iv_id,
         CAST(epoch(ts) AS DOUBLE) AS lo,
         CAST(epoch(ts) AS DOUBLE) + 600 AS hi
  FROM events WHERE event_type = 'purchase' AND user_id % 50 = 0
),
pts AS (SELECT event_id, CAST(epoch(ts) AS DOUBLE) AS pt FROM events)
SELECT iv.iv_id,
       CAST(count(*) AS BIGINT) AS n_in_window,
       CAST(min(pts.event_id) AS BIGINT) AS first_event
FROM iv JOIN pts ON pts.pt >= iv.lo AND pts.pt <= iv.hi
GROUP BY iv.iv_id ORDER BY iv.iv_id
""",
)
def q55_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via the bucketed strategy: every event
    inside the 10-minute window after each sampled purchase. The
    oracle runs the plain theta join; the engine runs the bucketed
    equi-join (operators/joins.py range_join) — same rows, linear
    shuffle instead of a cross product."""
    ev = load_table(spark, "events", sf_dir)
    intervals = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 50 == 0))
        .select(
            F.col("event_id").alias("iv_id"),
            F.unix_timestamp("ts").cast("double").alias("lo"),
            (F.unix_timestamp("ts").cast("double") + 600).alias("hi"),
        )
    )
    points = ev.select("event_id", F.unix_timestamp("ts").cast("double").alias("pt"))
    joined = range_join(points, intervals, "pt", "lo", "hi", bucket_width=600.0)
    return (
        joined.groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_in_window"),
            F.min("event_id").cast("bigint").alias("first_event"),
        )
        .orderBy("iv_id")
    )


@register(
    "q56_salted_join",
    category="join",
    oracle="""
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       sum(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_bal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name
""",
)
def q56_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (nationkey is the classic low-cardinality hot
    key): result must be row-identical to the plain join the oracle
    runs — the salt only changes the shuffle layout."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    joined = salted_join(c, n, "c_nationkey", "n_nationkey", n_salts=8)
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("bigint")) / 100.0).alias("total_bal"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# reshaping
# ---------------------------------------------------------------------------
@register(
    "q57_pivot",
    category="reshape",
    oracle="""
SELECT l_returnflag,
       sum(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity * 100, 0) AS BIGINT) ELSE 0 END) / 100.0 AS qty_f,
       sum(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity * 100, 0) AS BIGINT) ELSE 0 END) / 100.0 AS qty_o
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q57_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (sum of quantity per flag x
    status). Values list is pinned so the plan needs no extra
    distinct-scan pass — at scale always pass the pivot values."""
    li = load_table(spark, "lineitem", sf_dir)
    qty_c = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    return (
        li.withColumn("_q", qty_c)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.coalesce(F.sum("_q"), F.lit(0)))
        .select(
            "l_returnflag",
            (F.col("F") / 100.0).alias("qty_f"),
            (F.col("O") / 100.0).alias("qty_o"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q58_unpivot",
    category="reshape",
    oracle="""
WITH u AS (
  SELECT o_orderpriority, 'totalprice' AS metric, o_totalprice AS v FROM orders
  UNION ALL
  SELECT o_orderpriority, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS v FROM orders
)
SELECT o_orderpriority, metric,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(round(v * 100, 0) AS BIGINT)) / 100.0 AS total
FROM u GROUP BY o_orderpriority, metric ORDER BY o_orderpriority, metric
""",
)
def q58_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide columns into (metric, value) rows then
    re-aggregate — the normalize step for metric-store shaped sinks."""
    o = load_table(spark, "orders", sf_dir)
    u = o.select("o_orderpriority", F.col("o_totalprice"), F.col("o_custkey").cast("double")).unpivot(
        ["o_orderpriority"],
        ["o_totalprice", "o_custkey"],
        "metric",
        "v",
    )
    metric = F.when(F.col("metric") == "o_totalprice", "totalprice").otherwise("custkey")
    return (
        u.withColumn("metric", metric)
        .groupBy("o_orderpriority", "metric")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum(F.round(F.col("v") * 100, 0).cast("bigint")) / 100.0).alias("total"),
        )
        .orderBy("o_orderpriority", "metric")
    )


@register(
    "q59_grouping_sets",
    category="aggregation",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q59_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than cube/rollup, q08/q09).
    Uses the SQL form — DataFrame API has no grouping-sets builder."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               -- CAST: a bare 100.0 literal is DECIMAL in Spark SQL
               -- (DOUBLE in DuckDB); decimal division would emit
               -- Decimal values and hash-mismatch the oracle
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
@register(
    "q60_percentiles",
    category="aggregation",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5)  AS median,
       quantile_cont(l_quantity, 0.75) AS q75,
       max(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q60_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``: both compute
    ``v[i] + frac * (v[i+1] - v[i])`` at ``(n-1)*p``)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.25).alias("q25"),
            F.percentile("l_quantity", 0.5).alias("median"),
            F.percentile("l_quantity", 0.75).alias("q75"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q61_histogram",
    category="aggregation",
    oracle="""
SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi
FROM orders GROUP BY 1 ORDER BY bucket
""",
)
def q61_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning with a clamped overflow bucket —
    one scan, map-side combinable."""
    o = load_table(spark, "orders", sf_dir)
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000).cast("bigint"), F.lit(9).cast("bigint"))
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "q62_approx_aggs",
    category="aggregation",
    # HLL / GK-sketch raw outputs are engine-specific, so the query
    # emits the sketch values only as SELF-AUDIT booleans (the q93
    # recall-audit pattern): the exact aggregates hash-check against
    # DuckDB, and the booleans assert the sketch error bounds hold —
    # TRUE is the contract, so the oracle states it literally.
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_within_10pct,
       TRUE AS gk_within_rank_tol
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q62_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for 100 TB interactive profiling:
    approx_count_distinct (HLL++) and percentile_approx (GK) — exact
    twins cost a full shuffle of the distinct sets; sketches are one
    pass, mergeable, constant memory. Because sketch values are
    engine-specific (and GK merge order varies with partitioning), the
    output exposes them as error-bound booleans audited against the
    exact aggregates computed in the same pass: HLL at rsd=0.02 must
    land within 10% of the exact distinct count, and the approximate
    median must fall between the exact 0.45 and 0.55 quantiles (GK
    rank-error guarantee n/accuracy = 0.1% of rows)."""
    ev = load_table(spark, "events", sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 1000).alias("approx_median_value"),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("exact_users"),
        # one sort serves both exact quantile bounds (array form)
        F.percentile(F.col("value"), F.array(F.lit(0.45), F.lit(0.55))).alias("p_lo_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        agg.select(
            "event_type",
            "n",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users")
            ).alias("hll_within_10pct"),
            F.col("approx_median_value")
            .between(F.col("p_lo_hi")[0], F.col("p_lo_hi")[1])
            .alias("gk_within_rank_tol"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# sequences
# ---------------------------------------------------------------------------
@register(
    "q63_gap_islands",
    category="window",
    oracle="""
WITH t AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 3600
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk,
         event_id
  FROM events
),
isl AS (
  SELECT user_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM t
),
sized AS (
  SELECT user_id, island_id, CAST(count(*) AS BIGINT) AS island_len
  FROM isl GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(island_len) AS BIGINT) AS longest_island
FROM sized GROUP BY user_id
HAVING count(*) > 1
ORDER BY user_id
""",
)
def q63_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-islands: sessions split on >1 h inactivity (lag ->
    break flag -> running sum), the time-series form of the
    reference's predicate sessionization (A2) with a gap predicate.
    One shuffle on user_id serves both windows."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.unix_timestamp("ts")).over(w)
    brk = F.when(prev_ts.isNull() | (F.unix_timestamp("ts") - prev_ts > 3600), 1).otherwise(0)
    islands = ev.withColumn("_brk", brk).withColumn(
        "island_id",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    sized = islands.groupBy("user_id", "island_id").agg(F.count(F.lit(1)).cast("bigint").alias("island_len"))
    return (
        sized.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.max("island_len").cast("bigint").alias("longest_island"),
        )
        .filter(F.col("n_islands") > 1)
        .orderBy("user_id")
    )


@register(
    "q64_hierarchical_rollup",
    category="aggregation",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type
""",
)
def q64_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: minute-grain partials
    re-aggregated to hour grain (counts and scaled sums compose
    losslessly). At scale the minute layer is a materialized
    continuous aggregate; the hour query reads ~1/60th of the rows.
    The oracle computes the hour grain directly — compositionality is
    exactly what's being checked."""
    ev = load_table(spark, "events", sf_dir)
    minute = (
        ev.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("sum_c"),
        )
    )
    return (
        minute.groupBy(F.date_trunc("hour", F.col("minute_start")).alias("hour_start"), "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            (F.sum("sum_c") / 100.0).alias("sum_value"),
        )
        .orderBy("hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# array / map functions
# ---------------------------------------------------------------------------
@register(
    "q65_array_map_funcs",
    category="functions",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         list_sort(list(DISTINCT o_orderpriority)) AS priorities,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT CAST(len(priorities) AS INT) AS n_distinct_priorities,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN list_contains(priorities, '1-URGENT') THEN 1 ELSE 0 END) AS BIGINT) AS with_urgent
FROM per_cust GROUP BY 1 ORDER BY 1
""",
)
def q65_array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pipeline: collect_set -> array_sort -> size /
    array_contains, re-aggregated. Collection columns stay inside the
    JVM (no Python); collect_set per customer is bounded (5
    priorities) so no skew risk."""
    o = load_table(spark, "orders", sf_dir)
    per_cust = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_set("o_orderpriority")).alias("priorities"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return (
        per_cust.groupBy(F.size("priorities").alias("n_distinct_priorities"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum(F.array_contains("priorities", "1-URGENT").cast("int")).cast("bigint").alias("with_urgent"),
        )
        .orderBy("n_distinct_priorities")
    )


@register(
    "q73_subtokens_map_lookup",
    category="functions",
    oracle="""
SELECT event_type,
       CAST(sum(len(regexp_extract_all(props, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_subtokens,
       sum(CAST(CASE event_type WHEN 'purchase' THEN 5.0 WHEN 'click' THEN 1.0 ELSE 0.5 END AS DOUBLE)) AS weight_total
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q73_subtokens_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-token counting (letter runs / digit runs / single
    punctuation — the pre-tokenizer split LLM tokenizers apply before
    merges) over the events props JSON, plus a MapType literal lookup
    (event_type -> weight) — the broadcast-free way to attach a tiny
    dimension: the map rides the plan as a literal, no join at all."""
    ev = load_table(spark, "events", sf_dir)
    subtok = F.size(F.regexp_extract_all("props", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))
    weights = F.create_map(
        F.lit("purchase"), F.lit(5.0), F.lit("click"), F.lit(1.0)
    )
    weight = F.coalesce(weights[F.col("event_type")], F.lit(0.5))
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(subtok).cast("bigint").alias("n_subtokens"),
            F.sum(weight).alias("weight_total"),
        )
        .orderBy("event_type")
    )


@register(
    "q75_session_window",
    category="window",
    oracle="""
WITH t AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 3600
              THEN 1 ELSE 0 END AS brk,
         event_id
  FROM events
),
isl AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM t
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 1 HOUR AS session_end,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(round(value * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_value
FROM isl GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def q75_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows (session_window(ts, '1 hour')
    per user) — the built-in complement to the predicate-based
    sessionization the reference needs (q26). The oracle reconstructs
    Spark's session semantics (merge while gap < 1 h; session end =
    last event + gap) from first principles with window functions."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.session_window(F.col("ts"), "1 hour").alias("sw"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")) / 100.0).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "q76_range_frame_window",
    category="window",
    oracle="""
SELECT o_custkey, o_orderdate,
       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) / CAST(100.0 AS DOUBLE)
           AS trailing_90d_spend
FROM orders
ORDER BY o_custkey, o_orderdate
""",
)
def q76_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-customer trailing-90-day spend. Unlike
    ROWS frames (q13), the frame is defined by value distance on the
    ordering key — Spark expresses interval ranges via rangeBetween on
    the epoch-seconds ordering column."""
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return (
        o.select(
            "o_custkey",
            "o_orderdate",
            (F.sum(cents).over(w) / 100.0).alias("trailing_90d_spend"),
        )
        .orderBy("o_custkey", "o_orderdate")
    )


@register(
    "q77_string_similarity",
    category="text",
    oracle="""
WITH m AS (
  SELECT greatest(4, CAST(ceil(count(*) / 500.0) AS BIGINT)) AS modulus FROM part
),
sub AS (SELECT p_partkey, p_brand, p_name FROM part, m WHERE p_partkey % m.modulus = 0),
pairs AS (
  SELECT a.p_brand,
         a.p_partkey AS key_a, b.p_partkey AS key_b,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM sub a JOIN sub b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY dist, key_a, key_b) AS BIGINT) AS rk
  FROM pairs
)
SELECT p_brand, key_a, key_b, CAST(dist AS INT) AS dist, rk
FROM ranked WHERE rk <= 3 ORDER BY p_brand, rk
""",
)
def q77_string_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection: 3 most-similar part-name
    pairs per brand by Levenshtein. The brand equi-key blocks the
    pair space (the same blocking discipline as every dedup operator
    here — never an unblocked cross join); a deterministic subset
    whose modulus SCALES with the table (greatest(4, ceil(n/500)))
    keeps the sampled population — and therefore every within-block
    pair space — bounded at ANY corpus size. The fixed 1/4 subset it
    replaces was quadratic-at-scale: the 10x-replica sweep measured
    80x for the decade before the knob turned itself. At
    sf0.001/sf0.01 the adaptive modulus evaluates to the original 4,
    so the driver's oracle gate is unchanged."""
    part = load_table(spark, "part", sf_dir)
    m = part.agg(
        F.greatest(F.lit(4), F.ceil(F.count(F.lit(1)) / 500.0).cast("bigint")).alias("modulus")
    )
    # the sampled subset feeds BOTH sides of the within-brand self-join
    # — pinned (bounded by the adaptive modulus), so part is scanned
    # twice (modulus probe + subset build) instead of r5's four
    p = (
        part.join(F.broadcast(m))
        .filter(F.col("p_partkey") % F.col("modulus") == 0)
        .select("p_partkey", "p_brand", "p_name")
        .transform(pin)
    )
    a = p.select(F.col("p_brand"), F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_brand"), F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"))
    pairs = (
        a.join(b, "p_brand")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
    )
    w = Window.partitionBy("p_brand").orderBy("dist", "key_a", "key_b")
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "key_a", "key_b", F.col("dist").cast("int"), "rk")
        .orderBy("p_brand", "rk")
    )


@register(
    "q78_hash_sample",
    category="sampling",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(min(event_id) AS BIGINT) AS first_id
FROM events
WHERE CAST(('0x' || substr(md5('7:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 = 0
GROUP BY event_type ORDER BY event_type
""",
)
def q78_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1/16 sampling by seeded hash of the row id — the
    reproducible data-selection primitive a training pipeline needs
    (same subset on every engine/run, unlike TABLESAMPLE). Filter is a
    pure scan predicate: no shuffle, prunable, composable with any
    downstream operator."""
    from sensor_data_pipeline_spark.functions.text import word_hash32

    ev = load_table(spark, "events", sf_dir)
    sampled = ev.filter(F.pmod(word_hash32(F.col("event_id").cast("string"), seed=7), F.lit(16)) == 0)
    return (
        sampled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.min("event_id").cast("bigint").alias("first_id"),
        )
        .orderBy("event_type")
    )


@register(
    "q80_grouped_agg_udf",
    category="functions",
    oracle="""
WITH t AS (
  SELECT user_id,
         -- floor, not cast: epoch() keeps fractional seconds and a
         -- plain CAST rounds, while Spark's unix_timestamp floors
         CAST(floor(epoch(ts)) AS BIGINT) AS x,
         CAST(round(value * 100, 0) AS BIGINT) AS y
  FROM events
),
sums AS (
  SELECT user_id,
         count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM t GROUP BY user_id
)
SELECT user_id,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS value_slope_cents_per_sec,
       CAST(n AS BIGINT) AS n
FROM sums ORDER BY user_id
""",
)
def q80_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation as a pandas GROUPED_AGG UDF: per-user
    OLS slope of (scaled) value over event time. The UDF accumulates
    in exact integer arithmetic with one final float division, so the
    closed-form SQL oracle is bit-identical under any row order —
    the discipline that makes custom Python aggregates verifiable."""
    from sensor_data_pipeline_spark.functions.grouped import ols_slope_int

    ev = load_table(spark, "events", sf_dir)
    t = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    # a GROUPED_AGG pandas UDF cannot share an agg() with JVM-native
    # aggregates — two single-shuffle aggs joined on the group key
    slopes = t.groupBy("user_id").agg(ols_slope_int("x", "y").alias("value_slope_cents_per_sec"))
    counts = t.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return slopes.join(counts, "user_id").orderBy("user_id")


@register(
    "q87_rank_suite",
    category="window",
    oracle="""
SELECT o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT)          AS quartile,
       percent_rank() OVER w                    AS pr,
       cume_dist() OVER w                       AS cd,
       lead(o_orderkey) OVER w                  AS next_key,
       first_value(o_orderkey) OVER w           AS cheapest_key
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-04-01'
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
)
def q87_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ranking-function surface (SURVEY §2.9): ntile, percent_rank,
    cume_dist, lead, first_value over one per-priority window.
    percent_rank/cume_dist are single divisions of row counts, so the
    doubles hash-match across engines; the (price, key) ordering is
    total, making every rank deterministic. One shuffle on the
    partition key; the month filter pushes into the parquet scan.

    Measured run wobble: BENCH_r07's 1.65s (vs 0.18s in-suite r6) was
    interference — r8 solo warm best-of 0.43s, plan digest unchanged
    (tools/solo_wobble.py; the committed battery 0a9ae17 had 0.18s)."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.filter((F.col("o_orderdate") >= "1997-03-01") & (F.col("o_orderdate") < "1997-04-01"))
        .select(
            "o_orderkey",
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.lead("o_orderkey").over(w).alias("next_key"),
            F.first("o_orderkey").over(w).alias("cheapest_key"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q88_stats_exact",
    category="agg",
    oracle="""
WITH t AS (
  SELECT l_returnflag,
         CAST(round(l_quantity, 0) AS BIGINT)             AS q,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)  AS p
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         sum(q)     AS sx,  sum(p)     AS sy,
         sum(q * q) AS sxx, sum(p * p) AS syy, sum(q * p) AS sxy
  FROM t GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qp,
       CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))          AS covar_samp_qp,
       sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))    AS stddev_q
FROM s ORDER BY l_returnflag
""",
)
def q88_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / covar_samp / stddev_samp from explicit exact moment sums.

    Built-in floating corr/stddev accumulate partials in engine- and
    partition-order-dependent ways, so they can never hash-match across
    engines. Here the five moments are exact decimal(38,0) sums of
    integer-scaled values (associative and commutative — shuffle- and
    AQE-safe at any scale), and the only floating-point happens in the
    final per-group formula, identical on both sides. This is the §2.9
    statistical-aggregate surface made bit-deterministic.

    Measured run wobble: BENCH_r07's 1.39s (vs 0.83s r6) was
    interference — r8 solo warm best-of 1.14s, plan digest unchanged
    (tools/solo_wobble.py; the committed battery 0a9ae17 had 0.87s)."""
    li = load_table(spark, "lineitem", sf_dir)
    q = F.round(F.col("l_quantity"), 0).cast("bigint")
    p = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = (
        li.select("l_returnflag", q.alias("q"), p.alias("p"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(dec(F.col("q"))).alias("sx"),
            F.sum(dec(F.col("p"))).alias("sy"),
            F.sum(dec(F.col("q") * F.col("q"))).alias("sxx"),
            F.sum(dec(F.col("p") * F.col("p"))).alias("syy"),
            F.sum(dec(F.col("q") * F.col("p"))).alias("sxy"),
        )
    )
    nd = dec(F.col("n"))
    num_xy = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    n_nm1 = F.col("n").cast("double") * (F.col("n") - 1).cast("double")
    return s.select(
        "l_returnflag",
        "n",
        (num_xy / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_qp"),
        (num_xy / n_nm1).alias("covar_samp_qp"),
        F.sqrt(var_x / n_nm1).alias("stddev_q"),
    ).orderBy("l_returnflag")


@register(
    "q94_udtf_expand",
    category="udf",
    oracle="""
SELECT * FROM (
  SELECT event_id, 'clamped' AS field, least(CAST(100 AS DOUBLE), greatest(CAST(0 AS DOUBLE), value)) AS val
  FROM events WHERE user_id < 20
  UNION ALL
  SELECT event_id, 'raw', value FROM events WHERE user_id < 20
  UNION ALL
  SELECT event_id, 'scaled_x2', value * 2.0 FROM events WHERE user_id < 20
)
ORDER BY event_id, field
""",
)
def q94_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.8): a table function laterally applied
    per input row, expanding one reading into typed (field, value)
    rows — the direct analog of a reference module's collection()
    fan-out. The UDTF runs once per row with no shuffle of its own
    (lateral = same-partition expansion); every emitted value is a
    single IEEE op on the input, so the oracle hash-matches. Python
    UDTFs are the slow path — this exists to pin the API surface; the
    equivalent hot-path plan is the stack()/explode projection used
    everywhere else."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="field string, val double")
    class ExpandReading:
        def eval(self, value: float):
            if value is None:
                return
            yield "clamped", min(100.0, max(0.0, value))
            yield "raw", value
            yield "scaled_x2", value * 2.0

    spark.udtf.register("expand_reading", ExpandReading)
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    e.select("event_id", "value").createOrReplaceTempView("q94_readings")
    return spark.sql(
        """
        SELECT r.event_id, f.field, f.val
        FROM q94_readings r, LATERAL expand_reading(r.value) f
        ORDER BY r.event_id, f.field
        """
    )


@register(
    "q95_variant_json",
    category="json",
    oracle="""
SELECT CAST(k // 10 AS BIGINT)  AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT)   AS k_sum,
       CAST(min(k) AS BIGINT)   AS k_min,
       CAST(max(k) AS BIGINT)   AS k_max
FROM (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
GROUP BY 1 ORDER BY k_bucket
""",
)
def q95_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType ingestion (Spark 4): semi-structured props parsed
    once into the binary variant encoding, fields extracted with
    variant_get — the engine-native path for schema-on-read JSON,
    ~10x cheaper than repeated get_json_object string parsing because
    the parse happens once per row, not once per extraction. Extraction
    and aggregation are all-integer."""
    e = load_table(spark, "events", sf_dir)
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        e.select(k.alias("k"))
        # int_div matches the oracle's integer // (truncation on both
        # engines — measured, see functions/scalar.py:int_div) and is
        # integer-exact over the full bigint range, unlike floor(k/10)
        .groupBy(int_div(F.col("k"), 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.min("k").cast("bigint").alias("k_min"),
            F.max("k").cast("bigint").alias("k_max"),
        )
        .orderBy("k_bucket")
    )


@register(
    "q100_gap_fill",
    category="timeseries",
    oracle="""
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events WHERE user_id < 8 GROUP BY 1, 2
),
spine AS (
  SELECT user_id, unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
  FROM hourly GROUP BY user_id
)
SELECT s.user_id, s.hour, h.v_cents,
       last_value(h.v_cents IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS filled,
       CAST(h.v_cents IS NULL AS BOOLEAN) AS is_gap
FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hour = s.hour
ORDER BY s.user_id, s.hour
""",
)
def q100_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: hourly rollup per key, a dense hour
    spine generated per key (sequence + explode — the spine never
    leaves the executors), left join, and forward-fill via
    last(ignorenulls) — the batch generalization of the reference's
    hold-last-reading staleness display. Every stage shuffles on
    user_id only; the spine join is key+hour equi. Gap rows are
    flagged so downstream can distinguish observed from imputed."""
    e = load_table(spark, "events", sf_dir)
    hourly = (
        e.filter(F.col("user_id") < 8)
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("v_cents"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select("user_id", F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"))
    )
    w = Window.partitionBy("user_id").orderBy("hour").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            "v_cents",
            F.last("v_cents", ignorenulls=True).over(w).alias("filled"),
            F.col("v_cents").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "hour")
    )


@register(
    "q112_sliding_window",
    category="time",
    oracle="""
WITH assigned AS (
  SELECT event_type, value,
         unnest([ts - to_microseconds(CAST(epoch_us(ts) % 1800000000 AS BIGINT)),
                 ts - to_microseconds(CAST(epoch_us(ts) % 1800000000 AS BIGINT)) - INTERVAL 30 MINUTE]) AS win_start
  FROM events
)
SELECT win_start,
       event_type,
       count(*) AS n,
       sum(CAST(round(value * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total
FROM assigned
GROUP BY win_start, event_type
ORDER BY win_start, event_type
""",
)
def q112_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 h length, 30 min slide): every event
    lands in exactly two windows. Spark's `window()` generates the
    window assignments as a generator expression (no join against a
    window table); the oracle mirrors it by unnesting the two
    epoch-aligned starts. Streaming twin: the same expression under a
    watermark (q67). Aggregates stay integer-scaled for hash parity."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")) / 100.0).alias("total"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total")
        .orderBy("win_start", "event_type")
    )


@register(
    "q132_robust_outlier_stats",
    category="aggregation",
    oracle="""
WITH med AS (
  SELECT l_returnflag AS f, quantile_cont(l_quantity, 0.5) AS m
  FROM lineitem GROUP BY 1
),
stats AS (
  SELECT f, m, quantile_cont(abs(l_quantity - m), 0.5) AS mad
  FROM lineitem JOIN med ON l_returnflag = f
  GROUP BY f, m
)
SELECT s.f AS l_returnflag,
       s.m AS median_qty,
       s.mad AS mad,
       CAST(sum(CASE WHEN abs(l.l_quantity - s.m) > 3 * s.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n
FROM lineitem l JOIN stats s ON l.l_returnflag = s.f
GROUP BY s.f, s.m, s.mad
ORDER BY s.f
""",
)
def q132_robust_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: median + MAD (median absolute deviation)
    per group, then a 3-MAD outlier count — the robust data-quality
    screen that, unlike mean/stddev, is not itself dragged by the
    outliers it hunts.

    Plan: each phase's result is a tiny per-group table broadcast into
    the next scan — three narrow passes over the fact, no self-join,
    no global sort (percentile aggregates sort within groups only).
    `percentile` == `quantile_cont` interpolation exactly (q60), and
    abs/compare are per-row IEEE ops, so the hash is stable."""
    li = load_table(spark, "lineitem", sf_dir)
    med = li.groupBy(F.col("l_returnflag").alias("f")).agg(
        F.percentile("l_quantity", 0.5).alias("m")
    )
    with_med = li.join(F.broadcast(med), li.l_returnflag == F.col("f"))
    stats = with_med.groupBy("f", "m").agg(
        F.percentile(F.abs(F.col("l_quantity") - F.col("m")), 0.5).alias("mad")
    )
    final = li.join(F.broadcast(stats), li.l_returnflag == F.col("f"))
    return (
        final.groupBy("f", "m", "mad")
        .agg(
            F.sum(
                F.when(F.abs(F.col("l_quantity") - F.col("m")) > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("f").alias("l_returnflag"),
            F.col("m").alias("median_qty"),
            "mad",
            "n_outliers",
            "n",
        )
        .orderBy("l_returnflag")
    )


@register(
    "q156_kmv_distinct_sketch",
    category="aggregation",
    oracle="""
WITH hashed AS (
  SELECT DISTINCT event_type,
         ((user_id % 2147483648) * 2654435761) % 2147483648 AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
),
kth AS (
  SELECT event_type, CAST(max(h) AS BIGINT) AS h_k, CAST(count(*) AS BIGINT) AS k_used
  FROM ranked WHERE rn <= 64 GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.n_exact, k.h_k,
       CASE WHEN k.k_used < 64 THEN CAST(k.k_used AS DOUBLE)
            ELSE (64 - 1) * CAST(2147483648 AS DOUBLE) / k.h_k END AS est_distinct
FROM exact e JOIN kth k USING (event_type)
ORDER BY event_type
""",
)
def q156_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, the mergeable
    sketch family (Bar-Yossef et al.) HLL belongs to — but built from
    engine-portable primitives so the ORACLE IS EXACT, unlike HLL
    (q62, rows-only, engine-specific registers). The hash is pure
    integer arithmetic (Knuth multiplicative mod 2^31 — identical in
    any engine), the sketch is the k=64 smallest distinct hash values,
    and the estimator (k-1)*M/h_k is one IEEE division. At scale: the
    distinct-hash reduction is map-side combinable (first shuffle),
    and the k-th-smallest window sorts only DISTINCT hashes per group
    (second shuffle, disk-spilling, bounded by the hash space). The
    sketch PROPERTY — two sketches merge by keeping the k smallest of
    the union, so partials are k-bounded — is what a production
    deployment exploits with a custom JVM UDAF/heap; this relational
    form trades that for an exactly-reproducible oracle.
    The query returns the estimate NEXT TO the exact count, so the
    sketch's error is audited on every run, the q93/q150 pattern."""
    e = load_table(spark, "events", sf_dir)
    h = ((F.col("user_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(2147483648)
    hashed = e.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("event_type")
        .agg(
            F.max("h").cast("bigint").alias("h_k"),
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
        )
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    est = F.when(
        F.col("k_used") < 64, F.col("k_used").cast("double")
    ).otherwise((64 - 1) * F.lit(2147483648.0) / F.col("h_k"))
    return (
        exact.join(kth, "event_type")
        .select("event_type", "n_exact", "h_k", est.alias("est_distinct"))
        .orderBy("event_type")
    )


@register(
    "q271_fuzzy_join_deletion_blocking",
    category="dedup",
    # brute-force oracle over the DISTINCT-name vocabulary (64 names):
    # candidate-complete blocking must reproduce it exactly
    oracle="""
WITH names AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
       CAST(a.n_parts * b.n_parts AS BIGINT) AS n_pair_combinations
FROM names a JOIN names b
  ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) = 1
ORDER BY name_a, name_b
""",
)
def q271_fuzzy_join_deletion_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join at edit distance 1 via FastSS deletion
    neighborhoods (Bocek et al. 2007): each DISTINCT name generates
    its 1-deletion variants (plus itself); two names within edit
    distance 1 MUST share a variant, so the candidate set from the
    variant equi-join is complete — no attribute blocking key needed
    (q77 relies on p_brand; this is the blocking-free algorithm for
    when no such key exists) and no O(vocab^2) comparison (the oracle
    brute-forces exactly that to prove equivalence). Scale shape: the
    quadratic NAME space never materializes — work is (vocabulary x
    avg name length) variant rows, one equi-join shuffle on variant,
    then Levenshtein verification on candidates only; row
    multiplicities rejoin as counts, so 20k (or 20B) parts cost one
    map-side-combinable name count, with pair combinations reported
    as products, never expanded."""
    p = load_table(spark, "part", sf_dir)
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    # the name itself + every single-character deletion
    variants = F.array_union(
        F.array(F.col("p_name")),
        F.transform(
            F.sequence(F.lit(1), F.length("p_name")),
            lambda i: F.concat(
                F.col("p_name").substr(F.lit(1), i - 1),
                F.col("p_name").substr(i + 1, F.length("p_name")),
            ),
        ),
    )
    vtab = names.select("p_name", "n_parts", F.explode(variants).alias("v")).distinct()
    a = vtab.select(
        F.col("v"),
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = vtab.select(
        F.col("v"),
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    cands = (
        a.join(b, "v")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "n_parts_a", "n_parts_b")
        .distinct()
    )
    return (
        cands.filter(F.levenshtein("name_a", "name_b") == 1)
        .withColumn(
            "n_pair_combinations",
            (F.col("n_parts_a") * F.col("n_parts_b")).cast("bigint"),
        )
        .orderBy("name_a", "name_b")
    )
