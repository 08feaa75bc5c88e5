"""Warehouse-operations queries: profiling, CDC merge, SCD2 history,
funnel analysis, ANN quality audit.

The reference pipeline's consumer maintains "latest state per key with
staleness semantics" (`src/modules/dd/consumer.cpp:124-144,241-268`);
these queries are that capability generalized to the warehouse-side
operations a production deployment of the engine runs: snapshot
profiling, applying a change feed, keeping keyed history, analyzing
ordered event sequences, and auditing an approximate index against the
exact baseline.

Float discipline matches the registry contract: every emitted double
is either a single division of exact integers or an exact
integer-scaled sum (see plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table


@register(
    "q89_profile",
    category="quality",
    oracle="""
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name,
         CAST(count(*) AS BIGINT)                 AS n_rows,
         CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT o_orderkey) AS BIGINT)   AS n_distinct,
         CAST(min(o_orderkey) AS VARCHAR)         AS min_val,
         CAST(max(o_orderkey) AS VARCHAR)         AS max_val
  FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(o_custkey) AS BIGINT),
         CAST(count(DISTINCT o_custkey) AS BIGINT),
         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
         CAST(count(*) - count(o_orderpriority) AS BIGINT),
         CAST(count(DISTINCT o_orderpriority) AS BIGINT),
         min(o_orderpriority), max(o_orderpriority)
  FROM orders
)
ORDER BY column_name
""",
)
def q89_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (ANALYZE-style): per-column row/null/
    distinct counts and min/max, emitted as one narrow row per column.
    ONE pass over the table computes every column's stats together
    (multi-aggregate, map-side combined) — not one scan per column;
    the per-column rows are unpivoted from that single agg row.
    count(DISTINCT a), count(DISTINCT b) in one agg expands to
    Spark's expand-operator plan, still a single scan."""
    o = load_table(spark, "orders", sf_dir)
    stats = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("o_orderkey").cast("bigint").alias("nn_orderkey"),
        F.countDistinct("o_orderkey").cast("bigint").alias("nd_orderkey"),
        F.min("o_orderkey").cast("string").alias("min_orderkey"),
        F.max("o_orderkey").cast("string").alias("max_orderkey"),
        F.count("o_custkey").cast("bigint").alias("nn_custkey"),
        F.countDistinct("o_custkey").cast("bigint").alias("nd_custkey"),
        F.min("o_custkey").cast("string").alias("min_custkey"),
        F.max("o_custkey").cast("string").alias("max_custkey"),
        F.count("o_orderpriority").cast("bigint").alias("nn_prio"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("nd_prio"),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
    )
    cols = [
        ("o_orderkey", "nn_orderkey", "nd_orderkey", "min_orderkey", "max_orderkey"),
        ("o_custkey", "nn_custkey", "nd_custkey", "min_custkey", "max_custkey"),
        ("o_orderpriority", "nn_prio", "nd_prio", "min_prio", "max_prio"),
    ]
    stack = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(nn)).cast("bigint").alias("n_nulls"),
                F.col(nd).alias("n_distinct"),
                F.col(mn).alias("min_val"),
                F.col(mx).alias("max_val"),
            )
            for name, nn, nd, mn, mx in cols
        ]
    )
    return stats.select(F.explode(stack).alias("s")).select("s.*").orderBy("column_name")


@register(
    "q90_merge_upsert",
    category="cdc",
    oracle="""
WITH changes AS (
  SELECT user_id AS key,
         sum(CAST(round(value * 100, 0) AS BIGINT)) AS delta_cents
  FROM events GROUP BY user_id
),
merged AS (
  SELECT COALESCE(c.c_custkey, ch.key) AS key,
         CASE WHEN c.c_custkey IS NULL THEN 'insert'
              WHEN ch.key IS NULL      THEN 'untouched'
              ELSE 'update' END AS action,
         CAST(round(COALESCE(c.c_acctbal, 0) * 100, 0) AS BIGINT)
           + COALESCE(ch.delta_cents, 0) AS new_bal_cents
  FROM customer c FULL OUTER JOIN changes ch ON c.c_custkey = ch.key
)
SELECT action,
       CAST(count(*) AS BIGINT) AS n_rows,
       sum(new_bal_cents) / CAST(100.0 AS DOUBLE) AS total_balance
FROM merged GROUP BY action ORDER BY action
""",
)
def q90_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet: a change feed (per-user
    value deltas from events) applied to the customer snapshot —
    matched rows update, unmatched changes insert, the rest pass
    through. One full outer join on the key; both sides pre-aggregated
    so the join is key-unique (no row explosion). Balances move as
    integer cents, so the audit sums hash-match. This is the CDC-apply
    pattern the engine runs where a table format's MERGE would sit."""
    c = load_table(spark, "customer", sf_dir)
    e = load_table(spark, "events", sf_dir)
    changes = e.groupBy(F.col("user_id").alias("key")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("delta_cents")
    )
    base = c.select(F.col("c_custkey").alias("ckey"), F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal_cents"))
    merged = base.join(changes, base.ckey == changes.key, "full_outer").select(
        F.coalesce(F.col("ckey"), F.col("key")).alias("key"),
        F.when(F.col("ckey").isNull(), "insert")
        .when(F.col("key").isNull(), "untouched")
        .otherwise("update")
        .alias("action"),
        (F.coalesce(F.col("bal_cents"), F.lit(0)) + F.coalesce(F.col("delta_cents"), F.lit(0))).alias(
            "new_bal_cents"
        ),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.sum("new_bal_cents") / 100.0).alias("total_balance"),
        )
        .orderBy("action")
    )


@register(
    "q91_scd2_history",
    category="cdc",
    oracle="""
SELECT user_id, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
       CAST(lead(ts) OVER w IS NULL AS BOOLEAN) AS is_current
FROM events
WHERE user_id < 25
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, valid_from, value_cents
""",
)
def q91_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: every keyed reading becomes a
    versioned row [valid_from, valid_to) with an is_current flag on
    the open tail — the keyed-history generalization of the
    reference's latest-state-per-key consumer. One shuffle on the
    dimension key; (ts, event_id) makes the version order total, so
    the intervals are deterministic."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.filter(F.col("user_id") < 25)
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("value_cents"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "value_cents")
    )


@register(
    "q92_funnel",
    category="analytics",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_viewed_after,
       CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchased_after
""",
)
def q92_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup -> view -> purchase, each
    strictly after the previous stage's first completion): per-stage
    first-completion times via chained aggregate + join. Each stage is
    one shuffle on user_id and the stage tables shrink monotonically —
    the event log itself is scanned per stage with the event_type
    filter pushed to parquet. The final counts are three tiny aggs
    cross-joined (1-row frames, broadcast)."""
    e = load_table(spark, "events", sf_dir)
    # each stage frame is consumed TWICE (the next stage's join + its
    # own funnel count) — pinned (per-user first-completion times, the
    # standard funnel materialization), so events is scanned exactly
    # once per stage filter (3 scans, each with the event_type
    # predicate pushed) instead of r5's six
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .transform(pin)
    )
    s2 = (
        e.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .transform(pin)
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup"))
        .join(s2.agg(F.count(F.lit(1)).cast("bigint").alias("n_viewed_after")))
        .join(s3.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchased_after")))
    )


_DUCK_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "q93_ann_recall",
    category="similarity",
    oracle=f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
exact_scored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         {_DUCK_COSINE.format(a="q.qv", b="c.v")} AS cosine
  FROM q, emb c WHERE c.vec_id != q.query_id
),
exact_top AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rk
    FROM exact_scored) WHERE rk <= 5
),
cents AS (SELECT vec_id AS cent_id, v AS cv FROM emb ORDER BY vec_id LIMIT 16),
c_assign AS (
  SELECT match_id, cent_id, v FROM (
    SELECT e.vec_id AS match_id, c.cent_id, e.v,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_DUCK_COSINE.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
    FROM emb e, cents c) WHERE rn = 1
),
q_assign AS (
  SELECT query_id, cent_id, qv FROM (
    SELECT e.vec_id AS query_id, c.cent_id, e.v AS qv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_DUCK_COSINE.format(a="e.v", b="c.cv")} DESC, c.cent_id) AS rn
    FROM emb e, cents c WHERE e.vec_id < 10) WHERE rn <= 2
),
ivf_scored AS (
  SELECT q.query_id, a.match_id, {_DUCK_COSINE.format(a="q.qv", b="a.v")} AS cosine
  FROM q_assign q JOIN c_assign a USING (cent_id)
  WHERE a.match_id != q.query_id
),
ivf_top AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rk
    FROM ivf_scored) WHERE rk <= 5
)
SELECT e.query_id,
       CAST(count(i.match_id) AS BIGINT) AS n_hits,
       count(i.match_id) / CAST(5.0 AS DOUBLE) AS recall_at_5
FROM exact_top e
LEFT JOIN ivf_top i ON i.query_id = e.query_id AND i.match_id = e.match_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def q93_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit: recall@5 of the IVF index against the exact
    brute-force baseline, per query. The join is on (query, match) id
    pairs — tiny — so the audit costs one brute-force pass plus the
    IVF probe, and the recall is a division of small integers
    (hash-deterministic). Run this before trusting an approximate
    index at 100 TB; q86 is the same audit for MinHash."""
    from sensor_data_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    exact_top = brute_force_topk(queries, emb, k=5).select("query_id", "match_id")
    ivf_top = (
        ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=2)
        .select(F.col("query_id").alias("iq"), F.col("match_id").alias("im"))
    )
    return (
        exact_top.join(
            ivf_top,
            (F.col("query_id") == F.col("iq")) & (F.col("match_id") == F.col("im")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("im").cast("bigint").alias("n_hits"),
            (F.count("im") / F.lit(5.0)).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "q274_bitemporal_snapshot",
    category="cdc",
    oracle="""
WITH v AS (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         epoch_us(o_orderdate) // 86400000000 AS valid_day,
         epoch_us(o_orderdate) // 86400000000 + o_orderkey % 90 AS tx_day
  FROM orders
),
a AS (SELECT min(valid_day) + 365 AS v0, min(valid_day) + 400 AS t0 FROM v),
vis AS (SELECT v.* FROM v, a WHERE v.valid_day <= a.v0 AND v.tx_day <= a.t0),
bel AS (
  SELECT o_custkey, o_orderkey AS believed_orderkey, cents AS believed_cents,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY valid_day DESC, o_orderkey DESC) AS rn
  FROM vis
),
agg AS (
  SELECT v.o_custkey,
         CAST(count(*) FILTER (WHERE v.valid_day <= a.v0 AND v.tx_day <= a.t0)
              AS BIGINT) AS n_visible,
         CAST(count(*) FILTER (WHERE v.valid_day <= a.v0 AND v.tx_day > a.t0)
              AS BIGINT) AS n_pending
  FROM v, a GROUP BY v.o_custkey
)
SELECT p.o_custkey, b.believed_orderkey, b.believed_cents,
       p.n_visible, p.n_pending
FROM agg p LEFT JOIN (SELECT * FROM bel WHERE rn = 1) b USING (o_custkey)
WHERE p.n_visible > 0 OR p.n_pending > 0
ORDER BY o_custkey
""",
)
def q274_bitemporal_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal snapshot — 'what did we BELIEVE at transaction time
    T0 about the state valid at V0?' — the two-axis time travel behind
    regulatory restatements and training-data reproducibility, one
    axis beyond q258's single-axis point-in-time join. Each order
    carries valid time (order date) and a deterministic late-arrival
    transaction time (valid + orderkey%90 days); the snapshot keeps
    rows visible on BOTH axes, picks each customer's latest believed
    order via a partial-aggregable max(struct(valid, key, cents)) —
    no window over data — and counts n_pending: rows already valid at
    V0 that the T0 snapshot could not yet see (the restatement
    backlog a bitemporal audit exists to quantify). Anchors derive
    from a broadcast 1-row min; the only data-sized exchange hashes
    on custkey. The oracle replays the same snapshot with a
    row_number window, an independent formulation."""
    o = load_table(spark, "orders", sf_dir)
    day = (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(86400000000)).cast(
        "bigint"
    )
    v = o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        day.alias("valid_day"),
        (day + F.col("o_orderkey") % 90).alias("tx_day"),
    )
    a = v.agg(
        (F.min("valid_day") + 365).alias("v0"), (F.min("valid_day") + 400).alias("t0")
    )
    va = v.join(F.broadcast(a))
    visible = (F.col("valid_day") <= F.col("v0")) & (F.col("tx_day") <= F.col("t0"))
    pending = (F.col("valid_day") <= F.col("v0")) & (F.col("tx_day") > F.col("t0"))
    best = F.max(
        F.when(visible, F.struct("valid_day", "o_orderkey", "cents"))
    )
    return (
        va.groupBy("o_custkey")
        .agg(
            best.alias("b"),
            F.sum(visible.cast("bigint")).cast("bigint").alias("n_visible"),
            F.sum(pending.cast("bigint")).cast("bigint").alias("n_pending"),
        )
        .filter((F.col("n_visible") > 0) | (F.col("n_pending") > 0))
        .select(
            "o_custkey",
            F.col("b.o_orderkey").alias("believed_orderkey"),
            F.col("b.cents").alias("believed_cents"),
            "n_visible",
            "n_pending",
        )
        .orderBy("o_custkey")
    )


@register(
    "q279_revenue_bridge",
    category="analytics",
    oracle="""
WITH j AS (
  SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)) AS cc,
         CAST(round(l.l_quantity, 0) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) IN (1999, 2000)
),
g AS (
  SELECT brand,
         CAST(sum(CASE WHEN y = 1999 THEN cc ELSE 0 END) AS BIGINT) AS rev0_cc,
         CAST(sum(CASE WHEN y = 2000 THEN cc ELSE 0 END) AS BIGINT) AS rev1_cc,
         CAST(sum(CASE WHEN y = 1999 THEN q ELSE 0 END) AS BIGINT) AS qty0,
         CAST(sum(CASE WHEN y = 2000 THEN q ELSE 0 END) AS BIGINT) AS qty1
  FROM j GROUP BY brand
)
SELECT brand, rev0_cc, rev1_cc, qty0, qty1,
       CAST(rev1_cc - rev0_cc AS BIGINT) AS delta_cc,
       CAST(CAST(rev1_cc AS HUGEINT) * qty0
            - CAST(rev0_cc AS HUGEINT) * qty1 AS VARCHAR)
         AS price_effect_num,
       CAST(CAST(rev0_cc AS HUGEINT) * (qty1 - qty0) AS VARCHAR)
         AS volume_effect_num,
       (CAST(rev1_cc AS HUGEINT) * qty0 - CAST(rev0_cc AS HUGEINT) * qty1)
         + CAST(rev0_cc AS HUGEINT) * (qty1 - qty0)
         = CAST(rev1_cc - rev0_cc AS HUGEINT) * qty0 AS bridge_conserved
FROM g ORDER BY brand
""",
)
def q279_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume revenue bridge: decompose each brand's 1999->2000
    revenue change into a price effect and a volume effect — the
    waterfall / variance-decomposition operator behind every
    period-over-period finance review. The textbook form divides by
    quantities (P = R/Q average price); this stays EXACT by clearing
    denominators: scaled by Q0, price effect = R1*Q0 - R0*Q1 and
    volume effect = R0*(Q1 - Q0), whose sum is identically
    (R1 - R0)*Q0 — emitted as the cross-engine conservation boolean.
    The products exceed int64 one decade above sf1, so both engines
    compute them in DECIMAL(38,0)/HUGEINT but emit them as STRINGS:
    round-4 driver verification showed scale-0 decimal outputs hash
    differently across engines (float64 render drops bits above 2^53),
    so exact >2^53 integers leave the engine as digit strings.
    Plan: one broadcast join (part is the small dim), one
    brand-keyed combiner aggregate with conditional sums (no second
    scan per period), then pure 25-row arithmetic — at 100 TB the
    bridge costs exactly the dim join plus one map-side-combinable
    shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    pt = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    y = F.year("l_shipdate")
    cc = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100, 0).cast("bigint")
    )
    q = F.round(F.col("l_quantity"), 0).cast("bigint")
    j = (
        li.filter(y.isin(1999, 2000))
        .join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("p_brand").alias("brand"), y.alias("y"), cc.alias("cc"), q.alias("q"))
    )
    g = j.groupBy("brand").agg(
        F.sum(F.when(F.col("y") == 1999, F.col("cc")).otherwise(0)).cast("bigint").alias("rev0_cc"),
        F.sum(F.when(F.col("y") == 2000, F.col("cc")).otherwise(0)).cast("bigint").alias("rev1_cc"),
        F.sum(F.when(F.col("y") == 1999, F.col("q")).otherwise(0)).cast("bigint").alias("qty0"),
        F.sum(F.when(F.col("y") == 2000, F.col("q")).otherwise(0)).cast("bigint").alias("qty1"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    price_num = d("rev1_cc") * d("qty0") - d("rev0_cc") * d("qty1")
    vol_num = d("rev0_cc") * (d("qty1") - d("qty0"))
    delta_dec = (d("rev1_cc") - d("rev0_cc")) * d("qty0")
    return g.select(
        "brand",
        "rev0_cc",
        "rev1_cc",
        "qty0",
        "qty1",
        (F.col("rev1_cc") - F.col("rev0_cc")).cast("bigint").alias("delta_cc"),
        price_num.cast("decimal(38,0)").cast("string").alias("price_effect_num"),
        vol_num.cast("decimal(38,0)").cast("string").alias("volume_effect_num"),
        (price_num + vol_num == delta_dec).alias("bridge_conserved"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# q322 — right-to-erasure cascade audit
# ---------------------------------------------------------------------------

_ERASE_MOD = 97


@register(
    "q322_erasure_cascade_audit",
    category="storage",
    oracle=f"""
WITH erased AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % {_ERASE_MOD} = 0
),
ev AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
         CAST(count(*) FILTER (WHERE user_id IN (SELECT user_id FROM erased))
              AS BIGINT) AS hit
  FROM events
),
cu AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
         CAST(count(*) FILTER (WHERE c_custkey IN (SELECT user_id FROM erased))
              AS BIGINT) AS hit
  FROM customer
),
o AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
         CAST(count(*) FILTER (WHERE o_custkey IN (SELECT user_id FROM erased))
              AS BIGINT) AS hit
  FROM orders
),
li AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
         CAST(count(*) FILTER (WHERE l_orderkey IN (
             SELECT o_orderkey FROM orders
             WHERE o_custkey IN (SELECT user_id FROM erased)))
              AS BIGINT) AS hit
  FROM lineitem
)
SELECT * FROM (
  SELECT 'events' AS tbl, total, hit, hit * 1000000 // total AS erased_ppm FROM ev
  UNION ALL
  SELECT 'customer', total, hit, hit * 1000000 // total FROM cu
  UNION ALL
  SELECT 'orders', total, hit, hit * 1000000 // total FROM o
  UNION ALL
  SELECT 'lineitem', total, hit, hit * 1000000 // total FROM li
) ORDER BY tbl
""",
)
def q322_erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR Art. 17) cascade impact audit: given a
    deterministic erasure cohort (user_id % 97 == 0), count the rows
    each table loses when the deletion cascades over the modeled
    subject-key linkage (events.user_id, customer.c_custkey,
    orders.o_custkey, and lineitem through its order) — the dry-run
    every compliance pipeline executes before the actual anti-join
    rewrite (q253's changelog-delete machinery applies the erasure;
    this query prices it). Each per-table count is ONE scan: a marked
    LEFT join against the pinned, distinct erased-key set (broadcast
    when the cohort is small, shuffled beyond — never an IN-subquery
    re-execution, and no fan-out since the cohort is distinct) feeding
    a fused total+hit conditional aggregate; the lineitem leg chains
    through orders semi-first so the order-key probe set is already
    erasure-filtered. The r5 shape re-derived the cohort per probe and
    scanned each table twice (semi count + total count) — 6 events
    scans; now events is scanned twice total (cohort pin + own probe)
    and every other table once. Output is 4 rows of exact counts with
    integer-ppm shares. At 100 TB the only data-sized exchanges are
    the membership joins on (custkey, orderkey)."""
    ev = load_table(spark, "events", sf_dir)
    cu = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # the erasure cohort is consumed by every probe — pinned, so events
    # is scanned once for it instead of re-deriving the distinct per
    # consumer (6 events scans in the r5 plan). Cohort-sized, tiny.
    erased = (
        ev.where(F.col("user_id") % _ERASE_MOD == 0)
        .select("user_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
        .transform(pin)
    )

    # hit + total fuse into ONE scan per table: a marked LEFT join
    # against the distinct cohort (no fan-out possible) feeds a single
    # conditional aggregate — the r5 shape scanned each table twice
    # (semi-join count + separate total count).
    def probe(df: DataFrame, key: str, label: str) -> DataFrame:
        joined = df.select(F.col(key).alias("_k")).join(
            erased, F.col("_k") == erased["user_id"], "left"
        )
        return joined.agg(
            F.count("*").cast("bigint").alias("total"),
            F.count("_hit").cast("bigint").alias("hit"),
        ).select(
            F.lit(label).alias("tbl"),
            "total",
            "hit",
            F.expr("hit * 1000000 DIV total").alias("erased_ppm"),
        )

    # lineitem cascades through orders: erasure-filter the order keys
    # first (semi join), pin the resulting key set, probe once.
    erased_orders = (
        o.join(erased, o["o_custkey"] == erased["user_id"], "left_semi")
        .select(F.col("o_orderkey").alias("user_id"))
        .withColumn("_hit", F.lit(1))
        .transform(pin)
    )
    li_row = (
        li.select(F.col("l_orderkey").alias("_k"))
        .join(erased_orders, F.col("_k") == erased_orders["user_id"], "left")
        .agg(
            F.count("*").cast("bigint").alias("total"),
            F.count("_hit").cast("bigint").alias("hit"),
        )
        .select(
            F.lit("lineitem").alias("tbl"),
            "total",
            "hit",
            F.expr("hit * 1000000 DIV total").alias("erased_ppm"),
        )
    )
    return (
        probe(ev, "user_id", "events")
        .unionByName(probe(cu, "c_custkey", "customer"))
        .unionByName(probe(o, "o_custkey", "orders"))
        .unionByName(li_row)
        .orderBy("tbl")
    )


# ---------------------------------------------------------------------------
# q323 — data-contract validation suite
# ---------------------------------------------------------------------------


@register(
    "q323_data_contract_validation",
    category="quality",
    oracle="""
WITH checks AS (
  SELECT 'quantity_range' AS rule,
         CAST(count(*) AS BIGINT) AS n_checked,
         CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
              AS BIGINT) AS n_violations
  FROM lineitem
  UNION ALL
  SELECT 'discount_range',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
              AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'price_positive',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (WHERE l_extendedprice IS NULL
                                  OR l_extendedprice <= 0) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'shipdate_present',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'line_id_unique',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         CAST(coalesce((SELECT sum(c - 1)
                        FROM (SELECT count(*) AS c FROM lineitem
                              GROUP BY l_orderkey, l_linenumber
                              HAVING count(*) > 1)), 0) AS BIGINT)
)
SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
FROM checks ORDER BY rule
""",
)
def q323_data_contract_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation: the declarative rule suite a producer
    publishes with a table (range bounds, non-null, positivity,
    composite-key uniqueness) evaluated in bulk, one row per rule with
    exact violation counts and a pass verdict — the generalization of
    the reference's per-record validation predicates (P11,
    src/modules/hko/hko.cpp:108-115) to set-level contract audits.
    The four scalar rules fuse into conditional aggregates; Spark
    computes them in ONE scan (a single Aggregate of count-if
    expressions), while the uniqueness rule is the only keyed shuffle
    — a (orderkey, linenumber) combine whose excess-count sum is the
    duplicate mass. The oracle states each rule as its own scan for
    SQL clarity; the Spark plan's single-pass fusion is the
    at-scale win. n_checked for uniqueness = total rows (every row
    participates in the key census)."""
    li = load_table(spark, "lineitem", sf_dir)
    n = F.count("*").cast("bigint")
    cond = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    scalar = li.agg(
        n.alias("n_checked"),
        cond((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "v_quantity"
        ),
        cond((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias(
            "v_discount"
        ),
        cond(
            F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") <= 0)
        ).alias("v_price"),
        cond(F.col("l_shipdate").isNull()).alias("v_shipdate"),
    )
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("bigint").alias("v_dup"))
    )
    # unpivot the 1-row rule vector with stack() — a unionByName loop
    # would re-execute BOTH scans once per rule (5x the scan mass)
    return (
        scalar.crossJoin(dup)
        .select(
            "n_checked",
            F.expr(
                "stack(5,"
                " 'discount_range', v_discount,"
                " 'line_id_unique', v_dup,"
                " 'price_positive', v_price,"
                " 'quantity_range', v_quantity,"
                " 'shipdate_present', v_shipdate) AS (rule, n_violations)"
            ),
        )
        .select(
            "rule",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("rule")
    )
