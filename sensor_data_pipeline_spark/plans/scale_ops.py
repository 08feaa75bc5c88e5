"""Scale-operations suite: sketches and maintenance patterns whose
whole point is avoiding the full-shuffle/full-recompute cost at 100 TB,
each audited against the exact answer it approximates or replaces.

- q192: Misra-Gries heavy hitters — mergeable per-partition summaries,
  with the classic deterministic error bound emitted as self-audit
  booleans (the bound holds for ANY partitioning, so the booleans are
  hash-stable).
- q193: replica bucket diff — anti-entropy localization. Two replicas
  compare 256 bucket checksums instead of 100 TB of rows; only
  differing buckets are shipped for repair.
- q194: incremental rollup maintenance — merge yesterday's aggregate
  with today's delta instead of recomputing the world, audited
  bit-for-bit against the full recompute.

Reference basis: the reference's consumer keeps running aggregates it
updates per tick rather than rescanning history
(src/modules/dd/consumer.cpp:241-268 keeps last-seen state); these are
the warehouse-scale forms of that idea.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.text import tokenize
from sensor_data_pipeline_spark.operators.filters import bloom_bitmap, bloom_contains
from sensor_data_pipeline_spark.operators.skyline import pareto_frontier_2d
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_DUCK_WORDS = "regexp_split_to_array(text, '\\s+')"
_MG_CAP = 4096


def _mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Misra-Gries summary of one partition's token stream, capacity
    _MG_CAP. Guarantees per partition p: c_p(x) <= true_p(x) and
    true_p(x) - c_p(x) <= N_p/(cap+1). Summaries MERGE by summing
    counters per token, and the bounds add: after merging,
    approx(x) <= true(x) <= approx(x) + N/(cap+1) for the global
    stream of N tokens — independent of how rows were partitioned."""
    counts: dict[str, int] = {}
    for pdf in batches:
        for t in pdf["token"]:
            if t in counts:
                counts[t] += 1
            elif len(counts) < _MG_CAP:
                counts[t] = 1
            else:
                dead = []
                for k in counts:
                    counts[k] -= 1
                    if counts[k] == 0:
                        dead.append(k)
                for k in dead:
                    del counts[k]
    yield pd.DataFrame({"token": list(counts.keys()), "c": list(counts.values())})


@register(
    "q192_heavy_hitters_mg",
    category="sketch",
    # The sketch's raw counters are partitioning-dependent, so the
    # query emits them only through the two booleans the MG guarantee
    # makes TRUE under every partitioning (the q62/q93 self-audit
    # pattern); the exact counts hash-check against SQL.
    oracle=f"""
WITH toks AS (SELECT unnest({_DUCK_WORDS}) AS token FROM documents)
SELECT token,
       CAST(count(*) AS BIGINT) AS exact_n,
       TRUE AS sketch_found,
       TRUE AS within_bound
FROM toks
GROUP BY token
ORDER BY exact_n DESC, token
LIMIT 20
""",
)
def q192_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Misra-Gries: each task compresses its token
    stream to a capacity-bounded summary (shuffle bytes O(cap) per
    task, NOT O(distinct tokens) like q81's exact count), summaries
    merge by token-wise sum, and the exact top-20 audits the sketch.
    At 100 TB the exact vocabulary count shuffles billions of distinct
    keys; MG ships 4096 counters per task and still guarantees every
    token with frequency > N/(cap+1) survives with undercount at most
    N/(cap+1). Those two guarantees are the emitted booleans —
    mathematically true for ANY partitioning, hence hash-stable."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(F.explode(tokenize(F.col("text"))).alias("token"))
    sketch = (
        toks.mapInPandas(_mg_partition, "token string, c long")
        .groupBy("token")
        .agg(F.sum("c").alias("approx_n"))
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    top = (
        exact.orderBy(F.col("exact_n").desc(), "token")
        .limit(20)
        .join(sketch, "token", "left")
        .crossJoin(F.broadcast(total))
    )
    bound = F.floor(F.col("n_total") / (_MG_CAP + 1))
    return (
        top.select(
            "token",
            "exact_n",
            F.col("approx_n").isNotNull().alias("sketch_found"),
            (
                F.col("approx_n").isNotNull()
                & (F.col("approx_n") <= F.col("exact_n"))
                & (F.col("exact_n") - F.col("approx_n") <= bound)
            ).alias("within_bound"),
        )
        .orderBy(F.col("exact_n").desc(), "token")
    )


_ROW_FP = (
    "CAST(('0x' || substr(md5("
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' ||"
    "o_orderstatus || '|' || CAST({cents} AS VARCHAR)"
    "), 1, 8)) AS BIGINT)"
)


@register(
    "q193_replica_bucket_diff",
    category="audit",
    oracle=f"""
WITH a AS (
  SELECT o_orderkey % 256 AS bucket,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderkey, o_custkey, o_orderstatus
  FROM orders
),
b AS (
  SELECT o_orderkey % 256 AS bucket,
         CAST(round(o_totalprice * 100, 0) AS BIGINT)
           + CASE WHEN o_orderkey % 1000 = 7 THEN 1 ELSE 0 END AS cents,
         o_orderkey, o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 997 != 3
),
ca AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_a,
              CAST(sum({_ROW_FP.format(cents="cents")}) AS BIGINT) AS fp_a
       FROM a GROUP BY bucket),
cb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
              CAST(sum({_ROW_FP.format(cents="cents")}) AS BIGINT) AS fp_b
       FROM b GROUP BY bucket)
SELECT CAST(ca.bucket AS BIGINT) AS bucket, n_a, n_b,
       CAST(n_a - n_b AS BIGINT) AS n_missing
FROM ca JOIN cb ON ca.bucket = cb.bucket
WHERE fp_a != fp_b
ORDER BY bucket
""",
)
def q193_replica_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy localization: two replicas summarize to 256
    (bucket, count, order-independent checksum) rows — q179's
    commutative fingerprint sum, bucketed — and exchange ONLY those.
    Differing buckets pinpoint where repair must read actual rows, so
    reconciling 100 TB replicas costs two scans plus a 256-row
    compare, never a row-level distributed diff. Replica B simulates
    real drift deterministically: one lost row family (orderkey%997=3)
    and one corrupted price family (orderkey%1000=7)."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    b = o.filter(F.col("o_orderkey") % 997 != 3).withColumn(
        "cents",
        F.col("cents") + F.when(F.col("o_orderkey") % 1000 == 7, 1).otherwise(0),
    )

    def summarize(df: DataFrame, n_col: str, fp_col: str) -> DataFrame:
        row_repr = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("cents").cast("string"),
        )
        fp = F.conv(F.substring(F.md5(row_repr), 1, 8), 16, 10).cast("bigint")
        return (
            df.groupBy((F.col("o_orderkey") % 256).cast("bigint").alias("bucket"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias(n_col),
                F.sum(fp).cast("bigint").alias(fp_col),
            )
        )

    ca = summarize(o, "n_a", "fp_a")
    cb = summarize(b, "n_b", "fp_b")
    return (
        ca.join(cb, "bucket")
        .filter(F.col("fp_a") != F.col("fp_b"))
        .select("bucket", "n_a", "n_b", (F.col("n_a") - F.col("n_b")).cast("bigint").alias("n_missing"))
        .orderBy("bucket")
    )


@register(
    "q194_incremental_rollup",
    category="cdc",
    oracle="""
WITH full_agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders, sum_cents, TRUE AS matches_full
FROM full_agg ORDER BY o_orderpriority
""",
)
def q194_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a distributive rollup: the
    standing aggregate over history (orders before 1998) is MERGED
    with the delta batch's aggregate (1998+) — count and sum compose,
    so maintaining the rollup costs one pass over the DELTA, never a
    rescan of history. The audit recomputes the rollup from scratch
    and compares group-by-group; `matches_full` is the maintenance
    invariant (guaranteed for distributive aggregates), emitted so the
    driver hash pins it. At 100 TB this is the difference between a
    nightly 5-minute delta merge and a nightly full-table shuffle."""
    o = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    cutoff = F.lit("1998-01-01").cast("date")

    def agg_of(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.sum(cents).cast("bigint").alias(s),
        )

    base = agg_of(o.filter(F.col("o_orderdate") < cutoff), "n_base", "s_base")
    delta = agg_of(o.filter(F.col("o_orderdate") >= cutoff), "n_delta", "s_delta")
    merged = (
        base.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (F.coalesce("n_base", F.lit(0)) + F.coalesce("n_delta", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            (F.coalesce("s_base", F.lit(0)) + F.coalesce("s_delta", F.lit(0)))
            .cast("bigint")
            .alias("sum_cents"),
        )
    )
    full = agg_of(o, "n_full", "s_full")
    return (
        merged.join(full, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_orders",
            "sum_cents",
            (
                (F.col("n_orders") == F.col("n_full"))
                & (F.col("sum_cents") == F.col("s_full"))
            ).alias("matches_full"),
        )
        .orderBy("o_orderpriority")
    )


_EWMA_DEPTH = 20


@register(
    "q195_ewma_smoothing",
    category="window",
    oracle=f"""
WITH t AS (
  SELECT event_id, user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 64
),
l AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS user_id, rn,
         {" + ".join(
            f"coalesce(lag(cents, {d}) OVER (PARTITION BY user_id ORDER BY rn)"
            f" * pow(2.0, {-d - 1}), 0.0)" for d in range(21)
         )} AS ewma_cents
  FROM t
)
SELECT event_id, user_id, ewma_cents FROM l ORDER BY event_id
""",
)
def q195_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic EWMA smoother (alpha = 1/2, depth 21): the classic
    exponential smoother made BIT-EXACT across engines by choosing
    power-of-two weights — x*2^-k never rounds, and the 21-term sum
    stays inside the 53-bit mantissa, so every partial sum is exact
    and the result is identical under ANY evaluation order (no
    float-summation nondeterminism, the usual blocker for oracle-
    checking smoothers). One shuffle on user_id serves all 21 lags —
    Catalyst collapses them into a single window frame pass. The
    truncation at depth 21 is principled: weight 2^-21 is below cents
    resolution, so the recursive EWMA and this finite kernel agree to
    the cent at any history length."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 64)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ewma = None
    for d in range(_EWMA_DEPTH + 1):
        term = F.coalesce(F.lag(cents, d).over(w) * F.lit(2.0) ** F.lit(-d - 1), F.lit(0.0))
        ewma = term if ewma is None else ewma + term
    return ev.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        ewma.alias("ewma_cents"),
    ).orderBy("event_id")


@register(
    "q196_first_touch_attribution",
    category="join",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts,
         event_type
  FROM events WHERE event_type IN ('click', 'purchase')
),
carried AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(click_id IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS attr_click,
         last_value(click_ts IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS attr_ts
  FROM tagged
)
SELECT event_id AS purchase_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(CASE WHEN attr_ts >= ts - INTERVAL 1 HOUR THEN attr_click END AS BIGINT)
         AS attributed_click,
       (attr_ts IS NOT NULL AND attr_ts >= ts - INTERVAL 1 HOUR) AS attributed
FROM carried
WHERE event_type = 'purchase'
ORDER BY purchase_id
""",
)
def q196_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touch attribution: every purchase is credited to the user's
    most recent click within a 1-hour lookback — the ad-attribution /
    conversion-credit operator, expressed as a single merged-stream
    window pass instead of a purchases×clicks as-of join: tag both
    event kinds in ONE scan, carry the last click forward with
    last_value(IGNORE NULLS), then keep purchases. One shuffle on
    user_id, no join, no per-key state — the same plan shape the as-of
    cogroup (q113) would need two shuffles for. The tolerance becomes
    a null-out instead of a filter so unattributed purchases stay
    visible (the honest-reporting variant)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    carried = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("attr_click"),
        F.last(click_ts, ignorenulls=True).over(w).alias("attr_ts"),
    )
    in_window = F.col("attr_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.when(in_window, F.col("attr_click")).cast("bigint").alias("attributed_click"),
            (F.col("attr_ts").isNotNull() & in_window).alias("attributed"),
        )
        .orderBy("purchase_id")
    )


@register(
    "q205_canonical_selection",
    category="dedup",
    oracle="""
WITH t AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
         length(text) AS len
  FROM documents
),
r AS (
  SELECT fp, doc_id, len,
         row_number() OVER (PARTITION BY fp ORDER BY len DESC, doc_id) AS rk,
         count(*) OVER (PARTITION BY fp) AS n_copies
  FROM t
)
SELECT fp, doc_id AS keep_id,
       CAST(n_copies AS BIGINT) AS n_copies,
       CAST(len AS BIGINT) AS keep_len
FROM r WHERE rk = 1 ORDER BY fp
""",
)
def q205_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup with QUALITY-AWARE canonical selection: each duplicate
    group keeps its BEST copy (longest text, doc_id tiebreak) instead
    of q40's arbitrary min-id — the policy real corpus dedup ships,
    because boilerplate-stripped rescrapes beat truncated first
    crawls. One shuffle, no window: the arg-max rides a single
    max(struct(len, -doc_id)) aggregate, so the per-group state is one
    struct regardless of group size (partial-aggregable map-side,
    unlike the oracle's row_number formulation)."""
    d = load_table(spark, "documents", sf_dir)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    t = d.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.length("text").cast("bigint").alias("len"),
    )
    best = F.max(F.struct(F.col("len"), (-F.col("doc_id")).alias("neg_id"))).alias("m")
    return (
        t.groupBy("fp")
        .agg(best, F.count(F.lit(1)).cast("bigint").alias("n_copies"))
        .select(
            "fp",
            (-F.col("m.neg_id")).cast("bigint").alias("keep_id"),
            "n_copies",
            F.col("m.len").cast("bigint").alias("keep_len"),
        )
        .orderBy("fp")
    )


@register(
    "q206_skew_gini",
    category="aggregation",
    oracle="""
WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY user_id
),
n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS total_events
  FROM c
),
r AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) AS rk FROM c
)
SELECT n.n_users, n.total_events,
       CAST(sum((2 * rk - n.n_users - 1) * x) AS BIGINT) AS gini_num,
       CAST(n.n_users * n.total_events AS BIGINT) AS gini_den
FROM r, n
GROUP BY n.n_users, n.total_events
""",
)
def q206_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact key-skew diagnostic: the Gini coefficient of the per-user
    event distribution as an INTEGER numerator/denominator pair
    (gini = num/den; no float until the caller divides) — the number a
    shuffle-planning review wants before choosing salting. Ranking
    uses the range-partitioned two-pass scan (operators/prefix.py)
    over a unique composite key, NOT a global single-partition window:
    at 10^9 keys the ranking stays parallel and the driver sees only
    O(partitions) rows. The oracle uses the plain window formulation —
    bit-equal because ranks over a unique total order are unique."""
    from sensor_data_pipeline_spark.operators.prefix import global_running_sum

    ev = load_table(spark, "events", sf_dir)
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    # unique, order-preserving composite key: (x, user_id) packed
    keyed = c.select(
        (F.col("x") * F.lit(10_000_000) + F.col("user_id")).alias("k"), "x"
    ).withColumn("_one", F.lit(1).cast("bigint"))
    ranked = global_running_sum(keyed, "k", "_one", out_col="rk")
    tot = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("total_events"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "n_users",
            "total_events",
            ((2 * F.col("rk") - F.col("n_users") - 1) * F.col("x")).alias("term"),
        )
        .groupBy("n_users", "total_events")
        .agg(F.sum("term").cast("bigint").alias("gini_num"))
        .select(
            "n_users",
            "total_events",
            "gini_num",
            (F.col("n_users") * F.col("total_events")).cast("bigint").alias("gini_den"),
        )
    )


@register(
    "q208_pipeline_end_to_end",
    category="corpus",
    oracle=r"""
WITH RECURSIVE gated AS (
  SELECT doc_id, lang, source, text,
         len(regexp_split_to_array(text, '\s+')) AS n_tok
  FROM documents
  WHERE lang IN ('en', 'de') AND len(regexp_split_to_array(text, '\s+')) >= 20
),
ex AS (
  SELECT gated.*, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM gated
),
s1 AS (
  SELECT ex.* FROM ex
  JOIN (SELECT fp, min(doc_id) AS keep FROM ex GROUP BY fp) k
    ON ex.fp = k.fp AND ex.doc_id = k.keep
),
docs AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM s1)
),
sizes AS (SELECT doc_id, len(shingles) AS n FROM docs),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM docs),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT id_a, id_b FROM shared
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_shared / (sa.n + sb.n - n_shared) >= 0.5
),
edges AS (SELECT id_a AS src, id_b AS dst FROM jp UNION SELECT id_b, id_a FROM jp),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT e.dst AS node, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
clust AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
s2 AS (
  SELECT s1.* FROM s1
  LEFT JOIN clust ON clust.node = s1.doc_id
  WHERE clust.cluster_id IS NULL OR clust.cluster_id = s1.doc_id
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens_total,
       CAST(sum((n_tok + 63) // 64) AS BIGINT) AS n_chunks_total,
       CAST(sum(len(regexp_extract_all(text, '\b(dup|key|hash)\b'))) AS BIGINT)
         AS n_redacted_total
FROM s2 GROUP BY lang, source ORDER BY lang, source
""",
)
def q208_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE training-data pipeline as ONE composed query — what a user
    of this engine actually ships: language+length gate → exact dedup
    (keep min-id per normalized fingerprint) → near-dup pruning
    (word-3-gram Jaccard ≥ 0.5 posting-list pairs → connected
    components → keep each cluster's representative) → PII redaction
    accounting → 64-token chunk sizing → per-(lang, source) manifest.
    Every stage is the already-audited operator (q79/q40/q41/q74/
    q163/q157 machinery) composed end-to-end, and the oracle replays
    the WHOLE composition — including the dup-graph closure via
    recursive SQL — so the integration, not just the parts, is
    hash-checked. Scale shape: three shuffles total (fingerprint
    group, posting-list group, final rollup) plus the component loop;
    no stage widens the data beyond its candidate pairs."""
    from sensor_data_pipeline_spark.functions.text import doc_fingerprint, tokenize
    from sensor_data_pipeline_spark.operators.dedup import dedup_components, jaccard_pairs

    d = load_table(spark, "documents", sf_dir)
    n_tok = F.size(tokenize(F.col("text"))).cast("bigint")
    gated = d.filter(F.col("lang").isin("en", "de")).withColumn("n_tok", n_tok).filter(
        F.col("n_tok") >= 20
    )
    ex = gated.withColumn("fp", doc_fingerprint(F.col("text")))
    keep = ex.groupBy("fp").agg(F.min("doc_id").alias("_keep"))
    s1 = ex.join(keep, "fp").filter(F.col("doc_id") == F.col("_keep")).drop("_keep")
    pairs = jaccard_pairs(s1.select("doc_id", "text"), "doc_id", "text", n=3, threshold=0.5)
    labels = dedup_components(pairs.select("id_a", "id_b")).withColumnRenamed(
        "doc_id", "_node"
    )
    s2 = s1.join(labels, s1["doc_id"] == labels["_node"], "left").filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    )
    red_pat = r"\b(dup|key|hash)\b"
    return (
        s2.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens_total"),
            F.sum(F.expr("(n_tok + 63) DIV 64")).cast("bigint").alias("n_chunks_total"),
            F.sum(F.regexp_count(F.col("text"), F.lit(red_pat)))
            .cast("bigint")
            .alias("n_redacted_total"),
        )
        .orderBy("lang", "source")
    )


_DUCK_SUBDIST = (
    "list_aggregate(list_transform(generate_series({m} * 16 + 1, {m} * 16 + 16), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
)


@register(
    "q211_pq_ann_recall",
    category="similarity",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
cb AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 16),
ms AS (SELECT range AS m FROM range(0, 4)),
subd AS (
  SELECT e.vec_id AS match_id, ms.m, c.cid,
         {_DUCK_SUBDIST.format(m="ms.m", a="e.v", b="c.cv")} AS d
  FROM emb e, ms, cb c
),
codes AS (
  SELECT match_id, m, cid AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY match_id, m ORDER BY d, cid) AS rn
    FROM subd
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
qd AS (
  SELECT q.query_id, s.match_id, s.m,
         {_DUCK_SUBDIST.format(m="s.m", a="q.qv", b="c.cv")} AS d
  FROM q, codes s
  JOIN cb c ON c.cid = s.code
  WHERE s.match_id != q.query_id
),
adist AS (
  SELECT query_id, match_id,
         list_aggregate(list(d ORDER BY m), 'sum') AS adist
  FROM qd GROUP BY query_id, match_id
),
approx_top AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, match_id) AS rk
    FROM adist) WHERE rk <= 5
),
ex AS (
  SELECT q.query_id, e.vec_id AS match_id,
         list_aggregate(list_transform(generate_series(1, 64),
             i -> (q.qv[i] - e.v[i]) * (q.qv[i] - e.v[i])), 'sum') AS d
  FROM q, emb e WHERE e.vec_id != q.query_id
),
exact_top AS (
  SELECT query_id, match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, match_id) AS rk
    FROM ex) WHERE rk <= 5
)
SELECT e.query_id,
       CAST(count(a.match_id) AS BIGINT) AS n_hits,
       count(a.match_id) / CAST(5.0 AS DOUBLE) AS recall_at_5
FROM exact_top e
LEFT JOIN approx_top a ON a.query_id = e.query_id AND a.match_id = e.match_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def q211_pq_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with its honesty check: recall@5 of
    PQ asymmetric-distance top-5 against the exact L2 baseline, per
    query. PQ is the MEMORY-scale ANN lever (a 32-float vector
    becomes 4 bytes of codes; a 100 TB embedding table becomes ~3 TB
    of codes that fit hot storage) and composes with IVF (q66) —
    coarse cells prune candidates, PQ codes score them without
    touching raw vectors. Scoring is pure Catalyst lookups over
    broadcast per-query tables (operators/similarity.py::pq_scores);
    every distance folds (x-c)^2 in dimension order so the oracle
    replays codes, tables, and both top-5 sets bit-for-bit."""
    from sensor_data_pipeline_spark.operators.similarity import pq_scores

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    from pyspark.sql.window import Window

    approx = pq_scores(queries, emb, n_codes=16, n_subspaces=4)
    wa = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("match_id"))
    approx_top = (
        approx.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= 5)
        .select("query_id", F.col("match_id").alias("am"))
    )

    vd = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    q = queries.select(F.col("vec_id").alias("query_id"), vd(F.col("embedding")).alias("qv"))
    c = emb.select(F.col("vec_id").alias("match_id"), vd(F.col("embedding")).alias("cv"))
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    we = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("match_id"))
    exact_top = (
        c.join(F.broadcast(q))
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn("d", dist)
        .withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= 5)
        .select("query_id", "match_id")
    )
    return (
        exact_top.join(
            approx_top,
            (exact_top["query_id"] == approx_top["query_id"])
            & (exact_top["match_id"] == approx_top["am"]),
            "left",
        )
        .groupBy(exact_top["query_id"])
        .agg(
            F.count("am").cast("bigint").alias("n_hits"),
            (F.count("am") / F.lit(5.0)).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "q212_wire_key_census",
    category="json",
    oracle="""
WITH kv AS (
  SELECT props, unnest(json_keys(props)) AS k FROM events
)
SELECT k AS key,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT json_extract_string(props, '$.' || k)) AS BIGINT)
         AS n_distinct_values
FROM kv GROUP BY k ORDER BY key
""",
)
def q212_wire_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIRE-schema drift census: which JSON keys actually appear on
    the wire, how often, and with how many distinct values — the
    dynamic-schema counterpart of q188's on-disk parquet drift audit,
    and the first thing to run when a producer 'just adds a field'
    (the reference's consumer tolerates unknown keys silently,
    consumer.cpp:124-131 — this makes that drift observable). The
    payload parses ONCE into map<string,string> and explodes
    executor-side; one map-side-combinable shuffle on key. At 100 TB
    the key cardinality (tens), not the row count, sizes the result."""
    ev = load_table(spark, "events", sf_dir)
    kv = ev.select(
        F.explode(F.from_json(F.col("props"), "map<string,string>")).alias("key", "v")
    )
    return (
        kv.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_distinct(F.col("v")).cast("bigint").alias("n_distinct_values"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Round-4 additions: runtime-filter joins, time-decay scoring, Pareto
# skyline, and consistent-hash placement — four operator families a
# 100 TB curation warehouse leans on that none of q1-q260 covered.
# ---------------------------------------------------------------------------

# Bloom geometry lives in operators/filters.py (bloom_bitmap /
# bloom_contains): deterministic prime-field double hashing so the
# DuckDB oracle replays EXACT candidacy — even the false-positive
# count hash-checks rather than being boolean-audited.


@register(
    "q261_bloom_semijoin",
    category="join",
    oracle="""
WITH keys AS (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_nationkey < 5
),
build_pos AS (
  SELECT DISTINCT ((a % 8192) + i * ((a % 8191) + 1)) % 8192 AS p
  FROM (SELECT ((c_custkey % 2147483648) * 2654435761) % 4294967291 AS a
        FROM keys),
       range(5) r(i)
),
probe AS (
  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
         ((a % 8192) + i * ((a % 8191) + 1)) % 8192 AS p
  FROM (SELECT *, ((o_custkey % 2147483648) * 2654435761) % 4294967291 AS a
        FROM orders),
       range(5) r(i)
),
cand AS (
  SELECT o_orderkey, any_value(o_custkey) AS o_custkey,
         any_value(o_orderpriority) AS o_orderpriority,
         any_value(o_totalprice) AS o_totalprice
  FROM probe LEFT JOIN build_pos ON probe.p = build_pos.p
  GROUP BY o_orderkey
  HAVING count(*) FILTER (WHERE build_pos.p IS NULL) = 0
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(count(*) FILTER (WHERE k.c_custkey IS NOT NULL) AS BIGINT) AS n_matches,
       CAST(count(*) FILTER (WHERE k.c_custkey IS NULL) AS BIGINT) AS n_false_positives,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     FILTER (WHERE k.c_custkey IS NOT NULL), 0) AS BIGINT)
         AS match_revenue_cents
FROM cand LEFT JOIN keys k ON cand.o_custkey = k.c_custkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q261_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join: compress the selective build
    side (BUILDING-segment customers of 5 nations) into an 8192-bit
    Bloom bitmap, broadcast the BITMAP (1 KiB — not the keys), prune
    the probe scan map-side, and only join the survivors; emitted per
    priority: candidates, true matches, false positives, and exact
    match revenue. This is the explicit form of Spark's runtime
    row-level filtering (spark.sql.optimizer.runtime.bloomFilter.*):
    at 100 TB the probe side never shuffles non-candidates — the 1 KiB
    bitmap replaces shipping ~all probe rows to the join. The bitmap
    is 128 longs built with one tiny shuffle (positions -> 64-bit
    words via bit_or) and carried as a broadcast map<word,mask>; the
    5 probe tests are pure JVM map lookups. Deterministic integer
    hashing lets the oracle replay exact candidacy, so even the
    false-positive COUNT hash-checks. Reference analog: the reference
    filters per-record with a fixed predicate before publishing
    (src/modules/dd/producer.c:214-231); this is the distributed
    equivalent where the predicate itself is a compressed set."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    keys = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") < 5)
    ).select("c_custkey")

    # build: key -> 5 bit positions -> 64-bit words -> one-row map
    bloom = bloom_bitmap(keys, "c_custkey")
    cand = (
        orders.join(F.broadcast(bloom))
        .filter(bloom_contains(F.col("bloom"), F.col("o_custkey")))
        .drop("bloom")
    )
    hit = cand.join(F.broadcast(keys), cand.o_custkey == keys.c_custkey, "left")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return (
        hit.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.col("c_custkey").isNotNull().cast("bigint")).cast("bigint").alias("n_matches"),
            F.sum(F.col("c_custkey").isNull().cast("bigint")).cast("bigint").alias("n_false_positives"),
            F.sum(F.when(F.col("c_custkey").isNotNull(), cents).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("match_revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q262_decayed_engagement",
    category="aggregation",
    oracle="""
WITH m AS (SELECT max(ts) AS t_ref FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value * power(0.5,
           ((epoch_us(t_ref) - epoch_us(ts)) / 86400000000.0) / 7.0)), 3)
         AS decayed_score
FROM events, m
GROUP BY user_id
ORDER BY user_id
""",
)
def q262_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score (half-life 7 days,
    anchored at the corpus max event time): the freshness-weighted
    counter behind 'recent activity' ranking and decayed heavy
    hitters. Two scans: a 1-row max(ts) broadcast, then one groupBy
    whose decay weight is computed per-row from the broadcast anchor —
    so the score is a plain partial-aggregable sum (map-side combine,
    one shuffle on user_id); no window, no state. At 100 TB this is
    the pattern that replaces 'recompute counters nightly': the decayed
    sum folds any two partial sums correctly because the anchor is
    fixed before aggregation. Epochs are taken in MICROseconds on both
    engines (unix_micros vs epoch_us) so sub-second event times cannot
    desynchronize the weights; the float sum is rounded to 3 dp on
    both sides per the suite's float-determinism convention.
    Reference analog: the reference's consumer keeps a last-N running
    mean with equal weights (src/modules/dd/consumer.cpp:241-268);
    this is the time-weighted generalization."""
    ev = load_table(spark, "events", sf_dir)
    anchor = ev.agg(F.max("ts").alias("t_ref"))
    em = F.unix_micros(F.col("ts").cast("timestamp"))
    rm = F.unix_micros(F.col("t_ref").cast("timestamp"))
    w = F.pow(F.lit(0.5), ((rm - em) / F.lit(86400000000.0)) / F.lit(7.0))
    return (
        ev.join(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value") * w), 3).alias("decayed_score"),
        )
        .orderBy("user_id")
    )


@register(
    "q263_supplier_skyline",
    category="analytics",
    oracle="""
WITH s AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
           AS revenue_cents,
         max(date_diff('day', o_orderdate, l_shipdate)) AS worst_lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
)
SELECT s1.l_suppkey, CAST(s1.revenue_cents AS BIGINT) AS revenue_cents,
       CAST(s1.worst_lag_days AS BIGINT) AS worst_lag_days
FROM s s1
WHERE NOT EXISTS (
  SELECT 1 FROM s s2
  WHERE s2.revenue_cents >= s1.revenue_cents
    AND s2.worst_lag_days <= s1.worst_lag_days
    AND (s2.revenue_cents > s1.revenue_cents
         OR s2.worst_lag_days < s1.worst_lag_days)
)
ORDER BY s1.worst_lag_days, s1.l_suppkey
""",
)
def q263_supplier_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of suppliers: maximize revenue, minimize worst
    ship lag (days between order date and latest line shipment) —
    the non-dominated set no single ORDER BY can produce. The oracle
    is the textbook O(n^2) NOT EXISTS; the Spark plan exploits that a
    2-D skyline is a monotone frontier: group the supplier aggregate
    by the BOUNDED lag-day domain (max revenue per lag value — a
    few hundred rows regardless of corpus size), take a running max
    over that domain table ordered by lag, and keep the lag values
    whose best revenue strictly exceeds every smaller lag's best.
    Suppliers are then recovered with a broadcast join against the
    frontier points. The only global window runs over the lag DOMAIN
    (bounded by the calendar, like q245's counting ranks), never the
    supplier table; the heavy work is the lineitem-orders shuffle
    join plus one supplier-keyed aggregation, both map-side
    combinable. Tie semantics match the oracle: identical (revenue,
    lag) points do not dominate each other, so co-located suppliers
    all surface."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "bigint"
    )
    aggs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.max(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")))
            .cast("bigint")
            .alias("worst_lag_days"),
        )
    )
    return (
        pareto_frontier_2d(aggs, "revenue_cents", "worst_lag_days")
        .select("l_suppkey", "revenue_cents", "worst_lag_days")
        .orderBy("worst_lag_days", "l_suppkey")
    )


# Rendezvous (HRW) constants for q264: fold the id into a prime field,
# mix with the Knuth constant, reduce by a large prime. Pure integer
# arithmetic so both engines compute identical scores.
_HRW_FOLD = 1000003
_HRW_MIX = 2654435761
_HRW_MOD = 999999937


def _hrw_scores(doc_id, n_shards: int):
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda s: (
            (((doc_id % _HRW_FOLD) * 31 + s.cast("long") * 17 + 7) % _HRW_FOLD)
            * _HRW_MIX
        )
        % _HRW_MOD,
    )


def _duck_hrw(n_shards: int) -> str:
    ids = ", ".join(str(i) for i in range(n_shards))
    return (
        f"list_transform([{ids}], s -> "
        f"((((doc_id % {_HRW_FOLD}) * 31 + s * 17 + 7) % {_HRW_FOLD})"
        f" * {_HRW_MIX}) % {_HRW_MOD})"
    )


@register(
    "q264_rendezvous_shards",
    category="layout",
    oracle=f"""
WITH assign AS (
  SELECT doc_id,
         list_indexof(l8, list_aggregate(l8, 'max')) - 1 AS shard8,
         list_indexof(l9, list_aggregate(l9, 'max')) - 1 AS shard9
  FROM (SELECT doc_id, {_duck_hrw(8)} AS l8, {_duck_hrw(9)} AS l9
        FROM documents)
)
SELECT CAST(shard8 AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE shard9 != shard8) AS BIGINT) AS n_moved_out,
       count(*) FILTER (WHERE shard9 != shard8)
         = count(*) FILTER (WHERE shard9 != shard8 AND shard9 = 8)
         AS moves_only_to_new
FROM assign
GROUP BY shard8
ORDER BY shard
""",
)
def q264_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard placement audit:
    assign every document to argmax_s h(doc, s) for 8 shards, then
    re-assign for 9 and measure churn. HRW's minimal-disruption
    property — growing the cluster moves ONLY documents whose new
    argmax IS the new shard (~1/9 of the corpus), never between old
    shards — is emitted per shard as moves_only_to_new (computed,
    not asserted, on both engines). The assignment is a pure
    projection (an 8-lane integer hash array + array_position of the
    max — no shuffle, no lookup table), so at 100 TB placement costs
    one map pass; the audit's only shuffle is the 8-key groupBy.
    Deterministic prime-field hashing lets DuckDB replay identical
    scores, so per-shard counts and churn hash-check exactly. This is
    the layout primitive behind consistent bucket-store writes (the
    q161/q169 storage family) when the shard count must evolve
    without global reshuffles."""
    docs = load_table(spark, "documents", sf_dir)

    def shard_of(n):
        arr = _hrw_scores(F.col("doc_id"), n)
        return F.array_position(arr, F.array_max(arr)) - 1

    assign = docs.select(
        shard_of(8).alias("shard8"), shard_of(9).alias("shard9")
    )
    moved = (F.col("shard9") != F.col("shard8")).cast("bigint")
    moved_new = ((F.col("shard9") != F.col("shard8")) & (F.col("shard9") == 8)).cast(
        "bigint"
    )
    return (
        assign.groupBy(F.col("shard8").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(moved).cast("bigint").alias("n_moved_out"),
            (F.sum(moved) == F.sum(moved_new)).alias("moves_only_to_new"),
        )
        .orderBy("shard")
    )


@register(
    "q268_join_view_maintenance",
    category="cdc",
    oracle="""
WITH a0 AS (SELECT * FROM orders   WHERE o_orderkey % 10 != 0),
da AS (SELECT * FROM orders   WHERE o_orderkey % 10  = 0),
b0 AS (SELECT * FROM customer WHERE c_custkey  % 7  != 0),
db AS (SELECT * FROM customer WHERE c_custkey  % 7   = 0),
cells AS (
  SELECT c_nationkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, 0 AS part
  FROM a0 JOIN b0 ON o_custkey = c_custkey
  UNION ALL
  SELECT c_nationkey, CAST(round(o_totalprice * 100, 0) AS BIGINT), 1
  FROM da JOIN b0 ON o_custkey = c_custkey
  UNION ALL
  SELECT c_nationkey, CAST(round(o_totalprice * 100, 0) AS BIGINT), 2
  FROM a0 JOIN db ON o_custkey = c_custkey
  UNION ALL
  SELECT c_nationkey, CAST(round(o_totalprice * 100, 0) AS BIGINT), 3
  FROM da JOIN db ON o_custkey = c_custkey
),
incr AS (
  SELECT c_nationkey,
         CAST(sum(cents) AS BIGINT) AS incr_cents,
         CAST(sum(cents) FILTER (WHERE part != 0) AS BIGINT) AS delta_cents,
         CAST(count(*) AS BIGINT) AS incr_rows
  FROM cells GROUP BY c_nationkey
),
full_v AS (
  SELECT c_nationkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS full_cents,
         CAST(count(*) AS BIGINT) AS full_rows
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey
)
SELECT CAST(i.c_nationkey AS BIGINT) AS nationkey,
       i.incr_cents, i.delta_cents, i.incr_rows,
       i.incr_cents = f.full_cents AND i.incr_rows = f.full_rows AS ivm_exact
FROM incr i JOIN full_v f ON i.c_nationkey = f.c_nationkey
ORDER BY nationkey
""",
)
def q268_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the delta-join rule:
    Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB) — the companion to q194's
    aggregate IVM. A per-nation revenue view over orders⋈customer is
    maintained from an old snapshot (A₀⋈B₀, which a real system has
    materialized) plus the three delta joins, whose cost scales with
    |Δ| — here orders keyed %10 and customers keyed %7 simulate the
    day's inserts deterministically. The maintained view is audited
    bit-for-bit against the full recompute (ivm_exact — computed, not
    asserted, on both engines), and delta_cents isolates what the
    incremental pass actually added. At 100 TB this is the difference
    between joining yesterday's 100 TB again and joining today's
    0.1 TB delta: every join here hashes on the same custkey, so a
    co-partitioned (bucketed) layout runs all four joins with zero
    extra exchanges, and the per-nation sums merge distributively.
    Reference analog: the reference's consumer updates its running
    aggregate per tick instead of rescanning history
    (src/modules/dd/consumer.cpp:241-268)."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    # the four delta-join cells PARTITION the single orders⋈customer
    # join by (ΔA?, ΔB?) — so run ONE flagged join and label each row
    # with its cell, instead of r5's four separate joins that scanned
    # orders and customer 5x each. (A real IVM system joins only the
    # delta slices, but the cell algebra — and therefore this audit —
    # is identical; the flags simulate the slice boundaries.) The full
    # recompute below stays an INDEPENDENT second join on purpose:
    # deriving it from the same cells would make ivm_exact a tautology.
    ao = orders.withColumn("_da", F.col("o_orderkey") % 10 == 0)
    bo = cust.withColumn("_db", F.col("c_custkey") % 7 == 0)
    cells = ao.join(bo, ao.o_custkey == bo.c_custkey).select(
        F.col("c_nationkey").alias("nk"),
        cents.alias("cents"),
        F.when(~F.col("_da") & ~F.col("_db"), 0)
        .when(F.col("_da") & ~F.col("_db"), 1)
        .when(~F.col("_da") & F.col("_db"), 2)
        .otherwise(3)
        .alias("part"),
    )
    incr = cells.groupBy("nk").agg(
        F.sum("cents").cast("bigint").alias("incr_cents"),
        F.sum(F.when(F.col("part") != 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("delta_cents"),
        F.count(F.lit(1)).cast("bigint").alias("incr_rows"),
    )
    full_v = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(cents).cast("bigint").alias("full_cents"),
            F.count(F.lit(1)).cast("bigint").alias("full_rows"),
        )
    )
    return (
        incr.join(full_v, "nk")
        .select(
            F.col("nk").cast("bigint").alias("nationkey"),
            "incr_cents",
            "delta_cents",
            "incr_rows",
            (
                (F.col("incr_cents") == F.col("full_cents"))
                & (F.col("incr_rows") == F.col("full_rows"))
            ).alias("ivm_exact"),
        )
        .orderBy("nationkey")
    )


@register(
    "q270_hll_rollup",
    category="sketch",
    # The sketch estimates are engine-specific (DataSketches HLL vs
    # DuckDB's approx machinery hash differently), so — exactly like
    # q62/q192 — the query emits them only through bound booleans that
    # the HLL accuracy guarantee makes TRUE, alongside exact counts
    # that hash-check. The booleans ARE partitioning-invariant because
    # HLL registers are per-value maxima: set-determined,
    # insertion-order independent.
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
       TRUE AS union_estimate_ok
FROM customer
GROUP BY c_nationkey
ORDER BY nationkey
""",
)
def q270_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup with DataSketches HLL: sketch
    each (nation, segment) cell ONCE, then roll the nation total up by
    UNIONING the cell sketches — never re-touching base rows. This is
    how a 100 TB warehouse serves distinct-counts at every hierarchy
    level from one scan: cell sketches are a few KB, unions are
    associative and lossless for HLL (register-wise max), and adding a
    rollup level costs a sketch-sized shuffle, not a data-sized one
    (contrast q62's one-shot approx_count_distinct, which answers one
    level). The union estimate is audited per nation against the
    exact count (union_estimate_ok: within 5% — 3x the lgK=12 RSE);
    the boolean is partitioning-invariant because HLL registers are
    per-value maxima, so the sketch is a pure function of the SET.
    Exercises hll_sketch_agg / hll_union_agg / hll_sketch_estimate
    (§2.8 surface)."""
    cust = load_table(spark, "customer", sf_dir)
    cells = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
    )
    nations = cells.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("est"),
    )
    exact = cust.groupBy("c_nationkey").agg(
        F.count_distinct("c_custkey").cast("bigint").alias("exact_customers")
    )
    return (
        nations.join(exact, "c_nationkey")
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "n_segments",
            "exact_customers",
            (
                F.abs(F.col("est") - F.col("exact_customers"))
                <= F.greatest(F.col("exact_customers") * 0.05, F.lit(2.0))
            ).alias("union_estimate_ok"),
        )
        .orderBy("nationkey")
    )


@register(
    "q277_kmv_intersection",
    category="sketch",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT event_type AS s,
         user_id * 100000 + epoch_us(ts) // 86400000000 AS e
  FROM events WHERE event_type IN ('click', 'purchase')
),
hashed AS (
  SELECT DISTINCT s, ((e % 2147483648) * 2654435761) % 2147483648 AS h FROM pairs
),
sk AS (
  SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM hashed
),
sketches AS (SELECT s, h FROM sk WHERE rn <= 64),
uni AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM (SELECT DISTINCT h FROM sketches)
),
kset AS (SELECT h FROM uni WHERE rn <= 64),
kagg AS (
  SELECT CAST(max(h) AS BIGINT) AS h_k, CAST(count(*) AS BIGINT) AS k_used
  FROM kset
),
rho AS (
  SELECT CAST(count(*) AS BIGINT) AS rho_num FROM kset k
  WHERE EXISTS (SELECT 1 FROM sketches a WHERE a.s = 'click' AND a.h = k.h)
    AND EXISTS (SELECT 1 FROM sketches b WHERE b.s = 'purchase' AND b.h = k.h)
),
exa AS (
  SELECT CAST(sum(CASE WHEN n_s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS inter_exact,
         CAST(count(*) AS BIGINT) AS union_exact
  FROM (SELECT e, count(DISTINCT s) AS n_s FROM pairs GROUP BY e)
),
counts AS (
  SELECT CAST(count(CASE WHEN s = 'click' THEN 1 END) AS BIGINT) AS n_a,
         CAST(count(CASE WHEN s = 'purchase' THEN 1 END) AS BIGINT) AS n_b
  FROM pairs
),
est AS (
  SELECT c.n_a, c.n_b, x.inter_exact, x.union_exact, k.h_k, k.k_used, r.rho_num,
         CASE WHEN k.k_used < 64 THEN CAST(k.k_used AS DOUBLE)
              ELSE (64 - 1) * CAST(2147483648 AS DOUBLE) / k.h_k
         END AS est_union
  FROM counts c, exa x, kagg k, rho r
)
SELECT n_a, n_b, inter_exact, union_exact, h_k, k_used, rho_num, est_union,
       (CAST(rho_num AS DOUBLE) / k_used) * est_union AS est_intersection
FROM est
""",
)
def q277_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch INTERSECTION (Beyer et al., SIGMOD'07): estimate the
    overlap between two behavioral sets — (user, day) pairs with a
    click vs with a purchase — from two 64-value KMV sketches alone.
    The estimator is rho = |K ∩ A_sk ∩ B_sk| / k over K = the k
    smallest of the sketch UNION (itself a valid KMV of A ∪ B), so
    est_|A∩B| = rho * est_|A∪B|. This is the sketch algebra that lets
    a 100 TB pipeline answer "how much does this crawl overlap that
    one" from per-shard kilobyte summaries without ever co-shuffling
    raw keys: each set's sketch is a per-group top-k (map-side
    combinable; at scale a partial-sort per partition then k-merge),
    and everything downstream joins 64-row frames. The exact
    intersection/union audit the estimate. Hashing is the same
    Knuth multiplicative hash both engines compute exactly in int64;
    e is reduced mod 2^31 BEFORE the multiply — identical values by
    modular arithmetic, and the product stays < 5.7e18 < 2^63 for any
    key magnitude (unreduced, sf10's key-shifted user_ids overflowed —
    caught by the second-decade stress run)."""
    ev = load_table(spark, "events", sf_dir)
    day = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000)).cast(
        "bigint"
    )
    # the distinct (set, key) base feeds the sketch build AND the two
    # exact audits — pinned, so events is scanned once (the r5 plan
    # re-read it 6x and re-ran the distinct per consumer); the 128-row
    # sketch frame is pinned too (3 consumers: union-K, A-side, B-side)
    pairs = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("event_type").alias("s"),
            (F.col("user_id") * 100000 + day).alias("e"),
        )
        .distinct()
        .transform(pin)
    )
    hashed = pairs.select(
        "s", (((F.col("e") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(2147483648)).alias("h")
    ).distinct()
    wg = Window.partitionBy("s").orderBy("h")
    sketches = (
        hashed.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= 64)
        .select("s", "h")
        .transform(pin)
    )
    wu = Window.orderBy("h")
    kset = (
        sketches.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= 64)
        .select("h")
    )
    kagg = kset.agg(
        F.max("h").cast("bigint").alias("h_k"),
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
    )
    a_sk = sketches.filter(F.col("s") == "click").select("h")
    b_sk = sketches.filter(F.col("s") == "purchase").select("h")
    rho = (
        kset.join(a_sk, "h", "left_semi")
        .join(b_sk, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rho_num"))
    )
    exa = (
        pairs.groupBy("e")
        .agg(F.count_distinct("s").alias("n_s"))
        .agg(
            F.sum(F.when(F.col("n_s") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("inter_exact"),
            F.count(F.lit(1)).cast("bigint").alias("union_exact"),
        )
    )
    counts = pairs.agg(
        F.count(F.when(F.col("s") == "click", 1)).cast("bigint").alias("n_a"),
        F.count(F.when(F.col("s") == "purchase", 1)).cast("bigint").alias("n_b"),
    )
    est_union = F.when(F.col("k_used") < 64, F.col("k_used").cast("double")).otherwise(
        (64 - 1) * F.lit(2147483648.0) / F.col("h_k")
    )
    est = (
        counts.crossJoin(F.broadcast(exa))
        .crossJoin(F.broadcast(kagg))
        .crossJoin(F.broadcast(rho))
        .withColumn("est_union", est_union)
    )
    return est.select(
        "n_a",
        "n_b",
        "inter_exact",
        "union_exact",
        "h_k",
        "k_used",
        "rho_num",
        "est_union",
        ((F.col("rho_num").cast("double") / F.col("k_used")) * F.col("est_union")).alias(
            "est_intersection"
        ),
    )


@register(
    "q285_exact_auc",
    category="profile",
    oracle="""
WITH s AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
),
g AS (SELECT c, count(*) AS n, sum(pos) AS p FROM s GROUP BY c),
r AS (
  SELECT c, n, p,
         coalesce(sum(n) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM g
),
agg AS (
  SELECT CAST(sum(p * (2 * cum_before + n + 1)) AS BIGINT) AS r2,
         CAST(sum(p) AS BIGINT) AS npos,
         CAST(sum(n) - sum(p) AS BIGINT) AS nneg
  FROM r
)
SELECT npos, nneg,
       CAST(r2 - npos * (npos + 1) AS BIGINT) AS u2,
       CAST(r2 - npos * (npos + 1) AS DOUBLE) / (2.0 * npos * nneg) AS auc
FROM agg
""",
)
def q285_exact_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed ROC-AUC — the model-evaluation operator, via
    the Mann-Whitney rank-sum identity AUC = U / (n+ * n-) with proper
    midrank tie handling (scored datasets are full of ties; naive
    rank() biases AUC). Everything is integer: scores collapse to a
    bounded domain (cents), per-score (count, positives) is one
    combiner groupBy, midranks come from a cumulative count over the
    DOMAIN (the distributed two-pass prefix scan of
    operators/prefix.py — never a single-partition window over data),
    and 2x-scaled midranks keep the half-integer midpoints exact in
    int64. The only float is the final one-op division of exact
    integers. At 100 TB: sorting-free, two combiner shuffles plus the
    O(distinct-scores) scan — this is how AUC is computed over
    billions of rows without ranking them. Self-check: u2 is the
    tie-corrected rank-sum statistic, recomputable from npos/nneg/auc."""
    from sensor_data_pipeline_spark.operators.prefix import global_running_sum

    ev = load_table(spark, "events", sf_dir)
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("c").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p")
    )
    r = global_running_sum(g, "c", "n", out_col="cum").withColumn(
        "cum_before", F.col("cum") - F.col("n")
    )
    agg = r.agg(
        F.sum(F.col("p") * (2 * F.col("cum_before") + F.col("n") + 1))
        .cast("bigint")
        .alias("r2"),
        F.sum("p").cast("bigint").alias("npos"),
        (F.sum("n") - F.sum("p")).cast("bigint").alias("nneg"),
    )
    u2 = F.col("r2") - F.col("npos") * (F.col("npos") + 1)
    return agg.select(
        "npos",
        "nneg",
        u2.cast("bigint").alias("u2"),
        (u2.cast("double") / (2.0 * F.col("npos") * F.col("nneg"))).alias("auc"),
    )


@register(
    "q286_calibration_bins",
    category="profile",
    oracle="""
WITH s AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS y
  FROM events
),
mx AS (SELECT max(c) AS cmax FROM s),
b AS (
  SELECT least(9, s.c * 10 // (m.cmax + 1)) AS bin, s.c, s.y, m.cmax
  FROM s, mx m
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS sum_pred_scaled,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(sum((c - cmax * y) * (c - cmax * y)) AS BIGINT) AS brier_num,
       CAST(min(cmax) AS BIGINT) AS cmax,
       CAST(sum(y) AS DOUBLE) / count(*) AS observed_rate,
       CAST(sum(c) AS DOUBLE) / (count(*) * min(cmax)) AS mean_pred
FROM b GROUP BY bin ORDER BY bin
""",
)
def q286_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability bins — q285's companion model-eval
    operator: scores (normalized by the observed max, so p = c/cmax)
    bucket into 10 fixed-width bins, each reporting predicted mass vs
    observed outcome rate plus the exact Brier numerator
    sum((c - cmax*y)^2) — the inputs of the Murphy reliability/
    resolution/uncertainty decomposition, all in cross-multiplied
    int64 (squares bounded ~3e9 per row, ~3e16 summed at the second
    replica decade). The only floats are two final divisions of exact
    integers. Plan: a 1-row max broadcast and ONE combiner groupBy
    over 10 keys — calibration over any corpus size costs one
    map-side-combinable shuffle of 10-row summaries, and bins stay
    mergeable across shards/days by construction."""
    ev = load_table(spark, "events", sf_dir)
    s = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("bigint").alias("y"),
    )
    mx = s.agg(F.max("c").alias("cmax"))
    b = s.crossJoin(F.broadcast(mx)).select(
        F.least(F.lit(9).cast("bigint"), F.expr("c * 10 div (cmax + 1)")).alias("bin"),
        "c",
        "y",
        "cmax",
    )
    sq = (F.col("c") - F.col("cmax") * F.col("y")) * (F.col("c") - F.col("cmax") * F.col("y"))
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("sum_pred_scaled"),
            F.sum("y").cast("bigint").alias("sum_y"),
            F.sum(sq).cast("bigint").alias("brier_num"),
            F.min("cmax").cast("bigint").alias("cmax"),
        )
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n",
            "sum_pred_scaled",
            "sum_y",
            "brier_num",
            "cmax",
            (F.col("sum_y").cast("double") / F.col("n")).alias("observed_rate"),
            (F.col("sum_pred_scaled").cast("double") / (F.col("n") * F.col("cmax"))).alias(
                "mean_pred"
            ),
        )
        .orderBy("bin")
    )
