"""Behavioral analytics over the event stream: ordered funnels and
sweep-line concurrency — product-analytics queries built so the
sequential logic (stage machines, running sweeps) never becomes a
global sort or a single-partition window.

q265 folds per-user stage machines JVM-side (one user_id-keyed
shuffle); q266 runs the sweep-line running sum on the distributed
two-pass scan from operators/prefix.py. (Cohort retention already
lives at q109; this module holds the behavioral queries that need
ORDERED logic.)

Reference analog: the reference's consumer derives per-device session
facts from an ordered reading stream one record at a time
(src/modules/dd/consumer.cpp:241-268); these are the multi-user
generalizations where the ordered fold happens per key in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.operators.prefix import global_running_sum
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

_SESSION_US = 1800 * 1000000  # 30-minute session interval


@register(
    "q265_funnel_conversion",
    category="analytics",
    oracle="""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_viewed,
       CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_clicked_after_view,
       CAST((SELECT count(*) FROM t3) AS BIGINT) AS n_purchased_after_click,
       CAST((SELECT count(*) FROM t3
             WHERE t3.t3 - (SELECT t1.t1 FROM t1 WHERE t1.user_id = t3.user_id)
                   <= INTERVAL 48 HOUR) AS BIGINT) AS n_converted_48h,
       CAST((SELECT sum(epoch_us(t2.t2) - epoch_us(t1.t1))
             FROM t2 JOIN t1 ON t2.user_id = t1.user_id) AS BIGINT)
         AS total_click_lag_us,
       CAST((SELECT sum(epoch_us(t3.t3) - epoch_us(t2.t2))
             FROM t3 JOIN t2 ON t3.user_id = t2.user_id) AS BIGINT)
         AS total_purchase_lag_us
""",
)
def q265_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: how many users reach
    each stage IN ORDER (a later click only counts after the first
    view, a purchase only after that click), plus full conversions
    inside a 48-hour window (sized to split this fixture's completion
    distribution near its first quartile so the count discriminates)
    and exact stage-lag totals in microseconds — integer sums that are
    sensitive to the precise chaining even when stage counts saturate.
    The oracle chains three correlated min()
    scans; the Spark plan does ONE shuffle: per-user events fold
    JVM-side through a (t1,t2,t3) state struct over the time-sorted
    activity array — the stage-machine equivalent of q129's sequence
    mining, bounded by one user's event count, never a global sort.
    At 100 TB funnels over billions of users cost exactly one keyed
    exchange; adding stages extends the struct, not the shuffle count.
    Strict '>' stage transitions match the oracle's `e.ts > t1.t1`
    so same-microsecond events cannot double-fire a stage."""
    ev = load_table(spark, "events", sf_dir)
    seq = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs"))
    )
    zero = F.struct(
        F.lit(None).cast("timestamp_ntz").alias("t1"),
        F.lit(None).cast("timestamp_ntz").alias("t2"),
        F.lit(None).cast("timestamp_ntz").alias("t3"),
    )
    state = F.aggregate(
        F.col("evs"),
        zero,
        lambda acc, e: F.struct(
            F.when(
                acc["t1"].isNull() & (e["event_type"] == "view"), e["ts"]
            )
            .otherwise(acc["t1"])
            .alias("t1"),
            F.when(
                acc["t2"].isNull()
                & (e["event_type"] == "click")
                & acc["t1"].isNotNull()
                & (e["ts"] > acc["t1"]),
                e["ts"],
            )
            .otherwise(acc["t2"])
            .alias("t2"),
            F.when(
                acc["t3"].isNull()
                & (e["event_type"] == "purchase")
                & acc["t2"].isNotNull()
                & (e["ts"] > acc["t2"]),
                e["ts"],
            )
            .otherwise(acc["t3"])
            .alias("t3"),
        ),
    )
    st = seq.select(state.alias("s"))
    win_us = F.lit(48 * 3600 * 1000000)
    return st.agg(
        F.sum(F.col("s.t1").isNotNull().cast("bigint")).cast("bigint").alias("n_viewed"),
        F.sum(F.col("s.t2").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_clicked_after_view"),
        F.sum(F.col("s.t3").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_purchased_after_click"),
        F.sum(
            (
                F.col("s.t3").isNotNull()
                & (
                    F.unix_micros(F.col("s.t3").cast("timestamp"))
                    - F.unix_micros(F.col("s.t1").cast("timestamp"))
                    <= win_us
                )
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_converted_48h"),
        # stage-lag totals: exact integer sums that are sensitive to the
        # precise chaining (a fold that picks the wrong click shifts
        # these even when the stage COUNTS stay identical)
        F.sum(
            F.unix_micros(F.col("s.t2").cast("timestamp"))
            - F.unix_micros(F.col("s.t1").cast("timestamp"))
        )
        .cast("bigint")
        .alias("total_click_lag_us"),
        F.sum(
            F.unix_micros(F.col("s.t3").cast("timestamp"))
            - F.unix_micros(F.col("s.t2").cast("timestamp"))
        )
        .cast("bigint")
        .alias("total_purchase_lag_us"),
    )


@register(
    "q266_peak_concurrency",
    category="analytics",
    oracle="""
WITH b AS (
  SELECT epoch_us(ts) * 2 + 1 AS k, 1 AS delta FROM events
  UNION ALL
  SELECT (epoch_us(ts) + 1800000000) * 2 AS k, -1 AS delta FROM events
),
g AS (SELECT k, sum(delta) AS d FROM b GROUP BY k),
r AS (SELECT k, sum(d) OVER (ORDER BY k) AS occ FROM g),
m AS (SELECT max(occ) AS peak FROM r)
SELECT CAST(m.peak AS BIGINT) AS peak_concurrency,
       CAST((SELECT min(k) FROM r WHERE occ = m.peak) // 2 AS BIGINT)
         AS first_peak_epoch_us,
       CAST((SELECT count(*) FROM g) AS BIGINT) AS n_boundaries
FROM m
""",
)
def q266_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency: treat every event as a 30-minute
    active session and find the maximum number simultaneously open
    (plus when it first happens) — the capacity-planning sweep-line
    query. The classic algorithm is inherently a GLOBAL running sum
    over time-ordered +1/-1 boundaries, i.e. exactly the single-
    partition-window trap; here it runs on the distributed two-pass
    scan (operators/prefix.py): boundaries pre-aggregate per unique
    (instant, phase) key — so the scanned stream is bounded by
    DISTINCT timestamps, not events — then range-partitioned partial
    sums get broadcast offsets. Ends sort before starts at the same
    instant (phase bit in the key), so touching sessions never
    double-count. At 100 TB: one map-side-combinable groupBy plus the
    O(partitions) offset combine — no global sort of raw events.
    first_peak_epoch_us pins WHICH boundary first reaches the peak, so
    the hash check is sensitive to sweep order, not just the max."""
    ev = load_table(spark, "events", sf_dir)
    em = F.unix_micros(F.col("ts").cast("timestamp"))
    # both boundaries of each session come from ONE scan (an inline
    # 2-element explode, executor-side) — the union-of-two-selects form
    # read events twice, and the unpinned boundary aggregate was then
    # rebuilt by the n_boundaries census for 4 physical events scans
    # per run, all hidden inside the prefix-scan pin until the round-7
    # pin_scans digest surfaced them (ADVICE r6). Pinned: the aggregate
    # is bounded by DISTINCT boundary instants, and it feeds the
    # running-sum pin build AND the census.
    boundaries = ev.select(
        F.explode(
            F.array(
                F.struct((em * 2 + 1).alias("k"), F.lit(1).alias("delta")),
                F.struct(((em + _SESSION_US) * 2).alias("k"), F.lit(-1).alias("delta")),
            )
        ).alias("b")
    ).select("b.k", "b.delta")
    g = (
        boundaries.groupBy("k")
        .agg(F.sum("delta").alias("d"))
        .transform(pin)
    )
    r = global_running_sum(g, "k", "d", out_col="occ")
    peak = r.agg(F.max("occ").alias("peak"))
    first = (
        r.join(F.broadcast(peak), F.col("occ") == F.col("peak"))
        .agg(F.min("k").alias("min_k"))
    )
    n_b = g.agg(F.count(F.lit(1)).alias("nb"))
    return (
        peak.join(F.broadcast(first)).join(F.broadcast(n_b))
        .select(
            F.col("peak").cast("bigint").alias("peak_concurrency"),
            F.expr("min_k div 2").cast("bigint").alias("first_peak_epoch_us"),
            F.col("nb").cast("bigint").alias("n_boundaries"),
        )
    )


@register(
    "q272_fifo_matching",
    category="analytics",
    oracle="""
WITH flows AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
),
ins AS (
  SELECT user_id, cents,
         sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum_in
  FROM flows WHERE event_type = 'click'
),
outs AS (
  SELECT user_id, cents,
         sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum_out
  FROM flows WHERE event_type = 'purchase'
),
pairs AS (
  SELECT i.user_id,
         least(i.cum_in, o.cum_out)
           - greatest(i.cum_in - i.cents, o.cum_out - o.cents) AS overlap
  FROM ins i JOIN outs o ON i.user_id = o.user_id
  WHERE least(i.cum_in, o.cum_out)
          - greatest(i.cum_in - i.cents, o.cum_out - o.cents) > 0
),
tot AS (
  SELECT user_id,
         CAST(coalesce(sum(cents) FILTER (WHERE event_type = 'click'), 0) AS BIGINT) AS total_in,
         CAST(coalesce(sum(cents) FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS total_out
  FROM flows GROUP BY user_id
)
SELECT t.user_id,
       t.total_in, t.total_out,
       CAST(coalesce(p.matched, 0) AS BIGINT) AS matched_cents,
       CAST(coalesce(p.n_lots, 0) AS BIGINT) AS n_matched_lots,
       coalesce(p.matched, 0) = least(t.total_in, t.total_out) AS fifo_conserved
FROM tot t LEFT JOIN (
  SELECT user_id, CAST(sum(overlap) AS BIGINT) AS matched,
         CAST(count(*) AS BIGINT) AS n_lots
  FROM pairs GROUP BY user_id
) p ON t.user_id = p.user_id
ORDER BY t.user_id
""",
)
def q272_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching — allocate each user's purchases against
    their click credits first-in-first-out (the cost-basis /
    inventory-consumption op behind FIFO accounting and quota
    metering). The classic formulation is a sequential queue; the
    relational form used here is the identity that FIFO matching of
    two ordered flows equals INTERVAL OVERLAP of their cumulative
    sums: credit lot l spans (cum_in-cents, cum_in] on the cumulative
    axis, purchase p consumes (cum_out-cents, cum_out], and the
    matched amount for (l, p) is the length of the intersection —
    nonzero for at most ins+outs-1 pairs per user, so the user-keyed
    candidate join stays linear in each user's activity. Per-user
    windows are the only ordered structure (keyed, never global), the
    join hashes on user_id, and every quantity is integer cents.
    fifo_conserved (matched == min(total_in, total_out)) is the
    conservation identity computed independently on both engines.
    Reference analog: the reference consumes readings against
    remembered per-device state in arrival order
    (src/modules/dd/consumer.cpp:241-268)."""
    ev = load_table(spark, "events", sf_dir)
    flows = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ins = (
        flows.filter(F.col("event_type") == "click")
        .withColumn("cum_in", F.sum("cents").over(w))
        .select("user_id", F.col("cents").alias("in_cents"), "cum_in")
    )
    outs = (
        flows.filter(F.col("event_type") == "purchase")
        .withColumn("cum_out", F.sum("cents").over(w))
        .select(F.col("user_id").alias("o_user"), F.col("cents").alias("out_cents"), "cum_out")
    )
    overlap = F.least(F.col("cum_in"), F.col("cum_out")) - F.greatest(
        F.col("cum_in") - F.col("in_cents"), F.col("cum_out") - F.col("out_cents")
    )
    pairs = (
        ins.join(outs, ins.user_id == outs.o_user)
        .withColumn("overlap", overlap)
        .filter(F.col("overlap") > 0)
        .groupBy("user_id")
        .agg(
            F.sum("overlap").cast("bigint").alias("matched"),
            F.count(F.lit(1)).cast("bigint").alias("n_lots"),
        )
    )
    tot = flows.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("total_in"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("total_out"),
    )
    return (
        tot.join(pairs, "user_id", "left")
        .select(
            "user_id",
            "total_in",
            "total_out",
            F.coalesce(F.col("matched"), F.lit(0)).cast("bigint").alias("matched_cents"),
            F.coalesce(F.col("n_lots"), F.lit(0)).cast("bigint").alias("n_matched_lots"),
            (
                F.coalesce(F.col("matched"), F.lit(0))
                == F.least(F.col("total_in"), F.col("total_out"))
            ).alias("fifo_conserved"),
        )
        .orderBy("user_id")
    )


@register(
    "q273_linear_interp_resample",
    category="timeseries",
    oracle="""
WITH anchors AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, day
),
spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM anchors GROUP BY user_id
),
grid AS (
  SELECT s.user_id, s.d0 + g.n AS day
  FROM spans s, LATERAL (SELECT unnest(range(0, CAST(s.d1 - s.d0 + 1 AS BIGINT))) AS n) g
),
joined AS (
  SELECT g.user_id, g.day, a.cents,
         last_value(a.cents IGNORE NULLS) OVER w_prev AS v_prev,
         last_value(CASE WHEN a.cents IS NOT NULL THEN g.day END IGNORE NULLS) OVER w_prev AS d_prev,
         first_value(a.cents IGNORE NULLS) OVER w_next AS v_next,
         first_value(CASE WHEN a.cents IS NOT NULL THEN g.day END IGNORE NULLS) OVER w_next AS d_next
  FROM grid g LEFT JOIN anchors a ON g.user_id = a.user_id AND g.day = a.day
  WINDOW w_prev AS (PARTITION BY g.user_id ORDER BY g.day ROWS UNBOUNDED PRECEDING),
         w_next AS (PARTITION BY g.user_id ORDER BY g.day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, CAST(day AS BIGINT) AS day,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
                 ELSE v_prev + CAST(floor((v_next - v_prev) * (day - d_prev)
                                          / (d_next - d_prev)) AS BIGINT)
            END AS BIGINT) AS filled_cents,
       cents IS NULL AS is_interpolated
FROM joined
ORDER BY user_id, day
""",
)
def q273_linear_interp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling onto a daily grid: each user's
    purchase-cents series is completed so every gap day carries the
    straight-line value between its surrounding anchors — the numeric
    upgrade of q100's forward-fill (which holds a stale value flat,
    biasing downstream rates; interpolation is what sensor resampling
    and feature alignment actually want). Per-user grids come from an
    exploded day sequence (bounded by the calendar span, generated
    executor-side); prev/next anchors are IGNORE-NULLS frame windows
    KEYED by user — the 100 TB shape is one user-keyed shuffle and two
    frame passes, no global sort, no as-of join. The interpolated
    value floors an exact integer ratio, and floor() (not DIV, which
    truncates toward zero) keeps Spark and DuckDB identical when the
    series slopes downward (negative numerator)."""
    ev = load_table(spark, "events", sf_dir)
    anchors = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000))
            .cast("bigint")
            .alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("bigint").alias("cents"))
    )
    spans = anchors.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    j = grid.join(anchors, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    anchor_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    j = (
        j.withColumn("v_prev", F.last("cents", ignorenulls=True).over(w_prev))
        .withColumn("d_prev", F.last(anchor_day, ignorenulls=True).over(w_prev))
        .withColumn("v_next", F.first("cents", ignorenulls=True).over(w_next))
        .withColumn("d_next", F.first(anchor_day, ignorenulls=True).over(w_next))
    )
    lerp = F.col("v_prev") + F.floor(
        (F.col("v_next") - F.col("v_prev"))
        * (F.col("day") - F.col("d_prev"))
        / (F.col("d_next") - F.col("d_prev"))
    ).cast("bigint")
    return j.select(
        "user_id",
        F.col("day").cast("bigint").alias("day"),
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .otherwise(lerp)
        .cast("bigint")
        .alias("filled_cents"),
        F.col("cents").isNull().alias("is_interpolated"),
    ).orderBy("user_id", "day")


@register(
    "q275_sliding_distinct_actors",
    category="analytics",
    oracle="""
WITH days AS (
  SELECT DISTINCT event_type, user_id,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM days),
wins AS (SELECT unnest(range(dmin, dmax + 1)) AS win_end FROM bounds),
hits AS (
  SELECT DISTINCT d.event_type, w.win_end, d.user_id
  FROM days d JOIN wins w
    ON d.day BETWEEN w.win_end - 6 AND w.win_end
)
SELECT event_type,
       CAST(win_end AS BIGINT) AS win_end_day,
       CAST(count(*) AS BIGINT) AS distinct_users
FROM hits
GROUP BY event_type, win_end
ORDER BY event_type, win_end
""",
)
def q275_sliding_distinct_actors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window COUNT(DISTINCT): distinct active users per
    event_type over a trailing 7-day window ending each calendar day
    — the rolling-MAU/WAU query. Distinct-over-sliding-window is the
    canonical case where naive plans explode: COUNT(DISTINCT) inside
    a window function isn't supported, and the textbook
    day-x-window range join materializes |days| x 7 rows BEFORE the
    distinct. Here each (event_type, user) contributes each covered
    window-end exactly once by construction: activity days dedupe
    first (one map-side-combinable groupBy), then a keyed lag gives
    the previous activity day and the NEW window-ends contributed at
    day d are the interval [greatest(d, prev+7), d+6] — the set
    difference of trailing intervals, so the union over a user's days
    has no duplicates and the final count is a plain count, never a
    distinct. Explode fan-out is bounded by 7; the only shuffles are
    the dedupe and the (event_type, win_end) count, both partial-agg
    combinable — at 100 TB this is two combiner shuffles, no
    data-sized distinct state. Windows are clipped to the observed
    calendar (broadcast 1-row bounds)."""
    ev = load_table(spark, "events", sf_dir)
    day = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000)).cast(
        "bigint"
    )
    days = ev.select("event_type", "user_id", day.alias("day")).distinct()
    w = Window.partitionBy("event_type", "user_id").orderBy("day")
    lagged = days.withColumn(
        "start",
        F.greatest(F.col("day"), F.coalesce(F.lag("day").over(w) + 7, F.col("day"))),
    )
    contrib = lagged.withColumn(
        "win_end", F.explode(F.sequence(F.col("start"), F.col("day") + 6))
    )
    bounds = days.agg(F.max("day").alias("dmax"))
    return (
        contrib.join(F.broadcast(bounds), F.col("win_end") <= F.col("dmax"))
        .groupBy("event_type", "win_end")
        .agg(F.count(F.lit(1)).cast("bigint").alias("distinct_users"))
        .select(
            "event_type",
            F.col("win_end").cast("bigint").alias("win_end_day"),
            "distinct_users",
        )
        .orderBy("event_type", "win_end_day")
    )


@register(
    "q276_cusum_shift_detector",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY event_type, day
),
ref AS (
  SELECT event_type, day, cents,
         sum(cents) OVER (PARTITION BY event_type) AS tot,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
),
dev AS (
  SELECT event_type, day, cents,
         tot // n_days AS allowance,
         cents - tot // n_days AS d
  FROM ref
),
psum AS (
  SELECT event_type, day, cents, allowance,
         sum(d) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS p
  FROM dev
),
cum AS (
  SELECT event_type, day, cents, allowance, p,
         least(CAST(0 AS BIGINT),
               min(p) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING)) AS run_min
  FROM psum
)
SELECT event_type,
       CAST(day AS BIGINT) AS day,
       cents,
       CAST(p - run_min AS BIGINT) AS cusum_cents,
       p - run_min > allowance AS alarm
FROM cum
ORDER BY event_type, day
""",
)
def q276_cusum_shift_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on each event type's daily
    revenue series: S_t = max(0, S_{t-1} + (x_t - k)) with allowance
    k = floor(series mean), alarming when S_t exceeds k. The textbook
    recursion (a clamp inside the accumulation) looks like it needs a
    per-row sequential fold; it is actually window-expressible via
    the reflection identity S_t = P_t - min(0, min_{j<=t} P_j) where
    P is the plain cumulative sum of deviations — the same identity
    that prices lookback options. So the whole detector is two frame
    passes over an event_type-keyed window: no recursion, no UDF, no
    applyInPandas, and at 100 TB it scales as one combiner groupBy
    (daily rollup) plus keyed windows whose partitions are series
    lengths, never raw-event sized. Everything is integer cents;
    the allowance divides with Spark div / DuckDB integer //, which
    share truncate-toward-zero semantics for any sign of the total
    (verified on negatives; only float-context division differs
    between the engines)."""
    ev = load_table(spark, "events", sf_dir)
    day = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000)).cast(
        "bigint"
    )
    daily = (
        ev.groupBy("event_type", day.alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wk = Window.partitionBy("event_type")
    ref = daily.withColumn("tot", F.sum("cents").over(wk)).withColumn(
        "n_days", F.count(F.lit(1)).over(wk)
    )
    # Spark `div` and DuckDB integer `//` BOTH truncate toward zero
    # (measured: -7 div 3 == -7 // 3 == -2), so the allowance is
    # engine-identical for any sign of the series total
    dev = ref.withColumn("allowance", F.expr("tot div n_days")).withColumn(
        "d", F.col("cents") - F.col("allowance")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dev.withColumn("p", F.sum("d").over(w)).withColumn(
        "run_min", F.least(F.lit(0).cast("bigint"), F.min(F.col("p")).over(w))
    )
    return cum.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        "cents",
        (F.col("p") - F.col("run_min")).cast("bigint").alias("cusum_cents"),
        (F.col("p") - F.col("run_min") > F.col("allowance")).alias("alarm"),
    ).orderBy("event_type", "day")


@register(
    "q278_sax_motifs",
    category="timeseries",
    oracle="""
WITH ser AS (
  SELECT user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS qv,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events
),
seg AS (
  SELECT user_id, (pos - 1) // 8 AS seg,
         CAST(sum(qv) AS BIGINT) AS s, count(*) AS n
  FROM ser GROUP BY user_id, (pos - 1) // 8
),
full_seg AS (SELECT user_id, seg, s FROM seg WHERE n = 8),
bounds AS (SELECT min(s) AS smin, max(s) AS smax FROM full_seg),
sym AS (
  SELECT f.user_id, f.seg,
         least(3, (f.s - b.smin) * 4 // (b.smax - b.smin + 1)) AS c
  FROM full_seg f, bounds b
),
words AS (
  SELECT user_id, seg, c,
         lead(c, 1) OVER w AS c1,
         lead(c, 2) OVER w AS c2
  FROM sym
  WINDOW w AS (PARTITION BY user_id ORDER BY seg)
),
census AS (
  SELECT c * 16 + c1 * 4 + c2 AS word_id,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM words WHERE c1 IS NOT NULL AND c2 IS NOT NULL
  GROUP BY 1
)
SELECT CAST(word_id AS BIGINT) AS word_id,
       chr(97 + CAST(word_id // 16 AS INTEGER))
         || chr(97 + CAST((word_id // 4) % 4 AS INTEGER))
         || chr(97 + CAST(word_id % 4 AS INTEGER)) AS word,
       n_occurrences, n_users
FROM census
ORDER BY n_occurrences DESC, word_id
LIMIT 20
""",
)
def q278_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-style symbolic motif census (Lin et al., "Symbolic Aggregate
    approXimation"): each user's reading series is piecewise-aggregated
    into 8-reading segments, discretized to a 4-letter alphabet, and
    every 3-letter word is counted fleet-wide — the symbolic index that
    turns raw time series into groupBy-able tokens, so motif discovery
    ("which shapes recur?") becomes a census instead of a pairwise
    similarity scan (q222's L2 search is the numeric complement).
    Deviation from the paper, documented: breakpoints are equal-width
    over the global segment-sum range (exact integer algebra both
    engines agree on) rather than Gaussian quantiles — the plan shape
    (global 2-value broadcast, keyed windows, combiner census) is
    identical. Scale: one user-keyed shuffle for position/word windows,
    a (user, seg)-keyed combiner aggregate, a 1-row bounds broadcast,
    and a word-keyed combiner census with TakeOrdered top-20 — no
    all-pairs, nothing driver-side, fan-in bounded by the alphabet
    (64 possible words)."""
    ev = load_table(spark, "events", sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ser = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("qv"),
        F.row_number().over(w_user).alias("pos"),
    )
    seg = (
        ser.groupBy("user_id", F.expr("(pos - 1) div 8").alias("seg"))
        .agg(F.sum("qv").cast("bigint").alias("s"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == 8)
        .select("user_id", "seg", "s")
    )
    bounds = seg.agg(F.min("s").alias("smin"), F.max("s").alias("smax"))
    sym = seg.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "seg",
        F.least(
            F.lit(3),
            F.expr("(s - smin) * 4 div (smax - smin + 1)"),
        ).alias("c"),
    )
    w_seg = Window.partitionBy("user_id").orderBy("seg")
    words = (
        sym.withColumn("c1", F.lead("c", 1).over(w_seg))
        .withColumn("c2", F.lead("c", 2).over(w_seg))
        .filter(F.col("c1").isNotNull() & F.col("c2").isNotNull())
        .select((F.col("c") * 16 + F.col("c1") * 4 + F.col("c2")).alias("word_id"), "user_id")
    )
    census = words.groupBy("word_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
    word_str = F.concat(
        F.char(F.lit(97) + (F.col("word_id") / 16).cast("int")),
        F.char(F.lit(97) + ((F.col("word_id") / 4) % 4).cast("int")),
        F.char(F.lit(97) + (F.col("word_id") % 4).cast("int")),
    )
    return (
        census.select(
            F.col("word_id").cast("bigint").alias("word_id"),
            word_str.alias("word"),
            "n_occurrences",
            "n_users",
        )
        .orderBy(F.desc("n_occurrences"), "word_id")
        .limit(20)
    )


@register(
    "q280_decay_attribution",
    category="analytics",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts AS tc FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, ts AS tp, event_id AS pid,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT p.user_id, p.pid, p.cents,
         [64, 32, 16, 8, 4, 2][
           CAST((epoch_us(p.tp) - epoch_us(c.tc)) // 3600000000 AS INTEGER) + 1
         ] AS w
  FROM purch p JOIN clicks c
    ON p.user_id = c.user_id
   AND c.tc < p.tp
   AND c.tc > p.tp - INTERVAL 6 HOUR
),
shared AS (
  SELECT user_id, pid, cents, w,
         sum(w) OVER (PARTITION BY user_id, pid) AS tot_w
  FROM pairs
),
credit AS (
  SELECT user_id, CAST(sum((cents * w * 1000) // tot_w) AS BIGINT) AS credit_milli
  FROM shared GROUP BY user_id
),
attr AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_attributed,
         CAST(sum(cents) AS BIGINT) AS attributed_cents
  FROM (SELECT user_id, pid, max(cents) AS cents FROM pairs GROUP BY user_id, pid)
  GROUP BY user_id
),
ptot AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM purch GROUP BY user_id
)
SELECT t.user_id, t.n_purchases, t.total_cents,
       CAST(coalesce(a.n_attributed, 0) AS BIGINT) AS n_attributed,
       CAST(coalesce(a.attributed_cents, 0) AS BIGINT) AS attributed_cents,
       CAST(coalesce(c.credit_milli, 0) AS BIGINT) AS credit_milli
FROM ptot t
LEFT JOIN attr a ON t.user_id = a.user_id
LEFT JOIN credit c ON t.user_id = c.user_id
ORDER BY t.user_id
""",
)
def q280_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution with exponential decay: each purchase's
    credit splits across ALL of the user's clicks in a 6-hour
    lookback, weighted by halving per hour of age (w = 64 >> hours,
    as an alphabet lookup so neither engine bit-shifts by a column) —
    the position-decay generalization of q196's winner-take-all
    first/last-touch. Credits stay exact integers: per-pair share =
    (cents * w * 1000) div sum(w), truncating identically in Spark
    div and DuckDB // (both toward zero). The pair join hashes on
    user_id with the lookback as a residual range predicate — fan-out
    is bounded by one user's clicks-per-6h, never a cartesian — and
    the share denominator is a (user, purchase)-keyed window, not a
    re-join. At 100 TB: one keyed shuffle for the pair join, keyed
    windows, three combiner aggregates, broadcast-free."""
    ev = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("tc")
    )
    # purchases feed the pair join AND the per-user totals; the pair
    # frame feeds the credit and attribution aggregates — both pinned,
    # so events is scanned twice (click slice + purchase slice) instead
    # of r5's five
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.col("ts").alias("tp"), F.col("event_id").alias("pid"), cents.alias("cents")
        )
        .transform(pin)
    )
    age_h = (
        (F.unix_micros(F.col("tp").cast("timestamp")) - F.unix_micros(F.col("tc").cast("timestamp")))
        / F.lit(3600000000)
    ).cast("bigint")
    weights = F.array(*[F.lit(v) for v in (64, 32, 16, 8, 4, 2)])
    pairs = (
        purch.join(
            clicks,
            (F.col("user_id") == F.col("cu"))
            & (F.col("tc") < F.col("tp"))
            & (F.col("tc") > F.col("tp") - F.expr("INTERVAL 6 HOURS")),
        )
        .select(
            "user_id",
            "pid",
            "cents",
            F.element_at(weights, (age_h + 1).cast("int")).alias("w"),
        )
        .transform(pin)
    )
    w_p = Window.partitionBy("user_id", "pid")
    shared = pairs.withColumn("tot_w", F.sum("w").over(w_p))
    credit = shared.groupBy("user_id").agg(
        F.sum(F.expr("(cents * w * 1000) div tot_w")).cast("bigint").alias("credit_milli")
    )
    attr = (
        pairs.groupBy("user_id", "pid")
        .agg(F.max("cents").alias("cents"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_attributed"),
            F.sum("cents").cast("bigint").alias("attributed_cents"),
        )
    )
    ptot = purch.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    return (
        ptot.join(attr, "user_id", "left")
        .join(credit, "user_id", "left")
        .select(
            "user_id",
            "n_purchases",
            "total_cents",
            F.coalesce("n_attributed", F.lit(0)).cast("bigint").alias("n_attributed"),
            F.coalesce("attributed_cents", F.lit(0)).cast("bigint").alias("attributed_cents"),
            F.coalesce("credit_milli", F.lit(0)).cast("bigint").alias("credit_milli"),
        )
        .orderBy("user_id")
    )


@register(
    "q282_time_weighted_average",
    category="timeseries",
    oracle="""
WITH ser AS (
  SELECT user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_us,
         epoch_us(ts) AS t_us
  FROM events WHERE event_type = 'view'
),
seg AS (
  SELECT user_id, cents * (next_us - t_us) AS area, next_us - t_us AS dur
  FROM ser WHERE next_us IS NOT NULL
)
SELECT user_id,
       CAST(CAST(sum(area) AS BIGINT) AS VARCHAR) AS area_cents_us,
       CAST(sum(dur) AS BIGINT) AS span_us,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(area) AS DOUBLE) / sum(dur) AS twap_cents
FROM seg GROUP BY user_id
ORDER BY user_id
""",
)
def q282_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each reading holds its value until
    the next one, so the average integrates value x holding-duration
    instead of treating samples as equally spaced — THE correct
    summary for irregularly-sampled gauges (sensor states, account
    balances, position marks), where the arithmetic mean of q07
    over-weights bursts. The integral is exact int64 (cents x
    microseconds; |area| < 5.6e4 * 2.6e6s * 1e6 ~ 1.5e17 per segment-
    month, summed per user), the per-user step function needs ONE
    keyed window (lead), and the final division is a single IEEE op
    on exact integers — both engines emit the identical double. At
    100 TB: one user-keyed shuffle, map-side-combinable aggregate;
    emitting numerator/denominator keeps the result mergeable across
    partitions and re-aggregable to any coarser grouping. The
    numerator EXCEEDS 2^53 (observed 1.7e16 at sf0.01), so it leaves
    the engine as a digit STRING on both sides — the round-4 driver
    lesson (q237/q279): any exact integer above 2^53 renders
    differently under a float64-routing canonicalization, int64 or
    not; tools/compare_oracle.py's fragile_cells guard caught this
    one locally in round 5. twap_cents divides the exact numeric sums
    BEFORE stringification."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("event_type") == "view")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ser = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        t_us.alias("t_us"),
        F.lead(t_us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    seg = ser.select(
        "user_id",
        (F.col("cents") * (F.col("next_us") - F.col("t_us"))).alias("area"),
        (F.col("next_us") - F.col("t_us")).alias("dur"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum("area").cast("bigint").alias("area_cents_us"),
            F.sum("dur").cast("bigint").alias("span_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        )
        .select(
            "user_id",
            F.col("area_cents_us").cast("string").alias("area_cents_us"),
            "span_us",
            "n_segments",
            (F.col("area_cents_us").cast("double") / F.col("span_us")).alias("twap_cents"),
        )
        .orderBy("user_id")
    )


_INV_CAP = 20000  # 200.00 in cents: both clamps fire on this fixture


@register(
    "q283_bounded_inventory",
    category="stateful",
    oracle="""
WITH RECURSIVE t AS (
  SELECT user_id,
         CAST(round(value * 100, 0) AS BIGINT)
           * (CASE WHEN event_type = 'click' THEN 1 ELSE -1 END) AS delta,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type IN ('click', 'purchase')
),
r AS (
  SELECT user_id, rn,
         least(20000, greatest(CAST(0 AS BIGINT), delta)) AS s,
         CAST(CASE WHEN delta > 20000 THEN 1 ELSE 0 END AS BIGINT) AS nov,
         CAST(CASE WHEN delta < 0 THEN 1 ELSE 0 END AS BIGINT) AS nun,
         greatest(CAST(0 AS BIGINT), delta - 20000) AS lost,
         greatest(CAST(0 AS BIGINT), -delta) AS unmet
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.user_id, t.rn,
         least(20000, greatest(CAST(0 AS BIGINT), r.s + t.delta)),
         r.nov + CASE WHEN r.s + t.delta > 20000 THEN 1 ELSE 0 END,
         r.nun + CASE WHEN r.s + t.delta < 0 THEN 1 ELSE 0 END,
         r.lost + greatest(CAST(0 AS BIGINT), r.s + t.delta - 20000),
         r.unmet + greatest(CAST(0 AS BIGINT), -(r.s + t.delta))
  FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1
),
last AS (SELECT user_id, max(rn) AS mr FROM t GROUP BY user_id)
SELECT r.user_id,
       CAST(l.mr AS BIGINT) AS n_events,
       r.s AS final_cents,
       r.nov AS n_overflow, r.nun AS n_underflow,
       r.lost AS lost_cents, r.unmet AS unmet_cents
FROM r JOIN last l ON r.user_id = l.user_id AND r.rn = l.mr
ORDER BY r.user_id
""",
)
def q283_bounded_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided bounded running sum — the battery/inventory/quota
    simulation S_t = clamp(S_{t-1} + delta_t, 0, cap), with overflow
    (clipped deposits) and shortfall (unmet withdrawals) accounted
    exactly. Unlike q276's one-sided clamp, the two-sided recursion
    has no frame-window reflection identity; but clamp-composition IS
    an associative monoid (each segment reduces to a 3-parameter
    (shift, lo, hi) transform), so the fold parallelizes as a scan at
    any scale. Here it runs as q265's JVM-side pattern: one user-keyed
    shuffle collects each user's (ts, event_id)-sorted flow array and
    F.aggregate folds the clamp + counters in Catalyst expressions —
    no Python, state bounded by one user's activity. The oracle
    replays the recursion with a recursive CTE (the q200/q233
    pattern). Clamps both fire on this fixture (single events reach
    2.4x cap), so every output column discriminates."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    delta = F.round(F.col("value") * 100, 0).cast("bigint") * F.when(
        F.col("event_type") == "click", 1
    ).otherwise(-1)
    seq = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", delta.alias("delta")))
        ).alias("evs")
    )
    cap = F.lit(_INV_CAP).cast("bigint")
    zero_l = F.lit(0).cast("bigint")
    acc0 = F.struct(
        zero_l.alias("s"),
        zero_l.alias("nov"),
        zero_l.alias("nun"),
        zero_l.alias("lost"),
        zero_l.alias("unmet"),
    )
    state = F.aggregate(
        F.col("evs"),
        acc0,
        lambda acc, e: F.struct(
            F.least(cap, F.greatest(zero_l, acc["s"] + e["delta"])).alias("s"),
            (acc["nov"] + (acc["s"] + e["delta"] > cap).cast("bigint")).alias("nov"),
            (acc["nun"] + (acc["s"] + e["delta"] < 0).cast("bigint")).alias("nun"),
            (acc["lost"] + F.greatest(zero_l, acc["s"] + e["delta"] - cap)).alias("lost"),
            (acc["unmet"] + F.greatest(zero_l, -(acc["s"] + e["delta"]))).alias("unmet"),
        ),
    )
    return (
        seq.select(
            "user_id",
            F.size("evs").cast("bigint").alias("n_events"),
            state.alias("st"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("st.s").alias("final_cents"),
            F.col("st.nov").alias("n_overflow"),
            F.col("st.nun").alias("n_underflow"),
            F.col("st.lost").alias("lost_cents"),
            F.col("st.unmet").alias("unmet_cents"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q313 — Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@register(
    "q313_markov_transitions",
    category="timeseries",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
tr AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM tr GROUP BY 1
)
SELECT tr.from_type, tr.to_type, tr.n,
       CAST(tr.n AS DOUBLE) / tot.row_n AS p_next,
       CAST(row_number() OVER (PARTITION BY tr.from_type
                               ORDER BY tr.n DESC, tr.to_type)
            AS BIGINT) AS rnk
FROM tr JOIN tot USING (from_type)
ORDER BY tr.from_type, rnk
""",
)
def q313_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    observed (from_type -> to_type) event pair, the exact transition
    count, the row-normalized probability, and the within-row rank of
    the next state — the session-model a behavioral pipeline fits
    before simulating or anomaly-scoring clickstreams (and the input
    to q216-style stationary analysis). Adjacency comes from a lag
    window over (user_id) ordered by (ts, event_id) — the same
    deterministic total order every sequence query in this suite
    uses. Plan: one shuffle to sequence per user, then the pair count
    collapses to |types|^2 <= 25 rows via map-side combine; row
    totals re-aggregate the COUNTS, not the base table. p_next is a
    raw division of exact BIGINTs (bit-identical across engines).
    At 100 TB the user-partitioned window is the only data-sized
    exchange; everything downstream is alphabet-sized."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    tr = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = tr.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("row_n"))
    wr = Window.partitionBy("from_type").orderBy(F.col("n").desc(), "to_type")
    return (
        tr.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("row_n")).alias("p_next"),
            F.row_number().over(wr).cast("bigint").alias("rnk"),
        )
        .orderBy("from_type", "rnk")
    )


# ---------------------------------------------------------------------------
# q318 — RFM (recency / frequency / monetary) quintile segmentation
# ---------------------------------------------------------------------------


@register(
    "q318_rfm_segmentation",
    category="analytics",
    oracle="""
WITH anchor AS (
  SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS max_us FROM events
),
u AS (
  SELECT user_id,
         CAST(min(a.max_us) - max(epoch_us(ts)) AS BIGINT) AS recency_us,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS monetary
  FROM events CROSS JOIN anchor a
  GROUP BY user_id
),
q AS (
  SELECT user_id, recency_us, freq, monetary,
         ntile(5) OVER (ORDER BY recency_us, user_id) AS r_q,
         ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_q,
         ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_q
  FROM u
)
SELECT r_q, f_q, m_q,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(monetary) AS BIGINT) AS sum_monetary_cents,
       CAST(sum(monetary) AS DOUBLE) / count(*) AS avg_monetary_cents
FROM q
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
""",
)
def q318_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic behavioral cohorting: per user,
    recency (microseconds before the corpus max-ts anchor), frequency
    (event count), monetary (exact cent sum); each dimension cut into
    quintiles (ntile over a deterministic (metric, user_id) order, with
    R ascending and F/M descending so quintile 1 is always "best"),
    then the 5x5x5 cell census with exact monetary sums. Plan: one
    scan reduced per-user (map-side combinable), then three
    DISTRIBUTED ntiles via ``operators.prefix.global_ntile`` — the
    range-partition + offset two-pass scan, never a single-partition
    ``Window.orderBy`` (round-4 ADVICE: user cardinality is unbounded
    at 100 TB, unlike the 15-25-row global windows in q312/q315) —
    three user-keyed joins to recombine the dimensions, and a final
    125-cell reduce. ntile's bucket rule is closed-form in the global
    rank, so the arithmetic twin is bit-identical to both engines'
    built-in. The anchor is a 1-row broadcast; the per-user frame is
    pinned (consumed by count + three rank passes)."""
    from sensor_data_pipeline_spark.operators.prefix import global_ntile

    ev = load_table(spark, "events", sf_dir)
    anchor = ev.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))).cast("bigint").alias("max_us"))
    u = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            (F.min("max_us") - F.max(F.unix_micros(F.col("ts").cast("timestamp"))))
            .cast("bigint")
            .alias("recency_us"),
            F.count("*").cast("bigint").alias("freq"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("monetary"),
        )
    ).transform(pin)
    n_users = u.count()
    r_t = global_ntile(
        u, [F.col("recency_us"), F.col("user_id")], 5, "r_q", n_users
    ).select("user_id", "r_q")
    f_t = global_ntile(
        u, [(-F.col("freq")).alias("_negf"), F.col("user_id")], 5, "f_q", n_users
    ).select("user_id", "f_q")
    m_t = global_ntile(
        u, [(-F.col("monetary")).alias("_negm"), F.col("user_id")], 5, "m_q", n_users
    ).select("user_id", "m_q")
    q = (
        u.select("user_id", "monetary")
        .join(r_t, "user_id")
        .join(f_t, "user_id")
        .join(m_t, "user_id")
    )
    return (
        q.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("monetary").cast("bigint").alias("sum_monetary_cents"),
            (F.sum("monetary").cast("double") / F.count("*")).alias(
                "avg_monetary_cents"
            ),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# q320 — frequent length-3 event-path mining
# ---------------------------------------------------------------------------

_PATH_TOPK = 20


@register(
    "q320_event_path_mining",
    category="timeseries",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER w AS p1,
         lag(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT p2 AS step1, p1 AS step2, event_type AS step3,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE p2 IS NOT NULL
  GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM paths),
rk AS (
  SELECT step1, step2, step3, n,
         row_number() OVER (ORDER BY n DESC, step1, step2, step3) AS rnk
  FROM paths
)
SELECT rk.step1, rk.step2, rk.step3, rk.n,
       CAST(rk.rnk AS BIGINT) AS rnk,
       rk.n * 1000000 // tot.t AS support_ppm
FROM rk CROSS JOIN tot
WHERE rk.rnk <= {_PATH_TOPK}
ORDER BY rk.rnk
""",
)
def q320_event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent length-3 behavioral paths: every consecutive
    (step1 -> step2 -> step3) event-type trigram per user (the q313
    Markov chain extended one hop — the sequence-mining primitive
    behind funnel discovery), ranked by exact support with integer-ppm
    share of all observed trigrams. Adjacency via two lag offsets over
    the same deterministic (ts, event_id) per-user order. Plan: one
    user-partitioned window exchange, then map-side-combinable counts
    into an alphabet-cubed (<=125) group space; ranking happens on
    those counts, a TakeOrderedAndProject at any scale; total rides a
    1-row broadcast. The top-k cut is rank-deterministic (count desc,
    lexicographic tiebreak) so the result is unique."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    paths = (
        seq.where(F.col("p2").isNotNull())
        .groupBy(
            F.col("p2").alias("step1"),
            F.col("p1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = paths.agg(F.sum("n").cast("bigint").alias("t"))
    rk = paths.select(
        "step1",
        "step2",
        "step3",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "step1", "step2", "step3"))
        .cast("bigint")
        .alias("rnk"),
    ).where(F.col("rnk") <= _PATH_TOPK)
    return (
        rk.crossJoin(F.broadcast(tot))
        .select(
            "step1",
            "step2",
            "step3",
            "n",
            "rnk",
            F.expr("n * 1000000 DIV t").alias("support_ppm"),
        )
        .orderBy("rnk")
    )
