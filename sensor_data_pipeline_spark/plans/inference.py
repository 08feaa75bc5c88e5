"""Statistical inference and data-profiling queries: digit-law audits,
two-sample tests, survival curves, functional-dependency discovery,
weighted quantiles, grid-bucketed spatial nearest neighbors,
Apriori-pruned association rules, and rank fusion.

The family's shared discipline (the q246 pattern): quantize doubles to
integer cents FIRST, keep every aggregate an exact BIGINT, and derive
any final float statistic from those exact integers through
correctly-rounded IEEE ops only (+ - * / sqrt) so Spark and DuckDB
produce bit-identical doubles; transcendentals (log10/ln/exp) appear
only under round(x, 6).

Reference analog: the reference computes per-reading derived statistics
one record at a time (src/modules/dd/consumer.cpp:241-268,
src/modules/module_rpi_ups_hat.c:200-219 — battery drain rate and
time-to-depletion derived per sample); these are the set-level statistical
generalizations a 100 TB corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.functions.text import tokenize
from sensor_data_pipeline_spark.operators.spatial import grid_nn_join
from sensor_data_pipeline_spark.pins import pin
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# q288 — Benford first-digit audit
# ---------------------------------------------------------------------------


@register(
    "q288_benford_digit_audit",
    category="profile",
    oracle="""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem
),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY digit),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
SELECT g.digit,
       g.n,
       CAST(g.n AS DOUBLE) / t.total AS obs_share,
       round(log10(1.0 + 1.0 / g.digit), 6) AS exp_share,
       round((g.n - t.total * log10(1.0 + 1.0 / g.digit))
             * (g.n - t.total * log10(1.0 + 1.0 / g.digit))
             / (t.total * log10(1.0 + 1.0 / g.digit)), 6) AS chi2_term
FROM g, t
ORDER BY g.digit
""",
)
def q288_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of extended price: a
    fraud/synthesis detector that compares the observed leading-digit
    distribution against log10(1 + 1/d) and emits the per-digit
    chi-square contribution. The digit is extracted from the exact
    integer cents via string head (never floor(log10(x)), whose
    last-ulp behavior at exact powers of ten differs between libm and
    the JVM). Plan: map-only digit projection, a 9-group partial-agg
    shuffle, and a broadcast 1-row total — a full-table audit whose
    shuffle payload is 9 rows at any scale. At 100 TB this is the
    cheapest possible shape: one scan, map-side combine into <=9
    groups per partition."""
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    g = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = g.agg(F.sum("n").cast("bigint").alias("total"))
    e = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    diff = F.col("n") - F.col("total") * e
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("obs_share"),
            F.round(e, 6).alias("exp_share"),
            F.round(diff * diff / (F.col("total") * e), 6).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q289 — Welch two-sample t-test per segment
# ---------------------------------------------------------------------------


@register(
    "q289_welch_ttest",
    category="analytics",
    oracle="""
WITH base AS (
  SELECT user_id % 3 AS segment,
         event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS y
  FROM events
  WHERE event_type IN ('view', 'click')
),
m AS (
  SELECT segment,
         CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n2,
         CAST(sum(y) FILTER (WHERE event_type = 'view') AS BIGINT) AS s1,
         CAST(sum(y) FILTER (WHERE event_type = 'click') AS BIGINT) AS s2,
         CAST(sum(y * y) FILTER (WHERE event_type = 'view') AS BIGINT) AS q1,
         CAST(sum(y * y) FILTER (WHERE event_type = 'click') AS BIGINT) AS q2
  FROM base GROUP BY segment
),
v AS (
  SELECT segment, n1, n2, s1, s2,
         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2
  FROM m
)
SELECT segment, n1, n2,
       CAST(s1 AS DOUBLE) / n1 AS mean1_cents,
       CAST(s2 AS DOUBLE) / n2 AS mean2_cents,
       v1 AS var1,
       v2 AS var2,
       (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
         / sqrt(v1 / n1 + v2 / n2) + 0.0 AS t_stat,
       (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
         / ((v1 / n1) * (v1 / n1) / (n1 - 1)
            + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS welch_df
FROM v
ORDER BY segment
""",
)
def q289_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test ('view' vs 'click'
    event values) per user segment, with the Welch-Satterthwaite
    degrees of freedom. Values quantize to exact integer cents; counts
    and raw moments (sum, sum-of-squares) are exact BIGINTs, so the
    final t statistic is computed from identical doubles through
    correctly-rounded ops only (+ - * / sqrt) — bit-identical across
    engines, so it is emitted RAW (no round(); `+ 0.0` normalizes a
    potential -0.0 when group means tie). Variance uses the moment form
    with the s^2/n product done in DOUBLE (s1*s1 would overflow BIGINT
    near sf1). Plan: one scan, conditional partial aggregation into 3
    segments — a map-side-combine shuffle of 3 rows regardless of
    input size. The A/B-testing primitive at 100 TB: no second pass,
    no per-group sort."""
    ev = load_table(spark, "events", sf_dir)
    y = F.round(F.col("value") * 100, 0).cast("bigint")
    is1 = F.col("event_type") == "view"
    is2 = F.col("event_type") == "click"
    m = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select((F.col("user_id") % 3).alias("segment"), F.col("event_type"), y.alias("y"))
        .groupBy("segment")
        .agg(
            F.count(F.when(is1, 1)).cast("bigint").alias("n1"),
            F.count(F.when(is2, 1)).cast("bigint").alias("n2"),
            F.sum(F.when(is1, F.col("y"))).cast("bigint").alias("s1"),
            F.sum(F.when(is2, F.col("y"))).cast("bigint").alias("s2"),
            F.sum(F.when(is1, F.col("y") * F.col("y"))).cast("bigint").alias("q1"),
            F.sum(F.when(is2, F.col("y") * F.col("y"))).cast("bigint").alias("q2"),
        )
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    v1 = (F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    v2 = (F.col("q2").cast("double") - F.col("s2").cast("double") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    se1 = v1 / n1d
    se2 = v2 / n2d
    mean1 = F.col("s1").cast("double") / F.col("n1")
    mean2 = F.col("s2").cast("double") / F.col("n2")
    return (
        m.select(
            "segment",
            "n1",
            "n2",
            mean1.alias("mean1_cents"),
            mean2.alias("mean2_cents"),
            v1.alias("var1"),
            v2.alias("var2"),
            ((mean1 - mean2) / F.sqrt(se1 + se2) + F.lit(0.0)).alias("t_stat"),
            (
                (se1 + se2) * (se1 + se2)
                / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1))
            ).alias("welch_df"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q290 — Kaplan-Meier survival estimator
# ---------------------------------------------------------------------------


@register(
    "q290_kaplan_meier",
    category="timeseries",
    oracle="""
WITH dur AS (
  SELECT o.o_orderkey,
         date_diff('day', CAST(o.o_orderdate AS DATE), CAST(max(l.l_shipdate) AS DATE)) AS t,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus
),
g AS (
  SELECT t,
         CAST(sum(ev) AS BIGINT) AS d,
         CAST(sum(1 - ev) AS BIGINT) AS c
  FROM dur GROUP BY t
),
r AS (
  SELECT t, d, c,
         (SELECT CAST(count(*) AS BIGINT) FROM dur)
           - COALESCE(CAST(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS n_risk
  FROM g
),
s AS (
  SELECT t, d, c, n_risk,
         max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t) AS dead_flag,
         sum(CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                  ELSE 0.0 END) OVER (ORDER BY t) AS logsurv
  FROM r
)
SELECT t, n_risk, d, c,
       CASE WHEN dead_flag = 1 THEN 0.0 ELSE round(exp(logsurv), 6) END AS surv
FROM s
WHERE d > 0
ORDER BY t
""",
)
def q290_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over order fulfillment time (days
    from order date to last line shipment), treating status 'F' as the
    observed event and 'O'/'P' as right-censored. Classic product form
    S(t) = prod(1 - d_i/n_i) computed as exp of a running ln-sum, with
    an explicit absorbing-zero flag once d == n_risk (ln(0) never
    evaluated). The per-order duration reduce is one keyed shuffle;
    the running sums then act on the per-DAY aggregate whose row count
    is bounded by the calendar span (~3.6k distinct days in this
    fixture, <=tens of thousands for any real corpus) — so the
    unpartitioned window is over a domain-bounded frame, not the data:
    the same justification as the repo's histogram/CDF family. At
    100 TB the heavy input collapses to that bounded frame before any
    ordered logic runs."""
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    dur = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderstatus")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.datediff(F.col("last_ship").cast("date"), F.col("o_orderdate").cast("date")).alias(
                "t"
            ),
            F.when(F.col("o_orderstatus") == "F", F.lit(1)).otherwise(F.lit(0)).alias("ev"),
        )
    )
    g = dur.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("bigint").alias("c"),
    )
    total = dur.agg(F.count("*").cast("bigint").alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    r = (
        g.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "dead_flag",
            F.max(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)).over(w_cum),
        )
        .withColumn(
            "logsurv",
            F.sum(
                F.when(
                    F.col("d") < F.col("n_risk"),
                    F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
                ).otherwise(F.lit(0.0))
            ).over(w_cum),
        )
    )
    return (
        r.filter(F.col("d") > 0)
        .select(
            "t",
            "n_risk",
            "d",
            "c",
            F.when(F.col("dead_flag") == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(F.col("logsurv")), 6))
            .alias("surv"),
        )
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# q291 — functional-dependency violation audit (TANE-style g3)
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"),
    ("l_partkey->l_suppkey", "l_partkey", "l_suppkey"),
    ("l_suppkey->l_linestatus", "l_suppkey", "l_linestatus"),
]


def _fd_oracle_block(fd: str, x: str, y: str) -> str:
    return f"""
SELECT '{fd}' AS fd,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (WHERE n_y > 1) AS BIGINT) AS n_violating_groups,
       CAST(sum(cnt) - sum(max_y) AS BIGINT) AS removal_cost,
       CAST((CAST(sum(cnt) AS HUGEINT) - sum(max_y)) * 1000000
            // sum(cnt) AS BIGINT) AS g3_ppm
FROM (
  SELECT {x}, CAST(count(*) AS BIGINT) AS n_y,
         CAST(sum(yc) AS BIGINT) AS cnt, CAST(max(yc) AS BIGINT) AS max_y
  FROM (SELECT {x}, {y}, count(*) AS yc FROM lineitem GROUP BY {x}, {y})
  GROUP BY {x}
)"""


@register(
    "q291_fd_violation_audit",
    category="profile",
    oracle=" UNION ALL ".join(
        _fd_oracle_block(fd, x, y) for fd, x, y in _FD_CANDIDATES
    )
    + " ORDER BY fd",
)
def q291_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit: for each candidate FD
    X -> Y over lineitem, the number of violating X-groups and the
    TANE g3 error (minimum rows to delete for the FD to hold, as exact
    ppm via integer division) — the schema-profiling primitive behind
    key inference and denormalization checks. Per candidate the plan
    is two partial-agg shuffles ((X,Y) then X) with pure integer
    outputs; candidates union independently so Spark schedules them as
    parallel stages over the same cached scan. At 100 TB each
    candidate's shuffle carries one row per distinct (X,Y) — bounded
    by key cardinality, not row count. Mirrors TANE's g3 measure
    (Huhtala et al. 1999) without the lattice search (candidates are
    declared, as in production data-contract checks)."""
    li = load_table(spark, "lineitem", sf_dir)
    parts = []
    for fd, x, y in _FD_CANDIDATES:
        xy = li.groupBy(x, y).agg(F.count("*").alias("yc"))
        gx = xy.groupBy(x).agg(
            F.count("*").cast("bigint").alias("n_y"),
            F.sum("yc").cast("bigint").alias("cnt"),
            F.max("yc").cast("bigint").alias("max_y"),
        )
        parts.append(
            gx.agg(
                F.lit(fd).alias("fd"),
                F.sum("cnt").cast("bigint").alias("n_rows"),
                F.count("*").cast("bigint").alias("n_groups"),
                F.sum((F.col("n_y") > 1).cast("bigint")).cast("bigint").alias(
                    "n_violating_groups"
                ),
                (F.sum("cnt") - F.sum("max_y")).cast("bigint").alias("removal_cost"),
                F.expr(
                    "CAST((CAST(sum(cnt) AS DECIMAL(38,0)) - sum(max_y)) * 1000000"
                    " DIV sum(cnt) AS BIGINT)"
                ).alias("g3_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fd")


# ---------------------------------------------------------------------------
# q292 — weighted quantiles (exact, by cumulative weight)
# ---------------------------------------------------------------------------


@register(
    "q292_weighted_quantiles",
    category="aggregation",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS cents,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  GROUP BY l_returnflag, CAST(round(l_discount * 100, 0) AS BIGINT)
),
c AS (
  SELECT l_returnflag, cents, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
  FROM q
)
SELECT l_returnflag,
       CAST(min(CASE WHEN 4 * cw >= tw THEN cents END) AS BIGINT) AS w_p25_cents,
       CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT) AS w_median_cents,
       CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN cents END) AS BIGINT) AS w_p75_cents,
       CAST(min(tw) AS BIGINT) AS total_weight
FROM c
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q292_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted discount quantiles per return flag: the
    weighted median (and p25/p75) is the smallest discount whose
    cumulative weight reaches the quantile fraction of total weight —
    the 'typical discount per unit shipped' statistic that unweighted
    percentile queries (q60/q190) get wrong. Everything is exact
    integers: discounts quantize to cents, quantities are whole, and
    the quantile test is cross-multiplied (4*cw >= 3*tw) so no
    division happens at all. Plan: one partial-agg shuffle onto the
    (flag, cents) domain — at most |flags| x 101 rows — then windows
    over that domain-bounded frame. At 100 TB the raw rows never
    reach the window; only the bounded value-domain does (the q190
    counting-quantile argument, generalized to weights)."""
    li = load_table(spark, "lineitem", sf_dir)
    q = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("cents"),
    ).agg(F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).cast("bigint").alias("w"))
    wc = Window.partitionBy("l_returnflag").orderBy("cents")
    wt = Window.partitionBy("l_returnflag")
    c = q.select(
        "l_returnflag",
        "cents",
        "w",
        F.sum("w").over(wc).cast("bigint").alias("cw"),
        F.sum("w").over(wt).cast("bigint").alias("tw"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("cents")))
            .cast("bigint")
            .alias("w_p25_cents"),
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
            .cast("bigint")
            .alias("w_median_cents"),
            F.min(F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("cents")))
            .cast("bigint")
            .alias("w_p75_cents"),
            F.min("tw").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q293 — grid-bucketed spatial nearest-neighbor join
# ---------------------------------------------------------------------------

_GRID_CELL = 50
_GRID_R2 = 2500  # radius 50 => cell size == radius => 3x3 candidate cells


@register(
    "q293_grid_nn_join",
    category="join",
    oracle=f"""
WITH c AS (
  SELECT c_custkey, (c_custkey * 37) % 1000 AS cx, (c_custkey * 91) % 1000 AS cy
  FROM customer
),
s AS (
  SELECT s_suppkey, (s_suppkey * 53) % 1000 AS sx, (s_suppkey * 17) % 1000 AS sy
  FROM supplier
),
cand AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS dist2
  FROM c JOIN s
    ON s.sx // {_GRID_CELL} BETWEEN c.cx // {_GRID_CELL} - 1 AND c.cx // {_GRID_CELL} + 1
   AND s.sy // {_GRID_CELL} BETWEEN c.cy // {_GRID_CELL} - 1 AND c.cy // {_GRID_CELL} + 1
  WHERE (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) <= {_GRID_R2}
),
best AS (
  SELECT c_custkey, s_suppkey, dist2
  FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY dist2, s_suppkey) AS rn
        FROM cand)
  WHERE rn = 1
)
SELECT c.c_custkey,
       CAST(b.s_suppkey AS BIGINT) AS nn_suppkey,
       CAST(b.dist2 AS BIGINT) AS nn_dist2
FROM c LEFT JOIN best b ON c.c_custkey = b.c_custkey
ORDER BY c.c_custkey
""",
)
def q293_grid_nn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbor join via uniform grid bucketing: each
    customer point finds its nearest supplier point within radius 50,
    exactly, by joining only the 3x3 neighborhood of grid cells (cell
    size == radius, so the disk of radius r around any point is
    covered by construction). Coordinates are deterministic integer
    functions of the keys, so every distance-squared is an exact
    BIGINT — no float geometry. The Spark side expands each probe
    into its 9 candidate cells (a literal 9-row explode, not a
    cross join) and equi-joins on the cell id: one hash shuffle whose
    fan-out is bounded by cell occupancy, never an inequality join or
    CartesianProduct. Ties break on (dist2, suppkey) via a min-struct
    aggregate — partial-aggregable, no per-key sort. At 100 TB this
    is the standard spatial-binning layout: occupancy stays bounded
    if the grid tracks point density (here hash-uniform by design)."""
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    return (
        grid_nn_join(
            cust,
            supp,
            "c_custkey",
            "s_suppkey",
            px=(F.col("c_custkey") * 37) % 1000,
            py=(F.col("c_custkey") * 91) % 1000,
            qx=(F.col("s_suppkey") * 53) % 1000,
            qy=(F.col("s_suppkey") * 17) % 1000,
            radius=_GRID_CELL,
        )
        .withColumnRenamed("nn_s_suppkey", "nn_suppkey")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q294 — Apriori-pruned association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_AR_PAIR_MINSUP = 3  # absolute pair support floor
_AR_ITEM_MINSUP_PPM = 1000  # item must appear in >= 0.1% of baskets


@register(
    "q294_association_rules",
    category="analytics",
    oracle=f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM baskets),
items AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n_item FROM baskets GROUP BY pk
),
freq AS (
  SELECT i.pk, i.n_item FROM items i, nb
  WHERE i.n_item * 1000000 >= {_AR_ITEM_MINSUP_PPM} * nb.n_orders
),
pairs AS (
  SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS n_pair
  FROM baskets a
  JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
  JOIN freq f1 ON a.pk = f1.pk
  JOIN freq f2 ON b.pk = f2.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= {_AR_PAIR_MINSUP}
)
SELECT p.p1, p.p2, p.n_pair, f1.n_item AS n1, f2.n_item AS n2,
       p.n_pair * 1000000 // f1.n_item AS conf12_ppm,
       p.n_pair * 1000000 // f2.n_item AS conf21_ppm,
       CAST(CAST(p.n_pair AS HUGEINT) * nb.n_orders * 1000000
            // (CAST(f1.n_item AS HUGEINT) * f2.n_item) AS BIGINT) AS lift_ppm
FROM pairs p
JOIN freq f1 ON p.p1 = f1.pk
JOIN freq f2 ON p.p2 = f2.pk
CROSS JOIN nb
ORDER BY lift_ppm DESC, p1, p2
LIMIT 50
""",
)
def q294_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets with Apriori
    pruning: items below the relative support floor (0.1% of baskets)
    are dropped BEFORE pair generation (the Apriori monotonicity — an
    infrequent item cannot be in a frequent pair), pairs come from a
    basket-keyed self-join (shuffle on orderkey, fan-out bounded by
    per-basket item count, never all item pairs), and support /
    confidence / lift are published as exact integer ppm via cross-
    multiplied integer division — no float ranking, so the top-50 by
    lift is deterministic across engines. At 100 TB this is the
    textbook two-round Apriori on Spark: frequent-item filter is a
    broadcast-able semi-join (item table << basket table), the pair
    shuffle carries only pruned candidates. lift_ppm's BIGINT product
    n_pair * n_orders * 1e6 caps at ~1e9 baskets (document: switch the
    constant to 1e3 beyond that)."""
    li = load_table(spark, "lineitem", sf_dir)
    # baskets feeds the order count, the item counts, AND both sides of
    # the pair self-join through fb — unpinned, each consumer re-ran the
    # scan+distinct (11 lineitem scans in one plan, round-5 plan_audit)
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .transform(pin)
    )
    nb = baskets.agg(F.countDistinct("ok").cast("bigint").alias("n_orders"))
    items = baskets.groupBy("pk").agg(F.count("*").cast("bigint").alias("n_item"))
    freq = (
        items.crossJoin(F.broadcast(nb))
        .filter(F.col("n_item") * 1000000 >= _AR_ITEM_MINSUP_PPM * F.col("n_orders"))
        .select("pk", "n_item")
    )
    fb = baskets.join(F.broadcast(freq.select("pk")), "pk")
    a = fb.select(F.col("ok"), F.col("pk").alias("p1"))
    b = fb.select(F.col("ok"), F.col("pk").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= _AR_PAIR_MINSUP)
    )
    f1 = freq.select(F.col("pk").alias("p1"), F.col("n_item").alias("n1"))
    f2 = freq.select(F.col("pk").alias("p2"), F.col("n_item").alias("n2"))
    return (
        pairs.join(F.broadcast(f1), "p1")
        .join(F.broadcast(f2), "p2")
        .crossJoin(F.broadcast(nb))
        .select(
            "p1",
            "p2",
            "n_pair",
            "n1",
            "n2",
            F.expr("n_pair * 1000000 DIV n1").alias("conf12_ppm"),
            F.expr("n_pair * 1000000 DIV n2").alias("conf21_ppm"),
            # numerator and denominator both clear int64 near 1e9 baskets
            # — symmetric decimal keeps the ranking exact at any scale
            F.expr(
                "CAST(CAST(n_pair AS DECIMAL(38,0)) * n_orders * 1000000"
                " DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "p1", "p2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q295 — reciprocal-rank fusion of two retrieval lists
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_LIST = 100
_RRF_TOP = 20


@register(
    "q295_rrf_fusion",
    category="similarity",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, n_chars,
         CAST(len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
           AS n_uniq
  FROM documents
),
ra AS (
  SELECT doc_id, rn AS ra FROM (
    SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
    FROM toks) WHERE rn <= {_RRF_LIST}
),
rb AS (
  SELECT doc_id, rn AS rb FROM (
    SELECT doc_id, row_number() OVER (ORDER BY n_uniq DESC, doc_id) AS rn
    FROM toks) WHERE rn <= {_RRF_LIST}
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, ra.ra, rb.rb,
         COALESCE(1.0 / ({_RRF_K} + ra.ra), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + rb.rb), 0.0) AS rrf
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, CAST(ra AS BIGINT) AS rank_a, CAST(rb AS BIGINT) AS rank_b,
       rrf AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {_RRF_TOP}
""",
)
def q295_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two document
    rankings — by length (n_chars) and by lexical richness (distinct
    token count) — with the standard k=60 damping: score(d) =
    sum over lists of 1/(k + rank_d). Each list is truncated to its
    top-100 BEFORE fusion, so the global sort collapses to two
    TakeOrderedAndProject top-k passes (rank within the shortlist
    equals global rank for surviving docs); the fusion itself is a
    full outer join of two 100-row frames. The RRF score is a sum of
    two exactly-representable reciprocals of small integers —
    bit-identical across engines, so the final ordering needs no
    fixed-point trick. At 100 TB: two scans (one computes distinct
    tokens JVM-side), two top-k reductions, one tiny join — no full
    sort anywhere."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(tokenize(F.col("text")))).cast("bigint").alias("n_uniq"),
    )
    top_a = (
        docs.orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(_RRF_LIST)
        .select("doc_id", "n_chars")
    )
    top_b = (
        docs.orderBy(F.col("n_uniq").desc(), "doc_id")
        .limit(_RRF_LIST)
        .select("doc_id", "n_uniq")
    )
    wa = Window.orderBy(F.col("n_chars").desc(), "doc_id")
    wb = Window.orderBy(F.col("n_uniq").desc(), "doc_id")
    ra = top_a.select("doc_id", F.row_number().over(wa).alias("ra"))
    rb = top_b.select("doc_id", F.row_number().over(wb).alias("rb"))
    fused = (
        ra.join(rb, "doc_id", "full_outer")
        .select(
            "doc_id",
            "ra",
            "rb",
            (
                F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("ra")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rb")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            "doc_id",
            F.col("ra").cast("bigint").alias("rank_a"),
            F.col("rb").cast("bigint").alias("rank_b"),
            F.col("rrf").alias("rrf_score"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_TOP)
    )


# ---------------------------------------------------------------------------
# q296 — mutual information / chi-square independence profile
# ---------------------------------------------------------------------------


@register(
    "q296_mutual_information",
    category="profile",
    oracle="""
WITH j AS (
  SELECT event_type AS x,
         CAST(round(value * 100, 0) AS BIGINT) // 5000 AS y,
         CAST(count(*) AS BIGINT) AS nxy
  FROM events
  GROUP BY event_type, CAST(round(value * 100, 0) AS BIGINT) // 5000
),
mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM j GROUP BY x),
my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY y),
t AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM j)
SELECT t.n,
       CAST((SELECT count(*) FROM mx) AS BIGINT) AS n_x_levels,
       CAST((SELECT count(*) FROM my) AS BIGINT) AS n_y_levels,
       CAST(((SELECT count(*) FROM mx) - 1)
            * ((SELECT count(*) FROM my) - 1) AS BIGINT) AS dof,
       round(sum((j.nxy - CAST(mx.nx AS DOUBLE) * my.ny / t.n)
                 * (j.nxy - CAST(mx.nx AS DOUBLE) * my.ny / t.n)
                 / (CAST(mx.nx AS DOUBLE) * my.ny / t.n)), 6) AS chi2,
       round(sum((CAST(j.nxy AS DOUBLE) / t.n)
                 * ln(CAST(j.nxy AS DOUBLE) * t.n
                      / (CAST(mx.nx AS DOUBLE) * my.ny))), 6) AS mi_nats
FROM j
JOIN mx ON j.x = mx.x
JOIN my ON j.y = my.y
CROSS JOIN t
GROUP BY t.n
""",
)
def q296_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependence profiling between a categorical column (event_type)
    and a bucketed numeric one (value in 50-unit deciles): Pearson
    chi-square independence statistic, degrees of freedom, and mutual
    information in nats — the column-pair relevance screen a feature
    store runs before training. The joint histogram collapses in ONE
    partial-agg shuffle to <= |X| x |Y| rows; marginals and the total
    re-aggregate from that tiny frame and ride broadcasts back onto
    it, so the statistic costs one scan at any size. chi2 and MI are
    unordered sums over the joint cells, so both sit under round(6)
    (partial-agg summation order differs from the oracle's scan
    order); every input to those sums is an exact BIGINT count."""
    ev = load_table(spark, "events", sf_dir)
    # pin the tiny joint histogram: five downstream consumers (marginals,
    # total, level counts) would each re-scan events otherwise — the
    # pin collapses the plan to ONE parquet scan
    j = (
        ev.select(
            F.col("event_type").alias("x"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT) DIV 5000").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("nxy"))
        .transform(pin)
    )
    mx = j.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = j.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    t = j.agg(F.sum("nxy").cast("bigint").alias("n"))
    lx = mx.agg(F.count("*").cast("bigint").alias("n_x_levels"))
    ly = my.agg(F.count("*").cast("bigint").alias("n_y_levels"))
    e = F.col("nx").cast("double") * F.col("ny") / F.col("n")
    joined = (
        j.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(t))
    )
    agg = joined.groupBy("n").agg(
        F.round(
            F.sum((F.col("nxy") - e) * (F.col("nxy") - e) / e), 6
        ).alias("chi2"),
        F.round(
            F.sum(
                (F.col("nxy").cast("double") / F.col("n"))
                * F.log(
                    F.col("nxy").cast("double")
                    * F.col("n")
                    / (F.col("nx").cast("double") * F.col("ny"))
                )
            ),
            6,
        ).alias("mi_nats"),
    )
    return (
        agg.crossJoin(F.broadcast(lx))
        .crossJoin(F.broadcast(ly))
        .select(
            "n",
            "n_x_levels",
            "n_y_levels",
            ((F.col("n_x_levels") - 1) * (F.col("n_y_levels") - 1))
            .cast("bigint")
            .alias("dof"),
            "chi2",
            "mi_nats",
        )
    )


# ---------------------------------------------------------------------------
# q298 — Holt linear (double-exponential) smoothing per key
# ---------------------------------------------------------------------------


@register(
    "q298_holt_linear",
    category="timeseries",
    oracle="""
WITH RECURSIVE base AS (
  SELECT user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
r AS (
  SELECT user_id, i, n, CAST(y AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
  FROM base WHERE i = 1
  UNION ALL
  SELECT b2.user_id, b2.i, b2.n,
         0.5 * CAST(b2.y AS DOUBLE) + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * CAST(b2.y AS DOUBLE) + 0.5 * (r.l + r.b)) - r.l)
           + 0.5 * r.b
  FROM r JOIN base b2 ON b2.user_id = r.user_id AND b2.i = r.i + 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_obs, l AS level, b AS trend
FROM r WHERE i = n
ORDER BY user_id
""",
)
def q298_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing of each user's event
    value series with alpha = beta = 0.5: the coupled recurrence
    l_t = a*y + (1-a)*(l+b), b_t = B*(l_t - l_prev) + (1-B)*b — the
    two-term generalization of q200's single EWMA. The fold runs
    JVM-side inside one aggregate() lambda over the time-sorted
    per-user array (one keyed shuffle, recursion bounded by one
    user's history, never a global sort); the oracle replays the
    identical recurrence as a recursive CTE joined on (user, step).
    Because alpha/beta are dyadic (0.5 multiplies are exact) and both
    engines execute the same correctly-rounded op sequence in the
    same per-key order, level/trend are bit-identical and emitted
    RAW. At 100 TB: the streaming-state twin is q200's
    applyInPandasWithState; this is the batch backfill."""
    ev = load_table(spark, "events", sf_dir)
    seq = (
        ev.select(
            "user_id",
            F.struct(
                "ts",
                "event_id",
                F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("e")).alias("evs"))
    )
    zero = F.struct(
        F.lit(None).cast("double").alias("l"), F.lit(None).cast("double").alias("b")
    )
    half = F.lit(0.5)

    def step(acc, e):
        y = e["y"].cast("double")
        nl = half * y + half * (acc["l"] + acc["b"])
        nb = half * (nl - acc["l"]) + half * acc["b"]
        return F.when(
            acc["l"].isNull(),
            F.struct(y.alias("l"), F.lit(0.0).alias("b")),
        ).otherwise(F.struct(nl.alias("l"), nb.alias("b")))

    st = seq.select(
        "user_id",
        F.size("evs").cast("bigint").alias("n_obs"),
        F.aggregate(F.col("evs"), zero, step).alias("s"),
    )
    return st.select(
        "user_id", "n_obs", F.col("s.l").alias("level"), F.col("s.b").alias("trend")
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q299 — per-key autocorrelation function (lags 1..3)
# ---------------------------------------------------------------------------


@register(
    "q299_autocorrelation",
    category="timeseries",
    oracle="""
WITH base AS (
  SELECT user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS y,
         lag(CAST(round(value * 100, 0) AS BIGINT), 1)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
         lag(CAST(round(value * 100, 0) AS BIGINT), 2)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
         lag(CAST(round(value * 100, 0) AS BIGINT), 3)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l3
  FROM events
),
stacked AS (
  SELECT user_id, 1 AS lag, y, l1 AS x FROM base WHERE l1 IS NOT NULL
  UNION ALL
  SELECT user_id, 2, y, l2 FROM base WHERE l2 IS NOT NULL
  UNION ALL
  SELECT user_id, 3, y, l3 FROM base WHERE l3 IS NOT NULL
),
m AS (
  SELECT user_id, lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y * x) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM stacked GROUP BY user_id, lag
)
SELECT user_id, CAST(lag AS INT) AS lag, n,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
            ELSE NULL END AS acf
FROM m
ORDER BY user_id, lag
""",
)
def q299_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series autocorrelation at lags 1-3 of each user's event
    values: one keyed window pass computes all three lags, stack()
    unpivots them, and Pearson r comes from exact BIGINT moments per
    (user, lag) — numerator and the two variance factors stay integer
    (order-independent sums), converted to DOUBLE only for the final
    correctly-rounded divide/sqrt, so acf is bit-identical across
    engines and emitted raw; constant series yield NULL via the
    positive-variance guard. The variance-factor PRODUCT is done in
    DOUBLE (two ~1e13 BIGINTs would overflow int64 multiplied). Plan:
    one user-keyed window shuffle (never global), then a partial-agg
    shuffle onto (user, lag) — series length bounds memory, the ACF
    of a billion series costs two exchanges. The seasonality screen
    companion to q298's smoothing."""
    ev = load_table(spark, "events", sf_dir)
    y = F.round(F.col("value") * 100, 0).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        y.alias("y"),
        F.lag(y, 1).over(w).alias("l1"),
        F.lag(y, 2).over(w).alias("l2"),
        F.lag(y, 3).over(w).alias("l3"),
    )
    stacked = base.select(
        "user_id",
        F.expr("stack(3, 1, l1, 2, l2, 3, l3)").alias("lag", "x"),
        "y",
    ).filter(F.col("x").isNotNull())
    m = stacked.groupBy("user_id", "lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("y") * F.col("x")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.select(
            "user_id",
            F.col("lag").cast("int").alias("lag"),
            "n",
            F.when(
                (dx > 0) & (dy > 0),
                num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double")),
            ).alias("acf"),
        )
        .orderBy("user_id", "lag")
    )


# ---------------------------------------------------------------------------
# q300 — largest-remainder (Hamilton) apportionment
# ---------------------------------------------------------------------------

_ALLOC_SEATS = 1000


@register(
    "q300_largest_remainder_alloc",
    category="aggregation",
    oracle=f"""
WITH w AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS wt
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
),
t AS (SELECT CAST(sum(wt) AS BIGINT) AS tot FROM w),
q AS (
  SELECT w.nationkey, w.wt,
         CAST(CAST(w.wt AS HUGEINT) * {_ALLOC_SEATS} // t.tot AS BIGINT) AS base,
         CAST(CAST(w.wt AS HUGEINT) * {_ALLOC_SEATS} % t.tot AS BIGINT) AS rem
  FROM w, t
),
r AS (
  SELECT nationkey, wt, base, rem,
         row_number() OVER (ORDER BY rem DESC, nationkey) AS rk,
         CAST(sum(base) OVER () AS BIGINT) AS base_total
  FROM q
)
SELECT nationkey, wt, CAST(base AS BIGINT) AS base_seats,
       CAST(rem AS BIGINT) AS remainder,
       CAST(base + CASE WHEN rk <= {_ALLOC_SEATS} - base_total
                        THEN 1 ELSE 0 END AS BIGINT) AS seats
FROM r
ORDER BY nationkey
""",
)
def q300_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split a fixed
    budget of 1000 shards across nations proportional to their order
    revenue, exactly — floor quotas first, then the leftover seats go
    to the largest integer remainders (tiebreak on key). This is the
    allocation primitive behind proportional shard/quota assignment
    (q239's mixture allocation solves the continuous version; this is
    the exact integer one, guaranteeing sum(seats) == budget). All
    arithmetic is exact BIGINT: quota = w*S DIV W, remainder = w*S
    MOD W — no float quotas to tie-break inconsistently. Plan: one
    keyed revenue reduce, then windows over the 25-row nation frame
    (domain-bounded); the heavy input never reaches the ordered
    logic. At 100 TB: identical — apportionment cost is a function
    of group count, not data size."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    wt = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("wt")
        )
    )
    tot = wt.agg(F.sum("wt").cast("bigint").alias("tot"))
    q = wt.crossJoin(F.broadcast(tot)).select(
        "nationkey",
        "wt",
        F.expr(
            f"CAST(CAST(wt AS DECIMAL(38,0)) * {_ALLOC_SEATS} DIV tot AS BIGINT)"
        ).alias("base"),
        F.expr(
            f"CAST(CAST(wt AS DECIMAL(38,0)) * {_ALLOC_SEATS} % tot AS BIGINT)"
        ).alias("rem"),
    )
    w_rk = Window.orderBy(F.col("rem").desc(), "nationkey")
    w_all = Window.partitionBy()
    r = q.select(
        "nationkey",
        "wt",
        "base",
        "rem",
        F.row_number().over(w_rk).alias("rk"),
        F.sum("base").over(w_all).cast("bigint").alias("base_total"),
    )
    return (
        r.select(
            "nationkey",
            "wt",
            F.col("base").cast("bigint").alias("base_seats"),
            F.col("rem").cast("bigint").alias("remainder"),
            (
                F.col("base")
                + F.when(F.col("rk") <= _ALLOC_SEATS - F.col("base_total"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("seats"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# q305 — day-of-week seasonal index
# ---------------------------------------------------------------------------


@register(
    "q305_seasonal_dow_index",
    category="timeseries",
    oracle="""
WITH d AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7 AS dow,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS rev
  FROM d GROUP BY dow
),
t AS (SELECT CAST(sum(rev) AS BIGINT) AS tot, CAST(sum(n) AS BIGINT) AS nt FROM g)
SELECT g.dow, g.n, g.rev,
       CAST(CAST(g.rev AS HUGEINT) * 7000000 // t.tot AS BIGINT)
         AS seasonal_index_ppm,
       CAST(CAST(g.n AS HUGEINT) * 7000000 // t.nt AS BIGINT)
         AS volume_index_ppm
FROM g, t
ORDER BY g.dow
""",
)
def q305_seasonal_dow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of order revenue and volume: each
    weekday's share against the uniform 1/7 expectation, as exact ppm
    (index 1_000_000 = no seasonality). The weekday comes from
    days-since-epoch MOD 7 — pure integer arithmetic, because the
    engines disagree on dayofweek() numbering conventions (Spark
    1=Sunday, DuckDB 0=Sunday) and a convention bug would silently
    rotate the whole profile. Plan: map-only weekday projection, a
    7-group partial-agg shuffle, one broadcast total — the q288 shape.
    The deseasonalization prior every forecast pipeline needs, at one
    scan regardless of scale."""
    o = load_table(spark, "orders", sf_dir)
    d = o.select(
        (F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")) % 7).alias(
            "dow"
        ),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    g = d.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("cents").cast("bigint").alias("rev")
    )
    t = g.agg(F.sum("rev").cast("bigint").alias("tot"), F.sum("n").cast("bigint").alias("nt"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "n",
            "rev",
            # rev*7e6 exceeds int64 one decade above sf0.1 (caught by the
            # sf1 stress run) — the ppm product runs in DECIMAL(38,0)/
            # HUGEINT, the q279 symmetric-decimal idiom
            F.expr("CAST(CAST(rev AS DECIMAL(38,0)) * 7000000 DIV tot AS BIGINT)").alias(
                "seasonal_index_ppm"
            ),
            F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 7000000 DIV nt AS BIGINT)").alias(
                "volume_index_ppm"
            ),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# q306 — ABC revenue classification on the distributed prefix scan
# ---------------------------------------------------------------------------


@register(
    "q306_abc_classification",
    category="aggregation",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS r
  FROM lineitem GROUP BY l_partkey
),
c AS (
  SELECT l_partkey, r,
         CAST(sum(r) OVER (ORDER BY r DESC, l_partkey) AS BIGINT) AS cum,
         CAST(sum(r) OVER () AS BIGINT) AS tot
  FROM rev
),
cls AS (
  SELECT CASE WHEN 5 * cum <= 4 * tot THEN 'A'
              WHEN 20 * cum <= 19 * tot THEN 'B'
              ELSE 'C' END AS abc_class,
         r, tot
  FROM c
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(r) AS BIGINT) AS class_cents,
       CAST(CAST(sum(r) AS HUGEINT) * 1000000 // min(tot) AS BIGINT) AS share_ppm
FROM cls
GROUP BY abc_class
ORDER BY abc_class
""",
)
def q306_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A while the running cumulative share stays within 80%
    (cross-multiplied 5*cum <= 4*tot — no float shares), B to 95%, C
    after. The ranking's cumulative sum runs on the DISTRIBUTED prefix
    scan (operators/prefix.py), not a single-partition window: the
    part dimension is millions of rows at 100 TB, exactly the case
    the two-pass range-partitioned scan exists for. Ordering rides a
    single fixed-width string key (inverted zero-padded revenue ++
    partkey) so the scan's unique-key contract holds under revenue
    ties. The oracle is the plain window form — identical by the
    prefix-scan equivalence the operator's property test pins."""
    from sensor_data_pipeline_spark.operators.prefix import global_running_sum

    li = load_table(spark, "lineitem", sf_dir)
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("r")
    )
    keyed = rev.select(
        "l_partkey",
        "r",
        F.format_string(
            "%016d%012d", F.lit(9999999999999999) - F.col("r"), F.col("l_partkey")
        ).alias("ok"),
    )
    pre = global_running_sum(keyed, "ok", "r", "cum")
    tot = rev.agg(F.sum("r").cast("bigint").alias("tot"))
    cls = pre.crossJoin(F.broadcast(tot)).select(
        F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
        "tot",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("r").cast("bigint").alias("class_cents"),
            # class cents * 1e6 overflows int64 already at sf1 (the 80%
            # class holds ~1.4e13 cents there) — symmetric decimal
            F.expr(
                "CAST(CAST(sum(r) AS DECIMAL(38,0)) * 1000000 DIV min(tot) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# q307 — join-skew diagnosis report
# ---------------------------------------------------------------------------

_SKEW_SHARDS = 32


@register(
    "q307_join_skew_report",
    category="profile",
    oracle=f"""
WITH k AS (
  SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_orderkey
),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n) AS BIGINT) AS max_key FROM k
),
s AS (
  SELECT key % {_SKEW_SHARDS} AS shard, CAST(sum(n) AS BIGINT) AS load
  FROM k GROUP BY key % {_SKEW_SHARDS}
),
m AS (SELECT CAST(max(load) AS BIGINT) AS max_load,
             CAST(count(*) AS BIGINT) AS n_shards FROM s)
SELECT t.total, t.n_keys, t.max_key,
       t.max_key * t.n_keys * 1000000 // t.total AS key_skew_ppm,
       m.max_load, m.n_shards,
       m.max_load * {_SKEW_SHARDS} * 1000000 // t.total AS shard_imbalance_ppm
FROM t, m
""",
)
def q307_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew diagnosis for a prospective shuffle key (l_orderkey):
    per-key frequency reduce, then (a) key skew = hottest key vs the
    uniform per-key expectation and (b) shard imbalance = hottest of
    32 deterministic key%32 shards vs the uniform per-shard load,
    both as exact ppm (1_000_000 = perfectly uniform). This is the
    pre-flight a 100 TB join runs to decide between plain hash
    shuffle, AQE skew splitting, and salting — produced here by the
    engine itself as a query: one combiner groupBy onto distinct
    keys, a 32-row shard rollup, two 1-row broadcasts. The shard
    assignment is key MOD shards (not the engine's internal hash) so
    the oracle replays it exactly; the diagnosis is the same because
    imbalance is a property of the key distribution, not the hash."""
    li = load_table(spark, "lineitem", sf_dir)
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    t = k.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_key"),
    )
    s = k.groupBy((F.col("key") % _SKEW_SHARDS).alias("shard")).agg(
        F.sum("n").cast("bigint").alias("load")
    )
    m = s.agg(
        F.max("load").cast("bigint").alias("max_load"),
        F.count("*").cast("bigint").alias("n_shards"),
    )
    return (
        t.crossJoin(F.broadcast(m))
        .select(
            "total",
            "n_keys",
            "max_key",
            F.expr("max_key * n_keys * 1000000 DIV total").alias("key_skew_ppm"),
            "max_load",
            "n_shards",
            F.expr(f"max_load * {_SKEW_SHARDS} * 1000000 DIV total").alias(
                "shard_imbalance_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q308 — text normalization with idempotence audit
# ---------------------------------------------------------------------------


@register(
    "q308_normalize_idempotent",
    category="text",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS t1
  FROM documents
),
norm2 AS (
  SELECT doc_id, t1,
         trim(regexp_replace(regexp_replace(lower(t1), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS t2
  FROM norm
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN t1 = t2 THEN 1 ELSE 0 END) AS BIGINT) AS n_idempotent,
       CAST(sum(length(t1)) AS BIGINT) AS total_norm_chars,
       CAST(sum(CASE WHEN t1 = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_emptied
FROM norm2
""",
)
def q308_normalize_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (lowercase, non-alphanumeric -> space,
    whitespace squeeze, trim) with the cleaning-pipeline invariant
    audited IN the query: applying the normalizer twice must equal
    applying it once (idempotence), or re-processed documents drift
    on every ingestion pass. Emits corpus counts: docs, idempotent
    docs (must equal docs), normalized char mass, fully-emptied docs.
    Regexes are RE2-safe (no lookaheads) so both engines execute the
    identical automaton. Plan: map-only double-normalization fused in
    one projection — one scan, a 1-row combiner agg; the audit is
    free at any corpus size because the second pass runs on the
    already-shrunk t1."""
    docs = load_table(spark, "documents", sf_dir)

    def norm(c):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "
            )
        )

    n2 = docs.select(norm(F.col("text")).alias("t1")).select(
        "t1", norm(F.col("t1")).alias("t2")
    )
    return n2.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("t1") == F.col("t2")).cast("bigint")).cast("bigint").alias(
            "n_idempotent"
        ),
        F.sum(F.length("t1")).cast("bigint").alias("total_norm_chars"),
        F.sum((F.col("t1") == "").cast("bigint")).cast("bigint").alias("n_emptied"),
    )


# ---------------------------------------------------------------------------
# q309 — winsorized mean per group (robust location)
# ---------------------------------------------------------------------------


@register(
    "q309_winsorized_mean",
    category="aggregation",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, cents, c,
         CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY cents) AS BIGINT) AS cw,
         CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
  FROM q
),
fence AS (
  SELECT l_returnflag,
         CAST(min(CASE WHEN 20 * cw >= n THEN cents END) AS BIGINT) AS p05,
         CAST(min(CASE WHEN 20 * cw >= 19 * n THEN cents END) AS BIGINT) AS p95
  FROM cum GROUP BY l_returnflag
)
SELECT q.l_returnflag,
       CAST(sum(q.c) AS BIGINT) AS n,
       CAST(min(f.p05) AS BIGINT) AS p05_cents,
       CAST(min(f.p95) AS BIGINT) AS p95_cents,
       CAST(sum(q.c * least(greatest(q.cents, f.p05), f.p95)) AS BIGINT)
         AS winsorized_sum_cents,
       CAST(sum(q.c * least(greatest(q.cents, f.p05), f.p95)) AS DOUBLE)
         / sum(q.c) AS winsorized_mean_cents
FROM q JOIN fence f ON q.l_returnflag = f.l_returnflag
GROUP BY q.l_returnflag
ORDER BY q.l_returnflag
""",
)
def q309_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag: prices clamped into the
    [p5, p95] fences before averaging — the robust location estimate
    that survives fat tails where the plain mean (q07) and even the
    trimmed median (q132/q228) answer different questions. Fences
    come from counting quantiles over the (flag, cents) domain (the
    q292 machinery: cross-multiplied 20*cw >= 19*n, no division);
    clamping and summation run on the ALREADY-AGGREGATED domain rows
    (count * clamped-value), so the raw table is scanned once and the
    ordered logic touches only the bounded value domain. The mean is
    a division of exact BIGINTs — raw, bit-identical."""
    li = load_table(spark, "lineitem", sf_dir)
    q = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    wc = Window.partitionBy("l_returnflag").orderBy("cents")
    wt = Window.partitionBy("l_returnflag")
    cum = q.select(
        "l_returnflag",
        "cents",
        "c",
        F.sum("c").over(wc).cast("bigint").alias("cw"),
        F.sum("c").over(wt).cast("bigint").alias("n"),
    )
    fence = cum.groupBy("l_returnflag").agg(
        F.min(F.when(20 * F.col("cw") >= F.col("n"), F.col("cents")))
        .cast("bigint")
        .alias("p05"),
        F.min(F.when(20 * F.col("cw") >= 19 * F.col("n"), F.col("cents")))
        .cast("bigint")
        .alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
    return (
        q.join(F.broadcast(fence), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.min("p05").cast("bigint").alias("p05_cents"),
            F.min("p95").cast("bigint").alias("p95_cents"),
            F.sum(F.col("c") * clamped).cast("bigint").alias("winsorized_sum_cents"),
            (
                F.sum(F.col("c") * clamped).cast("double") / F.sum("c")
            ).alias("winsorized_mean_cents"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q310 — zone-map pruning effectiveness audit
# ---------------------------------------------------------------------------

_ZM_CHUNK = 1000


@register(
    "q310_zonemap_prune_audit",
    category="layout",
    oracle=f"""
WITH probe AS (
  SELECT CAST(min(epoch_us(l_shipdate))
              + (max(epoch_us(l_shipdate)) - min(epoch_us(l_shipdate)))
                * 45 // 100 AS BIGINT) AS lo,
         CAST(min(epoch_us(l_shipdate))
              + (max(epoch_us(l_shipdate)) - min(epoch_us(l_shipdate)))
                * 55 // 100 AS BIGINT) AS hi
  FROM lineitem
),
layouts AS (
  SELECT 'by_orderkey' AS layout, l_orderkey // {_ZM_CHUNK} AS chunk,
         epoch_us(l_shipdate) AS ship_us FROM lineitem
  UNION ALL
  SELECT 'by_partkey', l_partkey // {_ZM_CHUNK}, epoch_us(l_shipdate)
  FROM lineitem
),
zones AS (
  SELECT layout, chunk,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(ship_us) AS BIGINT) AS zmin,
         CAST(max(ship_us) AS BIGINT) AS zmax
  FROM layouts GROUP BY layout, chunk
)
SELECT z.layout,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN z.zmax < p.lo OR z.zmin >= p.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_prunable,
       CAST(sum(CASE WHEN z.zmax < p.lo OR z.zmin >= p.hi THEN 1 ELSE 0 END)
            AS BIGINT) * 1000000 // count(*) AS prune_ppm,
       CAST(sum(CASE WHEN NOT (z.zmax < p.lo OR z.zmin >= p.hi)
                     THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
FROM zones z, probe p
GROUP BY z.layout
ORDER BY z.layout
""",
)
def q310_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-statistics) pruning effectiveness for a
    centered 10% ship-date range probe, compared across two physical
    layouts: chunks of 1000 by orderkey (insertion order — correlates
    with ship date, so zones are tight and most chunks prune) vs
    chunks by partkey (uncorrelated — every zone spans the full date
    range and nothing prunes). This quantifies exactly WHY the
    repo's layout queries (q213 Z-order, q71 partition pruning) pay
    for clustering: same data, same predicate, orders-of-magnitude
    different scanned-row mass, measured by the engine itself. One
    scan builds both layouts' zones (union fused over the cached
    table), probe bounds ride a 1-row broadcast; output is exact
    counts + ppm."""
    li = load_table(spark, "lineitem", sf_dir)
    # probe bounds as exact integer microseconds: interval * double
    # arithmetic rounds differently across engines at the boundary
    us = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    probe = li.agg(
        F.expr(
            "CAST(min(unix_micros(CAST(l_shipdate AS TIMESTAMP))) + (max(unix_micros(CAST(l_shipdate AS TIMESTAMP)))"
            " - min(unix_micros(CAST(l_shipdate AS TIMESTAMP)))) * 45 DIV 100 AS BIGINT)"
        ).alias("lo"),
        F.expr(
            "CAST(min(unix_micros(CAST(l_shipdate AS TIMESTAMP))) + (max(unix_micros(CAST(l_shipdate AS TIMESTAMP)))"
            " - min(unix_micros(CAST(l_shipdate AS TIMESTAMP)))) * 55 DIV 100 AS BIGINT)"
        ).alias("hi"),
    )
    layouts = li.select(
        F.lit("by_orderkey").alias("layout"),
        F.expr(f"l_orderkey DIV {_ZM_CHUNK}").alias("chunk"),
        us.alias("ship_us"),
    ).unionByName(
        li.select(
            F.lit("by_partkey").alias("layout"),
            F.expr(f"l_partkey DIV {_ZM_CHUNK}").alias("chunk"),
            us.alias("ship_us"),
        )
    )
    zones = layouts.groupBy("layout", "chunk").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("ship_us").cast("bigint").alias("zmin"),
        F.max("ship_us").cast("bigint").alias("zmax"),
    )
    pruned = (F.col("zmax") < F.col("lo")) | (F.col("zmin") >= F.col("hi"))
    return (
        zones.crossJoin(F.broadcast(probe))
        .groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(pruned.cast("bigint")).cast("bigint").alias("n_prunable"),
            F.expr(
                "CAST(sum(CASE WHEN zmax < lo OR zmin >= hi THEN 1 ELSE 0 END)"
                " AS BIGINT) * 1000000 DIV count(*)"
            ).alias("prune_ppm"),
            F.sum(F.when(~pruned, F.col("n_rows")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("rows_scanned"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# q311 — per-group OLS regression (closed form from exact sums)
# ---------------------------------------------------------------------------


@register(
    "q311_grouped_ols_trend",
    category="analytics",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS BIGINT) AS sxx,
         CAST(sum(CAST(round(l_extendedprice, 0) AS BIGINT)
                  * CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS syy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_extendedprice, 0) AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
FROM s ORDER BY l_returnflag
""",
)
def q311_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of whole-dollar price on
    quantity, in closed form from the five classic sufficient sums
    (n, Sx, Sy, Sxx, Syy, Sxy) — the distributed regression shape:
    one scan, map-side partial sums, a 3-group shuffle, and the
    slope/intercept/r2 derived on the reduced rows. y is quantized to
    whole dollars (round-then-cast, the cross-engine pattern) so every
    sufficient statistic is an exact BIGINT: Syy <= 1.1e10 per row
    keeps int64 headroom through a 100x scale-up, where cent-scaled
    y^2 would overflow. The final statistics combine those exact
    integers through correctly-rounded IEEE ops only (double mult/
    sub/div), so Spark and DuckDB agree bitwise before the display
    round(6). At 100 TB this is the cheapest regression possible:
    shuffle payload is 6 numbers per (group x partition)."""
    li = load_table(spark, "lineitem", sf_dir)
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice"), 0).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(y * y).cast("bigint").alias("syy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    slope = num / denx
    return s.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.round(slope, 6).alias("slope"),
        F.round((syd - slope * sxd) / F.col("n"), 6).alias("intercept"),
        F.round(num * num / (denx * deny), 6).alias("r2"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q312 — chi-square test of independence (per-cell contributions)
# ---------------------------------------------------------------------------


@register(
    "q312_chi2_independence",
    category="profile",
    oracle="""
WITH cell AS (
  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
r AS (SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS rn FROM cell GROUP BY 1),
c AS (SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS cn FROM cell GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cell)
SELECT cell.o_orderpriority, cell.o_orderstatus, cell.n,
       round(CAST(r.rn * c.cn AS DOUBLE) / t.total, 6) AS expected,
       round((cell.n - CAST(r.rn * c.cn AS DOUBLE) / t.total)
             * (cell.n - CAST(r.rn * c.cn AS DOUBLE) / t.total)
             / (CAST(r.rn * c.cn AS DOUBLE) / t.total), 6) AS chi2_term
FROM cell
JOIN r USING (o_orderpriority)
JOIN c USING (o_orderstatus)
CROSS JOIN t
ORDER BY cell.o_orderpriority, cell.o_orderstatus
""",
)
def q312_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    order status: the contingency table with per-cell expected counts
    under independence (row_total * col_total / N) and each cell's
    chi-square contribution — the categorical-association audit a
    data-quality pipeline runs to catch label leakage between
    supposedly-independent facets. Per the q288 Benford discipline,
    only per-cell terms are emitted (each an exact-integer-derived
    IEEE expression, bit-identical across engines); the suite never
    emits an unordered float SUM whose accumulation order could flip
    a last ulp. Plan: ONE scan reduced by partial agg to <=15 cells;
    marginals are window sums OVER THE CELL ROWS (re-aggregating the
    cell frame three ways would re-derive it and re-scan the base
    table per marginal — the plan guard pins scan-count == 1); the
    windows' single-partition exchange carries 15 rows. At 100 TB the
    scan dominates; everything after is constant-size."""
    o = load_table(spark, "orders", sf_dir)
    cell = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n")
    )
    # marginals as window sums OVER THE CELL ROWS (<=15 of them): one
    # parquet scan total — re-aggregating `cell` three ways would
    # re-derive it and re-scan the base table per marginal
    enriched = cell.select(
        "o_orderpriority",
        "o_orderstatus",
        "n",
        F.sum("n").over(Window.partitionBy("o_orderpriority")).cast("bigint").alias("rn"),
        F.sum("n").over(Window.partitionBy("o_orderstatus")).cast("bigint").alias("cn"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    expected = (F.col("rn") * F.col("cn")).cast("double") / F.col("total")
    diff = F.col("n") - expected
    return (
        enriched.select(
            "o_orderpriority",
            "o_orderstatus",
            "n",
            F.round(expected, 6).alias("expected"),
            F.round(diff * diff / expected, 6).alias("chi2_term"),
        )
        .orderBy("o_orderpriority", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# q315 — Benjamini-Hochberg FDR control over per-brand deviation scores
# ---------------------------------------------------------------------------

_BH_ALPHA_PPM = 200000  # alpha = 0.20 as exact ppm so thresholds stay rational
_BH_SCALE = 100000.0  # squash scale: sized so the fixture yields a reject/keep mix


@register(
    "q315_bh_fdr_control",
    category="profile",
    oracle=f"""
WITH g AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT) AS s
  FROM part GROUP BY p_brand
),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts FROM g
),
p AS (
  SELECT g.p_brand, g.n,
         1.0 / (1.0 + CAST(g.n AS DOUBLE)
                * (CAST(g.s AS DOUBLE) / g.n - CAST(t.ts AS DOUBLE) / t.tn)
                * (CAST(g.s AS DOUBLE) / g.n - CAST(t.ts AS DOUBLE) / t.tn)
                / 100000.0) AS p_value
  FROM g CROSS JOIN t
),
rk AS (
  SELECT p_brand, n, p_value,
         CAST(row_number() OVER (ORDER BY p_value, p_brand) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM p
),
kk AS (
  SELECT coalesce(max(CASE WHEN p_value * 1000000.0 * m
                                <= {_BH_ALPHA_PPM} * i THEN i END), 0) AS k
  FROM rk
)
SELECT rk.p_brand, rk.n, round(rk.p_value, 6) AS p_value, rk.i,
       round(CAST({_BH_ALPHA_PPM} * rk.i AS DOUBLE) / (1000000.0 * rk.m), 6)
         AS bh_threshold,
       rk.i <= kk.k AS rejected
FROM rk CROSS JOIN kk
ORDER BY rk.i
""",
)
def q315_bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over per-brand
    price-deviation scores: rank pseudo-p-values ascending, find the
    largest i with p_(i) <= alpha*i/m, reject ranks 1..k — the
    multiple-testing gate a profiling pipeline runs after emitting
    hundreds of per-facet test statistics (q289 Welch, q288 Benford)
    so it doesn't chase noise. The pseudo-p is a rational squashing
    1/(1 + n*t^2/1e8) of the exact-integer deviation t (cents), so
    every comparison in the BH step is a correctly-rounded IEEE
    expression on identical inputs in both engines; the alpha
    threshold is carried as exact ppm (p*1e6*m <= alpha_ppm*i) to
    keep the decision boundary rational. Plan: one scan to 25 brand
    groups, marginals from the groups, a 25-row window rank, and the
    step-up cutoff as a 1-row broadcast — O(1) beyond the scan."""
    part = load_table(spark, "part", sf_dir)
    # the 25-row brand census feeds the marginals, the p-value table
    # and (through it) the rank/cutoff steps — pinned, so part is
    # scanned ONCE instead of r5's four
    g = (
        part.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(F.col("p_retailprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("s"),
        )
        .transform(pin)
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("tn"), F.sum("s").cast("bigint").alias("ts")
    )
    dev = F.col("s").cast("double") / F.col("n") - F.col("ts").cast("double") / F.col(
        "tn"
    )
    p = (
        g.crossJoin(F.broadcast(t))
        .select(
            "p_brand",
            "n",
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.col("n").cast("double") * dev * dev / F.lit(_BH_SCALE)
                )
            ).alias("p_value"),
        )
    )
    w = Window.orderBy("p_value", "p_brand")
    rk = p.select(
        "p_brand",
        "n",
        "p_value",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    kk = rk.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") * 1000000.0 * F.col("m")
                    <= F.lit(_BH_ALPHA_PPM) * F.col("i"),
                    F.col("i"),
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("k")
    )
    return (
        rk.crossJoin(F.broadcast(kk))
        .select(
            "p_brand",
            "n",
            F.round("p_value", 6).alias("p_value"),
            "i",
            F.round(
                (F.lit(_BH_ALPHA_PPM) * F.col("i")).cast("double")
                / (F.lit(1000000.0) * F.col("m")),
                6,
            ).alias("bh_threshold"),
            (F.col("i") <= F.col("k")).alias("rejected"),
        )
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# q316 — deterministic Poisson bootstrap CI for the mean
# ---------------------------------------------------------------------------

_BOOT_B = 16
#: Poisson(1) inverse-CDF fence posts: P(X<=k) for k = 0..4, capped at 5.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


@register(
    "q316_poisson_bootstrap_ci",
    category="sampling",
    oracle=f"""
WITH e AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         ((o_orderkey % 2147483648 + (t.b + 1) * 48271 + 11) % 2147483648
          * 2654435761) % 2147483648 AS h,
         t.b
  FROM orders CROSS JOIN unnest(range(-1, {_BOOT_B})) AS t(b)
),
wts AS (
  SELECT b, cents,
         CASE WHEN b = -1 THEN 1
              WHEN CAST(h AS DOUBLE) / 2147483648 < {_POIS_CDF[0]} THEN 0
              WHEN CAST(h AS DOUBLE) / 2147483648 < {_POIS_CDF[1]} THEN 1
              WHEN CAST(h AS DOUBLE) / 2147483648 < {_POIS_CDF[2]} THEN 2
              WHEN CAST(h AS DOUBLE) / 2147483648 < {_POIS_CDF[3]} THEN 3
              WHEN CAST(h AS DOUBLE) / 2147483648 < {_POIS_CDF[4]} THEN 4
              ELSE 5 END AS w
  FROM e
),
m AS (
  SELECT b, CAST(sum(w * cents) AS DOUBLE) / sum(w) AS mean_b
  FROM wts GROUP BY b
),
arr AS (
  SELECT list(mean_b ORDER BY mean_b) AS a FROM m WHERE b >= 0
)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicates,
       (SELECT mean_b FROM m WHERE b = -1) AS mean_cents,
       a[2] AS ci_lo_cents,
       a[{_BOOT_B - 1}] AS ci_hi_cents
FROM arr
""",
)
def q316_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value:
    each row contributes Poisson(1)-many copies to each of B=16
    resamples (the single-pass bootstrap of Chamandy et al. / Kleiner
    et al.'s stream-friendly variant — the only bootstrap that works
    when the data doesn't fit anywhere), with the Poisson draw
    inverted from a deterministic Knuth multiplicative hash of
    (orderkey, replicate) so Spark and DuckDB materialize identical
    resamples. A b=-1 pseudo-replicate with weight 1 carries the
    point estimate through the same single scan. CI = 2nd/15th order
    statistics of the 16 replicate means (a sorted 16-element array,
    not a percentile estimate). Plan: ONE scan with 2(B+1) fused
    conditional aggregates — no row fan-out at all (the exploded x17
    form measured 16x at the 10x replica because the expansion
    serialized the scan); the 1-row result is unpivoted with stack()
    into (b, mean) rows. At 100 TB the B-multiplier is pure map CPU
    inside whole-stage codegen; shuffle payload is one 34-number row
    per partition."""
    o = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    # One scan, NO row fan-out: the b-th replicate's (sum w, sum w*cents)
    # are two conditional aggregates per b, all fused into a single
    # map-side combine (the exploded form measured 16x at the 10x
    # replica — the x17 row expansion serialized the scan).
    aggs = []
    for b in range(-1, _BOOT_B):
        if b == -1:
            w = F.lit(1).cast("bigint")
        else:
            h = (
                (F.col("o_orderkey") % 2147483648 + (b + 1) * 48271 + 11)
                % 2147483648
                * 2654435761
            ) % 2147483648
            u = h.cast("double") / 2147483648
            w = (
                F.when(u < _POIS_CDF[0], 0)
                .when(u < _POIS_CDF[1], 1)
                .when(u < _POIS_CDF[2], 2)
                .when(u < _POIS_CDF[3], 3)
                .when(u < _POIS_CDF[4], 4)
                .otherwise(5)
                .cast("bigint")
            )
        aggs.append(F.sum(w * cents).cast("bigint").alias(f"swy_{b + 1}"))
        aggs.append(F.sum(w).cast("bigint").alias(f"sw_{b + 1}"))
    wide = o.agg(*aggs)
    stack_expr = ", ".join(
        f"{b}L, CAST(swy_{b + 1} AS DOUBLE) / sw_{b + 1}" for b in range(-1, _BOOT_B)
    )
    m = wide.select(
        F.expr(f"stack({_BOOT_B + 1}, {stack_expr}) AS (b, mean_b)")
    )
    res = m.agg(
        F.max(F.when(F.col("b") == -1, F.col("mean_b"))).alias("mean_cents"),
        F.sort_array(
            F.collect_list(F.when(F.col("b") >= 0, F.col("mean_b")))
        ).alias("a"),
    )
    return res.select(
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
        "mean_cents",
        F.element_at("a", 2).alias("ci_lo_cents"),
        F.element_at("a", _BOOT_B - 1).alias("ci_hi_cents"),
    )


# ---------------------------------------------------------------------------
# q317 — centile (quantile) normalization across groups
# ---------------------------------------------------------------------------

_QN_BUCKETS = 20


@register(
    "q317_centile_normalization",
    category="analytics",
    oracle=f"""
WITH v AS (
  SELECT c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
         ntile({_QN_BUCKETS}) OVER (PARTITION BY c_mktsegment
                                    ORDER BY round(c_acctbal * 100, 0),
                                             c_custkey) AS bucket
  FROM customer
),
seg AS (
  SELECT c_mktsegment, bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s
  FROM v GROUP BY 1, 2
),
pooled AS (
  SELECT bucket,
         CAST(sum(n) AS BIGINT) AS pn,
         CAST(sum(s) AS BIGINT) AS ps
  FROM seg GROUP BY bucket
)
SELECT seg.c_mktsegment, seg.bucket, seg.n,
       CAST(seg.s AS DOUBLE) / seg.n AS seg_mean_cents,
       CAST(pooled.ps AS DOUBLE) / pooled.pn AS norm_mean_cents
FROM seg JOIN pooled USING (bucket)
ORDER BY seg.c_mktsegment, seg.bucket
""",
)
def q317_centile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (centile) normalization of account balances across
    market segments — the cross-batch calibration trick from
    microarray statistics that ML feature pipelines reuse to make a
    feature comparable across cohorts: rank each segment into 20
    equal-count buckets, then replace each bucket's segment-local
    mean with the POOLED mean of that bucket across all segments.
    Bucketing is ntile over a deterministic (cents, custkey) order —
    identical tie handling in both engines; both means are divisions
    of exact BIGINT sums (bit-identical, no float aggregation). Plan:
    one segment-partitioned window (the only data-sized exchange),
    then everything reduces to 5x20 bucket rows; the pooled marginal
    re-aggregates the BUCKET rows and broadcasts back. At 100 TB the
    per-segment sort is the cost — exactly the shape distributed
    ranking requires, skew-free because segments are hash-spread."""
    cust = load_table(spark, "customer", sf_dir)
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.round(F.col("c_acctbal") * 100, 0), "c_custkey"
    )
    v = cust.select(
        "c_mktsegment",
        cents.alias("cents"),
        F.ntile(_QN_BUCKETS).over(w).alias("bucket"),
    )
    seg = v.groupBy("c_mktsegment", "bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    pooled = seg.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("pn"),
        F.sum("s").cast("bigint").alias("ps"),
    )
    return (
        seg.join(F.broadcast(pooled), "bucket")
        .select(
            "c_mktsegment",
            "bucket",
            "n",
            (F.col("s").cast("double") / F.col("n")).alias("seg_mean_cents"),
            (F.col("ps").cast("double") / F.col("pn")).alias("norm_mean_cents"),
        )
        .orderBy("c_mktsegment", "bucket")
    )


# ---------------------------------------------------------------------------
# q319 — population-stability-index (PSI) drift audit
# ---------------------------------------------------------------------------

_PSI_BINS = 10


@register(
    "q319_psi_drift_audit",
    category="profile",
    oracle=f"""
WITH e AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents, ts,
         CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
mid AS (
  SELECT CAST((min(us) + max(us)) // 2 AS BIGINT) AS split_us FROM e
),
halves AS (
  SELECT cents, CASE WHEN us < split_us THEN 0 ELSE 1 END AS half
  FROM e CROSS JOIN mid
),
dom AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS c
  FROM halves WHERE half = 0 GROUP BY cents
),
cum AS (
  SELECT cents, c,
         CAST(sum(c) OVER (ORDER BY cents) AS BIGINT) AS cw,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM dom
),
fence AS (
  SELECT j AS b,
         CAST(min(CASE WHEN {_PSI_BINS} * cw >= j * n THEN cents END) AS BIGINT)
           AS hi
  FROM cum CROSS JOIN unnest(range(1, {_PSI_BINS})) AS t(j)
  GROUP BY j
),
hc AS (
  SELECT half, cents, CAST(count(*) AS BIGINT) AS nn
  FROM halves GROUP BY 1, 2
),
binned AS (
  SELECT hc.half, hc.nn,
         CAST(coalesce(min(f.b), {_PSI_BINS}) AS BIGINT) AS bin
  FROM hc LEFT JOIN fence f ON hc.cents <= f.hi
  GROUP BY hc.half, hc.cents, hc.nn
),
cnt AS (
  SELECT bin,
         CAST(sum(CASE WHEN half = 0 THEN nn ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN half = 1 THEN nn ELSE 0 END) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc
  FROM cnt
)
SELECT cnt.bin, cnt.n_ref, cnt.n_cur,
       round((CAST(cnt.n_ref + 1 AS DOUBLE) / (tot.tr + {_PSI_BINS})
              - CAST(cnt.n_cur + 1 AS DOUBLE) / (tot.tc + {_PSI_BINS}))
             * ln((CAST(cnt.n_ref + 1 AS DOUBLE) / (tot.tr + {_PSI_BINS}))
                  / (CAST(cnt.n_cur + 1 AS DOUBLE) / (tot.tc + {_PSI_BINS}))), 6)
         AS psi_term
FROM cnt CROSS JOIN tot
ORDER BY cnt.bin
""",
)
def q319_psi_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift audit: split the event stream
    at its midpoint timestamp, build decile fences from the FIRST
    half's value distribution (counting quantiles over the exact
    cents domain — the q292/q309 machinery, no percentile_approx),
    bin both halves against those fences, and emit each bin's
    Laplace-smoothed PSI contribution (p-q)*ln(p/q) — the standard
    scorecard-monitoring statistic for "did the feature distribution
    move". Per the q288/q312 discipline only per-bin terms are
    emitted (no unordered float total); ln appears only under
    round(6). The 9 fences ride a broadcast; binning is an unrolled
    least-fence comparison, not a range join. Plan: one scan to the
    value DOMAIN (distinct cents ~ bounded), fences from the domain,
    then a second scan binned map-only against broadcast fences —
    shuffle payload is 10 rows. At 100 TB both scans are
    embarrassingly parallel. The (half, cents) domain frame is
    pinned: it feeds the fences AND both bin-count
    consumers, and unpinned each consumer re-derived it from the
    parquet scan (8 scans -> 2, round-5 plan_audit)."""
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).cast("bigint").alias("us"),
    )
    mid = e.agg(
        F.expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)").alias("split_us")
    )
    halves = e.crossJoin(F.broadcast(mid)).select(
        "cents", F.when(F.col("us") < F.col("split_us"), 0).otherwise(1).alias("half")
    )
    # ONE scan reduces events to the (half, cents) domain; everything
    # downstream (reference-half domain, fences, bin counts) derives
    # from this pinned frame — the unpinned form re-scanned events 8x
    # (cnt feeds two consumers, halves feeds two, each re-deriving the
    # midpoint cross join; round-5 plan_audit finding)
    hc = (
        halves.groupBy("half", "cents")
        .agg(F.count("*").cast("bigint").alias("nn"))
        .transform(pin)
    )
    dom = hc.where(F.col("half") == 0).select("cents", F.col("nn").alias("c"))
    wc = Window.orderBy("cents")
    wt = Window.partitionBy()
    cum = dom.select(
        "cents",
        "c",
        F.sum("c").over(wc).cast("bigint").alias("cw"),
        F.sum("c").over(wt).cast("bigint").alias("n"),
    )
    fence = (
        cum.select(
            "cents",
            "cw",
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(_PSI_BINS - 1))).alias("b"),
        )
        .where(F.lit(_PSI_BINS) * F.col("cw") >= F.col("b") * F.col("n"))
        .groupBy("b")
        .agg(F.min("cents").cast("bigint").alias("hi"))
    )
    # least-fence bin id via a broadcast join on the 9 fences, computed
    # once per distinct (half, cents) domain row, then counts re-reduced
    binned = (
        hc.join(F.broadcast(fence), F.col("cents") <= F.col("hi"), "left")
        .groupBy("half", "cents", "nn")
        .agg(F.coalesce(F.min("b"), F.lit(_PSI_BINS)).cast("bigint").alias("bin"))
    )
    cnt = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("nn")).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("half") == 1, F.col("nn")).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    tot = cnt.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + _PSI_BINS)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + _PSI_BINS)
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )
