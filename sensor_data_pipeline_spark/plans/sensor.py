"""Reference-shaped queries (SURVEY.md §2.1-§2.7) over the `events` table.

Each query re-expresses a concrete reference operator — scalar decode
chains, JSON wire serde, sentinel defaults, explode+filter (HKO),
sign-flip sessionization, the staleness watermark, the as-of fan-in —
as a batch DataFrame plan with a DuckDB oracle. Streaming twins of the
stateful ones live in ``streaming/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.functions.scalar import (
    clamp,
    linear_derive,
    sentinel_default,
    shift_scale,
    twos_complement,
)
from sensor_data_pipeline_spark.functions.timefn import iso8601_format, iso8601_parse
from sensor_data_pipeline_spark.operators.joins import asof_join
from sensor_data_pipeline_spark.operators.sessionize import session_rates, sessionize_by_sign_flip
from sensor_data_pipeline_spark.plans.registry import register
from sensor_data_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Scalar decode chain (P2-P7): synthesize a deterministic uint16
# "register" from event_id, then run the reference's exact INA219
# decode arithmetic.
# ---------------------------------------------------------------------------
@register(
    "q20_register_decode",
    category="sensor-scalar",
    oracle="""
SELECT event_id,
       reg,
       decoded,
       round((reg >> 3) * CAST(0.004 AS DOUBLE), 6)            AS bus_voltage,
       round(decoded * CAST(0.1 AS DOUBLE), 6)                 AS current_ma,
       least(100.0, greatest(0.0, ((reg >> 3) * CAST(0.004 AS DOUBLE) * 25 - 6) / 2.4 * 100)) AS batt_pct
FROM (
  SELECT event_id,
         CAST(event_id * 2654435761 % 65536 AS BIGINT) AS reg,
         CAST(CASE WHEN event_id * 2654435761 % 65536 > 32768
                   THEN event_id * 2654435761 % 65536 - 65535
                   ELSE event_id * 2654435761 % 65536 END AS BIGINT) AS decoded
  FROM events
)
ORDER BY event_id
""",
)
def q20_register_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INA219-style register decode: two's-complement (P6), shift+scale
    (P5, bus = (reg>>3)*0.004, module_rpi_ups_hat.c:150), linear battery
    derive (P3, :252) and clamp (P4, :260-262)."""
    e = load_table(spark, "events", sf_dir)
    reg = (F.col("event_id") * F.lit(2654435761)) % 65536
    df = e.select("event_id", reg.cast("bigint").alias("reg"))
    df = df.withColumn("decoded", twos_complement(F.col("reg")).cast("bigint"))
    bus_v = shift_scale(F.col("reg"), 3, 0.004)
    return (
        df.withColumn("bus_voltage", F.round(bus_v, 6))
        .withColumn("current_ma", F.round(F.col("decoded") * 0.1, 6))
        .withColumn("batt_pct", clamp(linear_derive(bus_v * 25, 6.0, 2.4), 0.0, 100.0))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# JSON wire: extraction, defaults, corrupt routing (S6/E2/P13)
# ---------------------------------------------------------------------------
@register(
    "q21_json_extract",
    category="json",
    oracle="""
SELECT event_type,
       count(*)                                                   AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         / CAST(count(json_extract_string(props, '$.k')) AS BIGINT)           AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q21_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-wire field extraction (the consumer's JSON-pointer
    reads, consumer.cpp:124-131) with aggregation."""
    e = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).cast("bigint").alias("sum_k"),
            (F.sum(k).cast("bigint") / F.count(k).cast("bigint")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q22_sentinel_default",
    category="json",
    oracle="""
SELECT event_id,
       coalesce(CAST(json_extract_string(props, '$.missing_key') AS DOUBLE), 888.8) AS reading,
       coalesce(CAST(json_extract_string(props, '$.k') AS DOUBLE), 888.8)           AS k_reading
FROM events
WHERE event_id < 100
ORDER BY event_id
""",
)
def q22_sentinel_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-on-missing (P13): absent JSON keys become the 888.8
    sentinel exactly as the consumer substitutes (consumer.cpp:124-131)."""
    e = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 100)
    return e.select(
        "event_id",
        sentinel_default(F.get_json_object("props", "$.missing_key").cast("double"), 888.8).alias("reading"),
        sentinel_default(F.get_json_object("props", "$.k").cast("double"), 888.8).alias("k_reading"),
    ).orderBy("event_id")


@register(
    "q23_corrupt_routing",
    category="json",
    oracle="""
SELECT event_type,
       count(*) FILTER (WHERE NOT json_valid(p))  AS n_corrupt,
       count(*) FILTER (WHERE json_valid(p))      AS n_ok
FROM (SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 3) ELSE props END AS p
      FROM events)
GROUP BY event_type
ORDER BY event_type
""",
)
def q23_corrupt_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-payload rejection (E2, consumer.cpp:116-122): corrupt
    ~1/7 of payloads, parse permissively, count routed rows per type."""
    e = load_table(spark, "events", sf_dir)
    p = F.when(F.col("event_id") % 7 == 0, F.substring("props", 1, 3)).otherwise(F.col("props"))
    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("_corrupt", T.StringType())])
    parsed = e.select(
        "event_type",
        F.from_json(p, schema, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}).alias("rec"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.when(F.col("rec._corrupt").isNotNull(), 1)).alias("n_corrupt"),
            F.count(F.when(F.col("rec._corrupt").isNull(), 1)).alias("n_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "q24_iso8601_roundtrip",
    category="time",
    oracle="""
SELECT event_id,
       strftime(ts, '%Y-%m-%dT%H:%M:%SZ')                              AS wire_ts,
       CAST(epoch(strptime(strftime(ts, '%Y-%m-%dT%H:%M:%SZ'), '%Y-%m-%dT%H:%M:%SZ')) AS BIGINT) AS epoch_sec
FROM events
WHERE event_id < 500
ORDER BY event_id
""",
)
def q24_iso8601_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 wire stamp/parse roundtrip (T1/T2, producer.c:129-134,
    consumer.cpp:133-144): format to the wire string, parse back,
    take epoch seconds (sub-second truncation is wire-faithful)."""
    e = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 500)
    wire = iso8601_format(F.col("ts"))
    return e.select(
        "event_id",
        wire.alias("wire_ts"),
        F.unix_timestamp(iso8601_parse(wire)).alias("epoch_sec"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# HKO nested-document shape (P10/P11): explode array-of-structs, filter
# ---------------------------------------------------------------------------
@register(
    "q25_explode_filter",
    category="json",
    oracle="""
SELECT region, place, round(reading, 2) AS reading
FROM (
  SELECT r.r_name AS region,
         n.n_name AS place,
         n.n_nationkey * 1.5 + 10 AS reading
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
)
WHERE place IN ('NATION_3', 'NATION_7', 'NATION_12')
ORDER BY region, place
""",
)
def q25_explode_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HKO pattern (hko.cpp:102-107): build one nested document per
    region — an array of {place, reading} observations — then explode
    and keep only the wanted places. The array construction + explode
    is the point; the oracle flattens algebraically."""
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    obs = F.struct(F.col("n_name").alias("place"), (F.col("n_nationkey") * 1.5 + 10).alias("reading"))
    docs = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.collect_list(obs).alias("data"))
    )
    exploded = docs.select("region", F.explode("data").alias("o")).select(
        "region", F.col("o.place").alias("place"), F.col("o.reading").alias("reading")
    )
    return (
        exploded.filter(F.col("place").isin("NATION_3", "NATION_7", "NATION_12"))
        .select("region", "place", F.round("reading", 2).alias("reading"))
        .orderBy("region", "place")
    )


# ---------------------------------------------------------------------------
# Sessionization (A1-A5) on a signed signal derived from events
# ---------------------------------------------------------------------------
@register(
    "q26_signflip_sessions",
    category="stateful",
    oracle="""
WITH signal AS (
  SELECT user_id, event_id, ts, value - 100 AS sig,
         CAST(round(value * 100, 0) AS BIGINT) - 10000 AS sig_c
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts, sig, sig_c,
         CASE WHEN lag(sig) OVER w IS NULL
                   OR lag(sig) OVER w * sig <= 0 THEN 1 ELSE 0 END AS new_session
  FROM signal
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, event_id, sig, sig_c,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*)                                               AS n_ticks,
       sum(sig_c) / 100.0 + 0.0                               AS session_sum,
       sum(sig_c) / (100.0 * count(*)) + 0.0                  AS session_avg
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def q26_signflip_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-flip sessionization (A2, module_rpi_ups_hat.c:253-258):
    ``prev*cur <= 0`` opens a session; aggregate per session."""
    e = (
        load_table(spark, "events", sf_dir)
        .withColumn("sig", F.col("value") - 100)
        .withColumn("sig_c", F.round(F.col("value") * 100, 0).cast("bigint") - 10000)
    )
    sess = sessionize_by_sign_flip(e, ["user_id"], ["ts", "event_id"], "sig")
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            (F.sum("sig_c") / 100.0 + 0.0).alias("session_sum"),
            (F.sum("sig_c") / (100.0 * F.count(F.lit(1))) + 0.0).alias("session_avg"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "q27_session_rate_eta",
    category="stateful",
    oracle="""
WITH signal AS (
  SELECT user_id, event_id, ts, value - 100 AS sig, value AS pct
  FROM events
), flagged AS (
  SELECT *, CASE WHEN lag(sig) OVER w IS NULL OR lag(sig) OVER w * sig <= 0 THEN 1 ELSE 0 END AS new_session
  FROM signal
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), rated AS (
  SELECT user_id, event_id, session_id, pct,
         (first_value(pct) OVER ws - pct)
           / (floor(epoch(ts)) - first_value(floor(epoch(ts))) OVER ws + 1) AS use_per_sec
  FROM sessions
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, session_id,
       use_per_sec + 0.0 AS use_per_sec,
       (CASE WHEN use_per_sec != 0 THEN pct / use_per_sec END) + 0.0 AS eta_sec
FROM rated
ORDER BY user_id, event_id
""",
)
def q27_session_rate_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rate + ETA with the divide-by-zero NA guard
    (A3/A4/A5, module_rpi_ups_hat.c:200-219)."""
    e = (
        load_table(spark, "events", sf_dir)
        .withColumn("sig", F.col("value") - 100)
        .withColumn("pct", F.col("value"))
    )
    sess = sessionize_by_sign_flip(e, ["user_id"], ["ts", "event_id"], "sig")
    rated = session_rates(sess, ["user_id"], ["ts", "event_id"], "ts", "pct")
    return rated.select(
        "user_id",
        "event_id",
        "session_id",
        (F.col("use_per_sec") + 0.0).alias("use_per_sec"),
        (F.col("eta_sec") + 0.0).alias("eta_sec"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Staleness (T3) — broadcast-scalar frontier formulation
# ---------------------------------------------------------------------------
@register(
    "q28_staleness_sentinel",
    category="stateful",
    oracle="""
WITH frontier AS (SELECT max(ts) AS max_ts FROM events)
SELECT event_id,
       CASE WHEN floor(epoch(max_ts)) - floor(epoch(ts)) > 3600 THEN TRUE ELSE FALSE END AS is_stale,
       round(CASE WHEN floor(epoch(max_ts)) - floor(epoch(ts)) > 3600 THEN 888.8 ELSE value END, 2) AS reading
FROM events, frontier
WHERE user_id = 7
ORDER BY event_id
""",
)
def q28_staleness_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness watermark, batch form (T3, consumer.cpp:241-268):
    readings older than 3600 s behind the stream frontier are reset to
    the 888.8 sentinel. The frontier is a broadcast 1-row aggregate —
    no single-partition window, so the plan scales."""
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") == 7)
    frontier = load_table(spark, "events", sf_dir).agg(F.max("ts").alias("max_ts"))
    age = F.unix_timestamp("max_ts") - F.unix_timestamp("ts")
    return (
        e.join(F.broadcast(frontier))
        .select(
            "event_id",
            (age > 3600).alias("is_stale"),
            F.round(F.when(age > 3600, F.lit(888.8)).otherwise(F.col("value")), 2).alias("reading"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# As-of join (J1 generalized): latest click at or before each purchase
# ---------------------------------------------------------------------------
@register(
    "q29_asof_join",
    category="join",
    oracle="""
SELECT p.event_id,
       p.user_id,
       round(p.value, 2)  AS purchase_value,
       c.event_id         AS click_event_id,
       round(c.value, 2)  AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
""",
)
def q29_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J1 generalized, producer.c:236-265): attach the most
    recent click at-or-before each purchase per user. Implemented as
    union + last-non-null window — one shuffle, no cross join; matches
    DuckDB ASOF LEFT JOIN semantics."""
    e = load_table(spark, "events", sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_event_id"), F.col("value").alias("click_value"))
    )
    joined = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        "click_event_id",
        F.round("click_value", 2).alias("click_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Time-bucket aggregation (§2.5 generalization: tumbling window)
# ---------------------------------------------------------------------------
@register(
    "q30_tumbling_window",
    category="time",
    oracle="""
SELECT date_trunc('hour', ts)        AS bucket,
       event_type,
       count(*)                      AS n,
       sum(CAST(round(value * 100, 0) AS BIGINT)) / CAST(100.0 AS DOUBLE)          AS total
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q30_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window as a batch groupBy on the truncated
    timestamp (streaming twin: ``window(ts, '1 hour')`` with watermark,
    see streaming/pipeline.py)."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(F.round(F.col("value") * 100, 0).cast("bigint")) / 100.0).alias("total"))
        .orderBy("bucket", "event_type")
    )


@register(
    "q31_wire_roundtrip",
    category="json",
    oracle="""
SELECT event_id,
       user_id,
       round(value, 2) AS value,
       event_type
FROM events
WHERE event_id % 5 = 0
ORDER BY event_id
""",
)
def q31_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full wire roundtrip (K1 producer serialize -> S6 consumer parse):
    to_json(struct(...)) then from_json back; values must survive
    unchanged. The oracle reads the fields directly — equality proves
    the serde is lossless."""
    e = load_table(spark, "events", sf_dir).filter(F.col("event_id") % 5 == 0)
    wire_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    serialized = e.select(
        F.to_json(F.struct("event_id", "user_id", "value", "event_type")).alias("payload")
    )
    parsed = serialized.select(F.from_json("payload", wire_schema).alias("rec")).select("rec.*")
    return parsed.select(
        "event_id", "user_id", F.round("value", 2).alias("value"), "event_type"
    ).orderBy("event_id")


@register(
    "q113_asof_cogrouped",
    category="join",
    oracle="""
SELECT p.event_id,
       p.user_id,
       round(p.value, 2)  AS purchase_value,
       c.event_id         AS click_event_id,
       round(c.value, 2)  AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0) p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click' AND user_id % 10 = 0) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
""",
)
def q113_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q29's as-of join implemented through the other engine surface:
    cogrouped applyInPandas (FlatMapCoGroupsInPandas) with a
    vectorized searchsorted merge per user — same DuckDB ASOF oracle,
    so the two implementations are proven interchangeable. Covers the
    one Pandas-on-Spark API family (cogroup) the suite didn't yet
    exercise."""
    from sensor_data_pipeline_spark.operators.joins import asof_join_cogrouped

    # user subset: the query proves the cogroup surface; the scale path
    # for as-of joins is q29's JVM window form. Per-group Arrow batch
    # overhead makes full-population cogroups the wrong physical choice
    # (measured ~6s machinery floor at sf0.1 vs ~1s for q29).
    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") % 10 == 0)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_event_id"), F.col("value").alias("click_value"))
    )
    joined = asof_join_cogrouped(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        "click_event_id",
        F.round("click_value", 2).alias("click_value"),
    ).orderBy("event_id")


@register(
    "q114_custom_source",
    category="source",
    oracle="""
WITH g AS (
  SELECT d.range AS device_i, t.range AS tick
  FROM range(0, 8) d, range(0, 1000) t
),
r AS (
  SELECT 'dev' || device_i AS device,
         (device_i * 7919 + tick * 104729) % 1000 AS base
  FROM g
)
SELECT device,
       count(*) AS n_ticks,
       CAST(sum(180 + base % 150) AS BIGINT) AS sum_temp_deci,
       CAST(sum(180 + base % 150) AS BIGINT) / CAST(10.0 * count(*) AS DOUBLE) AS avg_temp_c,
       min(CAST(40.0 AS DOUBLE) + ((base * 31) % 400) / CAST(10.0 AS DOUBLE)) AS min_rh,
       max(CAST(40.0 AS DOUBLE) + ((base * 31) % 400) / CAST(10.0 AS DOUBLE)) AS max_rh
FROM r
GROUP BY device
ORDER BY device
""",
)
def q114_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """Scan through the custom Python DataSource (S2-S4 as a real
    source, sources/sensor_sim.py) and aggregate per device: the
    whole ingest-to-summary path with zero parquet involved. One
    input partition per device means the scan parallelizes across the
    fleet with no shuffle before the groupBy. The oracle regenerates
    the same deterministic readings with SQL range() — the source's
    formula IS its spec. (sf_dir unused: the source synthesizes.)"""
    from sensor_data_pipeline_spark.sources.sensor_sim import register_sensor_sim

    register_sensor_sim(spark)
    df = (
        spark.read.format("sensor_sim")
        .option("devices", "8")
        .option("ticks", "1000")
        .load()
    )
    temp_l = F.col("temp_deci_c").cast("bigint")
    n = F.count(F.lit(1))
    return (
        df.groupBy("device")
        .agg(
            n.alias("n_ticks"),
            F.sum(temp_l).alias("sum_temp_deci"),
            (F.sum(temp_l) / (10.0 * n)).alias("avg_temp_c"),
            F.min("rh").alias("min_rh"),
            F.max("rh").alias("max_rh"),
        )
        .orderBy("device")
    )


@register(
    "q125_asof_tolerance",
    category="join",
    oracle="""
SELECT p.event_id,
       p.user_id,
       round(p.value, 2) AS purchase_value,
       CASE WHEN p.ts - c.ts <= INTERVAL 10 MINUTE THEN c.event_id END AS click_event_id,
       CASE WHEN p.ts - c.ts <= INTERVAL 10 MINUTE THEN round(c.value, 2) END AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
""",
)
def q125_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: matches older than 600 s
    are nulled — the reference's 3600 s display-reset rule
    (consumer.cpp:251) applied inside the join instead of after it.
    Exercises asof_join's tolerance_sec path against an oracle that
    post-filters DuckDB's native ASOF the same way."""
    e = load_table(spark, "events", sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_event_id"), F.col("value").alias("click_value"))
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", tolerance_sec=600
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        "click_event_id",
        F.round("click_value", 2).alias("click_value"),
    ).orderBy("event_id")


@register(
    "q138_asof_forward",
    category="join",
    oracle="""
SELECT p.event_id,
       p.user_id,
       round(p.value, 2) AS purchase_value,
       c.event_id AS next_click_id,
       round(c.value, 2) AS next_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts
ORDER BY p.event_id
""",
)
def q138_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: the FIRST click at-or-after each purchase
    per user — 'next event after' semantics (next maintenance after a
    failure, next login after a reset). Same single co-partitioning as
    the backward form, mirrored window frame; DuckDB's ASOF with
    p.ts <= c.ts is the oracle."""
    e = load_table(spark, "events", sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("next_click_id"), F.col("value").alias("next_click_value"))
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", direction="forward"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
        "next_click_id",
        F.round("next_click_value", 2).alias("next_click_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# S5 fetch: the HTTP polling source end-to-end (tick -> fetch -> parse)
# ---------------------------------------------------------------------------
@register(
    "q151_http_poll_source",
    category="source",
    oracle="""
WITH g AS (
  SELECT t.range AS tick, s.range AS s
  FROM range(0, 40) t, range(0, 5) s
),
r AS (
  SELECT 'ST_' || s AS place,
         (tick * 13 + s * 7) % 100 AS k,
         CAST(10.0 AS DOUBLE) + ((tick * 13 + s * 7) % 100) / CAST(10.0 AS DOUBLE) AS reading
  FROM g
)
SELECT place,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(100 + k) AS BIGINT) AS sum_deci,
       CAST(sum(100 + k) AS BIGINT) / CAST(10.0 * count(*) AS DOUBLE) AS avg_reading,
       min(reading) AS min_reading,
       max(reading) AS max_reading
FROM r
GROUP BY place
ORDER BY place
""",
)
def q151_http_poll_source(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """S5 end-to-end: tick stream -> foreachBatch HTTP poll (injected
    canned fetcher — no network in the sandbox; the real slot is
    sources/http_poll.py default_fetcher) -> JSON parse/explode ->
    per-station rollup. Mirrors the reference's blocking GET per timer
    tick (hko.cpp:97-107): one driver-side fetch per tick, state in
    the streaming checkpoint. The canned document is a pure function
    of (tick, station) serialized with round-trip float repr, so the
    oracle regenerates it relationally — the q114 pattern for a source
    with no parquet behind it. (sf_dir unused: the source fetches.)"""
    from sensor_data_pipeline_spark.sources.http_poll import (
        canned_station_fetcher,
        run_poll_pipeline,
    )
    from sensor_data_pipeline_spark.sources.warehouse import SCRATCH

    fetched = run_poll_pipeline(
        spark,
        canned_station_fetcher,
        url="https://weather.example/obs",
        scratch=f"{SCRATCH}/http_poll",
        n_ticks=40,
        ticks_per_batch=20,  # 2 micro-batches: multi-batch semantics at half the per-batch fixed cost
    )
    deci = F.round(F.col("reading") * 10, 0).cast("bigint")
    n = F.count(F.lit(1))
    return (
        fetched.groupBy("place")
        .agg(
            n.cast("bigint").alias("n_obs"),
            F.sum(deci).alias("sum_deci"),
            (F.sum(deci) / (10.0 * n)).alias("avg_reading"),
            F.min("reading").alias("min_reading"),
            F.max("reading").alias("max_reading"),
        )
        .orderBy("place")
    )


@register(
    "q199_custom_stream_drain",
    category="source",
    oracle="""
WITH g AS (
  SELECT t.range AS tick, d.range AS device_i
  FROM range(0, 40) t, range(0, 5) d
),
r AS (
  SELECT 'dev' || device_i AS device,
         tick,
         (device_i * 7919 + tick * 104729) % 1000 AS base
  FROM g
)
SELECT device,
       CAST(count(*) AS BIGINT) AS n_ticks,
       CAST(min(tick) AS BIGINT) AS first_tick,
       CAST(max(tick) AS BIGINT) AS last_tick,
       CAST(sum(180 + base % 150) AS BIGINT) AS sum_temp_deci
FROM r
GROUP BY device
ORDER BY device
""",
)
def q199_custom_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """S1 END-TO-END as a declared query: the custom Python STREAMING
    source (sources/sensor_sim.py simpleStreamReader — the engine form
    of the reference's fixed-interval collection loop,
    src/event_loops.c:33-52) drained across MULTIPLE micro-batches
    (40 ticks at 16/batch = 3 offset advances), then summarized per
    device. Exactly-once here is structural: offsets are tick
    counters, progress is a pure function of the checkpointed offset,
    and the per-device min/max/count columns prove no tick was lost
    or duplicated across batch boundaries — the oracle regenerates
    the same readings relationally. ``streaming.drain`` runs a Python
    source until it reports no new offset, so no poll of the sink and
    no deadline. (sf_dir unused: the source synthesizes.)"""
    from sensor_data_pipeline_spark.sources.sensor_sim import register_sensor_sim
    from sensor_data_pipeline_spark.streaming.drain import drain

    register_sensor_sim(spark)
    stream = (
        spark.readStream.format("sensor_sim")
        .option("devices", "5")
        .option("ticksPerBatch", "16")
        .option("maxTicks", "40")
        .load()
    )
    drain(stream.writeStream.format("memory").queryName("q199_mem"))
    return (
        spark.table("q199_mem")
        .groupBy("device")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.min("tick").cast("bigint").alias("first_tick"),
            F.max("tick").cast("bigint").alias("last_tick"),
            F.sum(F.col("temp_deci_c").cast("bigint")).cast("bigint").alias("sum_temp_deci"),
        )
        .orderBy("device")
    )


@register(
    "q207_stream_cdc_apply",
    category="streaming",
    oracle="""
WITH g AS (
  SELECT t.range AS tick, d.range AS device_i
  FROM range(0, 48) t, range(0, 4) d
),
r AS (
  SELECT device_i, (device_i * 7919 + tick * 104729) % 1000 AS base
  FROM g
)
SELECT CAST(device_i AS BIGINT) AS key,
       CAST(sum(180 + base % 150) AS BIGINT) AS bal_cents
FROM r GROUP BY device_i ORDER BY key
""",
)
def q207_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """Streaming CDC MERGE as a declared query: the custom streaming
    source's ticks (48 at 16/batch = 3 non-empty micro-batches) flow
    through foreachBatch into the VERSIONED parquet snapshot
    (streaming/cdc.py — each epoch's state is a pure function of
    (previous snapshot, batch), so replays are idempotent), and the
    final snapshot must equal the closed-form per-device totals. This
    is `MERGE INTO target USING changes` running continuously — the
    warehouse-apply half of the reference's consumer loop — proven
    end-to-end with a relational oracle. ``streaming.drain`` runs the
    Python source until it reports no new offset, so the snapshot is
    final when it returns: no poll, no deadline, and a failed epoch
    raises. (sf_dir unused: the source synthesizes.)"""
    import shutil

    from sensor_data_pipeline_spark.sources.sensor_sim import register_sensor_sim
    from sensor_data_pipeline_spark.sources.warehouse import SCRATCH
    from sensor_data_pipeline_spark.streaming.cdc import cdc_apply_stream, latest_snapshot
    from sensor_data_pipeline_spark.streaming.drain import drain

    register_sensor_sim(spark)
    stream = (
        spark.readStream.format("sensor_sim")
        .option("devices", "4")
        .option("ticksPerBatch", "16")
        .option("maxTicks", "48")
        .load()
    )
    changes = stream.select(
        F.regexp_replace("device", "dev", "").cast("bigint").alias("key"),
        F.col("temp_deci_c").cast("bigint").alias("delta_cents"),
    )
    root = f"{SCRATCH}/cdc_stream/q207"
    shutil.rmtree(root, ignore_errors=True)
    drain(cdc_apply_stream(changes, root))
    return latest_snapshot(spark, root).orderBy("key")


_TSS_M = 8  # subsequence length
_TSS_K = 10  # results kept


@register(
    "q222_ts_subsequence_search",
    category="timeseries",
    # Distance is integer squared-L2 on centi-quantized readings, so
    # ranking is bit-stable; the query pattern is user 1's first M
    # readings in (ts, event_id) order.
    oracle=f"""
WITH q0 AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS qv,
         row_number() OVER (ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id = 1
),
pat AS (SELECT list(qv ORDER BY rn) AS pv FROM q0 WHERE rn <= {_TSS_M}),
ser AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS qv,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
  FROM events
),
win AS (
  SELECT user_id, pos, list(qv) OVER (
           PARTITION BY user_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {_TSS_M - 1} FOLLOWING) AS w
  FROM ser
),
scored AS (
  SELECT s.user_id, s.pos,
         CAST(list_sum(list_transform(range(1, {_TSS_M} + 1),
                       i -> (s.w[i] - p.pv[i]) * (s.w[i] - p.pv[i]))) AS BIGINT) AS dist
  FROM win s, pat p
  WHERE len(s.w) = {_TSS_M} AND NOT (s.user_id = 1 AND s.pos = 1)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos AS BIGINT) AS start_pos,
       dist
FROM scored
ORDER BY dist, user_id, pos
LIMIT {_TSS_K}
""",
)
def q222_ts_subsequence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the distributed
    sliding-window pattern of EDBT'19 "Time Series Similarity Search
    for Streaming Data in Distributed Systems"): find the top-10
    subsequences closest to a query pattern across every user's
    reading series. Sliding windows materialize per user via a frame-
    bounded collect_list (rows are already co-partitioned by user —
    ONE shuffle), the query pattern is broadcast, scoring is map-only
    integer L2, and the global top-k is a per-partition heap + driver
    merge (TakeOrderedAndProject), never a full sort. Production
    variant would z-normalize per window (same plan shape, float).

    Reference basis: the consumer compares the incoming reading
    window against remembered recent state per sensor
    (src/modules/dd/consumer.cpp:241-268); this generalizes "how
    similar is now to then" across the whole fleet's history.
    """
    ev = load_table(spark, "events", sf_dir)
    qv = F.round(F.col("value") * 100, 0).cast("bigint")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ser = ev.select(
        "user_id",
        qv.alias("qv"),
        F.row_number().over(w_user).alias("pos"),
    )
    win = ser.select(
        "user_id",
        "pos",
        F.collect_list("qv")
        .over(
            Window.partitionBy("user_id")
            .orderBy("pos")
            .rowsBetween(Window.currentRow, _TSS_M - 1)
        )
        .alias("w"),
    ).filter(F.size("w") == _TSS_M)
    pat = F.broadcast(
        ser.filter((F.col("user_id") == 1) & (F.col("pos") <= _TSS_M))
        .groupBy(F.lit(1).alias("_g"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "qv"))).alias("ps"))
        .select(F.transform("ps", lambda s: s["qv"]).alias("pv"))
    )
    scored = (
        win.crossJoin(pat)
        .filter(~((F.col("user_id") == 1) & (F.col("pos") == 1)))
        .select(
            "user_id",
            "pos",
            F.aggregate(
                F.zip_with("w", "pv", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    return (
        scored.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("pos").cast("bigint").alias("start_pos"),
            "dist",
        )
        .orderBy("dist", "user_id", "start_pos")
        .limit(_TSS_K)
    )


@register(
    "q284_asof_nearest",
    category="join",
    # The oracle brute-forces every (purchase, click) pair per user and
    # row_number-picks the minimum (distance, click-time) — quadratic,
    # fine for an oracle; the engine side is the one-shuffle union-
    # window plan in operators/joins.py::asof_join_nearest.
    oracle="""
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
),
cand AS (
  SELECT p.user_id, p.event_id, epoch_us(p.ts) AS t_us, epoch_us(c.cts) AS c_us,
         abs(epoch_us(c.cts) - epoch_us(p.ts)) AS dist,
         row_number() OVER (
           PARTITION BY p.user_id, p.event_id
           ORDER BY abs(epoch_us(c.cts) - epoch_us(p.ts)), epoch_us(c.cts)
         ) AS rn
  FROM p JOIN c ON p.user_id = c.user_id
)
SELECT user_id, event_id, CAST(t_us AS BIGINT) AS t_us,
       CAST(dist AS BIGINT) AS diff_us,
       CASE WHEN c_us <= t_us THEN 'backward' ELSE 'forward' END AS dir
FROM cand WHERE rn = 1
UNION ALL
SELECT p.user_id, p.event_id, CAST(epoch_us(p.ts) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
FROM p WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id)
ORDER BY user_id, event_id
""",
)
def q284_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction — every purchase pairs with the
    click closest in time either way, ties to the earlier click. This
    completes the as-of family (q29 backward, q138 forward, q125
    tolerance, q113 cogrouped, q258 point-in-time): 'nearest' is what
    sensor fusion actually wants when neither before-only nor
    after-only is privileged (reference J1 pairs the two sensor reads
    taken closest together, src/modules/dd/producer.c:236-265). The
    plan is ONE co-partitioning: both candidate directions come from
    two frames over the same keyed sort inside
    operators/joins.py::asof_join_nearest, and nearest-selection is a
    row-local comparison — no second shuffle, no pairwise join, while
    the oracle pays the quadratic candidate join to prove the values."""
    from sensor_data_pipeline_spark.operators.joins import asof_join_nearest

    ev = load_table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    j = asof_join_nearest(p, c, on="user_id", left_ts="ts", right_ts="cts")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    m_us = F.unix_micros(F.col("matched_ts").cast("timestamp"))
    return j.select(
        "user_id",
        "event_id",
        t_us.alias("t_us"),
        F.abs(m_us - t_us).cast("bigint").alias("diff_us"),
        F.when(F.col("matched_ts").isNull(), F.lit(None).cast("string"))
        .when(F.col("matched_ts") <= F.col("ts"), F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("dir"),
    ).orderBy("user_id", "event_id")
