"""Explicit StructType registry.

The reference fixes every schema at compile time as C structs
(``struct Readings`` reference src/modules/dd/producer.c:22-26,
``struct INA219_Context`` src/modules/module_rpi_ups_hat.c:59-73); the
wire schema is implicit JSON read with per-field defaults
(src/modules/dd/consumer.cpp:124-131). The engine declares everything
as StructType — streaming sources require it and it keeps Catalyst
from schema-inference scans at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-shaped stream schemas (FIXTURES.md F1-F4)
# ---------------------------------------------------------------------------

#: dd producer row: struct Readings + event-time stamp
#: (reference src/modules/dd/producer.c:22-26,129-141)
READINGS = T.StructType(
    [
        T.StructField("timestamp_utc", T.TimestampType()),
        T.StructField("temp_outdoor_celsius", T.DoubleType()),
        T.StructField("temp_indoor_celsius", T.DoubleType()),
        T.StructField("rh_outdoor", T.DoubleType()),
    ]
)

#: the JSON payload published per tick (producer.c:136-141) — timestamps
#: travel as ISO-8601 strings on the wire (producer.c:131-134).
READINGS_WIRE = T.StructType(
    [
        T.StructField("timestamp_utc", T.StringType()),
        T.StructField("temp_outdoor_celsius", T.DoubleType()),
        T.StructField("temp_indoor_celsius", T.DoubleType()),
        T.StructField("rh_outdoor", T.DoubleType()),
    ]
)

#: MQTT-shaped message envelope (topic + qos + payload string;
#: subscribe reference src/modules/dd/consumer.cpp:74-76)
MQTT_MESSAGE = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("qos", T.IntegerType()),
        T.StructField("payload", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Testdata tables (TESTDATA.md; types read from the sf0.001 parquet files)
# ---------------------------------------------------------------------------

TESTDATA_TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

#: sentinel for missing/stale readings (reference
#: src/modules/dd/consumer.cpp:124-131; producer init :217-219)
SENTINEL_MISSING = 888.8
#: staleness tolerance in seconds (reference src/modules/dd/consumer.cpp:251)
STALENESS_TOLERANCE_SEC = 3600
#: ISO-8601 wire format (reference src/modules/dd/producer.c:131-134)
ISO8601_WIRE = "yyyy-MM-dd'T'HH:mm:ss'Z'"
