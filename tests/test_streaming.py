"""Streaming-layer tests, driven deterministically: parquet file
source → memory/collecting sink, run to the end by ``streaming.drain``
(availableNow + awaitTermination). Correctness of the column logic is
already proven by the batch oracle tests; these prove the streaming plumbing
(trigger, wire serde round-trip, corrupt routing, keyed state,
publisher lifecycle)."""

from __future__ import annotations

import json
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.schemas import MQTT_MESSAGE, READINGS
from sensor_data_pipeline_spark.streaming import (
    FileSpoolPublisher,
    consumer_pipeline,
    drain,
    producer_pipeline,
    publish_stream,
    sessionize_stream,
    windowed_event_stats,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture
def stream_dir(tmp_path):
    """Write a batch DataFrame to parquet and read it back as a file
    stream — the deterministic micro-batch driver for tests."""

    def make(df, schema):
        path = str(tmp_path / "in")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.readStream.schema(schema).parquet(path)

    return make


def to_memory(stream_df, name):
    drain(stream_df.writeStream.format("memory").queryName(name))
    return stream_df.sparkSession.table(name)


def test_producer_consumer_wire_roundtrip(spark, stream_dir):
    readings = spark.createDataFrame(
        [(ts("2024-12-23 10:00:00"), 21.53, 22.17, 60.2)],
        "timestamp_utc timestamp, temp_outdoor_celsius double, temp_indoor_celsius double, rh_outdoor double",
    )
    msgs = to_memory(producer_pipeline(stream_dir(readings, READINGS)), "wire_out")
    rows = msgs.collect()
    assert len(rows) == 1
    payload = json.loads(rows[0].payload)
    # the wire stamp is ISO-8601 Z and values are rounded to 1 decimal
    # (producer.c:131-141 %.1f formatting)
    assert payload["timestamp_utc"] == "2024-12-23T10:00:00Z"
    assert payload["temp_outdoor_celsius"] == 21.5
    assert rows[0].topic == "sensor/readings" and rows[0].qos == 1

    # consumer side: parse back, event time survives the round trip
    parsed, corrupt = consumer_pipeline(stream_dir(msgs, MQTT_MESSAGE))
    out = to_memory(parsed, "consumer_out").collect()
    assert len(out) == 1
    assert out[0].event_ts == ts("2024-12-23 10:00:00")
    assert out[0].temp_outdoor_celsius == 21.5
    assert to_memory(corrupt, "corrupt_out").count() == 0


def test_consumer_corrupt_routing_and_sentinel(spark, stream_dir):
    msgs = spark.createDataFrame(
        [
            ("t", 1, '{"timestamp_utc":"2024-12-23T10:00:00Z","rh_outdoor":60.0}'),  # missing temp
            ("t", 1, "{not json"),  # corrupt
        ],
        MQTT_MESSAGE,
    )
    parsed, corrupt = consumer_pipeline(stream_dir(msgs, MQTT_MESSAGE))
    good = to_memory(parsed, "good_msgs").collect()
    bad = to_memory(corrupt, "bad_msgs").collect()
    assert len(good) == 1 and len(bad) == 1
    assert good[0].temp_outdoor_celsius == 888.8  # P13 sentinel default
    assert good[0].rh_outdoor == 60.0
    assert bad[0].payload == "{not json"  # E2: diverted, stream alive


def test_windowed_event_stats(spark, stream_dir):
    from sensor_data_pipeline_spark.schemas import TESTDATA_TABLES
    from sensor_data_pipeline_spark.sources.tables import load_table

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    out = to_memory(
        windowed_event_stats(stream_dir(events, TESTDATA_TABLES["events"])),
        "win_stats",
    )
    # batch twin: same agg expressed directly
    expected = (
        events.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .count()
    )
    # availableNow + watermark: windows strictly behind the final
    # watermark are emitted; the tail window may be withheld
    assert expected - 10 <= out.count() <= expected


def test_publish_stream_foreach_lifecycle(spark, stream_dir, tmp_path):
    spool = str(tmp_path / "spool")
    msgs = spark.createDataFrame([("top", 2, "payload-1"), ("top", 2, "payload-2")], MQTT_MESSAGE)
    stream = stream_dir(msgs, MQTT_MESSAGE)
    drain(publish_stream(stream, FileSpoolPublisher(spool), checkpoint_dir=str(tmp_path / "ckpt")))
    got = sorted(FileSpoolPublisher.read_all(spool))
    assert got == [("top", 2, "payload-1"), ("top", 2, "payload-2")]


def test_publish_checkpoint_restart_no_redelivery(spark, tmp_path):
    """QoS-2 exactly-once across restart (K2): a checkpointed publish
    query is stopped and restarted over a source that gained one new
    file. The restarted query must deliver ONLY the new message — the
    checkpoint's committed offsets fence off everything the first run
    already published (the reference gets this from MQTT QoS 2,
    src/modules/hko/hko.cpp:69-72; Spark gets it from WAL offsets +
    idempotent epoch replay)."""
    import os

    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    os.makedirs(src)

    def run_once():
        stream = spark.readStream.schema(MQTT_MESSAGE).parquet(f"{src}/f*")
        drain(publish_stream(stream, FileSpoolPublisher(spool), checkpoint_dir=ckpt))

    first = spark.createDataFrame([("top", 2, "m1"), ("top", 2, "m2")], MQTT_MESSAGE)
    first.coalesce(1).write.parquet(f"{src}/f0")
    run_once()
    assert sorted(p for _, _, p in FileSpoolPublisher.read_all(spool)) == ["m1", "m2"]

    time.sleep(1.1)  # distinct mtime so the file source sees f1 as new
    spark.createDataFrame([("top", 2, "m3")], MQTT_MESSAGE).coalesce(1).write.parquet(f"{src}/f1")
    run_once()
    # m1/m2 NOT re-delivered; only the post-restart file flows
    assert sorted(p for _, _, p in FileSpoolPublisher.read_all(spool)) == ["m1", "m2", "m3"]


def test_staleness_monitor_passthrough(spark, stream_dir):
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from sensor_data_pipeline_spark.streaming import staleness_monitor_stream

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("event_ts", TimestampType()),
            StructField("temp_outdoor_celsius", DoubleType()),
            StructField("rh_outdoor", DoubleType()),
        ]
    )
    df = spark.createDataFrame([("d0", ts("2024-12-23 10:00:00"), 21.5, 60.0)], schema)
    # 1 s tolerance so the processing-time timeout fires during the
    # test. The engine keeps scheduling state-cleanup batches even
    # after all timeouts fired (micro-batch availableNow behavior), so
    # poll the sink for the expected rows and stop explicitly instead
    # of draining to termination.
    q = (
        staleness_monitor_stream(stream_dir(df, schema), tolerance_sec=1)
        .writeStream.format("memory")
        .queryName("stale_out")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and spark.sql("SELECT * FROM stale_out").count() < 2:
            time.sleep(1)
        out = spark.sql("SELECT * FROM stale_out").orderBy("is_stale").collect()
    finally:
        q.stop()
    # fresh pass-through + the sentinel reset row (consumer.cpp:251-266, T3)
    assert [r.is_stale for r in out] == ["fresh", "stale-reset"]
    assert out[0].temp_outdoor_celsius == 21.5
    assert out[1].temp_outdoor_celsius == 888.8 and out[1].rh_outdoor == 888.8


def test_query_listener_sees_lifecycle(spark, stream_dir):
    from sensor_data_pipeline_spark.streaming.listener import SyslogAnalogListener

    listener = SyslogAnalogListener()
    spark.streams.addListener(listener)
    try:
        msgs = spark.createDataFrame([("t", 1, "x"), ("t", 1, "y")], MQTT_MESSAGE)
        to_memory(stream_dir(msgs, MQTT_MESSAGE), "listener_probe")
        deadline = time.time() + 20
        while time.time() < deadline and not listener.terminated:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert "listener_probe" in listener.started
    assert listener.progress_events >= 1
    assert listener.rows_processed >= 2
    assert len(listener.terminated) >= 1


def test_sessionize_stream_matches_batch_twin(spark, stream_dir):
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("tick_ts", TimestampType()),
            StructField("signal", DoubleType()),
            StructField("pct", DoubleType()),
        ]
    )
    # + + - - +  => sessions 1 1 2 2 3 (module_rpi_ups_hat.c:253-258)
    rows = [
        ("u", ts(f"2024-01-01 00:00:0{i}"), v, 100.0 - i)
        for i, v in enumerate([5.0, 4.0, -3.0, -2.0, 6.0])
    ]
    df = spark.createDataFrame(rows, schema)
    out = to_memory(sessionize_stream(stream_dir(df, schema)), "sessions").orderBy("tick_ts").collect()
    assert [r.session_id for r in out] == [1, 1, 2, 2, 3]
    # rate/eta arithmetic matches the batch twin's reference formula:
    # within session 2, second row: rate = (98-97)/(3-2+1) = 0.5
    assert abs(out[3].use_per_sec - 0.5) < 1e-9
    assert abs(out[3].eta_sec - 97.0 / 0.5) < 1e-9


def test_sessionize_state_survives_micro_batches(spark, tmp_path):
    """Cross-batch keyed state: the same 5-tick sign pattern as the
    single-batch twin, but delivered as three micro-batches
    (maxFilesPerTrigger=1, one parquet file each). Session numbering
    and in-session arithmetic must be identical — state (session id,
    t0, pct_t0, prev sign) carries across batch boundaries."""
    import os

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("tick_ts", TimestampType()),
            StructField("signal", DoubleType()),
            StructField("pct", DoubleType()),
        ]
    )
    rows = [
        ("u", ts(f"2024-01-01 00:00:0{i}"), v, 100.0 - i)
        for i, v in enumerate([5.0, 4.0, -3.0, -2.0, 6.0])
    ]
    path = str(tmp_path / "batched")
    os.makedirs(path)
    # one file per chunk, written oldest-first so availableNow +
    # maxFilesPerTrigger=1 replays them as 3 ordered micro-batches
    for i, chunk in enumerate([rows[0:2], rows[2:4], rows[4:5]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(f"{path}/f{i}")
        time.sleep(1.1)  # distinct mtimes: file source orders by timestamp
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/f*")
    )
    out = to_memory(sessionize_stream(stream), "sessions_mb").orderBy("tick_ts").collect()
    assert [r.session_id for r in out] == [1, 1, 2, 2, 3]
    assert abs(out[3].use_per_sec - 0.5) < 1e-9
    assert abs(out[3].eta_sec - 97.0 / 0.5) < 1e-9


@pytest.fixture
def small_arrow_chunks(spark):
    """Arrow chunks of 4 rows, so one key's micro-batch spans several
    chunks handed to the group function in input order."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "4")
    yield
    spark.conf.set(conf, prev)


def _shuffled(rows):
    import random

    rows = list(rows)
    random.Random(7).shuffle(rows)
    return rows


def test_sessionize_stream_orders_rows_across_arrow_chunks(spark, stream_dir, small_arrow_chunks):
    """One key, 40 shuffled ticks in ONE micro-batch, 4-row Arrow
    chunks: session numbering must follow tick order over the whole
    batch, not within each chunk."""
    schema = "k string, tick_ts timestamp, signal double, pct double"
    signals = [(-1.0) ** (i // 3) * (i + 1) for i in range(40)]  # sign flips every 3 ticks
    rows = [("u", ts(f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}"), v, 100.0 - i) for i, v in enumerate(signals)]
    df = spark.createDataFrame(_shuffled(rows), schema).coalesce(1)
    out = to_memory(sessionize_stream(stream_dir(df, df.schema)), "sessions_chunks").orderBy("tick_ts").collect()
    assert [r.session_id for r in out] == [i // 3 + 1 for i in range(40)]


def test_ewma_stream_orders_rows_across_arrow_chunks(spark, stream_dir, small_arrow_chunks):
    """The recursive EWMA over one key's 40 shuffled rows in ONE
    micro-batch, 4-row Arrow chunks, equals the sequential recursion
    in (tick_ts, event_id) order."""
    from sensor_data_pipeline_spark.streaming.stateful import ewma_stream

    schema = "k string, tick_ts timestamp, event_id bigint, x double"
    rows = [("u", ts(f"2024-01-01 00:00:{i // 2:02d}"), i, float((i * 37) % 11)) for i in range(40)]
    df = spark.createDataFrame(_shuffled(rows), schema).coalesce(1)
    got = {r.event_id: r.ewma for r in to_memory(ewma_stream(stream_dir(df, df.schema)), "ewma_chunks").collect()}
    want, s = {}, None
    for _, _, eid, x in rows:
        s = x / 2 if s is None else (s + x) / 2
        want[eid] = s
    assert got == want


def test_cdc_apply_stream_versioned_exactly_once(spark, tmp_path):
    """Streaming MERGE apply (q90's continuous twin): per-epoch
    immutable snapshot versions + checkpointed offsets = exactly-once.
    Three change files become epochs; a restart with a fourth file
    must apply ONLY the new changes on top of the last snapshot."""
    import os

    from sensor_data_pipeline_spark.streaming import cdc_apply_stream, latest_snapshot
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("key", LongType()), StructField("delta_cents", LongType())])
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        drain(cdc_apply_stream(stream, tgt, checkpoint_dir=ckpt))

    spark.createDataFrame([(1, 100), (2, 50)], schema).coalesce(1).write.parquet(f"{src}/f0")
    time.sleep(1.1)
    spark.createDataFrame([(1, -30), (3, 7)], schema).coalesce(1).write.parquet(f"{src}/f1")
    run()
    snap = {r.key: r.bal_cents for r in latest_snapshot(spark, tgt).collect()}
    assert snap == {1: 70, 2: 50, 3: 7}

    time.sleep(1.1)
    spark.createDataFrame([(2, 1), (4, 4)], schema).coalesce(1).write.parquet(f"{src}/f2")
    run()  # restart from checkpoint: only f2 is a new epoch
    snap = {r.key: r.bal_cents for r in latest_snapshot(spark, tgt).collect()}
    assert snap == {1: 70, 2: 51, 3: 7, 4: 4}


def test_keyed_state_survives_restart(spark, tmp_path):
    """A stateful query stopped after f0 and restarted on the same
    checkpoint after f1 arrives computes each device's first f1 delta
    from f0's last value: the restart read the per-device state back
    from the state store's delta files instead of starting empty. Every
    offset, commit, state and sink-log file of the two batches has its
    ``.crc`` sibling."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType

    from sensor_data_pipeline_spark.streaming.stateful import delta_stream_v1

    schema = StructType(
        [StructField("k", StringType()), StructField("tick_ts", TimestampType()), StructField("value", DoubleType())]
    )
    src, sink, ckpt = (tmp_path / d for d in ("src", "sink", "ckpt"))
    src.mkdir()
    f0 = [
        ("d1", ts("2024-01-01 00:00:00"), 1.0),
        ("d1", ts("2024-01-01 00:00:01"), 4.0),
        ("d1", ts("2024-01-01 00:00:02"), 9.0),
        ("d2", ts("2024-01-01 00:00:00"), 10.0),
        ("d2", ts("2024-01-01 00:00:01"), 7.0),
    ]
    f1 = [
        ("d1", ts("2024-01-01 00:00:03"), 20.0),
        ("d1", ts("2024-01-01 00:00:04"), 21.5),
        ("d2", ts("2024-01-01 00:00:02"), 0.5),
    ]

    def run_once():
        stream = delta_stream_v1(spark.readStream.schema(schema).parquet(f"{src}/f*"))
        sink_writer = stream.writeStream.format("parquet").option("path", str(sink))
        drain(sink_writer.option("checkpointLocation", str(ckpt)))

    spark.createDataFrame(f0, schema).coalesce(1).write.parquet(f"{src}/f0")
    run_once()
    time.sleep(1.1)  # distinct mtime so the file source sees f1 as new
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(f"{src}/f1")
    run_once()

    expected, prev = [], {}
    for k, t, v in sorted(f0 + f1):
        expected.append((k, t, v, None if k not in prev else v - prev[k]))
        prev[k] = v
    got = sorted(tuple(r) for r in spark.read.parquet(str(sink)).collect())
    assert got == expected
    # each device's first f1 row is diffed against its last f0 value
    first_f1 = {k: min(t for k1, t, _ in f1 if k1 == k) for k in ("d1", "d2")}
    assert [d for k, t, _, d in got if t == first_f1[k]] == [20.0 - 9.0, 0.5 - 7.0]

    logs = [ckpt / "offsets", ckpt / "commits", sink / "_spark_metadata", *(ckpt / "state" / "0").iterdir()]
    logged = [f for d in logs for f in d.iterdir() if f.is_file() and not f.name.startswith(".")]
    assert {f.name for f in logged} >= {"0", "1", "1.delta", "2.delta"}
    assert [f for f in logged if not (f.parent / f".{f.name}.crc").is_file()] == []


def test_jsonl_spool_sink_two_phase_commit_and_restart(spark, tmp_path):
    """Custom DataSourceStreamWriter sink: epochs become visible only
    via commit-time renames (no temp files survive), and a restart
    with new input appends exactly the new rows — the format-API twin
    of the foreach publisher's QoS-2 guarantee."""
    import glob
    import os

    from sensor_data_pipeline_spark.sources.spool_sink import (
        read_spool,
        register_jsonl_spool,
    )

    register_jsonl_spool(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        stream = spark.readStream.schema(MQTT_MESSAGE).parquet(f"{src}/f*")
        drain(stream.writeStream.format("jsonl_spool").option("path", out).option("checkpointLocation", ckpt))

    spark.createDataFrame([("t", 2, "m1"), ("t", 2, "m2")], MQTT_MESSAGE).coalesce(1).write.parquet(
        f"{src}/f0"
    )
    run_once()
    assert sorted(m["payload"] for m in read_spool(out)) == ["m1", "m2"]
    assert not glob.glob(f"{out}/.tmp-*")  # two-phase: no orphan temps

    time.sleep(1.1)
    spark.createDataFrame([("t", 2, "m3")], MQTT_MESSAGE).coalesce(1).write.parquet(f"{src}/f1")
    run_once()
    assert sorted(m["payload"] for m in read_spool(out)) == ["m1", "m2", "m3"]


def test_fanout_stream_two_displays(spark, stream_dir, tmp_path):
    """K3 two-display fanout: one stream drives two sinks with
    different projections (consumer.cpp:124-131 — display 0 gets
    temp_outdoor+rh, display 1 gets temp_indoor); both see every row
    of the epoch, each only its own columns."""
    from sensor_data_pipeline_spark.streaming import fanout_stream

    readings = spark.createDataFrame(
        [
            (ts("2024-12-23 10:00:00"), 21.5, 22.1, 60.2),
            (ts("2024-12-23 10:00:01"), 21.6, 22.2, 60.4),
        ],
        "timestamp_utc timestamp, temp_outdoor_celsius double, temp_indoor_celsius double, rh_outdoor double",
    )
    d0, d1 = str(tmp_path / "disp0"), str(tmp_path / "disp1")

    def writer(path):
        def write(df, batch_id):
            df.write.mode("overwrite").parquet(f"{path}/epoch{batch_id}")

        return write

    routes = {
        "display0": (lambda df: df.select("temp_outdoor_celsius", "rh_outdoor"), writer(d0)),
        "display1": (lambda df: df.select("temp_indoor_celsius"), writer(d1)),
    }
    drain(fanout_stream(stream_dir(readings, READINGS), routes, checkpoint_dir=str(tmp_path / "ckpt")))

    out0 = spark.read.parquet(f"{d0}/epoch*").collect()
    out1 = spark.read.parquet(f"{d1}/epoch*").collect()
    assert sorted((r.temp_outdoor_celsius, r.rh_outdoor) for r in out0) == [(21.5, 60.2), (21.6, 60.4)]
    assert sorted(r.temp_indoor_celsius for r in out1) == [22.1, 22.2]
    assert set(out0[0].asDict()) == {"temp_outdoor_celsius", "rh_outdoor"}


def test_streaming_native_session_window(spark, stream_dir):
    """Native gap-based session_window in STREAMING mode (q75's twin):
    sessions whose gap closed strictly behind the watermark are
    emitted in append mode. A far-future sentinel row advances the
    global watermark so every real session closes deterministically;
    the sentinel's own session stays withheld."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )
    rows = [
        (1, ts("2024-01-01 00:00:00")),
        (1, ts("2024-01-01 00:00:10")),
        (1, ts("2024-01-01 00:00:20")),  # session 1 of user 1 (3 events)
        (1, ts("2024-01-01 00:10:00")),  # session 2 of user 1 (gap > 1 min)
        (2, ts("2024-01-01 00:00:05")),  # session 1 of user 2
        (99, ts("2024-01-01 12:00:00")),  # sentinel: pushes the watermark
    ]
    stream = stream_dir(spark.createDataFrame(rows, schema), schema)
    sessions = (
        stream.withWatermark("ts", "30 seconds")
        .groupBy(F.session_window(F.col("ts"), "1 minute").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("start"), "n_events")
    )
    got = {
        (r.user_id, r.start): r.n_events
        for r in to_memory(sessions, "native_sessions").collect()
    }
    assert got == {
        (1, ts("2024-01-01 00:00:00")): 3,
        (1, ts("2024-01-01 00:10:00")): 1,
        (2, ts("2024-01-01 00:00:05")): 1,
    }


def test_complete_mode_running_aggregation(spark, tmp_path):
    """outputMode("complete"): the whole aggregation state re-emits
    each epoch, so after two micro-batches the sink holds exactly the
    batch-twin totals — the running-counter view the reference prints
    to its console sink every tick (module_rpi_ups_hat.c:187-220)."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("event_type", StringType()), StructField("amount", LongType())]
    )
    chunks = [
        [("click", 1), ("purchase", 10)],
        [("click", 2), ("click", 3), ("purchase", 20)],
    ]
    path = str(tmp_path / "complete_src")
    os.makedirs(path)
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{path}/f{i}")
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{path}/f*")
    )
    totals = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total")
    )
    drain(totals.writeStream.format("memory").queryName("complete_out").outputMode("complete"))
    got = {
        r.event_type: (r.n, r.total)
        for r in spark.table("complete_out").collect()
    }
    assert got == {"click": (3, 6), "purchase": (2, 30)}


def test_stream_stream_left_outer_interval_join(spark, stream_dir):
    """Stream-stream LEFT OUTER interval join: matched pairs emit
    immediately; an unmatched left row emits its null-padded form only
    after the watermark proves no match can still arrive. A far-future
    sentinel view advances both watermarks so the real outer row
    flushes deterministically."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("kind", StringType()),
        ]
    )
    rows = [
        (1, ts("2024-01-01 00:00:00"), "view"),   # matched by purchase at +10 min
        (1, ts("2024-01-01 00:10:00"), "purchase"),
        (2, ts("2024-01-01 00:00:00"), "view"),   # never purchased -> outer null
        (99, ts("2024-01-01 12:00:00"), "view"),  # sentinel: advances watermark
        (99, ts("2024-01-01 12:00:00"), "purchase"),
    ]
    src = stream_dir(spark.createDataFrame(rows, schema), schema)
    views = (
        src.filter(F.col("kind") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "0 seconds")
    )
    buys = (
        src.filter(F.col("kind") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "0 seconds")
    )
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    got = {
        (r.v_user, r.p_user): r.p_ts
        for r in to_memory(joined, "ssloj").collect()
    }
    assert got[(1, 1)] == ts("2024-01-01 00:10:00")   # matched pair
    assert (2, None) in got and got[(2, None)] is None  # outer-null emitted
    assert got[(99, 99)] == ts("2024-01-01 12:00:00")


def test_foreachbatch_dimension_refresh(spark, tmp_path):
    """Slowly-changing-dimension refresh inside foreachBatch: each
    micro-batch re-reads the dimension, so updates published between
    batches are visible to the very next batch — the pattern for
    enrichment dims that change while a stream runs (q70's static join
    binds the dim once; this one rebinds per epoch)."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType()), StructField("v", LongType())])
    dim_schema = "k long, label string"
    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    out: list[tuple] = []
    os.makedirs(src)

    spark.createDataFrame([(1, "old")], dim_schema).write.mode("overwrite").parquet(dim)
    spark.createDataFrame([(1, 10)], schema).coalesce(1).write.parquet(f"{src}/f0")
    time.sleep(1.1)
    spark.createDataFrame([(1, 20)], schema).coalesce(1).write.parquet(f"{src}/f1")

    def enrich(batch_df, batch_id):
        d = batch_df.sparkSession.read.schema(dim_schema).parquet(dim)
        rows = batch_df.join(d, "k").select("k", "v", "label").collect()
        out.extend((batch_id, r.k, r.v, r.label) for r in rows)
        if batch_id == 0:  # dimension update lands between the epochs
            batch_df.sparkSession.createDataFrame([(1, "new")], dim_schema).write.mode(
                "overwrite"
            ).parquet(dim)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/f*")
    )
    drain(stream.writeStream.foreachBatch(enrich).option("checkpointLocation", str(tmp_path / "ckpt")))
    by_batch = {b: lbl for b, k, v, lbl in out}
    assert by_batch == {0: "old", 1: "new"}, out


def test_stream_time_axis_matches_batch(spark):
    """Regression guard for the round-1 time-axis bug: the streaming
    events source must see the SAME min/max ts as the batch scan.
    (A wrong stream schema once declared ts as nanos-as-long and
    divided by 1000, compressing 30 days into ~43 minutes — every
    watermark/window query silently broke.)"""
    from sensor_data_pipeline_spark.plans.streaming_queries import _events_stream
    from sensor_data_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    batch = load_table(spark, "events", SF_SMOKE).agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    streamed = to_memory(_events_stream(spark, SF_SMOKE), "time_axis_mem")
    got = streamed.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert got.lo == batch.lo and got.hi == batch.hi, (got, batch)
    # the fixture really is an event-time axis spanning days, not minutes
    assert (batch.hi - batch.lo).days >= 1, batch


def test_mqtt_publisher_wiring_via_loopback(spark, stream_dir, tmp_path):
    """The REAL MqttPublisher wiring — tls_set, connect, loop_start,
    per-message publish with QoS, loop_stop, disconnect — executed
    end-to-end through the foreach sink, against the vendored loopback
    client (no broker, no paho). Round-1 gap: only the E3 fallback ran;
    the wiring itself never executed."""
    import glob
    import json
    from functools import partial

    from sensor_data_pipeline_spark.streaming.loopback import LoopbackMqttClient, read_events
    from sensor_data_pipeline_spark.streaming.sinks import MqttPublisher

    msgs = spark.createDataFrame(
        [("tele/dd/SENSOR", 1, '{"t":21.5}'), ("tele/dd/STATE", 2, '{"rh":60.0}')],
        MQTT_MESSAGE,
    )
    spool = str(tmp_path / "broker")
    pub = MqttPublisher(
        "broker.local", port=8883,
        client_factory=partial(LoopbackMqttClient, spool),
        ca_certs="/etc/ssl/ca.pem",  # goes to tls_set, recorded on connect
    )
    drain(publish_stream(stream_dir(msgs, MQTT_MESSAGE), pub))

    ev = read_events(spool)
    pubs = {(e["topic"], e["qos"], e["payload"]) for e in ev if e["kind"] == "publish"}
    assert pubs == {
        ("tele/dd/SENSOR", 1, '{"t":21.5}'),
        ("tele/dd/STATE", 2, '{"rh":60.0}'),
    }
    # per-client lifecycle: connect(tls) -> loop_start -> publishes -> loop_stop -> disconnect
    for path in glob.glob(f"{spool}/client-*.jsonl"):
        with open(path) as f:
            kinds = [json.loads(line)["kind"] for line in f]
        first, *_mid, second_last, last = kinds
        assert first == "connect" and (second_last, last) == ("loop_stop", "disconnect"), kinds
        connects = [json.loads(line) for line in open(path) if '"connect"' in line]
        assert connects[0]["tls"] is True and connects[0]["port"] == 8883
        if "publish" in kinds:
            assert kinds.index("loop_start") < kinds.index("publish"), kinds


@pytest.mark.broker
def test_mqtt_publisher_against_real_broker(spark, stream_dir):
    """The REAL paho-mqtt path of MqttPublisher (K1), end-to-end against
    a live local broker: a paho subscriber listens on a unique topic,
    the foreach sink publishes through the default (non-injected)
    client factory, and the subscriber must observe every payload.

    Runs green wherever `mosquitto` (or any MQTT broker) listens on
    127.0.0.1:1883 and paho-mqtt is installed; skips cleanly in
    environments without either — this container has neither (no
    network for pip, no broker), so here it exercises only the skip
    path. Reference semantic covered: src/modules/dd/producer.c:152-161
    (publish over a real client) — the loopback twin above pins the
    wiring; this pins the live-broker behavior."""
    import threading
    import time as _time

    mqtt = pytest.importorskip(
        "paho.mqtt.client", reason="paho-mqtt not installed (no-network container)"
    )
    import socket

    try:
        socket.create_connection(("127.0.0.1", 1883), timeout=1).close()
    except OSError:
        pytest.skip("no MQTT broker listening on 127.0.0.1:1883")

    from sensor_data_pipeline_spark.streaming.sinks import MqttPublisher, publish_stream

    topic = f"tele/sdp-test/{int(_time.time() * 1000)}"
    got: list[tuple[str, str]] = []
    done = threading.Event()

    def make_client():
        try:  # paho 2.x requires an explicit callback API version
            return mqtt.Client(mqtt.CallbackAPIVersion.VERSION2)
        except AttributeError:  # paho 1.x
            return mqtt.Client()

    sub = make_client()
    sub.on_message = lambda _c, _u, msg: (
        got.append((msg.topic, msg.payload.decode())),
        done.set() if len(got) >= 2 else None,
    )
    sub.connect("127.0.0.1", 1883, 60)
    sub.subscribe(topic + "/#", qos=1)
    sub.loop_start()
    try:
        msgs = spark.createDataFrame(
            [(topic + "/SENSOR", 1, '{"t":21.5}'), (topic + "/STATE", 1, '{"rh":60.0}')],
            MQTT_MESSAGE,
        )
        pub = MqttPublisher("127.0.0.1", port=1883, client_factory=make_client)
        drain(publish_stream(stream_dir(msgs, MQTT_MESSAGE), pub))
        assert done.wait(timeout=15), f"subscriber saw only {got}"
        assert {(t, p) for t, p in got} == {
            (topic + "/SENSOR", '{"t":21.5}'),
            (topic + "/STATE", '{"rh":60.0}'),
        }
    finally:
        sub.loop_stop()
        sub.disconnect()
