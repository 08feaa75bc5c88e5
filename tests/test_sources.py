"""Source-layer tests: config pointer access (S7), rate-source
synthetic readings (S8), table scans (S2-S4 analog)."""

from __future__ import annotations

import json
import time

import pytest

from sensor_data_pipeline_spark.sources.config import PipelineConfig
from sensor_data_pipeline_spark.sources.tables import load_table, register_views


def test_config_pointer_access(tmp_path):
    cfg_path = tmp_path / "settings.json"
    cfg_path.write_text(
        json.dumps(
            {
                "collection_event_interval_ms": 1000,
                "dd": {"mqtt": {"host": "broker.example", "port": 8883}, "displays": [{"hz": 1000}]},
            }
        )
    )
    cfg = PipelineConfig.from_file(str(cfg_path))
    assert cfg.get("/collection_event_interval_ms") == 1000
    assert cfg.get("/dd/mqtt/host") == "broker.example"
    assert cfg.get("/dd/displays/0/hz") == 1000
    assert cfg.get("/dd/mqtt/missing", default=42) == 42  # P13 defaulting
    with pytest.raises(KeyError, match="/dd/mqtt/ca_path"):  # P12 fail-fast
        cfg.require("/dd/mqtt/host", "/dd/mqtt/ca_path")


def test_rate_source_synthetic_readings(spark):
    from sensor_data_pipeline_spark.streaming import synthetic_readings

    stream = synthetic_readings(spark, rows_per_second=50)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.sql("SELECT * FROM rate_smoke").count() < 5:
            time.sleep(0.5)
        rows = spark.sql("SELECT * FROM rate_smoke").collect()
    finally:
        q.stop()
    assert len(rows) >= 5
    # readings are deterministic in the rate counter: bounded ranges
    for r in rows:
        assert 20.0 <= r.temp_outdoor_celsius <= 21.0
        assert 22.0 <= r.temp_indoor_celsius <= 22.7
        assert 55.0 <= r.rh_outdoor <= 75.0


def test_register_views_sql_twin(spark):
    register_views(spark, "/root/testdata/sf0.001")
    via_sql = spark.sql("SELECT count(*) AS n FROM lineitem").first().n
    via_df = load_table(spark, "lineitem", "/root/testdata/sf0.001").count()
    assert via_sql == via_df > 0


def test_load_table_rejects_unknown(spark):
    with pytest.raises(KeyError):
        load_table(spark, "nonexistent", "/root/testdata/sf0.001")


def test_sensor_sim_batch_partitions_and_values(spark):
    """Custom Python DataSource (S2-S4 analog): one partition per
    device, rows follow the documented formula exactly."""
    from sensor_data_pipeline_spark.sources.sensor_sim import reading, register_sensor_sim

    register_sensor_sim(spark)
    df = spark.read.format("sensor_sim").option("devices", "3").option("ticks", "5").load()
    rows = {(r.device, r.tick): (r.ts, r.temp_deci_c, r.rh) for r in df.collect()}
    assert len(rows) == 15
    for d in range(3):
        for t in range(5):
            dev, tick, ts, temp, rh = reading(d, t)
            assert rows[(dev, tick)] == (ts, temp, rh)
    # the scan parallelizes across devices without a shuffle
    assert df.rdd.getNumPartitions() == 3


def test_sensor_sim_stream_ticks_advance(spark):
    """Streaming form: offsets are tick counters; the query drains
    ticksPerBatch ticks per micro-batch up to maxTicks, matching the
    reference's fixed-interval collection loop semantics."""
    from sensor_data_pipeline_spark.sources.sensor_sim import register_sensor_sim
    from sensor_data_pipeline_spark.streaming import drain

    register_sensor_sim(spark)
    stream = (
        spark.readStream.format("sensor_sim")
        .option("devices", "2")
        .option("ticksPerBatch", "5")
        .option("maxTicks", "10")
        .load()
    )
    drain(stream.writeStream.format("memory").queryName("sensor_sim_out"))
    out = spark.table("sensor_sim_out").collect()
    # 2 devices x 10 ticks, no duplicates, ticks 0..9 each
    assert len(out) == 20
    per_dev = {}
    for r in out:
        per_dev.setdefault(r.device, set()).add(r.tick)
    assert per_dev == {"dev0": set(range(10)), "dev1": set(range(10))}


def test_sensor_sim_stream_restart_no_redelivery(spark, tmp_path):
    """Restart-safety (the SimpleDataSourceStreamReader contract):
    progress is a pure function of the checkpointed offset, so a
    second run with the same checkpoint resumes at the committed tick
    instead of re-delivering from 0."""
    from sensor_data_pipeline_spark.sources.sensor_sim import register_sensor_sim
    from sensor_data_pipeline_spark.streaming import drain

    register_sensor_sim(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(max_ticks):
        stream = (
            spark.readStream.format("sensor_sim")
            .option("devices", "1")
            .option("ticksPerBatch", "5")
            .option("maxTicks", str(max_ticks))
            .load()
        )
        # parquet sink: supports checkpoint recovery (memory sink does not)
        sink = stream.writeStream.format("parquet").option("path", out)
        drain(sink.option("checkpointLocation", ckpt))
        return [r.tick for r in spark.read.parquet(out).collect()]

    first = run(max_ticks=10)
    assert sorted(first) == list(range(10))
    second = run(max_ticks=20)
    # cumulative file output: each tick exactly once — a reader that
    # restarted its offset counter at 0 would re-deliver ticks 0-9
    assert sorted(second) == list(range(20)), second


# ---------------------------------------------------------------------------
# S5 HTTP polling source (injected fetcher; no network in the sandbox)
# ---------------------------------------------------------------------------
def test_http_poll_pipeline_end_to_end(spark, tmp_path):
    """tick stream -> foreachBatch fetch -> parse/explode -> parquet:
    every (tick, station) observation lands exactly once and matches
    the canned formula."""
    from sensor_data_pipeline_spark.sources.http_poll import (
        canned_station_fetcher,
        run_poll_pipeline,
    )

    out = run_poll_pipeline(
        spark, canned_station_fetcher, "https://x.example/obs",
        scratch=str(tmp_path / "poll"), n_ticks=12, ticks_per_batch=4,
    )
    rows = {(r.tick, r.place): r.reading for r in out.collect()}
    assert len(rows) == 12 * 5  # each observation exactly once
    for (t, place), reading in rows.items():
        s = int(place.split("_")[1])
        assert reading == 10.0 + ((t * 13 + s * 7) % 100) / 10.0


def test_fetch_url_column_distributed(spark):
    """mapInPandas fetch over a URL column: body arrives per-row,
    schema is input + body, nothing collected to the driver."""
    from sensor_data_pipeline_spark.sources.http_poll import (
        canned_station_fetcher,
        fetch_url_column,
    )

    def one_arg_fetcher(url: str) -> str:
        return canned_station_fetcher(url, int(url.rsplit("/", 1)[1]))

    urls = spark.range(8).selectExpr("id", "concat('https://x.example/t/', id) AS url")
    fetched = fetch_url_column(urls, one_arg_fetcher)
    assert fetched.columns == ["id", "url", "body"]
    got = {r.id: r.body for r in fetched.collect()}
    assert len(got) == 8 and '"place":"ST_0"' in got[3]


def test_default_fetcher_degrades_cleanly():
    from sensor_data_pipeline_spark.sources.http_poll import default_fetcher

    with pytest.raises(NotImplementedError, match="inject a fetcher"):
        default_fetcher("https://x.example", 0)


def test_http_poll_checkpoint_no_refetch(spark, tmp_path):
    """Restart semantics: a second poll run over a tick source that
    gained one batch must fetch ONLY the new ticks — committed batches
    are fenced by the streaming checkpoint (the reference's QoS-2
    analog applied to the fetch side). The fetch log is the proof: the
    fetcher runs driver-side, so a call recorder sees every GET."""
    import os

    from sensor_data_pipeline_spark.sources.http_poll import (
        canned_station_fetcher,
        http_poll_query,
    )
    from sensor_data_pipeline_spark.streaming import drain

    calls: list[int] = []

    def recording_fetcher(url: str, tick: int) -> str:
        calls.append(tick)
        return canned_station_fetcher(url, tick)

    src = str(tmp_path / "ticks")
    out = str(tmp_path / "fetched")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        stream = (
            spark.readStream.schema("tick long").option("maxFilesPerTrigger", 1).parquet(f"{src}/f*")
        )
        drain(http_poll_query(stream, recording_fetcher, "https://x.example/obs", out, ckpt))

    spark.range(0, 5).selectExpr("id AS tick").coalesce(1).write.parquet(f"{src}/f0")
    run_once()
    assert sorted(calls) == [0, 1, 2, 3, 4]

    time.sleep(1.1)  # distinct mtime so the file source sees f1 as new
    spark.range(5, 8).selectExpr("id AS tick").coalesce(1).write.parquet(f"{src}/f1")
    run_once()
    # ticks 0-4 NOT re-fetched; output holds each observation exactly once
    assert sorted(calls) == [0, 1, 2, 3, 4, 5, 6, 7], calls
    got = spark.read.parquet(out)
    assert got.count() == 8 * 5 and got.select("tick").distinct().count() == 8


# --- jsonl_spool: the batch side of the Python DataSource WRITER ------------
# (the streaming side is covered by test_streaming.py::
# test_jsonl_spool_sink_two_phase_commit_and_restart)


def _read_success(path):
    import json
    import os

    with open(os.path.join(path, "_SUCCESS")) as f:
        return json.load(f)


def test_jsonl_spool_batch_write_roundtrip(spark, tmp_path):
    """Batch write: rows land as part-N.jsonl with the _SUCCESS batch
    manifest replaced atomically LAST; reading the manifest's parts
    reproduces the dataset and no temp spools survive."""
    import json
    import os

    from sensor_data_pipeline_spark.sources.spool_sink import register_jsonl_spool

    register_jsonl_spool(spark)
    d = str(tmp_path / "spool")
    df = spark.range(100).selectExpr("id", "id * 2 AS doubled")
    df.write.format("jsonl_spool").option("path", d).mode("append").save()

    manifest = _read_success(d)
    assert manifest["total_rows"] == 100
    rows = []
    for part in manifest["parts"]:
        with open(os.path.join(d, part["name"])) as f:
            rows += [json.loads(line) for line in f]
    assert len(rows) == 100
    assert sorted(r["id"] for r in rows) == list(range(100))
    assert all(r["doubled"] == r["id"] * 2 for r in rows)
    assert not [n for n in os.listdir(d) if n.startswith(".tmp-")]


def test_jsonl_spool_append_accumulates_overwrite_replaces(spark, tmp_path):
    import os

    from sensor_data_pipeline_spark.sources.spool_sink import register_jsonl_spool

    register_jsonl_spool(spark)
    d = str(tmp_path / "spool")
    spark.range(10).write.format("jsonl_spool").option("path", d).mode("append").save()
    spark.range(5).write.format("jsonl_spool").option("path", d).mode("append").save()
    assert _read_success(d)["total_rows"] == 15
    spark.range(3).write.format("jsonl_spool").option("path", d).mode(
        "overwrite"
    ).save()
    manifest = _read_success(d)
    assert manifest["total_rows"] == 3
    parts_on_disk = {n for n in os.listdir(d) if n.startswith("part-")}
    assert parts_on_disk == {p["name"] for p in manifest["parts"]}


def test_jsonl_spool_abort_leaves_no_partial_dataset(spark, tmp_path):
    """A task failure aborts the job: no _SUCCESS, no committed parts,
    and the sweep removed EVERY temp — including those of tasks that
    were killed mid-write when a sibling failed and so never returned
    a commit message (the reason abort cannot rely on the message
    list; a name-based cleanup left 4 orphan temps in this exact
    test)."""
    import os

    import pytest as _pytest

    from sensor_data_pipeline_spark.sources.spool_sink import register_jsonl_spool

    register_jsonl_spool(spark)
    d = str(tmp_path / "spool")
    with _pytest.raises(Exception):
        spark.range(100).write.format("jsonl_spool").option("path", d).option(
            "fail_over", "50"
        ).mode("append").save()
    leftover = os.listdir(d) if os.path.exists(d) else []
    assert "_SUCCESS" not in leftover
    assert not [n for n in leftover if n.startswith("part-")]
    assert not [n for n in leftover if n.startswith(".tmp-")]


def test_jsonl_spool_commit_reconciles_crashed_rename_orphans(spark, tmp_path):
    """A commit that crashed between the rename phase and the manifest
    swap leaves generation-named parts referenced by NO manifest; the
    next commit reconciles them away, and an overwrite crash can never
    lose the old dataset because deletion happens only AFTER the
    atomic manifest swap."""
    import os

    from sensor_data_pipeline_spark.sources.spool_sink import register_jsonl_spool

    register_jsonl_spool(spark)
    d = str(tmp_path / "spool")
    spark.range(10).write.format("jsonl_spool").option("path", d).mode("append").save()
    # simulate a crashed commit's rename phase: an unreferenced part
    stray = os.path.join(d, "part-deadbeef-0.jsonl")
    with open(stray, "w") as f:
        f.write('{"id": 999}\n')
    spark.range(5).write.format("jsonl_spool").option("path", d).mode("append").save()
    manifest = _read_success(d)
    assert manifest["total_rows"] == 15
    assert not os.path.exists(stray)
    parts_on_disk = {n for n in os.listdir(d) if n.startswith("part-")}
    assert parts_on_disk == {p["name"] for p in manifest["parts"]}
