"""The drain contract (sensor_data_pipeline_spark/streaming/drain.py)."""

from __future__ import annotations

import ast
import pathlib

import pytest

import sensor_data_pipeline_spark
from sensor_data_pipeline_spark.streaming.drain import STATE_PARTITIONS, drain, observing
from tests.conftest import SF_SMOKE

_PARTITIONS = "spark.sql.shuffle.partitions"
_STREAM_CALLS = {"start", "awaitTermination", "processAllAvailable", "trigger"}


def _drains_outside_the_primitive(root: pathlib.Path) -> list[str]:
    """Stream starts and waits outside streaming/drain.py, shuffle-width
    flips under plans/, streaming/ or sources/, and ``time.sleep`` under
    plans/ or streaming/."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "streaming/drain.py":
            continue
        top = rel.split("/")[0]
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr, first = node.func.attr, node.args[0] if node.args else None
            widens = attr == "set" and isinstance(first, ast.Constant) and first.value == _PARTITIONS
            sleeps = attr == "sleep" and getattr(node.func.value, "id", None) == "time"
            if (
                attr in _STREAM_CALLS
                or (widens and top in ("plans", "streaming", "sources"))
                or (sleeps and top in ("plans", "streaming"))
            ):
                found.append(f"{rel}:{node.lineno}:{attr}")
    return found


def test_no_drain_outside_the_primitive(tmp_path):
    root = pathlib.Path(sensor_data_pipeline_spark.__file__).parent
    assert _drains_outside_the_primitive(root) == []
    (tmp_path / "plans").mkdir()
    (tmp_path / "plans" / "seeded.py").write_text(
        "def q(df):\n"
        "    df.writeStream.format('memory').queryName('x').start()\n"
        "    df.sparkSession.conf.set('spark.sql.shuffle.partitions', '4')\n"
        "    time.sleep(1)\n"
    )
    assert _drains_outside_the_primitive(tmp_path) == [
        "plans/seeded.py:2:start",
        "plans/seeded.py:3:set",
        "plans/seeded.py:4:sleep",
    ]


def test_state_width_is_bound_at_start(spark, tmp_path):
    """The stream keeps STATE_PARTITIONS for its state and its batches;
    the session has its own value back while the stream still runs."""
    default = spark.conf.get(_PARTITIONS)
    assert default != str(STATE_PARTITIONS)
    src = tmp_path / "src"
    spark.range(40).selectExpr("id % 6 AS k").write.parquet(str(src))
    counts = spark.readStream.schema("k long").parquet(str(src)).groupBy("k").count()
    seen = []

    def record(batch_df, batch_id):
        batch_df.collect()  # a stateful batch commits only once every partition ran
        seen.append((batch_df.sparkSession.conf.get(_PARTITIONS), spark.conf.get(_PARTITIONS)))

    ckpt = tmp_path / "ckpt"
    writer = counts.writeStream.foreachBatch(record).outputMode("update")
    drain(writer.option("checkpointLocation", str(ckpt)))
    assert seen and set(seen) == {(str(STATE_PARTITIONS), default)}
    state = {p.name for p in (ckpt / "state" / "0").iterdir() if p.name.isdigit()}
    assert state == {str(i) for i in range(STATE_PARTITIONS)}


def test_python_source_drains_every_offset(spark):
    """availableNow would stop a Python source after its first offset
    (80 rows); drain runs it until it reports no new offset."""
    from sensor_data_pipeline_spark.sources.sensor_sim import register_sensor_sim

    register_sensor_sim(spark)
    stream = (
        spark.readStream.format("sensor_sim")
        .option("devices", "5")
        .option("ticksPerBatch", "16")
        .option("maxTicks", "40")
        .load()
    )
    reports = []
    with observing(reports.append):
        progress = drain(stream.writeStream.format("memory").queryName("sim_drain"))
    assert reports == [progress]
    rows = [p.numInputRows for p in progress if p.numInputRows]
    assert (sum(rows), len(rows)) == (200, 3)
    assert spark.table("sim_drain").count() == 200


def test_observed_audit_sums_drain_progress(spark):
    """q183's totals are the sums of the observed metrics in the
    progress its drain returned, and equal its DuckDB oracle."""
    from sensor_data_pipeline_spark.plans import REGISTRY
    from tools.compare_oracle import duck_conn

    spec = REGISTRY["q183_stream_observe_audit"]
    reports = []
    with observing(reports.append):
        got = spec.spark(spark, SF_SMOKE).collect()
    [progress] = reports
    audits = [p.observedMetrics["wire_audit"] for p in progress if "wire_audit" in p.observedMetrics]
    assert audits
    observed = tuple(sum(m[k] or 0 for m in audits) for k in ("n_rows", "sum_cents"))
    con = duck_conn(SF_SMOKE)
    try:
        oracle = con.execute(spec.oracle).fetchall()
    finally:
        con.close()
    assert [tuple(r) for r in got] == [observed] == oracle


def test_full_progress_ring_raises(spark, tmp_path):
    """Three micro-batches through a progress ring that keeps two
    reports: the report has lost a batch, so drain raises instead of
    returning it."""
    ring = "spark.sql.streaming.numRecentProgressUpdates"
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
    prev = spark.conf.get(ring)
    spark.conf.set(ring, "3")
    try:
        with pytest.raises(RuntimeError, match="missing batches"):
            drain(stream.writeStream.format("noop"))
    finally:
        spark.conf.set(ring, prev)
