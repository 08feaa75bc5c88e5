"""Run one benchmark workload against the engine and print one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_floor --seed 1 --seconds 20 --trace 0

Workloads: ``query_floor`` and ``sensor_stream`` (see perfbench/README.md).
Each run is one process on ``local[<cores>]`` with one closed-loop caller:
it generates its inputs from ``--seed`` under ``perfbench/.work/``, starts
the engine's session, discards warm-up work, measures for ``--seconds``
seconds, checks the outputs and prints
``{"correct", "attempted", "failed", "metrics"}`` as its last line.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a
traced run and prints the per-layer metrics, writing spans, the Spark
event log and a layer table to ``perfbench/.work/trace/<workload>/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_stream  # noqa: E402
import gen_tables  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402
from tracing import Tracer, catalyst_phases, covered, read_event_log  # noqa: E402


def _process_age() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE0 = _process_age()

#: sub-second registered queries (each < 0.5 s in BATTERY.json at sf0.1),
#: one or two per family: json, time-series, window, join, aggregation,
#: cdc, stateful, text, dedup, similarity, sort
FLOOR_QUERIES = [
    "q22_sentinel_default", "q276_cusum_shift_detector", "q30_tumbling_window",
    "q116_lateral_topk", "q05_anti_join", "q09_cube", "q253_cdc_changelog_deletes",
    "q256_hysteresis_alarm", "q81_vocab_topk", "q40_dedup_exact", "q177_embedding_drift",
    "q14_global_topk",
]
STREAM_ROWS_PER_FILE = 5000
STREAM_DEVICES = 64
STREAM_WARM_FILES = 9
DRIVER_MEM = "4g"

#: per-layer metric name -> streaming progress ``durationMs`` key
STREAM_LAYERS = (("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
                 ("query_planning_ms", "queryPlanning"), ("latest_offset_ms", "latestOffset"))


PER_LAYER_UNITS = {
    "peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "execution.jobs_per_query": "count",
    "execution.stages_per_query": "count",
    "execution.executor_run_s": "s",
    "execution.gc_s": "s",
    "execution.shuffle_write_mb": "MB",
    "execution.shuffle_read_mb": "MB",
    "execution.spill_mb": "MB",
    "sources.scan_bytes": "bytes",
    "transfer.collect_s": "s",
    "transfer.result_rows": "count",
    "transfer.arrow_fallbacks": "count",
    **{f"streaming.{name}": "ms" for name, _ in STREAM_LAYERS},
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "functions.json_wire.corrupt_rows": "count",
}


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark process: its work directory, session and tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        base = os.path.join(HERE, ".work")
        self.work = os.path.join(base, f"{workload}-s{seed}-p{os.getpid()}")
        self.trace_dir = os.path.join(base, "trace", workload)
        self.spark = None
        self.setup_s = None
        self.gen_s = 0.0  # the benchmark's own input generation, kept out of setup_s

    def start_spark(self, shuffle_partitions: int | None = None):
        tmp, local = os.path.join(self.work, "tmp"), os.path.join(self.work, "local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_SCRATCH": self.work,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # Python workers (pandas UDFs, applyInPandasWithState) import the
            # engine package too; it is not installed, so put it on their path
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYTHONWARNINGS": "ignore::FutureWarning",
            # the launcher JVM that spark-submit starts first
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        })
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap: GC behaviour does not depend on how far the
            # heap happened to grow in this process. No perf-data file: a
            # JVM writes it to /tmp, outside the work directory.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
        if self.tracer.enabled:
            shutil.rmtree(self.trace_dir, ignore_errors=True)
            os.makedirs(os.path.join(self.trace_dir, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.trace_dir, "eventlog"),
                # one plain JSON-lines file, read back after the run
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from sensor_data_pipeline_spark.session import DEFAULT_SHUFFLE_PARTITIONS, get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            shuffle_partitions=shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def generate(self, make, *args, **kwargs):
        """Call an input generator, timing it so that setup_s leaves it out."""
        t = time.perf_counter()
        try:
            return make(*args, **kwargs)
        finally:
            self.gen_s += time.perf_counter() - t

    def setup_done(self) -> None:
        """setup_s: process start to here, less the input generation."""
        self.setup_s = _AGE0 + time.perf_counter() - _T0 - self.gen_s

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def end_to_end(self, throughput: float, latencies_ms: list[float]) -> dict:
        return {
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "throughput_per_s": {"value": throughput, "unit": "1/s"},
            "latency_p50_ms": {"value": statistics.median(latencies_ms), "unit": "ms"},
        }


def _materialize(df) -> tuple[int, bool]:
    """Pull the whole result to the caller over Arrow (toPandas), falling
    back to Row collect() for results Arrow cannot carry. Returns
    (rows, fell_back)."""
    try:
        return len(df.toPandas()), False
    except Exception:  # noqa: BLE001 — the fallback is the measured path
        return len(df.collect()), True


def _traced_query(run: Run, spec, data: str, op: str) -> tuple[int, bool, dict]:
    """One query with a span per layer and job groups for the event log."""
    sc, tr = run.spark.sparkContext, run.tracer
    with tr.span("query", op):
        sc.setJobGroup(f"{op}:build", spec.name)
        with tr.span("plans.build", op) as build:
            df = spec.spark(run.spark, data)
        sc.setJobGroup(f"{op}:run", spec.name)
        with tr.span("transfer.collect", op) as collect:
            rows, fell_back = _materialize(df)
    phases = catalyst_phases(df._jdf.queryExecution())
    for name, (s, e) in phases.items():
        tr.add(f"catalyst.{name}", s, e, op, parent=(build if name == "analysis" else collect)["id"])
    return rows, fell_back, {"build": build, "collect": collect, "phases": phases}


def _execution_metrics(*groups: dict) -> dict:
    """Event-log job, stage and task metrics summed over job groups."""
    total = lambda k: sum(g.get(k, 0) for g in groups)  # noqa: E731
    return {
        "execution.jobs_per_query": groups[0].get("jobs", 0),
        "execution.stages_per_query": total("stages"),
        "execution.executor_run_s": total("run_ms") / 1000,
        "execution.gc_s": total("gc_ms") / 1000,
        "execution.shuffle_write_mb": total("shuffle_write_bytes") / 2**20,
        "execution.shuffle_read_mb": (total("shuffle_read_remote") + total("shuffle_read_local")) / 2**20,
        "execution.spill_mb": total("spill_bytes") / 2**20,
        "sources.scan_bytes": total("input_bytes"),
    }


def _query_layers(run: Run, ops: list[dict]) -> dict:
    """Per-layer metrics of the timed query executions: means per query,
    except ``transfer.arrow_fallbacks`` (a count over the run)."""
    groups = read_event_log(os.path.join(run.trace_dir, "eventlog"))
    empty = {"jobs": 0, "stages": 0, "intervals": []}
    rows = []
    for o in ops:
        b, r = groups.get(f"{o['op']}:build", empty), groups.get(f"{o['op']}:run", empty)
        c = o["collect"]
        plan_s = sum(e - s for n, (s, e) in o["phases"].items() if n != "analysis")
        transfer = max(0.0, c["end"] - c["start"] - plan_s - covered(r["intervals"], c["start"], c["end"]))
        rows.append({
            "plans.build_s": o["build"]["end"] - o["build"]["start"],
            "plans.build_jobs": b["jobs"],
            **{f"catalyst.{p}_ms": 1000 * (se[1] - se[0]) for p, se in o["phases"].items()},
            **_execution_metrics(r, b),
            "transfer.collect_s": transfer,
            "transfer.result_rows": o["rows"],
        })
    out = {k: statistics.fmean(r.get(k, 0.0) for r in rows) for k in set().union(*rows)}
    out["transfer.arrow_fallbacks"] = sum(o["fell_back"] for o in ops)
    for name, _ in STREAM_LAYERS:
        out[f"streaming.{name}"] = 0.0
    out.update({"streaming.state_commit_ms": 0.0, "streaming.state_rows": 0,
                "streaming.state_memory_bytes": 0, "functions.json_wire.corrupt_rows": 0})
    return out


def _check_queries(spark, specs, data: str) -> tuple[dict[str, list[str]], set[str]]:
    """Warm-up pass 1: each query's result against its DuckDB oracle.
    Returns the wrong results' problems by query, and the queries that raised."""
    con = checks.duck_conn(data)
    wrong, raised = {}, set()
    for spec in specs:
        try:
            df = spec.spark(spark, data)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
            raised.add(spec.name)
            _log(f"{spec.name} raised: {str(e).splitlines()[0][:200]}")
            continue
        problems = checks.compare_result(rows, df.columns, *checks.oracle_result(con, spec.oracle))
        if problems:
            wrong[spec.name] = problems
            _log(f"{spec.name} FAILED its check: {'; '.join(problems)}")
    con.close()
    return wrong, raised


def query_floor(run: Run) -> dict:
    from sensor_data_pipeline_spark.plans import REGISTRY
    from sensor_data_pipeline_spark.sources.tables import load_table

    specs = [REGISTRY[n] for n in FLOOR_QUERIES]
    data = os.path.join(run.work, "data")
    run.generate(gen_tables.write_tables, data, run.seed, 0.05)
    _log(f"generated tables in {run.gen_s:.2f}s")
    spark = run.start_spark()
    _log("session started")
    for t in checks.TABLES:  # first touch of every input file, untimed
        load_table(spark, t, data).write.format("noop").mode("overwrite").save()
    run.setup_done()
    _log("set up")

    wrong, raised = _check_queries(spark, specs, data)
    for _ in range(3):  # three more warm-up passes, materialized as the timed ones
        for spec in specs:
            _materialize(spec.spark(spark, data))
    bad = set(wrong) | raised
    _log(f"warm-up done, {len(bad)} of {len(specs)} queries failed their check")
    # timed passes: whole passes over the set until --seconds have elapsed
    latencies, ops, attempted, failed, per_query = [], [], 0, 0, {}
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t_start < run.seconds:
        for spec in specs:
            attempted += 1
            op = f"p{passes}:{spec.name}"
            t = time.perf_counter()
            try:
                if run.tracer.enabled:
                    rows, fell_back, spans = _traced_query(run, spec, data, op)
                    ops.append({"op": op, "rows": rows, "fell_back": fell_back, **spans})
                else:
                    _materialize(spec.spark(spark, data))
            except Exception as e:  # noqa: BLE001
                failed += 1
                _log(f"{op} raised: {str(e).splitlines()[0][:200]}")
                continue
            dt = time.perf_counter() - t
            if spec.name in bad:
                failed += 1
            else:
                latencies.append(1000 * dt)
                per_query.setdefault(spec.name, []).append(round(1000 * dt))
        passes += 1
    wall = time.perf_counter() - t_start
    _log(f"{passes} timed passes in {wall:.2f}s; per-query ms: {per_query}")
    completed = attempted - failed
    result = checks.outcome(attempted, failed, wrong)
    if not run.tracer.enabled:
        result["metrics"] = run.end_to_end(completed / wall, latencies)
        return result
    e2e = run.end_to_end(completed / wall, latencies)
    rss = run.peak_rss_mb()
    run.stop_spark()  # flushes the event log
    result["metrics"] = _write_trace(run, e2e, {**_query_layers(run, ops), "peak_rss_mb": rss})
    return result


def _stream_pipeline(spark, src: str):
    """route_corrupt -> iso8601_parse -> per-device delta_stream_v1; the
    corrupt rows are unioned in as dead letters (their payload kept)."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline_spark.functions.json_wire import route_corrupt
    from sensor_data_pipeline_spark.functions.timefn import iso8601_parse
    from sensor_data_pipeline_spark.schemas import MQTT_MESSAGE, READINGS_WIRE, SENTINEL_MISSING
    from sensor_data_pipeline_spark.streaming.stateful import delta_stream_v1

    messages = spark.readStream.schema(MQTT_MESSAGE).option("maxFilesPerTrigger", 1).parquet(src)
    good, bad = route_corrupt(messages, "payload", READINGS_WIRE)
    readings = good.select(
        F.col("topic").alias("k"),
        iso8601_parse(F.col("timestamp_utc")).alias("tick_ts"),
        F.coalesce("temp_outdoor_celsius", F.lit(SENTINEL_MISSING)).alias("value"),
    )
    deltas = delta_stream_v1(readings).withColumn("payload", F.lit(None).cast("string"))
    dead = bad.select(
        F.col("topic").alias("k"),
        F.lit(None).cast("timestamp").alias("tick_ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("double").alias("delta"),
        "payload",
    )
    return deltas.unionByName(dead)


def _start_sink(df, out_dir: str, **trigger):
    w = (df.writeStream.format("parquet").outputMode("append")
         .option("path", os.path.join(out_dir, "sink"))
         .option("checkpointLocation", os.path.join(out_dir, "checkpoint")))
    return (w.trigger(**trigger) if trigger else w).start()


def _files_committed(query) -> int:
    """Files the query has processed: one file per micro-batch, and no
    batch without data (no watermark, no state timeout)."""
    p = query.lastProgress
    return 0 if p is None else p["batchId"] + 1


def _read_sink(sink: str) -> list[tuple]:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(sink)
    # a safe cast to whole seconds fails loudly on any sub-second stamp
    ts = pc.strftime(t["tick_ts"].cast(pa.timestamp("s")), format="%Y-%m-%dT%H:%M:%SZ")
    return list(zip(*(c.to_pylist() for c in (t["k"], ts, t["value"], t["delta"], t["payload"]))))


def sensor_stream(run: Run) -> dict:
    warm = run.generate(gen_stream.generate, os.path.join(run.work, "warm", "in"), run.seed + 1_000_003,
                        n_files=STREAM_WARM_FILES, rows_per_file=STREAM_ROWS_PER_FILE, n_devices=STREAM_DEVICES)
    # enough files for a drain twice as fast as today's
    inp = run.generate(gen_stream.generate, os.path.join(run.work, "stage"), run.seed,
                       n_files=int(2 * run.seconds) + 4, rows_per_file=STREAM_ROWS_PER_FILE,
                       n_devices=STREAM_DEVICES)
    _log(f"generated {len(inp.files)} + {len(warm.files)} files in {run.gen_s:.2f}s")
    # streaming plans run without AQE, and the state store keeps the
    # partition count of the first batch: one state partition per core
    spark = run.start_spark(shuffle_partitions=len(os.sched_getaffinity(0)))
    run.setup_done()
    _log("set up")

    # untimed warm-up drain of its own files, checkpoint and sink
    q = _start_sink(_stream_pipeline(spark, os.path.dirname(warm.files[0])), os.path.join(run.work, "warm"),
                    availableNow=True)
    q.awaitTermination()

    _log("warm-up drain done")
    src, out = os.path.join(run.work, "src"), os.path.join(run.work, "out")
    os.makedirs(src)
    listener = _ProgressListener() if run.tracer.enabled else None
    if listener:
        spark.streams.addListener(listener)
        spark.sparkContext.setJobGroup("stream:build", "pipeline build")
    with run.tracer.span("plans.build", "stream") as build:
        df = _stream_pipeline(spark, src)
    q = _start_sink(df, out)
    fed, phases = 0, {}
    t_start = time.perf_counter()
    for path in inp.files:
        os.rename(path, os.path.join(src, os.path.basename(path)))
        fed += 1
        # processAllAvailable can return on a poll that listed the
        # directory just before the rename; wait for the file's batch
        while _files_committed(q) < fed:
            q.processAllAvailable()
        if listener:
            phases[q.lastProgress["batchId"]] = catalyst_phases(q._jsq.streamingQuery().lastExecution())
        if time.perf_counter() - t_start >= run.seconds:
            break
    wall = time.perf_counter() - t_start
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()
    _log(f"timed drain: {fed} files in {wall:.2f}s: {[p['durationMs']['triggerExecution'] for p in progress]}")
    rows_in = sum(inp.rows[:fed])
    sink_rows = _read_sink(os.path.join(out, "sink"))
    problems = checks.check_stream(sink_rows, rows_in, sum(inp.corrupt[:fed]), gen_stream.replay(inp.records[:fed]))
    for p in problems:
        _log(f"stream check FAILED: {p}")
    result = checks.outcome(fed, 0, problems)
    e2e = run.end_to_end(rows_in / wall, [float(p["durationMs"]["triggerExecution"]) for p in progress])
    if not listener:
        result["metrics"] = e2e
        return result
    # the caller's read-back of the stream's output is its result transfer
    spark.sparkContext.setJobGroup("stream:transfer", "sink read-back")
    with run.tracer.span("transfer.collect", "stream") as transfer:
        n_read = len(spark.read.parquet(os.path.join(out, "sink")).toPandas())
    spark.streams.removeListener(listener)
    rss = run.peak_rss_mb()
    run.stop_spark()  # flushes the event log
    corrupt = sum(r[4] is not None for r in sink_rows)
    progress = [p for p in listener.progress if p["id"] == q.id]
    layers = _stream_layers(run, progress, phases, build, transfer, n_read, corrupt)
    result["metrics"] = _write_trace(run, e2e, {**layers, "peak_rss_mb": rss})
    return result


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress report (as JSON dicts)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _stream_layers(run: Run, progress: list[dict], phases: dict, build: dict, transfer: dict,
                   n_read: int, corrupt: int) -> dict:
    """Per-layer metrics of the timed drain: means per micro-batch, except
    the state size (after the last batch), the corrupt-row count (over
    the drain), the pipeline build and the result read-back (once each)."""
    from datetime import datetime

    batches = [p for p in progress if p["numInputRows"] > 0 and p["batchId"] in phases]
    groups = read_event_log(os.path.join(run.trace_dir, "eventlog"))
    tr, rows = run.tracer, []
    for p in batches:
        bid, dur = p["batchId"], p["durationMs"]
        op = f"b{bid}"
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        span = tr.add("stream.batch", start, start + dur["triggerExecution"] / 1000, op, None)
        # progress reports durations only: lay the trigger's steps out in
        # the order the micro-batch runs them
        t = start
        for key in ("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets"):
            tr.add(f"streaming.{key}", t, t + dur.get(key, 0) / 1000, op, span["id"])
            t += dur.get(key, 0) / 1000
        for name, (s, e) in phases[bid].items():
            tr.add(f"catalyst.{name}", s, e, op, span["id"])
        g = groups.get(f"batch:{p['id']}:{bid}", {})
        for s, e in g.get("intervals", []):
            tr.add("execution.job", s, e, op, span["id"])
        state = p["stateOperators"][0] if p["stateOperators"] else {}
        rows.append({
            **{f"catalyst.{n}_ms": 1000 * (e - s) for n, (s, e) in phases[bid].items()},
            **_execution_metrics(g),
            **{f"streaming.{name}": dur.get(key, 0) for name, key in STREAM_LAYERS},
            "streaming.state_commit_ms": state.get("commitTimeMs", 0),
        })
    out = {k: statistics.fmean(r.get(k, 0.0) for r in rows) for k in set().union(*rows)}
    last_state = batches[-1]["stateOperators"][0] if batches[-1]["stateOperators"] else {}
    out.update({
        "plans.build_s": build["end"] - build["start"],
        "plans.build_jobs": groups.get("stream:build", {}).get("jobs", 0),
        "transfer.collect_s": transfer["end"] - transfer["start"],
        "transfer.result_rows": n_read,
        "transfer.arrow_fallbacks": 0,
        "streaming.state_rows": last_state.get("numRowsTotal", 0),
        "streaming.state_memory_bytes": last_state.get("memoryUsedBytes", 0),
        "functions.json_wire.corrupt_rows": corrupt,
    })
    return out


def _write_trace(run: Run, e2e: dict, layers: dict) -> dict:
    """Write the spans and the layer table; return the per-layer metrics
    with their units."""
    metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER_UNITS.items()}
    run.tracer.write(os.path.join(run.trace_dir, "spans.jsonl"))
    with open(os.path.join(run.trace_dir, "layers.json"), "w") as f:
        json.dump({"workload": run.workload, "seed": run.seed, "seconds": run.seconds,
                   "end_to_end_traced": e2e, "per_layer": metrics}, f, indent=1)
    return metrics


WORKLOADS = {"query_floor": query_floor, "sensor_stream": sensor_stream}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout; without it there is nothing to run
    sys.path.insert(0, ROOT)
    import sensor_data_pipeline_spark.plans  # noqa: F401

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = WORKLOADS[args.workload](run)
    finally:
        run.stop_spark()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
