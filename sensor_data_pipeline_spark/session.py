"""SparkSession factory.

The reference resolves all configuration once at startup
(``src/utils.c:12-44`` loads a JSON config into globals before the loop
starts); the engine analog is a single, explicitly-configured
SparkSession. Defaults are tuned for the test harness (local[N]) but
every knob matters at cluster scale:

- AQE on: runtime re-planning (skew joins, coalesced shuffle
  partitions) is the single cheapest scale insurance.
- ``spark.sql.shuffle.partitions`` small locally; on a real cluster
  AQE coalesces from a high initial number, so we set the initial
  partition count instead of disabling it.
- Arrow on: every pandas_udf / applyInPandas transfer is Arrow-batched.
- Python workers fork from the engine's own daemon
  (``sensor_data_pipeline_spark.pydaemon``). On CPython 3.11 every
  Python-UDF task otherwise re-reads the zip directories of pyspark.zip,
  py4j and the spark-core jar in ``importlib.invalidate_caches()``:
  200-310 ms of CPU per task, about 1 core-second of a 4-task stream
  batch. The daemon makes that re-read lazy, as CPython 3.12 does
  (gh-103200). Local masters only: on a cluster the daemon module must
  be importable on every executor before any task ships it.
- Streaming checkpoints (offsets, commits, state deltas, sink logs) of
  local sessions go through Spark's FileSystem-based checkpoint
  manager. The default FileContext-based one renames through
  ``RawLocalFileSystem.getFileLinkStatus``, which without libhadoop
  forks a ``readlink`` process per path: about 8 per atomic write and
  some 95 per micro-batch. The FileSystem manager does the same
  exists-check-then-rename (Hadoop's own local ``renameInternal`` is no
  more atomic), and ``LocalFileSystem`` still writes every ``.crc``.
  One difference: the local file system refuses a rename onto an
  existing file, so a state version written twice keeps its first
  copy. That happens only when a batch re-executes over the same
  logged offsets; a ``local[N]`` master never retries a task. Local
  masters only: on HDFS the FileContext manager's no-overwrite rename
  is one atomic operation, which is what stops two writers that race
  for the same batch id from both committing it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
#: the package is not installed; Python workers import it from here
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _resolve_aqe_floor(resolved_master: str) -> str | None:
    """AQE coalescing minPartitionSize: explicit env override wins;
    otherwise 64k on local[*] masters only, and None (= keep Spark's
    cluster-safe 1m default) everywhere else."""
    env = os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION")
    if env is not None:
        return env
    return "64k" if resolved_master.startswith("local") else None


def _local_master_conf(resolved_master: str) -> dict[str, str]:
    """Settings only a ``local[...]`` master gets: the engine's Python
    worker daemon and the FileSystem-based checkpoint manager (see the
    module docstring). Cluster masters keep Spark's defaults."""
    if not resolved_master.startswith("local"):
        return {}
    return {
        "spark.python.daemon.module": "sensor_data_pipeline_spark.pydaemon",
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
        ),
    }


def get_spark(
    app_name: str = "sensor-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, drop ``master`` and submit normally; these configs are
    master-agnostic.
    """
    resolved_master = master or f"local[{DEFAULT_CPUS}]"
    # AQE coalescing sizes post-shuffle partitions by SHUFFLE BYTES,
    # which under-parallelizes stages whose work is dominated by
    # post-shuffle fan-out (posting-list pair explosion, per-group
    # array expansion): a 1 MB posting shuffle that explodes to
    # millions of pair rows was coalesced to ONE task (measured:
    # q41's pair stage ran 1/32 cores, 3.7s solo; at 64k it spreads
    # and runs 1.4s). The floor is the LOCAL task-overhead tradeoff
    # (a local task costs ~2-5 ms, so 64 KB of input is already
    # worth a task); on a network cluster per-task cost (scheduler
    # round-trip, shuffle fetch setup) is 10-100x higher, so Spark's
    # 1m default is right there — the 64k floor therefore applies
    # ONLY when the resolved master is local[*]; any other master
    # keeps Spark's default unless SPARK_GRAFT_AQE_MIN_PARTITION
    # overrides (a deployment that forgets the env var must get the
    # cluster-safe value, not the bench-host one). Scale-adaptive
    # either way: AQE still derives the partition COUNT from input
    # size; this only moves the floor.
    aqe_floor = _resolve_aqe_floor(resolved_master)
    # Python workers (pandas UDFs, applyInPandasWithState, the daemon
    # module) inherit the JVM's PYTHONPATH, fixed when the JVM starts
    worker_path = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if PACKAGE_PARENT not in worker_path:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [PACKAGE_PARENT, *worker_path] if p)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(resolved_master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long and convert in the source
        # layer (sources/tables.py) — same truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet scans: keep splits big enough that sf0.1 doesn't
        # explode into thousands of tiny tasks, small enough that a
        # 100 TB table still parallelizes across every executor.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # managed tables (bucketing needs saveAsTable) go to scratch,
        # never the repo working dir
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/sdp_spark_warehouse") + "/managed",
        )
    )
    if aqe_floor is not None:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", aqe_floor
        )
    for k, v in {**_local_master_conf(resolved_master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
