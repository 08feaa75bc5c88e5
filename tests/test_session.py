"""Session-factory tests: config policy (no SparkSession needed), the
engine's Python worker daemon and the checkpoint manager of local
sessions.

The AQE coalescing floor is the one config whose LOCAL-optimal value
(64k — a local task costs ~2-5 ms, so 64 KB of post-shuffle input is
already worth a task) is WRONG on a network cluster (per-task cost is
10-100x higher; Spark's 1m default is right there). The policy under
test: a deployment that forgets SPARK_GRAFT_AQE_MIN_PARTITION must get
the cluster-safe behaviour — the 64k floor applies only to local[*]
masters (VERDICT r11 item 5 / ADVICE r11).
"""

import importlib
import os
import re
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from sensor_data_pipeline_spark import pydaemon
from sensor_data_pipeline_spark.session import PACKAGE_PARENT, _local_master_conf, _resolve_aqe_floor

_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"


@pytest.fixture
def _no_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_AQE_MIN_PARTITION", raising=False)


def test_local_master_gets_64k_floor(_no_env):
    assert _resolve_aqe_floor("local[32]") == "64k"
    assert _resolve_aqe_floor("local[*]") == "64k"
    assert _resolve_aqe_floor("local") == "64k"


def test_cluster_master_keeps_spark_default(_no_env):
    # None = get_spark does not set the conf at all; Spark's 1m
    # default stays in force on every non-local deployment.
    assert _resolve_aqe_floor("spark://host:7077") is None
    assert _resolve_aqe_floor("yarn") is None
    assert _resolve_aqe_floor("k8s://https://host:443") is None


def test_env_override_wins_everywhere(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_PARTITION", "2m")
    assert _resolve_aqe_floor("local[32]") == "2m"
    assert _resolve_aqe_floor("yarn") == "2m"


def test_local_only_settings_stay_off_clusters():
    for master in ("local", "local[4]", "local[*]"):
        assert _local_master_conf(master) == {
            "spark.python.daemon.module": "sensor_data_pipeline_spark.pydaemon",
            "spark.sql.streaming.checkpointFileManagerClass": f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager",
        }
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert _local_master_conf(master) == {}


def _checkpoint_manager(spark, directory, kind=None):
    """The session's checkpoint manager for ``directory`` (what every
    offset, commit, state and sink log write goes through), or the
    named ``kind`` built over the same Hadoop configuration."""
    pkg = spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing
    path = spark._jvm.org.apache.hadoop.fs.Path(str(directory))
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    if kind is None:
        return pkg.CheckpointFileManager.create(path, hadoop_conf)
    return getattr(pkg, kind)(path, hadoop_conf)


def _write_atomic(spark, fm, path, data: bytes, overwrite: bool):
    out = fm.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(str(path)), overwrite)
    out.write(bytearray(data))
    out.close()


def _listing(directory):
    # temp files carry a random UUID: mask it so two runs compare
    return sorted(re.sub(r"[0-9a-f-]{36}", "<uuid>", n) for n in os.listdir(directory))


def test_local_checkpoints_use_filesystem_manager(spark, tmp_path):
    fm = _checkpoint_manager(spark, tmp_path)
    assert fm.getClass().getName() == f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"


def test_checkpoint_write_guard_matches_default_manager(spark, tmp_path):
    """A log entry is never overwritten: ``createAtomic(p, False)`` over
    an existing ``p`` raises on close and keeps the old bytes, exactly
    as Spark's default FileContext manager does (both leave the failed
    temp file and its .crc behind)."""
    from py4j.protocol import Py4JJavaError

    listings = {}
    for kind in ("FileContextBasedCheckpointFileManager", "FileSystemBasedCheckpointFileManager"):
        d = tmp_path / kind
        d.mkdir()
        fm = _checkpoint_manager(spark, d, kind)
        _write_atomic(spark, fm, d / "0", b"old", overwrite=False)
        with pytest.raises(Py4JJavaError, match="already exists"):
            _write_atomic(spark, fm, d / "0", b"new", overwrite=False)
        assert (d / "0").read_bytes() == b"old"
        listings[kind] = _listing(d)
    assert listings["FileSystemBasedCheckpointFileManager"] == listings["FileContextBasedCheckpointFileManager"]
    assert ".0.crc" in listings["FileSystemBasedCheckpointFileManager"]


def test_checkpoint_overwrite_keeps_first_version(spark, tmp_path):
    """Where the two managers differ: ``createAtomic(p, True)`` over an
    existing ``p``. The local file system's ``rename`` (Hive's
    ``ProxyLocalFileSystem`` in this Spark build) refuses an existing
    target, so the FileSystem manager keeps the first version (and its
    temp file) where the FileContext manager replaces it. Only
    state-store version files are written with overwrite on, and only a
    re-executed batch writes a version twice, from the same logged
    offsets; a ``local[N]`` master never retries a task."""
    fm = _checkpoint_manager(spark, tmp_path)
    _write_atomic(spark, fm, tmp_path / "1.delta", b"first", overwrite=True)
    _write_atomic(spark, fm, tmp_path / "1.delta", b"second", overwrite=True)
    assert (tmp_path / "1.delta").read_bytes() == b"first"
    assert _listing(tmp_path) == [
        "..1.delta.<uuid>.tmp.crc", ".1.delta.<uuid>.tmp", ".1.delta.crc", "1.delta"
    ]


def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_zguard_a.py", "X = 1\n")
    rereads = []

    def counting(self, _orig=pydaemon._reread):
        rereads.append(self.archive)
        _orig(self)

    monkeypatch.setattr(sys, "path", [str(archive), *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(pydaemon, "_reread", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_if_changed)
    try:
        import _zguard_a  # noqa: F401

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert rereads.count(str(archive)) <= 1

        # a changed archive is still re-read: a module added to it imports
        st = archive.stat()
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("_zguard_a.py", "X = 1\n")
            z.writestr("_zguard_b.py", "Y = 2\n")
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        import _zguard_b

        assert _zguard_b.Y == 2
    finally:
        sys.modules.pop("_zguard_a", None)
        sys.modules.pop("_zguard_b", None)


def test_python_workers_fork_from_engine_daemon(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "sensor_data_pipeline_spark.pydaemon"
    )

    @pandas_udf("string")
    def invalidator_module(x):
        import zipimport

        return x.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    got = spark.range(2).select(invalidator_module(F.col("id")).alias("m")).collect()
    assert {r.m for r in got} == {"sensor_data_pipeline_spark.pydaemon"}


def test_pandas_udf_runs_from_foreign_working_directory(tmp_path):
    # the daemon module is imported by `python -m` before any task, so
    # get_spark must put the package on the workers' path itself
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_PARENT!r})
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from sensor_data_pipeline_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)

        @pandas_udf("long")
        def plus_one(x):
            return x + 1

        print("ROWS", spark.range(1).select(plus_one(F.col("id")).alias("v")).collect())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_SCRATCH=str(tmp_path), SPARK_LOCAL_DIRS=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS [Row(v=1)]" in proc.stdout
