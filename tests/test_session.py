"""Session-factory tests: config policy (no SparkSession needed) and
the engine's Python worker daemon.

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
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from sensor_data_pipeline_spark import pydaemon
from sensor_data_pipeline_spark.session import PACKAGE_PARENT, _resolve_aqe_floor


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
