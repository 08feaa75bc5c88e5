"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
once per task. On CPython 3.11 that makes every zipimporter in
``sys.path_importer_cache`` re-read its whole zip central directory in pure
Python: pyspark.zip, py4j and the spark-core jar, 200-310 ms of CPU per task
before any work. CPython 3.12 made the invalidation lazy (gh-103200). This
daemon re-reads an archive only when its ``(st_mtime_ns, st_size)`` stamp has
changed or cannot be read, then runs pyspark's own daemon; forked workers
inherit the guard.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads ``self.archive``
    only when its stamp changed since this importer last re-read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    # runpy runs this file as __main__; take the guard from the module
    # under its package name so the patched method names this module
    from pyspark import daemon

    from sensor_data_pipeline_spark.pydaemon import invalidate_if_changed as _guard

    zipimport.zipimporter.invalidate_caches = _guard
    daemon.manager()
