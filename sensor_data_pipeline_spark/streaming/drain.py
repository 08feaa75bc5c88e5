"""The engine's one way to run a stream: ``drain(writer)`` starts an
unstarted ``DataStreamWriter`` (sink, output mode, name and checkpoint
already set by the caller), runs it until its source has nothing left,
and returns the query's per-batch progress. It owns three decisions:

- State width: stateful operators get ``STATE_PARTITIONS`` partitions,
  sized to the state, not to the session's batch shuffle setting. The
  conf is flipped around ``start()`` only: pyspark 4.1.2's
  ``StreamExecution`` clones the session when it is constructed, so the
  stream keeps the value it started with and the session gets its own
  back at once. The flip is session-wide: start drains from one thread.
  A stream resumed from a checkpoint keeps the width its offset log
  recorded.
- Termination, chosen from the plan. A Python data source stream gets
  the default trigger, ``processAllAvailable()`` and ``stop()``:
  ``availableNow`` drains only its first offset (pyspark 4.1.2 has no
  admission control for Python sources). Every other plan gets
  ``availableNow`` and ``awaitTermination()``, which keeps the final
  no-data batch that advances the watermark and flushes closed windows.
- Progress: the query's ``recentProgress``. That is a ring buffer that
  keeps one report fewer than ``spark.sql.streaming.numRecentProgressUpdates``
  (99 by default), so a full buffer may have dropped a batch and
  ``drain`` raises instead of returning a partial report.

``observing(fn)`` calls ``fn(progress)`` after each drain.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.listener import StreamingQueryProgress

STATE_PARTITIONS = 4

_PARTITIONS = "spark.sql.shuffle.partitions"
_RING = "spark.sql.streaming.numRecentProgressUpdates"
_OBSERVERS: list[Callable[[list[StreamingQueryProgress]], None]] = []


@contextmanager
def observing(fn: Callable[[list[StreamingQueryProgress]], None]) -> Iterator[None]:
    _OBSERVERS.append(fn)
    try:
        yield
    finally:
        _OBSERVERS.remove(fn)


def _reads_python_source(writer: DataStreamWriter) -> bool:
    leaves = writer._df._jdf.queryExecution().analyzed().collectLeaves()
    return any(
        leaf.getClass().getSimpleName() == "StreamingRelationV2"
        and leaf.table().getClass().getSimpleName() == "PythonTable"
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
    )


def drain(writer: DataStreamWriter) -> list[StreamingQueryProgress]:
    python_source = _reads_python_source(writer)
    if not python_source:
        writer = writer.trigger(availableNow=True)
    conf = writer._spark.conf
    prev = conf.get(_PARTITIONS)
    conf.set(_PARTITIONS, str(STATE_PARTITIONS))
    try:
        query = writer.start()
    finally:
        conf.set(_PARTITIONS, prev)
    try:
        if python_source:
            query.processAllAvailable()
        else:
            query.awaitTermination()
    finally:
        query.stop()
    progress = query.recentProgress
    if len(progress) >= int(conf.get(_RING)) - 1:
        raise RuntimeError(
            f"stream {query.name or query.id} ran {len(progress)} or more micro-batches, "
            f"past what {_RING} keeps; its progress report may be missing batches"
        )
    for fn in _OBSERVERS:
        fn(progress)
    return progress
