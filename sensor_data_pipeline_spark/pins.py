"""The engine's one way to pin a frame: ``df.transform(pin, ...)``
materializes it as local checkpoint blocks, so every consumer reads the
blocks instead of re-running the upstream plan. One parameter per
decision:

- ``lazy``: fill inside the first consuming action instead of a job of
  its own. That action must read every partition; under a limit-style
  consumer Spark re-runs the build in a fill-in job (the plan audit's
  never-allowed ``lazy_pin_partial_consumer``).
- ``adaptive=False``: build with AQE off. Under AQE the checkpoint runs
  every shuffle stage at build time, even when lazy, and its leaf
  reports ``UnknownPartitioning(0)``. Consumers keep AQE. The scope
  flips a session conf: build pins from one thread.

``observing(fn)`` calls ``fn(df, lazy)`` for each pin, inside its AQE
scope, before the build; the plan digest counts pin builds this way.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_AQE = "spark.sql.adaptive.enabled"
_OBSERVERS: list[Callable[[DataFrame, bool], None]] = []


@contextmanager
def observing(fn: Callable[[DataFrame, bool], None]) -> Iterator[None]:
    _OBSERVERS.append(fn)
    try:
        yield
    finally:
        _OBSERVERS.remove(fn)


def pin(df: DataFrame, *, lazy: bool = False, adaptive: bool = True) -> DataFrame:
    conf = df.sparkSession.conf
    prev = None if adaptive else conf.get(_AQE)
    if prev is not None:
        conf.set(_AQE, "false")
    try:
        for fn in _OBSERVERS:
            fn(df, lazy)
        return df.localCheckpoint(eager=not lazy)
    finally:
        if prev is not None:
            conf.set(_AQE, prev)
