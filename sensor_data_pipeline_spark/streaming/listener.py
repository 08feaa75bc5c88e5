"""Streaming observability (SURVEY.md §2.6 K5/K6).

The reference logs every lifecycle transition and reading change to
syslog (``SYSLOG_ERR`` src/utils.h:7-8; mqtt on_connect/on_publish
callbacks src/modules/libs/mqtt.c:6-47). The engine analog is a
``StreamingQueryListener``: one hook for query start/progress/stop
that sees every micro-batch's rates, watermark, and state metrics —
the numbers the reference could only expose as per-tick printf lines.
"""

from __future__ import annotations

import logging

from pyspark.sql.streaming import StreamingQueryListener

logger = logging.getLogger("sensor_data_pipeline_spark.streaming")


class SyslogAnalogListener(StreamingQueryListener):
    """Logs lifecycle + per-batch progress; keeps an in-process tally
    so tests (and ops dashboards) can assert on it."""

    def __init__(self) -> None:
        self.started: list[str] = []
        self.progress_events: int = 0
        self.rows_processed: int = 0
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self.started.append(event.name or str(event.id))
        logger.info("query started: %s", event.name)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress_events += 1
        self.rows_processed += p.numInputRows
        logger.info(
            "progress %s batch=%d rows=%d", p.name, p.batchId, p.numInputRows
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        logger.debug("query idle: %s", event.id)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.append(str(event.id))
        logger.info("query terminated: %s", event.id)
