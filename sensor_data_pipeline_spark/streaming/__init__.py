"""Structured-Streaming layer (SURVEY.md §2.1 S1/S6/S8, §2.5, §2.6).

The reference's micro-batch driver loop (src/event_loops.c:33-52) IS
Spark's micro-batch engine; everything here maps the loop's
init/process/destroy lifecycle, wire serde, staleness monitor, and
fan-out sinks onto readStream/writeStream equivalents. Batch twins of
each transform live in ``plans/``/``operators/`` — correctness is
proven there against DuckDB; these streaming forms reuse the same
column expressions so the logic cannot drift.

Every stream runs through ``drain`` (streaming/drain.py): the builders
here (``cdc_apply_stream``, ``publish_stream``, ``fanout_stream``)
return unstarted writers, and ``drain`` owns the state width, the
termination rule and the per-batch progress it returns.
"""

from sensor_data_pipeline_spark.streaming.pipelines import (
    consumer_pipeline,
    producer_pipeline,
    synthetic_readings,
    windowed_event_stats,
)
from sensor_data_pipeline_spark.streaming.cdc import (
    cdc_apply_stream,
    latest_snapshot,
    merge_batch,
)
from sensor_data_pipeline_spark.streaming.drain import drain
from sensor_data_pipeline_spark.streaming.sinks import (
    FileSpoolPublisher,
    ConsolePublisher,
    Publisher,
    PublisherForeachWriter,
    fanout_stream,
    publish_stream,
)
from sensor_data_pipeline_spark.streaming.stateful import sessionize_stream, staleness_monitor_stream

__all__ = [
    "FileSpoolPublisher",
    "cdc_apply_stream",
    "latest_snapshot",
    "merge_batch",
    "ConsolePublisher",
    "Publisher",
    "PublisherForeachWriter",
    "consumer_pipeline",
    "drain",
    "fanout_stream",
    "producer_pipeline",
    "publish_stream",
    "sessionize_stream",
    "staleness_monitor_stream",
    "synthetic_readings",
    "windowed_event_stats",
]
