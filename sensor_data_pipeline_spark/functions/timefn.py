"""Event-time functions (SURVEY.md §2.5, T1/T2).

The reference stamps every payload with ISO-8601 UTC
(``strftime("%Y-%m-%dT%H:%M:%SZ")``, src/modules/dd/producer.c:129-134)
and parses it back on the consumer (src/modules/dd/consumer.cpp:133-144).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.schemas import ISO8601_WIRE


def iso8601_format(ts: Column) -> Column:
    """Timestamp -> ISO-8601 UTC wire string (T1)."""
    return F.date_format(ts, ISO8601_WIRE)


def iso8601_parse(s: Column) -> Column:
    """ISO-8601 UTC wire string -> timestamp (T2). Unparseable input
    yields null (the consumer's reject path, consumer.cpp:133-144).
    ``try_to_timestamp``, not ``to_timestamp``: under ANSI mode
    (Spark 4 default) the latter aborts the job on the first malformed
    wire string — the opposite of the reference's drop-and-continue."""
    return F.try_to_timestamp(s, F.lit(ISO8601_WIRE))
