"""HTTP polling source (SURVEY.md §2.1 S5).

The reference does a blocking GET per timer tick, parses the returned
JSON document, and feeds the observations downstream
(/root/reference/src/modules/hko/hko.cpp:97-107). Spark-first, that
splits into two shapes:

- **single-endpoint poll** (the reference's literal shape): a tick
  stream drives ``foreachBatch``; each batch fetches the document(s)
  ON THE DRIVER — one endpooint, one in-flight request, exactly the
  reference's cadence — parses them into rows, and appends to the
  sink. State (which ticks were fetched) rides the streaming
  checkpoint, so a restart resumes at the right tick without
  re-fetching committed batches.
- **distributed fetch over a URL column** (the 100 TB shape): when the
  poll targets are themselves a table (millions of endpoints/shard
  URLs), the fetch is a ``mapInPandas`` over that table — one Python
  worker per partition, fetching its batch sequentially (a pooled
  HTTP session in production), never collecting URLs to the driver.

The sandbox has no network, so the fetcher is INJECTED: any picklable
``(url, tick) -> str`` (poll) or ``(url) -> str`` (column fetch).
``default_fetcher`` raises cleanly — E3 init-failure degradation —
and tests/queries use deterministic canned fetchers.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_data_pipeline_spark.streaming.drain import drain

OBS_DOC_SCHEMA = "tick long, obs array<struct<place string, reading double>>"


def default_fetcher(url: str, tick: int = 0) -> str:
    """The real-network fetcher slot. No HTTP client ships in this
    environment, so this degrades the way the reference handles a
    failed module init (E3): explicit, immediate, and typed."""
    raise NotImplementedError(
        f"no network access in this environment (would GET {url!r} at tick {tick}); "
        "inject a fetcher"
    )


def canned_station_fetcher(url: str, tick: int) -> str:
    """Deterministic stand-in for the reference's weather endpoint:
    5 stations whose readings are a pure function of (tick, station),
    serialized with Python's shortest round-trip float repr so the
    parsed doubles are bit-identical to the formula's IEEE result.
    Module-level (picklable) so it can ride a closure into foreachBatch."""
    obs = ",".join(
        f'{{"place":"ST_{s}","reading":{10.0 + ((tick * 13 + s * 7) % 100) / 10.0!r}}}'
        for s in range(5)
    )
    return f'{{"tick":{tick},"obs":[{obs}]}}'


def parse_observation_doc(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Wire JSON -> exploded observation rows (the q25 shape applied
    to fetched documents): one row per (tick, place, reading)."""
    doc = F.from_json(F.col(body_col), OBS_DOC_SCHEMA)
    return (
        df.withColumn("_doc", doc)
        .select(F.col("_doc.tick").alias("tick"), F.explode("_doc.obs").alias("o"))
        .select("tick", F.col("o.place").alias("place"), F.col("o.reading").alias("reading"))
    )


def http_poll_query(
    tick_stream: DataFrame,
    fetcher: Callable[[str, int], str],
    url: str,
    out_path: str,
    checkpoint: str,
):
    """Build (not start) the polling writeStream; ``streaming.drain``
    runs it. Each micro-batch collects its tick markers (tiny — tick
    numbers, not data), fetches one document per tick on the driver,
    parses, and appends parquet. Exactly-once: the parquet sink commit
    and the checkpoint advance together per batch id."""

    def poll(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ticks = sorted(r.tick for r in batch_df.select("tick").collect())
        if not ticks:
            return
        bodies = [(t, fetcher(url, t)) for t in ticks]
        docs = spark.createDataFrame(bodies, "tick long, body string")
        parse_observation_doc(docs).write.mode("append").parquet(out_path)

    return tick_stream.writeStream.foreachBatch(poll).option("checkpointLocation", checkpoint)


def fetch_url_column(
    df: DataFrame,
    fetcher: Callable[[str], str],
    url_col: str = "url",
    out_col: str = "body",
) -> DataFrame:
    """Distributed fetch: adds ``out_col`` with the response body for
    each row's ``url_col``. mapInPandas — Arrow batches in, the
    fetcher runs worker-side, nothing funnels through the driver. The
    fetcher must be picklable (module-level function or functools
    partial over picklable state)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} string"

    def fetch(batches):
        for pdf in batches:
            pdf[out_col] = [fetcher(u) for u in pdf[url_col]]
            yield pdf

    return df.mapInPandas(fetch, schema=out_schema)


def run_poll_pipeline(
    spark: SparkSession,
    fetcher: Callable[[str, int], str],
    url: str,
    scratch: str,
    n_ticks: int = 40,
    ticks_per_batch: int = 10,
) -> DataFrame:
    """End-to-end poll driver: materialize a tick ledger, stream it
    with one file per micro-batch (one poll burst per batch — the
    reference's timer loop), fetch+parse+append via foreachBatch, and
    return the fetched observation table. Deterministic: scratch is
    cleared so every run fetches the same ticks."""
    ticks_dir = os.path.join(scratch, "ticks")
    out_path = os.path.join(scratch, "fetched")
    checkpoint = os.path.join(scratch, "ckpt")
    for p in (ticks_dir, out_path, checkpoint):
        shutil.rmtree(p, ignore_errors=True)
    for b in range(0, n_ticks, ticks_per_batch):
        spark.range(b, min(b + ticks_per_batch, n_ticks)).select(
            F.col("id").alias("tick")
        ).coalesce(1).write.mode("overwrite").parquet(f"{ticks_dir}/batch_{b:05d}")
    tick_stream = (
        spark.readStream.schema("tick long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ticks_dir}/batch_*")
    )
    drain(http_poll_query(tick_stream, fetcher, url, out_path, checkpoint))
    return spark.read.parquet(out_path)
