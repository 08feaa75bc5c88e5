"""Streaming CDC apply: exactly-once MERGE of a change stream into a
versioned parquet snapshot via ``foreachBatch``.

The batch twin (q90_merge_upsert) proves the merge math; this module
is its continuous form — the thing a warehouse would express as
``MERGE INTO target USING changes`` on every micro-batch. Without a
transactional table format in the container, exactly-once comes from
the same two ingredients Delta/Iceberg use:

- the streaming checkpoint fences committed source offsets, and
- each epoch writes an immutable snapshot directory ``v{batch_id}``
  whose content is a pure function of (previous snapshot, batch), so a
  replayed epoch overwrites its own directory with identical bytes —
  idempotent by construction. The base snapshot for epoch N is the
  max version < N, never N itself, so a crash mid-write of v{N}
  cannot poison its own replay.

Scale notes: the per-batch merge is one key-unique full outer join
(both sides pre-aggregated); snapshots are plain parquet so the join
gets pushdown/pruning; at real scale the snapshot write would be
partitioned by key range and only changed partitions rewritten —
the versioning contract stays the same.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("bal_cents", T.LongType()),
    ]
)


def _versions(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    return sorted(
        int(m.group(1)) for p in os.listdir(root) if (m := re.fullmatch(r"v(\d+)", p))
    )


def latest_snapshot(spark: SparkSession, root: str, *, before: int | None = None) -> DataFrame:
    """The current (or pre-epoch ``before``) snapshot as a DataFrame;
    empty-but-typed when no version exists yet."""
    versions = _versions(root)
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return spark.createDataFrame([], SNAPSHOT_SCHEMA)
    return spark.read.parquet(os.path.join(root, f"v{versions[-1]}"))


def merge_batch(base: DataFrame, batch: DataFrame, key_col: str, delta_col: str) -> DataFrame:
    """One MERGE step: key-unique full outer join of the snapshot with
    the batch's per-key delta aggregate (insert new keys, update
    matched, pass through untouched)."""
    deltas = batch.groupBy(F.col(key_col).alias("_k")).agg(
        F.sum(F.col(delta_col)).cast("bigint").alias("_delta")
    )
    return base.join(deltas, base.key == F.col("_k"), "full_outer").select(
        F.coalesce(F.col("key"), F.col("_k")).alias("key"),
        (F.coalesce(F.col("bal_cents"), F.lit(0)) + F.coalesce(F.col("_delta"), F.lit(0))).alias(
            "bal_cents"
        ),
    )


def cdc_apply_stream(
    changes: DataFrame,
    target_root: str,
    *,
    key_col: str = "key",
    delta_col: str = "delta_cents",
    checkpoint_dir: str | None = None,
) -> DataStreamWriter:
    """The (unstarted) writer that applies a change stream to the
    versioned snapshot at ``target_root``; run it with
    ``streaming.drain``. Exactly-once across restarts: offsets live in
    the checkpoint, application is idempotent per epoch (see module
    doc)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = latest_snapshot(spark, target_root, before=batch_id)
        merged = merge_batch(base, batch_df, key_col, delta_col)
        merged.write.mode("overwrite").parquet(os.path.join(target_root, f"v{batch_id}"))

    writer = changes.writeStream.foreachBatch(apply_batch).queryName("cdc_apply")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
