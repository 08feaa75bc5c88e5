"""Distributed global prefix sums (scan) without a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` collapses the whole
dataset into ONE task — the canonical Spark scaling trap for running
totals. The operator here computes the same result with the classic
two-pass scan:

1. range-repartition on the order key so partitions hold contiguous
   key ranges,
2. an intra-partition running sum (window partitioned by the physical
   partition id — parallel, no global shuffle of the ordered stream),
3. per-partition totals (one tiny row per partition) turned into
   exclusive offsets on the driver and broadcast-joined back.

The per-partition totals table has exactly ``numPartitions`` rows, so
the driver-side cumulation is O(partitions), never O(rows) — this is a
scan-combine, not a ``collect()`` of data.

Reference analog: the reference keeps running state in a single-threaded
loop (`src/modules/module_rpi_ups_hat.c:64,259`); this operator is the
distributed generalization of "running accumulator over an ordered
stream".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sensor_data_pipeline_spark.pins import pin


def global_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``sum(value) OVER (ORDER BY order_col)`` at scale.

    ``order_col`` must be globally unique (a key): uniqueness is what
    lets rows with the same key never straddle a partition boundary.
    The result is identical to the single-partition window for any
    range partitioning, because each row's prefix sum depends only on
    the set of rows ordered before it, not on where the cuts fall.

    The range-partitioned frame is pinned eagerly (``pins.pin``, a
    ``localCheckpoint``) before the totals pass: the offsets
    job and the final join job are SEPARATE Spark jobs, and without
    pinning, the second job re-executes the range exchange — whose
    boundary SAMPLING may cut differently — so the collected offsets
    would attach to the wrong partitions (observed as shifted prefix
    sums under adaptive.enabled=false at sf0.01). ``localCheckpoint``
    rather than ``persist()`` for two reasons: (a) it severs lineage,
    so a lost block can only fail loudly — it can never silently
    recompute the exchange with re-sampled boundaries and reintroduce
    the misalignment; (b) its blocks are released by the
    ContextCleaner as soon as the checkpointed frame is
    garbage-collected, so repeated calls don't accumulate pinned
    blocks for the session lifetime the way an unpaired ``persist()``
    does.
    """
    parts = df.repartitionByRange(*( [num_partitions] if num_partitions else [] ), F.col(order_col))
    with_pid = parts.withColumn("_pid", F.spark_partition_id()).transform(pin)
    w = Window.partitionBy("_pid").orderBy(order_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = with_pid.withColumn("_local_sum", F.sum(value_col).over(w))
    totals = (
        with_pid.groupBy("_pid").agg(F.sum(value_col).alias("_part_total")).orderBy("_pid").collect()
    )  # O(numPartitions) rows — a scan-combine, not a data collect; reads the checkpoint
    offsets, acc = [], 0
    for row in totals:
        offsets.append((row["_pid"], acc))
        acc += row["_part_total"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, schema="_pid int, _offset bigint")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_local_sum") + F.col("_offset")).cast("bigint"))
        .drop("_pid", "_local_sum", "_offset")
    )


def stable_global_ids(
    df: DataFrame,
    order_col: str,
    out_col: str = "global_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense, deterministic 1-based global row IDs ordered by
    ``order_col`` (globally unique key) — the corpus-ID assignment step
    for a new training dataset, at scale.

    Neither built-in works: ``monotonically_increasing_id`` is sparse
    and partitioning-dependent (re-running on different parallelism
    yields different ids), and ``row_number() OVER (ORDER BY ...)``
    collapses to one task. This is the same two-pass scan as
    ``global_running_sum`` with value 1: range-partition by the key,
    number rows within each partition, add the exclusive count offsets
    of preceding partitions. Output is a pure function of the data and
    the key order — any cluster size reproduces identical ids.
    """
    counted = global_running_sum(
        df.withColumn("_one", F.lit(1)),
        order_col,
        "_one",
        out_col=out_col,
        num_partitions=num_partitions,
    )
    return counted.drop("_one")


def global_ntile(
    df: DataFrame,
    order_cols: list,
    n_tiles: int,
    out_col: str,
    total: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_cols)`` without a
    single-partition window.

    ``Window.orderBy(...).ntile`` collapses the whole frame into one
    task (round-4 ADVICE flagged exactly this in the RFM quintiles,
    where the windowed mass is unbounded user cardinality). ntile is
    a pure function of the global rank, so it decomposes into the
    ``stable_global_ids`` two-pass scan (range partition + local
    row_number + O(partitions) offsets) followed by closed-form bucket
    arithmetic: with N rows and n tiles, q = N div n and rem = N mod n,
    the first ``rem`` buckets hold q+1 rows — rank r maps to
    ``(r-1) div (q+1) + 1`` inside that head and
    ``rem + (r - head - 1) div q + 1`` past it. Bit-identical to the
    built-in (both engines implement this same SQL-standard rule).

    ``order_cols`` must be globally unique as a tuple (append a key
    column); for DESC dimensions pass the negated column. ``total``
    is the exact row count of ``df`` — the caller supplies it so one
    count serves many dimensions.
    """
    keyed = df.withColumn("_ntile_k", F.struct(*order_cols))
    ranked = stable_global_ids(
        keyed, "_ntile_k", out_col="_ntile_r", num_partitions=num_partitions
    ).drop("_ntile_k")
    q, rem = divmod(int(total), int(n_tiles))
    head = rem * (q + 1)
    if q == 0:
        tile_expr = "_ntile_r"
    else:
        tile_expr = (
            f"CASE WHEN _ntile_r <= {head} THEN (_ntile_r - 1) DIV {q + 1} + 1 "
            f"ELSE {rem} + (_ntile_r - {head} - 1) DIV {q} + 1 END"
        )
    return ranked.withColumn(out_col, F.expr(tile_expr).cast("bigint")).drop(
        "_ntile_r"
    )
