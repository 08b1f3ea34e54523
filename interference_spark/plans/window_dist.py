"""Distributed count-based sliding window.

The naive batch plan for ``WINDOW BY col INTERVAL = n`` is
``Window.orderBy(col).rowsBetween(-(n-1), 0)`` — a window with no
PARTITION BY, which Spark executes as ONE task holding the whole sorted
dataset (the reference is no better: it runs count-windows single-threaded
on the master, ``sql/SQLGroupContainer.java:120-158``). Fine at test SF,
fatal at 100 TB.

This plan distributes it exactly:

1. ``repartitionByRange`` on the window column → P sorted, ordered splits.
2. Per-split local row_number (parallel window, PARTITION BY split).
3. Split sizes → driver (P integers) → prefix-sum offsets → global row
   number via broadcast join. No single-task stage anywhere.
4. Each split ships its last n-1 rows to the next non-empty split ("pad"
   rows), so every sliding frame is complete locally; frames are computed
   per-split in parallel and pad-originated output rows are dropped.

Requires unique window-column values for a well-defined order (the
reference assumes @Id ordering — manual "Tumbling windows"). Falls back to
the single-task frame when the data is one split or splits are smaller
than n-1 (only possible at trivial scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

_AGG = {
    "COUNT": F.count,
    "SUM": F.sum,
    "MIN": F.min,
    "MAX": F.max,
    "AVG": F.avg,
    "LAST": F.last,
}


def _agg_cols(items, frame) -> list[Column]:
    return [
        _AGG[func](F.col(col)).over(frame).alias(alias)
        for func, col, alias in items
    ]


def _single_task(df: DataFrame, wcol: str, items, n: int) -> DataFrame:
    frame = W.orderBy(wcol).rowsBetween(-(n - 1), W.currentRow)
    rn = F.row_number().over(W.orderBy(wcol))
    return (
        df.select(*_agg_cols(items, frame), rn.alias("__rn"))
        .filter(F.col("__rn") >= n)
        .orderBy("__rn")
        .drop("__rn")
    )


# below this estimated input size the single-task frame wins: the
# distributed plan pays a materialization + 2 extra jobs that only
# amortize on inputs too big for one task (same philosophy as
# spark.sql.autoBroadcastJoinThreshold)
SINGLE_TASK_MAX_BYTES = 256 << 20


def _estimated_bytes(df: DataFrame) -> int:
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable → assume big
        return 1 << 62


def sliding_count_window(
    df: DataFrame,
    wcol: str,
    items: list[tuple[str, str, str]],
    n: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """``items`` = [(func, input_col, output_alias), ...]; one output row per
    input row from the n-th onward (ordered by ``wcol``), aggregating the
    last n rows. Output in window order."""
    if _estimated_bytes(df) <= SINGLE_TASK_MAX_BYTES:
        return _single_task(df, wcol, items, n)
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    # eager localCheckpoint: materializes the range-partitioned layout so
    # __pid is IDENTICAL between the size-collect below and the final job
    # (a lazy recompute could re-sample range boundaries), and truncates
    # lineage so the two passes don't replay the upstream plan.
    base = (
        df.repartitionByRange(p, F.col(wcol))
        .sortWithinPartitions(wcol)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    local = base.withColumn(
        "__lrn", F.row_number().over(W.partitionBy("__pid").orderBy(wcol))
    )
    sizes = {
        r["__pid"]: r["cnt"]
        for r in local.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    pids = sorted(sizes)
    if len(pids) <= 1 or any(sizes[q] < n - 1 for q in pids[:-1]):
        # trivial scale: the classic single-task frame is cheapest
        return _single_task(df, wcol, items, n)

    acc = 0
    rows = []
    for q in pids:
        rows.append((q, acc))
        acc += sizes[q]
    off = spark.createDataFrame(rows, "__pid int, __off long")
    nxt = spark.createDataFrame(
        [(pids[i], pids[i + 1]) for i in range(len(pids) - 1)],
        "__pid int, __next int",
    )
    sz = spark.createDataFrame(list(sizes.items()), "__pid int, __cnt long")

    g = (
        local.join(F.broadcast(off), "__pid")
        .join(F.broadcast(sz), "__pid")
        .withColumn("__grn", F.col("__off") + F.col("__lrn"))
    )
    body = g.withColumn("__tgt", F.col("__pid")).withColumn("__pad", F.lit(False))
    pad = (
        g.filter(F.col("__lrn") > F.col("__cnt") - (n - 1))
        .join(F.broadcast(nxt), "__pid")
        .withColumn("__tgt", F.col("__next"))
        .withColumn("__pad", F.lit(True))
        .drop("__next")
    )
    allr = body.unionByName(pad)
    frame = W.partitionBy("__tgt").orderBy("__grn").rowsBetween(
        -(n - 1), W.currentRow
    )
    return (
        allr.select(*_agg_cols(items, frame), "__grn", "__pad")
        .filter((~F.col("__pad")) & (F.col("__grn") >= n))
        .orderBy("__grn")
        .drop("__grn", "__pad")
    )
