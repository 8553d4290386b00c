"""Distributed exclusive prefix sum: the running total of some columns over
a unique order key, with no single-partition window. It is the reference's
greedy split planner (ExecInputFormat.getSplits, DistExec.java:132-177) in
distributed form, shared by split planning, the manifest limits and
sequence packing.

This module imports only pyspark, so both ``pipe`` and ``operators`` can
import it without an import cycle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Rows per range partition. Small frames get one partition, so a 512-file
# manifest plans in one task instead of defaultParallelism tasks; large
# ones spread up to defaultParallelism.
ROWS_PER_PART = 4096
# the partition id each pinned row was materialized in
PID = "_prefix_pid"


def running_sums(
    df: DataFrame, key: str, cols: list[str]
) -> tuple[DataFrame, dict[str, int], DataFrame]:
    """Add ``<c>_before`` for each ``c`` in ``cols``: the sum of ``c`` over
    every row whose ``key`` is smaller (``key`` must be unique).

    1. one ``count()`` sets the width,
       ``clamp(ceil(rows / ROWS_PER_PART), 1, defaultParallelism)``;
    2. ``repartitionByRange`` on ``key`` gives each partition a contiguous
       key range; the partition id is projected as a column and pinned by
       an eager ``localCheckpoint``, so every later read sees the same
       assignment;
    3. one grouped collect reads the per-partition sums of the pinned
       frame (O(width) numbers on the driver);
    4. the partition offsets go in as a literal map;
    5. a window keyed on the partition id adds the running sum within it.

    Returns ``(out, totals, pinned)``: ``out`` is ``df``'s columns plus the
    ``_before`` columns; ``totals`` holds each column's total and ``rows``;
    ``pinned`` is the local checkpoint ``out`` reads, freed when it is
    garbage-collected (``unpersist`` does not release it)."""
    sc = df.sparkSession.sparkContext
    width = max(1, min(sc.defaultParallelism, -(-df.count() // ROWS_PER_PART)))
    pinned = (
        df.repartitionByRange(width, key)
        .withColumn(PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    stats = sorted(
        pinned.groupBy(PID)
        .agg(F.count(F.lit(1)).alias("rows"), *[F.sum(c).alias(c) for c in cols])
        .collect(),
        key=lambda r: r[PID],
    )
    totals = {c: sum(r[c] or 0 for r in stats) for c in ["rows", *cols]}
    w = W.partitionBy(PID).orderBy(key).rowsBetween(W.unboundedPreceding, -1)
    out = pinned
    for c in cols:
        offsets, acc = [], 0
        for r in stats:
            offsets += [F.lit(r[PID]), F.lit(acc).cast("long")]
            acc += r[c] or 0
        offset = F.element_at(F.create_map(*offsets), F.col(PID)) if offsets else F.lit(0)
        within = F.coalesce(F.sum(c).over(w), F.lit(0))
        out = out.withColumn(f"{c}_before", (offset + within).cast("long"))
    return out.drop(PID), totals, pinned
