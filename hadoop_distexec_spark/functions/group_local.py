"""Group-local kernels: Spark groups the rows by a key and one task runs
numpy over one whole group (``applyInPandas``). That is safe only when
every group fits one task, so each caller pins its input with
``pin_if_groups_fit`` and runs its distributed fallback, which returns
the same rows, when some group is over its bound.

This module imports only pyspark, so every operator module can import
it without an import cycle."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Largest group, in rows of the grouped frame, that one task may take.
BOUNDS = {
    # union-find connected components: 4M edge rows x ~16 bytes of ids is
    # ~64 MB per Arrow group plus the parent array; the per-edge union is
    # an interpreted loop, so a cell at the bound costs tens of seconds of
    # CPU. Do not raise it without vectorizing that pass.
    "cc": 4_000_000,
    # label propagation: the same edge-list arithmetic as "cc"
    "lpa": 4_000_000,
    # k-core peel: the same arithmetic as "cc", in symmetric edge rows
    "kcore": 4_000_000,
    # triangle count: a sorted-array intersection per edge, ~seconds of
    # single-task CPU and ~16 MB of ids at 1M edges
    "triangles": 1_000_000,
    # exact order statistics: 8M float64 values are ~64 MB in one task,
    # plus the sort's copy
    "order_stats": 8_000_000,
}


def pin_if_groups_fit(
    df: DataFrame, key: str, bound_name: str
) -> tuple[DataFrame, bool]:
    """Pin ``df`` with an eager local checkpoint and report whether every
    ``key`` group holds at most ``BOUNDS[bound_name]`` rows.

    The total row count rides the checkpoint job as an Observation, and a
    total within the bound proves every group fits, so the common path
    runs one Spark job. Only an over-bound total pays a second job, the
    per-key max count. Callers feed the pinned frame to the group-local
    kernel when it fits and to their distributed fallback otherwise."""
    bound = BOUNDS[bound_name]
    obs = Observation()
    pinned = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    if obs.get["n"] <= bound:
        return pinned, True
    mx = (
        pinned.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    return pinned, mx <= bound
