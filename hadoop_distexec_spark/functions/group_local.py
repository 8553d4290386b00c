"""Group-local kernels: Spark groups the rows by a key and one task runs
numpy over one whole group. That is safe only when every group fits one
task, so every such kernel runs through ``cell_local``: it pins the
input, checks the group sizes against a named bound, and then runs the
kernel as one ``applyInArrow`` pass (a ``pyarrow.Table`` in, a
``pyarrow.Table`` out, no pandas) or, when some group is over its bound,
the caller's distributed fallback, which returns the same rows.

This module imports only pyspark at import time, so every operator
module can import it without an import cycle."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Largest group, in rows of the grouped frame, that one task may take.
BOUNDS = {
    # union-find connected components: 4M edge rows x ~16 bytes of ids is
    # ~64 MB per Arrow group, plus the index and parent arrays. The union
    # is vectorized (min-label hooking + pointer jumping, O(|E|) numpy
    # work per hooking round), so the bound is memory, not CPU; it stays
    # where it was until a 10x-lane measurement sets it.
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


def _pin_if_groups_fit(
    df: DataFrame, key: str, bound_name: str
) -> tuple[DataFrame, bool]:
    """Pin ``df`` with an eager local checkpoint and report whether every
    ``key`` group holds at most ``BOUNDS[bound_name]`` rows.

    The total row count rides the checkpoint job as an Observation, and a
    total within the bound proves every group fits, so the common path
    runs one Spark job. Only an over-bound total pays a second job, the
    per-key max count."""
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


def cell_local(
    df: DataFrame,
    key: str,
    bound_name: str,
    kernel: Callable,
    schema: str,
    fallback: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """Run ``kernel`` once per ``key`` group of ``df`` when every group
    fits ``BOUNDS[bound_name]``, else ``fallback``; return ``(result,
    pinned)``.

    ``kernel`` takes one group as a ``pyarrow.Table`` and returns a
    ``pyarrow.Table`` with the columns of ``schema`` (a DDL string) in
    order; its Arrow types are cast to the schema's here. ``fallback``
    takes the pinned frame and returns the same rows in the same schema
    without holding a group in one task. ``pinned`` is ``df`` after the
    guard's eager checkpoint: callers read it for any other aggregate
    over the same rows (the approx tiers), so the input is scanned once."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    pinned, fits = _pin_if_groups_fit(df, key, bound_name)
    if not fits:
        return fallback(pinned), pinned
    out = to_arrow_schema(StructType.fromDDL(schema))
    return pinned.groupBy(key).applyInArrow(lambda t: kernel(t).cast(out), schema), pinned


def dense_ids(t, a: str, b: str):
    """Dense indices for the id columns ``a`` and ``b`` of the Arrow
    table ``t``: ``(ids, ia, ib)`` with ``ids[ia]`` = ``a`` and
    ``ids[ib]`` = ``b``. ``ids`` ascends, so a smallest-index rule in a
    kernel is a smallest-id rule."""
    import numpy as np

    x, y = (t.column(c).to_numpy().astype(np.int64) for c in (a, b))
    ids, idx = np.unique(np.concatenate([x, y]), return_inverse=True)
    return ids, idx[: len(x)], idx[len(x) :]
