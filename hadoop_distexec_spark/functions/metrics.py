"""Declarative pipeline metrics via Spark's Observation API.

The reference's only metrics are four MR counters incremented per record
(Counter enum, reference ExecFilesMapper.java:27). The Spark-native
equivalent is ``df.observe``: metrics are computed inside the existing
job — no second pass over the data — and read back after the action.
``distexec``'s per-file counters are ``pipe.executor.metrics``, one
aggregate over its result rows; this helper is the engine's
general-purpose counterpart for relational pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, name: str, *metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach named metrics to a DataFrame; read ``obs.get`` after the
    first action on the returned frame. NB: ``obs.get`` BLOCKS until an
    action has run — always act on the frame before reading.

    Default metrics (no ``metrics`` given): row count + per-column null
    counts — the basic data-quality counters a pipeline stage wants.
    """
    obs = Observation(name)
    if not metrics:
        metrics = (
            F.count(F.lit(1)).alias("rows"),
            *[
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
                for c in df.columns
            ],
        )
    return df.observe(obs, *metrics), obs
