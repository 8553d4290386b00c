"""One cache lifecycle for the package: ``cached(df)`` pins a frame for the
length of a ``with`` block and releases it on every exit, a raise included.

It encodes two rules:

- A lazy ``persist()`` does not protect a subtree that several branches of
  one action read: with a cold cache each branch recomputes the subtree.
  So ``cached`` runs one aggregate over every row before it yields, and the
  frame is in storage before any plan that reads it more than once runs.
- Lineage truncation is not block release. A result built inside the
  block is pinned with ``localCheckpoint(eager=True)`` before the block
  ends; those blocks are freed when the checkpointed frame is
  garbage-collected (Spark's ContextCleaner), not by ``unpersist``, which
  is a no-op on a local checkpoint.

The typical caller::

    with cached(shingles) as s:
        return build(s).localCheckpoint(eager=True)

A caller that needs totals of the frame gets them from the fill itself,
with no second pass over the cache::

    with cached_totals(pc, F.sum("n_ab")) as (pc, (n_rows, n_pairs)):
        ...

Like ``group_local`` and ``prefix_sum``, this module imports only pyspark
(and the standard library), so every module of the package can import it
without an import cycle."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df``, fill the cache with one count, yield the cached
    frame and ``unpersist()`` it when the block exits."""
    with cached_totals(df) as (df, _):
        yield df


@contextmanager
def cached_totals(df: DataFrame, *totals: Column) -> Iterator[tuple[DataFrame, Row]]:
    """``cached`` whose fill is one aggregate of the row count and
    ``totals``; yields ``(frame, row)``, the row holding the count first
    and then each total."""
    df = df.persist()
    try:
        row = df.agg(F.count(F.lit(1)), *totals).collect()[0]
        yield df, row
    finally:
        df.unpersist()
