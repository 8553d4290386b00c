"""Query registry: every engine operator exposed as a (spark, sf_dir) ->
DataFrame callable, optionally paired with a DuckDB oracle SQL twin.

The driver contract (``__spark_entry__.py`` at the repo root) consumes
this via ``all_queries()`` and ``oracle_sqls()``. Oracle SQL must produce
the same column names and (bit-deterministic) values as the Spark query;
see ``hadoop_distexec_spark.functions.numeric`` for the determinism rules
(decimal-cast sums, epoch bigints, explicit tiebreakers).
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    qid: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(qid: str, oracle: Optional[str] = None, doc: str = ""):
    """Decorator registering a query operator under ``qid``."""

    def deco(fn: QueryFn) -> QueryFn:
        if qid in _REGISTRY:
            raise ValueError(f"duplicate query id {qid!r}")
        _REGISTRY[qid] = QuerySpec(qid, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


# Registering modules: the reference-parity core (manifest, pipe,
# streaming) first, then the relational surface, then the LLM-data extras,
# so a consumer that samples ids in order sees the reference-parity rows
# first.
_MODULES: tuple[str, ...] = (
    "hadoop_distexec_spark.plans.manifest_plan",
    "hadoop_distexec_spark.pipe.queries",
    "hadoop_distexec_spark.streaming.windows",
    "hadoop_distexec_spark.operators.relational",
    "hadoop_distexec_spark.operators.relational_ext",
    "hadoop_distexec_spark.operators.skew",
    "hadoop_distexec_spark.operators.pipeline",
    "hadoop_distexec_spark.operators.multimodal",
    "hadoop_distexec_spark.operators.llmops",
    "hadoop_distexec_spark.operators.audits",
)


def _load_modules() -> None:
    """Import every registering module for its side effect of registering
    its queries.

    ``_MODULES`` is the order contract: ``specs()`` yields ids by the
    position of the module defining their callable in that tuple, then by
    registration order inside the module. Import history does not enter
    it, so importing an operator module early (``__spark_entry__.entry``
    imports ``operators.relational`` before ``queries()`` runs) leaves the
    order unchanged."""
    for name in _MODULES:
        importlib.import_module(name)


def specs() -> dict[str, QuerySpec]:
    """Every registered query in ``_load_modules`` order. A callable
    defined outside ``_MODULES`` raises KeyError: its module would not
    be in the order contract."""
    _load_modules()
    rank = {name: i for i, name in enumerate(_MODULES)}
    insertion = {qid: i for i, qid in enumerate(_REGISTRY)}
    ordered = sorted(
        _REGISTRY, key=lambda q: (rank[_REGISTRY[q].fn.__module__], insertion[q])
    )
    return {qid: _REGISTRY[qid] for qid in ordered}


def all_queries() -> dict[str, QueryFn]:
    return {qid: s.fn for qid, s in specs().items()}


def oracle_sqls() -> dict[str, str]:
    return {qid: s.oracle for qid, s in specs().items() if s.oracle is not None}
