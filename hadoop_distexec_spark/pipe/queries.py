"""Rows-only `queries()` entries for the pipe executor.

There is no DuckDB oracle for a subprocess over a file tree, so these are
the driver's weaker rows-only checks (SURVEY.md §5). The tree is generated
deterministically from the ``documents`` table so every run yields the same
rows: doc text -> file, piped through `wc -c`, and the byte counts are
checked against n_chars relationally in the returned frame.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_distexec_spark.pipe.executor import distexec
from hadoop_distexec_spark.pipe.rows import pipe_rows
from hadoop_distexec_spark.registry import register
from hadoop_distexec_spark.sources.tables import table


def _materialize_tree(spark: SparkSession, sf_dir: str, base: str, n_docs: int = 64) -> str:
    """Write the first n_docs documents (by doc_id) as real files."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < n_docs)
        .select("doc_id", "source", "text")
        .collect()
    )
    src_root = os.path.join(base, "tree")
    for r in docs:
        d = os.path.join(src_root, r["source"])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"doc_{r['doc_id']}.txt"), "w") as f:
            f.write(r["text"])
    return src_root


@register("q_pipe_exec", oracle=None)
def q_pipe_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity pipe (`cat`) over a documents-derived tree: per-file
    subprocess, lazy create, tmp+rename commit. Output bytes must equal
    input bytes (the reference's own unit test semantics,
    SimpleExecutorTest.java:20-36)."""
    base = tempfile.mkdtemp(prefix="distexec_q_")
    try:
        src = _materialize_tree(spark, sf_dir, base)
        results = distexec(spark, src, os.path.join(base, "out"), "cat")
        return (
            results.filter(F.col("status") == "EXECUTED")
            .select(
                "rel_dst",
                "bytes_in",
                "bytes_out",
                (F.col("bytes_in") == F.col("bytes_out")).alias("roundtrip_ok"),
            )
            .orderBy("rel_dst")
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q_pipe_rows",
    oracle="SELECT doc_id, upper(text) AS piped FROM documents",
)
def q_pipe_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented shell pipe over a DataFrame column (`tr a-z A-Z`) —
    the RDD.pipe execution tier, oracle-checked against SQL UPPER. This is
    a real subprocess per partition on the executors; the ASCII fixture
    text makes tr and UPPER agree exactly."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").repartition(8, "doc_id")
    return pipe_rows(docs, "tr a-z A-Z", "text", "piped").select("doc_id", "piped")


@register("q_pipe_grep", oracle=None)
def q_pipe_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grep pipe: exit 1 (no match) is tolerated and produces NO destination
    file (lazy create, reference Executor.java:33-35 +
    ExecFilesMapper.java:46-80)."""
    base = tempfile.mkdtemp(prefix="distexec_q_")
    try:
        src = _materialize_tree(spark, sf_dir, base, n_docs=32)
        dst = os.path.join(base, "out")
        results = distexec(spark, src, dst, "grep -c spark")
        return results.filter(F.col("status") == "EXECUTED").select(
            "rel_dst",
            "exit_code",
            (F.col("bytes_out") > 0).alias("matched"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
