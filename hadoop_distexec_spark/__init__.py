"""hadoop_distexec_spark — a PySpark-native engine with the data-processing
capabilities of kadwanev/hadoop-distexec, rebuilt Spark-first.

The reference (/root/reference) is a ~1,230-line Hadoop MapReduce tool that
pipes every file of a distributed tree through a shell command
(reference: src/main/java/com/kadwa/hadoop/DistExec.java). This package
re-expresses its capabilities as:

- a **manifest layer**: recursive enumeration -> a manifest DataFrame, with
  planning/bookkeeping (dup-check, size stats, split planning) as relational
  queries (`hadoop_distexec_spark.sources.manifest`,
  `hadoop_distexec_spark.plans.manifest_plan`);
- the **pipe executor**: per-file subprocess transform with lazy destination
  creation, stderr side-files, tmp+rename commit, grep exit-code policy and
  per-file failure isolation (`hadoop_distexec_spark.pipe`);
- a full **relational operator surface** (joins, aggregations, windows,
  sorts, set ops, scalar functions) the reference lacks, expressed with the
  DataFrame API so Catalyst owns the physical plan
  (`hadoop_distexec_spark.operators.relational`);
- **LLM-data-pipeline operators**: exact/near dedup (MinHash-LSH, SimHash,
  n-gram Jaccard), embedding similarity search, text analysis, multimodal
  column plumbing (`hadoop_distexec_spark.operators`);
- **streaming**: tumbling/sliding/session windows over the events table in
  both batch (oracle-checkable) and Structured Streaming form
  (`hadoop_distexec_spark.streaming`).

Every query operator is registered in `hadoop_distexec_spark.registry` with
an optional DuckDB oracle SQL twin used by the correctness gate.
"""

from hadoop_distexec_spark.errors import DistExecError, DuplicationError, InvalidInputError
from hadoop_distexec_spark.fs import FileSystem, FsspecFS, LocalFS, MappedFS, resolve_fs
from hadoop_distexec_spark.pipe.executor import distexec
from hadoop_distexec_spark.pipe.rows import pipe_rows
from hadoop_distexec_spark.pipe.sync import sync_deletes
from hadoop_distexec_spark.registry import all_queries, oracle_sqls
from hadoop_distexec_spark.session import get_spark
from hadoop_distexec_spark.sources.manifest import build_manifest

__all__ = [
    "DistExecError",
    "DuplicationError",
    "FileSystem",
    "FsspecFS",
    "InvalidInputError",
    "LocalFS",
    "MappedFS",
    "all_queries",
    "resolve_fs",
    "build_manifest",
    "distexec",
    "get_spark",
    "oracle_sqls",
    "pipe_rows",
    "sync_deletes",
]

__version__ = "0.1.0"
