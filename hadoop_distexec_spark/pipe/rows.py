"""Line-oriented pipe transform over a DataFrame column — the RDD.pipe tier
of the pipe-operator family (SURVEY.md §2.5 "UDF/UDAF surface": shell pipe,
Python UDF, pandas UDF — same transform contract, three execution tiers).

Where ``distexec`` pipes whole *files* (reference ExecFilesMapper.java:82-154),
``pipe_rows`` pipes *rows*: one subprocess per partition, each input row's
column value written as one stdin line, each stdout line zipped back to its
row (the command must be a 1:1 line filter — tr/sed/awk-style). It is a
``mapInArrow``: every input Arrow batch comes back as one output batch with
the piped column appended, so memory is about one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) plus the pipe
buffers, whatever the partition size.

Scale: one process per partition (not per row), partition count = task
parallelism, no shuffle at all — the transform is a narrow map.
"""

from __future__ import annotations

import collections
import subprocess
import threading
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from hadoop_distexec_spark.pipe.cmdline import exit_ok, tokenize


def pipe_rows(df: DataFrame, cmd: str | list[str], input_col: str, output_col: str = "piped") -> DataFrame:
    """Pipe ``input_col`` of every row through ``cmd`` (a 1:1 line filter);
    returns df's columns plus ``output_col``."""
    argv = tokenize(cmd)
    out_schema = T.StructType([*df.schema.fields, T.StructField(output_col, T.StringType(), True)])

    def run_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = iter(batches)
        first = next(batches, None)
        if first is None:
            return
        proc = subprocess.Popen(
            argv,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            bufsize=1,  # line buffered: keeps writer/reader in lockstep
        )
        # batches written to the child whose lines are not all back yet
        pending: collections.deque[pa.RecordBatch] = collections.deque()
        lock = threading.Lock()
        writer_error: list[Exception] = []

        def _chain(head, rest):
            yield head
            yield from rest

        def writer():
            # stdin MUST close on every path — a dead writer with stdin
            # open would leave the child waiting for EOF and the reader
            # loop below blocked forever.
            try:
                for batch in _chain(first, batches):
                    with lock:
                        pending.append(batch)
                    for val in batch.column(input_col).to_pylist():
                        proc.stdin.write(("" if val is None else str(val)) + "\n")
            except BrokenPipeError:
                pass
            except Exception as e:  # surfaced after the reader drains
                writer_error.append(e)
            finally:
                try:
                    proc.stdin.close()
                except Exception:
                    pass

        lines: list[str] = []

        def complete() -> list[pa.RecordBatch]:
            # pending batches whose every line is back, in input order
            done = []
            with lock:
                while pending and len(lines) >= pending[0].num_rows:
                    batch = pending.popleft()
                    n = batch.num_rows
                    done.append(batch.append_column(output_col, pa.array(lines[:n], pa.string())))
                    del lines[:n]
            return done

        t = threading.Thread(target=writer, daemon=True)
        t.start()
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            yield from complete()
        t.join()
        rc = proc.wait()
        if writer_error:
            raise RuntimeError(f"pipe input failed: {writer_error[0]!r}") from writer_error[0]
        if not exit_ok(argv, rc):
            raise RuntimeError(f"pipe command {argv} exited {rc}")
        yield from complete()  # trailing empty batches
        if pending or lines:
            raise RuntimeError(
                f"pipe command {argv} is not a 1:1 line filter: "
                f"{sum(b.num_rows for b in pending)} input lines unmatched, "
                f"{len(lines)} output lines unmatched"
            )

    return df.mapInArrow(run_partition, out_schema)
