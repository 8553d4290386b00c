"""The distexec core operator: pipe every file of a tree through a shell
command, mirroring the source layout at the destination.

Semantics checklist, each with its reference citation
(/root/reference/src/main/java/com/kadwa/hadoop/...):

- per-file subprocess whose three streams run src->stdin, stdout->dst,
  stderr->side file (distexec/ExecFilesMapper.java:82-154,
  distexec/SingleExecution.java:21-112). Each stream is wired on its own:
  a handle with an OS descriptor goes straight to the child, any other
  gets a pipe and a pump thread (``_exec_one``);
- **lazy destination creation**: a command producing no stdout yields no
  destination file at all (LazyCreateOutputStream,
  distexec/ExecFilesMapper.java:46-80; rename guarded on tmp existence at
  :162) — here the tmp sink still empty at exit is removed before commit;
- per-file ``<rel_dst>.stderr`` side files, same lazy semantics
  (distexec/ExecFilesMapper.java:86,108,119,148);
- atomic commit: write to tmp, delete-if-exists, rename; tmp cleanup with
  retries on failure (distexec/ExecFilesMapper.java:107,147-148,156-170,
  189-201);
- grep-family exit-1 tolerance (distexec/Executor.java:33-35,50-51);
- per-record failure isolation: a bad file increments FAIL, emits a log
  record and the job continues (distexec/ExecFilesMapper.java:173-208);
- empty directories are preserved (distexec/ExecFilesMapper.java:91-105);
- duplicate-destination pre-flight (DistExec.java:630-631,647-673) and
  source existence check (DistExec.java:209-226);
- counters EXECUTED/FAIL/BYTESEXECUTED/BYTESWRITTEN
  (distexec/ExecFilesMapper.java:27) — here per-row result columns
  aggregated relationally by ``metrics()`` (bytes on success only, like
  the reference);
- FAIL log records written by the map itself: each task commits its
  FAIL lines as one part file, ``<dst>/_distexec_logs/part-<bin>``
  (distexec/ExecFilesMapper.java:184-187; log path defaulting
  DistExec.java:507-521). With the ``update="hash"`` state it is the
  durable record of a run, as the reference's counters and log are; the
  per-file result rows are pinned by one eager ``localCheckpoint`` on
  every filesystem, never written under dst.

Why not ``RDD.pipe``: Spark's pipe is per-partition and line-oriented; the
reference's contract is per-*file* whole-stream with separate stderr, lazy
create and an exit-code policy, so the operator is one ``mapInArrow`` over
the planned manifest, one task per bin. Directory rows ride the same map
and are mkdir'd where they land, like the reference's mapper
(ExecFilesMapper.java:91-105). Only manifest *rows* (paths + stats) flow
through Spark — file bytes stream directly disk -> child process -> disk
on the executor, never through the JVM, exactly like the reference
(128 KiB buffered streams, distexec/ExecFilesMapper.java:35).

Scale design: the manifest is a DataFrame (see sources/manifest.py);
partitions are balanced by *bytes* with the same greedy rule as the
reference's ExecInputFormat (DistExec.java:132-177) via
``plan_partitions``, and ``limit_manifest`` cuts a strict prefix. Both
take one of two paths, selected by ``manifest.isLocal()``. A manifest
whose walk stayed on the driver (below ``_DRIVER_ROWS_CAP`` rows) is read
once with ``toArrow()`` and planned on the driver with one sort and one
numpy cumsum, as the reference plans on its client; the planner then
returns ``pinned=None``. A fanned-out manifest reads its running totals
from the one distributed prefix sum, ``functions.prefix_sum.running_sums``,
and returns the checkpoint it pinned. The default width is one wave,
``min(files, defaultParallelism)``. Tasks write independently (no
cross-task coordination; speculative execution must stay off,
DistExec.java:443-445).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time
import uuid
from typing import Iterable, Iterator
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from hadoop_distexec_spark.errors import DuplicationError
from hadoop_distexec_spark.fs import FileSystem, resolve_fs
from hadoop_distexec_spark.functions import prefix_sum
from hadoop_distexec_spark.pipe.cmdline import exit_ok, tokenize
from hadoop_distexec_spark.sources.manifest import build_manifest

# Schemes Spark's own Hadoop FS layer can read/write, so the only dsts that
# can hold the update="hash" state. Any other scheme — e.g. a custom
# FileSystem implementation — runs without it.
_SPARK_NATIVE_SCHEMES = {
    "", "file", "hdfs", "viewfs", "s3", "s3a", "s3n",
    "gs", "wasb", "wasbs", "abfs", "abfss", "oss", "o3fs",
}


def _spark_native(path: str) -> bool:
    scheme = urlsplit(path).scheme
    return scheme in _SPARK_NATIVE_SCHEMES or len(scheme) == 1  # 1: drive letter

BUF_SIZE = 128 * 1024  # reference copy.buf.size (ExecFilesMapper.java:35)
PUMP_JOIN_TIMEOUT = 10.0  # reference SingleExecution.java:48-51
CLEANUP_RETRIES = 3  # reference ExecFilesMapper.java:189-200
CLEANUP_SLEEP = float(os.environ.get("DISTEXEC_CLEANUP_SLEEP", "3.0"))

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("src_path", T.StringType(), False),
        T.StructField("rel_dst", T.StringType(), True),
        T.StructField("status", T.StringType(), False),  # EXECUTED | FAIL | SKIPPED
        T.StructField("exit_code", T.IntegerType(), True),
        # source bytes handed to the child. On a descriptor stdin: the file
        # offset at exit, what the child consumed (GNU `wc -c` sizes a
        # regular stdin with fstat and, unless the size is a page multiple,
        # reads nothing, so it reports 0). On a pumped stdin: the bytes the
        # pipe accepted, which can exceed what an early-exiting child read.
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("bytes_out", T.LongType(), False),
        T.StructField("bytes_err", T.LongType(), False),
        T.StructField("error", T.StringType(), True),
        # content hash of the source; populated only under update="hash"
        T.StructField("src_md5", T.StringType(), True),
    ]
)
# the update="hash" state under <dst>/_distexec_state
_STATE_SCHEMA = T.StructType([RESULT_SCHEMA[c] for c in ("src_path", "rel_dst", "src_md5")])


def _md5_of(fs: FileSystem, path: str) -> str:
    h = hashlib.md5()
    with fs.open(path, "rb", buffering=BUF_SIZE) as f:
        while True:
            chunk = f.read(BUF_SIZE)
            if not chunk:
                break
            h.update(chunk)
    return h.hexdigest()


def _result(src_path, rel_dst, status, rc, b_in, b_out, b_err, err, md5) -> dict:
    """One RESULT_SCHEMA row."""
    return dict(zip(RESULT_SCHEMA.names, (src_path, rel_dst, status, rc, b_in, b_out, b_err, err, md5)))


class _Pump(threading.Thread):
    """Copy ``src`` to ``sink`` in BUF_SIZE chunks, then close both — the
    reference's stream pumps (SingleExecution.java:21-112). Closing a
    child's stdin is its EOF. ``count`` is the bytes ``sink`` accepted: a
    child's stdin is an unbuffered pipe, whose ``write`` returns what the
    kernel took, so bytes parked in a Python buffer are never counted."""

    def __init__(self, src, sink):
        super().__init__(daemon=True)
        self.src = src
        self.sink = sink
        self.count = 0
        self.error: Exception | None = None

    def run(self):
        try:
            while chunk := self.src.read(BUF_SIZE):
                while chunk:
                    n = self.sink.write(chunk)
                    self.count += n
                    chunk = chunk[n:]
        except BrokenPipeError:
            pass  # child exited early (e.g. head); not an error by itself
        except Exception as e:  # recorded, surfaced by the caller
            self.error = e
        finally:
            for f in (self.src, self.sink):
                try:
                    f.close()
                except BrokenPipeError:
                    pass
                except Exception as e:
                    self.error = self.error or e


def _cleanup(paths: Iterable[str], fs: FileSystem) -> None:
    """Delete tmp files, retrying like the reference
    (ExecFilesMapper.java:189-201: 3 tries, sleep between)."""
    for p in paths:
        for attempt in range(CLEANUP_RETRIES):
            try:
                if fs.exists(p):
                    fs.remove(p)
                break
            except OSError:
                if attempt + 1 < CLEANUP_RETRIES:
                    time.sleep(CLEANUP_SLEEP)


def _close(handles: Iterable) -> None:
    for h in handles:
        try:
            h.close()
        except Exception:
            pass


def _has_fd(f) -> bool:
    """True when ``f`` is backed by an OS descriptor a child can inherit."""
    try:
        f.fileno()
        return True
    except (AttributeError, OSError):  # io.UnsupportedOperation is an OSError
        return False


def _preserve_attrs(src_fs: FileSystem, src_path: str, dst_fs: FileSystem, final: str) -> None:
    """Best-effort -p finalize (DistCp.java:662-712 heritage): copy mode +
    mtime onto the committed output. A vanished/unreadable source or an
    attribute-less store must not flip the row to FAIL — the output is
    already renamed into place."""
    if not dst_fs.exists(final):  # lazy create => maybe no file
        return
    try:
        st = src_fs.stat(src_path)
        if st.mode is not None:
            dst_fs.set_mode(final, st.mode)
        if st.mtime_epoch is not None:
            dst_fs.set_mtime(final, st.mtime_epoch)
    except (NotImplementedError, OSError):
        pass


def _commit(tmp: str, final: str, fs: FileSystem) -> None:
    """delete-if-exists + rename (ExecFilesMapper.java:156-170); rename is
    atomic on POSIX/HDFS, making re-runs idempotent (object stores degrade
    to copy+delete — see fs.py module notes)."""
    if fs.exists(tmp):
        fs.mkdirs(fs.dirname(final) or "/")
        if fs.exists(final):
            fs.remove(final)
        fs.replace(tmp, final)


def _exec_one(
    src_path: str,
    rel_dst: str,
    dst_root: str,
    tmp_dir: str,
    argv: list[str],
    redirect_err_to_out: bool,
    timeout: float | None,
    src_fs: FileSystem,
    dst_fs: FileSystem,
    preserve: bool,
) -> tuple[str, int | None, int, int, int, str | None]:
    """Run one file through the child process.

    Returns (status, exit_code, bytes_in, bytes_out, bytes_err, error).
    Orchestration mirrors ExecFilesMapper.execution()
    (ExecFilesMapper.java:82-154): open the source and the tmp sinks,
    spawn, move the three streams, wait, then commit or clean up. The
    source opens before any child exists, so an unopenable source FAILs
    without running the command (the reference opens at :114 and execs at
    :121-123). File bytes go src_fs -> child -> dst_fs on the executor, any
    FileSystem on either side, like the reference's
    ``srcstat.getPath().getFileSystem(job).open(...)``.

    Each stream is wired on its own. A handle with a working ``fileno()``
    (local or mapped files) goes straight to the child, so the kernel
    moves its bytes; a Python pump (128 KiB read/write loop, GIL-shared)
    caps a stream at a few hundred MB/s, measured 2.56s vs 0.36s bare-cat
    on a 1 GiB tree. Any other handle (an fsspec object) gets a pipe and a
    ``_Pump`` thread. A descriptor's count is read from the file after the
    child exits: the stdin offset it shares with us, the sink's size.

    Lazy create (no stdout => no destination file, LazyCreateOutputStream,
    ExecFilesMapper.java:46-80): both tmp sinks exist from the start, and
    one still empty at exit is removed before commit, so on an object
    store a silent file costs one empty create and one delete.

    ``timeout`` (seconds) is a straggler guard the reference doesn't have
    (it relied on the MR task timeout): on expiry the child is killed and
    the file FAILs, job continues.
    """
    final = dst_fs.join(dst_root, rel_dst) if rel_dst != "." else dst_root
    uniq = uuid.uuid4().hex[:12]
    tmp_out = dst_fs.join(tmp_dir, f"{uniq}.out")
    # the reference *parsed* -redirectErrorToOut but never applied it
    # (ExecFilesMapper.java:31,232); implemented for real here
    tmp_err = None if redirect_err_to_out else dst_fs.join(tmp_dir, f"{uniq}.err")
    tmps = [t for t in (tmp_out, tmp_err) if t]
    opened = []
    try:
        opened.append(src_fs.open(src_path, "rb"))
        for t in tmps:
            opened.append(dst_fs.open(t, "wb"))
    except Exception as e:
        _close(opened)
        _cleanup(tmps, dst_fs)
        return ("FAIL", None, 0, 0, 0, f"open failed: {e}")
    fin, fout = opened[0], opened[1]
    ferr = opened[2] if tmp_err else None

    def wire(f):
        return f if _has_fd(f) else subprocess.PIPE

    try:
        proc = subprocess.Popen(
            argv,
            stdin=wire(fin),
            stdout=wire(fout),
            stderr=subprocess.STDOUT if ferr is None else wire(ferr),
            bufsize=0,
        )
    except OSError as e:
        _close(opened)
        _cleanup(tmps, dst_fs)
        return ("FAIL", None, 0, 0, 0, f"spawn failed: {e}")
    # Popen opened a pipe exactly for the streams wired to PIPE
    pin = _Pump(fin, proc.stdin) if proc.stdin else None
    pout = _Pump(proc.stdout, fout) if proc.stdout else None
    perr = _Pump(proc.stderr, ferr) if proc.stderr else None
    pumps = [p for p in (pin, pout, perr) if p]
    for p in pumps:
        p.start()
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    for p in pumps:
        p.join(PUMP_JOIN_TIMEOUT)
    bytes_in = pin.count if pin else os.lseek(fin.fileno(), 0, os.SEEK_CUR)
    bytes_out = pout.count if pout else os.fstat(fout.fileno()).st_size
    bytes_err = 0 if ferr is None else perr.count if perr else os.fstat(ferr.fileno()).st_size
    _close(opened)
    if rc is None:
        _cleanup(tmps, dst_fs)
        return ("FAIL", None, bytes_in, 0, 0, f"timeout after {timeout}s, killed")
    _cleanup([t for t, n in ((tmp_out, bytes_out), (tmp_err, bytes_err)) if t and n == 0], dst_fs)
    errors = [p.error for p in pumps if p.error]
    if exit_ok(argv, rc) and not errors:
        try:
            _commit(tmp_out, final, dst_fs)
            if tmp_err:
                _commit(tmp_err, final + ".stderr", dst_fs)
            if preserve:
                _preserve_attrs(src_fs, src_path, dst_fs, final)
            return ("EXECUTED", rc, bytes_in, bytes_out, bytes_err, None)
        except OSError as e:
            errors.append(e)
    _cleanup(tmps, dst_fs)
    msg = f"exit={rc}" + ("; " + "; ".join(map(str, errors)) if errors else "")
    return ("FAIL", rc, bytes_in, bytes_out, bytes_err, msg)


def _in_src_order(t: pa.Table) -> tuple[pa.Table, np.ndarray]:
    """A driver-resident manifest's rows in src_path order (byte order, as
    Spark sorts strings) and each row's bytes before it: the driver twin of
    ``prefix_sum.running_sums`` for the planner and the limits."""
    t = t.sort_by("src_path")
    size = t["size"].to_numpy()
    return t, np.cumsum(size) - size


def plan_partitions(
    manifest: DataFrame, n_tasks: int | None = None
) -> tuple[DataFrame, int, DataFrame | None]:
    """Assign manifest rows to byte-balanced bins — the reference's greedy
    prefix-sum split planning (ExecInputFormat.getSplits,
    DistExec.java:132-177): in src_path order, a row's bin is the bytes
    before it divided by ``ceil(total / n_tasks)``, capped at the last
    bin. Directory rows are planned too; their size is 0 (the reference's
    manifest key, DistExec.java:592), so no file's bin moves.

    The default ``n_tasks`` is one map per file, at most one wave:
    ``min(files, defaultParallelism)``, the reference's setMapCount
    (DistExec.java:419-426) with the cluster's slots as the cap. A wider
    plan only queues tasks behind the first wave, and each Python task
    costs about 0.2 s of worker set-up (SCALE.md).

    Two paths, one rule. When ``manifest.isLocal()`` (the walk stayed on
    the driver, ``build_manifest``), the planner reads it with one
    ``toArrow()``, sorts and sums on the driver, and returns the planned
    rows as a new local frame: one Spark job, and ``pinned`` is None.
    Otherwise the bytes-before column comes from the distributed prefix
    sum (``functions.prefix_sum.running_sums``), so no single-partition
    window runs and the driver sees O(#partitions) numbers; ``pinned`` is
    then the local checkpoint ``planned`` reads, freed when it is
    garbage-collected (``unpersist`` does not release it).

    Returns (planned, n_tasks, pinned)."""
    spark = manifest.sparkSession
    local = manifest.isLocal()
    if local:
        table, before = _in_src_order(manifest.toArrow())
        files = int((~table["is_dir"].to_numpy(zero_copy_only=False)).sum())
        total = int(table["size"].to_numpy().sum())
    else:
        is_file = (~F.col("is_dir")).cast("long")
        ranked, totals, pinned = prefix_sum.running_sums(
            manifest.withColumn("_files", is_file), "src_path", ["size", "_files"]
        )
        files, total = totals["_files"], totals["size"]
    if n_tasks is None:
        n_tasks = max(1, min(files, spark.sparkContext.defaultParallelism))
    target = max(1, -(-total // n_tasks))  # ceil div
    if local:
        bins = np.minimum(before // target, n_tasks - 1).astype(np.int32)
        schema = T.StructType([*manifest.schema, T.StructField("bin", T.IntegerType(), False)])
        planned = spark.createDataFrame(table.append_column("bin", pa.array(bins)), schema)
        return planned, n_tasks, None
    # exact bigint division, never IEEE
    planned = ranked.withColumn(
        "bin",
        F.least(F.expr(f"size_before div {int(target)}"), F.lit(n_tasks - 1)).cast("int"),
    ).drop("size_before", "_files", "_files_before")
    return planned, n_tasks, pinned


def limit_manifest(
    manifest: DataFrame,
    filelimit: int | None = None,
    sizelimit: int | None = None,
) -> DataFrame:
    """DistCp's ``-filelimit N`` / ``-sizelimit N`` manifest truncation
    (src/reference/DistCp.java:773-778, dropped by the reference tool):
    keep files, in deterministic src_path order, while the running file
    count stays < filelimit and the running byte total stays <= sizelimit.

    Both running totals are monotone, so a filter on them keeps a strict
    prefix. A driver-resident manifest is cut on the driver with the
    planner's own sort and sum and stays local, so ``plan_partitions``
    keeps its driver path; any other comes from the distributed prefix
    sum and a JVM-side filter. Directory records are all kept
    (empty-dir preservation is orthogonal to the copy budget, and
    dropping a parent dir of a kept file would be wrong).
    """
    if filelimit is None and sizelimit is None:
        return manifest
    if manifest.isLocal():
        table = manifest.toArrow()
        files, before = _in_src_order(table.filter(pc.invert(table["is_dir"])))
        keep = np.ones(len(files), dtype=bool)
        if filelimit is not None:
            keep &= np.arange(len(files)) < filelimit
        if sizelimit is not None:
            keep &= before + files["size"].to_numpy() <= sizelimit
        kept = pa.concat_tables([files.filter(pa.array(keep)), table.filter(table["is_dir"])])
        return manifest.sparkSession.createDataFrame(kept, manifest.schema)
    files = manifest.filter(~F.col("is_dir"))
    dirs = manifest.filter(F.col("is_dir"))
    ranked, _, _ = prefix_sum.running_sums(
        files.withColumn("_files", F.lit(1)), "src_path", ["size", "_files"]
    )
    keep = F.lit(True)
    if filelimit is not None:
        keep &= F.col("_files_before") < filelimit
    if sizelimit is not None:
        keep &= F.col("size_before") + F.col("size") <= sizelimit
    return ranked.filter(keep).select(*files.columns).unionByName(dirs)


def distexec(
    spark: SparkSession,
    srcs: list[str] | str,
    dst: str,
    cmd: str | list[str],
    *,
    redirect_err_to_out: bool = False,
    n_tasks: int | None = None,
    update: bool | str = False,
    cmd_timeout: float | None = None,
    fs: FileSystem | None = None,
    filelimit: int | None = None,
    sizelimit: int | None = None,
    preserve: bool = False,
) -> DataFrame:
    """Distributed per-file command execution — `hadoop distexec src dst cmd`
    (reference README.md:9-10) as a Spark job.

    Returns the per-file results DataFrame (RESULT_SCHEMA), pinned by an
    eager ``localCheckpoint`` before tmp is torn down: later actions read
    the pinned rows and never re-run a child, and a lost executor makes
    them fail rather than re-execute. Each map task that FAILs a file also
    writes its ``FAIL <rel_dst> : <error>`` lines to
    ``<dst>/_distexec_logs/part-<bin>``, committed like any output; the
    log directory is cleared at the start of every run (reference
    ExecFilesMapper.java:184-187, log path DistExec.java:507-521).

    ``update=True`` (or ``"mtime"``) restores the incremental mode the
    reference dropped from DistCp (src/reference/DistCp.java:1192-1237): a
    file is SKIPPED when its destination already exists and is at least as
    new as the source (mtime rule — exec output length is
    command-dependent, so DistCp's length+CRC compare doesn't transfer;
    freshness does). The check runs executor-side during the map, not as a
    driver pre-pass.

    ``update="hash"`` is the content-true variant of DistCp's
    ``needsUpdate`` length+CRC compare (DistCp.java:333-337,1192-1237): the
    run persists each source's md5 in a ``_distexec_state`` parquet under
    dst, so dst must be a scheme Spark can write; a re-run SKIPs a file
    whose *content* hash is unchanged and whose destination exists — a
    touched-but-unchanged source does not re-execute. Costs one extra read
    of each source per run.

    ``fs`` overrides filesystem resolution for both sides; by default each
    path's URI scheme picks the FS (local, or fsspec for remote schemes),
    matching the reference's per-path ``getFileSystem`` dispatch
    (DistExec.java:229). src and dst may live on different filesystems.

    ``filelimit``/``sizelimit`` truncate the manifest DistCp-style (see
    ``limit_manifest``). ``preserve`` restores DistCp's ``-p`` finalize
    pass (DistCp.java:662-712, dropped by the reference): each EXECUTED
    destination gets the source's permission bits and mtime, applied
    executor-side right after the commit rename; filesystems without
    POSIX attributes (object stores) skip it silently.
    """
    argv = tokenize(cmd)
    update_mode = {False: None, True: "mtime", "mtime": "mtime", "hash": "hash"}.get(update)
    if update_mode is None and update:
        raise ValueError(f"update must be False, True, 'mtime' or 'hash', got {update!r}")
    update = bool(update_mode)
    if isinstance(srcs, str):
        srcs = [srcs]
    dst_fs = resolve_fs(dst, fs)

    prev_state = None
    if update_mode == "hash":
        if not _spark_native(dst):
            raise ValueError(
                f"update='hash' keeps its state under dst, which Spark cannot write: {dst!r}"
            )
        state_dir = dst_fs.join(dst, "_distexec_state")
        if dst_fs.exists(state_dir):  # absent on the first run
            prev_state = spark.read.schema(_STATE_SCHEMA).parquet(state_dir).select(
                "rel_dst", F.col("src_md5").alias("prev_md5")
            )
    # -update re-runs must target the same layout as the first run, so the
    # contents-into-dst root rule applies regardless of dst existence
    # (DistCp -update semantics).
    manifest = build_manifest(spark, srcs, dst, contents_into_dst=update, fs=fs)
    manifest = limit_manifest(manifest, filelimit, sizelimit)
    tmp_dir = None
    try:

        # pre-flight: duplicate destinations (DistExec.java:630-631,647-673).
        # A SINGLE source root cannot produce duplicates: within one walk
        # every src_path is unique and the rebase (path -> rel) strips one
        # fixed prefix, so it is injective — the -2 exit is only reachable
        # when two roots (or -f list entries) map distinct sources onto one
        # rel_dst. Skipping the check there removes one shuffle job from
        # every single-tree run's fixed cost (VERDICT r07 #8) while keeping
        # the reference's semantics: DuplicationError still fires in every
        # case where a duplicate can exist.
        if len(srcs) > 1:
            dups = (
                manifest.filter(~F.col("is_dir"))
                .groupBy("rel_dst")
                .count()
                .filter(F.col("count") > 1)
                .limit(20)
                .collect()
            )
            if dups:
                raise DuplicationError(
                    "duplicate destinations: "
                    + ", ".join(r["rel_dst"] for r in dups)
                )

        dst_fs.mkdirs(dst)
        tmp_dir = dst_fs.join(dst, "_distexec_tmp")  # tmp placement: DistExec.java:633-636
        dst_fs.mkdirs(tmp_dir)
        log_dir = dst_fs.join(dst, "_distexec_logs")
        dst_fs.rmtree(log_dir)  # this run's tasks write the whole log

        planned, n_tasks, _ = plan_partitions(manifest, n_tasks)
        to_run = planned.select("bin", "src_path", "rel_dst", "is_dir", "mtime_epoch")
        if prev_state is not None:
            # prior content hashes ride along with the plan rows (one equi-join
            # on the unique rel_dst — no driver-side state map)
            to_run = to_run.join(prev_state, "rel_dst", "left")
        else:
            to_run = to_run.withColumn("prev_md5", F.lit(None).cast("string"))
        result_arrow = to_arrow_schema(RESULT_SCHEMA)

        def run_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            # per-SOURCE filesystem, resolved from each file's own URI scheme
            # (reference: srcstat.getPath().getFileSystem(job),
            # ExecFilesMapper.java:114) — a -f list may mix local and remote
            # sources; one scheme -> one FS instance per task
            fs_cache: dict[str, FileSystem] = {}

            def _sfs(p: str) -> FileSystem:
                sch = urlsplit(p).scheme
                if sch not in fs_cache:
                    fs_cache[sch] = resolve_fs(p, fs)
                return fs_cache[sch]

            def run_one(row: dict) -> dict | None:
                src_path, rel_dst = row["src_path"], row["rel_dst"]
                if row["is_dir"]:
                    # empty-dir preservation (ExecFilesMapper.java:91-105):
                    # mkdirs makes parents and is idempotent, so bins need no
                    # order; a failure fails the task, and so the job
                    if rel_dst != ".":
                        dst_fs.mkdirs(dst_fs.join(dst, rel_dst))
                    return None
                src_md5 = None
                if update:
                    final = dst_fs.join(dst, rel_dst)
                    try:
                        if update_mode == "hash":
                            # content compare — DistCp needsUpdate's intent
                            # (DistCp.java:333-337) with md5 instead of
                            # length+CRC (exec output length is command-
                            # dependent; only source content identity matters)
                            src_md5 = _md5_of(_sfs(src_path), src_path)
                            prev_md5 = row["prev_md5"]
                            skip = prev_md5 is not None and src_md5 == prev_md5 and dst_fs.exists(final)
                        else:
                            # raw-epoch comparison: naive datetimes would be
                            # re-interpreted in the machine-local timezone
                            mtime_epoch = row["mtime_epoch"]
                            dst_mtime = (
                                dst_fs.stat(final).mtime_epoch if dst_fs.exists(final) else None
                            )
                            skip = (
                                dst_mtime is not None
                                and mtime_epoch is not None
                                and dst_mtime >= mtime_epoch
                            )
                        if skip:
                            return _result(src_path, rel_dst, "SKIPPED", None, 0, 0, 0, None, src_md5)
                    except OSError:
                        pass
                try:
                    out = _exec_one(
                        src_path, rel_dst, dst, tmp_dir, argv, redirect_err_to_out,
                        cmd_timeout, _sfs(src_path), dst_fs, preserve,
                    )
                except Exception as e:  # per-record isolation (ExecFilesMapper.java:173-208)
                    out = ("FAIL", None, 0, 0, 0, repr(e))
                return _result(src_path, rel_dst, *out, src_md5)

            # one result batch per input batch; directory rows add none
            log, bin_ = [], None
            for batch in batches:
                rows = batch.to_pylist()
                bin_ = rows[0]["bin"] if rows else bin_
                out = [r for r in map(run_one, rows) if r is not None]
                log += [
                    f"FAIL {r['rel_dst']} : {r['error']}\n" for r in out if r["status"] == "FAIL"
                ]
                if out:
                    yield pa.RecordBatch.from_pylist(out, schema=result_arrow)
            if log:
                # FAIL records (ExecFilesMapper.java:184-187): one part per
                # map task, named by its bin, so a retried task rewrites it
                tmp = dst_fs.join(tmp_dir, f"{uuid.uuid4().hex[:12]}.log")
                with dst_fs.open(tmp, "wb") as f:
                    f.write("".join(log).encode("utf-8"))
                _commit(tmp, dst_fs.join(log_dir, f"part-{bin_:05d}"), dst_fs)

        # one task per bin, exactly: repartitionById sends bin b to partition
        # b (a hash repartition would collide bins into one task and leave
        # others empty, destroying the byte balance)
        # pinned before tmp is torn down, so no later action re-runs a child
        results = (
            to_run.repartitionById(n_tasks, "bin")
            .mapInArrow(run_batch, RESULT_SCHEMA)
            .localCheckpoint(eager=True)
        )
    finally:
        # tmp goes on every exit (reference DistExec.java:333-338); on
        # success this runs after the results are pinned, so no result row
        # can still need a tmp file
        if tmp_dir is not None:
            try:
                dst_fs.rmtree(tmp_dir)
            except FileNotFoundError:
                pass

    if update_mode == "hash":
        # persist content hashes for the next run: EXECUTED rows carry the
        # md5 computed during this run; SKIPPED rows re-assert the prior
        # one; FAIL rows are dropped so they re-execute next time
        results.filter(
            F.col("src_md5").isNotNull() & (F.col("status") != "FAIL")
        ).select(*_STATE_SCHEMA.names).write.mode("overwrite").parquet(state_dir)

    return results


def metrics(results: DataFrame) -> DataFrame:
    """Counters as a relational aggregate (reference Counter enum,
    ExecFilesMapper.java:27)."""
    ok = F.col("status") == "EXECUTED"
    return results.agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("executed"),
        F.sum(F.when(F.col("status") == "FAIL", 1).otherwise(0)).alias("fail"),
        F.sum(F.when(F.col("status") == "SKIPPED", 1).otherwise(0)).alias("skipped"),
        # bytes count only successful executions, like the reference's
        # BYTESEXECUTED/BYTESWRITTEN (incremented on success only)
        F.sum(F.when(ok, F.col("bytes_in")).otherwise(0)).alias("bytes_executed"),
        F.sum(F.when(ok, F.col("bytes_out")).otherwise(0)).alias("bytes_written"),
    )
