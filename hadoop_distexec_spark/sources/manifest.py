"""Manifest builder: recursive tree enumeration -> manifest DataFrame.

The reference walks the whole tree on the *client* with an explicit stack
(reference DistExec.java:546-614) and spills three SequenceFile manifests.
Here the walk runs in BFS rounds, on the driver up to a row cap and on
executors past it; ``build_manifest`` states the rule.

Manifest schema (SURVEY.md §1): src_path, rel_dst, size, is_dir, mtime
(``MANIFEST_SCHEMA``, plus the raw ``mtime_epoch``).
``rel_dst`` is the reference's ``makeRelative`` rebasing
(DistExec.java:388-410), applied by ``make_relative`` to each row where it
is listed, on the driver or in a fan-out task, including the single-source
"special" root rule (DistExec.java:545,553).
"""

from __future__ import annotations

import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from hadoop_distexec_spark.errors import InvalidInputError
from hadoop_distexec_spark.fs import FileSystem, resolve_fs

# the manifest as ``build_manifest`` returns it, on either walk path
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("src_path", T.StringType(), False),
        T.StructField("rel_dst", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("is_dir", T.BooleanType(), False),
        T.StructField("mtime", T.TimestampType(), True),
        # nullable: object-store backends may not report mtimes
        T.StructField("mtime_epoch", T.DoubleType(), True),
    ]
)

# rows the driver lists before the rest of the walk fans out. A bound on
# driver memory and on the LocalRelation every action on the manifest
# ships, not a speed crossover: on a local FS the driver walk still beats
# the fan-out at this size (SCALE.md).
_DRIVER_ROWS_CAP = 1 << 16

# the walk's rows: the manifest plus the link flag that stops expansion
_WALK_SCHEMA = T.StructType(
    [*MANIFEST_SCHEMA.fields, T.StructField("is_link", T.BooleanType(), False)]
)
# its Arrow twin types every walk batch (``_walk_batch``)
_WALK_ARROW_SCHEMA = to_arrow_schema(_WALK_SCHEMA)


def make_relative(root: str, path: str) -> str | None:
    """Strip ``root`` from ``path`` (reference makeRelative,
    DistExec.java:388-410): returns "." when path == root, None when path is
    not a descendant of root. A root ending in "/" ("/", "mock://") is
    already its own prefix."""
    prefix = root if root.endswith("/") else root + "/"
    if path == root or path.rstrip("/") + "/" == prefix:
        return "."
    if not path.startswith(prefix):
        return None
    return path[len(prefix) :].rstrip("/")


# one walk row, in _WALK_SCHEMA order
_WalkRow = tuple[str, str, int, bool, datetime.datetime | None, float | None, bool]


def _stat_entry(path: str, root: str, fs: FileSystem) -> _WalkRow:
    """(path, rel_dst, size, is_dir, mtime_utc, mtime_epoch, is_link),
    ``rel_dst`` being ``make_relative(root, path)``.

    ``mtime`` is UTC-aware: PySpark converts a *naive* datetime with the
    host's local timezone, which shifted it by the host's offset.
    ``mtime_epoch`` carries the raw epoch for the -update freshness check.
    Object stores may report no mtime at all -> both fields None (and
    -update re-executes).
    """
    st = fs.stat(path)
    # dirs carry size 0, matching the reference's manifest key
    # (DistExec.java:592: dirs are written with a 0 size key).
    mtime = (
        datetime.datetime.fromtimestamp(st.mtime_epoch, tz=datetime.timezone.utc)
        if st.mtime_epoch is not None
        else None
    )
    return (
        path,
        make_relative(root, path),
        0 if st.is_dir else st.size,
        st.is_dir,
        mtime,
        st.mtime_epoch,
        st.is_link,
    )


def _list_dir(path: str, root: str, fs: FileSystem) -> list[_WalkRow]:
    """One directory's direct children as walk rows (driver or executor
    side).

    PermissionError propagates: an unreadable directory must fail the job
    (like the reference's client-side walk would), never silently vanish
    from the manifest. Only races (entry deleted between listdir and stat)
    are tolerated.
    """
    out = []
    try:
        children = fs.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return out
    for child in children:
        try:
            out.append(_stat_entry(child, root, fs))
        except FileNotFoundError:
            continue
    return out


def check_src_paths(srcs: list[str], fs: FileSystem | None = None) -> None:
    """Every source must exist; all misses accumulated before raising
    (reference checkSrcPath, DistExec.java:209-226)."""
    missing = [s for s in srcs if not resolve_fs(s, fs).exists(s)]
    if missing:
        raise InvalidInputError(missing)


def build_manifest(
    spark: SparkSession,
    srcs: list[str] | str,
    dst: str | None = None,
    contents_into_dst: bool = False,
    fs: FileSystem | None = None,
) -> DataFrame:
    """Enumerate source trees into a manifest DataFrame with rel_dst.

    Root rule (reference DistExec.java:545,553): normally each entry is
    rebased against ``src.getParent()``; in the "special" case — exactly one
    source, it is a directory, and the destination does not yet exist — the
    root is the source dir itself, so its children land directly under dst.

    ``contents_into_dst`` forces the special rule even when dst exists —
    DistCp's documented -update semantics, needed so incremental re-runs
    map to the same destination layout as the first run.

    ``fs`` selects the filesystem (default: resolved per-path from the URI
    scheme — local, or fsspec for hdfs/s3/..., matching the reference's
    ``path.getFileSystem`` dispatch at DistExec.java:229). The instance is
    captured in executor closures, so it must pickle.

    Walk: BFS rounds over each source. The driver lists directory after
    directory (like the reference's client walk) while it holds fewer
    than ``_DRIVER_ROWS_CAP`` rows, so it holds at most the cap plus one
    directory's children. Those rows become one typed Arrow table: the
    manifest plans as a ``LocalTableScan`` and no action on it starts a
    Python task. When no round fanned out, the manifest is that table
    alone and ``isLocal()`` is true, and stays true when the frame is
    cached: the split planner, the limits and delete-sync keep their
    bookkeeping on the driver (``pipe.executor.plan_partitions``). Past
    the cap, the rest of the round and every later round fan out on
    executors in at most ``defaultParallelism`` tasks, as a ``mapInArrow``
    over the round's paths, unioned onto the table. Every row gets its
    ``rel_dst`` from ``make_relative`` where it is listed, on the driver
    or in a task, so both paths rebase alike. Each round is pinned by a
    lazy ``localCheckpoint``: the collect of its directory names fills it,
    a later action on the manifest reads it without a Python task, and its
    blocks are freed when the manifest is garbage-collected, so nothing
    enters the session cache. The price is recovery: a lost checkpoint
    block fails the manifest's later readers, where a persisted round
    would have been listed again (SCALE.md). Only directory names come
    back to the driver.
    """
    if isinstance(srcs, str):
        srcs = [srcs]
    # Resolve the filesystem PER SOURCE (reference: each path gets its own
    # getFileSystem, DistExec.java:229) — a -f URI list can legitimately
    # mix file:// and s3:// lines, and normalizing an s3 URI through the
    # local FS would mangle it into <cwd>/s3:/bucket.
    src_fss = [resolve_fs(s, fs) for s in srcs]
    srcs = [sfs.normalize(s) for sfs, s in zip(src_fss, srcs)]
    check_src_paths(srcs, fs)
    dst_fs = resolve_fs(dst, fs) if dst is not None else src_fss[0]

    special = (
        len(srcs) == 1
        and src_fss[0].stat(srcs[0]).is_dir
        and (contents_into_dst or dst is None or not dst_fs.exists(dst))
    )
    rows: list[_WalkRow] = []
    rounds = []
    for src, src_fs in zip(srcs, src_fss):
        root = src if special else (src_fs.dirname(src) or "/")
        entry = _stat_entry(src, root, src_fs)
        rows.append(entry)
        if entry[3]:  # directory: BFS rounds
            frontier = [src]
            while frontier:
                dirs = []
                n = 0
                while n < len(frontier) and len(rows) < _DRIVER_ROWS_CAP:
                    listed = _list_dir(frontier[n], root, src_fs)
                    rows.extend(listed)
                    dirs += [(e[0], e[6]) for e in listed if e[3]]
                    n += 1
                rest = frontier[n:]
                if rest:
                    # a LocalTableScan of n paths splits into
                    # min(n, defaultParallelism) tasks, with no shuffle
                    frontier_df = spark.createDataFrame(pa.table({"path": rest}))

                    def list_dirs(batches, _fs=src_fs, _root=root):
                        for b in batches:
                            paths = b.column(0).to_pylist()
                            yield _walk_batch([e for p in paths for e in _list_dir(p, _root, _fs)])

                    listing = frontier_df.mapInArrow(list_dirs, _WALK_SCHEMA).localCheckpoint(
                        eager=False
                    )
                    rounds.append(listing)
                    # only directory *names* come back to the driver
                    # (path + link flag)
                    dirs += [
                        tuple(r)
                        for r in listing.filter("is_dir").select("src_path", "is_link").collect()
                    ]
                # Symlinked dirs are recorded but never expanded — a
                # `ln -s . loop` cycle would otherwise walk forever.
                frontier = [p for p, is_link in dirs if not is_link]

    # the driver's rows stay one bare LocalRelation, so isLocal() holds
    walked = pa.Table.from_batches([_walk_batch(rows)]).select(MANIFEST_SCHEMA.names)
    df = spark.createDataFrame(walked, MANIFEST_SCHEMA)
    for listing in rounds:
        df = df.union(listing.select(*MANIFEST_SCHEMA.names))
    return df


def _walk_batch(rows: list[tuple]) -> pa.RecordBatch:
    """Walk tuples as one typed Arrow batch, for the driver's table and
    for each fan-out task alike. Explicit types, not inference: ``mtime``
    is timestamp[us, tz=UTC] whatever the host's zone, and an empty
    listing still carries the schema. Not ``createDataFrame(list)`` (row
    path, slower per action) and not pandas (it falls back to the row path
    without an error)."""
    cols = list(zip(*rows)) or [()] * len(_WALK_ARROW_SCHEMA)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, _WALK_ARROW_SCHEMA)],
        schema=_WALK_ARROW_SCHEMA,
    )
