"""Destination delete-sync: remove from dst anything the source manifest
does not account for.

Upstream DistCp implements this as ``deleteNonexisting`` — a sorted merge
of the dst listing against the src manifest (src/reference/DistCp.java:
1240-1327); distexec dropped the flag. Here the same semantics are one
``left_anti`` join between two manifest DataFrames — the relational twin
of DistCp's sorted-merge compare (an anti-join IS delete-nonexisting,
SURVEY.md §2.5).

Scale shape: both sides are manifests from ``build_manifest`` (see its
docstring for where the walk runs). When both walks stayed on the driver
(``isLocal()``), each side comes back in one ``toArrow()`` and the
anti-join runs in Arrow on the driver (``pc.is_in``), with no shuffle;
otherwise it is a Spark ``left_anti`` join that shuffles on rel_dst once
and whose result, the diff, comes to the driver in one collect. Either
way the diff is frozen before dst changes; the driver then deletes
files, then dirs deepest-first, like DistCp's client-side loop, and
returns the same (rel_dst, is_dir) frame. A sync with very many extras
on an object store therefore deletes serially (SCALE.md).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_distexec_spark.fs import FileSystem, resolve_fs
from hadoop_distexec_spark.sources.manifest import build_manifest

# engine-internal paths under dst that a sync must never touch
_INTERNAL_PREFIX = "_distexec_"


def sync_deletes(
    spark: SparkSession,
    srcs: list[str] | str,
    dst: str,
    *,
    contents_into_dst: bool = True,
    dry_run: bool = False,
    fs: FileSystem | None = None,
) -> DataFrame:
    """Delete files/dirs under ``dst`` that no source manifest entry (or
    its ``.stderr`` side file) maps to. Returns the deleted (or, with
    ``dry_run``, would-be-deleted) entries as (rel_dst, is_dir).

    ``contents_into_dst`` must match the layout of the distexec run being
    synced (True for the single-source-dir layout, which is also what
    ``distexec(update=True)`` re-runs use)."""
    dst_fs = resolve_fs(dst, fs)
    expected = build_manifest(spark, srcs, dst, contents_into_dst=contents_into_dst, fs=fs)
    # dst listing rebased against dst itself (root = dst: the "special"
    # single-dir rule applies because the second argument is None)
    actual = build_manifest(spark, dst, None, fs=fs)
    # one collect per side freezes the listing before dst is mutated
    if expected.isLocal() and actual.isLocal():
        extras = _extras_local(expected.toArrow(), actual.toArrow())
    else:
        extras = _extras_join(expected, actual).toArrow()
    if not dry_run:
        rows = list(zip(extras["rel_dst"].to_pylist(), extras["is_dir"].to_pylist()))
        for rel in (rel for rel, is_dir in rows if not is_dir):
            try:
                dst_fs.remove(dst_fs.join(dst, rel))
            except FileNotFoundError:
                pass  # race: already gone
        # dirs deepest-first so children go before parents
        for rel in sorted((rel for rel, is_dir in rows if is_dir), key=lambda p: -p.count("/")):
            try:
                dst_fs.rmdir(dst_fs.join(dst, rel))
            except OSError:
                pass  # non-empty (kept child) or already gone
    return spark.createDataFrame(extras)


def _extras_local(expected: pa.Table, actual: pa.Table) -> pa.Table:
    """``_extras_join`` on the driver, for two driver-resident manifests."""
    files = expected.filter(pc.invert(expected["is_dir"]))["rel_dst"].combine_chunks()
    dirs = expected.filter(expected["is_dir"])["rel_dst"].combine_chunks()
    keep = pa.concat_arrays([files, pc.binary_join_element_wise(files, ".stderr", ""), dirs])
    rel = actual["rel_dst"]
    extra = pc.and_(
        pc.and_(pc.not_equal(rel, "."), pc.invert(pc.starts_with(rel, _INTERNAL_PREFIX))),
        pc.invert(pc.is_in(rel, value_set=keep)),
    )
    return actual.filter(extra).select(["rel_dst", "is_dir"])


def _extras_join(expected: DataFrame, actual: DataFrame) -> DataFrame:
    """The anti-join in Spark, shuffled on rel_dst once."""
    files = expected.filter(~F.col("is_dir")).select("rel_dst")
    # every produced file may carry a .stderr side file (ExecFilesMapper.java:86)
    keep = (
        files.unionByName(files.select(F.concat("rel_dst", F.lit(".stderr")).alias("rel_dst")))
        .unionByName(expected.filter(F.col("is_dir")).select("rel_dst"))
        .distinct()
    )
    actual = actual.filter(
        (F.col("rel_dst") != ".")
        & ~F.col("rel_dst").startswith(_INTERNAL_PREFIX)
    )
    return actual.join(keep, "rel_dst", "left_anti").select("rel_dst", "is_dir")
