"""Destination delete-sync: remove from dst anything the source manifest
does not account for.

Upstream DistCp implements this as ``deleteNonexisting`` — a sorted merge
of the dst listing against the src manifest (src/reference/DistCp.java:
1240-1327); distexec dropped the flag. Here the same semantics are one
``left_anti`` join between two manifest DataFrames — the relational twin
of DistCp's sorted-merge compare (an anti-join IS delete-nonexisting,
SURVEY.md §2.5).

Scale shape: both sides are manifests from ``build_manifest`` (see its
docstring for where the walk runs), the anti-join shuffles on rel_dst
once, and deletions run executor-side via foreachPartition when the
filesystem is mutation-safe from executors
(remote FS, or local FS under a local master — fs.executor_mutation_safe);
otherwise they fall back to the driver (ADVICE r01 #5: executor-local
``os.remove`` on a real cluster would target worker disks). The driver
only ever materializes the (tiny) directory records for the deepest-first
rmdir pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_distexec_spark.fs import FileSystem, executor_mutation_safe, resolve_fs
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
    files = expected.filter(~F.col("is_dir")).select("rel_dst")
    # every produced file may carry a .stderr side file (ExecFilesMapper.java:86)
    keep = (
        files.unionByName(files.select(F.concat("rel_dst", F.lit(".stderr")).alias("rel_dst")))
        .unionByName(expected.filter(F.col("is_dir")).select("rel_dst"))
        .distinct()
    )

    # dst listing rebased against dst itself (root = dst: the "special"
    # single-dir rule applies because the second argument is None)
    actual = build_manifest(spark, dst, None, fs=fs)
    actual = actual.filter(
        (F.col("rel_dst") != ".")
        & ~F.col("rel_dst").startswith(_INTERNAL_PREFIX)
    )

    extras = actual.join(keep, "rel_dst", "left_anti").select("rel_dst", "is_dir")
    extras = extras.localCheckpoint(eager=True)  # freeze the listing before mutating dst

    if not dry_run:
        def _rm_one(rel: str) -> None:
            try:
                dst_fs.remove(dst_fs.join(dst, rel))
            except FileNotFoundError:
                pass  # race: already gone

        if executor_mutation_safe(spark, dst_fs):
            # files: distributed delete
            def _rm(rows) -> None:
                for r in rows:
                    if not r["is_dir"]:
                        _rm_one(r["rel_dst"])

            extras.foreachPartition(_rm)
        else:
            # cluster + local paths: executors can't be trusted to share
            # the driver's disk — apply driver-side (extras are the *diff*,
            # small by the nature of an incremental sync)
            for r in extras.filter(~F.col("is_dir")).toLocalIterator():
                _rm_one(r["rel_dst"])

        # dirs: deepest-first so children go before parents; tiny row count
        dirs = sorted(
            (r["rel_dst"] for r in extras.filter(F.col("is_dir")).collect()),
            key=lambda p: -p.count("/"),
        )
        for rel in dirs:
            try:
                dst_fs.rmdir(dst_fs.join(dst, rel))
            except OSError:
                pass  # non-empty (kept child) or already gone
    return extras
