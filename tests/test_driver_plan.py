"""Guard: a small tree's run keeps its bookkeeping on the driver, as the
reference plans its splits on the client (ExecInputFormat.getSplits,
DistExec.java:132-177). A manifest the driver walked whole is one local
relation, so split planning and delete-sync each read it with one collect
instead of running distributed prefix sums and a shuffled anti-join."""

from hadoop_distexec_spark import distexec
from hadoop_distexec_spark.pipe.sync import sync_deletes
from hadoop_distexec_spark.sources import manifest


def _jobs(spark, group, action):
    """(result of ``action()``, Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _four_files(tmp_path):
    src = tmp_path / "src"
    (src / "sub").mkdir(parents=True)
    for i, rel in enumerate(("a.txt", "b.txt", "sub/c.txt", "sub/d.txt")):
        (src / rel).write_text(f"file {i}\n")
    return src


def test_manifest_is_local_below_the_cap_only(spark, tmp_path, monkeypatch):
    src = _four_files(tmp_path)
    m = manifest.build_manifest(spark, str(src))
    assert m.isLocal()
    m.cache()
    try:
        assert m.isLocal()
    finally:
        m.unpersist()
    monkeypatch.setattr(manifest, "_DRIVER_ROWS_CAP", 0)
    fanned = manifest.build_manifest(spark, str(src))
    assert not fanned.isLocal()
    assert fanned.schema == m.schema


def test_warm_small_run_job_counts(spark, tmp_path):
    """A warm 4-file ``distexec`` runs at most 3 Spark jobs (plan collect,
    the pipe map's shuffle and its checkpoint) and ``sync_deletes`` on
    its output at most 2 (one collect per manifest)."""
    src = _four_files(tmp_path)
    distexec(spark, str(src), str(tmp_path / "warm"), "cat")
    dst = str(tmp_path / "out")
    res, n = _jobs(spark, "distexec_small", lambda: distexec(spark, str(src), dst, "cat"))
    assert n <= 3, n
    assert sorted(r["status"] for r in res.collect()) == ["EXECUTED"] * 4
    (tmp_path / "out" / "stray.txt").write_text("x")
    deleted, n = _jobs(spark, "sync_small", lambda: sync_deletes(spark, str(src), dst))
    assert n <= 2, n
    assert [tuple(r) for r in deleted.collect()] == [("stray.txt", False)]
