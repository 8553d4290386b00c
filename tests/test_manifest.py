"""Manifest builder + makeRelative semantics (reference DistExec.java:388-410,
546-614)."""

import json
import os
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from hadoop_distexec_spark.fs import MappedFS
from hadoop_distexec_spark.sources import manifest as manifest_mod
from hadoop_distexec_spark.sources.manifest import build_manifest, make_relative

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_CAP = manifest_mod._DRIVER_ROWS_CAP


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_make_relative_semantics():
    # reference makeRelative (DistExec.java:388-410)
    assert make_relative("/a/b", "/a/b") == "."
    assert make_relative("/a/b", "/a/b/c.txt") == "c.txt"
    assert make_relative("/a/b", "/a/b/c/d.txt") == "c/d.txt"
    assert make_relative("/a/b", "/a/bc.txt") is None  # not a descendant
    assert make_relative("/", "/x") == "x"


@pytest.fixture()
def tree(tmp_path):
    t = tmp_path / "tree"
    (t / "sub" / "deep").mkdir(parents=True)
    (t / "empty").mkdir()
    (t / "a.txt").write_text("aaaa")
    (t / "sub" / "b.txt").write_text("bb")
    (t / "sub" / "deep" / "c.txt").write_text("c")
    return t


def test_build_manifest_walk(spark, tree):
    m = build_manifest(spark, str(tree))
    rows = {r["src_path"]: r for r in m.collect()}
    # root + 3 dirs + 3 files
    assert len(rows) == 7
    files = [r for r in rows.values() if not r["is_dir"]]
    assert {r["rel_dst"] for r in files} == {"a.txt", "sub/b.txt", "sub/deep/c.txt"}
    assert sum(r["size"] for r in files) == 4 + 2 + 1
    # dirs carry size 0 (reference DistExec.java:592)
    assert all(r["size"] == 0 for r in rows.values() if r["is_dir"])
    # root maps to "."
    assert rows[str(tree)]["rel_dst"] == "."


def test_build_manifest_multi_src_root(spark, tree, tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "z.txt").write_text("z")
    m = build_manifest(spark, [str(tree), str(other)], dst=str(tmp_path / "dst"))
    rels = {r["rel_dst"] for r in m.filter(~F.col("is_dir")).collect()}
    # multi-src: rebased against each src's parent -> basename prefix kept
    assert "tree/a.txt" in rels and "other/z.txt" in rels


def test_size_stats_match_walk(spark, tree):
    m = build_manifest(spark, str(tree))
    agg = m.agg(
        F.count(F.lit(1)).alias("src_count"),
        F.sum(F.when(F.col("is_dir"), 0).otherwise(1)).alias("file_count"),
        F.sum("size").alias("byte_count"),
    ).collect()[0]
    assert agg["src_count"] == 7
    assert agg["file_count"] == 3
    assert agg["byte_count"] == 7


def test_symlink_cycle_terminates(spark, tmp_path):
    """A `ln -s . loop` cycle must not walk forever: symlinked dirs are
    recorded but never expanded."""
    import os

    t = tmp_path / "tree"
    t.mkdir()
    (t / "a.txt").write_text("x")
    os.symlink(".", t / "loop")
    m = build_manifest(spark, str(t))
    rows = {r["src_path"]: r for r in m.collect()}
    # root + a.txt + the loop entry itself; nothing under loop/
    assert len(rows) == 3
    assert not any("/loop/" in p for p in rows)


def test_unreadable_dir_fails_job(spark, tmp_path):
    """PermissionError must fail the walk (reference client-walk behavior),
    never silently drop a subtree."""
    import os
    import pytest as _pytest

    t = tmp_path / "tree"
    (t / "locked").mkdir(parents=True)
    (t / "locked" / "secret.txt").write_text("s")
    os.chmod(t / "locked", 0o000)
    try:
        if os.access(t / "locked", os.R_OK):  # running as root: chmod is a no-op
            _pytest.skip("cannot create unreadable dir as root")
        with _pytest.raises(Exception):
            build_manifest(spark, str(t)).collect()
    finally:
        os.chmod(t / "locked", 0o755)


@pytest.fixture()
def mixed_tree(tmp_path):
    """Three subdirectories under the root (nested, empty, plain), files at
    every level and a `ln -s . loop` cycle; a second source for the
    multi-source root rule."""
    t = tmp_path / "tree"
    (t / "sub" / "deep").mkdir(parents=True)
    (t / "empty").mkdir()
    (t / "plain").mkdir()
    (t / "a.txt").write_text("aaaa")
    (t / "sub" / "b.txt").write_text("bb")
    (t / "sub" / "deep" / "c.txt").write_text("c")
    (t / "plain" / "d.txt").write_text("dddd")
    os.symlink(".", t / "loop")
    other = tmp_path / "other"
    (other / "o").mkdir(parents=True)
    (other / "o" / "z.txt").write_text("z")
    return t, other


@pytest.mark.parametrize("rule", ["special", "single_dst_exists", "multi"])
def test_driver_and_fanout_walks_agree(spark, monkeypatch, mixed_tree, tmp_path, rule):
    """Driver rounds, fan-out rounds and a walk that crosses the driver's
    row cap mid-round give the same rows under each root rule. Cap 0 fans
    every listing out; cap 7 lists the root, `empty` and `plain` on the
    driver (7 rows) and fans `sub` and everything after it out. The
    driver walk plans as one Arrow table; a fan-out round reads its local
    checkpoint (no RDD-API Python under either: test_no_python_rdd.py)."""
    tree, other = mixed_tree
    args = {
        "special": (str(tree), None),
        "single_dst_exists": (str(tree), str(tmp_path)),
        "multi": ([str(tree), str(other)], str(tmp_path / "dst")),
    }[rule]
    walks = {}
    for cap in (0, 7, DEFAULT_CAP):
        monkeypatch.setattr(manifest_mod, "_DRIVER_ROWS_CAP", cap)
        m = build_manifest(spark, *args)
        walks[cap] = (sorted(m.collect()), _plan(m))
    rows, plan = walks[DEFAULT_CAP]
    # a small tree is listed on the driver into one Arrow table
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    for cap in (0, 7):
        assert walks[cap][0] == rows
        # fan-out rounds are local checkpoints of mapInArrow frames
        assert "ExistingRDD" in walks[cap][1]
    # the mixed walk keeps its driver rows in the Arrow table
    assert "LocalTableScan" in walks[7][1]


def test_fanout_walk_leaves_session_cache_empty(spark, monkeypatch, mixed_tree, tmp_path):
    """Fan-out rounds are pinned by local checkpoints, not the session
    cache: the rows match the driver walk, nothing stays cached, and the
    walk filled each checkpoint, so later actions on the manifest list no
    directory again (a counting FS, shipped to the executors by value,
    logs every listing from the driver and from the tasks)."""
    from hadoop_distexec_spark.fs import LocalFS

    calls = tmp_path / "listdir_calls"

    class CountingFS(LocalFS):
        def listdir(self, path):
            with open(calls, "a") as f:
                f.write(path + "\n")
            return super().listdir(path)

    tree, _ = mixed_tree
    want = sorted(build_manifest(spark, str(tree)).collect())
    spark.catalog.clearCache()
    monkeypatch.setattr(manifest_mod, "_DRIVER_ROWS_CAP", 1)
    m = build_manifest(spark, str(tree), fs=CountingFS())
    walked = calls.read_text().splitlines()
    # root, sub, empty, plain, sub/deep: loop is a symlink, never expanded
    assert len(walked) == 5
    assert sorted(m.collect()) == want
    assert m.count() == len(want)
    assert calls.read_text().splitlines() == walked
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("cap", [DEFAULT_CAP, 0], ids=["driver", "fanout"])
def test_permission_error_fails_walk_on_both_paths(spark, monkeypatch, tmp_path, cap):
    """An unreadable directory fails the walk on the driver and on the
    executors alike; its subtree never silently drops out. The chmod
    variant above skips as root, so the denial comes from the FS."""
    store = tmp_path / "store"
    (store / "tree" / "locked" / "inner").mkdir(parents=True)
    (store / "tree" / "locked" / "secret.txt").write_text("s")
    (store / "tree" / "ok.txt").write_text("k")

    class LockedFS(MappedFS):
        def listdir(self, path):
            if path == "lock://tree/locked":
                raise PermissionError(path)
            return super().listdir(path)

    monkeypatch.setattr(manifest_mod, "_DRIVER_ROWS_CAP", cap)
    with pytest.raises(Exception) as excinfo:
        build_manifest(spark, "lock://tree", fs=LockedFS("lock", str(store))).collect()
    assert "PermissionError" in f"{excinfo.type.__name__}: {excinfo.value}"


_TZ_PROBE = """
import json, sys
from pyspark.sql import functions as F
from hadoop_distexec_spark.session import get_spark
from hadoop_distexec_spark.sources import manifest
spark = get_spark("tz_probe")
out = {}
for cap in (manifest._DRIVER_ROWS_CAP, 0):
    manifest._DRIVER_ROWS_CAP = cap
    m = manifest.build_manifest(spark, sys.argv[1])
    skew = F.abs(F.unix_micros("mtime") - F.col("mtime_epoch") * 1e6)
    out[cap] = m.agg(F.max(skew), F.count("*")).first()[:]
print(json.dumps(out))
"""


def test_mtime_is_the_true_instant_off_utc(tree):
    """On a host outside UTC both walk paths store the file's true
    instant: PySpark converts a naive datetime with the host's zone, which
    shifted mtime by the host's offset on the fan-out path."""
    env = dict(os.environ, TZ="America/New_York", SPARK_GRAFT_CPUS="2")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", _TZ_PROBE, str(tree)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    skews = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(skews) == 2
    for cap, (max_skew, n) in skews.items():
        assert n == 7, cap
        assert max_skew <= 1, (cap, max_skew)


def test_source_under_uri_root_stays_inside_dst(spark, tmp_path, monkeypatch):
    """A source directly under a URI root rebases against the scheme root
    ("mock://", not "mock:"): once dst exists, a second run into it lands
    under dst/big/ instead of at an absolute path outside dst, on the
    driver walk and on the fan-out alike."""
    from hadoop_distexec_spark import distexec

    store = tmp_path / "store"
    (store / "big" / "sub").mkdir(parents=True)
    (store / "big" / "a.txt").write_text("alpha\n")
    (store / "big" / "sub" / "b.txt").write_text("beta\n")
    fs = MappedFS("mock", str(store))
    assert fs.dirname("mock://big") == "mock://"
    assert make_relative("mock://", "mock://big/a.txt") == "big/a.txt"
    for walk, cap in (("driver", DEFAULT_CAP), ("fanout", 0)):
        monkeypatch.setattr(manifest_mod, "_DRIVER_ROWS_CAP", cap)
        for _ in range(2):
            res = distexec(spark, "mock://big", f"mock://out_{walk}", "cat", fs=fs)
            assert res.filter(F.col("status") != "EXECUTED").count() == 0
        out = store / f"out_{walk}"
        assert (out / "a.txt").read_text() == "alpha\n"  # first run: dst was new
        assert (out / "big" / "a.txt").read_text() == "alpha\n"
        assert (out / "big" / "sub" / "b.txt").read_text() == "beta\n"
        m = build_manifest(spark, "mock://big", f"mock://out_{walk}", fs=fs)
        assert sorted(r["rel_dst"] for r in m.collect()) == [
            "big", "big/a.txt", "big/sub", "big/sub/b.txt",
        ], walk


def test_root_with_trailing_slash_keeps_whole_names(spark, tmp_path, monkeypatch):
    """A source root given with a trailing slash on a filesystem that does
    not normalize it ("mock://tree/") is already its own prefix: the
    rebase must not eat the first character of each name, on either walk
    path."""
    store = tmp_path / "store"
    (store / "tree" / "sub").mkdir(parents=True)
    (store / "tree" / "a.txt").write_text("a")
    (store / "tree" / "sub" / "b.txt").write_text("b")
    for cap in (DEFAULT_CAP, 0):
        monkeypatch.setattr(manifest_mod, "_DRIVER_ROWS_CAP", cap)
        m = build_manifest(spark, "mock://tree/", None, fs=MappedFS("mock", str(store)))
        assert m.isLocal() == (cap == DEFAULT_CAP)
        got = sorted(r["rel_dst"] for r in m.collect())
        assert got == [".", "a.txt", "sub", "sub/b.txt"], cap
