"""Filesystem abstraction suite: the pipe executor must work against any
FileSystem, not just local paths — the reference resolves every path
through ``path.getFileSystem(job)`` (reference DistExec.java:229;
ExecFilesMapper.java:114).

The remote stand-in is ``MappedFS`` ("mock://..." URIs backed by a local
directory): bare ``os.*``/``open()`` calls fail on those paths, so these
tests prove the manifest walk, the exec data path, the commit/cleanup
path, the FAIL-log sink and delete-sync all route through the interface.
(fsspec is absent in this container; ``FsspecFS`` is the thin adapter a
real cluster would exercise with hdfs:// or s3://.)
"""

import os
import pickle

import pytest
from pyspark.sql import functions as F

from hadoop_distexec_spark import distexec, sync_deletes
from hadoop_distexec_spark.fs import FsspecFS, LocalFS, MappedFS, resolve_fs
from hadoop_distexec_spark.pipe.executor import metrics
from hadoop_distexec_spark.sources.manifest import build_manifest

os.environ.setdefault("DISTEXEC_CLEANUP_SLEEP", "0.1")


@pytest.fixture()
def mockfs(tmp_path):
    store = tmp_path / "store"
    (store / "tree" / "sub").mkdir(parents=True)
    (store / "tree" / "empty_dir").mkdir()
    (store / "tree" / "a.txt").write_text("Hello this is my string")
    (store / "tree" / "sub" / "b.txt").write_text("line one\nline two with pattern\n")
    return MappedFS("mock", str(store))


def test_resolve_fs_dispatch():
    """Scheme dispatch mirrors path.getFileSystem: bare/file -> local,
    anything else -> fsspec adapter; an explicit fs always wins."""
    assert isinstance(resolve_fs("/tmp/x"), LocalFS)
    assert isinstance(resolve_fs("file:///tmp/x"), LocalFS)
    s3 = resolve_fs("s3://bucket/key")
    assert isinstance(s3, FsspecFS) and s3.protocol == "s3"
    override = MappedFS("mock", "/nowhere")
    assert resolve_fs("mock://x", override) is override


def test_mapped_fs_ops(mockfs):
    """MappedFS path algebra + CRUD: URIs in, URIs out, local store under."""
    assert mockfs.exists("mock://tree/a.txt")
    st = mockfs.stat("mock://tree/a.txt")
    assert st.size == 23 and not st.is_dir and st.mtime_epoch is not None
    kids = mockfs.listdir("mock://tree")
    assert kids == [
        "mock://tree/a.txt", "mock://tree/empty_dir", "mock://tree/sub",
    ]
    mockfs.mkdirs("mock://made/deep")
    assert mockfs.stat("mock://made/deep").is_dir
    with mockfs.open("mock://made/deep/f.bin", "wb") as f:
        f.write(b"xyz")
    mockfs.replace("mock://made/deep/f.bin", "mock://made/g.bin")
    with mockfs.open("mock://made/g.bin", "rb") as f:
        assert f.read() == b"xyz"
    mockfs.remove("mock://made/g.bin")
    assert not mockfs.exists("mock://made/g.bin")
    with pytest.raises(ValueError):
        mockfs.open("/plain/local/path")


def test_fs_instances_pickle(mockfs):
    """FS objects are captured in executor closures -> must pickle.
    FsspecFS must drop any instantiated backend from its state."""
    for fs in (LocalFS(), mockfs, FsspecFS("s3", {"anon": True})):
        clone = pickle.loads(pickle.dumps(fs))
        assert type(clone) is type(fs)
    assert pickle.loads(pickle.dumps(mockfs)).root == mockfs.root


def test_manifest_over_mock_fs(spark, mockfs):
    """The BFS manifest walk lists/stats through the interface; rel_dst
    rebasing works on URI paths."""
    m = build_manifest(spark, "mock://tree", "mock://out", fs=mockfs)
    rows = {r["rel_dst"]: r for r in m.collect()}
    assert rows["."]["is_dir"]
    assert rows["a.txt"]["size"] == 23 and not rows["a.txt"]["is_dir"]
    assert rows["sub/b.txt"]["src_path"] == "mock://tree/sub/b.txt"
    assert rows["empty_dir"]["is_dir"]


def test_distexec_cat_over_mock_fs(spark, mockfs, tmp_path):
    """End-to-end identity pipe on a non-local FileSystem: bytes stream
    src_fs -> child -> dst_fs; layout mirrored; counters intact."""
    res = distexec(spark, "mock://tree", "mock://out", "cat", fs=mockfs)
    with mockfs.open("mock://out/a.txt") as f:
        assert f.read() == b"Hello this is my string"
    with mockfs.open("mock://out/sub/b.txt") as f:
        assert f.read() == b"line one\nline two with pattern\n"
    assert mockfs.stat("mock://out/empty_dir").is_dir  # empty-dir preservation
    m = metrics(res).collect()[0]
    assert m["executed"] == 2 and m["fail"] == 0
    assert m["bytes_executed"] == m["bytes_written"] == 23 + 31
    # tmp staging area cleaned up on the remote side
    assert not mockfs.exists("mock://out/_distexec_tmp")


def test_distexec_lazy_create_over_mock_fs(spark, mockfs):
    """grep exit-1 tolerance + no-stdout => no destination object."""
    res = distexec(spark, "mock://tree", "mock://out", "grep pattern", fs=mockfs)
    assert res.filter(F.col("status") == "FAIL").count() == 0
    assert not mockfs.exists("mock://out/a.txt")  # no match, no file
    with mockfs.open("mock://out/sub/b.txt") as f:
        assert f.read() == b"line two with pattern\n"


def test_distexec_fail_logs_over_mock_fs(spark, mockfs):
    """Non-Spark-native scheme: FAIL logs are written executor-side
    through the FileSystem interface, one part per partition."""
    res = distexec(spark, "mock://tree", "mock://out", "false", fs=mockfs)
    assert res.filter(F.col("status") == "FAIL").count() == 2
    parts = [p for p in mockfs.listdir("mock://out/_distexec_logs")]
    assert parts, "fs-routed FAIL log must exist"
    content = b"".join(mockfs.open(p).read() for p in parts).decode()
    assert "FAIL a.txt" in content and "FAIL sub/b.txt" in content


def test_distexec_update_skip_over_mock_fs(spark, mockfs):
    """-update freshness check runs through fs.stat on the remote side."""
    distexec(spark, "mock://tree", "mock://out", "cat", fs=mockfs)
    res2 = distexec(spark, "mock://tree", "mock://out", "cat", fs=mockfs, update=True)
    counts = {r["status"]: 1 for r in res2.collect()}
    assert res2.filter(F.col("status") == "SKIPPED").count() == 2, counts


def test_sync_deletes_over_mock_fs(spark, mockfs):
    """Delete-sync mutates the remote store through the interface."""
    distexec(spark, "mock://tree", "mock://out", "cat", fs=mockfs)
    # plant an extra file + dir at the destination
    mockfs.mkdirs("mock://out/stale_dir")
    with mockfs.open("mock://out/stale.txt", "wb") as f:
        f.write(b"old")
    extras = sync_deletes(spark, "mock://tree", "mock://out", fs=mockfs)
    gone = {r["rel_dst"] for r in extras.collect()}
    assert gone == {"stale.txt", "stale_dir"}
    assert not mockfs.exists("mock://out/stale.txt")
    assert not mockfs.exists("mock://out/stale_dir")
    assert mockfs.exists("mock://out/a.txt")  # survivors untouched


def test_distexec_mixed_scheme_sources(spark, mockfs, tmp_path):
    """A multi-source run mixing a local dir and a mock:// tree (the -f
    URI-list shape): each source must resolve its OWN filesystem — the
    round-1 code normalized every source through srcs[0]'s FS, mangling
    the other scheme's URIs."""
    local_src = tmp_path / "ltree"
    local_src.mkdir()
    (local_src / "a.txt").write_text("local\n")
    mockfs.mkdirs("mock://store/rtree")
    with mockfs.open("mock://store/rtree/b.txt", "wb") as f:
        f.write(b"remote\n")

    dst = str(tmp_path / "out")
    from hadoop_distexec_spark import distexec

    res = distexec(spark, [str(local_src), "mock://store/rtree"], dst, "cat", fs=mockfs)
    by_rel = {r["rel_dst"]: r["status"] for r in res.collect()}
    assert by_rel["ltree/a.txt"] == "EXECUTED"
    assert by_rel["rtree/b.txt"] == "EXECUTED"
    assert (tmp_path / "out" / "ltree" / "a.txt").read_text() == "local\n"
    assert (tmp_path / "out" / "rtree" / "b.txt").read_text() == "remote\n"


def test_local_fs_serves_file_uris(tmp_path):
    """LocalFS claims file:// in handles() and every operation must
    actually serve such URIs (review: normalize used to mangle them into
    relative './file:...' paths)."""
    p = tmp_path / "probe.txt"
    p.write_bytes(b"x" * 7)
    lfs = LocalFS()
    uri = f"file://{p}"
    assert lfs.handles(uri)
    assert lfs.normalize(uri) == str(p)
    assert lfs.exists(uri)
    assert lfs.stat(uri).size == 7
    with lfs.open(uri, "rb") as fh:
        assert fh.read() == b"x" * 7
    assert resolve_fs(uri).exists(uri)
    with pytest.raises(ValueError):
        lfs.normalize("file://otherhost/x")


def test_resolve_fs_explicit_remote_fs_wins():
    """An explicit remote FS keeps serving remote paths it doesn't
    string-match (scheme aliases like s3a->s3, or any unclaimed remote
    scheme) instead of being replaced by a fabricated credential-less
    adapter that would drop the caller's endpoint/credentials."""
    creds = FsspecFS("s3", {"key": "k", "secret": "s"})
    assert creds.handles("s3a://bucket/x")  # alias claim
    assert resolve_fs("s3a://bucket/x", creds) is creds
    # unclaimed remote scheme: explicit fs still outranks fabrication
    assert resolve_fs("hdfs://nn/x", creds) is creds
    # no explicit fs: fabricate per scheme as before
    got = resolve_fs("hdfs://nn/x")
    assert isinstance(got, FsspecFS) and got.protocol == "hdfs"
    # local paths always route local, explicit fs or not
    assert isinstance(resolve_fs("/tmp/x", creds), LocalFS)


def test_update_hash_needs_spark_writable_dst(spark, mockfs):
    """update='hash' keeps its state under dst, so a dst Spark cannot
    write is refused before anything is created there."""
    with pytest.raises(ValueError, match="update='hash'"):
        distexec(spark, "mock://tree", "mock://out", "cat", update="hash", fs=mockfs)
    assert not mockfs.exists("mock://out")
