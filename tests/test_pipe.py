"""Pipe-executor semantics suite — every behavior from FIXTURES.md §B with
its reference citation (files under /root/reference/src/main/java/com/kadwa/hadoop/)."""

import os
import pathlib

import pytest

from pyspark.sql import functions as F

from hadoop_distexec_spark import DuplicationError, InvalidInputError, distexec
from hadoop_distexec_spark.pipe.cmdline import exit_ok, tokenize
from hadoop_distexec_spark.pipe.executor import metrics

os.environ.setdefault("DISTEXEC_CLEANUP_SLEEP", "0.1")


@pytest.fixture()
def tree(tmp_path):
    t = tmp_path / "tree"
    (t / "sub").mkdir(parents=True)
    (t / "empty_dir").mkdir()
    (t / "a.txt").write_text("Hello this is my string")
    (t / "sub" / "b.txt").write_text("line one\nline two with pattern\n")
    (t / "nomatch.txt").write_text("nothing to see here\n")
    return t


def test_identity_cat_roundtrip(spark, tree, tmp_path):
    """cat pipe: output bytes == input bytes, counters match
    (SimpleExecutorTest.java:20-36 semantics)."""
    dst = tmp_path / "out"
    res = distexec(spark, str(tree), str(dst), "cat")
    rows = {r["rel_dst"]: r for r in res.collect()}
    assert rows["a.txt"]["status"] == "EXECUTED"
    assert (dst / "a.txt").read_text() == "Hello this is my string"
    assert (dst / "sub" / "b.txt").read_bytes() == (tree / "sub" / "b.txt").read_bytes()
    m = metrics(res).collect()[0]
    assert m["executed"] == 3 and m["fail"] == 0
    assert m["bytes_executed"] == m["bytes_written"] == 23 + 31 + 20


@pytest.mark.parametrize("fs_kind", ["local", "mapped"])
@pytest.mark.parametrize("walk", ["driver", "fanout"])
def test_empty_dir_preserved(spark, tree, tmp_path, monkeypatch, walk, fs_kind):
    """Empty dirs, nested ones too, are manifest records that the pipe map
    mkdirs at the dest (ExecFilesMapper.java:91-105), whichever path walked
    the tree and whichever filesystem holds it; they add no result rows."""
    from hadoop_distexec_spark.fs import MappedFS
    from hadoop_distexec_spark.sources import manifest

    if walk == "fanout":
        monkeypatch.setattr(manifest, "_DRIVER_ROWS_CAP", 0)
    (tree / "empty_dir" / "inner").mkdir()
    if fs_kind == "local":
        res = distexec(spark, str(tree), str(tmp_path / "out"), "cat")
    else:
        fs = MappedFS("mock", str(tmp_path))
        res = distexec(spark, "mock://tree", "mock://out", "cat", fs=fs)
    dst = tmp_path / "out"
    assert (dst / "empty_dir").is_dir()
    assert (dst / "empty_dir" / "inner").is_dir()
    rows = res.collect()
    assert sorted(r["rel_dst"] for r in rows) == ["a.txt", "nomatch.txt", "sub/b.txt"]
    assert all(r["status"] == "EXECUTED" for r in rows), rows


def test_failing_mkdirs_fails_the_job(spark, tree, tmp_path):
    """A directory the pipe map cannot create fails the job, not just a
    row, and the tmp dir still goes."""
    from hadoop_distexec_spark.fs import MappedFS

    class NoEmptyDirFS(MappedFS):
        def mkdirs(self, path):
            if path.endswith("/empty_dir"):
                raise PermissionError(path)
            super().mkdirs(path)

    fs = NoEmptyDirFS("mock", str(tmp_path))
    with pytest.raises(Exception) as excinfo:
        distexec(spark, "mock://tree", "mock://out", "cat", fs=fs)
    assert "PermissionError" in str(excinfo.value)
    assert not (tmp_path / "out" / "_distexec_tmp").exists()


def test_grep_exit1_tolerated_and_lazy_create(spark, tree, tmp_path):
    """grep exit 1 = no match: not an error, and no dst file is created
    (Executor.java:33-35,50-51; LazyCreateOutputStream
    ExecFilesMapper.java:46-80)."""
    dst = tmp_path / "out"
    res = distexec(spark, str(tree), str(dst), "grep pattern")
    assert res.filter(F.col("status") == "FAIL").count() == 0
    assert not (dst / "nomatch.txt").exists()  # exit 1, no stdout
    assert not (dst / "a.txt").exists()
    assert (dst / "sub" / "b.txt").read_text() == "line two with pattern\n"


def test_nonzero_exit_fails_but_job_continues(spark, tree, tmp_path):
    """A failing command yields FAIL records + log, never kills the job
    (ExecFilesMapper.java:173-208)."""
    dst = tmp_path / "out"
    res = distexec(spark, str(tree), str(dst), "false")
    assert res.count() == 3
    assert res.filter(F.col("status") == "FAIL").count() == 3
    logs = list(pathlib.Path(dst, "_distexec_logs").glob("part*"))
    assert logs, "FAIL log records must be written"
    content = "".join(p.read_text() for p in logs)
    assert "FAIL" in content
    # no destination files created
    assert not (dst / "a.txt").exists()


def test_stderr_side_file(spark, tree, tmp_path):
    """stderr goes to <rel_dst>.stderr with the same lazy semantics
    (ExecFilesMapper.java:86,108,119,148)."""
    dst = tmp_path / "out"
    distexec(spark, str(tree), str(dst), "sh -c 'echo eee 1>&2; cat'")
    assert (dst / "a.txt.stderr").read_text().strip() == "eee"
    assert (dst / "a.txt").read_text() == "Hello this is my string"


def test_redirect_err_to_out(spark, tree, tmp_path):
    """-redirectErrorToOut implemented for real (the reference parsed but
    never applied it, ExecFilesMapper.java:31,232)."""
    dst = tmp_path / "out"
    distexec(
        spark,
        str(tree / "a.txt"),
        str(dst),
        "sh -c 'echo eee 1>&2; cat'",
        redirect_err_to_out=True,
    )
    out = (dst / "a.txt").read_text()
    assert "eee" in out and "Hello this is my string" in out
    assert not (dst / "a.txt.stderr").exists()


def test_duplicate_destination_raises(spark, tmp_path):
    """Two srcs mapping to one rel_dst -> DuplicationError (exit -2
    semantics, DistExec.java:647-673,688-693)."""
    s1 = tmp_path / "s1"
    s2 = tmp_path / "s2"
    s1.mkdir()
    s2.mkdir()
    (s1 / "x.txt").write_text("1")
    (s2 / "x.txt").write_text("2")
    with pytest.raises(DuplicationError):
        distexec(spark, [str(s1 / "x.txt"), str(s2 / "x.txt")], str(tmp_path / "out"), "cat")


def test_missing_src_raises(spark, tmp_path):
    """Nonexistent source -> InvalidInputError accumulating all misses
    (DistExec.java:209-226)."""
    with pytest.raises(InvalidInputError) as ei:
        distexec(
            spark,
            [str(tmp_path / "nope1"), str(tmp_path / "nope2")],
            str(tmp_path / "out"),
            "cat",
        )
    assert len(ei.value.missing) == 2


def test_single_src_dir_special_root(spark, tree, tmp_path):
    """Single source dir + missing dst: children land directly under dst
    (the "special" root rule, DistExec.java:545,553)."""
    dst = tmp_path / "out"
    distexec(spark, str(tree), str(dst), "cat")
    assert (dst / "a.txt").exists()  # not dst/tree/a.txt


def test_multi_src_keeps_basename_prefix(spark, tmp_path):
    """With multiple sources each rebases against its parent, so the source
    basename is part of rel_dst (makeRelative, DistExec.java:388-410)."""
    s1 = tmp_path / "s1"
    s2 = tmp_path / "s2"
    (s1 / "d").mkdir(parents=True)
    s2.mkdir()
    (s1 / "d" / "x.txt").write_text("1")
    (s2 / "y.txt").write_text("2")
    dst = tmp_path / "out"
    distexec(spark, [str(s1), str(s2)], str(dst), "cat")
    assert (dst / "s1" / "d" / "x.txt").exists()
    assert (dst / "s2" / "y.txt").exists()


def test_transform_pipe_iconv_like(spark, tmp_path):
    """A real transforming command (tr, standing in for the README's iconv
    example, reference README.md:10)."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "f.txt").write_text("hello")
    dst = tmp_path / "out"
    distexec(spark, str(src), str(dst), "tr a-z A-Z")
    assert (dst / "f.txt").read_text() == "HELLO"


def test_many_files_balanced(spark, tmp_path):
    """Many small files: every file executes exactly once, results complete
    (split planning DistExec.java:132-177, one-map-per-file cap :419-426)."""
    src = tmp_path / "many"
    src.mkdir()
    import random

    rng = random.Random(42)
    for i in range(100):
        (src / f"f{i:03d}.bin").write_bytes(bytes(rng.randrange(256) for _ in range(rng.randrange(1, 2048))))
    dst = tmp_path / "out"
    res = distexec(spark, str(src), str(dst), "cat")
    assert res.filter(F.col("status") == "EXECUTED").count() == 100
    for i in range(100):
        assert (dst / f"f{i:03d}.bin").read_bytes() == (src / f"f{i:03d}.bin").read_bytes()


def test_cmd_timeout_kills_straggler(spark, tree, tmp_path):
    """A hung command is killed at cmd_timeout, FAILs that file only, and
    the job completes (straggler guard; the reference relied on the MR
    task timeout)."""
    import time as _time

    t0 = _time.time()
    res = distexec(
        spark, str(tree / "a.txt"), str(tmp_path / "out"), "sleep 300", cmd_timeout=2.0
    )
    rows = res.collect()
    assert _time.time() - t0 < 60  # did not wait out the sleep
    assert len(rows) == 1 and rows[0]["status"] == "FAIL"
    assert "timeout" in rows[0]["error"]


def test_metrics_bytes_count_success_only(spark, tree, tmp_path):
    """A command that pumps bytes then fails must not contribute to
    bytes_executed/bytes_written (reference increments byte counters on
    success only, ExecFilesMapper.java:115,152)."""
    res = distexec(spark, str(tree), str(tmp_path / "out"), "sh -c 'cat > /dev/null; exit 3'")
    m = metrics(res).collect()[0]
    assert m["fail"] == 3 and m["executed"] == 0
    assert m["bytes_executed"] == 0 and m["bytes_written"] == 0


def test_results_survive_reuse_after_run(spark, tree, tmp_path):
    """The returned results frame is pinned: re-filtering/re-counting it
    later must not re-execute subprocesses (tmp dir is gone by then)."""
    dst = tmp_path / "out"
    res = distexec(spark, str(tree), str(dst), "cat")
    marker = dst / "a.txt"
    first = marker.stat().st_mtime_ns
    # act on the frame repeatedly — pinned checkpoint, no recompute
    assert res.filter(F.col("status") == "EXECUTED").count() == 3
    assert res.count() == 3
    assert marker.stat().st_mtime_ns == first  # no re-run touched outputs


@pytest.mark.parametrize(
    "fs_kind,update", [("local", False), ("local", "hash"), ("mapped", False)]
)
def test_results_computed_once(spark, tree, tmp_path, fs_kind, update):
    """Every child runs inside ``distexec``: acting on the returned frame
    afterwards (count, collect, metrics) spawns no further child, on any
    filesystem and under the hash state alike."""
    from hadoop_distexec_spark.fs import MappedFS

    if fs_kind == "local":
        src, dst, fs = str(tree), str(tmp_path / "out"), None
    else:
        src, dst, fs = "mock://tree", "mock://out", MappedFS("mock", str(tmp_path))
    spawned = tmp_path / "spawned"
    cmd = f"sh -c 'echo x >> {spawned}; cat'"
    res = distexec(spark, src, dst, cmd, update=update, fs=fs)
    assert len(spawned.read_text().splitlines()) == 3
    assert res.count() == 3
    assert sorted(r["rel_dst"] for r in res.collect()) == ["a.txt", "nomatch.txt", "sub/b.txt"]
    assert metrics(res).collect()[0]["executed"] == 3
    assert len(spawned.read_text().splitlines()) == 3
    assert not (tmp_path / "out" / "_distexec_results").exists()


def test_update_mode_skips_fresh_destinations(spark, tree, tmp_path):
    """-update incremental skip (restored from DistCp heritage,
    src/reference/DistCp.java:1192-1237): second run skips everything; a
    touched source re-executes."""
    import time as _time

    dst = tmp_path / "out"
    r1 = distexec(spark, str(tree), str(dst), "cat", update=True)
    assert r1.filter(F.col("status") == "EXECUTED").count() == 3
    r2 = distexec(spark, str(tree), str(dst), "cat", update=True)
    assert r2.filter(F.col("status") == "SKIPPED").count() == 3
    _time.sleep(0.01)
    (tree / "a.txt").write_text("changed content")
    r3 = distexec(spark, str(tree), str(dst), "cat", update=True)
    rows = {r["rel_dst"]: r["status"] for r in r3.collect()}
    assert rows["a.txt"] == "EXECUTED"
    assert rows["sub/b.txt"] == "SKIPPED"
    assert (dst / "a.txt").read_text() == "changed content"


def test_update_hash_mode_content_compare(spark, tree, tmp_path):
    """update='hash' compares source *content* (DistCp needsUpdate intent,
    src/reference/DistCp.java:333-337,1192-1237): a touched-but-unchanged
    source is SKIPPED where mtime mode would re-execute; a content change
    re-executes; FAIL rows drop out of the state so they retry."""
    import time as _time

    dst = tmp_path / "out"
    r1 = distexec(spark, str(tree), str(dst), "cat", update="hash")
    assert r1.filter(F.col("status") == "EXECUTED").count() == 3
    assert (dst / "_distexec_state").is_dir()

    # touch without changing bytes: newer mtime, same content
    _time.sleep(0.01)
    content = (tree / "a.txt").read_text()
    (tree / "a.txt").write_text(content)
    out_mtime = (dst / "a.txt").stat().st_mtime_ns

    r2 = distexec(spark, str(tree), str(dst), "cat", update="hash")
    assert r2.filter(F.col("status") == "SKIPPED").count() == 3
    assert (dst / "a.txt").stat().st_mtime_ns == out_mtime  # untouched

    # same touch under mtime mode DOES re-execute (the documented contrast)
    r3 = distexec(spark, str(tree), str(dst), "cat", update="mtime")
    rows = {r["rel_dst"]: r["status"] for r in r3.collect()}
    assert rows["a.txt"] == "EXECUTED"

    # real content change under hash mode re-executes just that file
    (tree / "a.txt").write_text("brand new bytes")
    r4 = distexec(spark, str(tree), str(dst), "cat", update="hash")
    rows4 = {r["rel_dst"]: r["status"] for r in r4.collect()}
    assert rows4["a.txt"] == "EXECUTED"
    assert rows4["sub/b.txt"] == "SKIPPED"
    assert (dst / "a.txt").read_text() == "brand new bytes"


@pytest.mark.parametrize("uri", [False, True], ids=["bare", "file_uri"])
def test_dirs_only_source_reads_back_zero_rows(spark, tmp_path, monkeypatch, uri):
    """A run with no files returns zero rows and writes one empty part
    for its hash state, which a re-run reads once. The read-back path
    keeps dst's form: a ``file://`` dst is not read back as a bare path
    (which would resolve against fs.defaultFS on a cluster)."""
    from pyspark.sql.readwriter import DataFrameReader

    src = tmp_path / "tree"
    (src / "a" / "b").mkdir(parents=True)
    dst = tmp_path / "out"
    dst_arg = f"file://{dst}" if uri else str(dst)
    read = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    for _ in range(2):
        res = distexec(spark, str(src), dst_arg, "cat", update="hash")
        assert res.count() == 0
        assert (dst / "a" / "b").is_dir()
    # run 1 has no state to read; run 2 reads run 1's once
    assert read == [f"{dst_arg}/_distexec_state"]
    parts = [p for p in (dst / "_distexec_state").iterdir() if p.name.startswith("part-")]
    assert len(parts) == 1
    assert not (dst / "_distexec_results").exists()


def test_preserve_mode_and_mtime(spark, tree, tmp_path):
    """-p finalize pass (DistCp heritage, src/reference/DistCp.java:662-712):
    destination files get the source's permission bits and mtime."""
    import os as _os

    src_file = tree / "a.txt"
    _os.chmod(src_file, 0o750)
    _os.utime(src_file, (1_600_000_000, 1_600_000_000))
    dst = tmp_path / "out"
    res = distexec(spark, str(tree), str(dst), "cat", preserve=True)
    assert res.filter(F.col("status") == "FAIL").count() == 0
    st = (dst / "a.txt").stat()
    assert st.st_mode & 0o7777 == 0o750
    assert abs(st.st_mtime - 1_600_000_000) < 1
    # without -p the mode is the process default, not the source's
    res2 = distexec(spark, str(tree), str(tmp_path / "out2"), "cat")
    assert res2.count() == 3
    assert (tmp_path / "out2" / "a.txt").stat().st_mode & 0o7777 != 0o750


def test_filelimit_truncates_prefix(spark, tree, tmp_path):
    """-filelimit keeps only the first N files in src_path order
    (src/reference/DistCp.java:773-778); dirs are unaffected."""
    res = distexec(spark, str(tree), str(tmp_path / "out"), "cat", filelimit=2)
    done = sorted(r["rel_dst"] for r in res.filter(F.col("status") == "EXECUTED").collect())
    # src_path order: a.txt, nomatch.txt, sub/b.txt -> first two kept
    assert done == ["a.txt", "nomatch.txt"]
    assert (tmp_path / "out" / "empty_dir").is_dir()  # dirs preserved


def test_sizelimit_truncates_prefix(spark, tree, tmp_path):
    """-sizelimit stops at the first file that would cross the byte
    budget; everything after the cut is dropped (strict prefix)."""
    # file sizes in src_path order: a.txt=23, nomatch.txt=20, sub/b.txt=31
    res = distexec(spark, str(tree), str(tmp_path / "out"), "cat", sizelimit=43)
    done = sorted(r["rel_dst"] for r in res.filter(F.col("status") == "EXECUTED").collect())
    assert done == ["a.txt", "nomatch.txt"]
    res2 = distexec(spark, str(tree), str(tmp_path / "out2"), "cat", sizelimit=42)
    done2 = sorted(r["rel_dst"] for r in res2.filter(F.col("status") == "EXECUTED").collect())
    assert done2 == ["a.txt"]  # nomatch.txt would cross 42 -> cut there


def test_limits_cut_inside_a_later_partition(spark, tmp_path, monkeypatch):
    """-filelimit and -sizelimit cuts keep exactly the sequential strict
    prefix over sorted src_path, and every directory row, on both paths:
    a fanned-out manifest is cut by the distributed prefix sum, where the
    cuts fall inside a later range partition, so the per-partition
    offsets are applied; a driver manifest is cut on the driver, runs no
    prefix sum and stays local, so the planner keeps its driver path."""
    import random

    from hadoop_distexec_spark.functions import prefix_sum
    from hadoop_distexec_spark.pipe.executor import limit_manifest
    from hadoop_distexec_spark.sources import manifest as manifest_mod

    monkeypatch.setattr(prefix_sum, "ROWS_PER_PART", 10)
    widths = []
    real = prefix_sum.running_sums

    def spy(*args, **kwargs):
        out, totals, pinned = real(*args, **kwargs)
        widths.append(pinned.rdd.getNumPartitions())
        return out, totals, pinned

    monkeypatch.setattr(prefix_sum, "running_sums", spy)
    src = tmp_path / "flat"
    src.mkdir()
    rng = random.Random(3)
    sizes = [rng.randrange(1, 500) for _ in range(120)]
    for i, n in enumerate(sizes):
        (src / f"f{i:03d}.bin").write_bytes(b"x" * n)

    def prefix(files, filelimit, sizelimit):
        kept, total = [], 0
        for path, size in files:
            if filelimit is not None and len(kept) >= filelimit:
                break
            if sizelimit is not None and total + size > sizelimit:
                break
            kept.append(path)
            total += size
        return kept

    cut_size = sum(sizes[:93]) + sizes[93] // 2  # file 93 would cross it
    for walk, cap in (("fanout", 0), ("driver", manifest_mod._DRIVER_ROWS_CAP)):
        monkeypatch.setattr(manifest_mod, "_DRIVER_ROWS_CAP", cap)
        widths.clear()
        manifest = manifest_mod.build_manifest(spark, str(src))
        walked = manifest.collect()
        files = sorted((r["src_path"], r["size"]) for r in walked if not r["is_dir"])
        dirs = sorted(r["src_path"] for r in walked if r["is_dir"])
        for filelimit, sizelimit in ((77, None), (None, cut_size), (100, cut_size)):
            limited = limit_manifest(manifest, filelimit, sizelimit)
            assert limited.isLocal() == (walk == "driver")
            rows = limited.collect()
            assert sorted(r["src_path"] for r in rows if not r["is_dir"]) == prefix(
                files, filelimit, sizelimit
            )
            assert sorted(r["src_path"] for r in rows if r["is_dir"]) == dirs
        assert len(prefix(files, None, cut_size)) == 93
        if walk == "fanout":
            assert widths == [min(spark.sparkContext.defaultParallelism, 12)] * 3
            assert widths[0] > 1
        else:
            assert widths == []


def test_update_rejects_bad_mode(spark, tree, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="update must be"):
        distexec(spark, str(tree), str(tmp_path / "o"), "cat", update="crc")


def test_pipe_rows_line_filter(spark):
    """pipe_rows: per-partition subprocess line transform, 1:1 contract."""
    from hadoop_distexec_spark.pipe.rows import pipe_rows

    df = spark.createDataFrame([(i, f"word{i}") for i in range(100)], ["id", "w"]).repartition(4)
    out = pipe_rows(df, "tr a-z A-Z", "w", "up")
    got = {r["id"]: r["up"] for r in out.collect()}
    assert got == {i: f"WORD{i}" for i in range(100)}
    # non-1:1 command (grep dropping lines) must raise, not mis-zip
    import pytest as _pytest

    with _pytest.raises(Exception):
        pipe_rows(df, "grep word1", "w", "up").collect()


def test_pipe_rows_many_batches_per_partition(spark):
    """Several Arrow batches per task: each output line is zipped back to
    its own row across batch boundaries, and a null input is an empty
    line."""
    from hadoop_distexec_spark.pipe.rows import pipe_rows

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        df = spark.createDataFrame(
            [(i, None if i % 13 == 0 else f"w{i}") for i in range(500)], "id INT, w STRING"
        ).repartition(3)
        got = {r["id"]: r["up"] for r in pipe_rows(df, "tr a-z A-Z", "w", "up").collect()}
    finally:
        spark.conf.set(key, old)
    assert got == {i: "" if i % 13 == 0 else f"W{i}" for i in range(500)}


def _plan_both_paths(spark, monkeypatch, src, n_tasks=None):
    """``plan_partitions`` over a forced fan-out walk and a driver walk of
    ``src``. Both must give the same ``(src_path, bin)`` rows and
    ``n_tasks``; the driver plan pins nothing. Returns the driver plan's
    rows in src_path order and its ``n_tasks``; the driver cap is back at
    its default afterwards."""
    from hadoop_distexec_spark.pipe.executor import plan_partitions
    from hadoop_distexec_spark.sources import manifest

    plans = {}
    for walk, cap in (("fanout", 0), ("driver", manifest._DRIVER_ROWS_CAP)):
        monkeypatch.setattr(manifest, "_DRIVER_ROWS_CAP", cap)
        m = manifest.build_manifest(spark, str(src))
        assert m.isLocal() == (walk == "driver")
        planned, n, pinned = plan_partitions(m, n_tasks)
        assert (pinned is None) == (walk == "driver")
        plans[walk] = (sorted(planned.collect(), key=lambda r: r["src_path"]), n)
    rows, n = plans["driver"]
    fan_rows, fan_n = plans["fanout"]
    assert [(r["src_path"], r["bin"]) for r in rows] == [
        (r["src_path"], r["bin"]) for r in fan_rows
    ]
    assert n == fan_n
    return rows, n


def test_split_plan_byte_balance(spark, tmp_path, monkeypatch):
    """The prefix-sum planner reproduces the reference's greedy
    byte-balance: every bin's byte total stays within one max-file of the
    target (DistExec.java:149-176 invariant), on the driver plan and the
    distributed one alike."""
    import random

    src = tmp_path / "many"
    (src / "empty").mkdir(parents=True)
    (src / "nest" / "deep" / "empty").mkdir(parents=True)
    rng = random.Random(7)
    sizes = [rng.randrange(1, 4096) for _ in range(200)]
    for i, n in enumerate(sizes):
        parent = src / "nest" / "deep" if i % 10 == 0 else src
        (parent / f"f{i:03d}.bin").write_bytes(b"x" * n)
    rows, n_tasks = _plan_both_paths(spark, monkeypatch, src, n_tasks=8)
    files = [r for r in rows if not r["is_dir"]]
    assert len(files) == 200
    per_bin = {}
    for r in files:
        per_bin[r["bin"]] = per_bin.get(r["bin"], 0) + r["size"]
    total = sum(sizes)
    target = -(-total // 8)
    assert set(per_bin) <= set(range(8))
    # greedy rule: a bin exceeds target by at most one file
    assert max(per_bin.values()) <= target + max(sizes)
    # directory rows (size 0) move no file: each bin is the formula over
    # the files alone
    before = 0
    for r in files:
        assert r["bin"] == min(before // target, 7), r
        before += r["size"]

    # the default task count counts files only: 3 files beside 6 dirs
    few = tmp_path / "few"
    for d in ("a", "b", "c/d", "c/e"):
        (few / d).mkdir(parents=True)
    for name in ("x", "a/y", "c/d/z"):
        (few / name).write_bytes(b"q")
    rows, n_tasks = _plan_both_paths(spark, monkeypatch, few)
    assert len(rows) == 9
    assert n_tasks == 3


@pytest.mark.parametrize("n_tasks", [None, 3, 64])
def test_split_plan_paths_agree_on_edge_inputs(spark, tmp_path, monkeypatch, n_tasks):
    """The driver plan and the distributed one agree row for row on
    nested and empty dirs, zero-byte files, one file larger than the
    target, upper-case and non-ASCII names (byte order, as Spark sorts
    strings; the rows here are in code-point order, the same order) and
    more tasks than files; the default width is one wave,
    ``min(files, defaultParallelism)``."""
    src = tmp_path / "edge"
    (src / "a" / "b").mkdir(parents=True)
    (src / "empty").mkdir()
    for name, n in (
        ("z0.bin", 0), ("a/z1.bin", 0), ("big.bin", 40_000), ("a/b/c.bin", 700),
        ("é-名.txt", 311), ("e.txt", 5), ("Z.txt", 90), ("a/b/empty.bin", 0),
    ):
        (src / name).write_bytes(b"x" * n)
    rows, n = _plan_both_paths(spark, monkeypatch, src, n_tasks)
    files = [r for r in rows if not r["is_dir"]]
    want = n_tasks or min(len(files), spark.sparkContext.defaultParallelism)
    assert n == want
    target = max(1, -(-sum(r["size"] for r in files) // want))
    before = 0
    for r in rows:
        assert r["bin"] == min(before // target, want - 1), r
        before += r["size"]


def test_flat_manifest_replans_at_full_width(spark, tmp_path, monkeypatch):
    """A flat directory arrives as 1-2 listing partitions; the planner
    must size its width from the row count, not from the listing's
    partition count (otherwise all planning collapses onto 1-2 tasks no
    matter the cluster size). Rows per partition lowered so 120 files in
    one flat dir need 12 partitions; the plan stays byte-complete and
    balanced."""
    from hadoop_distexec_spark.functions import prefix_sum
    from hadoop_distexec_spark.pipe import executor
    from hadoop_distexec_spark.sources.manifest import build_manifest

    from hadoop_distexec_spark.sources import manifest as manifest_mod

    monkeypatch.setattr(prefix_sum, "ROWS_PER_PART", 10)
    # the distributed planner is the one with a width to size
    monkeypatch.setattr(manifest_mod, "_DRIVER_ROWS_CAP", 0)
    src = tmp_path / "flat"
    src.mkdir()
    for i in range(120):
        (src / f"f{i:03d}.bin").write_bytes(b"x" * (i + 1))
    manifest = build_manifest(spark, str(src))
    planned, n_tasks, cached = executor.plan_partitions(manifest, n_tasks=4)
    rows = planned.collect()
    n_parts = cached.rdd.getNumPartitions()
    cached.unpersist()
    # the 120 files plus the root directory's row
    assert len(rows) == 121 and sum(r["is_dir"] for r in rows) == 1
    # 121 rows / 10 per partition => min(defaultParallelism, 13)
    assert n_parts == min(spark.sparkContext.defaultParallelism, 13)
    assert sum(r["size"] for r in rows) == sum(range(1, 121))
    assert set(r["bin"] for r in rows) <= set(range(4))


def test_tokenizer_and_exit_policy():
    """CommandLineUtil FSM semantics (CommandLineUtil.java:19-78)
    + grep-family exit policy (Executor.java:33-35)."""
    assert tokenize("iconv -f iso8859-1 -t utf-8") == ["iconv", "-f", "iso8859-1", "-t", "utf-8"]
    assert tokenize("sh -c 'echo a b'") == ["sh", "-c", "echo a b"]
    assert tokenize('grep "two words"') == ["grep", "two words"]
    with pytest.raises(ValueError):
        tokenize("sh -c 'unbalanced")
    # VERDICT r03 #6 — pin the Ant FSM's backslash semantics: backslash is
    # an ORDINARY character (no escape processing), unlike POSIX shlex.
    assert tokenize(r'a\b "c d" ' + "'e f'") == [r"a\b", "c d", "e f"]
    assert tokenize(r"grep foo\bar input") == ["grep", r"foo\bar", "input"]
    assert tokenize(r"sed s/a\/b/c/") == ["sed", r"s/a\/b/c/"]
    # adjacent quoted spans concatenate into one token; "" is an empty token
    assert tokenize('a"b c"d') == ["ab cd"]
    assert tokenize("printf ''") == ["printf", ""]
    assert tokenize("""say "it's fine\"""") == ["say", "it's fine"]
    assert exit_ok(["grep", "x"], 1)
    assert exit_ok(["/usr/bin/egrep", "x"], 1)
    assert not exit_ok(["grep", "x"], 2)
    assert not exit_ok(["cat"], 1)
    assert exit_ok(["cat"], 0)


def test_split_plan_bins_contiguous_and_deterministic(spark, tmp_path, monkeypatch):
    """The prefix-sum rule implies bin ids are NONDECREASING in global
    src_path order (each bin is a contiguous byte range of the ordered
    manifest) — pins the JVM-side window/offset-map assignment (round 8)
    to the exact semantics the Python mapPartitionsWithIndex pass had,
    that the driver plan agrees with it, and that two plans of the same
    manifest agree row-for-row. The pipe map's
    ``repartitionById(n_tasks, "bin")`` puts bin b in partition b under
    AQE, also when some bins are empty (one file spanning four targets
    leaves bins with no row)."""
    import random

    from hadoop_distexec_spark.pipe.executor import plan_partitions
    from hadoop_distexec_spark.sources.manifest import build_manifest

    src = tmp_path / "contig"
    src.mkdir()
    rng = random.Random(11)
    for i in range(150):
        (src / f"f{i:03d}.bin").write_bytes(b"x" * rng.randrange(1, 2048))
    (src / "f075big.bin").write_bytes(b"x" * 150 * 1024)
    rows, n_tasks = _plan_both_paths(spark, monkeypatch, src, n_tasks=8)
    bins = [r["bin"] for r in rows]
    assert bins == sorted(bins), "bins must be contiguous in src_path order"
    assert bins[0] == 0 and max(bins) <= 7
    assert len(set(bins)) < n_tasks
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    manifest = build_manifest(spark, str(src))
    planned, _, _ = plan_partitions(manifest, n_tasks=8)
    placed = planned.repartitionById(n_tasks, "bin").select(
        "bin", F.spark_partition_id().alias("pid")
    )
    assert all(r["pid"] == r["bin"] for r in placed.collect())
    planned2, _, _ = plan_partitions(manifest, n_tasks=8)
    rows2 = sorted(planned2.collect(), key=lambda r: r["src_path"])
    assert [(r["src_path"], r["bin"]) for r in rows] == [
        (r["src_path"], r["bin"]) for r in rows2
    ]


def test_tmp_dir_removed_when_job_raises(spark, tree, tmp_path, monkeypatch):
    """A raise after the tmp dir exists (here: split planning) propagates,
    and ``<dst>/_distexec_tmp`` is still removed (reference deletes tmp in
    a finally, DistExec.java:333-338)."""
    from hadoop_distexec_spark.pipe import executor

    def boom(*args, **kwargs):
        raise RuntimeError("planning failed")

    monkeypatch.setattr(executor, "plan_partitions", boom)
    dst = tmp_path / "out"
    with pytest.raises(RuntimeError, match="planning failed"):
        distexec(spark, str(tree), str(dst), "cat")
    assert dst.is_dir()
    assert not (dst / "_distexec_tmp").exists()


def test_child_killed_mid_stream(spark, wired_tree):
    """A child killed by a signal after reading part of its input FAILs
    that file with the negative signal as exit code, commits nothing
    (no destination, no .stderr, no tmp leftovers), logs one FAIL line
    per file, and the job still returns every file
    (ExecFilesMapper.java:173-208)."""
    w = wired_tree
    res = distexec(spark, w.src, w.dst, "sh -c 'head -c 16 >/dev/null; kill -9 $$'", fs=w.fs)
    rows = res.collect()
    assert sorted(r["rel_dst"] for r in rows) == ["a.txt", "sub/b.txt", "sub/big.bin", "tiny.txt"]
    assert all(r["status"] == "FAIL" and r["exit_code"] == -9 for r in rows), rows

    dst_local = w.store / "out"
    assert _output_files(dst_local) == []
    assert not (dst_local / "_distexec_tmp").exists()
    assert _fail_log_lines(dst_local) == sorted(
        f"FAIL {r['rel_dst']} : {r['error']}" for r in rows
    )


def test_timeout_fails_only_the_hung_file(spark, wired_tree):
    """A child past cmd_timeout is killed and FAILs its file with
    "timeout" in the error; it leaves no destination, .stderr or tmp file
    and one FAIL-log line, while the other files EXECUTE. ``exec sleep``
    replaces the shell, so the kill closes the child's pipes."""
    import time as _time

    w = wired_tree
    cmd = """sh -c 'n=$(wc -c); [ "$n" -eq 1 ] && exec sleep 300; echo "$n"'"""
    t0 = _time.time()
    rows = distexec(spark, w.src, w.dst, cmd, cmd_timeout=2.0, fs=w.fs).collect()
    assert _time.time() - t0 < 60  # did not wait out the sleep
    by_rel = {r["rel_dst"]: r for r in rows}
    assert sorted(by_rel) == ["a.txt", "sub/b.txt", "sub/big.bin", "tiny.txt"]
    hung = by_rel.pop("tiny.txt")
    assert hung["status"] == "FAIL" and "timeout" in hung["error"], hung
    assert all(r["status"] == "EXECUTED" for r in by_rel.values()), rows
    sizes = {"a.txt": 23, "sub/b.txt": 31, "sub/big.bin": 256 * 800}
    dst_local = w.store / "out"
    assert _output_files(dst_local) == sorted(sizes)
    for rel, n in sizes.items():
        assert (dst_local / rel).read_text() == f"{n}\n"
    assert not (dst_local / "_distexec_tmp").exists()
    assert _fail_log_lines(dst_local) == [f"FAIL tiny.txt : {hung['error']}"]


def test_cat_counters_every_wiring(spark, wired_tree):
    """cat copies every file byte for byte; bytes_in and bytes_out equal
    the source size, bytes_err is 0, and no tmp file is left."""
    w = wired_tree
    rows = distexec(spark, w.src, w.dst, "cat", fs=w.fs).collect()
    tree, out = w.store / "tree", w.store / "out"
    assert len(rows) == 4
    for r in rows:
        size = (tree / r["rel_dst"]).stat().st_size
        assert r["status"] == "EXECUTED", r
        assert (r["bytes_in"], r["bytes_out"], r["bytes_err"]) == (size, size, 0), r
        assert (out / r["rel_dst"]).read_bytes() == (tree / r["rel_dst"]).read_bytes()
    assert _output_files(out) == ["a.txt", "sub/b.txt", "sub/big.bin", "tiny.txt"]
    assert not (out / "_distexec_tmp").exists()


def test_grep_lazy_create_every_wiring(spark, wired_tree):
    """grep exit 1 (no match) EXECUTEs and leaves neither a destination
    nor a .stderr file: a tmp sink still empty at exit is removed before
    commit (Executor.java:33-35,50-51; LazyCreateOutputStream
    ExecFilesMapper.java:46-80)."""
    w = wired_tree
    rows = {r["rel_dst"]: r for r in distexec(spark, w.src, w.dst, "grep pattern", fs=w.fs).collect()}
    assert all(r["status"] == "EXECUTED" for r in rows.values()), rows
    assert {rel: r["exit_code"] for rel, r in rows.items()} == {
        "a.txt": 1, "sub/b.txt": 0, "sub/big.bin": 1, "tiny.txt": 1,
    }
    out = w.store / "out"
    assert _output_files(out) == ["sub/b.txt"]
    assert (out / "sub" / "b.txt").read_text() == "line two with pattern\n"
    assert rows["sub/b.txt"]["bytes_out"] == 22
    assert not (out / "_distexec_tmp").exists()


def test_stderr_side_file_every_wiring(spark, wired_tree):
    """stderr lands in <rel_dst>.stderr beside the output
    (ExecFilesMapper.java:86,108,119,148)."""
    w = wired_tree
    rows = distexec(spark, w.src, w.dst, "sh -c 'echo eee 1>&2; cat'", fs=w.fs).collect()
    assert all(r["status"] == "EXECUTED" and r["bytes_err"] == 4 for r in rows), rows
    out = w.store / "out"
    rels = ["a.txt", "sub/b.txt", "sub/big.bin", "tiny.txt"]
    assert _output_files(out) == sorted(rels + [rel + ".stderr" for rel in rels])
    assert (out / "a.txt.stderr").read_text() == "eee\n"
    assert (out / "a.txt").read_text() == "Hello this is my string"


def test_redirect_err_to_out_every_wiring(spark, wired_tree):
    """-redirectErrorToOut sends stderr into the output file and writes no
    .stderr (the reference parsed but never applied it,
    ExecFilesMapper.java:31,232)."""
    w = wired_tree
    rows = distexec(
        spark, w.src + "/a.txt", w.dst, "sh -c 'echo eee 1>&2; cat'",
        redirect_err_to_out=True, fs=w.fs,
    ).collect()
    assert [(r["status"], r["bytes_out"], r["bytes_err"]) for r in rows] == [("EXECUTED", 27, 0)]
    out = w.store / "out"
    assert (out / "a.txt").read_text() == "eee\nHello this is my string"
    assert _output_files(out) == ["a.txt"]


def test_preserve_every_wiring(spark, wired_tree):
    """-p copies the source's permission bits and mtime onto the committed
    output (DistCp heritage, src/reference/DistCp.java:662-712)."""
    w = wired_tree
    src_file = w.store / "tree" / "a.txt"
    os.chmod(src_file, 0o750)
    os.utime(src_file, (1_600_000_000, 1_600_000_000))
    rows = distexec(spark, w.src, w.dst, "cat", preserve=True, fs=w.fs).collect()
    assert all(r["status"] == "EXECUTED" for r in rows), rows
    st = (w.store / "out" / "a.txt").stat()
    assert st.st_mode & 0o7777 == 0o750
    assert abs(st.st_mtime - 1_600_000_000) < 1


def test_bytes_in_every_wiring(spark, wired_tree):
    """bytes_in is the source bytes handed to the child. A descriptor
    stdin reports its file offset, what ``head -c 10`` consumed; a pumped
    stdin reports what the pipe accepted, at least that and at most the
    file. ``cat`` reads everything on every wiring."""
    w = wired_tree
    size = 1 << 20
    big = w.store / "big"
    big.mkdir()
    (big / "m.bin").write_bytes(bytes(range(256)) * (size // 256))
    for cmd, out in (("head -c 10", 10), ("cat", size)):
        dst = "mock://out_" + cmd.split()[0]
        rows = distexec(spark, "mock://big", dst, cmd, fs=w.fs).collect()
        assert [(r["status"], r["bytes_out"]) for r in rows] == [("EXECUTED", out)], rows
        b_in = rows[0]["bytes_in"]
        if cmd == "cat" or w.wiring in ("fd", "dst_pump"):
            assert b_in == out, rows
        assert out <= b_in <= size, rows


def test_unreadable_source_fails_only_that_file(spark, wired_tree):
    """A source that cannot be opened FAILs that file before any child is
    spawned (the reference opens at ExecFilesMapper.java:114 and execs at
    :121-123), with its error in the FAIL log once and no destination,
    .stderr or tmp file; the other files EXECUTE."""
    w = wired_tree

    class Unreadable(type(w.fs)):
        def open(self, path, mode="rb", buffering=-1):
            if path.endswith("/sub/b.txt") and "r" in mode:
                raise PermissionError(13, "Permission denied", path)
            return super().open(path, mode, buffering)

    fs = Unreadable("mock", str(w.store))
    spawned = w.store / "spawned"
    cmd = f"sh -c 'echo x >> {spawned}; cat'"
    rows = {r["rel_dst"]: r for r in distexec(spark, w.src, w.dst, cmd, fs=fs).collect()}
    bad = rows.pop("sub/b.txt")
    assert (bad["status"], bad["exit_code"], bad["bytes_in"]) == ("FAIL", None, 0), bad
    assert "Permission denied" in bad["error"]
    assert all(r["status"] == "EXECUTED" for r in rows.values()), rows
    assert len(spawned.read_text().splitlines()) == 3  # no child for the bad file
    out = w.store / "out"
    assert _output_files(out) == ["a.txt", "sub/big.bin", "tiny.txt"]
    assert not (out / "_distexec_tmp").exists()
    assert _fail_log_lines(out) == [f"FAIL sub/b.txt : {bad['error']}"]


def _output_files(dst_local):
    """Files under dst other than the FAIL logs."""
    log_dir = dst_local / "_distexec_logs"
    return sorted(
        p.relative_to(dst_local).as_posix()
        for p in dst_local.rglob("*")
        if p.is_file() and log_dir not in p.parents
    )


def _fail_log_lines(dst_local):
    log_dir = dst_local / "_distexec_logs"
    return sorted(
        line
        for p in log_dir.iterdir()
        if p.is_file() and not p.name.startswith((".", "_"))
        for line in p.read_text().splitlines()
        if line
    )


def test_corrupt_hash_state_raises(spark, tree, tmp_path):
    """The hash state is read with its known schema when it exists; a
    state that is not parquet fails the run instead of silently
    re-executing every file."""
    import shutil

    dst = tmp_path / "out"
    distexec(spark, str(tree), str(dst), "cat", update="hash")
    state = dst / "_distexec_state"
    shutil.rmtree(state)
    state.mkdir()
    (state / "part-00000.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception, match="(?i)parquet"):
        distexec(spark, str(tree), str(dst), "cat", update="hash")


def _log_parts(dst_local):
    """{part file name: its lines} under ``<dst>/_distexec_logs``, hidden
    files ("." and "_") skipped as every reader of the log does."""
    log_dir = dst_local / "_distexec_logs"
    if not log_dir.is_dir():
        return {}
    return {
        p.name: p.read_text().splitlines()
        for p in log_dir.iterdir()
        if not p.name.startswith((".", "_"))
    }


@pytest.mark.parametrize("fs_kind", ["local", "mapped"])
def test_clean_rerun_clears_fail_log(spark, tree, tmp_path, fs_kind):
    """The FAIL log describes the latest run only: a re-run into the same
    dst that FAILs nothing leaves no FAIL line behind."""
    from hadoop_distexec_spark.fs import MappedFS

    (tree / "latin1.txt").write_bytes("café\n".encode("latin-1"))
    if fs_kind == "local":
        src, dst, fs = str(tree), str(tmp_path / "out"), None
    else:
        src, dst, fs = "mock://tree", "mock://out", MappedFS("mock", str(tmp_path))
    def log_lines():
        return [line for part in _log_parts(tmp_path / "out").values() for line in part]

    r1 = distexec(spark, src, dst, "iconv -f UTF-8 -t ASCII", update=True, fs=fs)
    assert [r["rel_dst"] for r in r1.filter(F.col("status") == "FAIL").collect()] == ["latin1.txt"]
    assert [line[: len("FAIL latin1.txt : ")] for line in log_lines()] == ["FAIL latin1.txt : "]
    r2 = distexec(spark, src, dst, "cat", update=True, fs=fs)
    assert r2.filter(F.col("status") == "FAIL").count() == 0
    assert not [line for line in log_lines() if line.startswith("FAIL")]


def test_fail_log_one_part_per_task(spark, tmp_path):
    """Each map task that FAILs a file commits one ``part-<bin>`` holding
    exactly its FAIL lines; the union is the run's FAIL set."""
    import re

    from hadoop_distexec_spark.pipe.executor import plan_partitions
    from hadoop_distexec_spark.sources.manifest import build_manifest

    src = tmp_path / "src"
    src.mkdir()
    for i in range(24):
        body = "café\n".encode("latin-1") if i % 5 == 0 else f"ok {i}\n".encode()
        (src / f"f{i:02d}.txt").write_bytes(body)
    dst = tmp_path / "out"
    # a driver plan pins nothing (pinned is None)
    planned, _, _ = plan_partitions(build_manifest(spark, str(src), str(dst)), 4)
    bin_of = {r["rel_dst"]: r["bin"] for r in planned.collect()}

    res = distexec(spark, str(src), str(dst), "iconv -f UTF-8 -t ASCII", n_tasks=4)
    fails = res.filter(F.col("status") == "FAIL").collect()
    assert len(fails) == 5
    parts = _log_parts(dst)
    assert all(re.fullmatch(r"part-\d{5}", name) for name in parts), parts
    assert {int(name[5:]) for name in parts} == {bin_of[r["rel_dst"]] for r in fails}
    lines = [line for part in parts.values() for line in part]
    assert sorted(lines) == sorted(f"FAIL {r['rel_dst']} : {r['error']}" for r in fails)
    assert not list(dst.glob("_distexec_tmp/*.log"))
