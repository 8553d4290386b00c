"""Partitioned sink + partition pruning proof."""

from hadoop_distexec_spark.sources.sinks import orders_by_year, read_partition_pruned
from tests.conftest import SF_SMALL


def test_partitioned_write_and_prune(spark, tmp_path):
    out = str(tmp_path / "orders_part")
    orders_by_year(spark, SF_SMALL, out)
    df = read_partition_pruned(spark, out, 1996)
    # correctness: only 1996 rows
    years = [r["order_year"] for r in df.select("order_year").distinct().collect()]
    assert years == [1996]
    # plan: the filter must be a PartitionFilter on the scan, pruning
    # directories before any file read
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters", 1)[1][:200]


def test_sync_deletes_removes_extras_keeps_outputs(spark, tmp_path, monkeypatch):
    """DistCp -delete heritage (DistCp.java:1240-1327) as an anti-join:
    stray dst files/dirs go, produced outputs, their ``.stderr`` side
    files and engine internals stay. The driver anti-join (both walks
    stayed on the driver) and the Spark one (forced fan-out) find the same
    (rel_dst, is_dir) set with the same schema, dry run or not."""
    import os

    from hadoop_distexec_spark import distexec
    from hadoop_distexec_spark.pipe.sync import sync_deletes
    from hadoop_distexec_spark.sources import manifest

    src = tmp_path / "src"
    (src / "sub").mkdir(parents=True)
    (src / "a.txt").write_text("alpha\n")
    (src / "sub" / "b.txt").write_text("beta\n")
    strays = {
        ("stray.txt", False), ("stray.txt.stderr", False), ("sub/gone.txt.stderr", False),
        ("straydir", True), ("straydir/deep", True), ("straydir/deep/c.txt", False),
    }
    found = {}
    for walk, cap in (("driver", manifest._DRIVER_ROWS_CAP), ("fanout", 0)):
        monkeypatch.setattr(manifest, "_DRIVER_ROWS_CAP", cap)
        dst = str(tmp_path / f"dst_{walk}")
        # every output gets a .stderr side file
        distexec(spark, str(src), dst, "sh -c 'cat; echo warn >&2'")
        assert os.path.exists(os.path.join(dst, "sub", "b.txt.stderr"))
        # strays: files (two of them orphan side files), a nested dir with
        # a file and an empty dir; and an internal-looking dir to keep
        for rel, is_dir in strays:
            if not is_dir:
                os.makedirs(os.path.dirname(os.path.join(dst, rel)), exist_ok=True)
                with open(os.path.join(dst, rel), "w") as f:
                    f.write("x")
        os.makedirs(os.path.join(dst, "_distexec_keep", "inner"))

        dry = sync_deletes(spark, str(src), dst, dry_run=True)
        assert {tuple(r) for r in dry.collect()} == strays
        assert os.path.exists(os.path.join(dst, "stray.txt"))  # dry run: untouched

        deleted = sync_deletes(spark, str(src), dst)
        found[walk] = ({tuple(r) for r in deleted.collect()}, deleted.schema, dry.schema)
        assert found[walk][0] == strays
        assert not os.path.exists(os.path.join(dst, "stray.txt"))
        assert not os.path.exists(os.path.join(dst, "straydir"))
        # produced outputs, their side files and internals survive
        assert open(os.path.join(dst, "a.txt")).read() == "alpha\n"
        assert open(os.path.join(dst, "sub", "b.txt")).read() == "beta\n"
        assert open(os.path.join(dst, "a.txt.stderr")).read() == "warn\n"
        assert os.path.isdir(os.path.join(dst, "_distexec_keep", "inner"))
        # idempotent: second sync deletes nothing
        assert sync_deletes(spark, str(src), dst).count() == 0
    assert found["driver"] == found["fanout"]
    assert [(f.name, f.dataType.simpleString()) for f in found["driver"][1]] == [
        ("rel_dst", "string"), ("is_dir", "boolean")
    ]


def test_sync_deletes_returns_a_frozen_frame(spark, tmp_path):
    """The returned frame is the deleted set as it was found: a stray
    planted afterwards does not appear in it, and a dry run returns the
    same set without deleting anything."""
    from hadoop_distexec_spark import distexec
    from hadoop_distexec_spark.pipe.sync import sync_deletes

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("alpha\n")
    dst = tmp_path / "dst"
    distexec(spark, str(src), str(dst), "cat")
    (dst / "stray.txt").write_text("x")
    (dst / "straydir").mkdir()

    dry = sorted(tuple(r) for r in sync_deletes(spark, str(src), str(dst), dry_run=True).collect())
    assert dry == [("stray.txt", False), ("straydir", True)]
    assert (dst / "stray.txt").exists() and (dst / "straydir").is_dir()

    extras = sync_deletes(spark, str(src), str(dst))
    assert sorted(tuple(r) for r in extras.collect()) == dry
    assert not (dst / "stray.txt").exists() and not (dst / "straydir").exists()
    (dst / "late.txt").write_text("y")
    assert sorted(tuple(r) for r in extras.collect()) == dry
