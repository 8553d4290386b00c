"""The benchmark's workloads. Each one prepares seeded inputs, warms a fresh
session, runs one timed iteration at a time and checks its outputs.

An iteration's public calls run inside tracer spans, and an iteration's
time is the sum of its top-level spans. With an untraced tracer the spans
only keep timestamps.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from perfbench import gate, inputs

HERE = Path(__file__).resolve().parent
CORPUS_DIR = HERE / "fixtures" / "sf0.01"
CORPUS_IDS = (
    "q_corpus_pipeline", "q_dedup_groups", "q_dedup_minhash", "q_dedup_rate_curve",
    "q_label_prop", "q_kcore_audit", "q_agg_percentile", "q_robust_stats",
    "q_quantile_bins", "q_join_multi",
)
WARM_FILES = 4


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    """Drop cached tables and dead checkpoint blocks before each timed unit,
    so the leftovers of earlier work do not show up as its GC time: the
    checkpoint blocks are freed only once the driver objects are collected
    and the JVM has run a GC. Untimed."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _reset_dir(p: Path) -> None:
    shutil.rmtree(p, ignore_errors=True)


class _Pipe:
    """Shared set-up of the pipe workloads: a small warm-up tree run
    through the workload's own command."""

    cmd: list[str]

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.dst = work / "dst"

    def warmup(self, spark) -> None:
        from hadoop_distexec_spark import distexec

        src = self.work / "warm_src"
        if not src.is_dir():
            src.mkdir(parents=True)
            for i in range(WARM_FILES):
                (src / f"w{i:02d}.txt").write_bytes(b"warm up line\n" * (64 * (i + 1)))
        _reset_dir(self.work / "warm_dst")
        distexec(spark, str(src), str(self.work / "warm_dst"), self.cmd).count()

    def before_loop(self, spark) -> tuple[int, list[str]]:
        return 0, []

    def _check_run(self, res, want_status: dict, want_fail: set[str]) -> list[str]:
        rows = [(r["rel_dst"], r["status"]) for r in res.select("rel_dst", "status").collect()]
        return (
            gate.check_statuses(rows, want_status)
            + gate.check_dst_tree(self.dst, self.want_files, self.want_dirs)
            + gate.check_fail_log(self.dst / "_distexec_logs", want_fail)
        )


class PipeSmallTree(_Pipe):
    """Many small files in a tree with over a hundred directories, piped
    through iconv; about 1/64 of the files are not UTF-8 and FAIL."""

    cmd = inputs.SMALL_TREE_CMD

    def prepare(self) -> dict:
        entry = inputs.prepare_small_tree(self.work.parent / "inputs", self.seed)
        self.src = entry / "src"
        exp = json.loads((entry / "expected.json").read_text())
        files = exp["files"]
        self.want_status = {rel: e["status"] for rel, e in files.items()}
        self.want_fail = {rel for rel, s in self.want_status.items() if s == "FAIL"}
        self.want_files = gate.expected_dst_files(files)
        self.want_dirs = {str(p.relative_to(self.src)) for p in self.src.rglob("*") if p.is_dir()}
        stats = inputs.tree_stats(self.src)
        self.items, self.mib = stats["files"], stats["bytes"] / 2**20
        return {**stats, "serial_s": exp["serial_s"]}

    def reset(self, spark) -> None:
        _reset_dir(self.dst)
        _release(spark)

    def iteration(self, spark, tracer):
        from hadoop_distexec_spark import distexec

        with tracer.span("distexec"):
            return distexec(spark, str(self.src), str(self.dst), self.cmd)

    def check(self, spark, res) -> tuple[int, list[str]]:
        return len(self.want_status), self._check_run(res, self.want_status, self.want_fail)


class PipeIncremental(_Pipe):
    """An update="hash" re-run plus delete-sync over a shallow tree in which
    a seeded 1/8 of files changed, 1/32 were deleted and 1/32 added."""

    cmd = inputs.INCREMENTAL_CMD

    def prepare(self) -> dict:
        entry = inputs.prepare_incremental(self.work.parent / "inputs", self.seed)
        self.s0, self.s1 = entry / "s0", entry / "s1"
        exp = json.loads((entry / "expected.json").read_text())
        files = exp["files"]
        changed = set(exp["rewritten"]) | {rel for rel in files if "/new" in rel}
        self.want_status = {rel: "EXECUTED" if rel in changed else "SKIPPED" for rel in files}
        self.want_deleted = set(exp["deleted"])
        self.want_files = gate.expected_dst_files(files)
        self.want_dirs = {str(p.relative_to(self.s1)) for p in self.s1.rglob("*") if p.is_dir()}
        stats = inputs.tree_stats(self.s1)
        self.items, self.mib = stats["files"], stats["bytes"] / 2**20
        s0 = inputs.tree_stats(self.s0)
        return {**stats, "s0_digest": s0["digest"], "serial_s": exp["serial_s"]}

    def before_loop(self, spark) -> tuple[int, list[str]]:
        """Populate the pristine destination every iteration starts from:
        a first update="hash" run over the old tree (untimed)."""
        from hadoop_distexec_spark import distexec

        self.d0 = self.work / "d0"
        _reset_dir(self.d0)
        rows = distexec(spark, str(self.s0), str(self.d0), self.cmd, update="hash").collect()
        bad = [r["rel_dst"] for r in rows if r["status"] != "EXECUTED"]
        return len(rows), [f"first run did not execute {rel}" for rel in bad]

    def reset(self, spark) -> None:
        _reset_dir(self.dst)
        shutil.copytree(self.d0, self.dst)
        _release(spark)

    def iteration(self, spark, tracer):
        from hadoop_distexec_spark import distexec, sync_deletes

        with tracer.span("distexec"):
            res = distexec(spark, str(self.s1), str(self.dst), self.cmd, update="hash")
        with tracer.span("sync"):
            deleted = sync_deletes(spark, str(self.s1), str(self.dst))
        return res, deleted

    def check(self, spark, out) -> tuple[int, list[str]]:
        res, deleted = out
        got = {r["rel_dst"] for r in deleted.collect()}
        problems = self._check_run(res, self.want_status, set())
        problems += [f"sync kept {rel}" for rel in sorted(self.want_deleted - got)]
        problems += [f"sync deleted {rel}" for rel in sorted(got - self.want_deleted)]
        return len(self.want_status) + len(self.want_deleted), problems


class CorpusQueries:
    """Ten registry ids over the sf0.01 fixtures into the noop sink, one pass
    per iteration. Each id's results are checked once per run, untimed,
    against its DuckDB twin, from the first pass's DataFrames."""

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.oracle_s = None

    def prepare(self) -> dict:
        stats = inputs.tree_stats(CORPUS_DIR)
        self.items, self.mib = len(CORPUS_IDS), stats["bytes"] / 2**20
        return stats

    def warmup(self, spark) -> None:
        from hadoop_distexec_spark import registry

        _noop(registry.specs()["q_join_multi"].fn(spark, str(CORPUS_DIR)))

    def before_loop(self, spark) -> tuple[int, list[str]]:
        return 0, []

    def reset(self, spark) -> None:
        pass

    def iteration(self, spark, tracer):
        from hadoop_distexec_spark import registry

        specs = registry.specs()
        out = {}
        for qid in CORPUS_IDS:
            _release(spark)  # untimed: only the spans count toward job_s
            with tracer.span(f"{qid}.build"):
                df = specs[qid].fn(spark, str(CORPUS_DIR))
            with tracer.span(f"{qid}.exec"):
                _noop(df)
            out[qid] = df
        return out

    def check(self, spark, dfs) -> tuple[int, list[str]]:
        if self.oracle_s is not None:
            return 0, []
        from hadoop_distexec_spark import registry
        from tests.oracle_util import duckdb_conn

        oracles = registry.oracle_sqls()
        problems = []
        self.oracle_s = 0.0
        con = duckdb_conn(str(CORPUS_DIR))
        try:
            for qid, df in dfs.items():
                got = df.toPandas()
                t0 = time.perf_counter()
                want = con.execute(oracles[qid]).fetchdf()
                self.oracle_s += time.perf_counter() - t0
                problems += gate.check_query(qid, got, want)
        finally:
            con.close()
        return len(dfs), problems


WORKLOADS = {
    "pipe_small_tree": PipeSmallTree,
    "pipe_incremental": PipeIncremental,
    "corpus_queries": CorpusQueries,
}
