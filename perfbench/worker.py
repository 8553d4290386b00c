"""One benchmark run inside the Spark driver process.

Started by ``run.py`` with the environment pins already set; writes its
raw measurements as JSON to ``--out``. Order of work:

1. prepare the seeded inputs and their expected outputs (untimed);
2. set up: ``get_spark()`` on a cold JVM plus an untimed warm-up pass;
3. run timed iterations back to back, one client, until ``--seconds`` have
   passed and their count is odd, checking the outputs untimed;
4. with ``--trace 1``, run one more iteration with the package's manifest
   and planning calls wrapped in spans and every span under its own Spark
   job group, then reduce the Spark event log into per-layer accounting.
   The event log is on for both loops, so the ratio of the traced
   iteration to the untraced median is the overhead of spans, hooks and
   status queries.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time
import traceback
import uuid
from pathlib import Path

from perfbench import trace
from perfbench.workloads import CORPUS_IDS, WORKLOADS

LAYER_SPANS = ("manifest", "plan", "distexec", "sync")


class Hooks:
    """Spans around ``build_manifest`` and ``plan_partitions`` as the
    executor and delete-sync modules call them. The manifest span caches
    the walk's DataFrame and materializes it with one grouped count, so the
    materialization is timed on its own; the plan span is followed by one
    per-bin byte aggregate for the balance figures. Installed only in
    traced runs."""

    def __init__(self, tracer: trace.Tracer):
        from hadoop_distexec_spark.pipe import executor, sync

        self.tracer = tracer
        self.cached = []
        self._saved = [(executor, "build_manifest", executor.build_manifest),
                       (sync, "build_manifest", sync.build_manifest),
                       (executor, "plan_partitions", executor.plan_partitions)]
        executor.build_manifest = sync.build_manifest = self._wrap_manifest(executor.build_manifest)
        executor.plan_partitions = self._wrap_plan(executor.plan_partitions)

    def _wrap_manifest(self, fn):
        def build_manifest(*args, **kwargs):
            with self.tracer.span("manifest.walk"):
                df = fn(*args, **kwargs)
            with self.tracer.span("manifest.materialize") as s:
                df.cache()
                kinds = {r["is_dir"]: r["count"] for r in df.groupBy("is_dir").count().collect()}
            s.values = {"files": kinds.get(False, 0), "dirs": kinds.get(True, 0),
                        "partitions": df.rdd.getNumPartitions()}
            self.cached.append(df)
            return df

        return build_manifest

    def _wrap_plan(self, fn):
        from pyspark.sql import functions as F

        def plan_partitions(manifest, n_tasks=None):
            with self.tracer.span("plan") as s:
                planned, n, pinned = fn(manifest, n_tasks)
            with self.tracer.span("plan.bin_stats"):
                sizes = [r["b"] for r in planned.groupBy("bin").agg(F.sum("size").alias("b")).collect()]
            mean = sum(sizes) / n if n else 0
            s.values = {"bins": n, "bin_bytes_max_over_mean": max(sizes) / mean if mean else 0.0}
            return planned, n, pinned

        return plan_partitions

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def uninstall(self) -> None:
        for mod, name, fn in self._saved:
            setattr(mod, name, fn)


def lane_probe(spark) -> float:
    """Best of three of a fixed 1M-row generated aggregation: a yardstick for
    how fast this machine runs Spark right now, independent of the code."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(1 << 20).select((F.col("id") % 97).alias("k"), "id")
         .groupBy("k").agg(F.sum("id").alias("s")).write.format("noop").mode("overwrite").save())
        best = min(best, time.perf_counter() - t0)
    return best


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer: trace.Tracer, n_iter: int, events: dict) -> dict[str, float]:
    """Per-layer figures from the loop's spans: for each iteration, sum the
    spans of each layer, then take the median over iterations. Counts of
    ``distexec`` and ``sync`` include their child spans."""
    spans = [s for s in tracer.spans if 0 <= s.iteration < n_iter]
    selfs = trace.self_times(spans)
    per_iter: list[dict[str, float]] = []
    for i in range(n_iter):
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0) + v

        for s in (s for s in spans if s.iteration == i):
            dur = s.end - s.start
            if s.name in ("distexec", "sync"):
                members = trace.descendants(spans, s.sid)
                add(f"{s.name}.s", dur)
                for k in ("jobs", "stages", "tasks", "task_failures"):
                    add(f"{s.name}.{k}", sum(x.counts.get(k, 0) for x in members))
                if s.name == "distexec":
                    add("distexec.other_s", selfs[s.sid])
            if s.name.startswith("manifest."):
                add(f"{s.name}_s", dur)
                add("manifest.jobs", s.counts.get("jobs", 0))
                add("manifest.tasks", s.counts.get("tasks", 0))
                for k, v in s.values.items():
                    add(f"manifest.{k}", v)
            if s.name == "plan":
                add("plan.s", dur)
                for k in ("jobs", "tasks"):
                    add(f"plan.{k}", s.counts.get(k, 0))
                for k, v in s.values.items():
                    add(f"plan.{k}", v)
            qid, _, part = s.name.rpartition(".")
            if qid in CORPUS_IDS:
                add(f"{qid}.{part}_s", dur)
                add(f"{qid}.jobs", s.counts.get("jobs", 0))
                add(f"{qid}.cpu_s", events.get(s.group, {}).get("executor_cpu_s", 0.0))
            layer = "manifest" if s.name.startswith("manifest.") else s.name
            if layer in LAYER_SPANS:
                # executor accounting of the span and everything below it;
                # manifest/plan spans inside distexec count for both layers
                members = trace.descendants(spans, s.sid) if layer in ("distexec", "sync") else [s]
                for x in members:
                    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes"):
                        add(f"{layer}.{k}", events.get(x.group, {}).get(k, 0))
        per_iter.append(m)
    keys = sorted({k for m in per_iter for k in m})
    return {k: _median([m.get(k, 0) for m in per_iter]) for k in keys}


def timed_loop(wl, spark, tracer: trace.Tracer, seconds: float, hooks: Hooks | None = None):
    """Closed loop, one client: iterations back to back until ``seconds``
    have passed and their count is odd, so the median is one of them. An
    iteration's time is the sum of its top-level spans. Returns (iteration seconds, outcomes attempted,
    problems, last iteration's result)."""
    times: list[float] = []
    attempted, problems, result = 0, [], None
    t_loop = time.perf_counter()
    while time.perf_counter() - t_loop < seconds or len(times) % 2 == 0:
        wl.reset(spark)
        i = tracer.iteration = len(times)
        try:
            result = wl.iteration(spark, tracer)
        except Exception:
            problems.append("iteration raised: " + traceback.format_exc(limit=3)[-500:])
            return times, attempted + 1, problems, None
        times.append(sum(s.end - s.start for s in tracer.spans
                         if s.iteration == i and s.parent is None))
        if hooks:
            hooks.release()
        tracer.collect_counts()
        n, found = wl.check(spark, result)
        attempted += n
        problems += found
    return times, attempted, problems, result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    work = Path(args.work)
    wl = WORKLOADS[args.workload](work, args.seed)
    out: dict = {"input": wl.prepare(), "items": wl.items, "mib": wl.mib}

    from hadoop_distexec_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    wl.warmup(spark)
    out.update(get_spark_s=t1 - t0, warmup_s=time.perf_counter() - t1)

    attempted, problems = wl.before_loop(spark)
    run_id = uuid.uuid4().hex[:8]
    plain = trace.Tracer(run_id)
    times, n, found, _ = timed_loop(wl, spark, plain, args.seconds)
    plain.dump(work / "spans.jsonl")
    attempted += n
    problems += found
    if args.trace and times:
        from hadoop_distexec_spark.pipe.executor import metrics

        tracer = trace.Tracer(run_id, spark.sparkContext)
        hooks = Hooks(tracer)
        # one traced iteration: the per-layer figures need no median
        traced, n, found, result = timed_loop(wl, spark, tracer, 0, hooks)
        hooks.uninstall()
        attempted += n
        problems += found
        out["traced_iter_s"] = traced
        out["lane_probe_s"] = lane_probe(spark)
        counters = {}
        if isinstance(result, tuple):  # (distexec results, sync deletions)
            result, deleted = result
            counters["sync.deleted"] = deleted.count()
        if result is not None and not isinstance(result, dict):
            row = metrics(result).collect()[0]
            counters.update({f"pipe.{k}": v or 0 for k, v in row.asDict().items()})
        out["counters"] = counters
    out.update(iter_s=times, attempted=attempted, problems=problems)
    spark.stop()
    if "traced_iter_s" in out:
        events = trace.reduce_event_log_dir(Path(args.event_log))
        out["layers"] = layer_metrics(tracer, len(out["traced_iter_s"]), events)
        out["oracle_s"] = getattr(wl, "oracle_s", None)
        tracer.dump(work / "spans-traced.jsonl")
    Path(args.out).write_text(json.dumps(out))


if __name__ == "__main__":
    main()
