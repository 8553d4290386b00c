"""The repository benchmark: one command that runs one workload of a
distexec-engine benchmark and prints every metric by name with its unit.

    python3 perfbench/run.py --workload pipe_incremental --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It pins the environment (cores,
PYTHONPATH, Spark scratch dirs, BLAS threads), starts ``worker.py`` in its
own session, samples the resident memory of that process tree (driver,
JVM, Python workers, piped children) from ``/proc``, stops every process
of the session, and prints the metrics. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics under ``--trace 0`` and the per-layer metrics under
``--trace 1``. A traced run times the untraced loop first and then one
traced iteration, to report the tracing overhead. The exit code is 0 only
when every output was correct.

Workloads, metrics and the layer map are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

from perfbench.workloads import CORPUS_IDS, WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 160.0  # plus at most 10 s of shutdown: a run ends within 180 s

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "files_per_s": "1/s",
    "mb_per_s": "MiB/s",
}


def _layer_units() -> dict[str, str]:
    units = {"session.get_spark_s": "s", "session.warmup_s": "s"}
    units.update({
        "manifest.walk_s": "s", "manifest.materialize_s": "s", "manifest.jobs": "count",
        "manifest.tasks": "count", "manifest.partitions": "count",
        "manifest.files": "count", "manifest.dirs": "count",
        "plan.s": "s", "plan.jobs": "count", "plan.tasks": "count", "plan.bins": "count",
        "plan.bin_bytes_max_over_mean": "ratio",
        "distexec.s": "s", "distexec.jobs": "count", "distexec.stages": "count",
        "distexec.tasks": "count", "distexec.task_failures": "count", "distexec.other_s": "s",
        "pipe.executed": "count", "pipe.fail": "count", "pipe.skipped": "count",
        "pipe.bytes_executed": "bytes", "pipe.bytes_written": "bytes",
        "sync.s": "s", "sync.jobs": "count", "sync.tasks": "count", "sync.deleted": "count",
    })
    for qid in CORPUS_IDS:
        units.update({f"{qid}.build_s": "s", f"{qid}.exec_s": "s",
                      f"{qid}.jobs": "count", f"{qid}.cpu_s": "s"})
    for span in ("manifest", "plan", "distexec", "sync"):
        units.update({f"{span}.executor_run_s": "s", f"{span}.executor_cpu_s": "s",
                      f"{span}.gc_s": "s", f"{span}.shuffle_write_bytes": "bytes"})
    units.update({"baseline.serial_s": "s", "baseline.lane_probe_s": "s",
                  "trace.overhead_ratio": "ratio"})
    return units


PER_LAYER = _layer_units()


def env_pins(work: Path, event_log: Path | None) -> dict[str, str]:
    """The environment every run gets: all cores (get_spark defaults to 32),
    the repo on PYTHONPATH (executor tasks import the package), Spark and
    temp files inside the checkout, one BLAS thread per worker, no progress
    bar, and an uncompressed event log only when traced."""
    env = dict(os.environ)
    cpus = str(len(os.sched_getaffinity(0)))
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    conf = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")]
    if event_log is not None:
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_log}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    for d in (work / "spark-local", work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    return env


def _session_procs(sid: int) -> list[int]:
    """Pids of every live process in session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command name: state ppid pgrp session ...
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes (forked
    Python workers, a JVM child that has not exec'd yet) are split among
    them, so a sum over the tree counts every resident page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in session ``sid`` and wait
    until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        procs = _session_procs(sid)
        if not procs:
            return
        for pid in procs:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while _session_procs(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_worker(args, work: Path) -> tuple[dict | None, float]:
    """Run worker.py once; returns (its result, peak resident bytes of its
    process tree)."""
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    event_log = work / "eventlog" if args.trace else None
    if event_log:
        event_log.mkdir()
    out = work / "result.json"
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--event-log", str(event_log or ""), "--out", str(out)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env_pins(work, event_log), stdout=sys.stderr,
                            start_new_session=True)
    peak = [0]
    done = threading.Event()

    def sample():
        while not done.is_set():
            peak[0] = max(peak[0], sum(map(_resident_bytes, _session_procs(proc.pid))))
            done.wait(0.1)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
    finally:
        done.set()
        sampler.join()
        _stop_session(proc.pid)
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if proc.returncode != 0 or not out.exists():
        return None, peak[0]
    return json.loads(out.read_text()), peak[0]


def end_to_end(res: dict) -> dict[str, float]:
    job_s = statistics.median(res["iter_s"])
    return {
        "setup_s": res["get_spark_s"] + res["warmup_s"],
        "job_s": job_s,
        "files_per_s": res["items"] / job_s,
        "mb_per_s": res["mib"] / job_s,
    }


def per_layer(res: dict) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in res.get("layers", {}).items() if k in m})
    m.update(res.get("counters", {}))
    m["session.get_spark_s"] = res["get_spark_s"]
    m["session.warmup_s"] = res["warmup_s"]
    m["baseline.serial_s"] = res.get("oracle_s") or res["input"].get("serial_s", 0.0)
    m["baseline.lane_probe_s"] = res.get("lane_probe_s", 0.0)
    m["trace.overhead_ratio"] = (statistics.median(res["traced_iter_s"])
                                 / statistics.median(res["iter_s"]))
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "hadoop_distexec_spark" / "__init__.py").is_file():
        print(f"no hadoop_distexec_spark package under {ROOT}", file=sys.stderr)
        return 2

    res, peak = run_worker(args, WORK / f"run-{args.workload}")
    if res is None or not res["iter_s"] or (args.trace and not res.get("traced_iter_s")):
        for p in (res or {}).get("problems", [])[:20]:
            print("unexpected: " + p, file=sys.stderr)
        print("benchmark worker failed", file=sys.stderr)
        return 3
    if args.trace:
        metrics, units = per_layer(res), PER_LAYER
    else:
        metrics, units = end_to_end(res), END_TO_END

    problems = res["problems"]
    attempted = max(1, res["attempted"])
    failed = min(len(problems), attempted)
    inp = res["input"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(res['iter_s'])} timed iteration(s), closed loop, one client")
    print("input " + " ".join(f"{k}={inp[k]}" for k in ("files", "dirs", "bytes", "digest")))
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    # printed, not gated: both are unsteady or 0 by design (README.md)
    print(f"peak_rss_mb {peak / 2**20:.6g} MiB")
    print(f"error_ratio {failed / attempted:.6g} ({failed} of {attempted} outcomes unexpected)")
    for p in problems[:20]:
        print("unexpected: " + p, file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
