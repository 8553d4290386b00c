"""Guard: the pipe layer's bookkeeping stays where the reference keeps it.
The map's tasks write the FAIL log (ExecFilesMapper.java:184-187) and
delete-sync deletes from the driver (DistCp.java:1240-1327), so no extra
Spark job for a side effect — a ``foreachPartition`` writer or delete, a
``toLocalIterator`` loop, an ``Observation`` count — comes back, nor the
scheme switch that picked between them. The run's result rows are pinned
one way on every filesystem, never as a second record under dst, and the
walk rebases paths with ``make_relative`` alone (DistExec.java:388-410)."""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hadoop_distexec_spark"


def _hits(paths, pattern):
    return [
        f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}"
        for path in paths
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]


def test_no_side_effect_jobs_in_pipe():
    hits = _hits(
        sorted((PACKAGE / "pipe").rglob("*.py")),
        re.compile(r"\b(foreachPartition|toLocalIterator|Observation)\b"),
    )
    assert not hits, "side-effect job in pipe/:\n" + "\n".join(hits)


def test_no_executor_mutation_switch_in_fs():
    hits = _hits([PACKAGE / "fs.py"], re.compile(r"\bexecutor_mutation_safe\b"))
    assert not hits, "\n".join(hits)


def test_results_are_pinned_one_way():
    pkg = sorted(PACKAGE.rglob("*.py"))
    hits = _hits(pkg, re.compile(r"_distexec_results"))
    assert not hits, "results ledger named:\n" + "\n".join(hits)
    # the hash state is the one parquet the executor reads or writes
    hits = _hits([PACKAGE / "pipe" / "executor.py"], re.compile(r"\.parquet\((?!state_dir\))"))
    assert not hits, "\n".join(hits)


def test_make_relative_is_the_one_rebase():
    path = PACKAGE / "sources" / "manifest.py"
    hits = _hits([path], re.compile(r"\bfunctions\b|\bF\.|\bsubstring\b|\bexpr\("))
    assert not hits, "SQL rebase in the walk:\n" + "\n".join(hits)
    assert _hits([path], re.compile(r"\bmake_relative\(root, path\)"))
