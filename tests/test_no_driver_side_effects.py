"""Guard: the pipe layer's bookkeeping stays where the reference keeps it.
The map's tasks write the FAIL log (ExecFilesMapper.java:184-187) and
delete-sync deletes from the driver (DistCp.java:1240-1327), so no extra
Spark job for a side effect — a ``foreachPartition`` writer or delete, a
``toLocalIterator`` loop, an ``Observation`` count — comes back, nor the
scheme switch that picked between them."""

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
