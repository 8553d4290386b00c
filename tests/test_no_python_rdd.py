"""Guard: the package runs executor-side Python only through DataFrame
Arrow maps (``mapInArrow``), never through a Python RDD. A Python RDD puts
every row through pickled Row conversion and, under a DataFrame, re-runs
the Python workers on each action."""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hadoop_distexec_spark"

# createDataFrame given an RDD: its first argument is a name `rdd`/`rdds`
# (or an `.rdd` attribute), or the call of an RDD transformation
_PATTERNS = [
    re.compile(r"\.rdd\."),
    re.compile(r"parallelize\("),
    re.compile(r"(sparkContext|\bsc)\.union\("),
    re.compile(
        r"createDataFrame\(\s*(?:(?:[\w.]*\.)?rdds?\b"
        r"|[\w.]*\.(?:mapPartitions\w*|map|flatMap|union)\()"
    ),
]


def test_no_python_rdd_in_package():
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(p.search(line) for p in _PATTERNS)
    ]
    assert not hits, "Python RDD use in the package:\n" + "\n".join(hits)
