"""Guard: ``functions/cache.py::cached`` is the package's one cache
lifecycle. A hand-written ``persist()``/``cache()`` leaks its blocks for
the session when the build after it raises, and ``unpersist()`` on a
local checkpoint frees nothing, so neither belongs outside that module."""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hadoop_distexec_spark"
HELPER = PACKAGE / "functions" / "cache.py"

_PATTERN = re.compile(r"\.(?:persist\(|cache\(\)|unpersist\()")


def test_cache_calls_only_in_the_helper():
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != HELPER
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _PATTERN.search(line)
    ]
    assert not hits, "cache calls outside functions/cache.py:\n" + "\n".join(hits)
