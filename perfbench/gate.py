"""Correctness gate: compare what a run produced with what it should have.

Each check returns a list of human-readable problems; the benchmark counts
one unexpected outcome per problem and reports the share of unexpected
outcomes among attempted ones as ``error_ratio``.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

# engine-internal entries distexec keeps under the destination root
INTERNAL = ("_distexec_results", "_distexec_logs", "_distexec_state")
TMP_DIR = "_distexec_tmp"


def expected_dst_files(expected: dict) -> dict[str, str]:
    """{destination rel path: md5} for a successful run of the oracle's
    command: output files for EXECUTED rows with stdout, ``.stderr`` side
    files for EXECUTED rows with stderr, nothing for FAIL rows."""
    out = {}
    for rel, e in expected.items():
        if e["status"] != "EXECUTED":
            continue
        if e["out_md5"]:
            out[rel] = e["out_md5"]
        if e["err_md5"]:
            out[rel + ".stderr"] = e["err_md5"]
    return out


def _md5(p: Path) -> str:
    h = hashlib.md5()
    with p.open("rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def check_dst_tree(dst: Path, want_files: dict[str, str], want_dirs: set[str]) -> list[str]:
    """The destination holds exactly ``want_files`` with the right md5, every
    directory in ``want_dirs`` exists, and no ``_distexec_tmp`` is left."""
    problems = []
    if (dst / TMP_DIR).exists():
        problems.append(f"leftover {TMP_DIR}")
    seen = set()
    for dirpath, dirnames, filenames in os.walk(dst):
        if Path(dirpath) == dst:
            dirnames[:] = [d for d in dirnames if d not in INTERNAL and d != TMP_DIR]
        for name in filenames:
            p = Path(dirpath) / name
            rel = str(p.relative_to(dst))
            if rel not in want_files:
                problems.append(f"extra file {rel}")
                continue
            seen.add(rel)
            if _md5(p) != want_files[rel]:
                problems.append(f"wrong content {rel}")
    problems += [f"missing file {rel}" for rel in sorted(set(want_files) - seen)]
    problems += [f"missing dir {rel}" for rel in sorted(want_dirs) if not (dst / rel).is_dir()]
    return problems


def check_statuses(rows: list[tuple[str, str]], want: dict[str, str]) -> list[str]:
    """Result rows ``(rel_dst, status)`` against ``{rel_dst: status}``: one
    problem per wrong, missing or unexpected row."""
    got = {}
    problems = []
    for rel, status in rows:
        if rel in got:
            problems.append(f"duplicate result row {rel}")
        got[rel] = status
    for rel, status in want.items():
        if rel not in got:
            problems.append(f"no result row for {rel}")
        elif got[rel] != status:
            problems.append(f"{rel}: status {got[rel]}, expected {status}")
    problems += [f"unexpected result row {rel}" for rel in sorted(set(got) - set(want))]
    return problems


def check_fail_log(log_dir: Path, want_fail: set[str]) -> list[str]:
    """FAIL-log lines (``FAIL <rel_dst> : <error>``) name exactly the
    expected FAIL set; no log at all when nothing is expected to fail."""
    got = set()
    if log_dir.is_dir():
        for p in log_dir.iterdir():
            if p.name.startswith((".", "_")):
                continue
            for line in p.read_text().splitlines():
                if line.startswith("FAIL "):
                    got.add(line[5:].split(" : ", 1)[0])
    return ([f"FAIL log misses {rel}" for rel in sorted(want_fail - got)]
            + [f"FAIL log has unexpected {rel}" for rel in sorted(got - want_fail)])


def check_query(qid: str, spark_pdf, oracle_pdf) -> list[str]:
    """One registry id against its DuckDB twin, with the comparison the
    oracle-parity tests use (``tests/oracle_util.compare``)."""
    from tests.oracle_util import compare

    try:
        compare(spark_pdf, oracle_pdf, qid)
    except AssertionError as e:
        return [str(e)[:300]]
    return []
