"""Generate the machine-derived id inventory section of PARITY.md: one row
per registered query id with its implementation site (module:line of the
registered callable) and oracle kind. The curated reference-citation
tables above the marker stay hand-maintained; this section is regenerated
(idempotently) from the registry so the id inventory can never drift from
the code.

Run from the repo root:  python scripts/gen_parity.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARKER = "<!-- GENERATED ID INVENTORY (scripts/gen_parity.py) -->"


def build_table() -> str:
    sys.path.insert(0, REPO)
    from hadoop_distexec_spark import registry

    specs = registry.specs()

    lines = [
        MARKER,
        "",
        "## Generated id inventory (regenerate: `python scripts/gen_parity.py`)",
        "",
        f"{len(specs)} registered query ids, in registry order (module order",
        "of `registry._MODULES`, then registration order). Check kind:",
        "**hash** = DuckDB oracle hash-compare; **rows** = rows-only by the",
        "driver contract's non-SQL exemption.",
        "",
        "| # | id | implementation | check |",
        "|---|---|---|---|",
    ]
    for i, (qid, spec) in enumerate(specs.items(), 1):
        fn = spec.fn
        mod = fn.__module__.replace("hadoop_distexec_spark.", "")
        site = f"{mod.replace('.', '/')}.py:{fn.__code__.co_firstlineno}"
        kind = "hash" if spec.oracle else "rows"
        lines.append(f"| {i} | `{qid}` | {site} | {kind} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    path = os.path.join(REPO, "PARITY.md")
    with open(path) as f:
        src = f.read()
    if MARKER in src:
        src = src[: src.index(MARKER)].rstrip() + "\n\n"
    else:
        src = src.rstrip() + "\n\n"
    with open(path, "w") as f:
        f.write(src + build_table())
    print(f"regenerated id inventory in {path}")


if __name__ == "__main__":
    main()
