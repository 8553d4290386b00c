"""Tripwire for the one group-local idiom: every per-group kernel runs
through ``functions/group_local.cell_local`` as one ``applyInArrow``
pass behind the group-size guard. The package holds no
``applyInPandas`` (``applyInPandasWithState``, the streaming state API,
is a different operator and is not matched), calls ``applyInArrow``
only inside ``cell_local`` and the reviewed sites below, and no module
but ``group_local`` touches the guard itself."""

import ast
import os
import re

PKG = os.path.join(os.path.dirname(__file__), "..", "hadoop_distexec_spark")

# (module-relative path, enclosing function) -> why it is not a cell_local
# call
ARROW_SITES = {
    ("functions/group_local.py", "cell_local"): "the wrapper itself",
    ("operators/llmops.py", "q_dedup_embed"): (
        "the candidate prefilter's label cell is the builder's blocking "
        "contract, so it has no bound and no fallback; its quadratic pair "
        "space is chunked inside the kernel"
    ),
}


def _sources():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                yield os.path.relpath(p, PKG).replace(os.sep, "/"), open(p).read()


def test_no_apply_in_pandas():
    hits = [
        rel for rel, src in _sources() if re.search(r"\.applyInPandas\(", src)
    ]
    assert not hits, f"group maps outside group_local.cell_local: {hits}"


def test_apply_in_arrow_only_at_reviewed_sites():
    sites = set()
    for rel, src in _sources():
        tree = ast.parse(src)
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "applyInArrow"
            ):
                enc = [n for s, e, n in spans if s <= node.lineno <= e]
                sites.add((rel, enc[-1] if enc else "<module>"))
    assert sites == set(ARROW_SITES), sorted(sites ^ set(ARROW_SITES))


def test_guard_is_private_to_group_local():
    hits = [
        rel
        for rel, src in _sources()
        if rel != "functions/group_local.py" and "pin_if_groups_fit" in src
    ]
    assert not hits, f"modules calling the guard around cell_local: {hits}"
