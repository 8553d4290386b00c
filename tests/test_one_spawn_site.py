"""Guard: the pipe executor has one exec path per file. Every child is
spawned at one ``subprocess.Popen`` inside ``_exec_one``, which wires each
stream to its descriptor or to a pump; no second, all-or-nothing exec arm
with its own spawn, timeout and commit code comes back."""

import ast
import pathlib

EXECUTOR = (
    pathlib.Path(__file__).resolve().parent.parent
    / "hadoop_distexec_spark" / "pipe" / "executor.py"
)


def test_one_popen_and_no_second_exec_arm():
    tree = ast.parse(EXECUTOR.read_text())
    popens = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "Popen"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "subprocess"
    ]
    assert len(popens) == 1, f"subprocess.Popen at lines {popens}"
    defined = {
        node.name
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
    }
    assert not defined & {"_exec_one_fd", "_fd_handles", "_StdinPump"}
