import shutil
import subprocess

import pytest

from perfbench import gate, inputs


@pytest.fixture
def run(tmp_path):
    """A tiny source tree, its oracle, and a destination that a correct
    distexec run of ``iconv`` would leave behind."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    (src / "a" / "empty").mkdir(parents=True)
    (src / "a" / "one.txt").write_bytes("één\n".encode())
    (src / "two.txt").write_bytes(b"two\n")
    (src / "bad.txt").write_bytes(b"x" + inputs._INVALID_UTF8)
    expected, _ = inputs.serial_oracle(src, inputs.SMALL_TREE_CMD)
    (dst / "a" / "empty").mkdir(parents=True)
    for rel in ("a/one.txt", "two.txt"):
        with (src / rel).open("rb") as f:
            (dst / rel).write_bytes(subprocess.run(inputs.SMALL_TREE_CMD, stdin=f,
                                                   capture_output=True, check=True).stdout)
    (dst / "_distexec_logs").mkdir()
    (dst / "_distexec_logs" / "part-0.txt").write_text("FAIL bad.txt : exit=1\n")
    want_files = gate.expected_dst_files(expected)
    want_dirs = {"a", "a/empty"}
    return dst, expected, want_files, want_dirs


def test_correct_destination_passes(run):
    dst, expected, want_files, want_dirs = run
    assert set(want_files) == {"a/one.txt", "two.txt"}
    assert gate.check_dst_tree(dst, want_files, want_dirs) == []
    assert gate.check_fail_log(dst / "_distexec_logs", {"bad.txt"}) == []


def test_corrupted_output_is_caught(run):
    dst, _, want_files, want_dirs = run
    (dst / "two.txt").write_bytes(b"tw0\n")
    assert gate.check_dst_tree(dst, want_files, want_dirs) == ["wrong content two.txt"]


def test_missing_file_and_dir_are_caught(run):
    dst, _, want_files, want_dirs = run
    (dst / "a" / "one.txt").unlink()
    shutil.rmtree(dst / "a" / "empty")
    assert gate.check_dst_tree(dst, want_files, want_dirs) == [
        "missing file a/one.txt", "missing dir a/empty"]


def test_leftover_tmp_and_extra_files_are_caught(run):
    dst, _, want_files, want_dirs = run
    (dst / "_distexec_tmp").mkdir()
    (dst / "bad.txt").write_bytes(b"x")  # a FAIL row must leave no file
    problems = gate.check_dst_tree(dst, want_files, want_dirs)
    assert problems == ["leftover _distexec_tmp", "extra file bad.txt"]


def test_fail_log_must_name_exactly_the_expected_failures(run):
    dst = run[0]
    assert gate.check_fail_log(dst / "_distexec_logs", set()) == [
        "FAIL log has unexpected bad.txt"]
    assert gate.check_fail_log(dst / "nowhere", {"bad.txt"}) == ["FAIL log misses bad.txt"]


def test_status_rows_are_compared_one_by_one():
    want = {"a": "EXECUTED", "b": "SKIPPED", "c": "FAIL"}
    rows = [("a", "EXECUTED"), ("b", "EXECUTED"), ("d", "EXECUTED"), ("a", "EXECUTED")]
    assert gate.check_statuses(rows, want) == [
        "duplicate result row a", "b: status EXECUTED, expected SKIPPED",
        "no result row for c", "unexpected result row d"]


def test_query_mismatch_is_reported():
    pd = pytest.importorskip("pandas")
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert gate.check_query("q", a, a.copy()) == []
    b = a.assign(v=[0.5, 2.5])
    assert gate.check_query("q", a, b)[0].startswith("q.v[1]")
