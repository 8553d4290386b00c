import random

from perfbench import inputs


def _small(tmp_path, seed, name):
    root = tmp_path / name
    inputs.small_tree(random.Random(seed), root, fanout=3, depth=2, n_files=48, invalid_every=8)
    return inputs.tree_stats(root)


def test_small_tree_is_a_function_of_the_seed(tmp_path):
    a, b, c = _small(tmp_path, 7, "a"), _small(tmp_path, 7, "b"), _small(tmp_path, 8, "c")
    assert a == b
    assert a["digest"] != c["digest"]
    assert a["files"] == 48 and a["dirs"] == 1 + 3 + 9


def test_incremental_trees_mutate_the_documented_shares(tmp_path):
    def make(name, seed):
        s0, s1 = tmp_path / name / "s0", tmp_path / name / "s1"
        meta = inputs.incremental_trees(random.Random(seed), s0, s1, n_dirs=4, n_files=64)
        return meta, inputs.tree_stats(s0), inputs.tree_stats(s1)

    (meta, s0, s1), again = make("a", 3), make("b", 3)
    assert (meta, s0, s1) == again
    assert len(meta["rewritten"]) == 64 // 8 and len(meta["deleted"]) == 64 // 32
    assert s0["files"] == 64 and s1["files"] == 64 - 2 + 2
    assert not set(meta["rewritten"]) & set(meta["deleted"])


def test_serial_oracle_marks_invalid_utf8_as_fail(tmp_path):
    (tmp_path / "ok.txt").write_bytes("ascii and é\n".encode())
    (tmp_path / "bad.txt").write_bytes(b"abc" + inputs._INVALID_UTF8 + b"\n")
    (tmp_path / "empty.txt").write_bytes(b"")
    got, seconds = inputs.serial_oracle(tmp_path, inputs.SMALL_TREE_CMD)
    assert got["ok.txt"]["status"] == "EXECUTED" and got["ok.txt"]["out_md5"]
    assert got["bad.txt"]["status"] == "FAIL"
    assert got["empty.txt"] == {"status": "EXECUTED", "out_md5": None, "err_md5": None}
    assert seconds > 0


def test_prepared_entry_is_cached_per_seed(tmp_path, monkeypatch):
    calls = []
    real = inputs.small_tree

    def counting(rng, root, **kw):
        calls.append(root)
        real(rng, root, fanout=2, depth=1, n_files=8)

    monkeypatch.setattr(inputs, "small_tree", counting)
    first = inputs.prepare_small_tree(tmp_path, 5)
    second = inputs.prepare_small_tree(tmp_path, 5)
    assert first == second and len(calls) == 1
    assert (first / "expected.json").exists()
    assert not [p for p in tmp_path.iterdir() if p.name.startswith(".tmp-")]


def test_cache_keeps_only_the_newest_entries(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "small_tree",
                        lambda rng, root, **kw: root.mkdir() or (root / "f").write_bytes(b"x"))
    for seed in range(inputs.KEEP_ENTRIES + 2):
        inputs.prepare_small_tree(tmp_path, seed)
    kept = sorted(p.name for p in tmp_path.iterdir())
    assert len(kept) == inputs.KEEP_ENTRIES
    assert kept[-1].endswith(f"seed{inputs.KEEP_ENTRIES + 1}")
