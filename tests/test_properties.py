"""Property-based tests (hypothesis) for the engine's pure logic:
path rebasing, command tokenizing, exit policy, frame chunking, and the
distributed prefix sum against a single-window baseline. Most are pieces
with reference-defined semantics and no Spark dependency, so they can be
fuzzed cheaply and exhaustively."""

import shlex
import string
from unittest import mock

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hadoop_distexec_spark.operators.multimodal import FRAME_BYTES, _decode_stub
from hadoop_distexec_spark.pipe.cmdline import GREP_FAMILY, exit_ok, tokenize
from hadoop_distexec_spark.sources.manifest import make_relative

_seg = st.text(alphabet=string.ascii_lowercase + string.digits + "._-", min_size=1, max_size=8)
_path = st.lists(_seg, min_size=1, max_size=6).map(lambda segs: "/" + "/".join(segs))


@given(root=_path, rel=st.lists(_seg, min_size=1, max_size=4))
def test_make_relative_roundtrip(root, rel):
    """Descendant paths rebase to exactly their relative suffix
    (reference makeRelative, DistExec.java:388-410)."""
    child = root.rstrip("/") + "/" + "/".join(rel)
    assert make_relative(root, child) == "/".join(rel)
    assert make_relative(root, root) == "."


@given(root=_path, other=_path)
def test_make_relative_non_descendant(root, other):
    r = make_relative(root, other)
    if r is None:
        # not a descendant: must not share the root prefix
        assert not (other.rstrip("/") + "/").startswith(root.rstrip("/") + "/")
    elif r != ".":
        assert other.rstrip("/") == root.rstrip("/") + "/" + r


@given(
    st.lists(
        st.text(
            alphabet=string.ascii_letters + string.digits + "-_./= \\'\"",
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_tokenize_matches_shell_quoting(argv):
    """Quoting any argv with shlex.quote and re-tokenizing yields the
    original argv — the reference tokenizer's contract
    (CommandLineUtil.java:19-78)."""
    cmd = " ".join(shlex.quote(a) for a in argv)
    assert tokenize(cmd) == argv


@given(st.sampled_from(sorted(GREP_FAMILY)), st.integers(min_value=0, max_value=255))
def test_exit_policy_grep_family(prog, rc):
    """grep-family: rc 0 and 1 acceptable, everything else is failure
    (Executor.java:33-35,50-51)."""
    assert exit_ok([prog, "pat"], rc) == (rc in (0, 1))
    assert exit_ok([f"/usr/bin/{prog}", "pat"], rc) == (rc in (0, 1))


@given(st.text(alphabet=string.printable, max_size=64), st.integers(min_value=0, max_value=255))
def test_exit_policy_other_commands(prog, rc):
    if not prog or "/" in prog:
        return
    expected = rc == 0 or (prog in GREP_FAMILY and rc == 1)
    assert exit_ok([prog], rc) == expected


@given(st.binary(max_size=4096))
@settings(max_examples=200)
def test_decode_stub_deterministic_and_bounded(blob):
    n, w, h, f = _decode_stub(blob)
    assert n == len(blob)
    assert 0 <= w < 640 and 0 <= h < 480 and 0 <= f < 30
    assert (n, w, h, f) == _decode_stub(blob)  # deterministic


@given(st.binary(min_size=0, max_size=FRAME_BYTES * 10))
def test_frame_chunk_arithmetic(blob):
    """The frame-sampling chunk rule: full frames only, every 4th index."""
    n_frames = len(blob) // FRAME_BYTES
    idxs = list(range(0, n_frames, 4))
    for i in idxs:
        assert len(blob[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]) == FRAME_BYTES


# --- BPE REPLACE-chain oracle encoding ------------------------------------
#
# The q_bpe_train/q_bpe_apply oracles rest on one delicate claim: with the
# delimiter-framed encoding (single-SEP word ends, double-SEP separators),
# DuckDB's REPLACE is bit-equivalent to the Spark greedy left-to-right
# fold. Property-test the claim directly: random corpora (small alphabet
# maximizes merge collisions, a-runs, and suffix/prefix traps) through the
# full 3-round oracle vs a driver-side greedy reference.


def _py_greedy_bpe(words, rounds):
    syms = [list(w) for w in words if w]
    merges = []
    for rnd in range(rounds):
        counts = {}
        for s in syms:
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + 1
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd + 1, a, b, a + b, n))
        out = []
        for s in syms:
            acc = []
            for x in s:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            out.append(acc)
        syms = out
    vocab = len({x for s in syms for x in s})
    return [(r, a, b, m, n, vocab) for (r, a, b, m, n) in merges]


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=16
    )
)
def test_bpe_oracle_replace_chain_equals_greedy_fold(words):
    import duckdb

    from hadoop_distexec_spark.operators.llmops import _bpe_train_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT $1 AS text, 1 AS doc_id",
        [" ".join(words)],
    )
    got = [tuple(r) for r in con.execute(
        _bpe_train_oracle() + " ORDER BY round"
    ).fetchall()]
    con.close()
    assert got == _py_greedy_bpe(words, 3)


# --- distributed prefix sum ------------------------------------------------

@pytest.mark.parametrize("rows_per_part", [1, 3, 4096])
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(10**6), 10**6),
            st.integers(0, 2**40),
            st.integers(0, 9),
        ),
        unique_by=lambda t: t[0],
        max_size=30,
    )
)
@example([])
def test_running_sums_match_single_window(spark, rows_per_part, rows):
    """Any width (rows per partition patched to 1, 3 and the default)
    gives the exclusive running sums and totals of one global window
    ordered by the key."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hadoop_distexec_spark.functions import prefix_sum

    df = spark.createDataFrame(rows, "k BIGINT, a BIGINT, b INT")
    with mock.patch.object(prefix_sum, "ROWS_PER_PART", rows_per_part):
        out, totals, _ = prefix_sum.running_sums(df, "k", ["a", "b"])
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, -1)
    base = df.select(
        "k",
        "a",
        "b",
        F.coalesce(F.sum("a").over(w), F.lit(0)).alias("a_before"),
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("b_before"),
    )
    cols = ["k", "a", "b", "a_before", "b_before"]
    assert sorted(map(tuple, out.select(cols).collect())) == sorted(
        map(tuple, base.collect())
    )
    assert totals == {
        "rows": len(rows),
        "a": sum(r[1] for r in rows),
        "b": sum(r[2] for r in rows),
    }
