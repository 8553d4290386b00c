"""Round-12 operators and gates.

Covers (VERDICT r11 next-round items):
  #1 q_stream_full_outer registration (parity already pinned by
     tests/test_round11_ops.py's draft tests; here we assert the
     registration itself + oracle identity with the tested draft).
  #2 verbatim-span excision transform (draft tier + law tests).
  #3 README surface-count drift gate (counts regenerated from the
     registry so drift is structurally impossible).
"""

from __future__ import annotations

import os
import re

import pytest

from hadoop_distexec_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# VERDICT r11 #3: README surface counts must match the registry
# ---------------------------------------------------------------------------


def test_readme_counts_match_registry():
    """README.md's hand-maintained surface counts drifted twice (r10: 206/
    208 at a 216 registry). Gate: grep the two count sentences out of the
    README and assert them against ``registry.specs()`` so any future
    registration that forgets the README fails the suite at HEAD."""
    specs = registry.specs()
    total = len(specs)
    with_oracle = sum(1 for s in specs.values() if s.oracle)

    readme = open(os.path.join(REPO, "README.md")).read()
    m = re.search(r"(\d+) of (\d+) registered queries carry oracles", readme)
    assert m, "README.md lost the 'N of M registered queries carry oracles' line"
    assert (int(m.group(1)), int(m.group(2))) == (with_oracle, total), (
        f"README says {m.group(1)}/{m.group(2)} but the registry is "
        f"{with_oracle}/{total} — update README.md"
    )
    m2 = re.search(r"the (\d+)-query relational / streaming /", readme)
    assert m2, "README.md lost the 'the N-query relational / streaming /' line"
    assert int(m2.group(1)) == total, (
        f"README says {m2.group(1)}-query but the registry is {total}"
    )


# ---------------------------------------------------------------------------
# VERDICT r11 #1: q_stream_full_outer is registered, with the tested oracle
# ---------------------------------------------------------------------------


def test_stream_full_outer_registered():
    """The r11 draft tier is now a registered id; its registered oracle is
    the SAME text the r11 draft-parity tests pinned bit-exact at sf0.001
    and sf0.01 (so registration changed visibility, not semantics)."""
    from hadoop_distexec_spark.streaming.windows import (
        STREAM_FULL_OUTER_ORACLE,
        stream_full_outer_data,
    )

    specs = registry.specs()
    assert "q_stream_full_outer" in specs
    spec = specs["q_stream_full_outer"]
    assert spec.oracle == STREAM_FULL_OUTER_ORACLE
    assert spec.fn is stream_full_outer_data


def test_excision_wave_registered():
    """The three excision tiers are registered, and each registered
    oracle is the SAME text the draft-parity tests pinned bit-exact at
    sf0.001 and sf0.01, so registration changed visibility, not
    semantics."""
    from hadoop_distexec_spark.operators.llmops import (
        LINE_EXCISE_NEWLINE_ORACLE,
        LINE_EXCISE_ORACLE,
        VERBATIM_EXCISE_ORACLE,
        line_excise,
        line_excise_newline,
        verbatim_excise,
    )

    specs = registry.specs()
    for qid, fn, oracle in [
        ("q_verbatim_excise", verbatim_excise, VERBATIM_EXCISE_ORACLE),
        ("q_line_excise", line_excise, LINE_EXCISE_ORACLE),
        ("q_line_excise_newline", line_excise_newline, LINE_EXCISE_NEWLINE_ORACLE),
    ]:
        assert qid in specs, f"{qid} not registered"
        assert specs[qid].oracle == oracle
        assert specs[qid].fn is fn


# ---------------------------------------------------------------------------
# VERDICT r11 #2: verbatim_excise (draft gates; registered same-round once
# these went green — see test_excision_wave_registered)
# ---------------------------------------------------------------------------


def _brute_excise(sf_dir: str):
    """Independent Python recomputation of the excision semantics:
    shared-window set (df >= VERBATIM_MIN_DOCS), per-window owner =
    MIN(doc_id), cut positions = the K-token footprint of every
    non-owner occurrence, cleaned = surviving tokens space-joined."""
    import collections
    import hashlib

    import duckdb as dk

    from hadoop_distexec_spark.operators.llmops import (
        VERBATIM_K,
        VERBATIM_MIN_DOCS,
    )

    rows = dk.sql(
        f"SELECT doc_id, source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    toks = {d: (s, t.strip().split()) for d, s, t in rows}
    wins = []  # (doc_id, 1-based pos, window-hash)
    for doc_id, (_, t) in toks.items():
        for p in range(len(t) - VERBATIM_K + 1):
            wh = hashlib.md5(" ".join(t[p : p + VERBATIM_K]).encode()).hexdigest()
            wins.append((doc_id, p + 1, wh))
    docs_per_win = collections.defaultdict(set)
    for doc_id, _, wh in wins:
        docs_per_win[wh].add(doc_id)
    owner = {
        wh: min(ds)
        for wh, ds in docs_per_win.items()
        if len(ds) >= VERBATIM_MIN_DOCS
    }
    covered = collections.defaultdict(set)
    for doc_id, p, wh in wins:
        if wh in owner and owner[wh] != doc_id:
            covered[doc_id].update(range(p, p + VERBATIM_K))
    out = {}
    for doc_id, (source, t) in toks.items():
        if not t:
            continue
        keep = [tok for i, tok in enumerate(t, 1) if i not in covered[doc_id]]
        cleaned = " ".join(keep)
        out[doc_id] = (
            source,
            len(t),
            len(keep),
            hashlib.md5(cleaned.encode()).hexdigest(),
        )
    return out


def test_verbatim_excise_brute_force(spark):
    from hadoop_distexec_spark.operators.llmops import verbatim_excise

    got = {
        r["doc_id"]: (
            r["source"],
            r["n_tokens"],
            r["kept_tokens"],
            r["cleaned_md5"],
        )
        for r in verbatim_excise(spark, SF_SMALL).collect()
    }
    assert got == _brute_excise(SF_SMALL)
    # vacuity guards: the fixture's planted dups make cuts happen, and
    # untouched docs exist
    assert any(v[1] != v[2] for v in got.values())
    assert any(v[1] == v[2] for v in got.values())


def test_verbatim_excise_draft_oracle_parity(spark):
    """Registration gate: the draft DuckDB twin is bit-exact at sf0.001
    AND sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        VERBATIM_EXCISE_ORACLE,
        verbatim_excise,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(
            spark, "verbatim_excise", verbatim_excise,
            VERBATIM_EXCISE_ORACLE, sf,
        )
        assert n > 0


def test_verbatim_excise_keep_first_law(spark, tmp_path):
    """The law the transform exists for, over a planted fixture: the
    MIN-doc_id owner of a shared span keeps its text byte-identical, a
    later doc loses EXACTLY the span's token footprint, a full clone of
    an earlier doc excises to the empty string, and untouched docs pass
    through byte-identical. Plus the oracle agrees on the same fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        VERBATIM_EXCISE_ORACLE,
        VERBATIM_K,
        verbatim_excise,
        verbatim_excise_corpus,
    )
    from tests.oracle_util import compare

    assert VERBATIM_K == 8
    quote = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one shared window
    uniq = lambda i, n: " ".join(f"u{i}_{j}" for j in range(n))  # noqa: E731
    clone = "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"  # 10 tokens, 3 windows
    docs = [
        # doc 1 OWNS the quote (min doc_id): kept in full
        (1, "web", f"{uniq(1, 12)} {quote} {uniq(11, 12)}"),
        # doc 2 re-uses it: loses exactly the 8 quote tokens
        (2, "web", f"{uniq(2, 10)} {quote} {uniq(22, 10)}"),
        # docs 3/4: exact clones -> 3 owns, 4 excises to ''
        (3, "web", clone),
        (4, "web", clone),
        # doc 5: unique -> untouched
        (5, "web", uniq(5, 16)),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "text": pa.array([d[2] for d in docs]),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    corpus = {
        r["doc_id"]: r for r in verbatim_excise_corpus(spark, str(tmp_path)).collect()
    }
    assert corpus[1]["cleaned"] == docs[0][2]  # owner untouched
    assert corpus[2]["cleaned"] == f"{uniq(2, 10)} {uniq(22, 10)}"  # span cut
    assert corpus[3]["cleaned"] == clone  # clone owner untouched
    assert corpus[4]["cleaned"] == ""  # full clone fully excised
    assert corpus[5]["cleaned"] == docs[4][2]  # unique doc untouched
    for r in corpus.values():  # conservation: kept <= n, cut = n - kept
        assert 0 <= r["kept_tokens"] <= r["n_tokens"]
    assert corpus[2]["kept_tokens"] == corpus[2]["n_tokens"] - 8
    assert corpus[4]["kept_tokens"] == 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(VERBATIM_EXCISE_ORACLE).fetchdf()
    con.close()
    compare(
        verbatim_excise(spark, str(tmp_path)).toPandas(),
        odf,
        "verbatim_excise_planted",
    )


def test_verbatim_excise_agrees_with_share_audit(spark):
    """Cross-operator law: a doc can only lose tokens if the share audit
    counts it as carrying shared windows — per source, the number of
    docs with cut_tokens > 0 never exceeds docs_with_shared (owners
    carry shared windows but lose nothing, so <= not ==)."""
    import collections

    from hadoop_distexec_spark.operators.llmops import (
        doc_verbatim_share,
        verbatim_excise,
    )

    cut_docs = collections.Counter()
    for r in verbatim_excise(spark, SF_SMALL).collect():
        if r["cut_tokens"] > 0:
            cut_docs[r["source"]] += 1
    audit = {
        r["source"]: r["docs_with_shared"]
        for r in doc_verbatim_share(spark, SF_SMALL).collect()
    }
    assert cut_docs, "fixture plants reuse; excision must cut somewhere"
    for source, n_cut in cut_docs.items():
        assert n_cut <= audit[source]


# ---------------------------------------------------------------------------
# ADVICE r11 #2: pin gopher_rules' NULL/empty-doc behavior
# ---------------------------------------------------------------------------


def test_gopher_rules_null_and_empty_docs(spark, tmp_path):
    """ADVICE r11 #2 suspected a NULL-text divergence (legacy Spark
    size(NULL) = -1 vs DuckDB NULL-propagation). Spark >= 3.0 defaults
    spark.sql.legacy.sizeOfNull=false, so size/aggregate over a NULL
    token array NULL-propagates exactly like DuckDB's len/list_* and the
    NULL-valued rule booleans fall into the same ELSE arm on both sides.
    Pin it: a NULL doc, an empty doc and a whitespace-only doc each fail
    every rule in BOTH engines, and the engines agree bit-exactly."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        GOPHER_MIN_WORDS,
        GOPHER_RULES_ORACLE,
        gopher_rules,
    )
    from tests.oracle_util import compare

    passing = "the of and that have with be to " * (GOPHER_MIN_WORDS // 8 + 1)
    docs = [
        (1, "web", None),  # NULL text
        (2, "web", ""),  # empty text
        (3, "web", "   "),  # whitespace-only (tokenizes to [''])
        (4, "web", passing.strip()),  # control: passes every rule
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "text": pa.array([d[2] for d in docs]),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    rows = gopher_rules(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    # the three degenerate docs fail the word-count, word-length and
    # stop-word rules (NULL booleans count as failures on both sides);
    # the control passes everything
    assert r["n_docs"] == 4
    assert r["fail_words"] == 3
    assert r["fail_wordlen"] == 3
    assert r["fail_stops"] == 3
    assert r["n_pass"] == 1
    assert r["pass_ppm"] == 250_000

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(GOPHER_RULES_ORACLE).fetchdf()
    con.close()
    compare(
        gopher_rules(spark, str(tmp_path)).toPandas(), odf, "gopher_null_planted"
    )


# ---------------------------------------------------------------------------
# line_excise (library tier, r13 registration candidate): the C4-style
# ACTION to q_line_dedup's audit — boilerplate lines cut from EVERY doc
# ---------------------------------------------------------------------------


def _brute_line_excise(sf_dir: str):
    """Independent recompute of the chunker-variant semantics: fixed
    LINE_WORDS-word chunk lines, boilerplate = line in >= LINE_BOILER_DF
    distinct docs, cut everywhere, survivors space-joined in order."""
    import collections
    import hashlib

    import duckdb as dk

    from hadoop_distexec_spark.operators.llmops import (
        LINE_BOILER_DF,
        LINE_WORDS,
    )

    rows = dk.sql(
        f"SELECT doc_id, source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    lines = {}  # doc_id -> (source, [line, ...])
    docs_per_line = collections.defaultdict(set)
    for doc_id, source, text in rows:
        t = text.strip().split()
        if not t:
            continue
        ls = [
            " ".join(t[i : i + LINE_WORDS]) for i in range(0, len(t), LINE_WORDS)
        ]
        lines[doc_id] = (source, ls)
        for line in ls:
            docs_per_line[line].add(doc_id)
    boiler = {
        line for line, ds in docs_per_line.items() if len(ds) >= LINE_BOILER_DF
    }
    out = {}
    for doc_id, (source, ls) in lines.items():
        keep = [line for line in ls if line not in boiler]
        cleaned = " ".join(keep)
        out[doc_id] = (
            source,
            len(ls),
            len(keep),
            hashlib.md5(cleaned.encode()).hexdigest(),
        )
    return out


def test_line_excise_brute_force(spark):
    from hadoop_distexec_spark.operators.llmops import line_excise

    got = {
        r["doc_id"]: (
            r["source"],
            r["n_lines"],
            r["kept_lines"],
            r["cleaned_md5"],
        )
        for r in line_excise(spark, SF_SMALL).collect()
    }
    assert got == _brute_line_excise(SF_SMALL)
    assert any(v[1] != v[2] for v in got.values())  # fixture plants boiler
    assert any(v[1] == v[2] for v in got.values())  # clean docs exist


def test_line_excise_draft_oracle_parity(spark):
    """Registration gate: BOTH splitter variants bit-exact at sf0.001
    AND sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        LINE_EXCISE_NEWLINE_ORACLE,
        LINE_EXCISE_ORACLE,
        line_excise,
        line_excise_newline,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        assert run_pair(spark, "line_excise", line_excise, LINE_EXCISE_ORACLE, sf) > 0
        assert (
            run_pair(
                spark, "line_excise_newline", line_excise_newline,
                LINE_EXCISE_NEWLINE_ORACLE, sf,
            )
            > 0
        )


def test_line_excise_drops_boilerplate_everywhere(spark, tmp_path):
    """The semantics that distinguish this tier from verbatim_excise: a
    boilerplate line is cut from EVERY document INCLUDING the earliest
    (C4 rule — chrome is noise in every copy), an all-boilerplate doc
    excises to '', unique docs pass through line-normalized, and the
    cleaned corpus re-audited by line_dedup_newline is boilerplate-free
    (the fixpoint a cleaning run expects). Oracle agreement on the same
    fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        LINE_BOILER_DF,
        LINE_EXCISE_NEWLINE_ORACLE,
        line_dedup_newline,
        line_excise_newline,
    )
    from tests.oracle_util import compare

    assert LINE_BOILER_DF == 3
    footer = "copyright acme corp all rights reserved"
    docs = [
        (1, "web", f"alpha beta gamma\n{footer}"),
        (2, "web", f"delta epsilon\n{footer}\nzeta eta"),
        (3, "web", f"{footer}"),  # all-boilerplate -> ''
        (4, "web", "theta iota kappa\nlambda mu"),  # untouched
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "text": pa.array([d[2] for d in docs]),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    import hashlib

    got = {
        r["doc_id"]: r for r in line_excise_newline(spark, str(tmp_path)).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1]["cleaned_md5"] == md5("alpha beta gamma")  # footer cut
    assert got[2]["cleaned_md5"] == md5("delta epsilon\nzeta eta")
    assert got[3]["cleaned_md5"] == md5("") and got[3]["kept_lines"] == 0
    assert got[4]["cleaned_md5"] == md5("theta iota kappa\nlambda mu")
    assert all(r["cut_lines"] == (1 if d in (1, 2, 3) else 0) for d, r in got.items())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(LINE_EXCISE_NEWLINE_ORACLE).fetchdf()
    con.close()
    compare(
        line_excise_newline(spark, str(tmp_path)).toPandas(),
        odf,
        "line_excise_newline_planted",
    )

    # fixpoint: write the cleaned corpus back out and re-audit — zero
    # boilerplate instances survive
    cleaned_rows = [
        (1, "web", "alpha beta gamma"),
        (2, "web", "delta epsilon\nzeta eta"),
        (4, "web", "theta iota kappa\nlambda mu"),
    ]
    os.makedirs(f"{tmp_path}/clean", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in cleaned_rows], pa.int64()),
                "source": pa.array([d[1] for d in cleaned_rows]),
                "text": pa.array([d[2] for d in cleaned_rows]),
            }
        ),
        f"{tmp_path}/clean/documents.parquet",
    )
    audit = line_dedup_newline(spark, f"{tmp_path}/clean").collect()
    assert sum(r["boiler_instances"] for r in audit) == 0


# ---------------------------------------------------------------------------
# r12 wave 2: decontam_excise — the decontamination ACTION (registered
# same-round after these gates went green)
# ---------------------------------------------------------------------------


def _brute_decontam_excise(sf_dir: str):
    """Independent Python recomputation: eval = docs with doc_id %
    DECONTAM_MOD == 0; their distinct SHINGLE_K-gram set; every training
    window matching an eval shingle marks its K-token footprint cut;
    cleaned = survivors space-joined. Eval docs absent from output."""
    import hashlib

    import duckdb as dk

    from hadoop_distexec_spark.operators.llmops import DECONTAM_MOD, SHINGLE_K

    rows = dk.sql(
        f"SELECT doc_id, source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    toks = {d: (s, t.strip().split()) for d, s, t in rows}
    ev = set()
    for d, (_, t) in toks.items():
        if d % DECONTAM_MOD == 0:
            for p in range(len(t) - SHINGLE_K + 1):
                ev.add(" ".join(t[p : p + SHINGLE_K]))
    out = {}
    for d, (s, t) in toks.items():
        if d % DECONTAM_MOD == 0 or not t:
            continue
        covered = set()
        for p in range(len(t) - SHINGLE_K + 1):
            if " ".join(t[p : p + SHINGLE_K]) in ev:
                covered.update(range(p + 1, p + SHINGLE_K + 1))
        keep = [tok for i, tok in enumerate(t, 1) if i not in covered]
        out[d] = (s, len(t), len(keep), hashlib.md5(" ".join(keep).encode()).hexdigest())
    return out


def test_decontam_excise_brute_force(spark):
    from hadoop_distexec_spark.operators.llmops import decontam_excise

    got = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["kept_tokens"], r["cleaned_md5"])
        for r in decontam_excise(spark, SF_SMALL).collect()
    }
    assert got == _brute_decontam_excise(SF_SMALL)
    assert any(v[1] != v[2] for v in got.values())  # contamination exists
    assert any(v[1] == v[2] for v in got.values())  # clean docs exist


def test_decontam_excise_oracle_parity(spark):
    """Registration gate: bit-exact vs the DuckDB twin at sf0.001 AND
    sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        DECONTAM_EXCISE_ORACLE,
        decontam_excise,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        assert (
            run_pair(spark, "decontam_excise", decontam_excise,
                     DECONTAM_EXCISE_ORACLE, sf)
            > 0
        )


def test_decontam_excise_planted_laws(spark, tmp_path):
    """Planted-fixture laws: a training doc loses EXACTLY the eval
    shingle's footprint; a training-training shared shingle (absent
    from the eval set) cuts NOTHING — the law distinguishing this
    transform from verbatim_excise; a doc made entirely of eval
    content excises to ''; eval docs are not output rows. Oracle
    agrees on the same fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        DECONTAM_EXCISE_ORACLE,
        DECONTAM_MOD,
        SHINGLE_K,
        decontam_excise,
        decontam_excise_corpus,
    )
    from tests.oracle_util import compare

    assert SHINGLE_K == 3 and DECONTAM_MOD == 97
    docs = [
        (97, "eval", "e1 e2 e3 e4"),  # eval doc: shingles e1e2e3, e2e3e4
        # training: one eval window at p=3 -> covered 3..5
        (1, "web", "u1 u2 e1 e2 e3 u3"),
        # training pair sharing a NON-eval shingle -> both untouched
        (2, "web", "t1 t2 t3 a1 a2"),
        (3, "web", "b1 t1 t2 t3 b2"),
        # training doc that is pure eval content -> ''
        (4, "web", "e1 e2 e3 e4"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "text": pa.array([d[2] for d in docs]),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    corpus = {
        r["doc_id"]: r
        for r in decontam_excise_corpus(spark, str(tmp_path)).collect()
    }
    assert set(corpus) == {1, 2, 3, 4}  # eval doc 97 absent
    assert corpus[1]["cleaned"] == "u1 u2 u3"
    assert corpus[2]["cleaned"] == docs[2][2]  # training-training reuse kept
    assert corpus[3]["cleaned"] == docs[3][2]
    assert corpus[4]["cleaned"] == "" and corpus[4]["kept_tokens"] == 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(DECONTAM_EXCISE_ORACLE).fetchdf()
    con.close()
    compare(
        decontam_excise(spark, str(tmp_path)).toPandas(),
        odf,
        "decontam_excise_planted",
    )


def test_decontam_excise_agrees_with_decontam(spark):
    """Cross-operator law: the docs this transform cuts are EXACTLY
    q_decontam's flagged set — a training doc loses tokens iff it
    carries >= 1 eval shingle (same shingle definition on both sides)."""
    from hadoop_distexec_spark.operators.llmops import decontam_excise, q_decontam

    cut_docs = {
        r["doc_id"]
        for r in decontam_excise(spark, SF_SMALL).collect()
        if r["cut_tokens"] > 0
    }
    flagged = {r["doc_id"] for r in q_decontam(spark, SF_SMALL).collect()}
    assert cut_docs == flagged
    assert cut_docs  # fixture has contamination


# ---------------------------------------------------------------------------
# r12 wave 2: intradoc_excise — within-doc repeated-window removal
# (registered same-round after these gates went green)
# ---------------------------------------------------------------------------


def _brute_intradoc_excise(sf_dir: str):
    """Independent recompute: scanning left-to-right, a SHINGLE_K-token
    window whose text already occurred earlier in the SAME doc marks its
    footprint cut (first occurrence kept)."""
    import hashlib

    import duckdb as dk

    from hadoop_distexec_spark.operators.llmops import SHINGLE_K

    rows = dk.sql(
        f"SELECT doc_id, source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    out = {}
    for d, s, text in rows:
        t = text.strip().split()
        if not t:
            continue
        seen = set()
        covered = set()
        for p in range(len(t) - SHINGLE_K + 1):
            w = " ".join(t[p : p + SHINGLE_K])
            if w in seen:
                covered.update(range(p + 1, p + SHINGLE_K + 1))
            else:
                seen.add(w)
        keep = [tok for i, tok in enumerate(t, 1) if i not in covered]
        out[d] = (s, len(t), len(keep), hashlib.md5(" ".join(keep).encode()).hexdigest())
    return out


def test_intradoc_excise_brute_force(spark):
    from hadoop_distexec_spark.operators.llmops import intradoc_excise

    got = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["kept_tokens"], r["cleaned_md5"])
        for r in intradoc_excise(spark, SF_SMALL).collect()
    }
    assert got == _brute_intradoc_excise(SF_SMALL)
    assert any(v[1] != v[2] for v in got.values())  # intra-doc repeats exist
    assert any(v[1] == v[2] for v in got.values())  # repeat-free docs exist


def test_intradoc_excise_oracle_parity(spark):
    """Registration gate: bit-exact vs the DuckDB twin at sf0.001 AND
    sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        INTRADOC_EXCISE_ORACLE,
        intradoc_excise,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        assert (
            run_pair(spark, "intradoc_excise", intradoc_excise,
                     INTRADOC_EXCISE_ORACLE, sf)
            > 0
        )


def test_intradoc_excise_planted_laws(spark, tmp_path):
    """Planted laws: a later repeat of a window loses exactly its
    footprint (keep-first); a perfectly periodic doc collapses to one
    period; a repeat-free doc passes through byte-identical. Oracle
    agrees on the same fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        INTRADOC_EXCISE_ORACLE,
        intradoc_excise,
        intradoc_excise_corpus,
    )
    from tests.oracle_util import compare

    docs = [
        (1, "web", "a b c d a b c e"),  # repeat of (a b c) at p=5 -> cut 5..7
        (2, "web", "x y z x y z"),  # periodic: repeat at p=4 -> cut 4..6
        (3, "web", "p q r s t u v"),  # repeat-free
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "text": pa.array([d[2] for d in docs]),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    corpus = {
        r["doc_id"]: r
        for r in intradoc_excise_corpus(spark, str(tmp_path)).collect()
    }
    assert corpus[1]["cleaned"] == "a b c d e"
    assert corpus[2]["cleaned"] == "x y z"
    assert corpus[3]["cleaned"] == docs[2][2]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(INTRADOC_EXCISE_ORACLE).fetchdf()
    con.close()
    compare(
        intradoc_excise(spark, str(tmp_path)).toPandas(),
        odf,
        "intradoc_excise_planted",
    )


def test_intradoc_excise_implies_repetition(spark):
    """Cross-operator law: a repeated SHINGLE_K-gram implies repeated
    bigrams, so every doc this transform cuts has q_repetition
    rep_ratio > 0 (subset, not equality — a repeated bigram need not
    extend to a repeated trigram)."""
    from hadoop_distexec_spark.operators.llmops import intradoc_excise, q_repetition

    cut_docs = {
        r["doc_id"]
        for r in intradoc_excise(spark, SF_SMALL).collect()
        if r["cut_tokens"] > 0
    }
    repeaty = {
        r["doc_id"]
        for r in q_repetition(spark, SF_SMALL).collect()
        if r["rep_ratio"] > 0
    }
    assert cut_docs, "fixture has intra-doc repeats"
    assert cut_docs <= repeaty


def test_r12_wave2_registered():
    """Wave-2 registration: the decontam/intradoc excision tiers are
    registered with the SAME oracle text the parity gates above pinned,
    and the reconstruction tail of both oracles is the REGISTERED
    q_verbatim_excise oracle's text verbatim (the anchored-slice
    sibling tie)."""
    from hadoop_distexec_spark.operators.llmops import (
        DECONTAM_EXCISE_ORACLE,
        INTRADOC_EXCISE_ORACLE,
        VERBATIM_EXCISE_ORACLE,
        decontam_excise,
        intradoc_excise,
    )

    specs = registry.specs()
    for qid, fn, oracle in [
        ("q_decontam_excise", decontam_excise, DECONTAM_EXCISE_ORACLE),
        ("q_intradoc_excise", intradoc_excise, INTRADOC_EXCISE_ORACLE),
    ]:
        assert qid in specs and specs[qid].oracle == oracle
        assert specs[qid].fn is fn
    tail = VERBATIM_EXCISE_ORACLE[VERBATIM_EXCISE_ORACLE.index("tok AS (") :]
    assert tail in DECONTAM_EXCISE_ORACLE
    assert tail in INTRADOC_EXCISE_ORACLE


# ---------------------------------------------------------------------------
# r12 wave 3: excise_impact — the efficacy certificate (registered
# same-round after these gates went green)
# ---------------------------------------------------------------------------


def _brute_excise_impact(sf_dir: str):
    """Independent recompute of both audit arms: the before arm is the
    registered share audit's math; the after arm re-runs it over the
    brute-forced excised corpus (the _brute_excise semantics, kept
    inline here so the harness stays independent of the helpers under
    test)."""
    import collections

    import duckdb as dk

    from hadoop_distexec_spark.operators.llmops import (
        VERBATIM_K,
        VERBATIM_MIN_DOCS,
    )

    rows = dk.sql(
        f"SELECT doc_id, source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    toks = {d: (s, t.strip().split()) for d, s, t in rows}

    def share_arm(corpus):  # {doc: (source, tokens)} -> {source: (docs, wins, shared)}
        wins = collections.defaultdict(list)  # wh -> [(doc, source)]
        per_doc = {}
        for d, (s, t) in corpus.items():
            ws = [
                " ".join(t[p : p + VERBATIM_K])
                for p in range(len(t) - VERBATIM_K + 1)
            ]
            if not ws:
                continue
            per_doc[d] = (s, ws)
            for w in ws:
                wins[w].append(d)
        shared = {w for w, ds in wins.items() if len(set(ds)) >= VERBATIM_MIN_DOCS}
        out = collections.defaultdict(lambda: [0, 0, 0])
        for d, (s, ws) in per_doc.items():
            out[s][0] += 1
            out[s][1] += len(ws)
            out[s][2] += sum(1 for w in ws if w in shared)
        return {s: tuple(v) for s, v in out.items()}

    # the excision (keep-first-doc rule), re-derived independently
    wins = []
    for d, (_, t) in toks.items():
        for p in range(len(t) - VERBATIM_K + 1):
            wins.append((d, p + 1, " ".join(t[p : p + VERBATIM_K])))
    docs_per = collections.defaultdict(set)
    for d, _, w in wins:
        docs_per[w].add(d)
    owner = {
        w: min(ds) for w, ds in docs_per.items() if len(ds) >= VERBATIM_MIN_DOCS
    }
    covered = collections.defaultdict(set)
    for d, p, w in wins:
        if w in owner and owner[w] != d:
            covered[d].update(range(p, p + VERBATIM_K))
    cleaned = {
        d: (s, [tok for i, tok in enumerate(t, 1) if i not in covered[d]])
        for d, (s, t) in toks.items()
        if t
    }
    before = share_arm({d: v for d, v in toks.items() if v[1]})
    after = share_arm(cleaned)
    out = {}
    for s, (bd, bw, bs) in before.items():
        ad, aw, ash = after.get(s, (0, 0, 0))
        out[s] = (
            bd, bw, bs, bs * 1_000_000 // bw,
            ad, aw, ash, (ash * 1_000_000 // aw) if aw else 0,
        )
    return out


def test_excise_impact_brute_force(spark):
    from hadoop_distexec_spark.operators.llmops import excise_impact

    got = {
        r["source"]: (
            r["before_docs"], r["before_windows"], r["before_shared"],
            r["before_ppm"], r["after_docs"], r["after_windows"],
            r["after_shared"], r["after_ppm"],
        )
        for r in excise_impact(spark, SF_SMALL).collect()
    }
    assert got == _brute_excise_impact(SF_SMALL)
    # vacuity guards + the monotone laws cuts guarantee
    assert any(v[3] > 0 for v in got.values())  # reuse exists before
    for v in got.values():
        assert v[5] <= v[1]  # cuts only remove windows
        assert v[4] <= v[0]  # and docs


def test_excise_impact_oracle_parity(spark):
    """Registration gate: bit-exact vs the DuckDB twin at sf0.001 AND
    sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        EXCISE_IMPACT_ORACLE,
        excise_impact,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        assert (
            run_pair(spark, "excise_impact", excise_impact,
                     EXCISE_IMPACT_ORACLE, sf)
            > 0
        )


def test_excise_impact_seam_window_law(spark, tmp_path):
    """The one subtle semantic, pinned on a planted fixture: excision
    drives the shared share of the ORIGINAL windows to zero (owners
    keep the only surviving copy), but cutting creates new token
    adjacencies — two docs that shared nothing before can become
    identical after their (different) quoted spans are cut, so
    after_shared counts exactly those SEAM windows. The audit reports
    them rather than hiding them — that is why it exists. Oracle agrees
    on the fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        EXCISE_IMPACT_ORACLE,
        VERBATIM_K,
        excise_impact,
    )
    from tests.oracle_util import compare

    assert VERBATIM_K == 8
    Q = " ".join(f"q{i}" for i in range(8))
    X = " ".join(f"x{i}" for i in range(8))
    P = " ".join(f"p{i}" for i in range(7))
    S = " ".join(f"s{i}" for i in range(7))
    docs = [
        (1, "web", f"d1 d2 d3 {Q} d4 d5 d6"),  # owns the Q window
        (2, "web", f"e1 e2 e3 {X} e4 e5 e6"),  # owns the X window
        (3, "web", f"{P} {Q} {S}"),  # loses Q -> becomes P+S
        (4, "web", f"{P} {X} {S}"),  # loses X -> becomes P+S (seam twin)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "text": pa.array([d[2] for d in docs]),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    rows = excise_impact(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    # before: each doc carries exactly one shared window (Q or X)
    assert r["before_docs"] == 4 and r["before_shared"] == 4
    # after: docs 3/4 both reconstruct to the identical 14-token P+S
    # text -> 7 windows each, all seam-shared; owners 1/2 untouched
    assert r["after_docs"] == 4
    assert r["after_shared"] == 14
    # each 22-token doc (15 windows) shrinks to 14 tokens (7 windows)
    assert r["after_windows"] == r["before_windows"] - 2 * 8

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(EXCISE_IMPACT_ORACLE).fetchdf()
    con.close()
    compare(
        excise_impact(spark, str(tmp_path)).toPandas(), odf, "excise_impact_planted"
    )


def test_excise_impact_before_arm_is_registered_audit(spark):
    """Cross-operator law: the before_* columns are EXACTLY the
    registered q_doc_verbatim_share numbers (same body via
    _verbatim_share_on — the refactor cannot drift the audit)."""
    from hadoop_distexec_spark.operators.llmops import (
        doc_verbatim_share,
        excise_impact,
    )

    audit = {
        r["source"]: (r["n_docs"], r["total_windows"], r["shared_windows"],
                      r["verbatim_ppm"])
        for r in doc_verbatim_share(spark, SF_SMALL).collect()
    }
    impact = {
        r["source"]: (r["before_docs"], r["before_windows"],
                      r["before_shared"], r["before_ppm"])
        for r in excise_impact(spark, SF_SMALL).collect()
    }
    assert impact == audit


def test_r12_wave3_registered():
    """Wave-3 registration: q_excise_impact carries the parity-pinned
    oracle, whose excision chain is the REGISTERED q_verbatim_excise
    oracle's CTE text verbatim (anchored slice)."""
    from hadoop_distexec_spark.operators.llmops import (
        EXCISE_IMPACT_ORACLE,
        VERBATIM_EXCISE_ORACLE,
        excise_impact,
    )

    specs = registry.specs()
    assert "q_excise_impact" in specs
    assert specs["q_excise_impact"].oracle == EXCISE_IMPACT_ORACLE
    assert specs["q_excise_impact"].fn is excise_impact
    chain = VERBATIM_EXCISE_ORACLE[: VERBATIM_EXCISE_ORACLE.index("SELECT b.doc_id")]
    assert chain.rstrip().rstrip(")").rstrip() in EXCISE_IMPACT_ORACLE


def test_excision_family_degenerate_docs(spark, tmp_path):
    """ADVICE r11 #2's class of nit, preempted for the whole excision
    family: NULL text NULL-propagates through tokenization and the
    len() filters identically in both engines (dropped everywhere);
    empty and whitespace-only text tokenize to the single-empty-token
    array [''] on BOTH sides (Spark split == DuckDB
    regexp_split_to_array) and survive as untouched 1-token rows in the
    token-granularity transforms, while the newline splitter's
    trim+length filter drops them. Pinned by bit-exact engine agreement
    on a planted degenerate fixture for all six family members."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        DECONTAM_EXCISE_ORACLE,
        EXCISE_IMPACT_ORACLE,
        INTRADOC_EXCISE_ORACLE,
        LINE_EXCISE_NEWLINE_ORACLE,
        LINE_EXCISE_ORACLE,
        VERBATIM_EXCISE_ORACLE,
        decontam_excise,
        excise_impact,
        intradoc_excise,
        line_excise,
        line_excise_newline,
        verbatim_excise,
    )

    docs = [
        (1, "web", None),
        (2, "web", ""),
        (3, "web", "   "),
        (4, "web", "a b c a b c d"),  # control with an intra-doc repeat
        (5, "web", "x y z w v u t s"),  # clean control
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "text": pa.array([d[2] for d in docs]),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    cases = [
        ("verbatim", verbatim_excise, VERBATIM_EXCISE_ORACLE, [2, 3, 4, 5]),
        ("line", line_excise, LINE_EXCISE_ORACLE, [2, 3, 4, 5]),
        ("line_nl", line_excise_newline, LINE_EXCISE_NEWLINE_ORACLE, [4, 5]),
        ("decontam", decontam_excise, DECONTAM_EXCISE_ORACLE, [2, 3, 4, 5]),
        ("intradoc", intradoc_excise, INTRADOC_EXCISE_ORACLE, [2, 3, 4, 5]),
        ("impact", excise_impact, EXCISE_IMPACT_ORACLE, ["web"]),
    ]
    for name, fn, osql, expect_keys in cases:
        srows = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
        orows = sorted(tuple(r) for r in con.execute(osql).fetchall())
        assert srows == orows, f"{name}: engines disagree on degenerate docs"
        assert [r[0] for r in srows] == expect_keys, f"{name}: row keys"
    con.close()


# ---------------------------------------------------------------------------
# r12 wave 4: q_pps_sample — exact-K weighted sampling without
# replacement (registered same-round after these gates went green)
# ---------------------------------------------------------------------------


def _brute_pps(sf_dir: str):
    """Independent recompute of the two-level systematic PPS: md5
    buckets, largest-remainder quota allocation, md5-order weight line,
    thresholds r + j*stride within each bucket."""
    import collections
    import hashlib

    import duckdb as dk

    from hadoop_distexec_spark.operators.llmops import PPS_BUCKETS, PPS_K

    h60 = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    rows = dk.sql(
        f"SELECT doc_id, source, n_chars FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    per_source = collections.defaultdict(list)
    for d, s, w in rows:
        per_source[s].append((d, int(w)))
    out = {}
    for s, docs in per_source.items():
        total = sum(w for _, w in docs)
        if total < PPS_K:
            for d, w in docs:
                if w >= 1:
                    out[d] = (s, w, 1)
            continue
        buckets = collections.defaultdict(list)
        for d, w in docs:
            buckets[h60(f"ppsb:{d}") % PPS_BUCKETS].append((d, w))
        bws = {
            b: sum(w for _, w in v)
            for b, v in buckets.items()
            if sum(w for _, w in v) >= 1
        }
        base = {b: bw * PPS_K // total for b, bw in bws.items()}
        rem = {b: bw * PPS_K % total for b, bw in bws.items()}
        leftover = PPS_K - sum(base.values())
        kb = dict(base)
        for b in sorted(bws, key=lambda b: (-rem[b], b))[:leftover]:
            kb[b] += 1
        for b, k in kb.items():
            if k < 1:
                continue
            stride = bws[b] // k
            r = 1 + h60(f"ppsr:{s}:{b}") % stride
            g = lambda x: 0 if x < r else min((x - r) // stride + 1, k)  # noqa: E731
            cum = 0
            for d, w in sorted(
                buckets[b], key=lambda dw: (h60(f"ppsu:{dw[0]}"), dw[0])
            ):
                n = g(cum + w) - g(cum)
                cum += w
                if n >= 1:
                    out[d] = (s, w, n)
    return out


def test_pps_sample_brute_force(spark):
    from hadoop_distexec_spark.operators.llmops import q_pps_sample

    got = {
        r["doc_id"]: (r["source"], r["weight"], r["n_picks"])
        for r in q_pps_sample(spark, SF_SMALL).collect()
    }
    assert got == _brute_pps(SF_SMALL)
    assert got  # non-vacuous


def test_pps_sample_exact_k_law(spark):
    """The contract the op exists for: every source with total weight
    >= PPS_K yields EXACTLY PPS_K picks (sum of n_picks) — the
    largest-remainder allocation and the in-bucket threshold arithmetic
    are exact, not approximate."""
    import collections

    from hadoop_distexec_spark.operators.llmops import PPS_K, q_pps_sample

    per = collections.Counter()
    for r in q_pps_sample(spark, SF_SMALL).collect():
        per[r["source"]] += r["n_picks"]
    assert per and all(k == PPS_K for k in per.values()), dict(per)


def test_pps_sample_oracle_parity(spark):
    """Registration gate: bit-exact at sf0.001 AND sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        PPS_SAMPLE_ORACLE,
        q_pps_sample,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        assert run_pair(spark, "pps_sample", q_pps_sample,
                        PPS_SAMPLE_ORACLE, sf) > 0


def test_pps_sample_planted_laws(spark, tmp_path):
    """Planted laws: a dominant doc (most of its source's weight) is a
    certainty item with n_picks >= 2 (the PPS multi-pick contract); a
    source whose total weight is below PPS_K falls back to
    every-positive-weight-doc-once (zero-weight docs never picked);
    exact-K holds for the dominant source. Oracle agrees bit-exact."""
    import collections

    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        PPS_K,
        PPS_SAMPLE_ORACLE,
        q_pps_sample,
    )
    from tests.oracle_util import compare

    docs = [
        (1, "dom", 100),
        (2, "dom", 1),
        (3, "dom", 1),
        (4, "dom", 1),
        (5, "dom", 1),
        (6, "tiny", 3),
        (7, "tiny", 2),
        (8, "tiny", 0),  # zero weight: never picked, even in fallback
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "n_chars": pa.array([d[2] for d in docs], pa.int64()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    rows = {r["doc_id"]: r for r in q_pps_sample(spark, str(tmp_path)).collect()}
    per = collections.Counter()
    for r in rows.values():
        per[r["source"]] += r["n_picks"]
    assert per["dom"] == PPS_K
    assert rows[1]["n_picks"] >= 2  # certainty multi-pick
    assert per["tiny"] == 2  # fallback: both positive-weight docs, once
    assert rows[6]["n_picks"] == 1 and rows[7]["n_picks"] == 1
    assert 8 not in rows  # zero weight excluded

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(PPS_SAMPLE_ORACLE).fetchdf()
    con.close()
    compare(
        q_pps_sample(spark, str(tmp_path)).toPandas(), odf, "pps_sample_planted"
    )


def test_r12_wave4_registered():
    from hadoop_distexec_spark.operators.llmops import (
        PPS_SAMPLE_ORACLE,
        q_pps_sample,
    )

    specs = registry.specs()
    assert "q_pps_sample" in specs
    assert specs["q_pps_sample"].oracle == PPS_SAMPLE_ORACLE
    assert specs["q_pps_sample"].fn is q_pps_sample


# ---------------------------------------------------------------------------
# Round-12 wave 5 (draft tiers for r13 registration): t_closeness,
# mix_schedule, knn_label_purity
# ---------------------------------------------------------------------------


def test_t_closeness_draft_oracle_parity(spark):
    """Registration gate: bit-exact DuckDB twin at sf0.001 AND sf0.01."""
    from hadoop_distexec_spark.operators.audits import (
        T_CLOSENESS_ORACLE,
        t_closeness,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(spark, "t_closeness", t_closeness, T_CLOSENESS_ORACLE, sf)
        assert n > 0


def test_t_closeness_planted_spectrum(spark, tmp_path):
    """Hand-computable fixture: a group mirroring the global segment
    distribution lands in bin 0 (t = 0), fully-concentrated groups land
    at t = 500000 ppm (bin 10, at-risk), and the spectrum counts/shares
    are exact. Plus oracle agreement on the same fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.audits import (
        T_CLOSENESS_ORACLE,
        t_closeness,
    )
    from tests.oracle_util import compare

    # QI = (nation, acctbal div 1000). Global segments: 6 A + 6 B.
    rows = (
        [(1, "A", 100.0), (1, "A", 200.0), (1, "B", 300.0), (1, "B", 400.0)]
        + [(2, "A", 100.0)] * 4
        + [(3, "B", 100.0)] * 4
    )
    pq.write_table(
        pa.table(
            {
                "c_nationkey": pa.array([r[0] for r in rows], pa.int64()),
                "c_mktsegment": pa.array([r[1] for r in rows]),
                "c_acctbal": pa.array([r[2] for r in rows], pa.float64()),
            }
        ),
        f"{tmp_path}/customer.parquet",
    )
    got = {r["t_bin"]: r for r in t_closeness(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 10}
    assert (got[0]["n_groups"], got[0]["n_rows"], got[0]["at_risk"]) == (1, 4, False)
    assert (got[10]["n_groups"], got[10]["n_rows"], got[10]["at_risk"]) == (2, 8, True)
    assert got[0]["share_rows_ppm"] == 333333
    assert got[10]["share_rows_ppm"] == 666666

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{tmp_path}/customer.parquet')"
    )
    odf = con.execute(T_CLOSENESS_ORACLE).fetchdf()
    con.close()
    compare(t_closeness(spark, str(tmp_path)).toPandas(), odf, "t_closeness_planted")


def test_t_closeness_triad_row_conservation(spark):
    """Cross-operator law: the t-spectrum's n_rows totals cover every
    customer row exactly once — the same total the k-anonymity spectrum
    reports (shared QI contract)."""
    from hadoop_distexec_spark.operators.audits import k_anonymity, t_closeness

    t_total = sum(
        r["n_rows"] for r in t_closeness(spark, SF_SMALL).collect()
    )
    k_total = sum(
        r["n_rows"] for r in k_anonymity(spark, SF_SMALL).collect()
    )
    assert t_total == k_total > 0


def test_mix_schedule_draft_oracle_parity(spark):
    """Registration gate: bit-exact DuckDB twin at sf0.001 AND sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        MIX_SCHEDULE_ORACLE,
        mix_schedule,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(spark, "mix_schedule", mix_schedule, MIX_SCHEDULE_ORACLE, sf)
        assert n > 0


def test_mix_schedule_laws(spark):
    """Structural laws: steps are dense 1..MIX_HEAD; the schedule is
    stable across shuffle-partition settings (pure per-row arithmetic +
    bounded top-k); over a virtual-time horizon the per-source counts
    track q_mix_temperature's w_ppm proportions (the stride-scheduling
    guarantee — checked via DuckDB over the FULL schedule at 5-sigma)."""
    import duckdb
    import math

    from hadoop_distexec_spark.operators.llmops import (
        MIX_HEAD,
        MIX_SCHEDULE_ORACLE,
        mix_schedule,
    )
    from tests.oracle_util import duckdb_conn

    head = mix_schedule(spark, SF_ORACLE).collect()
    assert [r["step"] for r in head] == list(range(1, MIX_HEAD + 1))
    assert all(
        head[i]["t"] <= head[i + 1]["t"] for i in range(len(head) - 1)
    )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = mix_schedule(spark, SF_ORACLE).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert [tuple(r) for r in again] == [tuple(r) for r in head]

    # proportionality: the full schedule (oracle text minus the head
    # LIMIT) consumed up to a horizon matches w_ppm at 5 sigma
    con = duckdb_conn(SF_ORACLE)
    horizon = 2**60 // 1_000_000  # P(t <= H) ~ w_ppm / 1e6 per doc
    full_sql = (
        MIX_SCHEDULE_ORACLE[: MIX_SCHEDULE_ORACLE.index("head AS (")]
        + f"""per_src AS (
          SELECT source, COUNT(*) AS n_s,
                 SUM(CASE WHEN t <= {horizon} THEN 1 ELSE 0 END) AS n_hit
          FROM sched GROUP BY source)
        SELECT p.source, w.w_ppm, p.n_s, p.n_hit
        FROM per_src p JOIN w ON p.source = w.source"""
    )
    rows = con.execute(full_sql).fetchall()
    con.close()
    assert rows
    for source, w_ppm, n_s, n_hit in rows:
        exp = n_s * min(1.0, (horizon + 1) * w_ppm / 2.0**60)
        assert abs(n_hit - exp) <= 5 * math.sqrt(max(exp, 1.0)) + 5, (
            source, w_ppm, n_s, n_hit, exp,
        )


def test_knn_label_purity_draft_oracle_parity(spark):
    """Registration gate: bit-exact DuckDB twin at sf0.001 AND sf0.01 —
    this is the pin on the double-prefilter slack argument (the oracle
    is the UNFILTERED brute force)."""
    from hadoop_distexec_spark.operators.llmops import (
        KNN_LABEL_PURITY_ORACLE,
        knn_label_purity,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(
            spark, "knn_label_purity", knn_label_purity,
            KNN_LABEL_PURITY_ORACLE, sf,
        )
        assert n > 0


def test_knn_label_purity_batch_invariance(spark):
    """The Arrow batch size decides which rows share a matmul batch; the
    output may not move (per-pair double cosines are batch-independent
    and the slack absorbs rank boundary noise)."""
    from hadoop_distexec_spark.operators.llmops import knn_label_purity

    base = sorted(map(tuple, knn_label_purity(spark, SF_SMALL).collect()))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
        small = sorted(map(tuple, knn_label_purity(spark, SF_SMALL).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert small == base


def test_knn_label_purity_planted(spark, tmp_path):
    """Planted geometry: two orthogonal label clusters plus a zero
    vector. Every probe's neighbors are on-label except the forced
    cross-label tail; the zero vector is neither probe nor candidate;
    self-matches are excluded. Oracle agrees on the fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        KNN_LABEL_PURITY_ORACLE,
        knn_label_purity,
    )
    from tests.oracle_util import compare

    dim = 8
    vecs, labels = [], []
    # label 0: axis-0 cluster; label 1: axis-1 cluster (orthogonal)
    for i in range(6):
        v = [0.0] * dim
        v[0] = 1.0
        v[2] = 0.01 * i  # break ties deterministically
        vecs.append(v)
        labels.append(0)
    for i in range(6):
        v = [0.0] * dim
        v[1] = 1.0
        v[3] = 0.01 * i
        vecs.append(v)
        labels.append(1)
    vecs.append([0.0] * dim)  # zero vector: excluded everywhere
    labels.append(0)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(len(vecs))), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{tmp_path}/embeddings.parquet",
    )
    got = {r["label"]: r for r in knn_label_purity(spark, str(tmp_path)).collect()}
    # 13 vectors -> mod 1 -> every nonzero vector is a probe
    assert got[0]["n_probes"] == 6 and got[1]["n_probes"] == 6
    # each probe sees 11 finite candidates; top-10 = 5 on-label + the
    # orthogonal cluster fills the tail (cosine 0) -> hits = 5 + however
    # many same-label land in the zero-cosine tail ordering; top-1 is
    # always on-label (cosine > 0 only within the cluster)
    assert got[0]["top1_match_ppm"] == 1000000
    assert got[1]["top1_match_ppm"] == 1000000

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )
    odf = con.execute(KNN_LABEL_PURITY_ORACLE).fetchdf()
    con.close()
    compare(
        knn_label_purity(spark, str(tmp_path)).toPandas(), odf,
        "knn_label_purity_planted",
    )


def test_r12_wave5_registered():
    """Wave-5 registration: the three draft tiers carry their
    parity-pinned oracles in the registry; q_mix_schedule's weight CTEs
    are the REGISTERED q_mix_temperature oracle's text verbatim
    (anchored slice — the schedule cannot drift from the weights)."""
    from hadoop_distexec_spark.operators.audits import (
        T_CLOSENESS_ORACLE,
        t_closeness,
    )
    from hadoop_distexec_spark.operators.llmops import (
        KNN_LABEL_PURITY_ORACLE,
        MIX_SCHEDULE_ORACLE,
        MIX_TEMPERATURE_ORACLE,
        knn_label_purity,
        mix_schedule,
    )

    specs = registry.specs()
    for qid, fn, oracle in [
        ("q_t_closeness", t_closeness, T_CLOSENESS_ORACLE),
        ("q_mix_schedule", mix_schedule, MIX_SCHEDULE_ORACLE),
        ("q_knn_label_purity", knn_label_purity, KNN_LABEL_PURITY_ORACLE),
    ]:
        assert qid in specs
        assert specs[qid].oracle == oracle
        assert specs[qid].fn is fn
    w_ctes = MIX_TEMPERATURE_ORACLE[
        MIX_TEMPERATURE_ORACLE.index("WITH per AS") : MIX_TEMPERATURE_ORACLE.rindex(
            "SELECT source, n_docs, n_chars, share_ppm,"
        )
    ]
    assert w_ctes.rstrip() in MIX_SCHEDULE_ORACLE


# ---------------------------------------------------------------------------
# Round-12 wave 6 (draft tiers): quality_dup_lift, ann_mrr
# ---------------------------------------------------------------------------


def test_quality_dup_lift_draft_oracle_parity(spark):
    """Registration gate: bit-exact DuckDB twin at sf0.001 AND sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        QUALITY_DUP_LIFT_ORACLE,
        quality_dup_lift,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(
            spark, "quality_dup_lift", quality_dup_lift,
            QUALITY_DUP_LIFT_ORACLE, sf,
        )
        assert n > 0


def test_quality_dup_lift_planted(spark, tmp_path):
    """Hand-computable 2x2 fixture: a whitespace-variant exact-dup pair
    in the low-uniqueness decile, two unique high-uniqueness docs, a
    NULL-text doc excluded by both engines. Observed 50/50 split with
    perfectly dependent margins -> lift 2.0x in both cells; the
    normalized fingerprint (q_fingerprint's rule) unifies the
    spacing variants. Oracle agrees on the fixture."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        QUALITY_DUP_LIFT_ORACLE,
        quality_dup_lift,
    )
    from tests.oracle_util import compare

    docs = [
        (1, "a a a a"),        # 4 tokens, 1 distinct -> decile 2
        (2, "a  a a a"),       # same normalized fp -> dup family with 1
        (3, "w x y z"),        # decile 10, unique
        (4, "p q r s"),        # decile 10, unique
        (5, None),             # NULL text: excluded in both engines
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    got = {
        (r["uniq_decile"], r["is_dup"]): r
        for r in quality_dup_lift(spark, str(tmp_path)).collect()
    }
    assert set(got) == {(2, True), (10, False)}
    low, high = got[(2, True)], got[(10, False)]
    assert low["n_docs"] == 2 and high["n_docs"] == 2
    assert low["obs_ppm"] == 500000 == high["obs_ppm"]
    # margins: row 2/4, col 2/4 -> exp 250000 -> lift 2.0x
    assert low["exp_ppm"] == 250000 and low["lift_x1000"] == 2000
    assert high["lift_x1000"] == 2000

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(QUALITY_DUP_LIFT_ORACLE).fetchdf()
    con.close()
    compare(
        quality_dup_lift(spark, str(tmp_path)).toPandas(), odf,
        "quality_dup_lift_planted",
    )


def test_quality_dup_lift_conservation(spark):
    """Laws on the natural fixture: cell counts cover every tokenizable
    doc exactly once (vs an independent count), every decile is in
    0..10, and the observed shares sum to 1e6 up to per-cell floor
    truncation."""
    from pyspark.sql import functions as F

    from hadoop_distexec_spark.operators.llmops import quality_dup_lift
    from hadoop_distexec_spark.sources.tables import table

    rows = quality_dup_lift(spark, SF_SMALL).collect()
    n_cells = len(rows)
    total = sum(r["n_docs"] for r in rows)
    expected = (
        table(spark, SF_SMALL, "documents")
        .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 1)
        .count()
    )
    assert total == expected
    assert all(0 <= r["uniq_decile"] <= 10 for r in rows)
    obs_sum = sum(r["obs_ppm"] for r in rows)
    assert 1_000_000 - n_cells <= obs_sum <= 1_000_000


def test_ann_mrr_draft_oracle_parity(spark):
    """Registration gate: bit-exact DuckDB twin at sf0.001 AND sf0.01."""
    from hadoop_distexec_spark.operators.llmops import ANN_MRR_ORACLE, ann_mrr
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(spark, "ann_mrr", ann_mrr, ANN_MRR_ORACLE, sf)
        assert n == 5  # the fixed 5-query probe set


def test_ann_mrr_recall_consistency(spark):
    """Cross-operator laws vs the registered set-overlap eval: a query
    with rr_ppm > 0 must count >= 1 hit in q_recall_eval; rr_ppm =
    1e6 iff ann_rank = 1; ann_rank = 0 iff the true NN is absent from
    q_sim_ivf's rows for that query."""
    from hadoop_distexec_spark.operators.llmops import (
        ann_mrr,
        q_recall_eval,
        q_sim_ivf,
        q_sim_topk,
    )

    mrr = {r["q_id"]: r for r in ann_mrr(spark, SF_SMALL).collect()}
    recall = {r["q_id"]: r for r in q_recall_eval(spark, SF_SMALL).collect()}
    ivf = {}
    for r in q_sim_ivf(spark, SF_SMALL).collect():
        ivf.setdefault(r["q_id"], set()).add(r["c_id"])
    true1 = {
        r["q_id"]: r["c_id"]
        for r in q_sim_topk(spark, SF_SMALL).collect()
        if r["rnk"] == 1
    }
    for q_id, r in mrr.items():
        assert r["true_c"] == true1[q_id]
        if r["rr_ppm"] > 0:
            assert recall[q_id]["hits"] >= 1
        assert (r["rr_ppm"] == 1_000_000) == (r["ann_rank"] == 1)
        assert (r["ann_rank"] == 0) == (
            r["true_c"] not in ivf.get(q_id, set())
        )


def test_knn_label_purity_degenerate_probe_sets(spark, tmp_path):
    """r12 review finding, pinned: an EMPTY embeddings table and a
    sparse-id corpus whose MOD grid holds no probes both return the
    empty frame with the contract schema — no ANSI % 0, no np.stack
    crash — and the GREATEST-guarded oracle agrees."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        KNN_LABEL_PURITY_ORACLE,
        PURITY_TARGET,
        knn_label_purity,
    )
    from tests.oracle_util import compare

    dim = 4

    def write(ids):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        [[1.0] + [0.0] * (dim - 1)] * len(ids),
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([0] * len(ids), pa.int32()),
                }
            ),
            f"{tmp_path}/embeddings.parquet",
        )

    def both():
        sdf = knn_label_purity(spark, str(tmp_path)).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
        )
        odf = con.execute(KNN_LABEL_PURITY_ORACLE).fetchdf()
        con.close()
        return sdf, odf

    # empty table: n_vecs = 0 -> guarded MOD = 1, zero probes
    write([])
    sdf, odf = both()
    assert len(sdf) == 0 and len(odf) == 0
    compare(sdf, odf, "knn_purity_empty")

    # sparse ids: > PURITY_TARGET all-odd ids -> MOD = 2, zero probes
    write(list(range(1, 2 * (PURITY_TARGET + 30), 2)))
    sdf, odf = both()
    assert len(sdf) == 0 and len(odf) == 0
    compare(sdf, odf, "knn_purity_sparse_ids")

    # the guard's hand-written _PURITY_SCHEMA cannot drift from the
    # normal path: same columns, same Spark types (r12 review finding)
    import pyspark.sql.types as T

    from hadoop_distexec_spark.operators.llmops import _PURITY_SCHEMA

    guard_schema = spark.createDataFrame([], _PURITY_SCHEMA).schema
    normal_schema = T.StructType(
        [
            T.StructField(f.name, f.dataType, True)
            for f in knn_label_purity(spark, SF_SMALL).schema.fields
        ]
    )
    assert [(f.name, f.dataType) for f in guard_schema.fields] == [
        (f.name, f.dataType) for f in normal_schema.fields
    ]


# --- randomized cross-checks for the wave-5 arithmetic (the
# test_round4b idiom: small Spark frames, pure-Python brute force) -----------


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),            # nation
            st.sampled_from("ABC"),       # segment
            st.integers(0, 2),            # balance bucket (x1000)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_t_closeness_randomized_brute_force(spark, tmp_path_factory, rows):
    """The ppm-gridded TVD spectrum must match a pure-Python
    re-derivation on ANY table — including single-segment globals,
    singleton groups, and every-group-identical distributions (the
    fixtures never produce all of these)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.audits import (
        T_CLOSE_BIN_PPM,
        T_CLOSE_THRESHOLD_PPM,
        t_closeness,
    )

    tmp = tmp_path_factory.mktemp("tclose")
    pq.write_table(
        pa.table(
            {
                "c_nationkey": pa.array([r[0] for r in rows], pa.int64()),
                "c_mktsegment": pa.array([r[1] for r in rows]),
                "c_acctbal": pa.array(
                    [r[2] * 1000.0 + 1.0 for r in rows], pa.float64()
                ),
            }
        ),
        f"{tmp}/customer.parquet",
    )
    got = {
        r["t_bin"]: (r["n_groups"], r["n_rows"], r["at_risk"], r["share_rows_ppm"])
        for r in t_closeness(spark, str(tmp)).collect()
    }

    # brute force
    from collections import Counter, defaultdict

    seg_tot = Counter(r[1] for r in rows)
    total = len(rows)
    g_share = {v: c * 1_000_000 // total for v, c in seg_tot.items()}
    groups = defaultdict(Counter)
    for n, v, b in rows:
        groups[(n, b)][v] += 1
    spectrum = defaultdict(lambda: [0, 0])
    for cnt in groups.values():
        n_g = sum(cnt.values())
        dev = sum(
            abs(cnt.get(v, 0) * 1_000_000 // n_g - g_share[v]) for v in seg_tot
        )
        t_bin = (dev // 2) // T_CLOSE_BIN_PPM
        spectrum[t_bin][0] += 1
        spectrum[t_bin][1] += n_g
    expect = {
        b: (
            ng,
            nr,
            b >= T_CLOSE_THRESHOLD_PPM // T_CLOSE_BIN_PPM,
            nr * 1_000_000 // total,
        )
        for b, (ng, nr) in spectrum.items()
    }
    assert got == expect


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["w", "x", "y"]),
                  st.integers(1, 900)),
        min_size=2,
        max_size=40,
        unique_by=lambda d: d[0],
    )
)
def test_mix_schedule_randomized_brute_force(spark, tmp_path_factory, docs):
    """The schedule head must match a hashlib re-derivation of
    t = md5_60('mix|' || doc_id) div w_ppm on ANY corpus, with the
    weights taken from the registered q_mix_temperature output —
    pinning the hash slice, the div, and the (t, doc_id) order
    independently of both engines."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        MIX_HEAD,
        mix_schedule,
        mix_temperature,
    )

    tmp = tmp_path_factory.mktemp("mixsched")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "source": pa.array([d[1] for d in docs]),
                "n_chars": pa.array([d[2] for d in docs], pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    w = {
        r["source"]: r["w_alpha50_ppm"]
        for r in mix_temperature(spark, str(tmp)).collect()
    }
    expect = []
    for doc_id, source, _ in docs:
        w_ppm = w[source]
        if w_ppm < 1:
            continue
        h = int(hashlib.md5(f"mix|{doc_id}".encode()).hexdigest()[:15], 16)
        expect.append((h // w_ppm, doc_id, source))
    expect.sort()
    expect = [
        (i + 1, doc_id, source, t)
        for i, (t, doc_id, source) in enumerate(expect[:MIX_HEAD])
    ]
    got = [
        (r["step"], r["doc_id"], r["source"], r["t"])
        for r in mix_schedule(spark, str(tmp)).collect()
    ]
    assert got == expect


def test_dq_freshness_draft_oracle_parity(spark):
    """Registration gate: bit-exact DuckDB twin at sf0.001 AND sf0.01."""
    from hadoop_distexec_spark.operators.relational_ext import (
        DQ_FRESHNESS_ORACLE,
        dq_freshness,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(spark, "dq_freshness", dq_freshness, DQ_FRESHNESS_ORACLE, sf)
        assert n > 0


def test_dq_freshness_planted(spark, tmp_path):
    """Hand-computable fixture: the freshest stream has lag 0 (never
    stale), a stream that stopped mid-span carries the exact ppm lag
    share, and a single-type corpus hits the span guard (lag 0 over a
    real span). Oracle agrees on the fixture; event counts conserve."""
    import datetime as dt

    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.relational_ext import (
        DQ_FRESHNESS_ORACLE,
        dq_freshness,
    )
    from tests.oracle_util import compare

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ts(hours):
        return t0 + dt.timedelta(hours=hours)

    rows = [
        ("view", ts(0)), ("view", ts(100)),       # freshest: lag 0
        ("purchase", ts(0)), ("purchase", ts(50)),  # stopped at half-span
        ("click", ts(99)),                          # 1h lag over 100h span
    ]
    pq.write_table(
        pa.table(
            {
                "event_type": pa.array([r[0] for r in rows]),
                "ts": pa.array(
                    [r[1] for r in rows], pa.timestamp("us")
                ),
            }
        ),
        f"{tmp_path}/events.parquet",
    )
    got = {r["event_type"]: r for r in dq_freshness(spark, str(tmp_path)).collect()}
    assert got["view"]["lag_us"] == 0 and not got["view"]["stale"]
    assert got["purchase"]["lag_share_ppm"] == 500000 and got["purchase"]["stale"]
    assert got["click"]["lag_share_ppm"] == 10000 and not got["click"]["stale"]
    assert sum(r["n_events"] for r in got.values()) == len(rows)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    odf = con.execute(DQ_FRESHNESS_ORACLE).fetchdf()
    con.close()
    compare(dq_freshness(spark, str(tmp_path)).toPandas(), odf, "dq_freshness_planted")

    # single-instant corpus: span 0 hits the GREATEST guard in both
    # engines (lag 0, share 0, never stale) instead of dividing by zero
    pq.write_table(
        pa.table(
            {
                "event_type": pa.array(["view"]),
                "ts": pa.array([t0], pa.timestamp("us")),
            }
        ),
        f"{tmp_path}/events.parquet",
    )
    one = dq_freshness(spark, str(tmp_path)).collect()
    assert len(one) == 1
    assert (one[0]["lag_us"], one[0]["lag_share_ppm"], one[0]["stale"]) == (0, 0, False)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    odf1 = con.execute(DQ_FRESHNESS_ORACLE).fetchdf()
    con.close()
    compare(dq_freshness(spark, str(tmp_path)).toPandas(), odf1, "dq_freshness_instant")


def test_context_fill_draft_oracle_parity(spark):
    """Registration gate: bit-exact DuckDB twin at sf0.001 AND sf0.01."""
    from hadoop_distexec_spark.operators.llmops import (
        CONTEXT_FILL_ORACLE,
        CTX_LENGTHS,
        context_fill,
    )
    from tests.oracle_util import run_pair

    for sf in (SF_SMALL, SF_ORACLE):
        n = run_pair(spark, "context_fill", context_fill, CONTEXT_FILL_ORACLE, sf)
        assert n == len(CTX_LENGTHS)


def test_context_fill_laws(spark, tmp_path):
    """Monotone laws on the natural fixture (docs_fit and tokens_kept
    nondecreasing in ctx; trunc_ppm nonincreasing; kept <= total;
    fit <= n_docs) plus a hand-computable fixture with a NULL-text doc
    excluded identically in both engines."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.operators.llmops import (
        CONTEXT_FILL_ORACLE,
        context_fill,
    )
    from tests.oracle_util import compare

    rows = context_fill(spark, SF_SMALL).collect()
    for a, b in zip(rows, rows[1:]):
        assert a["ctx"] < b["ctx"]
        assert a["docs_fit"] <= b["docs_fit"] <= b["n_docs"]
        assert a["tokens_kept"] <= b["tokens_kept"] <= b["tokens_total"]
        assert a["trunc_ppm"] >= b["trunc_ppm"]

    docs = [
        (1, "one two three"),               # 3 tokens: fits everywhere
        (2, " ".join(["t"] * 600)),         # 600: truncated at 512 only
        (3, None),                          # excluded in both engines
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    got = {r["ctx"]: r for r in context_fill(spark, str(tmp_path)).collect()}
    assert got[512]["n_docs"] == 2
    assert got[512]["docs_fit"] == 1 and got[1024]["docs_fit"] == 2
    assert got[512]["tokens_kept"] == 3 + 512
    assert got[512]["trunc_ppm"] == (603 - 515) * 1_000_000 // 603
    assert got[1024]["trunc_ppm"] == 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(CONTEXT_FILL_ORACLE).fetchdf()
    con.close()
    compare(context_fill(spark, str(tmp_path)).toPandas(), odf, "context_fill_planted")


# ---------------------------------------------------------------------------
# ADVICE r11 degenerate-input pins (optimization round: correctness items
# only). Both flagged divergences were probed and do NOT manifest — these
# planted fixtures pin that agreement so a future edit cannot silently
# introduce the divergence the advisor feared.
# ---------------------------------------------------------------------------


def test_gopher_rules_null_and_empty_text_pin(spark, tmp_path):
    """ADVICE r11 #2: NULL-text and empty-text documents must produce
    IDENTICAL rule counts in Spark and the DuckDB twin (the feared
    size(NULL) = -1 vs NULL-propagating CASE divergence does not occur;
    pinned here on a planted fixture with one NULL, one empty, one tiny
    and one normal document)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.registry import specs

    docs = [
        (1, "a normal document with several reasonable words here", "web"),
        (2, None, "web"),
        (3, "", "books"),
        (4, "ok tiny", "books"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
                "source": pa.array([d[2] for d in docs], pa.string()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    spec = specs()["q_gopher_rules"]
    sdf = (
        spec.fn(spark, str(tmp_path))
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(spec.oracle).fetchdf().sort_values("source").reset_index(drop=True)
    con.close()
    assert sdf.equals(odf.astype(sdf.dtypes.to_dict())), (
        f"gopher_rules diverged on NULL/empty text:\nspark:\n{sdf}\noracle:\n{odf}"
    )
    # the NULL and empty docs count as documents and fail the word gates
    web = sdf[sdf.source == "web"].iloc[0]
    assert web["n_docs"] == 2 and web["n_pass"] == 0


def test_embed_threshold_curve_empty_table_pin(spark, tmp_path):
    """ADVICE r11 #3: an EMPTY embeddings table must yield the same empty
    frame from both engines (neither a Spark NULL-div row nor a DuckDB
    div-0 raise — pinned)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_distexec_spark.registry import specs

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.int32()),
            }
        ),
        f"{tmp_path}/embeddings.parquet",
    )
    spec = specs()["q_embed_threshold_curve"]
    sdf = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )
    odf = con.execute(spec.oracle).fetchdf()
    con.close()
    assert len(sdf) == 0 and len(odf) == 0
    assert list(sdf.columns) == list(odf.columns)
