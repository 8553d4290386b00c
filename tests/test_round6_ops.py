"""Round-6 invariants: registration of the r05-prepped operators, the
NULL-embedding parity gap from ADVICE r05 #1, the helper-column collision
guard from ADVICE r05 #4, and the q_tfidf_pairs de-hinting plan gate from
VERDICT r05 what's-wrong #1."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_distexec_spark import registry
from hadoop_distexec_spark.operators import llmops
from hadoop_distexec_spark.sources.tables import table
from tests.conftest import SF_ORACLE, SF_SMALL

SPECS = registry.specs()

NEW_IDS = [
    "q_uniform_sample",
    "q_embed_norm_stats",
    "q_source_top_tokens",
    "q_key_skew_profile",
]


def test_round6_ids_registered_with_oracles():
    """The four r05-prep APIs are registered queries, each carrying the
    parity-proven DuckDB oracle."""
    for qid in NEW_IDS:
        assert qid in SPECS, qid
        assert SPECS[qid].oracle is not None, qid


def test_embed_norm_stats_null_and_empty_embedding_parity(spark):
    """ADVICE r05 #1: a NULL embedding must land at norm 0 (a degenerate
    vector) in BOTH engines — Spark's aggregate() over a NULL array is
    NULL and was silently diverging from the oracle's COALESCEd scalar
    subquery. Parity on a synthetic frame with NULL, empty, zero and
    normal vectors."""
    pdf = pd.DataFrame(
        {
            "label": ["a", "a", "b", "b", "c"],
            "embedding": [[3.0, 4.0], None, [], [0.0, 0.0], [1.5]],
        }
    )
    sdf = spark.createDataFrame(
        pdf.where(pd.notnull(pdf), None), "label string, embedding array<double>"
    )
    got = llmops._embed_norm_stats_frame(sdf).toPandas()

    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.execute(llmops.EMBED_NORM_STATS_ORACLE).fetchdf()
    con.close()

    from tests.oracle_util import compare

    compare(got, want, "embed_norm_stats_null")
    by = {r["label"]: r for _, r in got.iterrows()}
    assert by["a"]["n_zero"] == 1 and by["a"]["n_vecs"] == 2  # NULL counted
    assert by["a"]["min_norm2"] == 0.0 and by["a"]["max_norm2"] == 25.0
    assert by["b"]["n_zero"] == 2  # empty + all-zero both degenerate


def test_uniform_sample_k_helper_column_collision(spark):
    """ADVICE r05 #4: a caller column named like the sampler's helper
    (_usk_<salt>) must survive the sample with its data intact."""
    df = spark.createDataFrame(
        [(i, f"keep-{i}") for i in range(40)], "doc_id int, _usk_usk string"
    )
    out = llmops.uniform_sample_k(df, 10, "doc_id")
    rows = out.collect()
    assert len(rows) == 10
    assert set(out.columns) == {"doc_id", "_usk_usk"}
    for r in rows:
        assert r["_usk_usk"] == f"keep-{r['doc_id']}"
    # same sampled ids as an untouched frame: the helper rename must not
    # change the md5 order
    plain = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id int"
    )
    want = {r["doc_id"] for r in llmops.uniform_sample_k(plain, 10, "doc_id").collect()}
    assert {r["doc_id"] for r in rows} == want


def test_tfidf_pairs_no_static_broadcast_on_corpus_sized_sides(spark):
    """VERDICT r05 what's-wrong #1: the per-document norm tables and the
    df-capped vocabulary grow with the corpus — static broadcast hints on
    them force a driver collect that OOMs at scale. The analyzed plan may
    carry at most the single 1-row n_docs broadcast hint; AQE sizes the
    rest at runtime.

    Gated on the query's lazy steps composed uncached: the registered query
    returns an eager localCheckpoint whose analyzed plan is a truncated
    LogicalRDD that can never contain a ResolvedHint — asserting on it
    would be vacuous (re-adding every hint would keep it green)."""
    w = llmops._tfidf_weights(llmops._tfidf_counts(spark, SF_SMALL))
    df = llmops._tfidf_cosine(w)
    plan = df._jdf.queryExecution().analyzed().toString()
    lines = plan.splitlines()
    hint_idx = [i for i, ln in enumerate(lines) if "ResolvedHint" in ln]
    assert hint_idx, "expected the 1-row n_docs broadcast hint in the plan"
    # the w subtree (which carries the one n_docs hint) appears in four
    # plan legs, so the SAME hint shows up multiple times — every
    # occurrence must wrap the 1-row n_docs aggregate, and nothing else
    # (dfreq / per-doc norms / posting lists) may carry a hint
    for i in hint_idx:
        below = "\n".join(lines[i + 1 : i + 3])
        assert "n_docs" in below, (
            f"broadcast hint on a non-n_docs side at plan line {i}:\n{plan}"
        )


def test_r07_prep_draft_oracles_parity(spark):
    """The draft DuckDB twins for the r07-prep APIs must already match
    the functions bit-for-bit at sf0.01 — registration becomes a
    two-line diff with zero correctness risk (the r05->r06 pattern)."""
    from tests.oracle_util import compare, duckdb_conn

    con = duckdb_conn(SF_ORACLE)
    for name, fn, oracle in [
        ("source_overlap", llmops.source_overlap, llmops.SOURCE_OVERLAP_ORACLE),
        ("token_freq_spectrum", llmops.token_freq_spectrum, llmops.TOKEN_FREQ_SPECTRUM_ORACLE),
        ("shard_plan", llmops.shard_plan, llmops.SHARD_PLAN_ORACLE),
        ("hapax_docs", llmops.hapax_docs, llmops.HAPAX_DOCS_ORACLE),
        ("quality_filter_funnel", llmops.quality_filter_funnel, llmops.QUALITY_FILTER_FUNNEL_ORACLE),
        ("dup_source_matrix", llmops.dup_source_matrix, llmops.DUP_SOURCE_MATRIX_ORACLE),
        ("pii_source_audit", llmops.pii_source_audit, llmops._pii_source_audit_oracle()),
        ("embed_dim_stats", llmops.embed_dim_stats, llmops.EMBED_DIM_STATS_ORACLE),
        ("token_fertility", llmops.token_fertility, llmops.TOKEN_FERTILITY_ORACLE),
    ]:
        compare(fn(spark, SF_ORACLE).toPandas(), con.execute(oracle).fetchdf(), name)
    con.close()


def test_source_overlap_bounds(spark):
    """0 <= jaccard <= containment <= 1, n_common <= min(n_a, n_b), and
    pairs are keyed source_a < source_b exactly once."""
    rows = llmops.source_overlap(spark, SF_SMALL).collect()
    assert rows, "fixture has no overlapping source pair — vacuous"
    seen = set()
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert (r["source_a"], r["source_b"]) not in seen
        seen.add((r["source_a"], r["source_b"]))
        assert 0 < r["n_common"] <= min(r["n_a"], r["n_b"])
        assert 0.0 < r["jaccard"] <= r["containment"] <= 1.0


def test_token_freq_spectrum_partitions_vocabulary(spark):
    """Bucket token/occurrence totals must equal the corpus vocabulary
    size and corpus token count; every count c in bucket b satisfies
    2^b <= c < 2^(b+1)."""
    from pyspark.sql import functions as F

    from hadoop_distexec_spark.operators.llmops import _tokens
    from hadoop_distexec_spark.sources.tables import table

    docs = table(spark, SF_SMALL, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok")).where(
        F.length("tok") > 0
    )
    n_occ = toks.count()
    n_vocab = toks.distinct().count()
    rows = llmops.token_freq_spectrum(spark, SF_SMALL).collect()
    assert sum(r["n_tokens"] for r in rows) == n_vocab
    assert sum(r["n_occurrences"] for r in rows) == n_occ
    for r in rows:
        assert r["lo"] == 2 ** r["bucket"] and r["hi"] == 2 ** (r["bucket"] + 1) - 1
        # bucket mean occupancy must sit inside the bucket's range
        assert r["lo"] * r["n_tokens"] <= r["n_occurrences"] <= r["hi"] * r["n_tokens"]


def test_shard_plan_covers_corpus(spark):
    """Shard doc counts sum to the corpus; every shard id in range; skew
    factors average to ~1 weighted by shard count."""
    from hadoop_distexec_spark.sources.tables import table

    n_docs = table(spark, SF_SMALL, "documents").count()
    rows = llmops.shard_plan(spark, SF_SMALL).collect()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert all(0 <= r["shard"] < llmops.N_SHARDS for r in rows)
    mean = sum(r["n_chars"] for r in rows) / len(rows)
    for r in rows:
        assert abs(r["skew_factor"] - r["n_chars"] / mean) < 1e-9


def test_hapax_docs_matches_python(spark):
    """Brute-force recompute of hapax counts on the small fixture."""
    from collections import Counter

    from hadoop_distexec_spark.sources.tables import table

    rows = table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    per_doc = {r["doc_id"]: [t for t in r["text"].strip().split() if t] for r in rows}
    glob = Counter(t for toks in per_doc.values() for t in toks)
    got = llmops.hapax_docs(spark, SF_SMALL).collect()
    for r in got:
        toks = per_doc[r["doc_id"]]
        want_hapax = sum(1 for t in toks if glob[t] == 1)
        assert r["n_tokens"] == len(toks)
        assert r["n_hapax"] == want_hapax
        assert abs(r["hapax_ratio"] - want_hapax / len(toks)) < 1e-12
    # verify the top-k ordering is the true maximal ratio set
    all_ratio = sorted(
        (
            (sum(1 for t in toks if glob[t] == 1) / len(toks), d)
            for d, toks in per_doc.items()
            if toks
        ),
        key=lambda x: (-x[0], x[1]),
    )
    want_top = [d for _, d in all_ratio[: len(got)]]
    assert [r["doc_id"] for r in got] == want_top


def test_quality_filter_funnel_is_monotone(spark):
    """Survivor counts are non-increasing through the stages, drops are
    consistent, yields in (0, 1], and every stage is NON-VACUOUS on the
    oracle fixture (each stage drops at least one doc — a funnel whose
    stage never fires proves nothing)."""
    rows = {r["stage"]: r for r in llmops.quality_filter_funnel(spark, SF_ORACLE).collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4]
    prev = None
    for s in range(5):
        r = rows[s]
        if prev is not None:
            assert r["n_docs"] <= prev["n_docs"]
            assert r["n_dropped"] == prev["n_docs"] - r["n_docs"]
            assert r["n_dropped"] > 0, f"stage {s} ({r['label']}) is vacuous"
        assert 0 < r["cum_yield"] <= 1.0
        assert abs(r["cum_yield"] - r["n_docs"] / rows[0]["n_docs"]) < 1e-12
        prev = r


def test_dup_source_matrix_matches_enumeration(spark):
    """The combinatorial-formula pair counts must equal brute-force pair
    enumeration on the small fixture."""
    from collections import Counter, defaultdict

    from hadoop_distexec_spark.sources.tables import table

    rows = table(spark, SF_SMALL, "documents").select("doc_id", "text", "source").collect()
    blocks = defaultdict(list)
    for r in rows:
        blocks[r["text"][:64]].append((r["doc_id"], r["source"]))
    want = Counter()
    want_blocks = defaultdict(set)
    for blk, members in blocks.items():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                key = tuple(sorted((members[i][1], members[j][1])))
                want[key] += 1
                want_blocks[key].add(blk)
    got = llmops.dup_source_matrix(spark, SF_SMALL).collect()
    assert {(r["source_a"], r["source_b"]): r["n_dup_pairs"] for r in got} == dict(want)
    for r in got:
        assert r["n_blocks"] == len(want_blocks[(r["source_a"], r["source_b"])])


def test_pii_source_audit_consistent_with_redactor(spark):
    """The audit's per-source totals must equal q_pii_redact's per-doc
    counts rolled up — the two can never drift (shared patterns)."""
    from pyspark.sql import functions as F

    from hadoop_distexec_spark.sources.tables import table

    red = SPECS["q_pii_redact"].fn(spark, SF_SMALL)
    src = table(spark, SF_SMALL, "documents").select("doc_id", "source")
    want = {
        r["source"]: r
        for r in red.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_emails").alias("e"),
            F.sum("n_phones").alias("p"),
            F.sum("n_longnums").alias("l"),
        )
        .collect()
    }
    got = llmops.pii_source_audit(spark, SF_SMALL).collect()
    assert {r["source"] for r in got} == set(want)
    for r in got:
        w = want[r["source"]]
        assert (r["n_emails"], r["n_phones"], r["n_longnums"]) == (w["e"], w["p"], w["l"])
        assert 0 <= r["n_docs_with_pii"] <= r["n_docs"]
        assert abs(r["pii_doc_rate"] - r["n_docs_with_pii"] / r["n_docs"]) < 1e-12


def test_embed_dim_stats_matches_python(spark):
    """Brute-force per-dimension recompute on the small fixture; one row
    per dimension, counts equal the vector count."""
    import math

    from hadoop_distexec_spark.sources.tables import table

    vecs = [
        r["embedding"]
        for r in table(spark, SF_SMALL, "embeddings").select("embedding").collect()
    ]
    dims = len(vecs[0])
    rows = {r["dim"]: r for r in llmops.embed_dim_stats(spark, SF_SMALL).collect()}
    assert sorted(rows) == list(range(dims))
    for d in range(dims):
        xs = [round(float(v[d]), 10) for v in vecs]
        g = rows[d]
        assert g["n"] == len(xs)
        assert math.isclose(g["mean_x"], sum(xs) / len(xs), rel_tol=1e-9)
        assert g["min_x"] == min(xs) and g["max_x"] == max(xs)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_r07_prep_plan_shapes(spark):
    """The docstring shape claims, gated on the executed plan:
    hapax_docs' top-k is TakeOrderedAndProject (no global sort);
    shard_plan and token_freq_spectrum carry no joins except shard_plan's
    single 1-row broadcast; dup_source_matrix has no nested-loop join
    (the combinatorial formula replaces pair enumeration)."""
    # pre-checkpoint builder frames (the public fns return eager
    # localCheckpoints whose plans are truncated LogicalRDD scans);
    # driven through the SAME builders production uses, so the gates
    # can't drift from the real plans
    tokc = llmops._hapax_tokc(spark, SF_SMALL)
    p = _plan(llmops._hapax_docs_frame(tokc, llmops.HAPAX_TOPN))
    assert "TakeOrderedAndProject" in p and "Sort [" not in p.split("TakeOrderedAndProject")[0]

    # source_overlap: corpus-sized sides must carry NO static broadcast
    # hint (the q_tfidf_pairs OOM-at-scale rule) and the pair join must
    # be an equi-join on shingle, never a nested loop
    ss = llmops._source_overlap_ss(spark, SF_SMALL)
    ovl = llmops._source_overlap_frame(ss)
    analyzed = ovl._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    p = _plan(ovl)
    assert "BroadcastNestedLoopJoin" not in p, p

    p = _plan(llmops.token_freq_spectrum(spark, SF_SMALL))
    assert "Join" not in p, p

    p = _plan(llmops.shard_plan(spark, SF_SMALL))
    assert p.count("Join") == 1 and "BroadcastNestedLoopJoin" in p  # 1-row mean crossJoin

    # token_fertility: the doc_id join and source agg must be hint-free
    # equi-joins (corpus-sized sides stay AQE-sized)
    fert = llmops.token_fertility(spark, SF_SMALL)
    assert "ResolvedHint" not in fert._jdf.queryExecution().analyzed().toString()
    p = _plan(fert)
    assert "BroadcastNestedLoopJoin" not in p, p

    p = _plan(llmops.dup_source_matrix(spark, SF_SMALL))
    assert "NestedLoop" not in p.replace("BroadcastNestedLoopJoin", "") and (
        "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p
    )
    assert "BroadcastNestedLoopJoin" not in p, "pair join must be an equi-join on blk"


def test_recall_eval_mod_is_corpus_derived(spark):
    """VERDICT r05 next-round #6: the truth-sample modulus must derive
    from corpus size (fixed sampled-truth budget), not a hand-edited
    constant — both engines compute it from the same COUNT."""
    n_small = table(spark, SF_SMALL, "documents").count()
    n_oracle = table(spark, SF_ORACLE, "documents").count()
    assert llmops._truth_sample_mod(n_small) >= 1
    # monotone: a bigger corpus never gets a smaller modulus
    assert llmops._truth_sample_mod(n_oracle) >= llmops._truth_sample_mod(n_small)
    # budget respected: sampled docs stay near the target
    for n in (n_small, n_oracle, 10**6, 10**9):
        mod = llmops._truth_sample_mod(n)
        assert n / mod <= 2 * llmops.TRUTH_SAMPLE_TARGET_DOCS


def test_stream_dim_join_prep_parity_and_batch_equivalence(spark):
    """r07-prep: the stream-static dim join runs through the real
    streaming runtime, must equal its batch twin (asserted inside the
    op), and its returned frame must match the DuckDB twin bit-for-bit
    at sf0.01."""
    from hadoop_distexec_spark.streaming.windows import (
        STREAM_DIM_JOIN_ORACLE,
        stream_dim_join_check,
    )
    from tests.oracle_util import compare, duckdb_conn

    got = stream_dim_join_check(spark, SF_ORACLE).toPandas()
    con = duckdb_conn(SF_ORACLE)
    want = con.execute(STREAM_DIM_JOIN_ORACLE).fetchdf()
    con.close()
    compare(got, want, "stream_dim_join")
    assert len(got) > 1, "fixture joins to a single nation — vacuous"


def test_sim_quantized_recall_parity_and_bounds(spark):
    """r07-prep: quantized-ANN recall matches its DuckDB twin bit-for-bit
    at sf0.01, and the recall values are sane — one row per query,
    0 <= n_hits <= k, and int8 quantization of 64-dim vectors should not
    destroy the ranking (mean recall well above chance)."""
    from tests.oracle_util import compare, duckdb_conn

    got = llmops.sim_quantized_recall(spark, SF_ORACLE)
    pdf = got.toPandas()
    con = duckdb_conn(SF_ORACLE)
    want = con.execute(llmops.SIM_QUANTIZED_RECALL_ORACLE).fetchdf()
    con.close()
    compare(pdf, want, "sim_quantized_recall")
    assert len(pdf) == 5  # one row per query vector
    assert ((pdf["n_hits"] >= 0) & (pdf["n_hits"] <= pdf["k"])).all()
    assert pdf["recall"].mean() > 0.5, (
        f"int8 quantization should preserve most of the top-k: {pdf}"
    )


def test_token_fertility_bounds_and_consistency(spark):
    """Every word is at least one token and at most its char count, so
    per source: n_words <= n_tokens <= n_syms, hence fertility >= 1 and
    chars_per_token >= 1; and the per-source totals must equal
    q_bpe_apply's hash-green per-doc totals re-aggregated by source."""
    fert = llmops.token_fertility(spark, SF_SMALL).toPandas()
    assert len(fert) > 0
    assert (fert.n_words <= fert.n_tokens).all()
    assert (fert.n_tokens <= fert.n_syms).all()
    assert (fert.fertility >= 1.0).all()
    assert (fert.chars_per_token >= 1.0).all()

    src = table(spark, SF_SMALL, "documents").select("doc_id", "source")
    ref = (
        llmops.q_bpe_apply(spark, SF_SMALL)
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_syms").alias("n_syms"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .toPandas()
    )
    m = fert.merge(ref, on="source", suffixes=("", "_ref"))
    assert len(m) == len(fert) == len(ref)
    for c in ["n_docs", "n_words", "n_syms", "n_tokens"]:
        assert (m[c] == m[f"{c}_ref"]).all(), c
