"""Invariant tests for the round-2 operator additions — properties the
oracle hash-compare can't express (cross-query consistency, bounds)."""

from pyspark.sql import functions as F

from hadoop_distexec_spark import registry
from tests.conftest import SF_ORACLE

SPECS = registry.specs()


def _run(spark, qid):
    return SPECS[qid].fn(spark, SF_ORACLE)


def test_sessionize_conserves_events(spark):
    """Session event counts must sum to the event-log row count, and every
    session must be non-empty with start <= end."""
    from hadoop_distexec_spark.sources.tables import table

    sess = _run(spark, "q_sessionize")
    total = table(spark, SF_ORACLE, "events").count()
    agg = sess.agg(
        F.sum("n_events").alias("n"),
        F.min(F.col("session_end_us") - F.col("session_start_us")).alias("min_span"),
        F.min("n_events").alias("min_events"),
    ).collect()[0]
    assert agg["n"] == total
    assert agg["min_events"] >= 1
    assert agg["min_span"] >= 0


def test_latest_by_key_one_row_per_user(spark):
    latest = _run(spark, "q_latest_by_key")
    assert latest.count() == latest.select("user_id").distinct().count()


def test_decontam_never_flags_eval_docs(spark):
    from hadoop_distexec_spark.operators.llmops import DECONTAM_MOD

    out = _run(spark, "q_decontam")
    assert out.filter(F.col("doc_id") % DECONTAM_MOD == 0).count() == 0
    # contamination is a ratio of counted shingles: always in (0, 1]
    bounds = out.agg(
        F.min("contamination").alias("lo"), F.max("contamination").alias("hi")
    ).collect()[0]
    assert 0 < bounds["lo"] and bounds["hi"] <= 1.0


def test_dedup_incremental_only_new_batch(spark):
    from hadoop_distexec_spark.operators.llmops import INCR_NEW_SOURCE
    from hadoop_distexec_spark.sources.tables import table

    out = _run(spark, "q_dedup_incremental")
    docs = table(spark, SF_ORACLE, "documents").select("doc_id", "source")
    joined = out.join(docs, "doc_id")
    assert joined.filter(F.col("source") != INCR_NEW_SOURCE).count() == 0
    # best-match semantics: at most one row per new doc
    assert out.count() == out.select("doc_id").distinct().count()


def test_embed_quantize_bounds(spark):
    """Quantized values live in [-127, 127]; checksum and norm must obey
    the implied bounds; scale is positive."""
    out = _run(spark, "q_embed_quantize")
    chk = out.filter(
        (F.abs(F.col("checksum")) > 127 * F.col("n_dims"))
        | (F.col("q_norm2") > 127 * 127 * F.col("n_dims"))
        | (F.col("q_norm2") < 0)
        | (F.col("scale") <= 0)
    )
    assert chk.count() == 0


def test_token_entropy_bounds(spark):
    """0 <= entropy <= ln(n_unique) (uniform bound), and single-token docs
    have exactly zero entropy."""
    out = _run(spark, "q_token_entropy")
    bad = out.filter(
        (F.col("entropy") < -1e-9)
        | (F.col("entropy") > F.log(F.col("n_unique").cast("double")) + 1e-9)
    )
    assert bad.count() == 0
    assert out.filter((F.col("n_unique") == 1) & (F.col("entropy") != 0.0)).count() == 0


def test_tfidf_ranks_contiguous(spark):
    """Ranks per doc are 1..k with no gaps."""
    out = _run(spark, "q_tfidf")
    agg = out.groupBy("doc_id").agg(
        F.min("rnk").alias("lo"), F.max("rnk").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    assert agg.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0


def test_sample_stratified_rates(spark):
    """The en stratum samples at ~2.5x the default stratum rate (0.5 vs
    0.2); assert the realized rates land in generous windows."""
    from hadoop_distexec_spark.sources.tables import table

    out = _run(spark, "q_sample_stratified")
    docs = table(spark, SF_ORACLE, "documents")
    tot = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    got = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    en_rate = got.get("en", 0) / tot["en"]
    rest_rate = sum(v for k, v in got.items() if k != "en") / sum(
        v for k, v in tot.items() if k != "en"
    )
    assert 0.35 <= en_rate <= 0.65
    assert 0.1 <= rest_rate <= 0.3


def test_range_join_bucketed_matches_inequality_form(spark):
    a = sorted(map(tuple, _run(spark, "q_range_join").collect()))
    b = sorted(map(tuple, _run(spark, "q_range_join_bucketed").collect()))
    assert a == b


def test_rag_retrieval_hydrates_topk(spark):
    from hadoop_distexec_spark.operators.llmops import RAG_TOPN

    out = _run(spark, "q_rag_retrieval")
    per_q = out.groupBy("q_id").count()
    assert per_q.filter(F.col("count") != RAG_TOPN).count() == 0
    assert out.filter(F.col("lang").isNull()).count() == 0


def test_join_bloom_restores_session_confs(spark):
    """q_join_bloom flips broadcast/bloom confs for its own plan; a later
    query in the same session must see the originals back."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    before = {k: spark.conf.get(k) for k in keys}
    out = _run(spark, "q_join_bloom")
    assert out.count() > 0
    assert {k: spark.conf.get(k) for k in keys} == before


def test_dedup_contain_dominates_jaccard(spark):
    """Bounds plus the true containment/Jaccard relation: C >= 2J/(1+J)
    (min(|A|,|B|) <= (|A|+|B|)/2 = (U+∩)/2), so only pairs with
    J >= TH/(2-TH) are *guaranteed* to clear the containment threshold —
    a pair with J in [0.1, TH/(2-TH)) may legitimately be absent (the
    sf0.1 fixture has such pairs). For pairs present in both lists,
    containment must dominate jaccard."""
    from hadoop_distexec_spark.operators.llmops import CONTAIN_THRESHOLD

    cont = _run(spark, "q_dedup_contain")
    bounds = cont.agg(
        F.min("containment").alias("lo"), F.max("containment").alias("hi")
    ).collect()[0]
    assert bounds["lo"] >= CONTAIN_THRESHOLD
    assert bounds["hi"] <= 1.0 + 1e-12
    jac = _run(spark, "q_dedup_ngram")
    j_guarantee = CONTAIN_THRESHOLD / (2.0 - CONTAIN_THRESHOLD)
    missing = jac.filter(F.col("jaccard") >= j_guarantee).join(
        cont.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
    )
    assert missing.count() == 0, "pair with guaranteed containment lost"
    both = jac.join(
        cont.select("doc_a", "doc_b", "containment"), ["doc_a", "doc_b"]
    )
    assert both.filter(F.col("containment") < F.col("jaccard")).count() == 0


def test_text_normalize_idempotent_fixture(spark):
    """Normalizing already-normalized text is the identity: re-running the
    normalization expression over a normalized projection must reproduce
    the same fingerprints (guards regex drift)."""
    from hadoop_distexec_spark.sources.tables import table

    docs = table(spark, SF_ORACLE, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )
    once = docs.select(F.md5(F.encode(norm, "UTF-8")).alias("fp1"), norm.alias("text"))
    twice = once.select(
        "fp1",
        F.md5(
            F.encode(
                F.trim(
                    F.regexp_replace(
                        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
                        r"\s+",
                        " ",
                    )
                ),
                "UTF-8",
            )
        ).alias("fp2"),
    )
    assert twice.filter(F.col("fp1") != F.col("fp2")).count() == 0


def test_bm25_scores_positive_and_bounded_topk(spark):
    from hadoop_distexec_spark.operators.llmops import BM25_TOPK

    top = _run(spark, "q_bm25")
    n = top.count()
    assert 0 < n <= BM25_TOPK
    assert top.filter(F.col("score") <= 0).count() == 0


def test_anomaly_zscores_extreme(spark):
    """Every flagged row must actually be >= the threshold, and flagged
    rows must be a small fraction of the event log (sanity on std)."""
    from hadoop_distexec_spark.operators.relational_ext import ANOMALY_Z
    from hadoop_distexec_spark.sources.tables import table

    a = _run(spark, "q_anomaly")
    assert a.filter(F.abs(F.col("z")) < ANOMALY_Z).count() == 0
    total = table(spark, SF_ORACLE, "events").count()
    assert a.count() < 0.05 * total


def test_hll_distinct_error_bound(spark):
    """approx_count_distinct at rsd=0.02 must land inside the query's own
    5% tolerance flag on every group (the flag is what the oracle
    hash-checks as TRUE; HLL++ bias correction makes small-cardinality
    groups near-exact)."""
    r = _run(spark, "q_hll_distinct").collect()
    assert len(r) > 0
    for row in r:
        assert row["exact_custkeys"] > 0
        assert row["within_tol"], (
            f"{row['o_orderpriority']}: sketch outside 5% of "
            f"{row['exact_custkeys']}"
        )


def test_pagerank_invariants(spark):
    """Rank mass conserved (sum == 1), every rank above the (1-d)/N floor,
    node set == edge-endpoint set of the ngram pair graph."""
    pr = _run(spark, "q_pagerank").collect()
    n = len(pr)
    assert n > 0
    total = sum(r["rank"] for r in pr)
    assert abs(total - 1.0) < 1e-9, total
    floor = (1.0 - 0.85) / n
    assert all(r["rank"] >= floor - 1e-12 for r in pr)
    assert all(r["deg"] >= 1 for r in pr)
    edges = _run(spark, "q_dedup_ngram")
    endpoints = set(
        r["doc_id"]
        for r in edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .collect()
    )
    assert set(r["doc_id"] for r in pr) == endpoints


def test_kmeans_invariants(spark):
    """Every vector assigned exactly once to a valid cluster; Lloyd's
    inertia is non-increasing in the iteration count."""
    from hadoop_distexec_spark.operators.llmops import KMEANS_K, kmeans
    from hadoop_distexec_spark.sources.tables import table

    assign = _run(spark, "q_kmeans").toPandas()
    n = table(spark, SF_ORACLE, "embeddings").count()
    assert len(assign) == n
    assert assign["vec_id"].is_unique
    assert assign["cluster"].between(0, KMEANS_K - 1).all()
    assert (assign["sq_dist"] >= 0).all()

    e = table(spark, SF_ORACLE, "embeddings").persist()
    e.count()
    try:
        inertias = []
        for iters in (1, 2, 4):
            a, _ = kmeans(e, iters=iters)
            inertias.append(a.agg(F.sum("sq_dist")).collect()[0][0])
    finally:
        e.unpersist()
    assert inertias[0] >= inertias[1] - 1e-9 >= inertias[2] - 2e-9, inertias


def test_corpus_shuffle_shards_contiguous_and_balanced(spark):
    """pos_in_shard is a contiguous 1..n_s ranking inside each shard; the
    md5 bucketing spreads docs across every shard; the whole corpus is
    covered exactly once."""
    from hadoop_distexec_spark.operators.pipeline import N_SHARDS
    from hadoop_distexec_spark.sources.tables import table

    pdf = _run(spark, "q_corpus_shuffle").toPandas()
    assert len(pdf) == table(spark, SF_ORACLE, "documents").count()
    assert pdf["doc_id"].is_unique
    assert set(pdf["shard"].unique()) == set(range(N_SHARDS))
    for shard, grp in pdf.groupby("shard"):
        assert sorted(grp["pos_in_shard"]) == list(range(1, len(grp) + 1))
        # positions follow the key order (the reproducible epoch order)
        assert grp.sort_values("pos_in_shard")["shuffle_key"].is_monotonic_increasing
    # uniform hash => no shard holds a wildly outsized share
    assert pdf["shard"].value_counts().max() <= 3 * len(pdf) / N_SHARDS


def test_source_stats_consistency(spark):
    """Per-source counts must roll up to the corpus totals, and the
    duplicate rate must agree with q_dedup_exact's grouped view."""
    from hadoop_distexec_spark.sources.tables import table

    stats = _run(spark, "q_source_stats").toPandas()
    docs = table(spark, SF_ORACLE, "documents")
    assert int(stats["n_docs"].sum()) == docs.count()
    assert ((stats["n_unique"] <= stats["n_docs"]) & (stats["n_unique"] >= 1)).all()
    assert stats["dup_rate"].between(0.0, 1.0).all()
    total_unique = (
        docs.select(F.md5(F.encode(F.col("text"), "UTF-8")).alias("h"), "source")
        .distinct()
        .count()
    )
    # distinct (source, hash) pairs == the per-source distinct-hash sum
    assert int(stats["n_unique"].sum()) == total_unique


def test_group_representative_invariants(spark):
    """One row per q_dedup_groups component; the representative is a member
    of its own cluster and the longest one; drop accounting adds up."""
    from hadoop_distexec_spark.sources.tables import table

    reps = _run(spark, "q_group_representative").toPandas()
    groups = _run(spark, "q_dedup_groups").toPandas()
    by_comp = groups.groupby("component")
    assert len(reps) == by_comp.ngroups
    assert int((reps["cluster_size"] - reps["n_dropped"]).sum()) == len(reps)
    assert int(reps["cluster_size"].sum()) == table(spark, SF_ORACLE, "documents").count()
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in table(spark, SF_ORACLE, "documents").select("doc_id", "n_chars").collect()
    }
    members = {comp: set(g["doc_id"]) for comp, g in by_comp}
    for row in reps.itertuples():
        assert row.rep_doc in members[row.component]
        assert row.rep_n_chars == max(docs[d] for d in members[row.component])


def test_group_representative_single_component_exchange(spark):
    """Both windows (argmax rank + cluster count) share one
    component-keyed Exchange — same partitioning, no second shuffle."""
    plan = (
        _run(spark, "q_group_representative")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning(component") == 1, plan[:800]


def test_fuzzy_join_exact_against_brute_force(spark):
    """Deletion-neighborhood blocking must find EXACTLY the brute-force
    distance<=1 pair set (no lost candidates, no false pairs)."""
    from hadoop_distexec_spark.sources.tables import table

    got = {
        (r["key_a"], r["key_b"]) for r in _run(spark, "q_fuzzy_join").collect()
    }
    names = table(spark, SF_ORACLE, "customer").select("c_custkey", "c_name").collect()

    def lev1(a, b):  # tight inline check for distance <= 1
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) <= 1
        if la > lb:
            a, b, la, lb = b, a, lb, la
        i = 0
        while i < la and a[i] == b[i]:
            i += 1
        return a[i:] == b[i + 1 :]

    brute = {
        (x["c_custkey"], y["c_custkey"])
        for i, x in enumerate(names)
        for y in names[i + 1 :]
        if lev1(x["c_name"], y["c_name"])
    }
    brute = {(min(p), max(p)) for p in brute}
    assert got == brute


def test_semantic_groups_consistent_with_embed_pairs(spark):
    """Every embedding near-dup pair must land in one component, and
    cluster sizes must cover the table exactly once."""
    from hadoop_distexec_spark.sources.tables import table

    labels = {
        r["vec_id"]: r["component"]
        for r in _run(spark, "q_semantic_dedup_groups").collect()
    }
    assert len(labels) == table(spark, SF_ORACLE, "embeddings").count()
    for e in _run(spark, "q_dedup_embed").collect():
        assert labels[e["vec_a"]] == labels[e["vec_b"]]


def test_cluster_sample_is_quota_subset(spark):
    """Sample rows are a subset of the k-means assignment (same cluster
    labels), follow the md5 threshold law exactly, and keep every cluster
    represented at roughly the quota."""
    from hadoop_distexec_spark.operators.llmops import _CLUSTER_SAMPLE_CEIL

    assign = {r["vec_id"]: r["cluster"] for r in _run(spark, "q_kmeans").collect()}
    sample = _run(spark, "q_cluster_sample").collect()
    assert 0 < len(sample) < len(assign)
    for r in sample:
        assert assign[r["vec_id"]] == r["cluster"]
        assert r["hash_bucket"] <= _CLUSTER_SAMPLE_CEIL
    # the law is deterministic: exactly the under-threshold ids are kept
    import hashlib

    expect = {
        v for v in assign
        if hashlib.md5(f"cs:{v}".encode()).hexdigest()[:2] <= _CLUSTER_SAMPLE_CEIL
    }
    assert {r["vec_id"] for r in sample} == expect
