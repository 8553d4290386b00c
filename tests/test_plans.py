"""Plan-shape regression tests: the physical plans the engine promises
(broadcast dims, pushed filters, pruned scans, partial top-k) must not
silently regress."""

from hadoop_distexec_spark import registry
from tests.conftest import SF_ORACLE

SPECS = registry.specs()


def _plan(spark, qid):
    return SPECS[qid].fn(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()


def test_broadcast_join_stays_broadcast(spark):
    plan = _plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q_agg_groupby")
    assert "PushedFilters" in plan
    i = plan.find("PushedFilters")
    assert "l_shipdate" in plan[i : i + 200]


def test_column_pruning(spark):
    plan = _plan(spark, "q_join_multi")
    i = plan.find("ReadSchema")
    # the lineitem scan must read only the three needed columns
    assert "l_orderkey" in plan[i : i + 200]
    assert "l_shipdate" not in plan[i : i + 200]


def test_topk_uses_partial_topk(spark):
    plan = _plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort node


def test_agg_is_two_phase(spark):
    plan = _plan(spark, "q_agg_groupby")
    # partial (map-side) + final hash aggregate
    assert plan.count("HashAggregate") >= 2


def test_corpus_prep_ops_are_shuffle_free(spark):
    # split / redact / chunk are pure per-row expressions; an Exchange in
    # any of these plans means a regression broke the zero-shuffle promise
    for qid in ("q_split_train_test", "q_pii_redact", "q_doc_chunks"):
        plan = _plan(spark, qid)
        # (no codegen assertion: under AQE the pre-execution plan string
        # hasn't materialized WholeStageCodegen nodes yet)
        assert "Exchange" not in plan, f"{qid} gained a shuffle:\n{plan[:500]}"


def test_pack_sequences_dist_no_global_window(spark):
    """The distributed packer must plan a hash-partitioned window (keyed by
    the prefix sum's partition id), never the baseline's single-partition
    global sort."""
    from hadoop_distexec_spark.functions.prefix_sum import PID

    plan = _plan(spark, "q_pack_sequences_dist")
    assert "Exchange SinglePartition" not in plan, plan[:800]
    assert f"hashpartitioning({PID}" in plan, plan[:800]


def test_pack_sequences_dist_matches_baseline(spark):
    """Two-phase prefix sum == windowed baseline, bit for bit."""
    a = SPECS["q_pack_sequences"].fn(spark, SF_ORACLE)
    b = SPECS["q_pack_sequences_dist"].fn(spark, SF_ORACLE)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_corpus_stats_plans(spark):
    """Vocabulary/n-gram heads must be partial top-k (never a global
    sort); the length histogram must prune to the text column and run a
    two-phase aggregate."""
    for qid in ("q_vocab_topk", "q_ngram_counts"):
        plan = _plan(spark, qid)
        assert "TakeOrderedAndProject" in plan, f"{qid} lost partial top-k"
        assert "Exchange SinglePartition" not in plan, f"{qid} gained a global sort"
    plan = _plan(spark, "q_len_hist")
    assert plan.count("HashAggregate") >= 2
    i = plan.find("ReadSchema")
    assert "text" in plan[i : i + 120] and "lang" not in plan[i : i + 120]


def test_chunking_prunes_scan(spark):
    # q_doc_chunks must not read the documents columns it doesn't use
    plan = _plan(spark, "q_doc_chunks")
    i = plan.find("ReadSchema")
    assert "text" in plan[i : i + 200]
    assert "lang" not in plan[i : i + 200]


def test_sessionize_single_exchange(spark):
    # lag window + running-sum window + groupBy all share the user_id
    # partitioning: exactly one Exchange in the plan
    plan = _plan(spark, "q_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1


def test_win_frame_single_exchange(spark):
    plan = _plan(spark, "q_win_frame")
    assert plan.count("Exchange hashpartitioning") == 1


def test_token_entropy_single_exchange(spark):
    # repartition(doc_id) before the explode satisfies the (doc_id, tok)
    # aggregate, the doc_id window, and the doc_id aggregate — one shuffle
    # of doc rows, zero shuffles of exploded token rows
    plan = _plan(spark, "q_token_entropy")
    assert plan.count("Exchange hashpartitioning") == 1


def test_sample_stratified_shuffle_free(spark):
    plan = _plan(spark, "q_sample_stratified")
    assert "Exchange" not in plan
    i = plan.find("ReadSchema")
    assert "embedding" not in plan[i : i + 300]  # only documents columns


def test_embed_quantize_single_exchange(spark):
    plan = _plan(spark, "q_embed_quantize")
    assert plan.count("Exchange hashpartitioning") == 1


def test_tfidf_checkpointed_and_bounded(spark):
    # q_tfidf materializes via localCheckpoint (token-count cache released
    # before return) and exports at most TFIDF_TOPN rows per doc
    from hadoop_distexec_spark.operators.llmops import TFIDF_TOPN

    df = SPECS["q_tfidf"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # checkpointed result, not a live lineage
    from pyspark.sql import functions as F

    mx = df.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert mx <= TFIDF_TOPN


def test_range_join_bucketed_is_equi_join(spark):
    # the bucket rewrite must hash-join (shuffleable at big-big scale),
    # never fall back to a nested-loop inequality join
    plan = _plan(spark, "q_range_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # Broadcast- or ShuffledHashJoin on bucket


def test_lm_score_no_cartesian_and_pruned_scan(spark):
    """q_lm_score: the only crossJoin is the broadcast 1-row vocab size;
    the documents scan reads only (doc_id, text). Inspect the
    un-checkpointed plan (the registered query checkpoints to release its
    bigram cache, which hides the plan from the executed string)."""
    from hadoop_distexec_spark.operators.llmops import _bigrams_df, _lm_score_plan

    df = _lm_score_plan(_bigrams_df(spark, SF_ORACLE))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    i = plan.find("ReadSchema")
    assert "doc_id" in plan[i : i + 200] and "text" in plan[i : i + 200]
    assert "lang" not in plan[i : i + 200] and "source" not in plan[i : i + 200]


def test_sim_ivf_broadcasts_cells_not_vectors(spark):
    """q_sim_ivf's only nested-loop join is the query-side crossJoin
    against the k-cell centroid table (broadcast, tiny); the candidate
    join on label is a hash/broadcast equi-join, never a cartesian."""
    plan = _plan(spark, "q_sim_ivf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # queries x broadcast(cells)


def _join_counts(plan):
    return {
        p: plan.count(p)
        for p in (
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastHashJoin",
            "Exchange hashpartitioning",
            "HashAggregate",
        )
    }


def test_dedup_embed_capped_window_join_is_equi(spark):
    """q_dedup_embed_capped (r09 registration): the sorted-sliding-window
    candidate join must stay a hash/sort-merge equi-join on (cell, rank)
    — a BroadcastNestedLoopJoin or CartesianProduct here means the rank
    keys fell out of the join condition and the m*cap bound is gone."""
    plan = _plan(spark, "q_dedup_embed_capped")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_embed_capped_ivf_assignment_is_arrow_banded(spark):
    """q_dedup_embed_capped_ivf's assignment: the double scoring runs in
    the Arrow/BLAS pandas_udf band (ArrowEvalPython in the plan), the
    band meets the seeds in a broadcast EQUI-join on cid, and there is
    no nested-loop join at all — the first draft's crossJoin form let
    project-collapse re-evaluate the decimal norm folds nlist times per
    vector (20s of a 30s 10x build), and its un-pinned cells were
    additionally duplicated into both window-join branches (2 BNLJ
    nodes; the checkpoint pins it). The registered query's own executed
    plan (above the checkpoint) must keep the window join equi."""
    from hadoop_distexec_spark.operators.llmops import _ivf_assign_cells

    assign_plan = (
        _ivf_assign_cells(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in assign_plan, assign_plan
    assert "BroadcastNestedLoopJoin" not in assign_plan, assign_plan
    assert "ArrowEvalPython" in assign_plan, assign_plan
    assert "BroadcastHashJoin" in assign_plan, assign_plan
    plan = _plan(spark, "q_dedup_embed_capped_ivf")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_band_join_stays_equi_join(spark):
    """VERDICT r03 #5: every minhash join — the band/bucket candidate
    join and the exact-verify joins — must be an equi-join (hash or
    sort-merge), never a nested-loop/cartesian pair explosion; and the
    xxhash64 production tier must plan the IDENTICAL shape (the hash fn
    is the only difference)."""
    from hadoop_distexec_spark.operators.llmops import _minhash_plan, _shingles_df

    s = _shingles_df(spark, SF_ORACLE)
    shapes = {}
    for tier in ("md5", "xxhash64"):
        plan = _minhash_plan(s, tier)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, f"{tier}: band join fell off equi-join"
        assert "CartesianProduct" not in plan, tier
        shapes[tier] = _join_counts(plan)
        equi = sum(shapes[tier][j] for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
        assert equi == 5, f"{tier}: expected 5 equi-joins, got {shapes[tier]}"
    assert shapes["md5"] == shapes["xxhash64"], "tiers must share one plan shape"


def test_cc_round_plan_is_one_join_one_agg(spark):
    """VERDICT r03 #5: one connected-components round must cost exactly
    one edge-keyed equi-join + one partial/final min aggregate + the
    label-update left join — no nested loops, no extra shuffles. This is
    the per-round price a 100 TB run pays max_iter times."""
    from pyspark.sql import functions as F

    from hadoop_distexec_spark.operators.pipeline import _cc_round

    edges = spark.createDataFrame([(1, 2), (2, 3)], "doc_a: long, doc_b: long")
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
        .select("doc_id", F.col("doc_id").alias("component"))
    )
    plan = _cc_round(sym, labels)._jdf.queryExecution().executedPlan().toString()
    c = _join_counts(plan)
    assert c["BroadcastNestedLoopJoin"] == 0 and c["CartesianProduct"] == 0, c
    equi = c["SortMergeJoin"] + c["ShuffledHashJoin"] + c["BroadcastHashJoin"]
    assert equi == 2, f"expected nbr join + label-update join only, got {c}"
    assert c["HashAggregate"] == 2, f"expected one partial+final min agg, got {c}"
    assert c["Exchange hashpartitioning"] <= 4, f"round gained a shuffle: {c}"


def test_scd2_single_exchange(spark):
    """Both SCD-2 windows and the change-filter between them share one
    (user_id, event_type) partitioning — exactly one shuffle Exchange."""
    plan = _plan(spark, "q_scd2")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_triangle_wedge_joins_are_equi(spark):
    """The wedge and closing joins must stay hash equi-joins — a
    BroadcastNestedLoopJoin here means the orientation/canonical keys fell
    out of the join condition and the plan went quadratic."""
    plan = _plan(spark, "q_triangle_count")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hybrid_search_partial_topk(spark):
    """Each modality list is cut with TakeOrderedAndProject (partial
    per-partition top-k), never a global Sort of the corpus."""
    plan = _plan(spark, "q_hybrid_search")
    assert "TakeOrderedAndProject" in plan, plan


def test_funnel_single_exchange(spark):
    """The three chained funnel-stage windows and the per-user collapse
    all share one user_id partitioning — exactly one shuffle Exchange."""
    plan = _plan(spark, "q_funnel")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bucketed_join_is_shuffle_free(spark):
    """The bucketed-table join must plan as a SortMergeJoin with no
    Exchange and no explicit Sort on either side (bucket files are
    written sorted). The query fn also self-asserts this; this test pins
    it against Spark upgrades with the broadcast path disabled."""
    from hadoop_distexec_spark.operators.relational_ext import bucketed_tables

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bc = bucketed_tables(spark, SF_ORACLE)
        j = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_interval_merge_single_exchange(spark):
    """Both island windows AND the two aggregates must share ONE user_id
    hash partitioning — the whole point of the window formulation over a
    self-join (SCALE.md round-4 wave 3)."""
    import re

    plan = _plan(spark, "q_interval_merge")
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, f"interval_merge gained a shuffle ({n} Exchanges):\n{plan[:800]}"


def test_sequence_ops_bounded_exchanges(spark):
    """Sequence analytics must pay exactly one full-volume Exchange (the
    user_id window); later Exchanges operate on aggregated key spaces
    bounded by |event_types|^k. A count above 3 means a window stopped
    sharing the partitioning."""
    import re

    for qid, cap in (("q_event_transitions", 3), ("q_attribution", 2),
                     ("q_top_paths", 2), ("q_funnel", 1)):
        plan = _plan(spark, qid)
        n = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n <= cap, f"{qid}: {n} hash Exchanges (cap {cap})"
        assert re.search(r"Exchange hashpartitioning\(user_id", plan), (
            f"{qid}: no user_id-keyed Exchange found"
        )
