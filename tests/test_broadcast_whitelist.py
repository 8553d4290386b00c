"""Permanent tripwire for VERDICT r05 what's-wrong #1: every static
``F.broadcast(...)`` hint in the package must sit in a REVIEWED call site
whose broadcast side is provably bounded at 100 TB (1-row scalar
aggregates, k centroids / hyperplanes, fixed dim tables, eval/query
sets, per-partition offsets). A new hint anywhere else fails this test
until it is reviewed and added here with its boundedness argument —
corpus-sized sides must stay hint-free so AQE sizes them at runtime
(the q_tfidf_pairs lesson: a forced broadcast driver-collects the side
and OOMs exactly when the operator matters).

The whitelist records the reviewed HINT COUNT per function, not just the
function name (round-6 review finding: a set-based whitelist lets an
unreviewed second hint hide inside an already-whitelisted function —
e.g. re-adding the de-hinted corpus-sized ``F.broadcast(dfreq)`` to
``_tfidf_weights``, whose entry is justified only by its 1-row
n_docs scalar, would have stayed green)."""

import ast
import collections
import os

REPO = os.path.join(os.path.dirname(__file__), "..")
PKG = os.path.join(REPO, "hadoop_distexec_spark")

# (module-relative path, enclosing function) ->
#     (reviewed hint count, why the side is bounded)
WHITELIST = {
    ("plans/manifest_plan.py", "q_split_plan"): (1, "1-row byte-total scalar"),
    ("streaming/windows.py", "q_stream_late_data"): (1, "1-row max-watermark scalar"),
    ("operators/relational.py", "q_join_broadcast"): (1, "the broadcast-join demo op; dim side projected to 2 cols"),
    ("operators/relational.py", "q_join_multi"): (2, "nation (25 rows) + region (5 rows), fixed TPC-H dims"),
    ("operators/relational.py", "q_win_rank"): (1, "nation dim, 25 rows"),
    ("operators/relational_ext.py", "q_range_join"): (1, "static band table (a handful of rows)"),
    ("operators/relational_ext.py", "q_scalar_subquery"): (1, "1-row global average"),
    ("operators/relational_ext.py", "q_anomaly"): (1, "per-event-type stats, bounded event-type domain"),
    ("operators/relational_ext.py", "_quantile_bins_window_tier"): (1, "3-row per-group boundary frame (bounded group domain; the oversized-group fallback tier)"),
    ("operators/relational_ext.py", "q_robust_stats"): (1, "per-group GK median frame, bounded group domain"),
    ("operators/relational_ext.py", "_robust_stats_window_tier"): (2, "per-group median/MAD, bounded group domain (the oversized-group fallback tier)"),
    ("operators/llmops.py", "q_dedup_recall_eval"): (4, "four 1-row scalar count aggregates"),
    ("operators/llmops.py", "q_sim_topk"): (1, "fixed 5-vector query set"),
    ("operators/llmops.py", "sim_quantized_recall"): (1, "fixed 5-vector quantized query set"),
    ("operators/llmops.py", "q_sim_ivf"): (1, "k centroid cells"),
    ("operators/llmops.py", "_ivf_pq_recall_at"): (
        1,
        "k centroid cells (q_sim_ivf's probe duplicated inline — same "
        "bounded |labels| x 64-float side at any corpus size; the "
        "registered ivf_pq_recall wrapper pins nprobe and delegates here)",
    ),
    ("operators/llmops.py", "_ivf_assign_cells"): (
        1,
        "IVF_CAP_NLIST (64) seed centroids, 64 floats each — KBs by the "
        "nlist constant at any corpus size (moved here from "
        "embed_edges_capped_ivf in the r09 Arrow-band refactor; the band "
        "side joins the broadcast seeds by cid)",
    ),
    ("operators/llmops.py", "lsh_candidates"): (1, "query set x probe masks, bounded"),
    ("operators/llmops.py", "q_tfidf"): (1, "1-row n_docs scalar (dfreq de-hinted r06)"),
    ("operators/llmops.py", "_tfidf_weights"): (1, "1-row n_docs scalar (norms/dfreq de-hinted r06, plan-gated)"),
    ("operators/llmops.py", "_bm25_per_doc"): (1, "1-row avgdl scalar (dfreq de-hinted r06)"),
    ("operators/llmops.py", "q_rag_retrieval"): (1, "top-k hit list, k bounded"),
    ("operators/llmops.py", "_hybrid_arms"): (1, "1-row query-vector frame (hint moved here from q_hybrid_search in the r07 arms refactor)"),
    ("operators/llmops.py", "retrieval_agreement"): (2, "two 1-row modality-count aggregates"),
    ("operators/llmops.py", "embed_whiten"): (1, "1-row <w,w> scalar over the 64-row w2 frame"),
    ("operators/llmops.py", "embed_threshold_curve"): (
        1,
        "1-row embeddings-count scalar (ADVICE r11 #3: replaced the "
        "eager driver-side count literal)",
    ),
    ("operators/llmops.py", "q_decontam"): (1, "eval-suite shingle set (benchmarks are MBs, documented contract)"),
    ("operators/llmops.py", "decontam_excise_corpus"): (1, "the same eval-suite shingle set as q_decontam (benchmarks are MBs, documented contract)"),
    ("operators/audits.py", "t_closeness"): (1, "global sensitive-value distribution, |segments| rows (fixed TPC-H domain)"),
    ("operators/llmops.py", "mix_schedule"): (1, "per-source weight frame, bounded source domain"),
    ("operators/llmops.py", "knn_label_purity"): (1, "collected probe frame, ~PURITY_TARGET rows by the corpus-derived MOD"),
    ("operators/llmops.py", "q_weighted_sample"): (1, "1-row scalar total"),
    ("operators/llmops.py", "_lm_score_plan"): (1, "1-row vocab scalar"),
    ("operators/llmops.py", "_assign_hof"): (1, "k-row centroid frame"),
    ("operators/llmops.py", "key_skew_profile"): (1, "1-row global stats"),
    ("operators/llmops.py", "shard_plan"): (1, "1-row mean scalar"),
    ("operators/llmops.py", "quality_filter_funnel"): (1, "1-row stage-count aggregate"),
    ("operators/llmops.py", "vocab_coverage"): (2, "3-row static tier table + 1-row totals aggregate"),
    ("operators/llmops.py", "embed_pca"): (1, "1-row norm scalar over the 64-row w2 frame"),
    ("operators/audits.py", "drift_tvd"): (1, "1-row min/max epoch+cents scalar aggregate"),
    ("operators/audits.py", "ks_doclen"): (1, "1-row min/max doc_id scalar aggregate"),
    ("operators/audits.py", "bloom_fpr_eval"): (6, "six 1-row scalar aggregates (max shipdate, build count+slice size x3 uses, neg count, false-pos count)"),
    ("operators/pipeline.py", "split_leakage"): (2, "two 1-row scalar aggregates (contaminated-test count, test-split count)"),
    ("operators/audits.py", "hot_key_churn"): (1, "1-row min/max epoch scalar aggregate (the drift_tvd split contract)"),
    ("operators/audits.py", "kmv_overlap"): (
        3,
        "all three sides bounded by the event-type DOMAIN, not the data: "
        "the pair-enumeration type list (|types| rows) and two per-type "
        "estimate frames (|types| rows each; the sketches themselves are "
        "|types|*k rows and never hinted)",
    ),
}


def _broadcast_sites() -> collections.Counter:
    sites: collections.Counter = collections.Counter()
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, PKG).replace(os.sep, "/")
            tree = ast.parse(open(p).read())
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                ):
                    enc = [n for s, e, n in spans if s <= node.lineno <= e]
                    sites[(rel, enc[-1] if enc else "<module>")] += 1
    return sites


def test_every_broadcast_hint_is_reviewed():
    sites = _broadcast_sites()
    unreviewed = sorted(set(sites) - set(WHITELIST))
    assert not unreviewed, (
        "static F.broadcast() hints outside the reviewed whitelist — prove "
        "the side is bounded at 100 TB and add it here, or drop the hint "
        f"and let AQE size it: {unreviewed}"
    )
    gone = sorted(set(WHITELIST) - set(sites))
    assert not gone, f"whitelist entries with no remaining call site (stale): {gone}"
    drifted = sorted(
        (site, sites[site], WHITELIST[site][0])
        for site in sites
        if sites[site] != WHITELIST[site][0]
    )
    assert not drifted, (
        "hint count changed inside a whitelisted function — every added or "
        "removed hint is a new review, not a free pass under the existing "
        "entry [(site, found, reviewed)]: " + repr(drifted)
    )
