"""The group-local idiom (hadoop_distexec_spark/functions/group_local.py):
the guard's two stages and its job count on the common path, every
caller's forced fallback through ``cell_local``, the cell-blocking
precondition on every cell-keyed caller's real edge frame, and each
group-local kernel against the distributed plan it replaces."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from hadoop_distexec_spark.functions import group_local
from hadoop_distexec_spark.functions.group_local import BOUNDS, cell_local
from tests.conftest import SF_SMALL

_pin_if_groups_fit = group_local._pin_if_groups_fit

# registered ids whose guard reads each bound
FALLBACK_IDS = {
    "cc": ["q_dedup_groups", "q_semantic_dedup_groups"],
    "lpa": ["q_label_prop"],
    "kcore": ["q_kcore_audit"],
    "triangles": ["q_triangle_count"],
    "order_stats": ["q_robust_stats", "q_agg_percentile", "q_quantile_bins"],
}

# registered ids that hand a cell-keyed edge frame to cell_local; each
# relies on its builder putting every endpoint under one cell
CELL_BLOCKED_IDS = [
    "q_semantic_dedup_groups",
    "q_semantic_dedup_groups_capped",
    "q_label_prop",
    "q_cc_cap_agreement",
    "q_kcore_audit",
    "q_triangle_count",
]


def _groups(spark, sizes):
    rows = [(g, i) for g, n in enumerate(sizes) for i in range(n)]
    return spark.createDataFrame(rows, "g int, i int")


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_forced_fallback_is_identical(spark, monkeypatch, name):
    """A bound of 0 makes every group oversized: each caller of the bound
    must take its distributed fallback and return exactly the rows of
    its group-local fast path."""
    from hadoop_distexec_spark.registry import specs

    seen = []

    def spy(df, key, bound_name):
        pinned, fits = _pin_if_groups_fit(df, key, bound_name)
        seen.append((bound_name, fits))
        return pinned, fits

    monkeypatch.setattr(group_local, "_pin_if_groups_fit", spy)
    for qid in FALLBACK_IDS[name]:
        fn = specs()[qid].fn
        seen.clear()
        fast = collections.Counter(fn(spark, SF_SMALL).collect())
        assert (name, True) in seen, qid
        with monkeypatch.context() as m:
            m.setitem(BOUNDS, name, 0)
            seen.clear()
            slow = collections.Counter(fn(spark, SF_SMALL).collect())
            assert (name, False) in seen, qid
        assert fast == slow, qid


@pytest.mark.parametrize("qid", CELL_BLOCKED_IDS)
def test_cell_blocking_invariant_holds(spark, monkeypatch, qid):
    """Every id in an edge frame that cell_local groups by "cell" sits
    under exactly one cell: a cross-cell edge would split one component
    (or core, or triangle) across two tasks and duplicate its rows."""
    from hadoop_distexec_spark.registry import specs

    frames = []

    def spy(df, key, bound_name, kernel, schema, fallback):
        if key == "cell":
            frames.append(df)
        return cell_local(df, key, bound_name, kernel, schema, fallback)

    monkeypatch.setattr(group_local, "cell_local", spy)
    specs()[qid].fn(spark, SF_SMALL).collect()
    assert frames, qid
    for df in frames:
        ends = [c for c in df.columns if c != "cell"]
        multi = (
            df.select("cell", F.explode(F.array(*ends)).alias("id"))
            .groupBy("id")
            .agg(F.countDistinct("cell").alias("nc"))
            .filter(F.col("nc") > 1)
            .count()
        )
        assert multi == 0, (qid, ends)


def test_over_bound_total_with_small_groups_fits(spark, monkeypatch):
    """A total over the bound pays the per-key max; groups each within
    the bound still fit, and one group over it does not."""
    monkeypatch.setitem(BOUNDS, "cc", 2)
    _, fits = _pin_if_groups_fit(_groups(spark, [2, 2, 1]), "g", "cc")
    assert fits
    _, fits = _pin_if_groups_fit(_groups(spark, [2, 3]), "g", "cc")
    assert not fits


def test_common_path_runs_one_job(spark):
    """Within the bound the guard costs only the checkpoint's own job."""
    sc = spark.sparkContext
    df = _groups(spark, [3, 4])
    sc.setJobGroup("pin_if_groups_fit-common", "guard job count")
    try:
        pinned, fits = _pin_if_groups_fit(df, "g", "cc")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert fits
    assert len(sc.statusTracker().getJobIdsForGroup("pin_if_groups_fit-common")) == 1
    assert pinned.count() == 7


def test_empty_frame_fits(spark, monkeypatch):
    monkeypatch.setitem(BOUNDS, "cc", 0)
    _, fits = _pin_if_groups_fit(_groups(spark, []), "g", "cc")
    assert fits


# ---------------------------------------------------------------------------
# connected components: the per-cell union-find against the distributed
# loops (identical labels), plus planted chains and singletons
# ---------------------------------------------------------------------------


def test_cc_cell_local_matches_jump_on_capped_graph(spark):
    """The fast path's labels are bit-identical to the distributed jump
    loop's on the real capped edge set (the sf0.001 fixture: the
    optimization must never change what the query computes)."""
    from hadoop_distexec_spark.operators.llmops import embed_edges_capped
    from hadoop_distexec_spark.operators.pipeline import (
        connected_components_cell_local,
        connected_components_jump,
    )
    from hadoop_distexec_spark.sources.tables import table

    emb = table(spark, SF_SMALL, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    edges = embed_edges_capped(spark, SF_SMALL).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cell_of = emb.select(
        F.col("vec_id").alias("doc_a"), F.col("label").alias("cell")
    )
    fast = connected_components_cell_local(nodes, edges.join(cell_of, "doc_a"))
    slow = connected_components_jump(nodes, edges)
    diff = fast.exceptAll(slow).unionAll(slow.exceptAll(fast)).count()
    assert diff == 0


def test_cc_cell_local_chain_and_singletons(spark):
    """Hand-built graph: a chain 1-2-3-4 in cell A (min-label 1 must
    reach 4 through the chain), a pair (10,11) in cell B, a 201-node
    chain in cell C whose edges run in reverse id order (one hooking
    round leaves a 200-deep tree, so pointer jumping must carry the
    minimum down the whole chain), and untouched node 99 — labels = min
    reachable id, singletons label themselves."""
    from hadoop_distexec_spark.operators.pipeline import (
        connected_components_cell_local,
    )

    chain = [("C", i + 1, i) for i in range(1199, 999, -1)]
    edges = spark.createDataFrame(
        [("A", 2, 3), ("A", 1, 2), ("A", 3, 4), ("B", 10, 11)] + chain,
        "cell string, doc_a long, doc_b long",
    )
    chain_ids = range(1000, 1201)
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 99, *chain_ids)], "doc_id long"
    )
    got = {
        (r["doc_id"], r["component"])
        for r in connected_components_cell_local(nodes, edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (99, 99),
        *((i, 1000) for i in chain_ids),
    }


def test_single_cell_cc_matches_distributed_on_ngram_graph(spark):
    """q_dedup_groups: routing the small near-dup pair list through
    connected_components_cell_local under one constant cell must label
    identically to the distributed min-label loop."""
    from hadoop_distexec_spark.operators.llmops import q_dedup_ngram
    from hadoop_distexec_spark.operators.pipeline import (
        connected_components,
        connected_components_cell_local,
    )
    from hadoop_distexec_spark.sources.tables import table

    docs = table(spark, SF_SMALL, "documents").select("doc_id")
    edges = q_dedup_ngram(spark, SF_SMALL).select("doc_a", "doc_b")
    fast = connected_components_cell_local(
        docs, edges.select(F.lit(0).alias("cell"), "doc_a", "doc_b")
    )
    slow = connected_components(docs, edges)
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def test_lpa_cell_local_matches_distributed_on_natural_graph(spark):
    """_lpa_labels_cell_local must be bit-identical to the distributed
    _lpa_labels loop on the real label-blocked q_dedup_embed graph."""
    from hadoop_distexec_spark.operators.llmops import q_dedup_embed
    from hadoop_distexec_spark.operators.pipeline import (
        _lpa_labels,
        _lpa_labels_cell_local,
    )
    from hadoop_distexec_spark.sources.tables import table

    emb = table(spark, SF_SMALL, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("v"))
    edges = q_dedup_embed(spark, SF_SMALL).select("vec_a", "vec_b").localCheckpoint(
        eager=True
    )
    cell_of = emb.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("cell"))
    fast = _lpa_labels_cell_local(nodes, edges.join(cell_of, "vec_a"))
    slow = _lpa_labels(nodes, edges)
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_lpa_cell_local_planted_mode_and_ties(spark):
    """Planted cell exercising the mode rule: a node with two neighbors
    of one community and one of another adopts the majority; an exact
    tie adopts the smaller label; isolated nodes stay themselves."""
    from hadoop_distexec_spark.operators.pipeline import (
        _lpa_labels,
        _lpa_labels_cell_local,
    )

    # triangle {1,2,3} + pendant 4 on 3; tie node 10 between 11 and 12;
    # isolated node 99 (no edges)
    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 1, 3), (0, 2, 3), (0, 3, 4), (1, 10, 11), (1, 10, 12)],
        "cell int, vec_a long, vec_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 12, 99)], "v long"
    )
    fast = _lpa_labels_cell_local(nodes, edges)
    slow = _lpa_labels(nodes, edges.select("vec_a", "vec_b"))
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    got = {r["v"]: r["lab"] for r in fast.collect()}
    assert got[99] == 99  # isolated self-stable


# ---------------------------------------------------------------------------
# k-core peel and triangle counts
# ---------------------------------------------------------------------------


def test_kcore_peel_cells_matches_distributed(spark):
    """The per-cell numpy peel's surviving edge set and certificate are
    identical to _kcore_peel's distributed loop on the real capped graph
    (the cell-local peel must not change what q_kcore_audit computes)."""
    from hadoop_distexec_spark.operators.llmops import (
        KCORE_K,
        KCORE_ROUNDS,
        _kcore_peel,
        _kcore_peel_cells,
        embed_edges_capped,
    )
    from hadoop_distexec_spark.sources.tables import table

    edges = embed_edges_capped(spark, SF_SMALL).select("vec_a", "vec_b")
    sym = edges.select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("v")
    ).unionByName(
        edges.select(F.col("vec_b").alias("u"), F.col("vec_a").alias("v"))
    )
    alive_ref, conv_ref = _kcore_peel(sym, KCORE_K, KCORE_ROUNDS)
    emb = table(spark, SF_SMALL, "embeddings").select(
        F.col("vec_id").alias("u"), F.col("label").alias("cell")
    )
    peeled = _kcore_peel_cells(sym.join(emb, "u"), KCORE_K, KCORE_ROUNDS)
    alive_new = peeled.select("u", "v")
    diff = (
        alive_new.exceptAll(alive_ref).unionAll(alive_ref.exceptAll(alive_new)).count()
    )
    assert diff == 0
    row = peeled.agg(F.min("converged").alias("c")).collect()[0]["c"]
    conv_new = True if row is None else bool(row)
    assert conv_new == conv_ref


def test_kcore_peel_cells_budget_and_empty(spark):
    """Planted cases: a triangle+tail cell (tail peels, triangle stays,
    converged) and a zero-survivor cell (everything peels, converged) —
    per-cell semantics match the synchronous-rounds contract."""
    from hadoop_distexec_spark.operators.llmops import _kcore_peel_cells

    # cell 1: triangle 1-2-3 (degree 2 each) + tail 3-4; k=2 keeps the
    # triangle, drops the tail. cell 2: a bare pair — fully peeled at k=2.
    pairs = [(1, 1, 2), (1, 2, 3), (1, 1, 3), (1, 3, 4), (2, 10, 11)]
    sym = spark.createDataFrame(
        [(c, a, b) for c, a, b in pairs] + [(c, b, a) for c, a, b in pairs],
        "cell long, u long, v long",
    )
    peeled = _kcore_peel_cells(sym, 2, 8)
    got = {(r["u"], r["v"]) for r in peeled.collect()}
    assert got == {(1, 2), (2, 3), (1, 3), (2, 1), (3, 2), (3, 1)}
    assert all(r["converged"] for r in peeled.collect())


def test_tri_counts_cell_local_matches_oriented_pipeline(spark):
    """q_triangle_count: the per-cell enumeration must equal the
    degree-oriented join pipeline row-for-row on the natural graph and
    on a planted graph with a clique, a chain, and shared-triangle
    vertices."""
    import hadoop_distexec_spark.operators.llmops as L
    from hadoop_distexec_spark.sources.tables import table

    emb = table(spark, SF_SMALL, "embeddings")
    edges = L.q_dedup_embed(spark, SF_SMALL).select("vec_a", "vec_b").localCheckpoint(
        eager=True
    )
    cell_of = emb.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("cell"))
    fast = L._tri_counts_cell_local(edges.join(cell_of, "vec_a"))
    slow = L.triangle_counts(
        edges.select(F.col("vec_a").alias("va"), F.col("vec_b").alias("vb"))
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0

    # planted: K4 on {1,2,3,4} + triangle {5,6,7} sharing vertex 4 via
    # chain edges (4,5) — chain edges contribute no triangles
    rows = [
        (0, 1, 2), (0, 1, 3), (0, 1, 4), (0, 2, 3), (0, 2, 4), (0, 3, 4),
        (0, 4, 5), (0, 5, 6), (0, 5, 7), (0, 6, 7),
    ]
    pe = spark.createDataFrame(rows, "cell int, vec_a long, vec_b long")
    got = {
        r["vec_id"]: r["n_tri"]
        for r in L._tri_counts_cell_local(pe).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1, 7: 1}


# ---------------------------------------------------------------------------
# order statistics
# ---------------------------------------------------------------------------


def test_robust_stats_arrow_tier_matches_window_tier(spark):
    """q_robust_stats' fused kernel (one sort for the median, one for the
    MAD, the outlier count over the sorted deviations) must be bit-equal
    to the window tier, on a planted frame with even/odd group sizes,
    duplicates, and a genuine outlier."""
    import hadoop_distexec_spark.operators.relational_ext as rx

    rows = [
        ("A", 1.0), ("A", 2.0), ("A", 2.0), ("A", 100.0),      # even, outlier
        ("B", 5.0), ("B", 6.0), ("B", 7.0),                     # odd
        ("C", 3.5),                                             # singleton
    ]
    li = spark.createDataFrame(rows, "g string, v double")
    win = {r["g"]: r.asDict() for r in rx._robust_stats_window_tier(li).collect()}
    fused, _ = cell_local(
        li, "g", "order_stats", rx._robust_stats_kernel, rx._ROBUST_SCHEMA,
        rx._robust_stats_window_tier,
    )
    arrow = {r["g"]: r.asDict() for r in fused.collect()}
    assert set(win) == set(arrow)
    for g, w in win.items():
        a = arrow[g]
        assert a["n"] == w["n"]
        assert a["median"] == w["median"]       # bit-equal, no tolerance
        assert a["mad"] == w["mad"]
        assert a["n_outliers"] == w["n_outliers"]
    assert arrow["A"]["n_outliers"] == 1


def test_robust_stats_forced_fallback_is_identical(spark, monkeypatch):
    """Forcing the oversized-group guard must route q_robust_stats
    through the window tier and return the identical frame (the
    CC-family forced-fallback pattern)."""
    from hadoop_distexec_spark.registry import specs

    fn = specs()["q_robust_stats"].fn
    fast = {r["l_returnflag"]: r.asDict() for r in fn(spark, SF_SMALL).collect()}
    monkeypatch.setitem(BOUNDS, "order_stats", 1)
    slow = {r["l_returnflag"]: r.asDict() for r in fn(spark, SF_SMALL).collect()}
    assert fast == slow


def test_agg_percentile_arrow_matches_window_tier(spark, monkeypatch):
    """q_agg_percentile: the Arrow exact tier must be bit-equal to the
    window tier at every percentile point — forced by running the
    registered fn both under and over the group-size guard."""
    from hadoop_distexec_spark.registry import specs

    fn = specs()["q_agg_percentile"].fn
    fast = {r["l_returnflag"]: r.asDict() for r in fn(spark, SF_SMALL).collect()}
    monkeypatch.setitem(BOUNDS, "order_stats", 0)
    slow = {r["l_returnflag"]: r.asDict() for r in fn(spark, SF_SMALL).collect()}
    assert fast == slow
