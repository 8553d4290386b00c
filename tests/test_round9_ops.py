"""Round-9 invariants: the capped graph consumers' oracles
(triangle_count_capped, label_prop_capped, semantic_dedup_groups_capped)
plus the audio and KMV tiers are bit-exact against their Spark builds at
sf0.01 — the pre-registration gate every wave passes — plus the laws
that tie them to the registered capped edge builders (the sf0.01
parity duplicates the registered oracle gate, but stays as the
direct-call form that exercises the library functions without the
registry)."""

from hadoop_distexec_spark.operators import llmops, pipeline
from tests.conftest import SF_ORACLE


def test_r10_capped_draft_oracles_parity(spark):
    """triangle_count_capped / label_prop_capped are bit-exact against
    their draft DuckDB twins at sf0.01 BEFORE registration — the twins
    reuse the registered capped-window SQL fragments, so the edge policy
    cannot drift between the registered builders and these drafts."""
    from tests.oracle_util import compare, duckdb_conn

    con = duckdb_conn(SF_ORACLE)
    for name, fn, oracle in [
        (
            "triangle_count_capped",
            llmops.triangle_count_capped,
            llmops.TRIANGLE_COUNT_CAPPED_ORACLE,
        ),
        (
            "label_prop_capped",
            pipeline.label_prop_capped,
            pipeline.LABEL_PROP_CAPPED_ORACLE,
        ),
        (
            "semantic_dedup_groups_capped",
            pipeline.semantic_dedup_groups_capped,
            pipeline.SEMANTIC_DEDUP_GROUPS_CAPPED_ORACLE,
        ),
    ]:
        compare(fn(spark, SF_ORACLE).toPandas(), con.execute(oracle).fetchdf(), name)
    con.close()


def test_capped_drafts_reuse_registered_fragments():
    """The draft oracles must embed the registered capped-window SQL
    byte-for-byte (one definition of the candidate policy): the label
    cells fragment and the window core of q_dedup_embed_capped's oracle
    appear verbatim inside both drafts."""
    cells = llmops._CAPPED_CELLS_LABEL_SQL
    assert cells in llmops.TRIANGLE_COUNT_CAPPED_ORACLE
    assert cells in pipeline.LABEL_PROP_CAPPED_ORACLE
    assert cells in pipeline.SEMANTIC_DEDUP_GROUPS_CAPPED_ORACLE
    spec_oracle = None
    from hadoop_distexec_spark import registry

    registry._load_modules()
    spec_oracle = registry.specs()["q_dedup_embed_capped"].oracle
    assert cells in spec_oracle


def test_multimodal_audio_draft_oracle_parity(spark):
    """The audio window-feature tier (the audio leg of the multimodal
    plumbing contract) is bit-exact against its hex-image DuckDB twin at
    sf0.01 — all-integer features, the q_multimodal_resize idiom."""
    from hadoop_distexec_spark.operators import multimodal
    from tests.oracle_util import compare, duckdb_conn

    con = duckdb_conn(SF_ORACLE)
    compare(
        multimodal.multimodal_audio(spark, SF_ORACLE).toPandas(),
        con.execute(multimodal.MULTIMODAL_AUDIO_ORACLE).fetchdf(),
        "multimodal_audio",
    )
    con.close()


def test_audio_window_features_brute_force(spark):
    """audio_window_features against a pure-Python PCM16 reference on
    adversarial blobs: odd byte length (trailing byte dropped), an exact
    window boundary (the boundary pair must NOT count as a crossing of
    the next window), zeros (strict inequality: 0 never crosses), sign
    wobble, and a sub-sample blob (excluded entirely)."""
    import struct

    win = 4  # tiny window so boundaries are exercised

    def ref(blob):
        n = len(blob) // 2 * 2
        s = list(struct.unpack(f"<{n // 2}h", blob[:n]))
        rows = {}
        for k, v in enumerate(s):
            w = k // win
            r = rows.setdefault(w, [0, 0, 0, 0])  # n, sum, peak, cross
            r[0] += 1
            r[1] += abs(v)
            r[2] = max(r[2], abs(v))
            if k % win != 0 and k > 0 and s[k - 1] * v < 0:
                r[3] += 1
        return {
            (1, w): tuple(r) for w, r in rows.items()
        }

    blobs = [
        struct.pack("<7h", 5, -3, 0, 2, -2, 2, -2) + b"\x01",  # odd tail
        struct.pack("<8h", 1, -1, 1, -1, 1, -1, 1, -1),  # boundary at k=4
        struct.pack("<4h", 0, 0, -1, 0),  # zeros never cross
        b"\x00",  # sub-sample: dropped
    ]
    from hadoop_distexec_spark.operators.multimodal import audio_window_features

    for blob in blobs:
        df = spark.createDataFrame(
            [(1, bytearray(blob))], "doc_id long, content binary"
        )
        got = {
            (r["doc_id"], r["win"]): (
                r["n_samples"], r["sum_abs"], r["peak_abs"], r["n_cross"]
            )
            for r in audio_window_features(df, window=win).collect()
        }
        assert got == ref(blob), (blob, got, ref(blob))


def test_kmv_overlap_draft_oracle_parity(spark):
    """The KMV set-intersection sketch audit is bit-exact against its
    DuckDB twin at sf0.01 (estimation regime: 150 distinct users per
    type against k=64 sketches)."""
    from hadoop_distexec_spark.operators import audits
    from tests.oracle_util import compare, duckdb_conn

    con = duckdb_conn(SF_ORACLE)
    compare(
        audits.kmv_overlap(spark, SF_ORACLE).toPandas(),
        con.execute(audits.KMV_OVERLAP_ORACLE).fetchdf(),
        "kmv_overlap",
    )
    con.close()


def test_kmv_saturation_law(spark):
    """Below sketch saturation the sketch IS the set: with k >= every
    distinct count (sf0.001 has 15 users/type), every estimate must
    equal its exact arm on all three columns, and err_inter_ppm must be
    exactly 0."""
    from hadoop_distexec_spark.operators import audits

    rows = audits.kmv_overlap(spark, "/root/testdata/sf0.001").collect()
    assert rows, "no pairs"
    for r in rows:
        assert r["est_a"] == r["exact_a"], r
        assert r["est_b"] == r["exact_b"], r
        assert r["est_inter"] == r["exact_inter"], r
        # relative error is 0 below saturation, except undefined (NULL)
        # on a pair whose true intersection is empty — the left-join
        # keeps such pairs in the audit output (ADVICE r09 #1)
        assert r["err_inter_ppm"] == (0 if r["exact_inter"] else None), r


def test_kmv_estimates_bounded(spark):
    """In the estimation regime (sf0.01) the intersection estimate stays
    within the theta-sketch's coarse envelope: nonnegative, no larger
    than the smaller set's estimate envelope, and within 50% relative
    error at k=64 on this fixture (measured ~10%; the bound is the
    tripwire for an estimator regression, not a theoretical claim)."""
    from hadoop_distexec_spark.operators import audits

    for r in audits.kmv_overlap(spark, SF_ORACLE).collect():
        assert 0 <= r["est_inter"], r
        if r["exact_inter"] == 0:
            assert r["err_inter_ppm"] is None, r
        else:
            assert r["err_inter_ppm"] <= 500_000, r
