"""Round-13 optimization equivalence tests.

Each test pins an optimization-round rewrite to the semantics it
replaced, on planted data where the interesting cases are forced —
the pattern of the group-local kernel tests in
tests/test_group_local.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from hadoop_distexec_spark.session import get_spark

    return get_spark("test_round13")


def test_sliding_distinct_fused_cascade_matches_naive_arms(spark):
    """q_sliding_distinct r13 rewrite: the two-level (win, user) ->
    (win) cascade must produce the exact n_events / n_users the old
    separate-arms shape produced, including NULL user_ids (counted in
    n_events, excluded from n_users) and duplicate (win, user) events
    (collapsed by the dedup level, still summed into n_events)."""
    rows = [
        # win 1: user 10 twice, user 20 once, NULL once -> 4 events, 2 users
        (1, 10), (1, 10), (1, 20), (1, None),
        # win 2: only NULL -> 1 event, 0 users
        (2, None),
        # win 3: three distinct -> 3 events, 3 users
        (3, 1), (3, 2), (3, 3),
    ]
    df = spark.createDataFrame(rows, "win_start_s long, user_id long")
    per_user = df.groupBy("win_start_s", "user_id").agg(
        F.count(F.lit(1)).alias("n_ev")
    )
    fused = (
        per_user.groupBy("win_start_s")
        .agg(
            F.sum("n_ev").cast("long").alias("n_events"),
            F.count("user_id").alias("n_users"),
        )
        .orderBy("win_start_s")
        .collect()
    )
    naive_events = dict(
        df.groupBy("win_start_s").count().collect()
    )
    naive_users = dict(
        df.select("win_start_s", "user_id")
        .distinct()
        .groupBy("win_start_s")
        .agg(F.count("user_id"))
        .collect()
    )
    for r in fused:
        assert r["n_events"] == naive_events[r["win_start_s"]]
        assert r["n_users"] == naive_users[r["win_start_s"]]
    assert [(r["n_events"], r["n_users"]) for r in fused] == [
        (4, 2), (1, 0), (3, 3)
    ]


def test_sliding_distinct_sketch_is_duplicate_insensitive(spark):
    """The r13 sketch swap feeds hll_sketch_agg the DEDUPED (win, user)
    frame: a distinct-count sketch must estimate the same cardinality
    whether it sees raw duplicated events or one row per user."""
    from hadoop_distexec_spark.operators.audits import SLIDE_HLL_LGK

    raw = spark.createDataFrame(
        [(1, u % 50) for u in range(2000)], "w long, user_id long"
    )
    est = lambda df: df.groupBy("w").agg(
        F.expr(
            f"hll_sketch_estimate(hll_sketch_agg(user_id, {SLIDE_HLL_LGK}))"
        ).alias("e")
    ).collect()[0]["e"]
    assert est(raw) == est(raw.distinct()) == 50


def test_pq_recenter_cb_matches_join_posexplode_chain(spark):
    """_pq_recenter_cb (r13: Lloyd recenter fused into the assignment's
    Arrow pass as bounded partial sums) must produce the bit-identical
    refined codebook the old assign -> join -> posexplode -> agg chain
    produced, on the real sf0.001 subvectors."""
    from pyspark.sql import functions as F

    import hadoop_distexec_spark.operators.llmops as L
    from hadoop_distexec_spark.sources.tables import table

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings")
    ie = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * L.PQ_GRID).cast("long")
        ).alias("iarr"),
    )
    arr = ie.select(
        "vec_id",
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("int").alias("s"),
                    F.slice("iarr", s * L.PQ_SUBDIM + 1, L.PQ_SUBDIM).alias("sub"),
                )
                for s in range(L.PQ_SUBS)
            ]
        ).alias("sarr"),
    ).localCheckpoint()
    subs = arr.select("vec_id", F.explode("sarr").alias("ss")).select(
        "vec_id", F.col("ss.s").alias("s"), F.col("ss.sub").alias("sub")
    )
    seeds = (
        ie.select(
            "vec_id",
            F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")).alias("pri"),
        )
        .orderBy("pri", "vec_id")
        .limit(L.PQ_CODES)
        .select(
            "vec_id", F.expr("row_number() OVER (ORDER BY pri, vec_id)").alias("code")
        )
    )
    cb0 = L._pq_with_norm(
        subs.join(seeds, "vec_id").select("s", "code", F.col("sub").alias("carr"))
    ).localCheckpoint()
    # the replaced chain, verbatim
    codes0 = L._pq_assign(subs, cb0).select("vec_id", "s", "code")
    pos = subs.join(codes0, ["vec_id", "s"]).select(
        "s", "code", F.posexplode("sub").alias("i", "v")
    )
    cent = pos.groupBy("s", "code", "i").agg(
        F.sum("v").alias("sv"), F.count(F.lit(1)).alias("nv")
    )
    old = L._pq_with_norm(
        cent.select("s", "code", "i", F.expr("sv div nv").alias("c"))
        .groupBy("s", "code")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("s", "code", F.transform("ic", lambda x: x["c"]).alias("carr"))
    )
    new = L._pq_recenter_cb(subs, cb0)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_stream_state_partitions_sizes_remote_schemes(spark, tmp_path):
    """_stream_state_partitions r13: the size probe goes through
    fs.resolve_fs, so a non-local URI scheme (here MappedFS's mock://,
    which bare os.path cannot stat) still yields an input-derived state
    partition count instead of silently keeping the session default."""
    from hadoop_distexec_spark.fs import MappedFS
    from hadoop_distexec_spark.streaming.windows import (
        STREAM_STATE_TARGET_BYTES,
        _stream_state_partitions,
    )

    root = tmp_path / "store"
    (root / "sf").mkdir(parents=True)
    # a fake events.parquet of ~3 target-units -> expect ceil = 3
    payload = b"x" * (3 * STREAM_STATE_TARGET_BYTES)
    (root / "sf" / "events.parquet").write_bytes(payload)
    fs = MappedFS(scheme="mock", root=str(root))
    got = _stream_state_partitions(spark, "mock://sf", fs=fs)
    dp = spark.sparkContext.defaultParallelism
    assert got == min(dp, 3)
    # unreadable path -> None (callers keep the session default)
    assert _stream_state_partitions(spark, "mock://missing", fs=fs) is None


def test_stream_state_partitions_local_unchanged(spark):
    """The local fixture path keeps its r12 behavior (2 MB events at a
    32 MB target -> 1 partition)."""
    from hadoop_distexec_spark.streaming.windows import _stream_state_partitions

    assert _stream_state_partitions(spark, "/root/testdata/sf0.1") == 1


def test_stream_no_data_batch_skip_is_identical(spark):
    """_run_bounded(no_data_batches=False) r13: for an inner stream-stream
    join and for within-watermark dedup the trailing zero-input batch only
    evicts state — skipping it must leave the sink rows identical (and the
    session conf restored)."""
    from pyspark.sql import functions as F

    from hadoop_distexec_spark.streaming import windows as w

    sf = "/root/testdata/sf0.001"
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(conf_key)

    ev = w.read_events_stream(spark, sf)
    a = w._run_bounded(w.streaming_join(ev, ev), "append")
    ev = w.read_events_stream(spark, sf)
    b = w._run_bounded(w.streaming_join(ev, ev), "append", no_data_batches=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert spark.conf.get(conf_key) == before

    dd = lambda e: w.streaming_dedup(e).select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    ev = w.read_events_stream(spark, sf)
    c = w._run_bounded(dd(ev), "append")
    ev = w.read_events_stream(spark, sf)
    d = w._run_bounded(dd(ev), "append", no_data_batches=False)
    assert c.exceptAll(d).count() == 0 and d.exceptAll(c).count() == 0
    assert spark.conf.get(conf_key) == before


def test_contract_line_accounts_and_stabilizes_omissions():
    """bench r13 (VERDICT r12 #2/#4): the contract line carries
    n_queries + an omitted-set md5 (an id missing from the itemized dict
    is provably truncation, never a drop), and the fill ranks by
    max(current, previous) seconds so the kept set does not flip with
    sub-second lane noise between rounds."""
    import hashlib
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    b = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(b)

    qs = {f"q_{'x' * 30}_{i:03d}": 0.4 + (i % 7) / 10 for i in range(90)}
    qs["q_slow"] = 9.0
    out = {
        "metric": "headline_queries_total",
        "value": sum(qs.values()),
        "unit": "sec",
        "sf": 0.1,
        "queries": qs,
        "_prev_queries": {},
    }
    c = b._compact_contract_line(out)
    line = json.dumps(c, separators=(",", ":"))
    assert len(line) <= b._TAIL_BUDGET
    assert c["n_queries"] == len(qs)
    omitted = sorted(k for k in qs if k not in c["queries"])
    assert c["queries_omitted"] == len(omitted)
    assert (
        c["queries_omitted_md5"]
        == hashlib.md5(",".join(omitted).encode()).hexdigest()[:10]
    )
    assert "q_slow" in c["queries"]

    # an id slow in the PREVIOUS lane stays itemized even when the
    # current lane reads it fast (the r12 phantom-drop shape)
    fast_id = omitted[0]
    out2 = dict(out)
    out2["_prev_queries"] = {fast_id: 8.0}
    c2 = b._compact_contract_line(out2)
    assert fast_id in c2["queries"]
