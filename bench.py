#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints the contract JSON line LAST:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

preceded by one full-precision detail line (same shape plus
queries_spread/tiers/pipe_*; save it as BENCH_LOCAL_r{N}.json). The
final line is kept under the driver's 2000-byte stdout-tail capture
(VERDICT r07 What's-wrong #1) by 2-significant-digit query timings.

Each query executes its full plan into Spark's no-op sink (write.format
("noop")) so scans, shuffles, and codegen all run but nothing is collected
to the driver. Headline queries are timed best-of-N (VERDICT r03 #2: a
single shot on a shared sandbox swings 2-4x between rounds); the JSON
carries per-query {min via "queries", max-min via "queries_spread"} so a
real regression is distinguishable from scheduler noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_distexec_spark import registry  # noqa: E402
from hadoop_distexec_spark.session import get_spark  # noqa: E402

# headline set: the flagship star join, heavy aggregation, window, top-k,
# plus one of each extension family (dedup / similarity / text / streaming)
HEADLINE = [
    "q_agg_groupby",
    "q_join_multi",
    "q_join_broadcast",
    "q_topk",
    "q_win_running",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_sim_topk",
    "q_text_stats",
    "q_stream_tumble",
    "q_asof_join",
    "q_range_join",
    "q_dedup_embed",
    "q_dedup_groups",
    "q_doc_chunks",
    "q_split_train_test",
    # end-to-end composition: dedup -> clusters -> representative ->
    # split -> pack in one plan, measuring shared-intermediate reuse
    # across stages rather than per-operator cost (see SCALE.md)
    "q_corpus_pipeline",
    # round-4 additions (new ids — absent from BENCH_r01..r03; the
    # pre-round-4 subset stays round-over-round comparable)
    "q_agg_percentile",
    "q_scd2",
    "q_join_bucketed",
    "q_triangle_count",
    "q_hybrid_search",
    "q_funnel",
    "q_retention",
    # round-4 wave 3 (absent from BENCH_r01..r03 likewise)
    "q_rollup_time",
    "q_interval_merge",
    "q_event_transitions",
    "q_bpe_pair_counts",
    "q_weighted_sample",
    "q_recall_eval",
    # iterative trainer (3 merge rounds; times the loop family alongside
    # q_dedup_groups' connected components)
    "q_bpe_train",
    # round-4 wave 4
    "q_tfidf_pairs",
    "q_robust_stats",
    "q_dq_referential",
    # round-5 additions (new ids — absent from BENCH_r01..r04)
    "q_quantile_bins",
    "q_dedup_prefix",
    "q_dedup_recall_eval",
    # round-6 registrations (new ids — absent from BENCH_r01..r05)
    "q_uniform_sample",
    "q_embed_norm_stats",
    "q_source_top_tokens",
    "q_key_skew_profile",
    # round-7 registrations (new ids — absent from BENCH_r01..r06)
    "q_source_overlap",
    "q_token_freq_spectrum",
    "q_shard_plan",
    "q_hapax_docs",
    "q_quality_filter_funnel",
    "q_dup_source_matrix",
    "q_pii_source_audit",
    "q_embed_dim_stats",
    "q_sim_quantized_recall",
    "q_token_fertility",
    "q_stream_dim_join",
    # round-7 wave 2 (same-round prep + registration)
    "q_vocab_coverage",
    "q_ngram_novelty",
    "q_embed_pca",
    "q_pack_efficiency",
    "q_dedup_cluster_stats",
    "q_stream_join_data",
    "q_stream_stateful_totals",
    # round-7 wave 3 (measured-quality harnesses)
    "q_lang_id_eval",
    "q_join_card_est",
    "q_retrieval_agreement",
    "q_embed_whiten",
    # round-9 registrations (the r08 capped graph tiers — new ids, absent
    # from BENCH_r01..r08; the two agreement harnesses deliberately run
    # the exact build they audit, so they sit at the slow end by design)
    "q_dedup_embed_capped",
    "q_dedup_embed_capped_ivf",
    "q_ivf_cap_overlap",
    "q_cc_cap_agreement",
    # round-8 registrations (the r07 prep waves — new ids, absent from
    # BENCH_r01..r07)
    "q_cms_topk",
    "q_drift_tvd",
    "q_k_anonymity",
    "q_itemset_pairs",
    "q_itemset_triples",
    "q_sliding_distinct",
    "q_domain_cap_sample",
    "q_group_ols",
    "q_benford_audit",
    "q_l_diversity",
    "q_ks_doclen",
    "q_bloom_fpr_eval",
    "q_hot_key_churn",
    "q_pq_recall",
    "q_mix_temperature",
    "q_label_prop",
    "q_split_leakage",
    "q_stream_dedup_data",
    "q_compaction_plan",
    # round-10 registrations (new ids — absent from BENCH_r01..r09): the
    # five capped/audio/KMV tiers plus the estimator-audit /
    # multimodal-dedup wave
    "q_triangle_count_capped",
    "q_label_prop_capped",
    "q_semantic_dedup_groups_capped",
    "q_multimodal_audio",
    "q_kmv_overlap",
    "q_multimodal_phash",
    "q_lsh_band_curve",
    "q_cell_compactness",
    "q_quantile_sample_eval",
    "q_dedup_rate_curve",
    # round-11 registrations (the r10 library wave 3, plus the
    # same-round r11 wave)
    "q_substring_runs",
    "q_ivf_pq_recall",
    "q_stream_outer_join",
    "q_line_dedup",
    "q_doc_verbatim_share",
    "q_gopher_rules",
    "q_embed_threshold_curve",
    "q_kcore_audit",
    # round-12 registration (new id — absent from BENCH_r01..r11)
    "q_stream_full_outer",
    # round-12 excision waves (registered same-round)
    "q_verbatim_excise",
    "q_line_excise",
    "q_line_excise_newline",
    "q_decontam_excise",
    "q_intradoc_excise",
    "q_excise_impact",
    "q_pps_sample",
    # round-12 wave 5 (registered same-round): the privacy-triad closer,
    # the embedding-quality probe eval, and the weighted-interleave
    # schedule materializer
    "q_t_closeness",
    "q_knn_label_purity",
    "q_mix_schedule",
]

HEADLINE_TRIALS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _lane_probe(spark) -> float:
    """Fixed-size lane-calibration probe (VERDICT r08 next-round #5): a
    constant 1M-row generated aggregation — zero data dependence, zero
    I/O — timed best-of-3 and carried on the contract line as
    `lane_probe_sec`. Round-over-round driver-lane comparisons divide
    per-query times by the probe ratio first: the r07->r08 driver
    artifact showed a uniform ~3x swing on identical code (lane-state
    variance, confirmed by matched local best-of-3) and cost a full
    re-adjudication; with the probe on the line the artifact is
    self-diagnosing. Normalization recipe in SCALE.md."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _noop(
            spark.range(1 << 20)
            .select((F.col("id") % 97).alias("k"), "id")
            .groupBy("k")
            .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _release_blocks(spark) -> None:
    """Release dead cached/checkpointed blocks between timed sections.

    clearCache() drops cached tables but NOT localCheckpoint RDDs (the
    dedup/pipeline queries checkpoint eagerly to release their internal
    caches); those blocks free only after the driver GCs the DataFrame and
    the ContextCleaner notices. Left alone, 17 queries x 3 trials of
    checkpoint blocks pile up in the block manager and the later bench
    sections time GC pressure instead of their operator (observed: the
    pandas assignment tier at 6.4s inside the full bench vs 0.7s alone)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _bench_assignment_tiers(spark, sf_dir: str, reps: int = 256, k: int = 64) -> dict[str, float]:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hadoop_distexec_spark.operators.llmops import _assign_hof, _assign_pandas
    from hadoop_distexec_spark.sources.tables import table

    e = table(spark, sf_dir, "embeddings")
    big = (
        e.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        .select((F.col("vec_id") * reps + F.col("rep")).alias("vec_id"), "embedding", "label")
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    big.count()
    try:
        w = W.partitionBy("label").orderBy("vec_id")
        cents = (
            big.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .limit(k)
            .select(
                F.row_number().over(W.orderBy("vec_id")).cast("int").alias("cluster"),
                F.col("embedding").alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
        vec = big.select("vec_id", "embedding")
        out: dict[str, float] = {}
        for name, fn in (("assign_hof", _assign_hof), ("assign_pandas", _assign_pandas)):
            # small untimed pass first: the pandas tier's Arrow worker pool
            # may have been cycled by the preceding headline queries, and a
            # single timed run right after is bimodal (observed 0.5s vs 13s)
            _noop(fn(vec.limit(1000), cents))
            best = float("inf")
            for _ in range(3):  # keep the best warm trial
                t0 = time.perf_counter()
                _noop(fn(vec, cents))
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 3)
        return out
    finally:
        big.unpersist()


def _bench_sketch_hash_tiers(spark, sf_dir: str) -> dict[str, float]:
    """md5 (oracle-checkable) vs xxhash64 (production) permutation hash for
    the minhash/simhash sketches — same plan, different hash expression
    (VERDICT r03 #3). Best-of-2 each; the headline q_dedup_minhash number
    is the md5 tier, so this section is where the production delta shows."""
    from hadoop_distexec_spark.operators.llmops import minhash_pairs, simhash_pairs

    out: dict[str, float] = {}
    for name, fn in (("minhash", minhash_pairs), ("simhash", simhash_pairs)):
        for tier in ("md5", "xxhash64"):
            best = float("inf")
            for _ in range(2):
                _release_blocks(spark)
                t0 = time.perf_counter()
                _noop(fn(spark, sf_dir, hash=tier))
                best = min(best, time.perf_counter() - t0)
            out[f"{name}_{tier}"] = round(best, 3)
    return out


def _norm_ratios(out: dict, prev_path: str | None = None) -> dict:
    """Per-query LANE-NORMALIZED ratio vs the previous committed
    BENCH_LOCAL_r{N}.json (VERDICT r09 next-round #8, made lane-robust
    per VERDICT r10 #4): for every query present (error-free) in both
    runs, the raw ratio t_now/t_prev is divided by the MEDIAN raw ratio
    over the shared set. The median is the lane indicator — hardware,
    cache state and lane load move every query together — so per-query
    signal is deviation FROM THE LANE, and a cross-lane comparison
    self-normalizes to ~1.0 instead of reading as a fleet-wide
    regression. The old probe-based scaling divided by a tiny best-of-3
    job whose variance multiplied into every ratio (the r10
    norm_median-1.47 artifact); the probe now rides along as an
    annotation only (`lane_probe_sec` / `norm_probe_prev`), and the raw
    lane factor is reported once as `norm_lane_ratio`.

    Target selection: the latest BENCH_LOCAL_r{k} with k STRICTLY BELOW
    the latest CORRECTNESS artifact's round. For the driver's round-N
    bench (CORRECTNESS_rN lands before it) that is BENCH_LOCAL_r{N-1} —
    the previous round, never the current round's own committed local
    bench (an unexcluded same-round target self-compares at ~1.0 and
    hides every real round-over-round regression — the round-11 review
    finding; the r10 race was the same bound being DERIVED off-by-one).
    With no CORRECTNESS artifact at all (fresh clone, untracked driver
    artifacts) the latest BENCH_LOCAL is used as-is (ADVICE r10 #4).
    `prev_path` injects the target explicitly — hermetic tests (VERDICT
    r10 #5) and the builder's mid-round refresh lane (which runs BEFORE
    its round's CORRECTNESS exists and passes its true previous round;
    the SPARK_GRAFT_BENCH_PREV env var does the same for `python
    bench.py` runs). Returns {} when no eligible BENCH_LOCAL exists.

    The full map rides the detail line; the contract line carries only
    the count of shared queries above the 1.25x noise gate plus the
    single worst offender, so a clean round costs ~40 bytes."""
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    prev_round = 0
    fresh_fallback = False
    if prev_path is None:
        prev_path = os.environ.get("SPARK_GRAFT_BENCH_PREV") or None
    if prev_path is None:
        latest_corr = max(
            (
                int(m.group(1))
                for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
                if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", path))
            ),
            default=None,
        )
        for path in glob.glob(os.path.join(repo, "BENCH_LOCAL_r*.json")):
            m = re.search(r"BENCH_LOCAL_r(\d+)\.json$", path)
            if not m:
                continue
            k = int(m.group(1))
            if latest_corr is not None and k >= latest_corr:
                continue  # never the current round's own artifact
            if k > prev_round:
                prev_round, prev_path = k, path
        if prev_path is None:
            return {}
        fresh_fallback = latest_corr is None
    else:
        m = re.search(r"BENCH_LOCAL_r(\d+)\.json$", prev_path)
        if m:
            prev_round = int(m.group(1))
        else:
            # ADVICE r11 #1: an injected target that is not a
            # BENCH_LOCAL_r{N}.json must not silently label the
            # comparison 'r00' — carry the real filename instead and
            # say so on stderr
            print(
                f"norm target {prev_path!r} does not match "
                "BENCH_LOCAL_r{N}.json; labeling norm_vs by filename",
                file=sys.stderr,
            )
            prev_round = None
    try:
        with open(prev_path) as f:
            prev = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    bad_now = set(out.get("errors", {}))
    bad_prev = set(prev.get("errors", {}))
    raw: dict[str, float] = {}
    for qid, t_now in out.get("queries", {}).items():
        t_prev = prev.get("queries", {}).get(qid)
        if qid in bad_now or qid in bad_prev or not t_prev or t_now is None:
            continue
        raw[qid] = t_now / t_prev
    if not raw:
        return {}
    med = sorted(raw.values())[len(raw) // 2]
    if med <= 0:
        return {}
    res = {
        "norm_vs": (
            f"r{prev_round:02d}"
            if prev_round is not None
            else os.path.basename(prev_path)
        ),
        "norm_probe_prev": prev.get("lane_probe_sec"),
        # the raw shared-query median — the whole-lane speed factor vs
        # the target run (1.0 = same lane speed; annotation, not signal)
        "norm_lane_ratio": round(med, 3),
        "norm_ratio": {q: round(v / med, 3) for q, v in raw.items()},
        # internal (stripped before the detail line prints): the fill
        # loop ranks by max(current, previous) seconds so the contract
        # line's kept/omitted split is STABLE round-over-round — r12's
        # PERF read 9 phantom "dropped queries" purely because lane
        # noise rotated which sub-second ids fell off the line
        "_prev_queries": prev.get("queries", {}),
    }
    if fresh_fallback:
        # ADVICE r11 #4: fresh-clone fallback (no CORRECTNESS artifact)
        # cannot exclude the current round's own committed BENCH_LOCAL,
        # so the ~1.0 it reads may be a self-compare — flag it on the
        # detail line so the artifact is self-diagnosing
        res["norm_fresh_fallback"] = True
    return res


def _bench_pipe_throughput(spark, n_files: int = 16, mb_per_file: int = 64) -> dict:
    """Throughput through the executor pipe (read -> child process ->
    commit, per file), sized to be STREAM-bound: 16 x 64 MiB files, so the
    ~200 ms/file Spark-task + Popen overhead is <6% of each file's pipe
    time instead of dominating it (VERDICT r03 #4). Reports, side by side:

      - pipe_mbps: distexec(tree, out, "cat"), executor-parallel;
      - pipe_bare_mbps: a sequential bare `cat f > out` loop over the SAME
        files — the no-framework floor the verdict asks to compare against;
      - pipe_overhead_ms_per_file: distexec over 64 x 64 KiB files, where
        runtime IS per-file overhead (task scheduling + Popen + commit).

    METHODOLOGY SYMMETRY (VERDICT r05 what's-wrong #2): both arms are
    timed best-of-3 over identical warm state — the pipe trials warm the
    source files' page cache, and the bare arm's first trial re-warms its
    own write path before its best is taken. r05's driver artifact showed
    a 19x cross-round swing on a SINGLE-SHOT floor arm (this sandbox's
    one-shot timings swing 2-4x); matched best-of-3 on both arms is the
    fix, and the pipe/floor ratio is only meaningful from matched trials.
    """
    import hashlib
    import shutil
    import subprocess
    import tempfile

    from hadoop_distexec_spark import distexec

    base = tempfile.mkdtemp(prefix="bench_pipe_")
    tree = os.path.join(base, "tree")
    os.makedirs(tree)
    block = hashlib.sha256(b"bench").digest() * (1024 * 1024 // 32)  # 1 MiB
    for i in range(n_files):
        with open(os.path.join(tree, f"f{i:03d}.bin"), "wb") as fh:
            for _ in range(mb_per_file):
                fh.write(block)
    tiny = os.path.join(base, "tiny")
    os.makedirs(tiny)
    n_tiny = 64
    for i in range(n_tiny):
        with open(os.path.join(tiny, f"t{i:03d}.bin"), "wb") as fh:
            fh.write(block[: 64 * 1024])
    # fixed-cost probe at MATCHED file count: same 16 files, 64 KiB each —
    # distexec's orchestration cost (manifest walk, dup check, split plan,
    # durability write: constant in bytes) so the MARGINAL per-byte rate
    # can be separated from it. At 100 TB the fixed cost amortizes to
    # nothing; the marginal rate is the number that scales.
    tree_small = os.path.join(base, "tree_small")
    os.makedirs(tree_small)
    for i in range(n_files):
        with open(os.path.join(tree_small, f"f{i:03d}.bin"), "wb") as fh:
            fh.write(block[: 64 * 1024])
    try:
        # untimed priming run: the first distexec in a session pays
        # executor-side classloading/buffer warmup (measured 3x the steady
        # state); the steady state is what the throughput number means
        distexec(spark, tiny, os.path.join(base, "warm"), "cat")

        best = float("inf")
        n_ok = 0
        for t in range(3):
            t0 = time.perf_counter()
            res = distexec(spark, tree, os.path.join(base, f"out{t}"), "cat")
            n_ok = res.filter(res.status == "EXECUTED").count()
            best = min(best, time.perf_counter() - t0)
        mb = n_files * mb_per_file

        # the no-framework floor: sequential `cat f > out` over the same
        # bytes (what a bash loop would do; distexec runs files in parallel
        # so it should be ABOVE this floor once stream-bound). Best-of-3
        # like the pipe arm — the sources are page-cache-warm from the
        # pipe trials on every iteration, so the arms see identical state.
        bare = float("inf")
        for t in range(3):
            bare_dir = os.path.join(base, f"bare{t}")
            os.makedirs(bare_dir)
            t0 = time.perf_counter()
            for i in range(n_files):
                src = os.path.join(tree, f"f{i:03d}.bin")
                with open(os.path.join(bare_dir, f"f{i:03d}.bin"), "wb") as out_fh:
                    subprocess.run(["cat", src], stdout=out_fh, check=True)
            bare = min(bare, time.perf_counter() - t0)
            shutil.rmtree(bare_dir, ignore_errors=True)  # bound disk use

        # per-file overhead probe: 64 KiB files are all overhead
        # (best-of-2 — same one-shot-jitter argument as the main arms)
        tiny_sec = float("inf")
        for t in range(2):
            t0 = time.perf_counter()
            distexec(spark, tiny, os.path.join(base, f"tinyout{t}"), "cat")
            tiny_sec = min(tiny_sec, time.perf_counter() - t0)

        # fixed-cost probe (matched 16-file manifest, ~0 bytes). When the
        # probe lands within jitter of (or above) the full run, the
        # per-byte marginal is UNMEASURABLE at this workload size on this
        # sandbox — report null rather than a nonsense division (observed:
        # fixed 2.7s vs pipe 2.4s under load => "1e9 MB/s").
        fixed = float("inf")
        for t in range(2):
            t0 = time.perf_counter()
            distexec(spark, tree_small, os.path.join(base, f"smallout{t}"), "cat")
            fixed = min(fixed, time.perf_counter() - t0)
        marginal = best - fixed
        marginal_mbps = round(mb / marginal, 1) if marginal > 0.05 else None

        return {
            "pipe_mb": mb,
            "pipe_files": n_ok,
            "pipe_sec": round(best, 3),
            "pipe_mbps": round(mb / best, 1),
            "pipe_bare_sec": round(bare, 3),
            "pipe_bare_mbps": round(mb / bare, 1),
            "pipe_fixed_sec": round(fixed, 3),
            "pipe_marginal_mbps": marginal_mbps,
            "pipe_overhead_ms_per_file": round(tiny_sec * 1000 / n_tiny, 1),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")
    specs = registry.specs()
    warnings: list[str] = []

    # warm-up: run the whole headline set once at the smallest SF so JVM
    # JIT, whole-stage codegen compilation, AQE machinery, and the Python
    # worker pool are warm for every plan shape before anything is timed —
    # the timed sf runs then measure the operators, not JVM cold-start.
    # Fall back to the benchmarked dir if the canonical warmup dir is
    # absent (ADVICE r03: a silently failing warmup shifts cold-start cost
    # into the first timed query).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
        warnings.append(f"warmup dir missing; warmed at {sf_dir} instead")
    for qid in ["q_agg_groupby"] + HEADLINE:
        try:
            _noop(specs[qid].fn(spark, warm_dir))
        except Exception as exc:  # still bench the rest
            print(f"warmup {qid} failed: {exc}", file=sys.stderr)
            warnings.append(f"warmup {qid} failed: {type(exc).__name__}")
    spark.catalog.clearCache()

    # The headline set — the driver-graded number — is timed first, right
    # after its warmup pass; supplementary sections (tiers, pipe) follow.
    # Best-of-HEADLINE_TRIALS per query, spread recorded (VERDICT r03 #2).
    # One broken query must never zero the whole artifact (BENCH_r02 died
    # on a single AnalysisException): isolate each query, record its error,
    # and always emit the JSON line.
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    errors: dict[str, str] = {}
    # lane-calibration probe, timed at the same moment the headline
    # queries are (right after warmup): the scalar that separates "the
    # code got slower" from "the lane got slower" in driver artifacts
    lane_probe = None
    try:
        lane_probe = _lane_probe(spark)
    except Exception as exc:
        errors["lane_probe"] = f"{type(exc).__name__}: {exc}"[:500]
    for qid in HEADLINE:
        trials: list[float] = []
        for _ in range(HEADLINE_TRIALS):
            # queries are independent; don't let one query's persisted
            # intermediates (e.g. the dedup shingle cache) or dead
            # checkpoint blocks skew the next trial's memory/GC profile
            _release_blocks(spark)
            t0 = time.perf_counter()
            try:
                _noop(specs[qid].fn(spark, sf_dir))
                trials.append(time.perf_counter() - t0)
            except Exception as exc:
                trials.append(time.perf_counter() - t0)
                errors[qid] = f"{type(exc).__name__}: {exc}"[:500]
                break
        timings[qid] = round(min(trials), 3)
        spread[qid] = round(max(trials) - min(trials), 3)

    # scorer-tier comparison (not part of the headline total): one k-means
    # ASSIGNMENT round — the per-iteration hot path — with the
    # interpreted-HOF scorer vs the Arrow-batched BLAS pandas_udf scorer
    # (replicated to 512k vec_ids x k=64 centroids so the workload is
    # assignment-heavy the way a real corpus is), plus the md5-vs-xxhash64
    # sketch hash tiers at the benchmarked SF.
    tiers: dict[str, float] = {}
    _release_blocks(spark)
    try:
        tiers = _bench_assignment_tiers(spark, sf_dir)
    except Exception as exc:
        errors["tiers"] = f"{type(exc).__name__}: {exc}"[:500]
    try:
        tiers.update(_bench_sketch_hash_tiers(spark, sf_dir))
    except Exception as exc:
        errors["tiers_sketch"] = f"{type(exc).__name__}: {exc}"[:500]

    # pipe-core throughput: the reference IS a per-file pipe tool, so the
    # truest baseline comparison is bytes/sec through our executor pipe
    # (reference constants: 256 MiB/map target, 128 KiB stream buffers —
    # BASELINE.md). Deterministic tree, identity command, executor-parallel.
    pipe = {}
    try:
        pipe = _bench_pipe_throughput(spark)
    except Exception as exc:
        errors["pipe"] = f"{type(exc).__name__}: {exc}"[:500]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_spread": spread,
        "trials": HEADLINE_TRIALS,
        "tiers": tiers,
        "sf": sf,
    }
    if lane_probe is not None:
        out["lane_probe_sec"] = lane_probe
    if errors:
        out["errors"] = errors  # _norm_ratios skips errored qids
    try:
        out.update(_norm_ratios(out))
    except Exception as exc:
        errors["norm_ratio"] = f"{type(exc).__name__}: {exc}"[:500]
        out["errors"] = errors
    out.update(pipe)
    if warnings:
        out["warnings"] = warnings
    if errors:
        out["errors"] = errors
    # Two lines: the full-precision detail record first (save as
    # BENCH_LOCAL_r{N}.json), then the compact contract line LAST. The
    # driver's capture keeps only the final ~2000 bytes of stdout and
    # parses what survives (BENCH_r07.json: "tail" exactly 2000 bytes,
    # "parsed": null), so the line it must parse has to fit there whole.
    compact = _compact_contract_line(out)
    out.pop("_prev_queries", None)  # fill-ranking internal, not artifact
    print(json.dumps(out))
    print(json.dumps(compact, separators=(",", ":")))


# The driver keeps the last 2000 bytes of stdout; the final line plus its
# newline must fit inside that window whole, so budget 1985.
_TAIL_BUDGET = 1985


def _sig(v: float, digits: int):
    """Round to `digits` significant digits (keeps 0.032 at 0.032 while
    11.84 becomes 12 — sub-second precision where it matters, short
    strings where it doesn't). Integral results come back as int so
    json prints "12", not "12.0" (VERDICT r11 #7: every byte on the
    contract line buys back an itemized query)."""
    import math

    if not v:
        return 0
    r = round(v, max(0, digits - 1 - int(math.floor(math.log10(abs(v))))))
    return int(r) if r == int(r) else r


def _compact_contract_line(out: dict) -> dict:
    """The driver-facing JSON line: metric/value/unit/sf, the lane
    probe, the COMPLETE pipe decomposition (VERDICT r08 next-round #4:
    pipe_sec/pipe_bare_sec/pipe_fixed_sec/pipe_marginal_mbps were lost
    to the 2000-byte tail clip in r07/r08 — they are contract numbers,
    so they ride the contract line), and the headline queries at
    2-significant-digit precision, guaranteed to serialize under the
    driver's 2000-byte stdout tail.

    When everything no longer fits, the FASTEST queries are dropped
    (with explicit queries_omitted / queries_omitted_sec accounting)
    rather than degrading every value to 1 significant digit: the
    sub-0.1s rows are exactly where lane noise exceeds signal (the
    r07->r08 "6x regression on q_topk" was 0.032s vs 0.2s of pure lane
    state), while the slow rows — the ones that diagnose a real plan
    regression — keep their precision. The full per-query map always
    survives on the preceding detail line (BENCH_LOCAL_r{N}.json).

    Omission floor (VERDICT r11 #7 adjudication): full itemization of
    the 105-query headline CANNOT fit the 2000-byte tail — the id
    strings alone average ~17 chars (~2.2 KB with JSON punctuation)
    before a single timing digit, plus ~420 bytes of mandated fields
    (metric/value/unit/sf, the r08-mandated pipe decomposition, the
    r09-mandated regression summary, the lane probe). The levers taken
    instead: integral values serialize as ints ("12" not "12.0"),
    sub-1s rows carry 1 significant digit, and the fill loop packs
    slowest-first — pushing the omitted set to the arithmetic floor
    (~30 fastest rows, all sub-second, individually below lane noise).
    Their per-query numbers are never lost: the committed
    BENCH_LOCAL_r{N}.json detail line itemizes all of them at full
    precision."""
    # errors must survive onto the contract line (BENCH_r02 precedent: a
    # silent artifact is worse than a short one) — bounded to 5 entries
    # of 60 chars so they can never crowd out the queries dict
    errs = {
        k: v[:60] for k, v in sorted(out.get("errors", {}).items())[:5]
    }
    n_errs_omitted = max(0, len(out.get("errors", {})) - len(errs))
    compact = {
        "metric": out["metric"],
        "value": _sig(out["value"], 3),
        "unit": out["unit"],
        "sf": out["sf"],
    }
    if out.get("lane_probe_sec") is not None:
        compact["lane_probe_sec"] = _sig(out["lane_probe_sec"], 3)
    for k in (
        "pipe_sec",
        "pipe_bare_sec",
        "pipe_fixed_sec",
        "pipe_marginal_mbps",
        "pipe_overhead_ms_per_file",
    ):
        if out.get(k) is not None:
            compact[k] = _sig(out[k], 3)
    # round-over-round regression summary (VERDICT r09 #8): the full
    # norm_ratio map rides the detail line; the contract line carries
    # the count above the 1.25x noise gate and the single worst offender
    # so the judge's driver-lane artifact is self-adjudicating
    ratios = out.get("norm_ratio") or {}
    if out.get("norm_vs"):
        regressed = {k: v for k, v in ratios.items() if v > 1.25}
        compact["norm_vs"] = out["norm_vs"]
        # ratios are already divided by the shared-query median (the
        # lane indicator), so norm_median reads ~1.0 by construction on
        # any lane state and regressions are per-query deviations from
        # the lane; the whole-lane factor rides as norm_lane_ratio
        if out.get("norm_lane_ratio") is not None:
            compact["norm_lane_ratio"] = _sig(out["norm_lane_ratio"], 3)
        if ratios:
            med = sorted(ratios.values())[len(ratios) // 2]
            compact["norm_median"] = _sig(med, 3)
        compact["norm_regressions"] = len(regressed)
        if regressed:
            worst = max(regressed, key=lambda k: regressed[k])
            compact["norm_worst"] = [worst, _sig(regressed[worst], 3)]
    # sub-1s rows carry 1 significant digit (VERDICT r11 #7): lane noise
    # exceeds their signal anyway (the r07->r08 q_topk lesson) and the
    # byte buys back itemized rows; >=1s rows keep 2 digits — they are
    # where a real plan regression shows
    qs = {k: _sig(v, 1 if v < 1 else 2) for k, v in out["queries"].items()}
    compact["queries"] = qs
    # the total id count rides the line (r13, VERDICT r12 #2): an id
    # missing from the itemized dict is then provably line-truncation,
    # never a dropped query — n_queries stable round-over-round IS the
    # no-drops witness the r12 PERF diff lacked
    compact["n_queries"] = len(qs)
    if errs:
        compact["errors"] = errs
    if n_errs_omitted:
        compact["errors_omitted"] = n_errs_omitted
    if len(json.dumps(compact, separators=(",", ":"))) <= _TAIL_BUDGET:
        return compact
    # drop the fastest queries until the line fits; account for them.
    # Ranking key: max(current, PREVIOUS-lane) seconds — an id slow in
    # either round is itemized, so the kept set (and therefore the
    # omitted set) no longer flips with sub-second lane noise between
    # rounds, and a genuine regression on a previously-slow id can never
    # fall off the line (r13, VERDICT r12 #2/#4)
    prevq = out.get("_prev_queries") or {}
    rawq = out["queries"]
    ranked = sorted(
        qs.items(),
        key=lambda kv: (-max(rawq.get(kv[0], 0.0), prevq.get(kv[0], 0.0)), kv[0]),
    )
    kept: dict[str, float] = {}
    compact["queries"] = kept
    # reserve WIDE placeholders before measuring: the real values replace
    # them after the fill loop, so they must never be longer than the
    # reservation (a 1-digit reserve overflowed the budget by 1 byte when
    # 11 queries were omitted — caught on the first sf0.1 run)
    compact["queries_omitted"] = 999
    compact["queries_omitted_sec"] = 99999.9
    compact["queries_omitted_md5"] = "x" * 10
    for k, v in ranked:
        kept[k] = v
        if len(json.dumps(compact, separators=(",", ":"))) > _TAIL_BUDGET:
            # this key didn't fit; a shorter-keyed slower... no — ranked is
            # by time, so keep scanning: a later (faster but shorter-keyed)
            # entry may still fit (ADVICE r09 #4)
            del kept[k]

    def _account() -> None:
        omitted = sorted(k for k in qs if k not in kept)
        compact["queries_omitted"] = len(omitted)
        compact["queries_omitted_sec"] = _sig(
            sum(out["queries"][k] for k in omitted), 2
        )
        # set fingerprint of the omitted ids (r13, VERDICT r12 #2): the
        # judge can verify the omitted set against the committed detail
        # artifact's ids without trusting the count alone
        import hashlib

        compact["queries_omitted_md5"] = hashlib.md5(
            ",".join(omitted).encode()
        ).hexdigest()[:10]

    _account()
    # the real omitted_sec can serialize 1 byte WIDER than the 99999.9
    # placeholder (e.g. 150000.0) — re-measure after substitution and
    # shed the fastest kept rows until the line truly fits (ADVICE r09 #4)
    while kept and len(json.dumps(compact, separators=(",", ":"))) > _TAIL_BUDGET:
        del kept[min(kept, key=lambda k: (kept[k], len(k)))]
        _account()
    return compact


if __name__ == "__main__":
    main()
