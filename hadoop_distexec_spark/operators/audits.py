"""Round-8 prep waves: sketch-accuracy, drift, privacy, co-occurrence,
windowed-cardinality, sampling, regression and join-filter audits (the
hand-off pattern: implemented + pytest-gated with TESTED draft DuckDB
oracle twins; registered under q_-prefixed ids).

Wave 1 — five operators a training-data / analytics pipeline runs
continuously:

- ``cms_topk``       — count-min-sketch heavy hitters SHIPPED WITH the
                       harness measuring its overestimate vs exact counts
                       (the repo's standing rule: an estimator ships with
                       its measured error).
- ``drift_tvd``      — train/serve distribution drift between the first
                       and second halves of the event stream: per-bin
                       shares and total-variation distance, all in exact
                       integer parts-per-million.
- ``k_anonymity``    — quasi-identifier group-size spectrum over the
                       customer dimension: how many rows sit in groups
                       smaller than k (re-identification risk) before a
                       dataset ships.
- ``itemset_pairs``  — support-pruned market-basket pair mining over
                       lineitem (parts co-ordered in one order), the
                       classic a-priori first round (support cutoffs are
                       ppm RATES of the basket count — scale-invariant).
- ``sliding_distinct`` — exact distinct users per 2h/1h sliding window
                       beside an HLL tier whose error is CHECKED in-query
                       (TRUE-flag idiom, cf. q_quantile_bins /
                       q_robust_stats).

Wave 2 — ``domain_cap_sample`` (the pretraining per-source document
cap), ``group_ols`` (per-group least squares via bigint-lane sufficient
statistics), ``benford_audit`` (first-digit law distance in exact ppm),
``l_diversity`` (sensitive-value diversity beside k_anonymity),
``ks_doclen`` (unbinned exact two-sample KS beside drift_tvd).

Wave 3 — ``itemset_triples`` (a-priori round two, closure-pruned at the
triple threshold), ``bloom_fpr_eval`` (partitioned bloom join filter
with MEASURED false-positive rate on the incremental-join shape); the
wave's other two live with their families: ``llmops.pq_recall`` and
``streaming.windows.stream_dedup_data``.

Wave 4 — ``hot_key_churn`` here (heavy-hitter identity churn between
stream halves); the rest with their families: ``pipeline.label_prop``,
``pipeline.split_leakage``, ``llmops.mix_temperature``,
``plans.manifest_plan.compaction_plan``.

Determinism rules follow hadoop_distexec_spark/functions/numeric.py: all
counts and shares are exact bigints (shares in integer ppm via ``div``,
never IEEE division); hashes are the md5/conv 60-bit idiom reproducible
in DuckDB; timestamps export as epoch bigints; every top-k orders by a
unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hadoop_distexec_spark.registry import register
from hadoop_distexec_spark.sources.tables import table

# ---------------------------------------------------------------------------
# cms_topk — count-min sketch with measured overestimate
# ---------------------------------------------------------------------------

CMS_WIDTH = 1024  # buckets per row; 8 KiB of bigint counters per hash row
CMS_DEPTH = 4  # independent hash rows; min over rows kills most collisions
CMS_TOPK = 20
_CMS_ROW_IDX = ", ".join(str(j) for j in range(CMS_DEPTH))


def _cms_bucket(j: int, key_col: str = "key"):
    """Row-j bucket id: low 60 bits of md5('cm{j}:'||key) mod width — the
    minhash md5/conv idiom (llmops._perm_hash), reproducible in DuckDB as
    CAST('0x'||substr(md5(..),1,15) AS BIGINT) % width."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(F.lit(f"cm{j}:"), F.col(key_col).cast("string")),
                        "UTF-8",
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )


def cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over lineitem part keys, shipped
    with the harness that measures the sketch: the exact top-k parts by
    line count joined against their CMS estimates, reporting each
    overestimate and asserting the one-sided bound (CMS never
    underestimates). The sketch tier of the hot-key audit family next to
    q_key_skew_profile's exact tier — at 100 TB the sketch is what a
    streaming ingest can actually afford to keep per source.

    The sketch is built FROM the exact per-key counts (each key hashes
    to one bucket per row; bucket value = sum of colliding key counts),
    so the estimate equals what a streaming CMS would hold after the
    same rows — without a second pass over raw lines.

    Determinism: exact bigint counts throughout; bucket ids via the md5
    60-bit idiom; top-k ties break on key asc.

    Shape at 100 TB: one key-count aggregate (map-side combined, the
    only full-volume shuffle), a DEPTHxWIDTH-cell sketch aggregate
    (bounded 4096 cells — map-side combinable to almost nothing), a
    TakeOrderedAndProject head for the exact top-k, and a candidates-only
    equi-join of k*depth rows against the bounded sketch (AQE broadcasts
    it at runtime; no static hint needed for a provably tiny side)."""
    li = table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    cnt = li.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))

    # per-key bucket ids materialized BEFORE the explode (the
    # Generate-amplification rule: never co-locate an expensive expr with
    # the generator that fans its row out)
    hashed = cnt.select(
        "key", "cnt", *[_cms_bucket(j).alias(f"b{j}") for j in range(CMS_DEPTH)]
    )
    jb = hashed.select(
        "key",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"), F.col(f"b{j}").alias("b")
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("jb"),
    ).select("key", "cnt", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    sketch = jb.groupBy("j", "b").agg(F.sum("cnt").alias("bucket_cnt"))

    top = cnt.orderBy(F.col("cnt").desc(), "key").limit(CMS_TOPK)
    est = (
        jb.join(top.select("key"), "key")
        .join(sketch, ["j", "b"])
        .groupBy("key", "cnt")
        .agg(F.min("bucket_cnt").alias("cms_est"))
    )
    return est.select(
        "key",
        F.col("cnt").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("cnt")).alias("overest"),
        (F.col("cms_est") >= F.col("cnt")).alias("bound_ok"),
    )


CMS_TOPK_ORACLE = f"""
    WITH cnt AS (
      SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
    jb AS (
      SELECT key, cnt, j,
             CAST('0x' || substr(md5('cm' || j || ':' || CAST(key AS VARCHAR)),
                                 1, 15)
                  AS BIGINT) % {CMS_WIDTH} AS b
      FROM cnt CROSS JOIN UNNEST([{_CMS_ROW_IDX}]) AS t(j)),
    sketch AS (
      SELECT j, b, CAST(SUM(cnt) AS BIGINT) AS bucket_cnt
      FROM jb GROUP BY j, b),
    top AS (SELECT key FROM cnt ORDER BY cnt DESC, key LIMIT {CMS_TOPK}),
    est AS (
      SELECT jb.key, jb.cnt, MIN(s.bucket_cnt) AS cms_est
      FROM jb JOIN top USING (key)
              JOIN sketch s ON s.j = jb.j AND s.b = jb.b
      GROUP BY jb.key, jb.cnt)
    SELECT key, cnt AS exact_cnt, cms_est,
           cms_est - cnt AS overest, cms_est >= cnt AS bound_ok
    FROM est
    """


# ---------------------------------------------------------------------------
# drift_tvd — first-half vs second-half distribution drift, exact ppm
# ---------------------------------------------------------------------------

DRIFT_VALUE_BINS = 8


def drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the FIRST and SECOND halves of the
    event stream (split at the exact epoch-micros midpoint): per-feature,
    per-bin event shares before/after and the per-feature total-variation
    distance — the standard train/serve skew check run before a model
    trained on one window scores the next.

    Features: ``event_type`` (categorical, bins = the type domain) and
    ``value_bin`` (8 equal-width bins over the exact integer-cents value
    range). Everything is exact bigint arithmetic: values quantize to
    cents BEFORE binning (integer bin index, no IEEE floor near a
    boundary — the FMA-drift lesson), shares are integer parts-per-million
    via ``div``, and TVD is half the sum of absolute ppm diffs.

    Shape at 100 TB: one 1-row min/max scalar broadcast onto the scan
    (static hint whitelisted: provably 1 row), then ONE conditional
    aggregate over a fixed 2x explode (each event emits its two
    (feature, bucket) rows) — map-side combinable to <=|types|+bins
    cells; the TVD window runs over those bounded cells only. Two scans
    of events total (stats + bins), each pruned to 3 columns."""
    ev = table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("tus"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vcents"),
    )
    stats = ev.agg(
        F.min("tus").alias("lo"),
        F.max("tus").alias("hi"),
        F.min("vcents").alias("vlo"),
        F.max("vcents").alias("vhi"),
    )
    j = ev.crossJoin(F.broadcast(stats))
    # one scan feeds BOTH features: each event explodes to its two
    # (feature, bucket) rows — a fixed 2x fan-out of 3 small columns, vs
    # a union of two branches that would scan events twice and duplicate
    # the stats broadcast
    fb = j.select(
        (F.col("tus") * 2 <= F.col("lo") + F.col("hi")).alias("is_before"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("feature"),
                    F.col("event_type").alias("bucket"),
                ),
                F.struct(
                    F.lit("value_bin").alias("feature"),
                    F.expr(
                        f"CAST((vcents - vlo) * {DRIFT_VALUE_BINS}"
                        " div (vhi - vlo + 1) AS STRING)"
                    ).alias("bucket"),
                ),
            )
        ).alias("fb"),
    ).select("is_before", F.col("fb.feature").alias("feature"), F.col("fb.bucket").alias("bucket"))
    cells = (
        fb.groupBy("feature", "bucket")
        .agg(
            F.sum(F.when(F.col("is_before"), 1).otherwise(0)).alias("n_before"),
            F.sum(F.when(F.col("is_before"), 0).otherwise(1)).alias("n_after"),
        )
    )
    shares = cells.select(
        "feature",
        "bucket",
        "n_before",
        "n_after",
        F.expr("n_before * 1000000 div sum(n_before) OVER (PARTITION BY feature)")
        .cast("long")
        .alias("share_before_ppm"),
        F.expr("n_after * 1000000 div sum(n_after) OVER (PARTITION BY feature)")
        .cast("long")
        .alias("share_after_ppm"),
    )
    return shares.select(
        "feature",
        "bucket",
        "n_before",
        "n_after",
        "share_before_ppm",
        "share_after_ppm",
        F.abs(F.col("share_before_ppm") - F.col("share_after_ppm")).alias("drift_ppm"),
        F.expr(
            "sum(abs(share_before_ppm - share_after_ppm)) "
            "OVER (PARTITION BY feature) div 2"
        )
        .cast("long")
        .alias("tvd_half_ppm"),
    )


DRIFT_TVD_ORACLE = f"""
    WITH ev AS (
      SELECT epoch_us(ts) AS tus, event_type,
             CAST(round(value * 100) AS BIGINT) AS vcents
      FROM events),
    stats AS (
      SELECT MIN(tus) AS lo, MAX(tus) AS hi,
             MIN(vcents) AS vlo, MAX(vcents) AS vhi
      FROM ev),
    rows_both AS (
      SELECT 'event_type' AS feature, event_type AS bucket,
             tus * 2 <= lo + hi AS is_before
      FROM ev, stats
      UNION ALL
      SELECT 'value_bin' AS feature,
             CAST((vcents - vlo) * {DRIFT_VALUE_BINS} // (vhi - vlo + 1)
                  AS VARCHAR) AS bucket,
             tus * 2 <= lo + hi AS is_before
      FROM ev, stats),
    cells AS (
      SELECT feature, bucket,
             CAST(SUM(CASE WHEN is_before THEN 1 ELSE 0 END) AS BIGINT)
               AS n_before,
             CAST(SUM(CASE WHEN is_before THEN 0 ELSE 1 END) AS BIGINT)
               AS n_after
      FROM rows_both GROUP BY feature, bucket),
    shares AS (
      SELECT feature, bucket, n_before, n_after,
             CAST(n_before * 1000000 //
                  SUM(n_before) OVER (PARTITION BY feature) AS BIGINT)
               AS share_before_ppm,
             CAST(n_after * 1000000 //
                  SUM(n_after) OVER (PARTITION BY feature) AS BIGINT)
               AS share_after_ppm
      FROM cells)
    SELECT feature, bucket, n_before, n_after,
           share_before_ppm, share_after_ppm,
           abs(share_before_ppm - share_after_ppm) AS drift_ppm,
           CAST(SUM(abs(share_before_ppm - share_after_ppm))
                  OVER (PARTITION BY feature) // 2 AS BIGINT) AS tvd_half_ppm
    FROM shares
    """


# ---------------------------------------------------------------------------
# k_anonymity — quasi-identifier group-size spectrum
# ---------------------------------------------------------------------------

K_ANON_THRESHOLD = 5
K_ANON_BAL_BUCKET = 1000.0


def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer dimension under the quasi-
    identifier (nation, market segment, account-balance bucket of
    {K_ANON_BAL_BUCKET:.0f}): the group-size spectrum — for each observed
    group size k, how many QI groups and rows sit at that size, each
    row's share of the table in exact ppm, and whether that size is
    below the k={K_ANON_THRESHOLD} re-identification threshold. The
    release gate a dataset passes before customer-joined exports ship.

    Determinism: the balance bucket is floor of ONE IEEE division (same
    single-op expression both engines); everything else is exact bigint.

    Shape at 100 TB: one hash aggregate on the QI key (map-side
    combined), then a second aggregate on the group SIZE whose domain is
    bounded by the largest QI group — output is a handful of rows; the
    ppm window runs over those bounded rows only. No join, no sort
    beyond the spectrum's own bounded output."""
    c = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(K_ANON_BAL_BUCKET)).cast("long").alias(
            "bal_bucket"
        ),
    )
    groups = c.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).alias("k_size")
    )
    spectrum = groups.groupBy("k_size").agg(
        F.count(F.lit(1)).alias("n_groups"),
        (F.count(F.lit(1)) * F.col("k_size")).alias("n_rows"),
    )
    return spectrum.select(
        "k_size",
        "n_groups",
        "n_rows",
        (F.col("k_size") < K_ANON_THRESHOLD).alias("at_risk"),
        F.expr("n_rows * 1000000 div sum(n_rows) OVER ()")
        .cast("long")
        .alias("share_rows_ppm"),
    )


K_ANONYMITY_ORACLE = f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / {K_ANON_BAL_BUCKET}) AS BIGINT)
               AS bal_bucket
      FROM customer),
    groups AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS k_size
      FROM qi GROUP BY 1, 2, 3),
    spectrum AS (
      SELECT k_size, COUNT(*) AS n_groups, COUNT(*) * k_size AS n_rows
      FROM groups GROUP BY k_size)
    SELECT CAST(k_size AS BIGINT) AS k_size,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(n_rows AS BIGINT) AS n_rows,
           k_size < {K_ANON_THRESHOLD} AS at_risk,
           CAST(n_rows * 1000000 // SUM(n_rows) OVER () AS BIGINT)
             AS share_rows_ppm
    FROM spectrum
    """


# ---------------------------------------------------------------------------
# itemset_pairs — support-pruned market-basket pair mining
# ---------------------------------------------------------------------------

# Support thresholds are RATES (ppm of the basket count), not absolute
# counts — the corpus-derived-constant lesson (q_dedup_recall_eval's MOD,
# VERDICT r05 #6) applied to a-priori: an absolute min-support silently
# changes meaning with corpus size (the 10x stress fixture inflated every
# support 10x and blew the candidate space). Both engines derive the
# cutoffs from the same COUNT(DISTINCT basket). At sf0.01 (14743 baskets)
# these reproduce the original cutoffs 25 / 3 / 2 exactly.
ITEMSET_SUP_PPM = 1700  # item support cutoff: >= 0.17% of baskets (floor 2)
ITEMSET_PAIR_PPM = 204  # pair co-occurrence cutoff: >= 0.0204% of baskets
ITEMSET_TRIPLE_PPM = 136  # triple cutoff: >= 0.0136% of baskets
ITEMSET_TOPK = 50


def _min_count(n_baskets: int, ppm: int) -> int:
    """RATE cutoff -> absolute count: max(2, n_baskets * ppm div 1e6) —
    exact integer arithmetic, mirrored by the oracles' GREATEST CTE."""
    return max(2, n_baskets * ppm // 1_000_000)


def _frequent_basket_items(spark: SparkSession, sf_dir: str):
    """((order, item, support) rows restricted to FREQUENT items,
    n_baskets) — the a-priori downward-closure base shared by
    itemset_pairs and itemset_triples so the two rounds cannot drift.
    The basket count is ONE bounded planning-metadata action (a 1-row
    collect, the repo's accepted pattern) so every rate cutoff becomes
    a literal in the plan — no scalar-broadcast subtree to duplicate
    across the self-join branches."""
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_baskets = int(
        items.agg(F.countDistinct("l_orderkey").alias("n")).collect()[0][0]
    )
    sup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("sup"))
    freq = sup.where(F.col("sup") >= _min_count(n_baskets, ITEMSET_SUP_PPM))
    fitems = items.join(freq, "l_partkey").select("l_orderkey", "l_partkey", "sup")
    return fitems, n_baskets


def _pair_counts(
    fitems: DataFrame, n_baskets: int, min_ppm: int = ITEMSET_PAIR_PPM
) -> DataFrame:
    """Frequent-pair co-occurrence counts over the frequent-item basket
    rows (a-priori round one's aggregate, shared with round two).
    ``min_ppm`` is the support RATE cutoff: round one reports at
    ITEMSET_PAIR_PPM; round two PRUNES at its own (lower) triple
    threshold, because downward closure only holds at a single
    threshold — a support-t triple forces every sub-pair to support
    >= t, but nothing relates it to a HIGHER round-one cutoff."""
    a = fitems.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_a"),
        F.col("sup").alias("sup_a"),
    )
    b = fitems.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_b"),
        F.col("sup").alias("sup_b"),
    )
    pairs = a.join(b, "l_orderkey").where(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b", "sup_a", "sup_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= _min_count(n_baskets, min_ppm))
    )



def itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori round one over lineitem baskets: pairs of parts
    co-ordered in the same order, counted only between FREQUENT items
    (support >= the ITEMSET_SUP_PPM rate of the basket count) and kept
    when the pair itself co-occurs at the ITEMSET_PAIR_PPM rate; top
    {ITEMSET_TOPK} pairs by co-count with each side's support and the
    exact-ppm Jaccard of their order sets. Thresholds are RATES derived
    from the same COUNT both engines see (floor 2) — scale-invariant
    semantics, see the constants block.

    Determinism: exact bigint counts; pair key ordered part_a < part_b;
    top-k ties break on (part_a, part_b); Jaccard in integer ppm.

    Shape at 100 TB: the a-priori downward-closure prune — per-item
    supports first (one map-side-combined agg), frequent filter, then
    the pair self-join runs only between frequent items (hint-free
    equi-joins; AQE sizes the frequent-item side at runtime). Pair
    fan-out per order is bounded by the order's own basket size (TPC-H
    orders hold <= ~13 distinct parts -> <= 78 pairs), so the join output
    is ~40x the basket count, not quadratic in the catalog. The pair
    aggregate map-side combines; the head is TakeOrderedAndProject."""
    fitems, n_baskets = _frequent_basket_items(spark, sf_dir)
    pc = _pair_counts(fitems, n_baskets)
    return (
        pc.select(
            "part_a",
            "part_b",
            "n_co",
            "sup_a",
            "sup_b",
            F.expr("n_co * 1000000 div (sup_a + sup_b - n_co)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.col("n_co").desc(), "part_a", "part_b")
        .limit(ITEMSET_TOPK)
    )


# the a-priori CTE chain shared verbatim by the pairs and triples
# oracles (one definition, so support thresholds cannot drift); the
# GREATEST(2, n*ppm//1e6) cutoffs mirror _min_count exactly. The pc CTE
# (pair counts at ITEMSET_PAIR_PPM, round one's reporting cutoff) is
# pairs-only and appended by ITEMSET_PAIRS_ORACLE alone — the triples
# oracle prunes pairs at ITEMSET_TRIPLE_PPM via its own fp CTE.
_ITEMSET_CTES = f"""items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
    sup AS (
      SELECT l_partkey, COUNT(*) AS sup FROM items GROUP BY 1),
    fitems AS (
      SELECT i.l_orderkey, i.l_partkey, s.sup
      FROM items i JOIN sup s USING (l_partkey), nb
      WHERE s.sup >= GREATEST(2, n_baskets * {ITEMSET_SUP_PPM} // 1000000)),
    pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS part_a, b.l_partkey AS part_b,
             a.sup AS sup_a, b.sup AS sup_b
      FROM fitems a JOIN fitems b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey)"""

ITEMSET_PAIRS_ORACLE = f"""
    WITH {_ITEMSET_CTES},
    pc AS (
      SELECT part_a, part_b, sup_a, sup_b, COUNT(*) AS n_co
      FROM pairs, nb GROUP BY 1, 2, 3, 4, n_baskets
      HAVING COUNT(*) >= GREATEST(2, n_baskets * {ITEMSET_PAIR_PPM} // 1000000))
    SELECT part_a, part_b, CAST(n_co AS BIGINT) AS n_co,
           CAST(sup_a AS BIGINT) AS sup_a, CAST(sup_b AS BIGINT) AS sup_b,
           CAST(n_co * 1000000 // (sup_a + sup_b - n_co) AS BIGINT)
             AS jaccard_ppm
    FROM pc
    ORDER BY n_co DESC, part_a, part_b LIMIT {ITEMSET_TOPK}
    """


# ---------------------------------------------------------------------------
# sliding_distinct — exact sliding-window cardinality + checked HLL tier
# ---------------------------------------------------------------------------

SLIDE_WINDOW_S = 7200  # 2h windows
SLIDE_STEP_S = 3600  # sliding every 1h
SLIDE_HLL_LGK = 14  # DataSketches HLL_4, 2^14 buckets (~16 KiB dense):
# rsd ~0.8% -> the 10% flag holds at ~12 sigma; measured max rel-err is
# 0.0% at every fixture SF (per-window cardinalities sit in the sketch's
# exact sparse mode). Chosen over approx_count_distinct(rsd=0.005) in
# r13: Spark's HLL++ buffer at that rsd is 6554 LONG aggregation
# attributes, and every AQE plan-canonicalization pass re-walks them on
# the DRIVER (QueryPlan.normalizeExpressions burned ~10s CPU in the
# thread dump, guide §7.3) — 3.2s/run of pure planning tax at sf0.1;
# the DataSketches sketch is ONE binary buffer attribute (0.5s/run,
# same flag values at every SF).
SLIDE_HLL_BOUND_PCT = 10  # |hll - exact| * 100 <= BOUND_PCT * exact


def sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per 2-hour window sliding hourly over the event
    stream: each event lands in the two hourly-aligned windows covering
    it (explode to window starts, dedupe per window), counted exactly,
    with an HLL sketch (hll_sketch_agg, lgK {SLIDE_HLL_LGK}) tier
    cross-checked IN-QUERY against the exact count — the TRUE-flag
    sketch idiom: the output carries the bound check, the oracle asserts
    it, and a sketch drifting past {SLIDE_HLL_BOUND_PCT}% flips the flag
    and fails the hash compare.

    Determinism: window starts as epoch-seconds bigints (UTC-pinned
    date_trunc both engines); exact distinct count; the flag compares
    integers ({SLIDE_HLL_BOUND_PCT}% as *100/*{SLIDE_HLL_BOUND_PCT}
    integer inequality, no IEEE).

    Shape at 100 TB: the explode is a fixed 2x fan-out (window/step), so
    the shuffled volume is 2x events — the alternative (a range join of
    events against a generated window table) shuffles the same rows AND
    adds the join. Since r13 both arms ride ONE two-level cascade:
    groupBy(win, user) counts per-user events (the exact arm's dedup
    shuffle, map-side combinable), then groupBy(win) derives n_events =
    SUM of the per-user counts, n_users = the exact row count, and the
    sketch over the deduped user ids — a distinct-count sketch is a
    function of the distinct value set only, so deduping first leaves
    its estimate unchanged while the corpus-sized explode output is
    scanned and shuffled ONCE instead of twice (was: 2 scans + 4
    exchanges + a join; now: 1 scan + 2 exchanges; 3.9 -> 0.9s at sf0.1
    together with the SLIDE_HLL_LGK sketch swap). At 100 TB the
    deployment keeps ONLY the one-pass sketch arm (mergeable sketches,
    no distinct shuffle); the exact arm is the audit tier this harness
    exists to price — the flag proves the cheap tier honest."""
    ev = table(spark, sf_dir, "events").select(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
        "user_id",
    )
    wins = ev.select(
        F.explode(
            F.array(F.col("h"), F.col("h") - F.lit(SLIDE_STEP_S))
        ).alias("win_start_s"),
        "user_id",
    )
    per_user = wins.groupBy("win_start_s", "user_id").agg(
        F.count(F.lit(1)).alias("n_ev")
    )
    agg = per_user.groupBy("win_start_s").agg(
        # sum of per-user counts = total events; cast keeps the long type
        # the old count(1) arm produced
        F.sum("n_ev").cast("long").alias("n_events"),
        # count("user_id") over the deduped groups = exact COUNT(DISTINCT
        # user_id) semantics (a NULL user group contributes 0, exactly as
        # the old distinct-then-count arm and the oracle's COUNT(DISTINCT))
        F.count("user_id").alias("n_users"),
        F.expr(
            f"hll_sketch_estimate(hll_sketch_agg(user_id, {SLIDE_HLL_LGK}))"
        ).alias("hll"),
    )
    return agg.select(
        "win_start_s",
        "n_events",
        "n_users",
        (
            F.abs(F.col("hll") - F.col("n_users")) * 100
            <= F.lit(SLIDE_HLL_BOUND_PCT) * F.col("n_users")
        ).alias("hll_within_10pct"),
    )


SLIDING_DISTINCT_ORACLE = f"""
    WITH wins AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) + d
               AS win_start_s,
             user_id
      FROM events CROSS JOIN UNNEST([0, -{SLIDE_STEP_S}]) AS t(d))
    SELECT win_start_s, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           TRUE AS hll_within_10pct
    FROM wins GROUP BY win_start_s
    """


# ===========================================================================
# Round-8 prep, wave 2: per-source cap sampling, per-group OLS, Benford
# first-digit audit, l-diversity, and an unbinned exact KS drift statistic.
# Same hand-off pattern as wave 1: implemented + pytest-gated with TESTED
# DuckDB twins (tests/test_round8_ops.py); registered under q_-prefixed ids.
# ===========================================================================

# ---------------------------------------------------------------------------
# domain_cap_sample — cap documents per source (the pretraining domain cap)
# ---------------------------------------------------------------------------

DOMAIN_CAP = 20  # keep at most this many docs per source


def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the standard pretraining-mix step that
    stops one crawl domain from dominating the corpus: within each
    source keep at most {DOMAIN_CAP} documents chosen by a deterministic
    md5(doc_id) priority (a fixed uniform sample, retry-stable across
    reruns), and report the per-source audit: docs/chars before, kept
    and dropped counts, kept-char share in exact ppm, and whether the
    cap actually bit. The kept-CHARS column is the proof the priority
    order is load-bearing: WHICH docs survive decides it, not just how
    many (cf. q_uniform_sample's unique-key contract).

    Determinism: priority = (md5 of the decimal doc_id string, doc_id)
    — total order, no ties; counts exact bigints; shares integer ppm.

    Shape at 100 TB (restructured r11, VERDICT r10 what's-wrong #1): the
    pre-r11 single window ranked every document of a source in ONE task
    — at 100 TB one crawl source can be a double-digit share of all
    rows, the classic skewed-key window trap. But the totals
    (n_docs/total_chars) are rank-free map-side aggregates, and the
    kept arm only needs the per-source top-{DOMAIN_CAP} — the two-level
    selection (the kmv/data_mix idiom): level 1 keeps the cap smallest
    priorities within every (source, input-partition) slice (the global
    smallest are a subset of the union of per-slice smallest), so the
    per-source window sorts at most #partitions x cap survivors however
    hot the source. One |sources|-row join stitches the two arms;
    output and oracle byte-identical to the pre-r11 version."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")).alias("pri"),
    )
    totals = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    w1 = W.partitionBy("source", "_pid").orderBy("pri", "doc_id")
    wk = W.partitionBy("source").orderBy("pri", "doc_id")
    survivors = (
        d.withColumn("_pid", F.spark_partition_id())
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .drop("rn", "_pid")
    )
    kept = (
        survivors.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    return (
        totals.join(kept, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
            (F.col("n_docs") > DOMAIN_CAP).alias("cap_hit"),
            "total_chars",
            "kept_chars",
            F.expr("kept_chars * 1000000 div total_chars")
            .cast("long")
            .alias("kept_chars_ppm"),
        )
        .orderBy("source")
    )


DOMAIN_CAP_SAMPLE_ORACLE = f"""
    WITH d AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           COUNT(*) - CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_dropped,
           COUNT(*) > {DOMAIN_CAP} AS cap_hit,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN n_chars ELSE 0 END)
                * 1000000 // SUM(n_chars) AS BIGINT) AS kept_chars_ppm
    FROM d GROUP BY source ORDER BY source
    """


# ---------------------------------------------------------------------------
# group_ols — per-group least-squares fit in exact integer arithmetic
# ---------------------------------------------------------------------------

OLS_LANE_BITS = 20  # product-sum lane split; see headroom note in docstring
OLS_LANE_MOD = 1 << OLS_LANE_BITS


def group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of extended price on
    quantity over lineitem (grouped by return flag) — the grouped
    regression every pricing/forecast sanity check runs, expressed as
    the five classic sufficient statistics (n, Sx, Sy, Sxx, Sxy) so the
    whole fit is ONE map-side-combinable aggregate.

    Determinism: both measures quantize to integer cents BEFORE any
    arithmetic; the product statistics accumulate in TWO BIGINT LANES
    (product split at 2^{OLS_LANE_BITS}: hi = p div M, lo = p mod M) that
    stay inside whole-stage codegen — measured 4.4x faster than
    DECIMAL(38,0) sums on 6M rows — and reconstruct into DECIMAL(38,0)
    / HUGEINT int128 only on the |groups| output rows; slope and
    intercept come out of the closed form by integer ``div`` at ppm
    precision (truncating division matches engines for either sign —
    verified). No IEEE addition anywhere, so the fit is independent of
    partitioning and row order.

    Shape at 100 TB: one bigint aggregate over the scan (pruned to 3
    columns), output = |groups| rows; the int128 reconstruction and
    closed-form division happen on those rows only. Headroom: the lo
    lane sums at most n * 2^{OLS_LANE_BITS} — overflow-free below ~8e12
    rows per group; the hi lane (cents-scale products / 2^{OLS_LANE_BITS})
    below ~1e14; the reconstructed n*Sxy*1e6 at 1e10 rows stays under
    1e37 < DECIMAL(38) — documented, not assumed."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("xq"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yc"),
    )
    m = OLS_LANE_MOD
    lanes = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx_l"),
        F.sum("yc").alias("sy_l"),
        F.sum(F.expr(f"(xq * xq) % {m}")).alias("sxx_lo"),
        F.sum(F.expr(f"(xq * xq) div {m}")).alias("sxx_hi"),
        F.sum(F.expr(f"(xq * yc) % {m}")).alias("sxy_lo"),
        F.sum(F.expr(f"(xq * yc) div {m}")).alias("sxy_hi"),
    )
    s = lanes.select(
        "l_returnflag",
        "n",
        F.expr("CAST(sx_l AS DECIMAL(38,0))").alias("sx"),
        F.expr("CAST(sy_l AS DECIMAL(38,0))").alias("sy"),
        F.expr(f"CAST(sxx_hi AS DECIMAL(38,0)) * {m} + sxx_lo").alias("sxx"),
        F.expr(f"CAST(sxy_hi AS DECIMAL(38,0)) * {m} + sxy_lo").alias("sxy"),
    )
    fit = s.select(
        "l_returnflag",
        "n",
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_ppm"),
        F.col("sx").cast("long").alias("sx_cents"),
        F.col("sy").cast("long").alias("sy_cents"),
    )
    return fit.select(
        "l_returnflag",
        "n",
        "slope_ppm",
        F.expr(
            "CAST((CAST(sy_cents AS DECIMAL(38,0)) * 1000000"
            " - CAST(slope_ppm AS DECIMAL(38,0)) * sx_cents)"
            " div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)"
        ).alias("intercept_cents"),
    ).orderBy("l_returnflag")


GROUP_OLS_ORACLE = f"""
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT) AS xq,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      FROM lineitem),
    lanes AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(xq) AS BIGINT) AS sx_l,
             CAST(SUM(yc) AS BIGINT) AS sy_l,
             CAST(SUM((xq * xq) % {OLS_LANE_MOD}) AS BIGINT) AS sxx_lo,
             CAST(SUM((xq * xq) // {OLS_LANE_MOD}) AS BIGINT) AS sxx_hi,
             CAST(SUM((xq * yc) % {OLS_LANE_MOD}) AS BIGINT) AS sxy_lo,
             CAST(SUM((xq * yc) // {OLS_LANE_MOD}) AS BIGINT) AS sxy_hi
      FROM q GROUP BY l_returnflag),
    s AS (
      SELECT l_returnflag, n,
             CAST(sx_l AS HUGEINT) AS sx,
             CAST(sy_l AS HUGEINT) AS sy,
             CAST(sxx_hi AS HUGEINT) * {OLS_LANE_MOD} + sxx_lo AS sxx,
             CAST(sxy_hi AS HUGEINT) * {OLS_LANE_MOD} + sxy_lo AS sxy
      FROM lanes),
    fit AS (
      SELECT l_returnflag, n,
             CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                  AS BIGINT) AS slope_ppm,
             CAST(sx AS BIGINT) AS sx_cents,
             CAST(sy AS BIGINT) AS sy_cents
      FROM s)
    SELECT l_returnflag, n, slope_ppm,
           CAST((CAST(sy_cents AS HUGEINT) * 1000000
                 - CAST(slope_ppm AS HUGEINT) * sx_cents)
                // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS intercept_cents
    FROM fit ORDER BY l_returnflag
    """


# ---------------------------------------------------------------------------
# benford_audit — first-significant-digit distribution vs Benford's law
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6): public constants of Benford's law, shared
# verbatim by both engines via this dict so they cannot drift.
BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items())
    + " END"
)


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals against
    Benford's law — the classic synthetic-data / fraud screen a finance
    pipeline runs over every new feed: per digit 1-9, the observed count
    and share (exact ppm), the Benford expectation (shared literal
    constants), the absolute deviation, and the summed total deviation
    carried on every row. TPC-H-ish uniform prices should FAIL Benford
    hard — the audit's value is the measured distance, not a pass flag.

    Determinism: the digit comes from the DECIMAL STRING of integer
    cents (no log10, no float compare); shares are integer ppm via
    ``div``; the expectation literals live in one Python dict rendered
    into both engines' SQL.

    Shape at 100 TB: one conditional aggregate over the scan pruned to
    one column — 9 output cells, map-side combinable; the share/total
    windows run over those 9 rows only. No join, no sort."""
    o = table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS INT)"
        ).alias("digit")
    )
    cnt = o.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    shares = cnt.select(
        "digit",
        "n",
        F.expr("n * 1000000 div sum(n) OVER ()").cast("long").alias("share_ppm"),
        F.expr(_BENFORD_CASE).cast("long").alias("benford_ppm"),
    )
    return shares.select(
        "digit",
        "n",
        "share_ppm",
        "benford_ppm",
        F.abs(F.col("share_ppm") - F.col("benford_ppm")).alias("dev_ppm"),
        F.expr("sum(abs(share_ppm - benford_ppm)) OVER ()")
        .cast("long")
        .alias("total_dev_ppm"),
    ).orderBy("digit")


BENFORD_AUDIT_ORACLE = f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders),
    cnt AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
    shares AS (
      SELECT digit, n,
             CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS share_ppm,
             CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm
      FROM cnt)
    SELECT digit, n, share_ppm, benford_ppm,
           abs(share_ppm - benford_ppm) AS dev_ppm,
           CAST(SUM(abs(share_ppm - benford_ppm)) OVER () AS BIGINT)
             AS total_dev_ppm
    FROM shares ORDER BY digit
    """


# ---------------------------------------------------------------------------
# l_diversity — sensitive-attribute diversity per quasi-identifier group
# ---------------------------------------------------------------------------

L_DIV_THRESHOLD = 2  # groups with fewer distinct sensitive values are at risk


def l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit beside ``k_anonymity``: k-anonymity bounds how
    FEW rows share a quasi-identifier, but a group whose rows all carry
    the SAME sensitive value still leaks it — l-diversity counts the
    distinct sensitive values (market segment) per QI group (nation x
    balance bucket) and reports the l-spectrum: for each observed l, how
    many groups and rows sit there, row share in exact ppm, and the
    at-risk flag below l={L_DIV_THRESHOLD}. The second gate of the same
    privacy release k_anonymity fronts.

    Determinism: same single-IEEE-division balance bucket as
    k_anonymity (shared contract); all else exact bigint.

    Shape at 100 TB: one (QI, sensitive) aggregate — map-side combined,
    the only full-volume shuffle — then a QI-level count, then a
    bounded l-spectrum aggregate; the ppm window runs over the handful
    of spectrum rows. Join-free."""
    c = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(K_ANON_BAL_BUCKET)).cast("long").alias(
            "bal_bucket"
        ),
    )
    per_value = c.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows_v")
    )
    groups = per_value.groupBy("c_nationkey", "bal_bucket").agg(
        F.count(F.lit(1)).alias("l_distinct"),
        F.sum("n_rows_v").alias("k_size"),
    )
    spectrum = groups.groupBy("l_distinct").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("k_size").alias("n_rows"),
    )
    return spectrum.select(
        "l_distinct",
        "n_groups",
        "n_rows",
        (F.col("l_distinct") < L_DIV_THRESHOLD).alias("at_risk"),
        F.expr("n_rows * 1000000 div sum(n_rows) OVER ()")
        .cast("long")
        .alias("share_rows_ppm"),
    ).orderBy("l_distinct")


L_DIVERSITY_ORACLE = f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / {K_ANON_BAL_BUCKET}) AS BIGINT)
               AS bal_bucket
      FROM customer),
    per_value AS (
      SELECT c_nationkey, bal_bucket, c_mktsegment, COUNT(*) AS n_rows_v
      FROM qi GROUP BY 1, 2, 3),
    groups AS (
      SELECT c_nationkey, bal_bucket,
             COUNT(*) AS l_distinct, SUM(n_rows_v) AS k_size
      FROM per_value GROUP BY 1, 2),
    spectrum AS (
      SELECT l_distinct, COUNT(*) AS n_groups,
             CAST(SUM(k_size) AS BIGINT) AS n_rows
      FROM groups GROUP BY l_distinct)
    SELECT CAST(l_distinct AS BIGINT) AS l_distinct,
           CAST(n_groups AS BIGINT) AS n_groups, n_rows,
           l_distinct < {L_DIV_THRESHOLD} AS at_risk,
           CAST(n_rows * 1000000 // SUM(n_rows) OVER () AS BIGINT)
             AS share_rows_ppm
    FROM spectrum ORDER BY l_distinct
    """


# ---------------------------------------------------------------------------
# ks_doclen — exact Kolmogorov-Smirnov drift statistic, unbinned
# ---------------------------------------------------------------------------

KS_TOPK = 10


def ks_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    document-length distributions of the corpus's first and second
    halves (split at the doc_id midpoint, the ingestion-order drift
    probe) — the UNBINNED companion to ``drift_tvd``: TVD on 8 bins can
    miss a shift that never crosses a bin edge; KS evaluates the CDF gap
    at every observed length. Returns the {KS_TOPK} lengths with the
    largest |CDF_a - CDF_b| gap (where the drift lives), each row
    carrying the global KS statistic in exact ppm.

    Determinism: CDFs are cumulative bigint counts over the distinct
    sorted lengths, shares integer ppm via ``div``; ties are impossible
    (one row per distinct length); top-k breaks on (gap desc, length).

    Shape at 100 TB: one 1-row min/max broadcast (whitelisted: provably
    1 row), one conditional aggregate to |distinct lengths| cells, and
    cumulative/max windows over those cells only — for a bounded-domain
    statistic like doc length that's thousands of rows, not the corpus.
    The head is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stats = d.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    tagged = d.crossJoin(F.broadcast(stats)).select(
        "n_chars", (F.col("doc_id") * 2 <= F.col("lo") + F.col("hi")).alias("is_a")
    )
    cells = tagged.groupBy("n_chars").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("cnt_b"),
    )
    cdf = cells.select(
        "n_chars",
        "cnt_a",
        "cnt_b",
        F.expr(
            "sum(cnt_a) OVER (ORDER BY n_chars) * 1000000 div sum(cnt_a) OVER ()"
        )
        .cast("long")
        .alias("cdf_a_ppm"),
        F.expr(
            "sum(cnt_b) OVER (ORDER BY n_chars) * 1000000 div sum(cnt_b) OVER ()"
        )
        .cast("long")
        .alias("cdf_b_ppm"),
    )
    gaps = cdf.select(
        "n_chars",
        "cnt_a",
        "cnt_b",
        "cdf_a_ppm",
        "cdf_b_ppm",
        F.abs(F.col("cdf_a_ppm") - F.col("cdf_b_ppm")).alias("gap_ppm"),
    )
    return (
        gaps.select(
            "n_chars",
            "cnt_a",
            "cnt_b",
            "cdf_a_ppm",
            "cdf_b_ppm",
            "gap_ppm",
            F.expr("max(gap_ppm) OVER ()").cast("long").alias("ks_ppm"),
        )
        .orderBy(F.col("gap_ppm").desc(), "n_chars")
        .limit(KS_TOPK)
    )


KS_DOCLEN_ORACLE = f"""
    WITH d AS (SELECT doc_id, n_chars FROM documents),
    stats AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM d),
    tagged AS (
      SELECT n_chars, doc_id * 2 <= lo + hi AS is_a FROM d, stats),
    cells AS (
      SELECT n_chars,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM tagged GROUP BY n_chars),
    cdf AS (
      SELECT n_chars, cnt_a, cnt_b,
             CAST(SUM(cnt_a) OVER (ORDER BY n_chars) * 1000000
                  // SUM(cnt_a) OVER () AS BIGINT) AS cdf_a_ppm,
             CAST(SUM(cnt_b) OVER (ORDER BY n_chars) * 1000000
                  // SUM(cnt_b) OVER () AS BIGINT) AS cdf_b_ppm
      FROM cells),
    gaps AS (
      SELECT n_chars, cnt_a, cnt_b, cdf_a_ppm, cdf_b_ppm,
             abs(cdf_a_ppm - cdf_b_ppm) AS gap_ppm
      FROM cdf)
    SELECT n_chars, cnt_a, cnt_b, cdf_a_ppm, cdf_b_ppm, gap_ppm,
           CAST(MAX(gap_ppm) OVER () AS BIGINT) AS ks_ppm
    FROM gaps
    ORDER BY gap_ppm DESC, n_chars LIMIT {KS_TOPK}
    """


# ===========================================================================
# Round-8 prep, wave 3: a-priori round two and a measured-FPR bloom join
# filter (same hand-off pattern; REGISTERED r08).
# ===========================================================================

# ---------------------------------------------------------------------------
# itemset_triples — a-priori round two with downward-closure pruning
# ---------------------------------------------------------------------------

ITEMSET_TRIPLE_TOPK = 30


def itemset_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori round TWO over lineitem baskets: part triples co-ordered
    in one order, enumerated only among FREQUENT items and pruned by
    downward closure — every one of the three sub-pairs must co-occur at
    least the ITEMSET_TRIPLE_PPM rate (the shared _pair_counts aggregate at
    the TRIPLE threshold: closure only holds at a single support cutoff,
    so pruning with round one's higher reporting cutoff would silently
    drop valid triples) BEFORE the triple count aggregates. The
    round-two shape is the general a-priori iteration: candidates from
    round k-1's survivors, prune, count.

    Determinism: exact bigint counts; triple key ordered a < b < c;
    top-k ties break on (part_a, part_b, part_c).

    Shape at 100 TB: the three-way basket self-join fans out at most
    C(basket, 3) per order (TPC-H baskets <= ~13 -> <= 286), and the
    three LEFT SEMI joins against the frequent-pair frame prune
    candidates BEFORE the counting shuffle — the downward-closure
    property doing the work it exists for. All joins are hint-free
    equi-joins (AQE sizes the pair frame at runtime); the head is
    TakeOrderedAndProject."""
    fitems, n_baskets = _frequent_basket_items(spark, sf_dir)
    fp = _pair_counts(fitems, n_baskets, ITEMSET_TRIPLE_PPM).select(
        "part_a", "part_b"
    )
    a = fitems.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = fitems.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    c = fitems.select("l_orderkey", F.col("l_partkey").alias("part_c"))
    ab = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .join(fp, ["part_a", "part_b"], "left_semi")
    )
    tri = (
        ab.join(c, "l_orderkey")
        .where(F.col("part_b") < F.col("part_c"))
        .join(
            fp.select(F.col("part_a"), F.col("part_b").alias("part_c")),
            ["part_a", "part_c"],
            "left_semi",
        )
        .join(
            fp.select(
                F.col("part_a").alias("part_b"), F.col("part_b").alias("part_c")
            ),
            ["part_b", "part_c"],
            "left_semi",
        )
    )
    tc = (
        tri.groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .where(F.col("n_co") >= _min_count(n_baskets, ITEMSET_TRIPLE_PPM))
    )
    return tc.orderBy(
        F.col("n_co").desc(), "part_a", "part_b", "part_c"
    ).limit(ITEMSET_TRIPLE_TOPK)


ITEMSET_TRIPLES_ORACLE = f"""
    WITH {_ITEMSET_CTES},
    fp AS (
      SELECT part_a, part_b FROM pairs, nb
      GROUP BY 1, 2, n_baskets
      HAVING COUNT(*) >= GREATEST(2, n_baskets * {ITEMSET_TRIPLE_PPM}
                                      // 1000000)),
    ab AS (
      SELECT p.l_orderkey, p.part_a, p.part_b
      FROM pairs p SEMI JOIN fp USING (part_a, part_b)),
    tri AS (
      SELECT ab.part_a, ab.part_b, c.l_partkey AS part_c
      FROM ab JOIN fitems c ON ab.l_orderkey = c.l_orderkey
      WHERE ab.part_b < c.l_partkey
        AND EXISTS (SELECT 1 FROM fp
                    WHERE fp.part_a = ab.part_a
                      AND fp.part_b = c.l_partkey)
        AND EXISTS (SELECT 1 FROM fp
                    WHERE fp.part_a = ab.part_b
                      AND fp.part_b = c.l_partkey))
    SELECT part_a, part_b, part_c, COUNT(*) AS n_co
    FROM tri, nb GROUP BY 1, 2, 3, n_baskets
    HAVING COUNT(*) >= GREATEST(2, n_baskets * {ITEMSET_TRIPLE_PPM}
                                    // 1000000)
    ORDER BY n_co DESC, part_a, part_b, part_c
    LIMIT {ITEMSET_TRIPLE_TOPK}
    """


# ---------------------------------------------------------------------------
# bloom_fpr_eval — partitioned bloom filter with MEASURED false positives
# ---------------------------------------------------------------------------

BLOOM_HASHES = 4  # one bit slice per hash (partitioned / blocked bloom)
# rendered into the oracle so a BLOOM_HASHES change cannot half-wire it
# (round-7 review finding; the _PQ_SUB_IDX pattern)
_BLOOM_HASH_IDX = ", ".join(str(j) for j in range(BLOOM_HASHES))
BLOOM_RECENT_US = 30 * 86_400 * 1_000_000  # build slice: last 30 days of shipments


def _bloom_bucket(j: int, key_col: str, m_col: str):
    """Slice-j bucket id: low 60 bits of md5('bf{j}:'||key) mod the
    data-derived slice size — the cms_topk md5/conv idiom."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(F.lit(f"bf{j}:"), F.col(key_col).cast("string")),
                        "UTF-8",
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.col(m_col)
    )


def bloom_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned bloom filter SHIPPED WITH its measured false-positive
    rate — the harness behind q_join_bloom's pre-filter, on the exact
    shape a runtime row filter serves: the INCREMENTAL join "orders with
    a shipment in the last 30 days". Build the filter from the recent
    shipments' orderkeys, probe it with every orderkey that has NO
    recent shipment (exact anti-join ground truth), and report the
    measured FPR beside the filter's fill. The estimator-ships-with-its-
    error rule applied to the join-pruning sketch: a bloom pre-filter
    whose FPR nobody measured is a shuffle reduction nobody can size.

    The slice size is DATA-DERIVED, not a constant: m = the next power
    of two above 2x the build count (computed from the same 1-row count
    both engines see, via the exact binary-length log2 idiom) — so fill
    stays in the ~20-40%% band and the measured FPR stays meaningful at
    every scale factor instead of saturating when n grows past a
    hard-coded m.

    Determinism: bucket ids via the md5 60-bit idiom mod a power of
    two; counts exact bigints; rates integer ppm.

    Shape at 100 TB: build-side distinct (one agg), a BLOOM_HASHES-x
    explode of build keys into a DISTINCT (slice, bucket) bit set
    (bounded by m * k cells), the probe side's matching explode, and one
    equi-join of probe buckets against the bit set counting full-house
    matches per key. The 1-row build-count scalar rides a whitelisted
    broadcast; the bit-set join is hint-free (AQE sizes it — it is
    bounded by m * k rows, but m is data-derived so the proof is
    runtime's to make). Output is ONE row."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.unix_micros("l_shipdate").alias("ship_us")
    )
    mx = li.agg(F.max("ship_us").alias("max_us"))
    build = (
        li.crossJoin(F.broadcast(mx))
        .where(F.col("ship_us") >= F.col("max_us") - BLOOM_RECENT_US)
        .select(F.col("l_orderkey").alias("key"))
        .distinct()
        # the stats row consumes build through ~8 branches (nb twice,
        # bits twice, neg twice via probes and its count); pinning build
        # + bits measured 6.0s -> 2.6s at the 10x lane (ReuseExchange
        # dedupes some branches but not across the bits explode)
        .localCheckpoint(eager=True)
    )
    nb = build.agg(F.count(F.lit(1)).alias("n_build")).select(
        "n_build",
        F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(2 * n_build - 1)))").alias(
            "m"
        ),
    )
    bkeys = build.crossJoin(F.broadcast(nb))
    bits = (
        bkeys.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).cast("int").alias("j"),
                            _bloom_bucket(j, "key", "m").alias("b"),
                        )
                        for j in range(BLOOM_HASHES)
                    ]
                )
            ).alias("jb")
        )
        .select(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)  # bounded by m*k cells; used twice
    )
    neg = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("key"))
        .join(build, "key", "left_anti")
        # deliberately NOT pinned: it is used twice, but over the pinned
        # build its anti-join is one cheap scan, while checkpointing
        # writes every negative key to disk — measured 5.4s (pinned) vs
        # 2.6s (lazy) at the 10x lane
    )
    pkeys = neg.crossJoin(F.broadcast(nb))
    probes = pkeys.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        _bloom_bucket(j, "key", "m").alias("b"),
                    )
                    for j in range(BLOOM_HASHES)
                ]
            )
        ).alias("jb"),
    ).select("key", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    fp = (
        probes.join(bits, ["j", "b"])
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .where(F.col("n_match") == BLOOM_HASHES)
    )
    stats = (
        bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(neg.agg(F.count(F.lit(1)).alias("n_neg"))))
        .crossJoin(F.broadcast(fp.agg(F.count(F.lit(1)).alias("n_false_pos"))))
    )
    return stats.select(
        "n_build",
        "m",
        "n_bits_set",
        F.expr(f"n_bits_set * 1000000 div (m * {BLOOM_HASHES})")
        .cast("long")
        .alias("fill_ppm"),
        "n_neg",
        "n_false_pos",
        F.expr("n_false_pos * 1000000 div n_neg").cast("long").alias("fpr_ppm"),
    )


BLOOM_FPR_EVAL_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey, epoch_us(l_shipdate) AS ship_us FROM lineitem),
    mx AS (SELECT MAX(ship_us) AS max_us FROM li),
    build AS (
      SELECT DISTINCT l_orderkey AS key FROM li, mx
      WHERE ship_us >= max_us - {BLOOM_RECENT_US}),
    nb AS (
      SELECT COUNT(*) AS n_build,
             CAST(1 AS BIGINT) << length(bin(2 * COUNT(*) - 1)) AS m
      FROM build),
    bits AS (
      SELECT DISTINCT j,
             CAST('0x' || substr(md5('bf' || j || ':' || CAST(key AS VARCHAR)),
                                 1, 15)
                  AS BIGINT) % m AS b
      FROM build CROSS JOIN nb
      CROSS JOIN UNNEST([{_BLOOM_HASH_IDX}]) AS t(j)),
    neg AS (
      SELECT o_orderkey AS key FROM orders
      WHERE o_orderkey NOT IN (SELECT key FROM build)),
    probes AS (
      SELECT key, j,
             CAST('0x' || substr(md5('bf' || j || ':' || CAST(key AS VARCHAR)),
                                 1, 15)
                  AS BIGINT) % m AS b
      FROM neg CROSS JOIN nb
      CROSS JOIN UNNEST([{_BLOOM_HASH_IDX}]) AS t(j)),
    fp AS (
      SELECT p.key
      FROM probes p JOIN bits ON p.j = bits.j AND p.b = bits.b
      GROUP BY p.key
      HAVING COUNT(*) = {BLOOM_HASHES})
    SELECT nb.n_build, nb.m,
           (SELECT COUNT(*) FROM bits) AS n_bits_set,
           CAST((SELECT COUNT(*) FROM bits) * 1000000
                // (nb.m * {BLOOM_HASHES}) AS BIGINT) AS fill_ppm,
           (SELECT COUNT(*) FROM neg) AS n_neg,
           (SELECT COUNT(*) FROM fp) AS n_false_pos,
           CAST((SELECT COUNT(*) FROM fp) * 1000000
                // (SELECT COUNT(*) FROM neg) AS BIGINT) AS fpr_ppm
    FROM nb
    """


# ---------------------------------------------------------------------------
# hot_key_churn — heavy-hitter churn between stream halves (round-8 prep,
# REGISTERED r08 as q_hot_key_churn)
# ---------------------------------------------------------------------------

CHURN_TOPK = 20


def hot_key_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter CHURN between the first and second halves of the
    event stream (the drift_tvd epoch-midpoint split): the top
    {CHURN_TOPK} users by event count in each half, full-outer joined —
    who stayed hot, who entered, who dropped, with both ranks and both
    counts, and the overlap@{CHURN_TOPK} in exact ppm carried on every
    row. drift_tvd asks "did the DISTRIBUTION move"; this asks "did the
    IDENTITY of the heavy hitters move" — the lens that decides whether
    yesterday's salting list / cache-warm set / per-key quota table is
    still the right one today.

    Determinism: exact bigint counts; ranks break ties on key asc; the
    overlap share is integer ppm of the fixed K.

    Shape at 100 TB: ONE conditional aggregate over the scan (key ->
    before/after counts, map-side combined — the only full-volume
    shuffle), then two TakeOrderedAndProject heads of K rows each and a
    full-outer join of two K-row frames; the ppm window runs over at
    most 2K rows. The 1-row min/max scalar rides a whitelisted
    broadcast (the drift_tvd contract)."""
    ev = table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("tus"), "user_id"
    )
    stats = ev.agg(F.min("tus").alias("lo"), F.max("tus").alias("hi"))
    cnt = (
        ev.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            (F.col("tus") * 2 <= F.col("lo") + F.col("hi")).alias("is_before"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("is_before"), 1).otherwise(0)).alias("n_before"),
            F.sum(F.when(F.col("is_before"), 0).otherwise(1)).alias("n_after"),
        )
    )
    before = (
        cnt.orderBy(F.col("n_before").desc(), "user_id")
        .limit(CHURN_TOPK)
        .select(
            "user_id",
            F.col("n_before").alias("cnt_before"),
            F.expr(
                "row_number() OVER (ORDER BY n_before DESC, user_id)"
            ).alias("rank_before"),
        )
    )
    after = (
        cnt.orderBy(F.col("n_after").desc(), "user_id")
        .limit(CHURN_TOPK)
        .select(
            "user_id",
            F.col("n_after").alias("cnt_after"),
            F.expr(
                "row_number() OVER (ORDER BY n_after DESC, user_id)"
            ).alias("rank_after"),
        )
    )
    joined = before.join(after, "user_id", "full_outer").select(
        "user_id",
        "cnt_before",
        "rank_before",
        "cnt_after",
        "rank_after",
        F.when(
            F.col("rank_before").isNotNull() & F.col("rank_after").isNotNull(),
            F.lit("stayed"),
        )
        .when(F.col("rank_after").isNotNull(), F.lit("entered"))
        .otherwise(F.lit("dropped"))
        .alias("status"),
    )
    return joined.select(
        "user_id",
        "cnt_before",
        "rank_before",
        "cnt_after",
        "rank_after",
        "status",
        F.expr(
            "sum(CASE WHEN status = 'stayed' THEN 1 ELSE 0 END) OVER ()"
            f" * 1000000 div {CHURN_TOPK}"
        )
        .cast("long")
        .alias("overlap_ppm"),
    ).orderBy("user_id")


HOT_KEY_CHURN_ORACLE = f"""
    WITH ev AS (
      SELECT epoch_us(ts) AS tus, user_id FROM events),
    stats AS (SELECT MIN(tus) AS lo, MAX(tus) AS hi FROM ev),
    cnt AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN tus * 2 <= lo + hi THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_before,
             CAST(SUM(CASE WHEN tus * 2 <= lo + hi THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_after
      FROM ev, stats GROUP BY user_id),
    before AS (
      SELECT user_id, n_before AS cnt_before,
             row_number() OVER (ORDER BY n_before DESC, user_id)
               AS rank_before
      FROM cnt ORDER BY n_before DESC, user_id LIMIT {CHURN_TOPK}),
    afterw AS (
      SELECT user_id, n_after AS cnt_after,
             row_number() OVER (ORDER BY n_after DESC, user_id)
               AS rank_after
      FROM cnt ORDER BY n_after DESC, user_id LIMIT {CHURN_TOPK}),
    joined AS (
      SELECT COALESCE(b.user_id, a.user_id) AS user_id,
             b.cnt_before, b.rank_before, a.cnt_after, a.rank_after,
             CASE WHEN b.user_id IS NOT NULL AND a.user_id IS NOT NULL
                    THEN 'stayed'
                  WHEN a.user_id IS NOT NULL THEN 'entered'
                  ELSE 'dropped' END AS status
      FROM before b FULL OUTER JOIN afterw a ON b.user_id = a.user_id)
    SELECT user_id, cnt_before, rank_before, cnt_after, rank_after, status,
           CAST(SUM(CASE WHEN status = 'stayed' THEN 1 ELSE 0 END) OVER ()
                * 1000000 // {CHURN_TOPK} AS BIGINT) AS overlap_ppm
    FROM joined ORDER BY user_id
    """


# ---------------------------------------------------------------------------
# Round-8 registration: the prep waves above enter the driver contract
# under q_-prefixed ids (registry convention), oracles parity-proven at
# sf0.01 since round 7 (tests/test_round8_ops.py).
# ---------------------------------------------------------------------------
register("q_cms_topk", oracle=CMS_TOPK_ORACLE)(cms_topk)
register("q_drift_tvd", oracle=DRIFT_TVD_ORACLE)(drift_tvd)
register("q_k_anonymity", oracle=K_ANONYMITY_ORACLE)(k_anonymity)
register("q_itemset_pairs", oracle=ITEMSET_PAIRS_ORACLE)(itemset_pairs)
register("q_itemset_triples", oracle=ITEMSET_TRIPLES_ORACLE)(itemset_triples)
register("q_sliding_distinct", oracle=SLIDING_DISTINCT_ORACLE)(sliding_distinct)
register("q_domain_cap_sample", oracle=DOMAIN_CAP_SAMPLE_ORACLE)(domain_cap_sample)
register("q_group_ols", oracle=GROUP_OLS_ORACLE)(group_ols)
register("q_benford_audit", oracle=BENFORD_AUDIT_ORACLE)(benford_audit)
register("q_l_diversity", oracle=L_DIVERSITY_ORACLE)(l_diversity)
register("q_ks_doclen", oracle=KS_DOCLEN_ORACLE)(ks_doclen)
register("q_bloom_fpr_eval", oracle=BLOOM_FPR_EVAL_ORACLE)(bloom_fpr_eval)
register("q_hot_key_churn", oracle=HOT_KEY_CHURN_ORACLE)(hot_key_churn)


# ---------------------------------------------------------------------------
# kmv_overlap — k-minimum-values (theta-sketch) distinct-set intersection
# estimates with measured error (round-9 library tier; completes the
# sketch ladder: HLL distinct / CMS heavy hitters / Bloom membership /
# KMV set INTERSECTION). Per-arm hash dedup (theta semantics) and a
# LEFT join keep zero-true-intersection pairs in the audit output.
# ---------------------------------------------------------------------------

KMV_K = 64  # sketch size (minimum hash values kept per set)
_KMV_SPACE = 1 << 48  # md5-prefix hash space: 12 hex chars = 48 bits


def kmv_overlap(spark: SparkSession, sf_dir: str, k: int = KMV_K) -> DataFrame:
    """Distinct-user OVERLAP between every pair of event types, estimated
    from k-minimum-values sketches and SHIPPED WITH the exact answer and
    the measured error (the repo's standing estimator rule — cms_topk /
    bloom_fpr_eval / pq_recall pattern).

    The question ("how many users both clicked AND purchased?") is the
    audience-overlap / funnel-reach primitive; exactly answering it for
    every pair needs a distinct-set self-join per pair, while the KMV
    answer ships k rows per set — mergeable, unionable, and at 100 TB
    the only thing a per-source streaming ingest can afford to keep.
    Estimator (standard theta-sketch algebra, all EXACT integer
    arithmetic on the 48-bit md5-prefix hash so the oracle is
    bit-identical): per set, the k smallest distinct h(user); distinct
    estimate (k-1) * 2^48 // h_(k) when the set saturates the sketch,
    the plain count when it doesn't (the sketch IS the set).
    Intersection: K = the k smallest of the UNION of the two sketches
    (dedup by hash — a shared user hashes identically in both), theta =
    K's max; est = |{x in K : x in A's sketch AND x in B's sketch}| *
    2^48 // theta, again the exact count below saturation.

    Shape at 100 TB: ONE distinct shuffle over (event_type, user_id) +
    one per-type rank window; everything after runs on <=|types|*k rows
    (broadcast-sized frames), and the EXACT arm — the one-off audit
    truth — is the only pair-wise distinct join in the plan."""
    du = (
        table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat(F.lit("kmv:"), F.col("user_id").cast("string")),
                    "UTF-8",
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    # theta-sketch semantics keep the k smallest DISTINCT hash values:
    # two users in ONE arm colliding on the 48-bit prefix must contribute
    # one sketch entry, or the intra-arm duplicate masquerades as a
    # shared hash downstream (n_arms == 2) and kth is not the k-th
    # distinct minimum (ADVICE r09 #2) — so dedup h within each per-type
    # sketch before the k-min rank. h is distinct per type after this,
    # making the rank ORDER BY h alone deterministic.
    hashed = du.select("event_type", h.alias("h")).distinct()
    # two-level k-min (the map-side-combine shape): a single window
    # partitioned by event_type would funnel each type's ENTIRE distinct
    # population through one task — the bounded-key window trap, fatal at
    # 100 TB where |types| is small and rows/type is not. Level 1 keeps
    # the k smallest within every (type, input-partition) slice — the
    # global k smallest are necessarily a subset of the union of
    # per-slice k smallest — so level 2's per-type window sorts at most
    # #partitions * k rows per type.
    wk = W.partitionBy("event_type").orderBy("h")
    w1 = W.partitionBy("event_type", "_pid").orderBy("h")
    local = (
        hashed.withColumn("_pid", F.spark_partition_id())
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "_pid")
    )
    sk = (
        local.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
        .localCheckpoint(eager=True)  # <=|types|*k rows; reused 3x below
    )
    # per-type distinct estimate (exact count below sketch saturation)
    per_type = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("kth")
    )
    exact_type = du.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    est_type = per_type.join(exact_type, "event_type").select(
        "event_type",
        F.when(F.col("n_sk") < k, F.col("n_sk"))
        .otherwise(F.expr(f"({k} - 1) * {_KMV_SPACE} div kth"))
        .cast("long")
        .alias("est_distinct"),
        "exact_distinct",
    )
    # unordered type pairs from the data (both sides bounded by |types|)
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            F.broadcast(types.select(F.col("event_type").alias("type_b"))),
            F.col("type_a") < F.col("type_b"),
        )
    )
    # union sketch per pair: each pair pulls both types' sketch rows,
    # dedup by hash (one row may come from both arms), rank, keep k
    arm_a = pairs.join(
        sk, sk["event_type"] == pairs["type_a"]
    ).select("type_a", "type_b", "h")
    arm_b = pairs.join(
        sk, sk["event_type"] == pairs["type_b"]
    ).select("type_a", "type_b", "h")
    u = (
        arm_a.unionByName(arm_b)
        .groupBy("type_a", "type_b", "h")
        .agg(F.count(F.lit(1)).alias("n_arms"))
    )
    wu = W.partitionBy("type_a", "type_b").orderBy("h")
    uk = u.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    inter_est = uk.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_union_sk"),
        F.max("h").alias("theta"),
        F.sum(F.when(F.col("n_arms") == 2, 1).otherwise(0)).alias("m_inter"),
    )
    # the exact arm: one distinct-set self-join, every pair at once
    exact_inter = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est = F.when(F.col("n_union_sk") < k, F.col("m_inter")).otherwise(
        F.expr(f"m_inter * {_KMV_SPACE} div theta")
    ).cast("long")
    return (
        # LEFT join from the sketch side: a pair whose TRUE intersection
        # is zero is exactly where a sketch-error audit is most
        # informative (a false positive), so it must not drop out of the
        # output just because the exact arm has no row (ADVICE r09 #1)
        inter_est.join(exact_inter, ["type_a", "type_b"], "left")
        .withColumn(
            "exact_inter", F.coalesce("exact_inter", F.lit(0)).cast("long")
        )
        .join(
            F.broadcast(
                est_type.select(
                    F.col("event_type").alias("type_a"),
                    F.col("est_distinct").alias("est_a"),
                    F.col("exact_distinct").alias("exact_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                est_type.select(
                    F.col("event_type").alias("type_b"),
                    F.col("est_distinct").alias("est_b"),
                    F.col("exact_distinct").alias("exact_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            F.lit(k).cast("int").alias("k"),
            "est_a",
            "exact_a",
            "est_b",
            "exact_b",
            F.col("m_inter").cast("long").alias("m_inter"),
            est.alias("est_inter"),
            "exact_inter",
            (F.abs(est - F.col("exact_inter")) * 1_000_000)
            .cast("long")
            .alias("abs_err_x1m"),
        )
        .withColumn(
            # NULL when the true intersection is empty: relative error is
            # undefined there, and the absolute estimate (est_inter vs 0)
            # is the number the audit reads instead
            "err_inter_ppm",
            F.when(
                F.col("exact_inter") > 0,
                F.expr("abs_err_x1m div exact_inter"),
            ).cast("long"),
        )
        .drop("abs_err_x1m")
    )


KMV_OVERLAP_ORACLE = f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events),
    hashed AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM du),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY h) AS rn
        FROM hashed) WHERE rn <= {KMV_K}),
    per_type AS (
      SELECT event_type, COUNT(*) AS n_sk, MAX(h) AS kth FROM sk GROUP BY 1),
    exact_type AS (
      SELECT event_type, COUNT(*) AS exact_distinct FROM du GROUP BY 1),
    est_type AS (
      SELECT p.event_type,
             CAST(CASE WHEN p.n_sk < {KMV_K} THEN p.n_sk
                       ELSE ({KMV_K} - 1) * {_KMV_SPACE} // p.kth
                  END AS BIGINT) AS est_distinct,
             e.exact_distinct
      FROM per_type p JOIN exact_type e USING (event_type)),
    types AS (SELECT DISTINCT event_type FROM sk),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM types a JOIN types b ON a.event_type < b.event_type),
    u AS (
      SELECT type_a, type_b, h, COUNT(*) AS n_arms FROM (
        SELECT p.type_a, p.type_b, s.h
        FROM pairs p JOIN sk s ON s.event_type = p.type_a
        UNION ALL
        SELECT p.type_a, p.type_b, s.h
        FROM pairs p JOIN sk s ON s.event_type = p.type_b)
      GROUP BY 1, 2, 3),
    uk AS (
      SELECT * FROM (
        SELECT type_a, type_b, h, n_arms,
               ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                  ORDER BY h) AS rn
        FROM u) WHERE rn <= {KMV_K}),
    inter_est AS (
      SELECT type_a, type_b, COUNT(*) AS n_union_sk, MAX(h) AS theta,
             SUM(CASE WHEN n_arms = 2 THEN 1 ELSE 0 END) AS m_inter
      FROM uk GROUP BY 1, 2),
    exact_inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS exact_inter
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2),
    est AS (
      SELECT i.type_a, i.type_b,
             CAST(CASE WHEN i.n_union_sk < {KMV_K} THEN i.m_inter
                       ELSE i.m_inter * {_KMV_SPACE} // i.theta
                  END AS BIGINT) AS est_inter,
             i.m_inter, COALESCE(x.exact_inter, 0) AS exact_inter
      FROM inter_est i LEFT JOIN exact_inter x USING (type_a, type_b))
    SELECT e.type_a, e.type_b,
           CAST({KMV_K} AS INT) AS k,
           ta.est_distinct AS est_a, ta.exact_distinct AS exact_a,
           tb.est_distinct AS est_b, tb.exact_distinct AS exact_b,
           CAST(e.m_inter AS BIGINT) AS m_inter,
           e.est_inter,
           CAST(e.exact_inter AS BIGINT) AS exact_inter,
           CAST(CASE WHEN e.exact_inter = 0 THEN NULL
                     ELSE ABS(e.est_inter - e.exact_inter) * 1000000
                          // e.exact_inter
                END AS BIGINT) AS err_inter_ppm
    FROM est e
    JOIN est_type ta ON ta.event_type = e.type_a
    JOIN est_type tb ON tb.event_type = e.type_b
    """

register("q_kmv_overlap", oracle=KMV_OVERLAP_ORACLE)(kmv_overlap)


# ---------------------------------------------------------------------------
# quantile_sample_eval — sampled quantiles SHIPPED WITH their measured
# error vs the exact full-corpus quantiles (round-10 wave; the standing
# estimator rule: cms_topk/bloom_fpr_eval/pq_recall/kmv_overlap each ship
# beside their ground truth). The production claim under audit: at 100 TB
# you never sort the corpus for a length profile — a deterministic
# ~QUANTILE_SAMPLE_TARGET-doc md5 sample answers p50/p90/p99 within
# fractions of a percent, and this harness MEASURES that instead of
# assuming it. The exact arm is the one-off audit truth (a full
# percentile agg); the sample arm is the plan you actually run.
# ---------------------------------------------------------------------------

QUANTILE_SAMPLE_TARGET = 300  # ~docs in the sample, corpus-derived MOD
_QSE_QUANTILES = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


def quantile_sample_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length quantiles (n_chars p50/p90/p99): exact arm over the
    full table beside the arm computed on a deterministic 1-in-MOD md5
    doc sample, MOD = ceil(corpus / QUANTILE_SAMPLE_TARGET) derived from
    the same COUNT in both engines (the q_dedup_recall_eval idiom — the
    sample IS the registered semantics, retry/append-stable). Reports
    per quantile the two values and |sample - exact| / exact in ppm
    (floor of an IEEE expression both engines evaluate on identical
    doubles: percentile's linear interpolation is order-insensitive).

    Shape at 100 TB: the sample arm sorts ~TARGET values (constant);
    the exact arm is the audit's one-off full aggregation — the point of
    the harness is to measure it away."""

    d = table(spark, sf_dir, "documents")
    mod = max(1, -(-d.count() // QUANTILE_SAMPLE_TARGET))
    in_sample = (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(F.lit("qse:"), F.col("doc_id").cast("string")), "UTF-8")),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        % mod
        == 0
    )
    exact = d.agg(
        *[F.expr(f"percentile(n_chars, {p})").alias(name) for name, p in _QSE_QUANTILES],
    )
    samp = d.where(in_sample).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        *[
            F.expr(f"percentile(n_chars, {p})").alias(f"s_{name}")
            for name, p in _QSE_QUANTILES
        ],
    )
    # 1-row x 1-row scalar fusion (the q_weighted_sample pattern)
    both = exact.join(samp, F.lit(True))
    rows = [
        F.struct(
            F.lit(name).alias("quantile"),
            F.col(name).alias("exact_v"),
            F.col(f"s_{name}").alias("sample_v"),
            F.expr(
                f"CAST(floor(abs(s_{name} - {name}) * 1000000 / {name}) AS BIGINT)"
            ).alias("err_ppm"),
        )
        for name, _ in _QSE_QUANTILES
    ]
    return both.select(
        F.explode(F.array(*rows)).alias("r"), F.col("n_sampled")
    ).select("r.quantile", "r.exact_v", "r.sample_v", "r.err_ppm", "n_sampled")


_QSE_SAMPLE_SQL = (
    "CAST('0x' || substr(md5('qse:' || CAST(doc_id AS VARCHAR)), 1, 15) "
    "AS BIGINT) % (SELECT GREATEST(1, (COUNT(*) + "
    f"{QUANTILE_SAMPLE_TARGET - 1}) // {QUANTILE_SAMPLE_TARGET}) "
    "FROM documents) = 0"
)

QUANTILE_SAMPLE_EVAL_ORACLE = f"""
    WITH exact AS (
      SELECT quantile_cont(n_chars, 0.5) AS p50,
             quantile_cont(n_chars, 0.9) AS p90,
             quantile_cont(n_chars, 0.99) AS p99
      FROM documents),
    samp AS (
      SELECT COUNT(*) AS n_sampled,
             quantile_cont(n_chars, 0.5) AS s_p50,
             quantile_cont(n_chars, 0.9) AS s_p90,
             quantile_cont(n_chars, 0.99) AS s_p99
      FROM documents WHERE {_QSE_SAMPLE_SQL}),
    joined AS (SELECT * FROM exact, samp),
    fan AS (
      SELECT 'p50' AS quantile, p50 AS exact_v, s_p50 AS sample_v, n_sampled FROM joined
      UNION ALL
      SELECT 'p90', p90, s_p90, n_sampled FROM joined
      UNION ALL
      SELECT 'p99', p99, s_p99, n_sampled FROM joined)
    SELECT quantile, exact_v, sample_v,
           CAST(floor(abs(sample_v - exact_v) * 1000000 / exact_v) AS BIGINT)
             AS err_ppm,
           CAST(n_sampled AS BIGINT) AS n_sampled
    FROM fan
    """

register("q_quantile_sample_eval", oracle=QUANTILE_SAMPLE_EVAL_ORACLE)(
    quantile_sample_eval
)


# ---------------------------------------------------------------------------
# t_closeness — distribution distance per quasi-identifier group (round-12
# draft tier): the third gate of the classic privacy-release triad.
# q_k_anonymity bounds how FEW rows share a QI, q_l_diversity how few
# DISTINCT sensitive values a group carries — but a group can pass both
# while its sensitive-value DISTRIBUTION still differs sharply from the
# table's (the t-closeness attack: "this nation/balance cell is 90%
# MACHINERY when the table is 20%"). t-closeness bounds, per QI group,
# the distance between the group's sensitive distribution and the global
# one; for a categorical sensitive attribute under uniform ground
# distance the earth-mover distance reduces to total variation, the same
# statistic q_drift_tvd ships for train/serve drift.
# ---------------------------------------------------------------------------

T_CLOSE_BIN_PPM = 50_000  # spectrum bin width: 5% TVD per bin
T_CLOSE_THRESHOLD_PPM = 200_000  # groups with TVD >= 20% are at risk
# (threshold is a whole multiple of the bin width, so the at-risk flag is
# a function of the bin — the spectrum never splits a bin across flags)


def t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit beside ``k_anonymity`` / ``l_diversity``: per QI
    group (nation x balance bucket, the shared triad contract) the total
    variation distance between the group's market-segment distribution
    and the GLOBAL one, reported as the t-spectrum — for each
    {T_CLOSE_BIN_PPM}-ppm TVD bin, how many groups and rows sit there,
    row share in exact ppm, and the at-risk flag at
    t >= {T_CLOSE_THRESHOLD_PPM} ppm.

    Determinism: group and global segment shares are floored onto the
    integer ppm grid (``div``, identical truncation in both engines)
    BEFORE the TVD sum — the statistic is "TVD of ppm-gridded shares",
    exact bigint end to end; the balance bucket is the triad's shared
    single-IEEE-division contract. Every value of the sensitive domain
    participates per group (a segment absent from a group contributes
    its full global share), via a bounded groups x segments expansion.

    Shape at 100 TB: one (QI, segment) aggregate — map-side combined,
    the only full-volume work (ONE corpus scan: the global segment
    distribution folds out of the same aggregate) — then everything is
    bounded: the global distribution is |segments| rows (broadcast), the
    groups x segments frame is |groups| x |segments|, the per-group TVD
    a |groups|-keyed aggregate, and the spectrum a handful of bins. The
    deviation join is broadcast-hash on the 5-row segment side;
    join-free beyond it."""
    c = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(K_ANON_BAL_BUCKET)).cast("long").alias(
            "bal_bucket"
        ),
    )
    per_value = c.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt_gv")
    )
    groups = per_value.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("cnt_gv").alias("n_g")
    )
    # the global distribution folds out of the (QI, segment) aggregate —
    # no second full-volume scan (r12 review finding)
    glob = (
        per_value.groupBy("c_mktsegment")
        .agg(F.sum("cnt_gv").alias("cnt_v"))
        .select(
            "c_mktsegment",
            F.expr("cnt_v * 1000000 div sum(cnt_v) OVER ()").alias("g_share_ppm"),
        )
    )
    # bounded expansion: every (group, segment) cell, zero-count cells
    # included — both broadcast sides are provably tiny (|segments| = 5;
    # the per_value join-back keys on the group)
    cells = (
        groups.crossJoin(F.broadcast(glob))
        .join(
            per_value,
            ["c_nationkey", "bal_bucket", "c_mktsegment"],
            "left",
        )
        .select(
            "c_nationkey",
            "bal_bucket",
            "n_g",
            "g_share_ppm",
            F.coalesce("cnt_gv", F.lit(0)).alias("cnt_gv"),
        )
    )
    per_group = cells.groupBy("c_nationkey", "bal_bucket", "n_g").agg(
        F.expr("sum(abs(cnt_gv * 1000000 div n_g - g_share_ppm)) div 2")
        .cast("long")
        .alias("t_ppm")
    )
    spectrum = per_group.groupBy(
        F.expr(f"t_ppm div {T_CLOSE_BIN_PPM}").cast("long").alias("t_bin")
    ).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_g").alias("n_rows"),
    )
    return spectrum.select(
        "t_bin",
        (F.col("t_bin") * T_CLOSE_BIN_PPM).alias("t_lo_ppm"),
        "n_groups",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("t_bin") >= T_CLOSE_THRESHOLD_PPM // T_CLOSE_BIN_PPM).alias("at_risk"),
        F.expr("n_rows * 1000000 div sum(n_rows) OVER ()")
        .cast("long")
        .alias("share_rows_ppm"),
    ).orderBy("t_bin")


T_CLOSENESS_ORACLE = f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / {K_ANON_BAL_BUCKET}) AS BIGINT)
               AS bal_bucket
      FROM customer),
    per_value AS (
      SELECT c_nationkey, bal_bucket, c_mktsegment, COUNT(*) AS cnt_gv
      FROM qi GROUP BY 1, 2, 3),
    groups AS (
      SELECT c_nationkey, bal_bucket, SUM(cnt_gv) AS n_g
      FROM per_value GROUP BY 1, 2),
    gdist AS (
      SELECT c_mktsegment,
             SUM(cnt_gv) * 1000000 // SUM(SUM(cnt_gv)) OVER () AS g_share_ppm
      FROM per_value GROUP BY c_mktsegment),
    cells AS (
      SELECT g.c_nationkey, g.bal_bucket, g.n_g, gl.g_share_ppm,
             COALESCE(pv.cnt_gv, 0) AS cnt_gv
      FROM groups g CROSS JOIN gdist gl
      LEFT JOIN per_value pv
        ON pv.c_nationkey = g.c_nationkey
       AND pv.bal_bucket = g.bal_bucket
       AND pv.c_mktsegment = gl.c_mktsegment),
    per_group AS (
      SELECT c_nationkey, bal_bucket, n_g,
             SUM(abs(cnt_gv * 1000000 // n_g - g_share_ppm)) // 2 AS t_ppm
      FROM cells GROUP BY 1, 2, 3),
    spectrum AS (
      SELECT t_ppm // {T_CLOSE_BIN_PPM} AS t_bin,
             COUNT(*) AS n_groups, SUM(n_g) AS n_rows
      FROM per_group GROUP BY 1)
    SELECT CAST(t_bin AS BIGINT) AS t_bin,
           CAST(t_bin * {T_CLOSE_BIN_PPM} AS BIGINT) AS t_lo_ppm,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(n_rows AS BIGINT) AS n_rows,
           t_bin >= {T_CLOSE_THRESHOLD_PPM // T_CLOSE_BIN_PPM} AS at_risk,
           CAST(n_rows * 1000000 // SUM(n_rows) OVER () AS BIGINT)
             AS share_rows_ppm
    FROM spectrum ORDER BY t_bin
    """

# r12 registration (same-round, the excision-wave precedent): bit-exact
# at sf0.001 AND sf0.01, planted-spectrum + triad-conservation law
# tests, 10x-measured before this line landed
# (tests/test_round12_ops.py wave 5).
register("q_t_closeness", oracle=T_CLOSENESS_ORACLE)(t_closeness)
