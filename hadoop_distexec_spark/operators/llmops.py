"""LLM-data-pipeline operators over documents/embeddings (SURVEY.md §2.5
north star): dedup (exact, n-gram Jaccard, MinHash-LSH, SimHash),
similarity search (exact brute-force + IVF scale path), text analysis
(language-ID, quality scoring, token counting, fingerprinting).

Oracle-checkable wherever SQL can express the op. md5 is the hash both
engines share bit-for-bit: MinHash/SimHash permutations are the low 60
bits of md5 via conv() ('0x..'::BIGINT in DuckDB), LSH planes are 8dp
decimal literals embedded in both the plan and the oracle, every ranking
float goes through the exact-decimal dot idioms, and the fixed-iteration
fixpoints (kmeans, pagerank) are unrolled as CTE chains with
decimal-exact aggregation steps — only the subprocess pipes stay
rows-only, as the driver contract allows.

Scale design (100 TB of documents):
- everything is explode -> hash-aggregate -> equi-join; no crossJoin except
  the *exact* brute-force similarity (kept as the correctness baseline; the
  IVF variant is the scale path);
- shingle self-joins are capped by document-frequency (stop-shingle
  filtering) to bound the join fan-out on hot shingles — the cap is part of
  the operator's contract and mirrored in the oracle;
- MinHash bands turn near-dup search into an equi-join on (band, signature),
  the standard LSH bucket-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hadoop_distexec_spark.functions import group_local
from hadoop_distexec_spark.functions.cache import cached, cached_totals
from hadoop_distexec_spark.registry import register
from hadoop_distexec_spark.sources.tables import table

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

SHINGLE_K = 3  # words per shingle
MAX_SHINGLE_DF = 100  # stop-shingle cap for the pair join
NUM_PERM = 16  # minhash permutations
LSH_BANDS = 4  # 4 bands x 4 rows
def _drop_hot_shingles(s: DataFrame) -> DataFrame:
    """Remove shingles with document frequency > MAX_SHINGLE_DF. The df cap
    keeps almost all shingles, so joining against the "keep" set would
    shuffle the whole shingle table twice; anti-join the complement (the
    hot stop list) instead.

    Broadcast-vs-shuffle for the stop list is left to AQE: the list is
    bounded by |shingle rows| / MAX_SHINGLE_DF — tiny on most corpora but
    ~10^10 at the 100 TB design point (ADVICE r01 #4), so a static
    broadcast hint is wrong in one direction and a static shuffle in the
    other. AQE sees the built side's actual size at runtime and converts
    the anti-join to broadcast exactly when it fits
    (spark.sql.adaptive.autoBroadcastJoinThreshold); this also drops the
    extra driver-side count() job the previous explicit size check ran on
    every dedup query."""
    hot = s.groupBy("shingle").count().filter(F.col("count") > MAX_SHINGLE_DF).select("shingle")
    return s.join(hot, "shingle", "left_anti")


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) pairs of SHINGLE_K-word shingles.

    Spark twin of the oracle fragment:
    ``list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))``.

    Implementation note — third shape tried, each measured at sf0.1:
    ``transform(sequence(...), i -> array_join(slice(...)))`` is
    interpreted (HOFs skip whole-stage codegen; ~13x slower); posexplode +
    window ``lead`` is all-codegen but pays the window's per-doc sort; the
    current form — explode the position range, then SHINGLE_K
    ``element_at`` lookups against the kept token array — is all-codegen
    with NO sort (~30% faster than the window form) and needs no
    particular partitioning at all. The repartition below only spreads the
    single-file fixture scan across cores; at 100 TB the scan has
    thousands of splits and the distinct's shuffle is the first Exchange.
    ANSI note: the position sequence is bounded to size-(K-1), so every
    element_at index is in range (ANSI mode would throw on OOB).
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    d = docs.select("doc_id", _tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= SHINGLE_K
    )
    pos = d.select(
        "doc_id", "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - (SHINGLE_K - 1))).alias("i"),
    ).withColumn("i", F.col("i").cast("int"))
    sh = F.concat_ws(
        " ", *[F.element_at(F.col("t"), F.col("i") + k) for k in range(SHINGLE_K)]
    )
    return pos.select("doc_id", sh.alias("shingle")).distinct()


_SHINGLES_SQL = f"""
  toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents
  ),
  shingles AS (
    SELECT DISTINCT doc_id, UNNEST(list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                    i -> array_to_string(t[i:i+{SHINGLE_K - 1}], ' '))) AS shingle
    FROM toks WHERE len(t) >= {SHINGLE_K}
  )
"""

# Capped pair-intersection CTEs shared by every shingle pair-join oracle
# (q_dedup_ngram / q_dedup_contain) — extends _SHINGLES_SQL with the
# stop-shingle df cap, per-doc sizes, and per-pair intersection counts.
_PAIR_COUNTS_SQL = f"""
    keep AS (
      SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    s AS (SELECT doc_id, shingles.shingle FROM shingles JOIN keep ON shingles.shingle = keep.shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
"""


def _shingle_pair_stats(base: DataFrame):
    """Spark twin of _PAIR_COUNTS_SQL: the cached shingle set ``base`` ->
    capped equi-self-join pair intersection counts plus per-doc sizes
    aliased for the doc_a/doc_b joins. Returns ``(pairs, sa, sb)``."""
    s = _drop_hot_shingles(base)
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = s.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = s.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    return pairs, sa, sb


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: whitespace/case-normalized md5 fingerprint, hash
    groupBy, min doc_id as deterministic canonical representative. At scale
    this is one shuffle on a 128-bit key."""
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(
        F.encode(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), "UTF-8")
    ).alias("fingerprint")
    return docs.groupBy(fp).agg(
        F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "q_dedup_ngram",
    oracle="WITH "
    + _SHINGLES_SQL
    + ","
    + _PAIR_COUNTS_SQL
    + """
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs: explode shingles -> stop-shingle cap
    -> equi-self-join -> per-pair intersection counts -> Jaccard. The
    document-frequency cap bounds the join fan-out on hot shingles (part of
    the operator contract, mirrored in the oracle). The shingle set has 4
    consumers in one action (keep-filter, sizes, both join sides), so it
    is ``cached`` while the pair result is checkpointed."""
    with cached(_shingles_df(spark, sf_dir)) as base:
        pairs, sa, sb = _shingle_pair_stats(base)
        jac = F.col("n_common").cast("double") / (F.col("_na") + F.col("_nb") - F.col("n_common"))
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= 0.1)
            .select("doc_a", "doc_b", "n_common", "jaccard")
            .localCheckpoint(eager=True)
        )


PREFIX_BLOCK = 64  # block-key length = minimum detectable prefix length
PREFIX_MAX_DF = 100  # hot-block cap (the MAX_SHINGLE_DF rule for prefixes)


@register(
    "q_dedup_prefix",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n,
             substr(text, 1, {PREFIX_BLOCK}) AS k
      FROM documents WHERE length(text) >= {PREFIX_BLOCK}),
    keep AS (SELECT k FROM d GROUP BY k HAVING COUNT(*) <= {PREFIX_MAX_DF}),
    dk AS (SELECT d.doc_id, d.text, d.n, d.k FROM d JOIN keep USING (k))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n AS len_a, b.n AS len_b, a.n = b.n AS is_exact
    FROM dk a JOIN dk b ON a.k = b.k
     AND ((a.n < b.n AND starts_with(b.text, a.text))
          OR (a.text = b.text AND a.doc_id < b.doc_id))
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-containment dedup: pairs where one document is a proper
    PREFIX of another (or an exact clone) — the truncation-artifact
    family (crawler cutoffs, re-fetches with appended boilerplate) that
    Jaccard treats as merely similar and exact dedup misses entirely.

    Blocking: equi-join on the first PREFIX_BLOCK characters — a prefix
    pair of length >= PREFIX_BLOCK provably shares that block, so the
    join is a hash equi-join touching only block collisions; the
    startswith residual then verifies the full containment. Blocks hotter
    than PREFIX_MAX_DF docs are dropped (the MAX_SHINGLE_DF stop-key
    rule: a boilerplate opening shared by 10^6 docs would otherwise fan
    the join out quadratically — documented recall tradeoff, mirrored in
    the oracle). Documents shorter than PREFIX_BLOCK are out of contract
    (their truncation artifacts are cheap to catch with exact dedup).

    Determinism: pure string predicates and exact lengths. Ordering:
    doc_a is the CONTAINED (shorter) document — the one a dedup pass
    would drop — so doc_a's id may exceed doc_b's; only the exact-clone
    case (is_exact, equal lengths) orders by id, doc_a < doc_b. This
    differs from the minhash/ngram families' id-ordered pairs because
    containment is directional and the direction is the signal."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    d = docs.where(F.col("n") >= PREFIX_BLOCK).withColumn(
        "k", F.substring("text", 1, PREFIX_BLOCK)
    )
    hot = (
        d.groupBy("k").count().filter(F.col("count") > PREFIX_MAX_DF).select("k")
    )
    d = d.join(hot, "k", "left_anti")
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"),
        F.col("n").alias("len_a"), "k",
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"),
        F.col("n").alias("len_b"), "k",
    )
    prefix_case = (F.col("len_a") < F.col("len_b")) & F.col("text_b").startswith(
        F.col("text_a")
    )
    clone_case = (F.col("text_a") == F.col("text_b")) & (
        F.col("doc_a") < F.col("doc_b")
    )
    return (
        a.join(b, "k")
        .where(prefix_case | clone_case)
        .select(
            "doc_a", "doc_b", "len_a", "len_b",
            (F.col("len_a") == F.col("len_b")).alias("is_exact"),
        )
    )


_MINHASH_ROWS_PER_BAND = NUM_PERM // LSH_BANDS

_MINHASH_CTES = f"""
    perms AS (SELECT UNNEST(range(0, {NUM_PERM})) AS seed),
    m AS (
      SELECT doc_id, seed,
             MIN(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || shingle), 1, 15)
                      AS BIGINT)) AS mh
      FROM shingles CROSS JOIN perms
      GROUP BY doc_id, seed
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY seed) AS ms FROM m GROUP BY doc_id),
    banded AS (
      SELECT doc_id, bb.band,
             array_to_string(ms[bb.band * {_MINHASH_ROWS_PER_BAND} + 1 :
                                bb.band * {_MINHASH_ROWS_PER_BAND} + {_MINHASH_ROWS_PER_BAND}],
                             '|') AS bucket
      FROM sig CROSS JOIN (SELECT UNNEST(range(0, {LSH_BANDS})) AS band) bb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    mh_ver AS (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) AS jaccard
      FROM inter
      JOIN sizes za ON doc_a = za.doc_id
      JOIN sizes zb ON doc_b = zb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) >= 0.3
    )
"""

_MINHASH_ORACLE = (
    "WITH "
    + _SHINGLES_SQL
    + ","
    + _MINHASH_CTES
    + "SELECT doc_a, doc_b, jaccard FROM mh_ver"
)


def _perm_hash(seed: int, hash: str):
    """One minhash permutation of the shingle column.

    ``md5``: low 60 bits of md5(seed || '|' || shingle) via conv() — the
    q_corpus_shuffle idiom, reproducible in DuckDB ('0x…'::BIGINT), which
    is what upgrades q_dedup_minhash from a rows-only check to a full
    hash-checked oracle. ``xxhash64``: the production tier (VERDICT r03
    #3) — one JVM intrinsic instead of 3 chained string ops per shingle,
    same plan shape, no cross-engine oracle (DuckDB has no xxhash64)."""
    if hash == "md5":
        return F.conv(
            F.substring(
                F.md5(F.encode(F.concat_ws("|", F.lit(str(seed)), F.col("shingle")), "UTF-8")),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    if hash == "xxhash64":
        return F.xxhash64(F.lit(str(seed)), F.col("shingle"))
    raise ValueError(f"unknown minhash tier {hash!r}")


def minhash_pairs(spark: SparkSession, sf_dir: str, hash: str = "md5") -> DataFrame:
    """MinHash + LSH band join: shingle -> NUM_PERM min-signatures ->
    LSH_BANDS band keys -> bucket equi-join for candidates -> exact
    Jaccard verify. No crossJoin anywhere; at 100 TB the band join is the
    only shuffle that touches pairs, and it only sees true bucket
    collisions. ``hash`` picks the permutation tier (see _perm_hash);
    both tiers share this plan. Band keys join the band's minhash values
    as a '|'-joined string instead of re-hashing them — the hash
    compressed the key but never changed the collision set."""
    # The shingle set feeds signatures AND the exact-verify joins (4
    # consumers in one action), so it is cached before the plan runs.
    with cached(_shingles_df(spark, sf_dir)) as s:
        return _minhash_plan(s, hash).localCheckpoint(eager=True)


def _minhash_plan(s: DataFrame, hash: str = "md5") -> DataFrame:
    """The minhash pair plan over a (doc_id, shingle) frame,
    un-checkpointed (plan-shape tests inspect this; minhash_pairs
    checkpoints it inside its ``cached`` scope)."""
    _cand, verified = _minhash_parts(s, hash)
    return verified


def _minhash_parts(s: DataFrame, hash: str = "md5") -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, verified pairs) of the minhash plan — the split
    lets q_dedup_recall_eval meter the band join's candidate set
    separately from the post-verify output."""
    mins = [F.min(_perm_hash(seed, hash)).alias(f"m{seed}") for seed in range(NUM_PERM)]
    sig = s.groupBy("doc_id").agg(*mins)
    rows_per_band = NUM_PERM // LSH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-Jaccard verification of candidates only
    return cand, _pair_jaccard(s, cand)


def _pair_jaccard(s: DataFrame, pairs: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Exact shingle Jaccard for a (doc_a, doc_b) pair frame over the full
    (uncapped) shingle sets — THE verify definition, shared by the minhash
    pipeline and q_dedup_recall_eval's ground-truth arm so the two can
    never diverge. Returns (doc_a, doc_b, jaccard) filtered to
    jaccard >= threshold."""
    sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = s.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = s.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb"))
    jac = F.col("n_common").cast("double") / (F.col("_na") + F.col("_nb") - F.col("n_common"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@register("q_dedup_minhash", oracle=_MINHASH_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_pairs at the md5 oracle tier (see _perm_hash for the
    tier rationale; BENCH `tiers` compares md5 vs xxhash64)."""
    return minhash_pairs(spark, sf_dir, hash="md5")


# Truth-arm sampling budget (VERDICT r05 next-round #6): the 1-in-MOD doc
# sample's modulus is DERIVED from corpus size targeting a fixed
# sampled-truth budget, so the registered semantics scale without editing a
# constant — both engines compute MOD from the same COUNT(documents) with
# exact integer ceil-division. The estimator's variance tracks the sampled
# doc count (~TARGET, constant in corpus size), and the truth arm's capped
# equi-join touches ~TARGET^2/corpus of pair space — shrinking, not
# growing, with scale.
TRUTH_SAMPLE_TARGET_DOCS = 300


def _truth_sample_mod(n_docs: int) -> int:
    """ceil(n_docs / TARGET), floored at 1 — exact integer arithmetic so
    Spark (Python) and DuckDB (// floor-division in SQL) agree bit-for-bit."""
    return max(1, -(-n_docs // TRUTH_SAMPLE_TARGET_DOCS))


_TRUTH_SAMPLE_SQL = (
    "CAST('0x' || substr(md5('rcl:' || CAST(doc_id AS VARCHAR)), 1, 15) "
    "AS BIGINT) % (SELECT GREATEST(1, (COUNT(*) + "
    f"{TRUTH_SAMPLE_TARGET_DOCS - 1}) // {TRUTH_SAMPLE_TARGET_DOCS}) "
    "FROM documents) = 0"
)

_DEDUP_RECALL_ORACLE = (
    "WITH "
    + _SHINGLES_SQL
    + ","
    + _MINHASH_CTES
    + f""",
    samp AS (SELECT doc_id FROM documents WHERE {_TRUTH_SAMPLE_SQL}),
    tkeep AS (
      SELECT shingle FROM shingles GROUP BY shingle
      HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
    tsc AS (SELECT s.doc_id, s.shingle FROM shingles s
            JOIN tkeep USING (shingle) JOIN samp USING (doc_id)),
    tcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tsc a JOIN tsc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    tinter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM tcand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b),
    truth AS (
      SELECT doc_a, doc_b FROM tinter
      JOIN sizes za ON doc_a = za.doc_id
      JOIN sizes zb ON doc_b = zb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) >= 0.3),
    ver_s AS (
      SELECT v.doc_a, v.doc_b FROM mh_ver v
      JOIN samp pa ON v.doc_a = pa.doc_id
      JOIN samp pb ON v.doc_b = pb.doc_id),
    hits AS (
      SELECT t.doc_a FROM truth t
      JOIN mh_ver v ON t.doc_a = v.doc_a AND t.doc_b = v.doc_b)
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM mh_ver) AS BIGINT) AS n_verified,
           CAST((SELECT COUNT(*) FROM ver_s) AS BIGINT) AS n_verified_sampled,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
             CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
               / (SELECT COUNT(*) FROM truth) END AS recall,
           CASE WHEN (SELECT COUNT(*) FROM ver_s) > 0 THEN
             CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
               / (SELECT COUNT(*) FROM ver_s) END AS prec
    """
)


@register("q_dedup_recall_eval", oracle=_DEDUP_RECALL_ORACLE)
def q_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality harness for the dedup family — the q_recall_eval
    idea applied to MinHash LSH: recall and precision of the band-join
    pipeline against an exact ground truth (a sketch dedup without a
    measured recall is untrustworthy at any scale, same argument as ANN).

    Ground truth: pairs whose EXACT shingle Jaccard (uncapped sets, the
    same definition the minhash verify uses) is >= 0.3, discovered by the
    df-capped equi-self-join over a DETERMINISTIC md5 doc sample
    (1-in-MOD, MOD = ceil(corpus / TRUTH_SAMPLE_TARGET_DOCS) derived from
    the same COUNT on both engines) — exact dedup ground truth at corpus scale
    EXISTS only on samples, so the sample IS the registered semantics,
    not a docstring promise (the q_robust_stats r04 lesson: ship the
    production shape in the query). Recall/precision are therefore
    sampled estimators: recall over sampled truth pairs, precision over
    verified pairs whose docs both fall in the sample
    (n_verified_sampled) — full-corpus candidate/verified counts ride
    along from the cheap arm. A pair sharing exclusively stop-shingles
    is out of the truth contract (mirrored in the oracle); verified
    pairs outside sampled truth make precision < 1 by construction.

    Determinism: five exact bigint counts (md5 sample is retry/append
    stable, the q_sample_stratified rule) and two IEEE divisions,
    NULL-guarded on both engines for empty denominators.

    Shape at 100 TB: the truth arm's capped equi-join touches only the
    sampled 1/MOD of docs (1/MOD^2 of pairs); the minhash arm and the
    hits join are pairs-sized. MOD is corpus-derived (fixed ~TARGET
    sampled docs), so the truth arm's cost is CONSTANT in corpus size —
    the estimator's variance depends on sampled-truth count, not corpus
    size."""
    with cached(_shingles_df(spark, sf_dir)) as s:
        # each arm materializes ONCE (eager checkpoint) before the metric
        # fusion — the four scalar counts otherwise sit in ONE action whose
        # branches re-run the 64-permutation signature aggregate and both
        # verify pipelines up to 3x (measured at sf0.1: 20.3s naive -> 14.7s
        # with these pins; the truth-arm doc sample then took it to 8.1s)
        cand, _lazy_ver = _minhash_parts(s, "md5")  # re-derive ver from the pin
        cand = cand.localCheckpoint(eager=True)
        ver = _pair_jaccard(s, cand).localCheckpoint(eager=True)

        # corpus-derived sample modulus: one cheap parquet count (metadata-only
        # at scan time), mirrored by the oracle's scalar COUNT subquery —
        # identical integer ceil-division on both sides
        mod = _truth_sample_mod(table(spark, sf_dir, "documents").count())

        def in_sample(col: str):
            return (
                F.conv(
                    F.substring(
                        F.md5(F.encode(F.concat(F.lit("rcl:"), F.col(col).cast("string")), "UTF-8")),
                        1, 15,
                    ),
                    16, 10,
                ).cast("long")
                % mod
                == 0
            )

        sc_ = _drop_hot_shingles(s).where(in_sample("doc_id"))
        a = sc_.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sc_.select(F.col("doc_id").alias("doc_b"), "shingle")
        tcand = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        truth = (
            _pair_jaccard(s, tcand)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    ver_s = ver.where(in_sample("doc_a") & in_sample("doc_b"))
    hits = truth.join(ver.select("doc_a", "doc_b"), ["doc_a", "doc_b"])
    # 1-row scalar aggregates fused with broadcast crossJoins (each side
    # is provably one row — the q_weighted_sample scalar-max pattern);
    # divisions guarded on BOTH engines (the q_ab_lift n>1 lesson: an
    # empty truth/verified set must yield NULL, not an ANSI
    # DIVIDE_BY_ZERO crash or a cross-engine inf/NULL divergence)
    result = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(F.broadcast(cand.agg(F.count(F.lit(1)).alias("n_candidates"))))
        .crossJoin(F.broadcast(ver.agg(F.count(F.lit(1)).alias("n_verified"))))
        .crossJoin(
            F.broadcast(ver_s.agg(F.count(F.lit(1)).alias("n_verified_sampled")))
        )
        .crossJoin(F.broadcast(hits.agg(F.count(F.lit(1)).alias("n_hits"))))
        .select(
            "n_truth", "n_candidates", "n_verified", "n_verified_sampled",
            "n_hits",
            F.when(
                F.col("n_truth") > 0,
                F.col("n_hits").cast("double") / F.col("n_truth"),
            ).alias("recall"),
            F.when(
                F.col("n_verified_sampled") > 0,
                F.col("n_hits").cast("double") / F.col("n_verified_sampled"),
            ).alias("prec"),
        )
    )
    return result


_SIMHASH_BITS = 60  # low 60 bits of md5 (15 hex chars) — conv()-safe in BIGINT
_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS
_SIMHASH_HAMMING = 6

_SIMHASH_VOTES_SQL = ",\n           ".join(
    f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_SIG_SQL = " | ".join(
    f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
    for b in range(_SIMHASH_BITS)
)


_SIMHASH_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    h AS (
      SELECT doc_id, CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS hv FROM t
    ),
    votes AS (
      SELECT doc_id,
           {_SIMHASH_VOTES_SQL}
      FROM h GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {_SIMHASH_SIG_SQL} AS simhash FROM votes),
    banded AS (
      SELECT doc_id, simhash, bb.band,
             (simhash >> (bb.band * {_SIMHASH_BAND_BITS})) & {2 ** _SIMHASH_BAND_BITS - 1}
               AS bucket
      FROM sigs CROSS JOIN (SELECT UNNEST(range(0, {_SIMHASH_BANDS})) AS band) bb
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS sig_a, b.simhash AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {_SIMHASH_HAMMING}
    """


def simhash_pairs(spark: SparkSession, sf_dir: str, hash: str = "md5") -> DataFrame:
    """SimHash near-dup: 60-bit signature from token-hash bit votes; banded
    into 4x15-bit keys so candidate pairs come from an equi-join (documents
    with hamming distance <= 6 reported). ``hash`` picks the token-hash
    tier: ``md5`` is the low 60 bits of md5 via conv() —
    DuckDB-reproducible ('0x…'::BIGINT), which upgrades this from a
    rows-only check to a hash-checked oracle; ``xxhash64`` masks the JVM
    intrinsic to the same 60 bits (production tier, VERDICT r03 #3 —
    same plan, no cross-engine oracle)."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    if hash == "md5":
        h = F.conv(F.substring(F.md5(F.encode(F.col("token"), "UTF-8")), 1, 15), 16, 10).cast("long")
    elif hash == "xxhash64":
        h = F.xxhash64(F.col("token")).bitwiseAND(F.lit(2**_SIMHASH_BITS - 1))
    else:
        raise ValueError(f"unknown simhash tier {hash!r}")
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    simhash = None
    for b in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        simhash = bit if simhash is None else simhash.bitwiseOR(bit)
    sigs = votes.select("doc_id", simhash.alias("simhash"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * _SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(2 ** _SIMHASH_BAND_BITS - 1))
                .alias("bucket"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    banded = sigs.select("doc_id", "simhash", F.explode(bands).alias("bb")).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band", "bucket")
    b2 = banded.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band", "bucket")
    cand = (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= _SIMHASH_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


@register("q_dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash_pairs at the md5 oracle tier (BENCH `tiers` compares md5
    vs xxhash64)."""
    return simhash_pairs(spark, sf_dir, hash="md5")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

# NB: float -> DOUBLE -> DECIMAL. Casting float32 straight to decimal is
# engine-specific (Spark goes through the float's shortest string repr,
# DuckDB scales in float precision); upcasting to double first makes both
# engines round the same 64-bit value to 8 decimals.
_DEC_DOT = (
    "CAST(CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP({a}, {b}), "
    "p -> CAST(CAST(p[1] AS DOUBLE) AS DECIMAL(12,8)) * "
    "CAST(CAST(p[2] AS DOUBLE) AS DECIMAL(12,8)))) AS VARCHAR) AS DOUBLE)"
)


def _spark_dot(a, b):
    """Exact-decimal dot product (order-insensitive, oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: x.cast("double").cast("decimal(12,8)")
            * y.cast("double").cast("decimal(12,8)"),
        ),
        F.lit(0).cast("decimal(30,16)"),
        lambda acc, v: (acc + v).cast("decimal(30,16)"),
    ).cast("double")


# exact-decimal all-ones projection (sum of elements): the 1-D ordering
# key of the sorted-sliding-window capped tiers. Decimal addition is
# order-insensitive, so Spark's left fold and DuckDB's LIST_SUM agree
# bit-for-bit — a double fold would expose summation-order differences
# at rank near-ties (same rationale as _spark_dot/_DEC_DOT).
_PROJ_SQL = (
    "LIST_SUM(LIST_TRANSFORM({e}, "
    "x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,8))))"
)


def _spark_proj(a):
    """Exact-decimal element sum twin of _PROJ_SQL (ordering key only —
    never converted to double, compared as the exact decimal)."""
    return F.aggregate(
        a,
        F.lit(0).cast("decimal(20,8)"),
        lambda acc, v: (acc + v.cast("double").cast("decimal(12,8)")).cast(
            "decimal(20,8)"
        ),
    )


# exact brute-force cosine top-k as composable CTEs (final relation: r),
# shared by the q_sim_topk oracle and the q_recall_eval oracle so the two
# cannot drift
_EXACT_TOPK_CTE = f"""e AS (
      SELECT vec_id, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm2 AS q_n2 FROM e WHERE vec_id < 5),
    p AS (
      SELECT q_id, e.vec_id AS c_id,
             {_DEC_DOT.format(a='q_emb', b='e.embedding')} / SQRT(q_n2 * e.norm2) AS cosine
      FROM q CROSS JOIN e WHERE e.vec_id <> q_id
    ),
    r AS (SELECT q_id, c_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
          FROM p)"""


@register(
    "q_sim_topk",
    oracle=f"""
    WITH {_EXACT_TOPK_CTE}
    SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 10
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (the correctness baseline; see
    q_sim_ivf for the scale path). Queries broadcast against all candidates;
    dot products in exact decimal so Spark and DuckDB rank identically."""
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    e = e.select(
        "vec_id", "embedding", _spark_dot(F.col("embedding"), F.col("embedding")).alias("norm2")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), F.col("norm2").alias("q_n2")
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))
    cosine = _spark_dot(F.col("q_emb"), F.col("embedding")) / F.sqrt(
        F.col("q_n2") * F.col("norm2")
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        pairs.select("q_id", F.col("vec_id").alias("c_id"), cosine.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
    )


EMBED_COS_THRESHOLD = 0.2  # near-dup cosine cutoff (Spark filter + oracles)

# the label-blocked exact-decimal cosine edge set, shared by the
# q_dedup_embed oracle and every oracle built on its pair graph
# (q_triangle_count) — one definition, so threshold/blocking changes
# cannot drift between them
_EMBED_EDGES_SQL = f"""en AS (
      SELECT vec_id, label, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings),
    edges AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DEC_DOT.format(a='a.embedding', b='b.embedding')}
               / SQRT(a.norm2 * b.norm2) AS cosine
      FROM en a JOIN en b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_DEC_DOT.format(a='a.embedding', b='b.embedding')}
               / SQRT(a.norm2 * b.norm2) >= {EMBED_COS_THRESHOLD})"""


@register(
    "q_dedup_embed",
    oracle=f"""
    WITH {_EMBED_EDGES_SQL}
    SELECT vec_a, vec_b, cosine FROM edges
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the label cell: the
    pair join runs only within blocks (IVF-style blocking), so the
    candidate count is sum_cell(n_c^2) instead of N^2 — the standard
    scale shape for embedding dedup. Exact decimal dots keep the oracle
    bit-identical.

    Perf: the exact-decimal dot is ~10x the cost of a plain double dot
    (interpreted decimal(30,16) arithmetic per element), so candidates
    are prefiltered with a double-precision cosine at threshold-1e-6 and
    the exact decimal cosine is evaluated only for survivors. Since
    round 8 the prefilter itself is VECTORIZED: the within-cell m^2/2
    pair space goes through one chunked float64 X @ X.T per label cell
    (applyInArrow — Arrow batches, BLAS matmul) instead of ~1.3
    BILLION interpreted zip_with element ops at the 10x lane, which
    stage-profiling showed dominated every exact-graph consumer
    (triangle/LPA/CC/agreement harnesses all sat at 110-142s paying
    this one build). The 1e-6 margin is >>1000x BOTH the double-vs-
    decimal rounding gap AND the matmul-vs-sequential summation-order
    gap for 64-dim unit-scale vectors, so the survivor set after the
    unchanged exact-decimal filter is bit-identical — oracle untouched.
    A cell's pair space is quadratic by definition of the blocking
    (same as the join it replaces); the matmul runs in fixed-size row
    chunks so peak memory is chunk x cell, not cell x cell."""
    dp = spark.sparkContext.defaultParallelism
    e = table(spark, sf_dir, "embeddings").repartition(dp, "label")
    e = e.select(
        "vec_id",
        "label",
        "embedding",
        _spark_dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    # no group-size guard: the label cell is this builder's blocking
    # contract, and its quadratic pair space is chunked in the kernel
    cand = e.select("vec_id", "label", "embedding").groupBy("label").applyInArrow(
        _embed_cand_cell, "vec_a long, vec_b long"
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm2").alias("n2_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm2").alias("n2_b"),
    )
    cosine = _spark_dot(F.col("emb_a"), F.col("emb_b")) / F.sqrt(F.col("n2_a") * F.col("n2_b"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= EMBED_COS_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


def _embed_cand_cell(t):
    """Per-label-cell candidate pairs for q_dedup_embed: chunked float64
    X @ X.T cosine prefilter at EMBED_COS_THRESHOLD - 1e-6, emitting
    (vec_a < vec_b) id pairs. The margin makes the survivor set immune
    to summation-order differences between the matmul and the exact
    decimal confirm that follows JVM-side (see q_dedup_embed). Zero-norm
    vectors are excluded up front — their exact cosine is NULL and the
    registered filter drops them anyway. ``t`` is one cell's Arrow
    table; the embeddings are read as one flat float array reshaped to
    (n, dim)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = t.column("vec_id").to_numpy()
    x = pc.list_flatten(t.column("embedding")).to_numpy().reshape(len(ids), -1)
    order = np.argsort(ids)
    ids, x = ids[order], x[order].astype(np.float64)
    n2 = (x * x).sum(axis=1)
    keep = n2 > 0.0
    ids, x, n2 = ids[keep], x[keep], n2[keep]
    n = len(ids)
    thr = EMBED_COS_THRESHOLD - 1e-6
    inv = 1.0 / np.sqrt(n2)
    xn = x * inv[:, None]  # unit rows: cosine == xn @ xn.T
    out_a, out_b = [ids[:0]], [ids[:0]]
    chunk = 1024
    for i0 in range(0, n, chunk):
        i1 = min(i0 + chunk, n)
        s = xn[i0:i1] @ xn.T  # (i1-i0, n)
        ii, jj = np.nonzero(s >= thr)
        gi = ii + i0
        m = jj > gi  # upper triangle in vec_id order => vec_a < vec_b
        out_a.append(ids[gi[m]])
        out_b.append(ids[jj[m]])
    return pa.table({"vec_a": np.concatenate(out_a), "vec_b": np.concatenate(out_b)})


# decimal dot variants for the IVF oracle: element casts fix the exact
# rational each engine computes, products/sums stay exact, and the single
# final decimal->double cast is correctly rounded in both engines (the
# _DEC_DOT reasoning, extended to double-valued centroid operands).
_DDOT_QC = (  # float query x double centroid: DECIMAL(12,8) x DECIMAL(18,12)
    "CAST(CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP({a}, {b}), "
    "p -> CAST(CAST(p[1] AS DOUBLE) AS DECIMAL(12,8)) * "
    "CAST(p[2] AS DECIMAL(18,12)))) AS VARCHAR) AS DOUBLE)"
)
_DDOT_CC = (  # double centroid x itself: DECIMAL(18,12) both sides
    "CAST(CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP({a}, {b}), "
    "p -> CAST(p[1] AS DECIMAL(18,12)) * CAST(p[2] AS DECIMAL(18,12)))) "
    "AS VARCHAR) AS DOUBLE)"
)


def _spark_dot_qc(a, b):
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: x.cast("double").cast("decimal(12,8)") * y.cast("decimal(18,12)"),
        ),
        F.lit(0).cast("decimal(38,20)"),
        lambda acc, v: (acc + v).cast("decimal(38,20)"),
    ).cast("double")


def _spark_dot_cc(a, b):
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: x.cast("decimal(18,12)") * y.cast("decimal(18,12)"),
        ),
        F.lit(0).cast("decimal(38,24)"),
        lambda acc, v: (acc + v).cast("decimal(38,24)"),
    ).cast("double")


# IVF cell-probe top-k as composable CTEs (final relation: ivr), shared by
# the q_sim_ivf oracle and the q_recall_eval oracle
_IVF_TOPK_CTE = f"""ex AS (
      SELECT label, embedding, UNNEST(range(1, len(embedding) + 1)) AS dim
      FROM embeddings
    ),
    cellvals AS (
      SELECT label, dim,
             CAST(CAST(SUM(CAST(CAST(embedding[dim] AS DOUBLE) AS DECIMAL(18,8)))
                       AS VARCHAR) AS DOUBLE) / COUNT(*) AS cval
      FROM ex GROUP BY label, dim
    ),
    cells AS (
      SELECT label, list(cval ORDER BY dim) AS centroid FROM cellvals GROUP BY label
    ),
    qc0 AS (
      SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.label,
             {_DDOT_QC.format(a='q.embedding', b='c.centroid')}
               / (sqrt({_DEC_DOT.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_DDOT_CC.format(a='c.centroid', b='c.centroid')})) AS c_sim
      FROM embeddings q CROSS JOIN cells c
      WHERE q.vec_id < 5
    ),
    qc AS (
      SELECT q_id, q_emb, label
      FROM (SELECT q_id, q_emb, label,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c_sim DESC, label)
                     AS c_rank
            FROM qc0)
      WHERE c_rank <= 2
    ),
    cand AS (
      SELECT qc.q_id, e.vec_id AS c_id,
             {_DEC_DOT.format(a='qc.q_emb', b='e.embedding')}
               / (sqrt({_DEC_DOT.format(a='qc.q_emb', b='qc.q_emb')})
                  * sqrt({_DEC_DOT.format(a='e.embedding', b='e.embedding')})) AS cosine
      FROM qc JOIN embeddings e ON qc.label = e.label AND e.vec_id <> qc.q_id
    ),
    ivr AS (
      SELECT q_id, c_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id)
                  AS INT) AS rnk
      FROM cand
    )"""


@register(
    "q_sim_ivf",
    oracle=f"""
    WITH {_IVF_TOPK_CTE}
    SELECT q_id, c_id, cosine, rnk FROM ivr WHERE rnk <= 10
    """,
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: centroids per label cell (posexplode + decimal-exact
    avg), probe the 2 nearest cells per query, exact cosine only within
    probed cells. At 100 TB the candidate set shrinks by ~nlist/nprobe;
    centroids stay tiny and broadcast.

    Formerly rows-only; now hash-checked: every float that influences a
    comparison (centroid means, cell similarities, candidate cosines) is
    routed through element-wise decimal casts so Spark and DuckDB compute
    the same exact rational before one correctly-rounded double cast —
    the _spark_dot/_DEC_DOT discipline — and both rankings carry explicit
    tiebreakers (label for cells, c_id for candidates)."""
    e = table(spark, sf_dir, "embeddings")
    # centroids: decimal-exact sum / count — one shuffle of (label, dim)
    cells = (
        e.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            (F.sum(F.col("val").cast("double").cast("decimal(18,8)")).cast("double")
             / F.count(F.lit(1))).alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["cval"]).alias("centroid"))
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c_sim = _spark_dot_qc(F.col("q_emb"), F.col("centroid")) / (
        F.sqrt(_spark_dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(_spark_dot_cc(F.col("centroid"), F.col("centroid")))
    )
    qc = (
        q.crossJoin(F.broadcast(cells))
        .select("q_id", "q_emb", "label", c_sim.alias("c_sim"))
        .withColumn(
            "c_rank",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("label"))
            ),
        )
        .filter(F.col("c_rank") <= 2)  # nprobe = 2
        .select("q_id", "q_emb", "label")
    )
    cand = qc.join(e, "label").filter(F.col("vec_id") != F.col("q_id"))
    cosine = _spark_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(_spark_dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(_spark_dot(F.col("embedding"), F.col("embedding")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        cand.select("q_id", F.col("vec_id").alias("c_id"), cosine.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "q_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_c,
           CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
           CAST(LEN(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS INT) AS n_unique_tokens,
           CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
             / LEN(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (all JVM-side string expressions)."""
    docs = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_c"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        (
            F.length(F.regexp_replace("text", r"\s", "")).cast("double") / F.size(toks)
        ).alias("avg_token_len"),
    )


_LANG_PATTERNS = {
    "en": r"\b(the|of|and)\b",
    "es": r"\b(el|la|de)\b",
    "de": r"\b(der|die|das)\b",
}


# Shared by q_lang_id and the round-8-prep accuracy harness (the eval
# wraps this byte-identical text as a subquery so classifier and
# evaluation can never drift; q_lang_id's registered fingerprint is
# unchanged by the refactor).
_LANG_ID_ORACLE = f"""
    WITH c AS (
      SELECT doc_id, lang,
             LEN(regexp_extract_all(text, '{_LANG_PATTERNS["en"]}')) AS n_en,
             LEN(regexp_extract_all(text, '{_LANG_PATTERNS["es"]}')) AS n_es,
             LEN(regexp_extract_all(text, '{_LANG_PATTERNS["de"]}')) AS n_de
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_en AS INT) AS n_en, CAST(n_es AS INT) AS n_es,
           CAST(n_de AS INT) AS n_de,
           CASE WHEN n_en >= n_es AND n_en >= n_de THEN 'en'
                WHEN n_es >= n_de THEN 'es' ELSE 'de' END AS lang_guess
    FROM c
    """


@register(
    "q_lang_id",
    oracle=_LANG_ID_ORACLE,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-pattern counts + deterministic
    argmax. (The fixture text is synthetic word soup, so the guess mostly
    lands 'en' — the operator contract is the deterministic scoring.)"""
    docs = table(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        "lang",
        F.regexp_count("text", F.lit(_LANG_PATTERNS["en"])).alias("n_en"),
        F.regexp_count("text", F.lit(_LANG_PATTERNS["es"])).alias("n_es"),
        F.regexp_count("text", F.lit(_LANG_PATTERNS["de"])).alias("n_de"),
    )
    guess = (
        F.when((F.col("n_en") >= F.col("n_es")) & (F.col("n_en") >= F.col("n_de")), "en")
        .when(F.col("n_es") >= F.col("n_de"), "es")
        .otherwise("de")
    )
    return c.withColumn("lang_guess", guess)


@register(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_words,
           CAST(LEN(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
           CAST(LEN(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INT) AS n_symbols,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
             AS n_bpe_ish
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words, numbers, symbols and a BPE-ish
    pre-tokenizer regex — the standard LLM-corpus accounting pass."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("[A-Za-z]+")).alias("n_words"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_numbers"),
        F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]")).alias("n_symbols"),
        F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")).alias("n_bpe_ish"),
    )


@register(
    "q_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(toks) AS INT) AS n_tokens,
           CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS INT)
             AS n_stopwords,
           CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
             / LEN(toks) AS stop_ratio,
           CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks) AS uniq_ratio,
           CAST(n_chars AS DOUBLE) / LEN(toks) AS chars_per_token
    FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal extraction: stopword ratio, uniqueness ratio,
    chars-per-token — the usual corpus-filtering features."""
    docs = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    stop = F.array([F.lit(x) for x in ("the", "a", "of", "and", "to", "in")])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / F.size(toks)).alias("stop_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("uniq_ratio"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("chars_per_token"),
    )


@register(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           SUBSTR(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 8) AS bucket
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized md5 (the one hash both engines
    share bit-for-bit) + an 8-hex-char shard bucket."""
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.encode(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), "UTF-8"))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("bucket")
    )


WINNOW_K = 8  # chars per k-gram
WINNOW_W = 4  # winnowing window (hashes)


@register(
    "q_winnow_fingerprint",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text,
             UNNEST(range(1, CAST(length(text) - {WINNOW_K} + 2 AS BIGINT))) AS p
      FROM documents WHERE length(text) >= {WINNOW_K}
    ),
    h AS (
      SELECT doc_id, p, md5(substr(text, CAST(p AS INT), {WINNOW_K})) AS kh
      FROM pos
    ),
    w AS (
      SELECT doc_id,
             MIN(kh) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
               AS fp
      FROM h
    )
    SELECT DISTINCT doc_id, fp FROM w
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash fingerprinting
    scheme of Schleimer/Wilkerson/Aiken's MOSS, SIGMOD'03): hash every
    WINNOW_K-char k-gram, keep the minimum hash of each WINNOW_W-wide
    window of consecutive positions, emit the distinct minima per doc.
    Near-identical documents share most fingerprints, and a fingerprint
    equi-join finds overlap without any pair enumeration.

    The classic algorithm uses a *rolling* hash to make single-core
    hashing O(n); distributed, that serial recurrence is the wrong shape —
    hashing each k-gram independently (md5, codegen, embarrassingly
    parallel, and shared bit-for-bit with DuckDB) gives the same
    fingerprint set with no cross-row dependency. The position explode is
    ~len(text) rows per doc inside the scan stage; the window min reuses
    the per-doc hash partitioning."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= WINNOW_K)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    pos = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - WINNOW_K + 1)).alias("p"),
    )
    kh = pos.select(
        "doc_id", "p", F.md5(F.encode(F.expr(f"substring(text, p, {WINNOW_K})"), "UTF-8")).alias("kh")
    )
    w = W.partitionBy("doc_id").orderBy("p").rowsBetween(0, WINNOW_W - 1)
    return kh.select("doc_id", F.min("kh").over(w).alias("fp")).distinct()


N_PLANES = 5  # sign bits per signature (2^5 buckets; sized so buckets hold ~n/32 vectors)
LSH_PROBE_BITS = 1  # multiprobe radius (hamming distance on the bucket id)
_PLANE_MAX_DIM = 256  # planes are generated at this width and sliced to the
# data's dim, so the constants (and the oracle embedding them) don't depend
# on the fixture's dimensionality
_PLANE_DECIMALS = 8  # plane components rounded to 8dp => the sign-bit dot is
# exact decimal arithmetic, reproducible bit-for-bit in DuckDB


def _lsh_planes(n_planes: int):
    """Seeded-deterministic hyperplanes, rounded to _PLANE_DECIMALS so both
    engines compute the identical exact-decimal projection. RandomState
    streams are version-stable, and the same literal values are embedded in
    the Spark plan and the oracle SQL."""
    import numpy as np

    rng = np.random.RandomState(0x5EED)
    raw = rng.standard_normal((n_planes, _PLANE_MAX_DIM))
    return [[round(float(v), _PLANE_DECIMALS) for v in row] for row in raw]


def _probe_masks(n_planes: int, probe_bits: int):
    import itertools

    return [
        sum(1 << p for p in bits)
        for r in range(probe_bits + 1)
        for bits in itertools.combinations(range(n_planes), r)
    ]


def lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int = N_PLANES,
    probe_bits: int = LSH_PROBE_BITS,
    n_queries: int = 5,
) -> DataFrame:
    """The LSH candidate-pair stage, parameterized so the recall /
    scan-fraction tradeoff is sweepable (tests/test_ann.py asserts the
    curve's monotonicity): sign-bit signatures from seeded-deterministic
    hyperplanes, multiprobe expansion to every bucket within hamming
    distance ``probe_bits``, bucket equi-join. Returns
    (q_id, q_emb, vec_id, embedding) candidate rows."""
    e = table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()["embedding"])
    if dim > _PLANE_MAX_DIM:
        # fail fast: beyond the generated plane width, Spark's zip_with
        # would null-pad (silently zeroing sign bits) while the oracle's
        # [1:len(embedding)] slice diverges differently — loud beats
        # silently-wrong buckets (ADVICE r03)
        raise ValueError(
            f"embedding dim {dim} exceeds _PLANE_MAX_DIM={_PLANE_MAX_DIM}; "
            "regenerate _lsh_planes wider"
        )
    planes = [row[:dim] for row in _lsh_planes(n_planes)]

    def dot_lit(vec_col, plane):
        # exact decimal projection: float component -> DECIMAL(12,8) times
        # the 8dp plane literal -> exact products/sum, so the sign bit is
        # bit-identical in any engine evaluating the same literals
        prods = F.zip_with(
            vec_col,
            F.array(*[F.lit(v).cast("decimal(12,8)") for v in plane]),
            lambda x, y: x.cast("double").cast("decimal(12,8)") * y,
        )
        return F.aggregate(
            prods,
            F.lit(0).cast("decimal(30,16)"),
            lambda a, v: (a + v).cast("decimal(30,16)"),
        )

    def bucket_of(vec_col):
        b = F.lit(0).cast("long")
        for p, plane in enumerate(planes):
            bit = F.when(dot_lit(vec_col, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
            b = b.bitwiseOR(bit)
        return b

    cand = e.select("vec_id", "embedding", bucket_of(F.col("embedding")).alias("bucket"))
    q = cand.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    # multiprobe expansion: every XOR mask with <= probe_bits bits set
    masks = _probe_masks(n_planes, probe_bits)
    probes = F.array(*[F.col("bucket").bitwiseXOR(F.lit(m).cast("long")) for m in masks])
    q = q.select("q_id", "q_emb", F.explode(probes).alias("bucket"))
    return F.broadcast(q).join(cand, "bucket").filter(F.col("vec_id") != F.col("q_id"))


def lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int = N_PLANES,
    probe_bits: int = LSH_PROBE_BITS,
    k: int = 10,
    n_queries: int = 5,
) -> DataFrame:
    """Exact cosine re-rank of the LSH candidate set -> top-k per query
    (decimal-exact cosine — the _spark_dot discipline — so the ranking is
    engine-reproducible)."""
    pairs = lsh_candidates(spark, sf_dir, n_planes, probe_bits, n_queries)
    cosine = _spark_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(_spark_dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(_spark_dot(F.col("embedding"), F.col("embedding")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        pairs.select("q_id", F.col("vec_id").alias("c_id"), cosine.alias("cosine"))
        .distinct()
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _lsh_oracle() -> str:
    """DuckDB twin of q_sim_lsh, generated with the SAME plane/mask
    literals the Spark plan embeds: 8dp decimal plane components make the
    sign-bit projections exact arithmetic, so buckets (and therefore the
    candidate set) match bit-for-bit; the re-rank cosine is the _DEC_DOT
    idiom with the c_id tiebreaker."""
    planes = _lsh_planes(N_PLANES)
    masks = _probe_masks(N_PLANES, LSH_PROBE_BITS)

    def plane_list(row):
        return "[" + ", ".join(f"{v:.8f}" for v in row) + "]"

    def proj(p):
        return (
            "LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding, "
            f"{plane_list(planes[p])}[1:len(embedding)]), "
            "z -> CAST(CAST(z[1] AS DOUBLE) AS DECIMAL(12,8)) * "
            "CAST(z[2] AS DECIMAL(12,8))))"
        )

    bucket = "\n         + ".join(
        f"(CASE WHEN {proj(p)} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(N_PLANES)
    )
    mask_list = ", ".join(str(m) for m in masks)
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
           {bucket} AS bucket
      FROM embeddings
    ),
    qp AS (
      SELECT s.vec_id AS q_id, s.embedding AS q_emb, xor(s.bucket, m.m) AS bucket
      FROM sig s CROSS JOIN (SELECT UNNEST([{mask_list}]) AS m) m
      WHERE s.vec_id < 5
    ),
    scored AS (
      SELECT DISTINCT qp.q_id, s.vec_id AS c_id,
             {_DEC_DOT.format(a='qp.q_emb', b='s.embedding')}
               / (sqrt({_DEC_DOT.format(a='qp.q_emb', b='qp.q_emb')})
                  * sqrt({_DEC_DOT.format(a='s.embedding', b='s.embedding')})) AS cosine
      FROM qp JOIN sig s ON qp.bucket = s.bucket AND s.vec_id <> qp.q_id
    )
    SELECT q_id, c_id, cosine, rnk FROM (
      SELECT q_id, c_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id)
                  AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """


@register("q_sim_lsh", oracle=_lsh_oracle())
def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (the cosine-LSH counterpart of
    q_sim_ivf): N_PLANES fixed pseudo-random hyperplanes -> sign-bit
    signature -> bucket equi-join -> exact cosine only within probed
    buckets. Multiprobe: each query also probes every bucket at hamming
    distance <= LSH_PROBE_BITS, the standard recall boost that costs a few
    probe rows per query instead of a second hash table. Hyperplanes are
    seeded-deterministic (same buckets every run, any cluster size) and
    rounded to 8 decimals, making the sign-bit projections exact decimal
    arithmetic; the oracle embeds the same plane/mask literals, so the
    formerly-rows-only check is now a full hash-checked oracle.

    Measured on the synthetic fixture (unstructured vectors, the hardest
    case for LSH): recall@10 ~0.36 while scanning ~6/32 of the corpus per
    query (tests/test_ann.py asserts a 0.2 floor and sweeps the
    n_planes/probe_bits tradeoff curve). At scale recall is bought with
    more hash tables (union of several plane sets) and a larger
    LSH_PROBE_BITS, both embarrassingly parallel; the exact brute-force
    q_sim_topk stays the correctness baseline.

    Scale: candidates shrink ~2^N_PLANES-fold; the bucket join is the only
    shuffle that sees data rows; probe fan-out rides a broadcast."""
    return lsh_topk(spark, sf_dir)


# ---------------------------------------------------------------------------
# corpus statistics (vocabulary / n-grams / repetition / length profile)
# ---------------------------------------------------------------------------


def _bigrams_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bigram) with multiplicity — unlike ``_shingles_df`` this is
    NOT distinct (corpus counting needs occurrences) and uses K=2. Same
    sort-free codegen shape as _shingles_df: explode the position range,
    two element_at lookups against the kept token array."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    d = docs.select("doc_id", _tokens(F.col("text")).alias("t")).filter(F.size("t") >= 2)
    pos = d.select(
        "doc_id", "t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i")
    ).withColumn("i", F.col("i").cast("int"))
    sh = F.concat_ws(
        " ", F.element_at(F.col("t"), F.col("i")), F.element_at(F.col("t"), F.col("i") + 1)
    )
    return pos.select("doc_id", sh.alias("bigram"))


_VOCAB_K = 100


@register(
    "q_vocab_topk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    )
    SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM t WHERE tok <> ''
    GROUP BY tok ORDER BY tf DESC, tok LIMIT {_VOCAB_K}
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: term frequency + document frequency for the
    top-{K} tokens — the vocabulary-building / BPE-seeding pass of a
    training corpus. Classic wordcount shape: explode inside the scan
    stage, one partial+final hash aggregate, partial top-k
    (TakeOrderedAndProject — no global sort). Deterministic tiebreak
    (tf desc, token asc) so both engines cut the same head."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    return (
        t.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("tf").desc(), "tok")
        .limit(_VOCAB_K)
    )


@register(
    "q_ngram_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    b AS (
      SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
                     i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, COUNT(*) AS n FROM b
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT {_VOCAB_K}
    """,
)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram counts, top-{K}: the n-gram language-model /
    contamination-check accounting pass. Bigrams materialize inside the
    scan stage (posexplode + lead, all codegen); one hash aggregate; the
    head is a partial top-k, never a global sort."""
    b = _bigrams_df(spark, sf_dir)
    return (
        b.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(_VOCAB_K)
    )


@register(
    "q_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    b AS (
      SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
                     i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           COUNT(DISTINCT bigram) AS n_distinct,
           1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE) / COUNT(*) AS rep_ratio
    FROM b GROUP BY doc_id
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: repeated-bigram ratio per document — the
    boilerplate/spam signal corpus filters threshold on (a doc whose
    bigrams are mostly duplicates is template noise). Exact integer
    counts; the ratio is one IEEE division, bit-identical across engines.
    One aggregate keyed by doc_id; the bigram explode reuses the
    per-doc partitioning, so no extra shuffle."""
    b = _bigrams_df(spark, sf_dir)
    return b.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("bigram").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.countDistinct("bigram").cast("double") / F.count(F.lit(1))
        ).alias("rep_ratio"),
    )


@register(
    "q_len_hist",
    oracle="""
    SELECT CAST((length(text) // 100) * 100 AS BIGINT) AS bucket_start,
           COUNT(*) AS n_docs,
           CAST(MIN(length(text)) AS INT) AS min_len,
           CAST(MAX(length(text)) AS INT) AS max_len
    FROM documents GROUP BY 1
    """,
)
def q_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) — the length-profile
    pass behind truncation / packing / outlier policies. Pure integer
    bucketing + one hash aggregate; at 100 TB this is a full scan of one
    pruned column and a ~10^3-group aggregate."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(
        (F.floor(F.length("text") / 100) * 100).cast("long").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.length("text")).alias("min_len"),
        F.max(F.length("text")).alias("max_len"),
    )


# ---------------------------------------------------------------------------
# decontamination / entropy / sampling
# ---------------------------------------------------------------------------

DECONTAM_MOD = 97  # fixture stand-in for "doc is in the eval benchmark"


@register(
    "q_decontam",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    ev AS (
      SELECT DISTINCT shingle FROM shingles WHERE doc_id % {DECONTAM_MOD} = 0
    ),
    tr AS (
      SELECT doc_id, shingle FROM shingles WHERE doc_id % {DECONTAM_MOD} <> 0
    ),
    tot AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id
    ),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_contaminated
      FROM tr JOIN ev USING (shingle) GROUP BY doc_id
    )
    SELECT doc_id, n_contaminated, n_shingles,
           CAST(n_contaminated AS DOUBLE) / n_shingles AS contamination
    FROM hits JOIN tot USING (doc_id)
    """,
)
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    {SHINGLE_K}-gram shingles with the eval set (here: doc_id %
    DECONTAM_MOD == 0 stands in for benchmark membership). The standard
    pretraining-hygiene pass: shingle both sides, equi-join on shingle,
    report per-doc hit counts + contamination ratio.

    Scale shape: the eval side of a real decontamination run is a
    benchmark suite — MBs, not TBs — so its distinct-shingle set is
    broadcast and the 100 TB training side never shuffles for the join
    (plan: Exchange only for the two doc_id aggregates, which share
    partitioning). The shingle set feeds both sides in one action, so
    it is ``cached`` while the flagged-doc result is checkpointed."""
    with cached(_shingles_df(spark, sf_dir)) as base:
        is_eval = F.col("doc_id") % DECONTAM_MOD == 0
        ev = base.filter(is_eval).select("shingle").distinct()
        tr = base.filter(~is_eval)
        tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
        hits = (
            tr.join(F.broadcast(ev), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated"))
        )
        return (
            hits.join(tot, "doc_id")
            .select(
                "doc_id",
                "n_contaminated",
                "n_shingles",
                (F.col("n_contaminated").cast("double") / F.col("n_shingles")).alias(
                    "contamination"
                ),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "q_token_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    withp AS (
      SELECT doc_id, c,
             CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id) AS p
      FROM cnt
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_unique,
           CAST(CAST(-SUM(CAST(p * ln(p) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)
             AS entropy
    FROM withp GROUP BY doc_id
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (Shannon) entropy in nats — the
    perplexity-proxy quality signal (low entropy = repetitive/templated
    text, a standard corpus-filter feature alongside q_quality_score and
    q_repetition). p*ln(p) terms are per-row IEEE (deterministic), then
    decimal-cast before the sum so the reduction is order-insensitive
    (functions/numeric.py rules 1/3). Shape: explode -> (doc_id, tok)
    hash aggregate -> window sum over doc_id -> final doc_id aggregate;
    the window and both aggregates share the doc_id partitioning, so one
    Exchange after the explode serves all three at any scale."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Repartition the (small) doc rows by doc_id BEFORE the explode: a
    # HashPartitioning(doc_id) satisfies the (doc_id, tok) clustering of
    # the first aggregate AND the doc_id window/aggregate after it, so the
    # whole query runs on one Exchange of doc rows instead of two
    # Exchanges of exploded token rows.
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    p = F.col("c").cast("double") / F.sum("c").over(W.partitionBy("doc_id"))
    term = (p * F.log(p)).cast("decimal(28,12)")
    return (
        cnt.withColumn("term", term)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_unique"),
            (-F.sum("term")).cast("double").alias("entropy"),
        )
    )


# per-stratum sampling rates as 8-hex-digit md5-prefix thresholds:
# keep doc iff substr(md5(text),1,8) < threshold(lang). String comparison of
# lowercase hex is identical in Spark and DuckDB, so the sample is
# deterministic and engine-portable with no float conversion at all.
# 0x80000000/2^32 = 0.5 for the majority class, 0x33333333/2^32 ~ 0.2 rest.
SAMPLE_THRESHOLDS = {"en": "80000000"}
SAMPLE_DEFAULT_THRESHOLD = "33333333"


@register(
    "q_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, SUBSTR(md5(text), 1, 8) AS bucket
    FROM documents
    WHERE SUBSTR(md5(text), 1, 8) <
          CASE lang WHEN 'en' THEN '{SAMPLE_THRESHOLDS["en"]}'
                    ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language rates (50% en, ~20%
    rest) via md5-prefix thresholding — the hash-salted twin of
    df.sampleBy(), but reproducible across engines AND across runs/retries
    (rand()-based sampling is neither; a retried task would resample).
    Content-hash bucketing also means the sample is stable under
    re-partitioning and appends — the property you want when drawing a
    held-out slice from a growing 100 TB corpus. Pure per-row codegen
    predicate, zero shuffles, filter applied before any downstream work."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 8)
    thresh = F.when(
        F.col("lang") == "en", F.lit(SAMPLE_THRESHOLDS["en"])
    ).otherwise(F.lit(SAMPLE_DEFAULT_THRESHOLD))
    return docs.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < thresh
    )


TFIDF_TOPN = 3  # top terms exported per document


@register(
    "q_tfidf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    dfreq AS (
      SELECT tok, COUNT(*) AS df FROM cnt GROUP BY tok
    ),
    nd AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM cnt
    ),
    scored AS (
      SELECT c.doc_id, c.tok,
             (CAST(c.c AS DOUBLE) / SUM(c.c) OVER (PARTITION BY c.doc_id))
               * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
      FROM cnt c JOIN dfreq USING (tok) CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, tok, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rnk
      FROM scored
    )
    SELECT doc_id, tok, CAST(rnk AS INT) AS rnk, tfidf
    FROM ranked WHERE rnk <= {TFIDF_TOPN}
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPN} TF-IDF terms per document — the classic keyword /
    topic-signal extraction over a corpus. tf = c/n_doc_tokens, idf =
    ln(N/df), both per-row IEEE (functions/numeric.py rule 3); ranking
    breaks tfidf ties on the token string so both engines agree.

    Scale shape: the doc-side flow (token counts, per-doc total, final
    rank) all runs on one doc_id Exchange (repartition before the
    explode). The document-frequency side is a token-keyed aggregate
    whose result is the corpus *vocabulary* — broadcast here; at 100 TB
    vocab (10^7-10^8 terms, GBs) drop the hint and let it shuffle-join
    on tok, or df-cap the vocabulary first as _drop_hot_shingles does."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    # (doc_id, tok, c) feeds three branches (tf/rank path, document
    # frequency, corpus doc count), so the scan + explode + first
    # aggregate run once
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    with cached(counts) as cnt:
        dfreq = cnt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        nd = cnt.agg(F.countDistinct("doc_id").alias("n_docs"))
        tf = F.col("c").cast("double") / F.sum("c").over(W.partitionBy("doc_id"))
        idf = F.log(F.col("n_docs").cast("double") / F.col("df"))
        scored = (
            cnt.withColumn("tf", tf)
            # vocabulary-sized side: no static broadcast hint (Heap's-law
            # growth is sublinear but unbounded at 100 TB) — AQE broadcasts
            # at runtime when it fits (VERDICT r05 #1 sweep)
            .join(dfreq, "tok")
            .crossJoin(F.broadcast(nd))
            .select("doc_id", "tok", (F.col("tf") * idf).alias("tfidf"))
        )
        rnk = F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
        )
        return (
            scored.withColumn("rnk", rnk)
            .filter(F.col("rnk") <= TFIDF_TOPN)
            .select("doc_id", "tok", "rnk", "tfidf")
            .localCheckpoint(eager=True)
        )


@register(
    "q_embed_quantize",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, UNNEST(embedding) AS x FROM embeddings
    ),
    wa AS (
      SELECT vec_id, label, CAST(x AS DOUBLE) AS x,
             CAST(MAX(ABS(x)) OVER (PARTITION BY vec_id) AS DOUBLE) AS amax
      FROM ex
    ),
    q AS (
      SELECT vec_id, label, amax,
             CAST(round(x / (amax / 127.0)) AS BIGINT) AS qv
      FROM wa WHERE amax > 0
    )
    SELECT vec_id, label,
           MAX(amax) / 127.0 AS scale,
           CAST(SUM(qv) AS BIGINT) AS checksum,
           CAST(SUM(qv * qv) AS BIGINT) AS q_norm2,
           CAST(COUNT(*) AS INT) AS n_dims
    FROM q GROUP BY vec_id, label
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage /
    bandwidth scale path for ANN (4x smaller than float32, int-dot
    kernels). Per-vector absmax scale, quantized values summarized as
    exact-integer checksum + squared norm (scalar outputs keep the
    driver's canonicalizer off array columns; the quantized array itself
    is a trivial re-projection of the same expressions).

    Determinism: round() is ties-away-from-zero in both engines; all
    per-row float math follows functions/numeric.py rule 3; the integer
    aggregates are exact. Shape: posexplode + absmax window + final
    aggregate all share one vec_id Exchange — all codegen, no
    interpreted higher-order functions in the hot path."""
    e = table(spark, sf_dir, "embeddings")
    e = e.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    ex = e.select("vec_id", "label", F.posexplode("embedding").alias("dim", "x"))
    amax = F.max(F.abs("x")).over(W.partitionBy("vec_id")).cast("double")
    q = (
        ex.withColumn("xd", F.col("x").cast("double"))
        .withColumn("amax", amax)
        .filter(F.col("amax") > 0)
        .withColumn("qv", F.round(F.col("xd") / (F.col("amax") / 127.0)).cast("long"))
    )
    return q.groupBy("vec_id", "label").agg(
        (F.max("amax") / 127.0).alias("scale"),
        F.sum("qv").alias("checksum"),
        F.sum(F.col("qv") * F.col("qv")).alias("q_norm2"),
        F.count(F.lit(1)).cast("int").alias("n_dims"),
    )


INCR_NEW_SOURCE = "src19"  # fixture stand-in for "today's ingest batch"


@register(
    "q_dedup_incremental",
    oracle="WITH "
    + _SHINGLES_SQL
    + f""",
    keep AS (
      SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    s AS (
      SELECT sh.doc_id, sh.shingle, d.source
      FROM shingles sh JOIN keep USING (shingle)
      JOIN documents d ON d.doc_id = sh.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
    pairs AS (
      SELECT n.doc_id AS new_id, h.doc_id AS hist_id, COUNT(*) AS n_shared
      FROM s n JOIN s h ON n.shingle = h.shingle
      WHERE n.source = '{INCR_NEW_SOURCE}' AND h.source <> '{INCR_NEW_SOURCE}'
      GROUP BY n.doc_id, h.doc_id
    ),
    scored AS (
      SELECT new_id, hist_id, n_shared,
             CAST(n_shared AS DOUBLE) / (sn.n_sh + sh2.n_sh - n_shared) AS jaccard
      FROM pairs
      JOIN sizes sn ON sn.doc_id = new_id
      JOIN sizes sh2 ON sh2.doc_id = hist_id
    ),
    best AS (
      SELECT new_id, hist_id, n_shared, jaccard,
             ROW_NUMBER() OVER (PARTITION BY new_id
                                ORDER BY jaccard DESC, hist_id) AS rnk
      FROM scored
    )
    SELECT new_id AS doc_id, hist_id AS match_doc_id, n_shared, jaccard
    FROM best WHERE rnk = 1
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (ingest-time) near-dedup: for each document of today's
    batch (source == INCR_NEW_SOURCE), the best-matching historical
    document by shingle Jaccard — the daily-pipeline counterpart of the
    full-corpus q_dedup_ngram pass (a real ingest gate thresholds the
    returned jaccard; returning the best match keeps the policy outside
    the operator).

    Scale shape: identical to q_dedup_ngram — df-capped shingles bound the
    equi-join fan-out — except the pair join is new x history instead of a
    self-join, so its size is |batch shingles| x collisions, proportional
    to the DAILY batch, not the corpus. The history side is touched only
    through the shingle equi-join; no full-history shuffle. Source labels
    ride the doc_id-partitioned shingle build (one extra co-partitioned
    join)."""
    with cached(_shingles_df(spark, sf_dir)) as base:
        s = _drop_hot_shingles(base)
        src = table(spark, sf_dir, "documents").select("doc_id", "source")
        s = s.join(src, "doc_id")
        is_new = F.col("source") == INCR_NEW_SOURCE
        sizes = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        new_s = s.filter(is_new).select(F.col("doc_id").alias("new_id"), "shingle")
        hist_s = s.filter(~is_new).select(F.col("doc_id").alias("hist_id"), "shingle")
        pairs = (
            new_s.join(hist_s, "shingle")
            .groupBy("new_id", "hist_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        sn = sizes.select(F.col("doc_id").alias("new_id"), F.col("n_sh").alias("_na"))
        sh2 = sizes.select(F.col("doc_id").alias("hist_id"), F.col("n_sh").alias("_nb"))
        jac = F.col("n_shared").cast("double") / (
            F.col("_na") + F.col("_nb") - F.col("n_shared")
        )
        rnk = F.row_number().over(
            W.partitionBy("new_id").orderBy(F.col("jaccard").desc(), "hist_id")
        )
        return (
            pairs.join(sn, "new_id")
            .join(sh2, "hist_id")
            .withColumn("jaccard", jac)
            .withColumn("rnk", rnk)
            .filter(F.col("rnk") == 1)
            .select(
                F.col("new_id").alias("doc_id"),
                F.col("hist_id").alias("match_doc_id"),
                "n_shared",
                "jaccard",
            )
            .localCheckpoint(eager=True)
        )


RAG_TOPN = 3  # retrieved docs per query


@register(
    "q_rag_retrieval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm2 AS q_n2 FROM e WHERE vec_id < 5),
    p AS (
      SELECT q_id, e.vec_id AS c_id,
             {_DEC_DOT.format(a='q_emb', b='e.embedding')} / SQRT(q_n2 * e.norm2) AS cosine
      FROM q CROSS JOIN e WHERE e.vec_id <> q_id
    ),
    r AS (SELECT q_id, c_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
          FROM p WHERE cosine IS NOT NULL)
    SELECT r.q_id, CAST(r.rnk AS INT) AS rnk, r.c_id AS doc_id, r.cosine,
           d.lang, d.source, d.n_chars
    FROM r JOIN documents d ON d.doc_id = r.c_id
    WHERE r.rnk <= {RAG_TOPN}
    """,
)
def q_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval composition (the RAG shape): nearest-neighbor search over
    the embedding table, then hydrate each hit with its document metadata.
    Reuses q_sim_topk's exact-decimal ranking (the oracle-identical
    baseline; q_sim_ivf/q_sim_lsh are the drop-in ANN scale paths) and
    joins the tiny top-k hit list broadcast against documents — at 100 TB
    the document table never shuffles to serve a retrieval."""
    hits = q_sim_topk(spark, sf_dir).filter(F.col("rnk") <= RAG_TOPN)
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id"), "lang", "source", "n_chars"
    )
    return (
        docs.join(
            F.broadcast(hits.withColumnRenamed("c_id", "doc_id")), "doc_id"
        )
        .select("q_id", "rnk", "doc_id", "cosine", "lang", "source", "n_chars")
    )


PMI_WINDOW = 2  # skip-gram co-occurrence distance (adjacent + one apart)
PMI_MIN_COUNT = 5  # drop noise pairs below this count
PMI_TOPN = 100


@register(
    "q_cooc_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.tok, u.pos
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents) d,
           (SELECT UNNEST(t) AS tok, UNNEST(range(1, len(t) + 1)) AS pos) u
    ),
    pairs_raw AS (
      SELECT doc_id, tok AS a,
             LEAD(tok, 1) OVER w AS b1,
             LEAD(tok, 2) OVER w AS b2
      FROM toks
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    pairs AS (
      SELECT a, b FROM (
        SELECT a, b1 AS b FROM pairs_raw WHERE b1 IS NOT NULL
        UNION ALL
        SELECT a, b2 AS b FROM pairs_raw WHERE b2 IS NOT NULL
      )
    ),
    pc AS (SELECT a, b, COUNT(*) AS n_ab FROM pairs GROUP BY a, b),
    uc AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
    tot AS (SELECT COUNT(*) AS n_pairs FROM pairs),
    utot AS (SELECT COUNT(*) AS n_toks FROM toks),
    scored AS (
      SELECT a, b, n_ab,
             ln( (CAST(n_ab AS DOUBLE) / n_pairs)
                 / ( (CAST(ua.n_tok AS DOUBLE) / n_toks)
                   * (CAST(ub.n_tok AS DOUBLE) / n_toks) ) ) AS pmi
      FROM pc JOIN uc ua ON pc.a = ua.tok
              JOIN uc ub ON pc.b = ub.tok
              CROSS JOIN tot CROSS JOIN utot
      WHERE n_ab >= {PMI_MIN_COUNT}
    )
    SELECT a, b, n_ab, pmi
    FROM scored ORDER BY pmi DESC, a, b LIMIT {PMI_TOPN}
    """,
)
def q_cooc_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information co-occurrence statistics over a
    skip-gram window (distance <= PMI_WINDOW) — the corpus-level
    association table behind tokenizer merges, collocation detection and
    embedding diagnostics. PMI = ln(p(a,b) / (p(a)p(b))), per-row IEEE
    math on exact counts (functions/numeric.py rule 3), top-N with full
    (pmi, a, b) tiebreak so both engines agree.

    Shape: posexplode + window leads ride one doc_id Exchange (the
    _shingles_df trick); pair and unigram counts are two-phase hash
    aggregates; the scalar totals broadcast; the final top-N is a
    TakeOrderedAndProject (partial top-N per partition, no global sort).
    At 100 TB the pair-count table is vocab² *bounded by the observed
    window pairs* (PMI_WINDOW x corpus tokens), the same scale class as
    the bigram LM counts in q_ngram_counts."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w).alias(f"b{i}") for i in range(1, PMI_WINDOW + 1)]
    raw = toks.select(F.col("tok").alias("a"), *leads)
    pairs = None
    for i in range(1, PMI_WINDOW + 1):
        p = raw.filter(F.col(f"b{i}").isNotNull()).select("a", F.col(f"b{i}").alias("b"))
        pairs = p if pairs is None else pairs.unionByName(p)
    # toks feeds pair mining AND unigram counts AND the token total. The
    # window-lead pair derivation is the expensive stage — run it exactly
    # once: cache the (vocab²-bounded, far smaller) pair-count table and
    # read both the PMI numerator and the pair total from it. Each total
    # comes from its cache's fill.
    pc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    with (
        cached_totals(toks) as (toks, (n_toks,)),
        cached_totals(pc, F.sum("n_ab")) as (pc, (_, n_pairs)),
    ):
        uc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
        pmi = F.log(
            (F.col("n_ab").cast("double") / F.lit(n_pairs))
            / (
                (F.col("_na").cast("double") / F.lit(n_toks))
                * (F.col("_nb").cast("double") / F.lit(n_toks))
            )
        )
        ua = uc.select(F.col("tok").alias("a"), F.col("n_tok").alias("_na"))
        ub = uc.select(F.col("tok").alias("b"), F.col("n_tok").alias("_nb"))
        return (
            pc.filter(F.col("n_ab") >= PMI_MIN_COUNT)
            # unigram tables are vocabulary-sized: hint-free, AQE-sized
            # (VERDICT r05 #1 sweep)
            .join(ua, "a")
            .join(ub, "b")
            .select("a", "b", "n_ab", pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), "a", "b")
            .limit(PMI_TOPN)
            .localCheckpoint(eager=True)
        )


# ---------------------------------------------------------------------------
# text normalization / containment dedup / BM25 retrieval
# ---------------------------------------------------------------------------


@register(
    "q_text_normalize",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
      FROM documents)
    SELECT doc_id, md5(norm) AS norm_fp,
           length(text) AS n_chars_raw, length(norm) AS n_chars_norm
    FROM n
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggressive text normalization (lowercase, strip non-alphanumerics,
    collapse whitespace) — the canonical form fed to fuzzy dedup so that
    near-identical documents differing only in case/punctuation/spacing
    collide (the CCNet/Gopher-style preprocessing step upstream of
    q_dedup_exact's md5 key). Exported as the md5 of the normalized text
    plus before/after lengths: md5 is the one hash both engines share
    bit-for-bit, and hashing sidesteps whitespace canonicalization drift
    in the compare harness.

    Shape: pure per-row codegen string expressions, zero shuffles — the
    100 TB cost is one pass over the text column."""
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("norm_fp"),
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
    )


CONTAIN_THRESHOLD = 0.3  # min |A∩B| / min(|A|,|B|) to report a pair


@register(
    "q_dedup_contain",
    oracle="WITH "
    + _SHINGLES_SQL
    + ","
    + _PAIR_COUNTS_SQL
    + f"""
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= {CONTAIN_THRESHOLD}
    """,
)
def q_dedup_contain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) over k-word
    shingle sets. Containment (Broder's "resemblance vs containment"
    distinction) catches doc-in-doc duplication — a short document quoted
    wholesale inside a long one scores near 1.0 here while its Jaccard
    (q_dedup_ngram) stays low because the union is dominated by the long
    document. Same distributed shape as q_dedup_ngram: shingle explode ->
    stop-shingle df cap -> equi-self-join -> per-pair intersection counts;
    only the final per-row ratio differs (min-size denominator instead of
    the union)."""
    with cached(_shingles_df(spark, sf_dir)) as base:
        pairs, sa, sb = _shingle_pair_stats(base)
        cont = F.col("n_common").cast("double") / F.least("_na", "_nb")
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("containment", cont)
            .filter(F.col("containment") >= CONTAIN_THRESHOLD)
            .select("doc_a", "doc_b", "n_common", "containment")
            .localCheckpoint(eager=True)
        )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
BM25_TERMS = ("scan", "customer", "stream")  # fixture-vocabulary query

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
_BM25_SUMS_SQL = ", ".join(
    f"SUM(CASE WHEN tok = '{t}' THEN s ELSE 0.0 END) AS _s{i}"
    for i, t in enumerate(BM25_TERMS)
)
_BM25_TOTAL_SQL = " + ".join(f"_s{i}" for i in range(len(BM25_TERMS)))

# the BM25 CTE chain through per-doc totals, shared by the q_bm25 oracle
# and the q_hybrid_search oracle (its lexical half)
_BM25_CORE_SQL = f"""toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    nd AS (SELECT COUNT(*) AS n_docs,
                  CAST(SUM(CAST(dl AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) AS avgdl
           FROM dl),
    tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks
           WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ln((n_docs - df + 0.5)/(df + 0.5) + 1.0)
               * (c * ({BM25_K1} + 1))
               / (c + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / avgdl)) AS s
      FROM tf JOIN dfreq USING (tok) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN nd),
    per_doc AS (SELECT doc_id, {_BM25_SUMS_SQL} FROM scored GROUP BY doc_id)"""


@register(
    "q_bm25",
    oracle=f"""
    WITH {_BM25_CORE_SQL}
    SELECT doc_id, {_BM25_TOTAL_SQL} AS score
    FROM per_doc ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones) for a fixed term set
    — the lexical scoring half of hybrid corpus search, complementing the
    embedding side (q_rag_retrieval) and the per-doc keyword export
    (q_tfidf). idf uses the standard +1-smoothed log; tf saturates with k1
    and is length-normalized by b·dl/avgdl.

    Determinism: avgdl is a decimal-sum average (functions/numeric.py rule
    2); per-(doc,term) scores are per-row IEEE; the per-doc total is a sum
    over `SUM(CASE WHEN tok = t ...)` per-term columns — each such sum has
    at most one non-zero addend (adding 0.0 is exact), so the only real
    double addition is the final fixed-order term total, identical in both
    engines. Top-K orders by (score, doc_id).

    Shape: token explode and tf ride one doc_id Exchange; the term filter
    collapses the corpus to |terms|·n_docs rows *before* any join; dfreq
    (|terms| rows) and the avgdl scalar broadcast; final top-K is
    TakeOrderedAndProject (partial top-k per partition, no global sort —
    the q_topk plan)."""
    return (
        _bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 totals (doc_id, score) for every document containing at
    least one query term — the un-truncated frame behind q_bm25, reused as
    the lexical half of q_hybrid_search."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    nd_avg = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("dl").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    s = (
        idf
        * (F.col("c") * (BM25_K1 + 1))
        / (F.col("c") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        # vocabulary-sized dfreq: hint-free, AQE-sized (VERDICT r05 #1)
        tf.join(dfreq, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(nd_avg))
        .withColumn("s", s)
    )
    parts = [
        F.sum(F.when(F.col("tok") == t, F.col("s")).otherwise(F.lit(0.0))).alias(f"_s{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    per_doc = scored.groupBy("doc_id").agg(*parts)
    total = F.col("_s0")
    for i in range(1, len(BM25_TERMS)):
        total = total + F.col(f"_s{i}")
    return per_doc.select("doc_id", total.alias("score"))


# ---------------------------------------------------------------------------
# embedding clustering (k-means)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 5


def _assign_hof(vec: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, built-in-expression tier: broadcast
    crossJoin against the k-row centroid table, squared distance via
    zip_with/aggregate, argmin via min-of-struct (ties break on lowest
    cluster id). No shuffle of the vector table; the groupBy(vec_id) rides
    the broadcast join's partitioning. HOF arithmetic is interpreted
    (outside whole-stage codegen) — correctness-baseline tier."""

    def sq_dist(a, b):
        # explicit (d * d), not d ** 2: pow() is not guaranteed correctly
        # rounded across libm implementations, multiplication is — the
        # left-fold then matches the oracle's list_reduce bit-for-bit
        return F.aggregate(
            F.zip_with(
                a, b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return (
        vec.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(
                sq_dist(F.col("embedding"), F.col("centroid")).alias("sq_dist"),
                F.col("cluster"),
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("dc"))
        .select("vec_id", F.col("dc.cluster").alias("cluster"), F.col("dc.sq_dist").alias("sq_dist"))
    )


def _assign_pandas(vec: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, vectorized tier (VERDICT r02 #7): the
    k-row centroid table is collected to a (k, dim) numpy matrix shipped in
    the UDF closure (same bytes a broadcast would move), and each Arrow
    batch scores n rows against all k centroids in ONE BLAS call via
    ||x-c||^2 = ||x||^2 - 2 x.C^T + ||c||^2 — no crossJoin row explosion,
    no argmin groupBy; one pandas_udf projection, zero shuffle. Ties break
    on lowest cluster id (centroids sorted by id; argmin returns the first
    minimum), matching _assign_hof."""
    import numpy as np
    import pandas as pd

    rows = sorted(cents.collect(), key=lambda r: r["cluster"])
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)  # (k, dim)
    ids = np.array([r["cluster"] for r in rows], dtype=np.int32)
    c2 = (C * C).sum(axis=1)  # (k,)

    # no type hints: the module's `from __future__ import annotations`
    # stringifies them, which pandas_udf's eval-type inference can't
    # resolve for a local closure — the decorator arg alone pins the
    # Series -> DataFrame(struct) scalar shape
    @F.pandas_udf("struct<cluster:int, sq_dist:double>")
    def score(emb):
        X = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
        if C.shape[0] == 1:
            idx = np.zeros(X.shape[0], dtype=np.int64)
            diff = X - C[idx]
            sq = (diff * diff).sum(axis=1)
        else:
            # The BLAS expansion has ~1e-9 relative cancellation error, so
            # a near-tie between two centroids could flip argmin vs the HOF
            # tier (and cascade through every Lloyd round). Re-score the
            # top-2 candidates with the exact direct form (x-c)^2 and pick
            # the winner on (exact distance, cluster id) — same comparator
            # as _assign_hof's min-of-struct.
            part = np.argpartition(d2, 1, axis=1)[:, :2]  # (n, 2) smallest
            d0 = X - C[part[:, 0]]
            d1 = X - C[part[:, 1]]
            e0 = (d0 * d0).sum(axis=1)
            e1 = (d1 * d1).sum(axis=1)
            id0, id1 = ids[part[:, 0]], ids[part[:, 1]]
            take1 = (e1 < e0) | ((e1 == e0) & (id1 < id0))
            idx = np.where(take1, part[:, 1], part[:, 0])
            sq = np.where(take1, e1, e0)
        return pd.DataFrame({"cluster": ids[idx], "sq_dist": sq})

    return vec.select(
        "vec_id", score(F.col("embedding")).alias("dc")
    ).select("vec_id", F.col("dc.cluster").alias("cluster"), F.col("dc.sq_dist").alias("sq_dist"))


_ASSIGN_TIERS = {"hof": _assign_hof, "pandas": _assign_pandas}


def kmeans(
    e: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS, scorer: str = "hof"
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over an (vec_id, embedding) DataFrame. Returns
    ``(assign, centroids)`` where ``assign`` is (vec_id, cluster, sq_dist)
    against the final centroids and ``centroids`` is (cluster, centroid).

    Deterministic throughout — no RNG: seeding picks the lowest-vec_id
    vector of each of the first ``k`` label cells (spread across the data's
    own coarse structure, the k-means++ intent without its randomness), and
    ties in the nearest-centroid argmin break on cluster id in both tiers.

    Scale shape (the same one MLlib uses): the assignment step never
    shuffles the vector table — ``scorer="hof"`` scores via a broadcast
    crossJoin with built-in expressions (interpreted HOF arithmetic;
    correctness baseline), ``scorer="pandas"`` scores each Arrow batch
    against the (k, dim) centroid matrix in one BLAS call (the
    assignment-heavy-round scale tier; see BENCH tiers) — the update step
    is one (cluster, dim) hash-aggregate shuffle whose output is k rows
    either way. Per-round localCheckpoint on the k-row centroid table keeps
    the lineage O(1) deep; the caller caches the input.
    """
    assign_fn = _ASSIGN_TIERS[scorer]
    w = W.partitionBy("label").orderBy("vec_id")
    cents = (
        e.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("label") < k))
        .select(F.col("label").cast("int").alias("cluster"), F.col("embedding").alias("centroid"))
        .localCheckpoint(eager=True)
    )

    vec = e.select("vec_id", "embedding")
    for _ in range(iters):
        assign = assign_fn(vec, cents).select("vec_id", "cluster")
        cents = (
            assign.join(vec, "vec_id")
            .select("cluster", F.posexplode("embedding").alias("dim", "val"))
            .groupBy("cluster", "dim")
            # decimal-exact mean (sum DECIMAL(18,8) / count) instead of a
            # double avg: order-independent across partitionings AND
            # engines — the property the q_kmeans oracle rests on
            .agg(
                (F.sum(F.col("val").cast("double").cast("decimal(18,8)")).cast("double")
                 / F.count(F.lit(1))).alias("cval")
            )
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs"))
            .select("cluster", F.transform("pairs", lambda p: p["cval"]).alias("centroid"))
            .localCheckpoint(eager=True)
        )
    return assign_fn(vec, cents), cents


# squared distance between two DOUBLE lists, evaluated as the identical
# left fold Spark's F.aggregate performs: +0.0-seeded sequential IEEE adds
# of (d*d) terms — bit-identical across engines on identical inputs
_SQDIST_SQL = (
    "LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP({a}, {b}), "
    "z -> (z[1] - z[2]) * (z[1] - z[2])), (x, y) -> x + y)"
)


def _kmeans_sql_ctes(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """CTE chain computing the full Lloyd trajectory in DuckDB: label-seeded
    init, then per unrolled iteration an argmin assignment (sequential-fold
    squared distance, cluster-id tiebreak) and a decimal-exact centroid
    mean. Ends with `cents{iters}` — callers append the final assignment
    they need."""
    sq = _SQDIST_SQL
    parts = [f"""
    e AS (
      SELECT vec_id, label, LIST_TRANSFORM(embedding, v -> CAST(v AS DOUBLE)) AS emb
      FROM embeddings
    ),
    ed AS (
      SELECT vec_id, emb, UNNEST(range(1, len(emb) + 1)) AS dim FROM e
    ),
    cents0 AS (
      SELECT CAST(label AS INT) AS cluster, emb AS centroid
      FROM (SELECT label, emb,
                   ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
            FROM e)
      WHERE rn = 1 AND label < {k}
    )"""]
    for it in range(1, iters + 1):
        parts.append(f"""
    a{it} AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sq.format(a='e.emb', b='c.centroid')}, c.cluster) AS rn
        FROM e CROSS JOIN cents{it - 1} c
      ) WHERE rn = 1
    ),
    u{it} AS (
      SELECT a.cluster, x.dim,
             CAST(CAST(SUM(CAST(x.emb[x.dim] AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS cval
      FROM a{it} a JOIN ed x ON a.vec_id = x.vec_id
      GROUP BY a.cluster, x.dim
    ),
    cents{it} AS (
      SELECT cluster, LIST(cval ORDER BY dim) AS centroid FROM u{it} GROUP BY cluster
    )""")
    return ",".join(parts)


def _kmeans_final_sql(select: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    sq = _SQDIST_SQL.format(a="e.emb", b="c.centroid")
    return (
        "WITH "
        + _kmeans_sql_ctes(k, iters)
        + f""",
    fin AS (
      SELECT vec_id, cluster, sq_dist FROM (
        SELECT e.vec_id, c.cluster, {sq} AS sq_dist,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cluster) AS rn
        FROM e CROSS JOIN cents{iters} c
      ) WHERE rn = 1
    )
    {select}
    """
    )


@register("q_kmeans", oracle=_kmeans_final_sql("SELECT vec_id, cluster, sq_dist FROM fin"))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster assignment over the embeddings table — the topic /
    diversity bucketing primitive a curation pipeline uses for stratified
    corpus mixing and per-cluster quota sampling (cluster-then-sample).

    Formerly rows-only; now hash-checked: the iteration count is fixed, so
    the oracle unrolls the 5 Lloyd rounds as a CTE chain. Determinism:
    decimal-exact centroid means, squared distances as the identical
    +0.0-seeded left fold of (d*d) terms in both engines, and cluster-id
    argmin tiebreaks. The Lloyd invariants (total assignment, cluster-id
    range, monotone inertia) remain asserted in tests/test_round2_ops.py."""
    # spread first: the fixture is one parquet file (one input partition);
    # every Lloyd assignment pass would otherwise run as a single task.
    # Iterations re-read the cache, not parquet.
    e = table(spark, sf_dir, "embeddings").repartition(spark.sparkContext.defaultParallelism)
    with cached(e) as e:
        assign, _ = kmeans(e)
        return assign.localCheckpoint(eager=True)


@register("q_kmeans_vec", oracle=_kmeans_final_sql("SELECT vec_id, cluster FROM fin"))
def q_kmeans_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_kmeans's vectorized-scorer tier (Arrow-batched BLAS assignment,
    VERDICT r02 #7): identical Lloyd iterations, assignment scored by
    pandas_udf instead of interpreted HOF expressions. Hash-checked against
    the same unrolled-Lloyd oracle on (vec_id, cluster); the reported
    sq_dist column is projected out because numpy's pairwise summation is
    ulp-different from the sequential fold (tier equivalence within 1e-9
    is asserted in tests/test_round3_ops.py instead)."""
    # spread first, as in q_kmeans
    e = table(spark, sf_dir, "embeddings").repartition(spark.sparkContext.defaultParallelism)
    with cached(e) as e:
        assign, _ = kmeans(e, scorer="pandas")
        return assign.select("vec_id", "cluster").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# per-source corpus profile
# ---------------------------------------------------------------------------


@register(
    "q_source_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate,
           CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) AS BIGINT)
             AS total_tokens,
           CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus curation profile: document count, exact-duplicate
    rate (1 - distinct md5 / count — the "drop boilerplate-heavy domains"
    signal), and size totals. The per-source roll-up is how web-corpus
    pipelines decide source-level inclusion/mixing weights before any
    per-document filtering runs.

    Determinism: counts and integer sums are exact; the two ratios are a
    single IEEE division of exact BIGINTs (numeric.py rule 2). Shape: one
    hash-aggregate shuffle on source; COUNT(DISTINCT md5) rewrites to a
    two-phase partial/final expand — no second scan. Sources are low-card
    so at 100 TB this is a near-pure map-side-combine aggregation; a
    pathological single hot source would call for the q_agg_salted
    two-phase split."""
    docs = table(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("text"), "UTF-8"))
    n = F.count(F.lit(1))
    chars = F.sum(F.length("text").cast("long"))
    return docs.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        ((n - F.countDistinct(h)).cast("double") / n).alias("dup_rate"),
        chars.alias("total_chars"),
        F.sum(F.size(_tokens(F.col("text"))).cast("long")).alias("total_tokens"),
        (chars.cast("double") / n).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# semantic dedup clusters + cluster-quota sampling
# ---------------------------------------------------------------------------


@register(
    "q_semantic_dedup_groups",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_DEC_DOT.format(a='a.embedding', b='b.embedding')}
              / SQRT(a.norm2 * b.norm2) >= 0.2
    ),
    edges AS (
      SELECT va AS a, vb AS b FROM p
      UNION ALL
      SELECT vb AS a, va AS b FROM p
    ),
    reach(id, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e2.a, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id
    )
    SELECT id AS vec_id, MIN(r) AS component,
           CAST(COUNT(*) OVER (PARTITION BY MIN(r)) AS BIGINT) AS cluster_size
    FROM reach GROUP BY id
    """,
)
def q_semantic_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters: connected components over the
    embedding-cosine near-dup pair graph (edges = q_dedup_embed pairs) —
    the vector-space twin of q_dedup_groups' lexical clusters. Catches
    paraphrase families that share no shingles; a curation run takes the
    union of both edge sets before choosing representatives.

    Scale shape (r13): label-blocked pair mining (sum n_c², never N²),
    and because the builder blocks by label no component ever spans
    cells — the same decomposition the capped tier exploits — so CC runs
    as the per-cell union-find (connected_components_cell_local, cell
    attached via a pruned 2-column join on doc_a) with the distributed
    jump loop as the oversized-cell fallback. Oracle: exact-decimal
    cosine pairs + recursive-CTE transitive closure — a fully
    hash-checked iterative operator."""
    from hadoop_distexec_spark.operators.pipeline import (
        connected_components_cell_local,
    )

    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(F.col("vec_id").alias("doc_id"))
    edges = q_dedup_embed(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cell_of = emb.select(
        F.col("vec_id").alias("doc_a"), F.col("label").alias("cell")
    )
    labels = connected_components_cell_local(e, edges.join(cell_of, "doc_a"))
    return labels.select(
        F.col("doc_id").alias("vec_id"), "component"
    ).withColumn(
        "cluster_size", F.count(F.lit(1)).over(W.partitionBy("component")).cast("long")
    )


# two hex chars compare as bytes: <= '3f' keeps 0x00..0x3f = 64/256 = 25%
_CLUSTER_SAMPLE_CEIL = "3f"


@register(
    "q_cluster_sample",
    oracle=_kmeans_final_sql(
        f"""
    SELECT vec_id, cluster, hash_bucket FROM (
      SELECT vec_id, cluster,
             substr(md5('cs:' || CAST(vec_id AS VARCHAR)), 1, 2) AS hash_bucket
      FROM fin
    ) WHERE hash_bucket <= '{_CLUSTER_SAMPLE_CEIL}'
    """
    ),
)
def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-sample: the diversity-preserving corpus downsampling
    pattern — bucket vectors by k-means cluster (q_kmeans), then take a
    deterministic ~25% md5-threshold sample INSIDE each cluster, so rare
    clusters keep proportional representation a global sample would lose
    to the dominant ones. Hash-checked via the unrolled-Lloyd oracle plus
    the md5-threshold filter (the proven q_sample_stratified mechanism —
    stable under retries/appends, no rand()). Quota adherence and
    subset-consistency are pytest-gated.

    Shape: q_kmeans' plan plus one zero-shuffle per-row hash filter —
    sampling adds NO Exchange."""
    assign = q_kmeans(spark, sf_dir)
    bucket = F.substring(
        F.md5(F.encode(F.concat(F.lit("cs:"), F.col("vec_id").cast("string")), "UTF-8")),
        1,
        2,
    )
    return (
        assign.withColumn("hash_bucket", bucket)
        .filter(F.col("hash_bucket") <= _CLUSTER_SAMPLE_CEIL)
        .select("vec_id", "cluster", "hash_bucket")
    )


# ---------------------------------------------------------------------------
# n-gram LM cross-entropy (perplexity-style quality filter)
# ---------------------------------------------------------------------------


@register(
    "q_lm_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    bi AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t WHERE len(toks) >= 2
    ),
    c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bi GROUP BY bigram),
    c1 AS (
      SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS c1
      FROM bi GROUP BY 1
    ),
    v AS (SELECT COUNT(DISTINCT split_part(bigram, ' ', 2)) AS v FROM bi),
    p AS (
      SELECT c12.bigram,
             CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v) AS prob
      FROM c12
      JOIN c1 ON split_part(c12.bigram, ' ', 1) = c1.w1
      CROSS JOIN v
    )
    SELECT bi.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(CAST(-SUM(CAST(ln(p.prob) AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS cross_entropy
    FROM bi JOIN p ON bi.bigram = p.bigram
    GROUP BY bi.doc_id
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter: score each document by the
    cross-entropy of its own corpus' add-1-smoothed bigram language model
    — the self-supervised version of the CCNet/Gopher "perplexity filter"
    (an external KenLM would slot into the same plan as a broadcast
    probability table). Boilerplate and gibberish score high; fluent text
    scores low; downstream filters threshold or bucket on it.

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1.) + V), with c over the whole
    corpus and V = distinct continuation vocabulary. Per doc:
    cross_entropy = -(1/n) * sum ln P over its n bigrams (docs with < 2
    tokens have no bigrams and drop out, like the oracle's inner join).

    Determinism: each ln term is rounded to DECIMAL(20,8) before the sum
    (order-independent exact addition — the q_token_entropy rule). 8dp,
    not 12: java.lang.Math.log and DuckDB's libm are each only
    ~1-ulp-accurate, so the rounding boundary needs ~6 orders of magnitude
    of ulp headroom for the two engines to round identically (ADVICE r03).
    The final division is one IEEE op on exact inputs.

    Scale: three key-partitioned shuffles — bigram corpus counts, the
    doc-bigram-to-probability join (big-big hash join on bigram; the
    probability side is |vocab^2| << corpus at 100 TB and AQE may still
    broadcast it), and the per-doc aggregate. The count tables are
    Zipf-skewed; the hot bigrams are exactly the high-count ones, so the
    join skew mirrors q_join_salted's remedy if AQE's skew split is off."""
    # 4 consumers below (c12, c1, V, score join)
    with cached(_bigrams_df(spark, sf_dir)) as bi:
        return _lm_score_plan(bi).localCheckpoint(eager=True)


def _lm_score_plan(bi: DataFrame) -> DataFrame:
    """The q_lm_score plan over a (doc_id, bigram) frame, un-checkpointed
    (plan-shape tests inspect this; the registered query checkpoints it
    inside its ``cached`` scope)."""
    w1_of = lambda c: F.split_part(c, F.lit(" "), F.lit(1))  # noqa: E731
    c12 = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bi.groupBy(w1_of(F.col("bigram")).alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    v = bi.select(
        F.countDistinct(F.split_part(F.col("bigram"), F.lit(" "), F.lit(2))).alias("v")
    )
    probs = (
        c12.withColumn("w1", w1_of(F.col("bigram")))
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "bigram",
            ((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))).alias("prob"),
        )
    )
    term = F.log(F.col("prob")).cast("decimal(20,8)")
    return (
        bi.join(probs, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            ((-F.sum(term)).cast("double") / F.count(F.lit(1))).alias("cross_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# round 4: graph triangle counting, hybrid (lexical + vector) retrieval
# ---------------------------------------------------------------------------

@register(
    "q_triangle_count",
    oracle=f"""
    WITH {_EMBED_EDGES_SQL},
    tri AS (
      SELECT p1.vec_a AS x, p1.vec_b AS y, p2.vec_b AS z
      FROM edges p1
      JOIN edges p2 ON p2.vec_a = p1.vec_b
      JOIN edges p3 ON p3.vec_a = p1.vec_a AND p3.vec_b = p2.vec_b),
    verts AS (SELECT UNNEST([x, y, z]) AS vec_id FROM tri)
    SELECT vec_id, COUNT(*) AS n_tri FROM verts GROUP BY vec_id
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the embedding near-dup pair graph
    (the q_dedup_embed edge set) — the local-clustering signal that
    separates tight paraphrase cliques from chains of borderline matches
    when picking dedup clusters to audit.

    Algorithm (the degree-oriented "forward" counting used at graph
    scale): orient every undirected edge from its (degree, id)-smaller
    endpoint to the larger, enumerate each wedge once at its orientation-
    minimal vertex (out-neighbors ordered by the same key), and close the
    wedge with one hash join back to the undirected edge set. Orientation
    bounds every vertex's out-degree by O(sqrt(|E|)) on skewed graphs —
    the hub that would produce deg^2 wedges has the highest key, so its
    star is enumerated at its *neighbors*, never at the hub — making the
    wedge join's fan-out survivable at 100 TB where a naive
    neighbors-of-neighbors join is quadratic in the hub degree. Four hash
    equi-joins total (two degree lookups, the wedge self-join on src —
    the one orientation tames — and one closing join), no windows.

    The oracle counts the same triangles directly as ordered id-triples
    a<b<c (DuckDB's optimizer is welcome to its own plan); each triangle
    is found exactly once on both sides, so per-vertex counts agree.

    Shape (r13): the edge builder blocks by label, so a triangle's three
    mutually-connected vertices always share a cell and the count
    decomposes per cell — one shuffle groups each cell's edges and a
    per-cell pass enumerates each triangle once at its smallest edge
    (common neighbors above the larger endpoint), replacing the four
    hash joins + explode + aggregate of the degree-oriented pipeline.
    Per-vertex counts are enumeration-scheme-independent (every scheme
    finds each triangle exactly once), so the output is identical —
    pinned by an equivalence test against triangle_counts, which remains
    the oversized-cell fallback (and the frozen capped tier's engine)."""
    emb = table(spark, sf_dir, "embeddings")
    edges = q_dedup_embed(spark, sf_dir).select("vec_a", "vec_b")
    cell_of = emb.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("cell"))
    return _tri_counts_cell_local(edges.join(cell_of, "vec_a")).localCheckpoint(
        eager=True
    )


def _tri_counts_cell_local(edges_cell: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over a CELL-BLOCKED (cell, vec_a,
    vec_b) edge set (vec_a < vec_b, unique): every triangle's vertices
    share a cell, so the count decomposes per cell. Each cell's pass
    enumerates each triangle exactly once at its (x, y) edge with the
    common-neighbor filter z > y; per-vertex counts do not depend on the
    enumeration scheme, so the result equals triangle_counts' oriented
    pipeline row-for-row. One ``group_local.cell_local`` pass; a cell
    over ``BOUNDS["triangles"]`` edges sends the whole graph to
    triangle_counts instead."""

    def _tri(t):
        import numpy as np
        import pyarrow as pa

        # dense_ids ascends: index order == id order, so the
        # vec_a < vec_b input order carries to ia < ib
        ids, ia, ib = group_local.dense_ids(t, "vec_a", "vec_b")
        n = len(ids)
        endp = np.concatenate([ia, ib])
        deg = np.bincount(endp, minlength=n)
        order = np.argsort(endp, kind="stable")
        nbr = np.concatenate([ib, ia])[order]
        starts = np.zeros(n + 1, np.int64)
        np.cumsum(deg, out=starts[1:])
        for v in range(n):
            nbr[starts[v] : starts[v + 1]].sort()
        counts = np.zeros(n, np.int64)
        for x, y in zip(ia, ib):
            common = np.intersect1d(
                nbr[starts[x] : starts[x + 1]],
                nbr[starts[y] : starts[y + 1]],
                assume_unique=True,
            )
            z = common[common > y]
            if len(z):
                counts[x] += len(z)
                counts[y] += len(z)
                counts[z] += 1  # z unique -> fancy assignment is exact
        keep = counts > 0
        return pa.table({"vec_id": ids[keep], "n_tri": counts[keep]})

    return group_local.cell_local(
        edges_cell, "cell", "triangles", _tri, "vec_id long, n_tri long",
        lambda pin: triangle_counts(
            pin.select(F.col("vec_a").alias("va"), F.col("vec_b").alias("vb"))
        ),
    )[0]


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Degree-oriented triangle counting over an undirected (va, vb) edge
    frame with va < vb and no duplicate edges; returns (vec_id, n_tri).
    See q_triangle_count for the algorithm; exactness vs brute-force
    enumeration is pytest-gated (tests/test_round4_ops.py)."""
    deg = (
        edges.select(F.col("va").alias("v"))
        .union(edges.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        edges.join(deg.withColumnRenamed("v", "va").withColumnRenamed("deg", "dega"), "va")
        .join(deg.withColumnRenamed("v", "vb").withColumnRenamed("deg", "degb"), "vb")
    )
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("va") < F.col("vb"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("va")).otherwise(F.col("vb")).alias("src"),
        F.when(a_first, F.col("vb")).otherwise(F.col("va")).alias("dst"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("ddeg"),
    )
    o1 = oriented.select("src", F.col("dst").alias("y"), F.col("ddeg").alias("ydeg"))
    o2 = oriented.select("src", F.col("dst").alias("z"), F.col("ddeg").alias("zdeg"))
    wedges = o1.join(o2, "src").filter(
        (F.col("ydeg") < F.col("zdeg"))
        | ((F.col("ydeg") == F.col("zdeg")) & (F.col("y") < F.col("z")))
    )
    closing = edges.select(F.col("va").alias("ca"), F.col("vb").alias("cb"))
    tri = wedges.join(
        closing,
        (F.least("y", "z") == F.col("ca")) & (F.greatest("y", "z") == F.col("cb")),
    ).select(F.col("src").alias("x"), "y", "z")
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


# ---------------------------------------------------------------------------
# hub-heavy mitigation tier (VERDICT r07 next-round #6): a deterministic
# degree cap that bounds per-vertex work on adversarially dense graphs
# (the 10x fixture's shared-label replication inflates the near-dup edge
# set ~100x; label_prop/triangle ran 142s/120s there — right asymptotics,
# wrong constant for interactive audits). UNREGISTERED by design: the
# query surface is frozen at 194 ids (VERDICT r07 #5); these are library
# tiers measured through the sf1 stress lane, with agreement vs the
# exact registered semantics measured the way pq_recall ships its error.
# ---------------------------------------------------------------------------

DEGREE_CAP = 16  # max edges kept per vertex in the capped tier


def auto_degree_cap(spark: SparkSession, sf_dir: str, floor: int = DEGREE_CAP) -> int:
    """Data-derived cap for the capped edge builders (VERDICT r09
    next-round #6, wiring SCALE.md's r09 operating curve into code).

    The cap-sensitivity sweep showed the cap is a COMPUTE lever only
    below the knee where it reaches the cell sizes: on the natural graph
    the capped edge set saturates (== exact) once cap covers the typical
    cell, while pushing cap up to hairball sizes costs ~86% of the exact
    build for recall the audit harnesses should be measuring instead.
    Deployment rule: pick cap from the CELL-SIZE DISTRIBUTION, not from
    a recall target — the next power of two above the p95 label-cell
    size (bloom_fpr_eval's data-derived sizing idiom), floored at
    DEGREE_CAP. A member of a cell with m <= cap+1 meets every
    rank-successor in its cell, so >=95% of cells are enumerated
    EXACTLY and only the hub tail is capped; candidate volume stays
    <= m*cap per cell whatever the skew.

    The percentile runs over |cells| rows (one count per label — bounded
    planning metadata, the <=512-row codebook idiom), so the exact-sort
    percentile is free at any corpus size; the corpus itself is touched
    by one map-side count aggregation. Library default for the capped
    tiers; the REGISTERED q_dedup_embed_capped* ids keep their pinned
    cap=16 semantics (their oracles embed the constant)."""
    row = (
        table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.expr("percentile(m, 0.95)").alias("p95"))
        .collect()[0]
    )
    p95 = int(-(-(row["p95"] or 0.0) // 1))  # ceil without importing math
    if p95 <= 0:
        return floor
    return max(floor, 1 << p95.bit_length())


def embed_edges_capped(
    spark: SparkSession, sf_dir: str, cap: int = DEGREE_CAP
) -> DataFrame:
    """Candidate-capped near-dup edge builder — the tier that actually
    moves the 10x wall time, because on hub-heavy graphs the COST LIVES
    IN PAIR ENUMERATION, not downstream: q_dedup_embed evaluates a
    double-cosine prefilter on every within-cell pair (sum_cell m^2/2 —
    ~20M 64-dim dots on the 10x fixture), so capping edges AFTER that
    build saves nothing (measured: triangle_count_capped over
    degree_cap_edges ran 119s vs 120s exact — the first draft of this
    tier, kept in SCALE.md as the negative result).

    Here each label cell is ORDERED by a fixed 1-D projection (the
    all-ones direction — deterministic, no rand(), cosine-correlated for
    near-dup vectors) and each member generates candidates only against
    its `cap` rank-successors — the classic sorted-sliding-window join:
    exactly <= m*cap candidate pairs per cell (explode(sequence) to the
    successor ranks + ONE equi-join on (label, rank); no m^2 anything,
    per-vertex degree <= 2*cap by construction). Survivors pass the SAME
    double prefilter + exact-decimal threshold as q_dedup_embed, so the
    output is a strict SUBSET of the registered edge set (pytest law).
    Recall vs the exact tier is MEASURED (triangle_cap_agreement /
    lpa_cap_agreement), never assumed.

    Shape at 100 TB: one repartition by cell, one per-cell rank window,
    one fixed cap-way explode, one equi-join — volume is cap*|V| rows
    whatever the cell-size skew, the property the exact tier cannot
    have."""
    dp = spark.sparkContext.defaultParallelism
    e = table(spark, sf_dir, "embeddings").repartition(dp, "label").select(
        "vec_id",
        F.col("label").alias("cell"),
        "embedding",
        _spark_dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    return _window_capped_pairs(e, cap)


def _window_capped_pairs(cells: DataFrame, cap: int) -> DataFrame:
    """The sorted-sliding-window candidate core shared by the blocking
    policies (label cells: embed_edges_capped; IVF cells:
    embed_edges_capped_ivf): `cells` is (cell, vec_id, embedding,
    norm2); within each cell, members ordered by the fixed all-ones
    projection meet only their `cap` rank-successors, and survivors
    pass q_dedup_embed's double prefilter + exact-decimal threshold.
    Returns (vec_a < vec_b, cosine).

    The projection is an EXACT-DECIMAL element sum (registration
    upgrade, r09): the r08 library draft used a double fold, whose
    summation order DuckDB does not contractually reproduce — ranks at
    near-ties could diverge between the engines. Decimal addition is
    order-insensitive, so the (proj, vec_id) rank order is
    bit-reproducible by the oracle's LIST_SUM twin (_PROJ_SQL)."""
    proj = _spark_proj(F.col("embedding"))
    ranked = cells.select(
        "vec_id",
        "cell",
        "embedding",
        "norm2",
        F.row_number()
        .over(W.partitionBy("cell").orderBy(proj, "vec_id"))
        .alias("rn"),
    )
    cand = ranked.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm2").alias("n2_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + F.lit(cap))
        ).alias("rn_b"),
    )
    b = ranked.select(
        "cell",
        F.col("rn").alias("rn_b"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm2").alias("n2_b"),
    )
    dbl_dot = F.aggregate(
        F.zip_with(
            F.col("emb_a"),
            F.col("emb_b"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dbl_cos = dbl_dot / F.sqrt(F.col("n2_a") * F.col("n2_b"))
    cosine = _spark_dot(F.col("emb_a"), F.col("emb_b")) / F.sqrt(
        F.col("n2_a") * F.col("n2_b")
    )
    return (
        cand.join(b, ["cell", "rn_b"])  # inner join drops overshoot ranks
        .filter(dbl_cos >= EMBED_COS_THRESHOLD - 1e-6)  # q_dedup_embed's prefilter
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= EMBED_COS_THRESHOLD)
        .select(
            F.least("id_a", "id_b").alias("vec_a"),
            F.greatest("id_a", "id_b").alias("vec_b"),
            "cosine",
        )
    )


IVF_CAP_NLIST = 64  # centroid count for the label-free blocking tier


def embed_edges_capped_ivf(
    spark: SparkSession,
    sf_dir: str,
    nlist: int = IVF_CAP_NLIST,
    cap: int = DEGREE_CAP,
) -> DataFrame:
    """The LABEL-FREE variant of embed_edges_capped — the blocking a
    production corpus actually has available: a 100 TB embedding table
    has no curated `label` column, so cells come from IVF assignment
    against {IVF_CAP_NLIST} deterministic md5-ranked seed centroids (the
    pq_recall/kmeans seeding idiom — retry-stable, no rand()), then the
    same sorted-sliding-window candidate core runs within each cell.
    Pairs still pass q_dedup_embed's exact-decimal threshold, but the
    CANDIDATE POLICY differs from label blocking, so the result is NOT a
    subset of the registered edge set — the two policies' overlap is a
    measured quantity (ivf_cap_overlap), not an assumption.

    Assignment is a broadcast of nlist 64-dim centroids against the
    scan (exact-decimal cosine, ties to the smaller centroid id) —
    nlist*|V| dots, embarrassingly parallel, no shuffle beyond the cell
    repartition the window needs. The assigned cells are CHECKPOINTED
    before the window core: the window join references the cell frame
    on BOTH sides, and without the pin Catalyst duplicates the whole
    assignment subtree into each branch — 2x the nlist*|V| dots (found
    by the r09 plan gate, which counted two BroadcastNestedLoopJoin
    nodes where the design has one). At 100 TB nlist grows to keep
    cells ~executor-sized; the seeds would come from a kmeans fit
    (q_kmeans_vec) rather than raw vectors, which only changes this
    function's first line."""
    dp = spark.sparkContext.defaultParallelism
    assigned = (
        _ivf_assign_cells(spark, sf_dir, nlist)
        .repartition(dp, "cell")
        .localCheckpoint(eager=True)
    )
    return _window_capped_pairs(assigned, cap)


def _ivf_assign_cells(
    spark: SparkSession, sf_dir: str, nlist: int = IVF_CAP_NLIST
) -> DataFrame:
    """The IVF cell assignment of embed_edges_capped_ivf, factored so the
    plan gate can inspect the un-checkpointed shape (exactly one bounded
    BroadcastNestedLoopJoin — the scan x broadcast(nlist seed rows)
    scalar-broadcast idiom — and no CartesianProduct).

    The assignment is an ARGMAX over centroids in the ORACLE'S
    exact-decimal cosine — the one place a plain double fold could
    diverge from DuckDB (a near-tie flips the winning cell, and there is
    no threshold to pad the way the dedup prefilter does). Scoring all
    nlist candidates in decimal is ~10x the double cost (measured 2.9s
    of a 3.4s sf0.01 build), so this uses the margin-BAND form of the
    family's prefilter idiom: keep the candidates within 1e-6 of each
    vector's double-cosine max, and evaluate the exact-decimal cosine
    only inside that band (~1 row per vector). The band provably
    contains the decimal argmax — the float64-vs-decimal gap for 64-dim
    unit-scale vectors is <<1e-6/4 (the q_dedup_embed bound, which also
    swallows the matmul-vs-sequential summation-order gap), and any
    excluded candidate's decimal cosine sits strictly below the
    winner's — so the (decimal DESC, cid) rank inside the band equals
    the oracle's rank over all nlist. Spark-side doubles never need to
    match DuckDB here: the band is a superset filter, only the decimal
    rank decides.

    The double scoring itself is VECTORIZED (second r09 iteration): the
    first band draft scored the nlist candidates with an interpreted
    zip_with fold on a crossJoin — and Catalyst's project-collapse
    inlined the DECIMAL norm folds into the per-candidate expression,
    re-evaluating them nlist times per vector (measured 20s of the 30s
    10x build; the r08 vectorization lesson, re-learned on a new
    operator). Now the nlist seed rows — bounded planning metadata, the
    <=512-row codebook-collect idiom — ship in a pandas_udf closure and
    each Arrow batch scores against all seeds in ONE BLAS matmul,
    returning each vector's band as an array<bigint> (exploded, ~1 row
    per vector, then the broadcast-seeds equi-join + decimal rank).

    The decimal norm2 is computed exactly ONCE over the corpus (r10: the
    r09 form selected norm2 BEFORE the seed orderBy/limit, so the seed
    collect, the broadcast build and the band scan each re-evaluated the
    interpreted decimal fold over every row — 3x the dominant cost,
    measured ~6s of the 10x build's ~7s assignment). Seeds now order by
    md5 first and compute their cn2 on the <= nlist surviving rows; the
    broadcast side is rebuilt from the collected rows (float32 values
    round-trip exactly), so the only full-corpus decimal pass is the
    band scan's, whose norm2 the returned frame carries downstream
    anyway.

    Zero-norm guard (ADVICE r09): a zero-norm vector makes every numpy
    cosine NaN, so the max-band filter would return an EMPTY band and
    explode() would silently drop the vector from assignment while the
    DuckDB twin still assigns it (parity break + silent data loss). A
    non-finite band max now returns ALL cids: downstream, both engines
    see every candidate tie (Spark NaN and DuckDB NaN both sort above
    any real cosine and equal to each other), so the (rank, cid)
    tiebreak assigns the smallest centroid id on both sides."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _spark_dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    seeds = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy(
            F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")), "vec_id"
        )
        .limit(nlist)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
            _spark_dot(F.col("embedding"), F.col("embedding")).alias("cn2"),
        )
    )
    srows = sorted(seeds.collect(), key=lambda r: r["cid"])  # <= nlist rows
    C = np.array([r["cemb"] for r in srows], dtype=np.float64)  # (k, dim)
    c2 = (C * C).sum(axis=1)  # (k,)
    cids = np.array([r["cid"] for r in srows], dtype=np.int64)
    all_cids = cids.tolist()
    # broadcast side from the collected rows: cn2 was computed in Spark
    # decimal above and the float32 embeddings round-trip exactly, so no
    # re-evaluation of the seed subtree (and no second decimal pass)
    seeds_b = spark.createDataFrame(
        [(r["cid"], r["cemb"], r["cn2"]) for r in srows],
        "cid long, cemb array<float>, cn2 double",
    )

    # no type hints: the module's `from __future__ import annotations`
    # stringifies them, which pandas_udf's eval-type inference can't
    # resolve for a local closure (the _assign_pandas precedent)
    @F.pandas_udf("array<bigint>")
    def _band(emb):
        X = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        x2 = (X * X).sum(axis=1)  # (n,)
        cos = (X @ C.T) / np.sqrt(np.outer(x2, c2))
        mx = cos.max(axis=1)
        return pd.Series(
            [
                cids[cos[i] >= mx[i] - 1e-6].tolist()
                if np.isfinite(mx[i])
                else all_cids
                for i in range(len(mx))
            ]
        )

    band = e.select(
        "vec_id",
        "embedding",
        "norm2",
        F.explode(_band("embedding")).alias("cid"),
    )
    dec_cos = _spark_dot(F.col("embedding"), F.col("cemb")) / F.sqrt(
        F.col("norm2") * F.col("cn2")
    )
    return (
        band.join(F.broadcast(seeds_b), "cid")
        .withColumn(
            "a_rank",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(dec_cos.desc(), "cid")
            ),
        )
        .filter(F.col("a_rank") == 1)
        .select("vec_id", F.col("cid").alias("cell"), "embedding", "norm2")
    )


def ivf_cap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured overlap between the two candidate policies (runs both
    capped builds — each linear in |V|): label-blocked capped edges vs
    IVF-blocked capped edges, as counts + Jaccard in exact ppm, plus how
    many IVF edges the REGISTERED label-blocked exact tier could never
    see (cross-label pairs — the recall the curated blocking gives up
    when labels and geometry disagree).

    The cross-label count needs NO exact edge build (VERDICT r09
    next-round #4 flagged the r09 form, which anti-joined against the
    full-corpus O(m^2/cell) q_dedup_embed materialization): every IVF
    edge already passed q_dedup_embed's exact-decimal cosine threshold
    inside _window_capped_pairs, and the exact tier enumerates ALL
    same-label pairs over that same threshold — so an IVF edge is
    outside the exact set IFF its endpoints' labels differ. Two
    broadcast-sized joins to (vec_id, label) replace the exact arm with
    bit-identical results."""
    lab = embed_edges_capped(spark, sf_dir).select("vec_a", "vec_b")
    ivf = embed_edges_capped_ivf(spark, sf_dir).select("vec_a", "vec_b")
    lab = lab.localCheckpoint(eager=True)
    ivf = ivf.localCheckpoint(eager=True)
    # all four scalar counts ride ONE plan of crossJoined 1-row
    # aggregates over the pinned edge sets (r13; previously four
    # separate driver-blocking .count() jobs) — AQE broadcasts the
    # provably-1-row sides, no hints needed
    emb_lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    nl = lab.agg(F.count(F.lit(1)).alias("n_lab"))
    ni = ivf.agg(F.count(F.lit(1)).alias("n_ivf"))
    nc = lab.join(ivf, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).alias("n_common")
    )
    nx = (
        ivf.join(
            emb_lab.select(
                F.col("vec_id").alias("vec_a"), F.col("label").alias("lab_a")
            ),
            "vec_a",
        )
        .join(
            emb_lab.select(
                F.col("vec_id").alias("vec_b"), F.col("label").alias("lab_b")
            ),
            "vec_b",
        )
        .filter(F.col("lab_a") != F.col("lab_b"))
        .agg(F.count(F.lit(1)).alias("n_cross"))
    )
    return (
        nl.crossJoin(ni)
        .crossJoin(nc)
        .crossJoin(nx)
        .select(
            F.col("n_lab").alias("n_label_capped"),
            F.col("n_ivf").alias("n_ivf_capped"),
            F.col("n_common"),
            F.expr(
                "CASE WHEN n_lab + n_ivf - n_common = 0 THEN CAST(0 AS BIGINT) "
                "ELSE n_common * 1000000 div (n_lab + n_ivf - n_common) END"
            ).alias("jaccard_ppm"),
            F.col("n_cross").alias("n_ivf_cross_label"),
        )
    )


def degree_cap_edges(edges: DataFrame, cap: int = DEGREE_CAP) -> DataFrame:
    """Deterministic MUTUAL degree cap over an undirected (va, vb) edge
    frame (va < vb, no duplicates). NOTE: for graphs whose edges come
    from q_dedup_embed this is the WRONG tier to reach for — the cost
    lives in pair enumeration, so cap there (embed_edges_capped;
    measured 119s-vs-120s null result in SCALE.md). This helper is for
    graphs whose edge list already exists cheaply but whose downstream
    per-vertex work is quadratic. An edge survives only if it ranks
    within BOTH endpoints' `cap` highest-priority incident edges
    (priority = md5 of the "va:vb" pair string — fixed, retry-stable,
    no rand()). Mutual (intersection) capping bounds EVERY vertex's
    post-cap degree by `cap`, so downstream wedge enumeration is
    <= cap^2 per vertex and LPA messages are <= cap per node regardless
    of how hot a hub is — the property a union/kNN-style cap (keep if
    EITHER endpoint ranks it) cannot give, since a hub stays unbounded
    when every neighbor keeps its hub edge.

    Shape at 100 TB: one 2x explode of the edge list to per-endpoint
    incident rows, one row_number window on the vertex key, one
    count==2 aggregate back on the edge key — linear in |E|, the window
    partition bounded by the hottest vertex's degree, which is exactly
    the quantity q_key_skew_profile exists to watch; no joins, no
    collect. (First draft ranked the va-side and vb-side incident lists
    in two separate windows, which bounds each SIDE by cap and the
    vertex by 2*cap — caught by the degree-law pytest.)"""
    e = edges.select(
        "va",
        "vb",
        F.md5(
            F.concat_ws(":", F.col("va").cast("string"), F.col("vb").cast("string"))
        ).alias("pri"),
    )
    inc = e.select(F.col("va").alias("v"), "va", "vb", "pri").unionByName(
        e.select(F.col("vb").alias("v"), "va", "vb", "pri")
    )
    w = W.partitionBy("v").orderBy("pri", "va", "vb")
    return (
        inc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .groupBy("va", "vb")
        .agg(F.count(F.lit(1)).alias("n_keep"))
        .filter(F.col("n_keep") == 2)
        .select("va", "vb")
    )


def triangle_count_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_triangle_count's cheap tier: the same degree-oriented counting
    over the candidate-capped edge set (embed_edges_capped — capping
    must happen at pair ENUMERATION; see its docstring for the measured
    negative result of capping after the build). Candidate restriction
    only removes edges, and removing edges only removes triangles, so
    every per-vertex count is a LOWER BOUND of the exact tier's
    (pytest-gated law); the audit question the count answers — "is this
    vertex inside a dense paraphrase core?" — survives the cap because a
    vertex capped at ~2x{DEGREE_CAP} neighbors still closes hundreds of
    triangles. Agreement vs exact is MEASURED (triangle_cap_agreement),
    not assumed."""
    edges = (
        embed_edges_capped(spark, sf_dir)
        .select(F.col("vec_a").alias("va"), F.col("vec_b").alias("vb"))
        .localCheckpoint(eager=True)
    )
    return triangle_counts(edges)


TRI_AGREE_TOPK = 20


def triangle_cap_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement harness for the capped tier (runs BOTH tiers —
    one-off audit cost, the q_recall_eval pattern): global triangle
    recall of the capped tier in exact ppm, plus overlap@{TRI_AGREE_TOPK}
    between the tiers' most-triangled vertices — the rank signal an
    auditor actually consumes. Each tier builds its own edge set (the
    capped tier's whole point is a different, bounded build); the
    comparison joins are on the bounded per-vertex outputs."""
    edges = (
        q_dedup_embed(spark, sf_dir)
        .select(F.col("vec_a").alias("va"), F.col("vec_b").alias("vb"))
        .localCheckpoint(eager=True)
    )
    capped_edges = (
        embed_edges_capped(spark, sf_dir)
        .select(F.col("vec_a").alias("va"), F.col("vec_b").alias("vb"))
        .localCheckpoint(eager=True)
    )
    exact = triangle_counts(edges).localCheckpoint(eager=True)
    capped = triangle_counts(capped_edges).localCheckpoint(eager=True)
    both = exact.select(
        "vec_id", F.col("n_tri").alias("n_exact")
    ).join(
        capped.select("vec_id", F.col("n_tri").alias("n_capped")),
        "vec_id",
        "left",
    ).select(
        "vec_id", "n_exact", F.coalesce("n_capped", F.lit(0)).alias("n_capped")
    )
    top_e = exact.orderBy(F.col("n_tri").desc(), "vec_id").limit(TRI_AGREE_TOPK)
    top_c = capped.orderBy(F.col("n_tri").desc(), "vec_id").limit(TRI_AGREE_TOPK)
    overlap = top_e.select("vec_id").join(top_c.select("vec_id"), "vec_id").count()
    totals = both.agg(
        F.sum("n_exact").alias("tri_exact"),
        F.sum("n_capped").alias("tri_capped"),
        F.count(F.lit(1)).alias("n_vertices_exact"),
        F.sum(F.when(F.col("n_capped") > 0, 1).otherwise(0)).alias(
            "n_vertices_capped"
        ),
    )
    return totals.select(
        "tri_exact",
        "tri_capped",
        F.expr("tri_capped * 1000000 div tri_exact").cast("long").alias(
            "tri_recall_ppm"
        ),
        "n_vertices_exact",
        "n_vertices_capped",
        F.lit(overlap * 1_000_000 // TRI_AGREE_TOPK).cast("long").alias(
            f"top{TRI_AGREE_TOPK}_overlap_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# The capped tiers: the two candidate-capped edge builders a 100 TB user
# actually runs for embedding dedup, plus their measured-error companions
# (the pq_recall pattern — agreement is a measured, oracle-checked number,
# never an assumption).
# The oracle twins below reproduce the sorted-sliding-window candidate
# policy exactly: same exact-decimal projection rank, same rank-successor
# cap, same exact-decimal cosine threshold.
# ---------------------------------------------------------------------------


def _capped_window_sql(cells: str, p: str) -> str:
    """DuckDB twin of _window_capped_pairs over the CTE named `cells`
    (vec_id, cell, embedding, norm2): emits `{p}ranked` and `{p}capped`
    (vec_a < vec_b, cosine). The prefix keeps two policies' CTEs
    composable in one statement (q_ivf_cap_overlap runs both)."""
    dot = _DEC_DOT.format(a="a.embedding", b="b.embedding")
    return f"""{p}ranked AS (
      SELECT vec_id, cell, embedding, norm2,
             ROW_NUMBER() OVER (PARTITION BY cell
                 ORDER BY {_PROJ_SQL.format(e='embedding')}, vec_id) AS rn
      FROM {cells}),
    {p}capped AS (
      SELECT LEAST(a.vec_id, b.vec_id) AS vec_a,
             GREATEST(a.vec_id, b.vec_id) AS vec_b,
             {dot} / SQRT(a.norm2 * b.norm2) AS cosine
      FROM {p}ranked a JOIN {p}ranked b
        ON a.cell = b.cell
       AND b.rn > a.rn AND b.rn <= a.rn + {DEGREE_CAP}
      WHERE {dot} / SQRT(a.norm2 * b.norm2) >= {EMBED_COS_THRESHOLD})"""


# label-blocked cells (the curated-blocking policy)
_CAPPED_CELLS_LABEL_SQL = f"""lcells AS (
      SELECT vec_id, label AS cell, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings)"""

# IVF cells (the label-free policy): md5-ranked seed centroids, exact-
# decimal assignment cosine, ties to the smaller centroid id
_CAPPED_CELLS_IVF_SQL = f"""ie AS (
      SELECT vec_id, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings),
    iseeds AS (
      SELECT vec_id AS cid, embedding AS cemb, norm2 AS cn2
      FROM ie ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {IVF_CAP_NLIST}),
    iscored AS (
      SELECT ie.vec_id, ie.embedding, ie.norm2, s.cid,
             ROW_NUMBER() OVER (PARTITION BY ie.vec_id
                 ORDER BY {_DEC_DOT.format(a='ie.embedding', b='s.cemb')}
                            / SQRT(ie.norm2 * s.cn2) DESC, s.cid) AS a_rank
      FROM ie CROSS JOIN iseeds s),
    icells AS (
      SELECT vec_id, cid AS cell, embedding, norm2
      FROM iscored WHERE a_rank = 1)"""


@register(
    "q_dedup_embed_capped",
    oracle=f"""
    WITH {_CAPPED_CELLS_LABEL_SQL},
    {_capped_window_sql('lcells', 'l')}
    SELECT vec_a, vec_b, cosine FROM lcapped
    """,
)
def q_dedup_embed_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of embed_edges_capped (see its docstring for the
    full design + the measured cap-after-build negative result): the
    candidate-capped near-dup edge builder over label cells — <= m*cap
    candidates per cell via one rank window + explode(sequence) + one
    equi-join, per-vertex degree <= 2*cap by construction, edge volume
    linear in |V| whatever the cell-size skew. Survivors pass
    q_dedup_embed's exact threshold, so the output is a strict SUBSET
    of the registered exact edge set (pytest law); recall vs exact is
    measured by q_cc_cap_agreement, not assumed."""
    return embed_edges_capped(spark, sf_dir)


@register(
    "q_dedup_embed_capped_ivf",
    oracle=f"""
    WITH {_CAPPED_CELLS_IVF_SQL},
    {_capped_window_sql('icells', 'i')}
    SELECT vec_a, vec_b, cosine FROM icapped
    """,
)
def q_dedup_embed_capped_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of embed_edges_capped_ivf: the LABEL-FREE capped
    edge builder — cells come from IVF assignment against
    {IVF_CAP_NLIST} deterministic md5-ranked seed centroids (broadcast;
    exact-decimal assignment cosine so the argmax cell is
    oracle-reproducible), then the same sorted-sliding-window core.
    This is the policy a production corpus actually has available (a
    100 TB embedding table has no curated label column). NOT a subset
    of the label-blocked edge set — the two policies' overlap is the
    measured quantity q_ivf_cap_overlap reports."""
    return embed_edges_capped_ivf(spark, sf_dir)


@register(
    "q_ivf_cap_overlap",
    oracle=f"""
    WITH {_CAPPED_CELLS_LABEL_SQL},
    {_capped_window_sql('lcells', 'l')},
    {_CAPPED_CELLS_IVF_SQL},
    {_capped_window_sql('icells', 'i')},
    lab AS (SELECT vec_a, vec_b FROM lcapped),
    ivf AS (SELECT vec_a, vec_b FROM icapped),
    counts AS (
      SELECT (SELECT COUNT(*) FROM lab) AS n_lab,
             (SELECT COUNT(*) FROM ivf) AS n_ivf,
             (SELECT COUNT(*) FROM lab JOIN ivf USING (vec_a, vec_b))
               AS n_common,
             (SELECT COUNT(*) FROM ivf
              JOIN embeddings ea ON ea.vec_id = ivf.vec_a
              JOIN embeddings eb ON eb.vec_id = ivf.vec_b
              WHERE ea.label <> eb.label)
               AS n_cross)
    SELECT CAST(n_lab AS BIGINT) AS n_label_capped,
           CAST(n_ivf AS BIGINT) AS n_ivf_capped,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CASE WHEN n_lab + n_ivf - n_common = 0 THEN 0
                     ELSE n_common * 1000000 // (n_lab + n_ivf - n_common)
                END AS BIGINT) AS jaccard_ppm,
           CAST(n_cross AS BIGINT) AS n_ivf_cross_label
    FROM counts
    """,
)
def q_ivf_cap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of ivf_cap_overlap — the measured-error companion
    of q_dedup_embed_capped_ivf (the pq_recall pattern): edge counts of
    the label-blocked and IVF-blocked capped policies, their exact-ppm
    Jaccard overlap, and how many IVF edges the registered label-blocked
    EXACT tier could never see. Runs both capped builds (linear in |V|)
    and derives the cross-tier count from a label comparison — NO exact
    edge build (see ivf_cap_overlap: an IVF edge already clears the
    exact threshold, so exact-set membership IS label equality)."""
    return ivf_cap_overlap(spark, sf_dir)


# q_cc_cap_agreement (the q_dedup_embed_capped measured-error companion)
# is registered from pipeline.py, where cc_cap_agreement lives: its
# oracle interpolates THIS module's SQL fragments, which pipeline can
# import at build time because pipeline -> llmops is already the module-
# level direction of the import cycle (same reasoning, mirrored, as the
# q_pii_source_audit placement note in pipeline.py).

# triangle_count_capped's DuckDB twin — the same ordered id-triple
# enumeration as q_triangle_count's oracle, over the capped edge set
# (parity-tested by tests/test_round9_ops.py).
TRIANGLE_COUNT_CAPPED_ORACLE = f"""
    WITH {_CAPPED_CELLS_LABEL_SQL},
    {_capped_window_sql('lcells', 'l')},
    tri AS (
      SELECT p1.vec_a AS x, p1.vec_b AS y, p2.vec_b AS z
      FROM lcapped p1
      JOIN lcapped p2 ON p2.vec_a = p1.vec_b
      JOIN lcapped p3 ON p3.vec_a = p1.vec_a AND p3.vec_b = p2.vec_b),
    verts AS (SELECT UNNEST([x, y, z]) AS vec_id FROM tri)
    SELECT vec_id, COUNT(*) AS n_tri FROM verts GROUP BY vec_id
    """

register("q_triangle_count_capped", oracle=TRIANGLE_COUNT_CAPPED_ORACLE)(
    triangle_count_capped
)


HYBRID_DEPTH = 100  # per-modality candidate-list depth fed into the fusion
HYBRID_RRF_K = 60  # standard reciprocal-rank-fusion damping constant
HYBRID_TOPK = 20

# Shared by q_hybrid_search and the retrieval-agreement harness: the two
# modality rank lists (lexr/vecr) as CTE text — extracted byte-identically
# from the hybrid oracle so arm definitions cannot drift between fusion
# and agreement.
_HYBRID_ARMS_SQL = f"""{_BM25_CORE_SQL},
    lex AS (SELECT doc_id, {_BM25_TOTAL_SQL} AS score FROM per_doc),
    lexr AS (
      SELECT doc_id, r AS lex_rank FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        FROM lex) WHERE r <= {HYBRID_DEPTH}),
    en AS (
      SELECT vec_id, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings),
    q AS (SELECT embedding AS qe, norm2 AS qn2 FROM en WHERE vec_id = 0),
    cos AS (
      SELECT vec_id,
             {_DEC_DOT.format(a='qe', b='embedding')} / SQRT(qn2 * norm2)
               AS cosine
      FROM en CROSS JOIN q WHERE vec_id <> 0),
    vecr AS (
      SELECT vec_id, r AS vec_rank FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS r
        FROM cos) WHERE r <= {HYBRID_DEPTH})"""


def _hybrid_arms(spark: SparkSession, sf_dir: str):
    """The two modality rank lists — (lexr: doc_id/lex_rank, vecr:
    vec_id/vec_rank), each cut to HYBRID_DEPTH by orderBy+limit
    (TakeOrderedAndProject, partial top-k per partition) with the rank
    window running on the bounded head. Shared by q_hybrid_search's RRF
    fusion and the retrieval-agreement harness, mirroring
    _HYBRID_ARMS_SQL on the oracle side."""
    lex = (
        _bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(HYBRID_DEPTH)
    )
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .alias("lex_rank"),
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        _spark_dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("norm2").alias("qn2")
    )
    cos = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (_spark_dot(F.col("qe"), F.col("embedding")) / F.sqrt(F.col("qn2") * F.col("norm2"))).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(HYBRID_DEPTH)
    )
    vecr = cos.select(
        "vec_id",
        F.row_number()
        .over(W.orderBy(F.col("cosine").desc(), "vec_id"))
        .alias("vec_rank"),
    )
    return lexr, vecr


@register(
    "q_hybrid_search",
    oracle=f"""
    WITH {_HYBRID_ARMS_SQL},
    fused AS (
      SELECT COALESCE(lexr.doc_id, vecr.vec_id) AS doc_id,
             lex_rank, vec_rank,
             COALESCE(1.0 / ({HYBRID_RRF_K} + lex_rank), 0.0)
               + COALESCE(1.0 / ({HYBRID_RRF_K} + vec_rank), 0.0) AS rrf
      FROM lexr FULL JOIN vecr ON lexr.doc_id = vecr.vec_id)
    SELECT doc_id, lex_rank, vec_rank, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOPK}
    """,
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking (q_bm25's per-doc scores)
    fused with embedding-cosine ranking (query = vec 0's embedding, ids
    aligned doc_id==vec_id) by reciprocal rank fusion —
    rrf = sum 1/(60 + rank) over the modalities that returned the doc.
    This is the composition a RAG/retrieval corpus actually serves:
    lexical matches catch exact terms, vector matches catch paraphrase,
    RRF needs no score calibration between the two.

    Determinism: both rank lists are exact (decimal-dot cosines, the
    fixed-order BM25 double total) and tie-break on id; 1/(k+rank) is one
    IEEE division per row and the fusion adds the two in fixed order.

    Shape: each modality is cut to its top-{HYBRID_DEPTH} by
    orderBy+limit — TakeOrderedAndProject, a per-partition partial top-k
    with no global sort — so the full-outer fusion join runs on two
    <= {HYBRID_DEPTH}-row frames no matter the corpus size; the final
    row_number windows rank those bounded frames on a single partition.
    At 100 TB the modality scans dominate exactly as they should; the
    fusion itself stays O(depth)."""
    lexr, vecr = _hybrid_arms(spark, sf_dir)
    fused = lexr.join(vecr, lexr.doc_id == vecr.vec_id, "full_outer").select(
        F.coalesce(lexr.doc_id, vecr.vec_id).alias("doc_id"),
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(1.0 / (F.lit(HYBRID_RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(HYBRID_RRF_K) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(HYBRID_TOPK)


# ---------------------------------------------------------------------------
# round-4b: corpus sampling / mixing / BPE statistics
# ---------------------------------------------------------------------------

_WS_RATE_NUM = 1  # weighted-sample base rate numerator ..
_WS_RATE_DEN = 2  # .. and denominator: p(doc) = (1/2) * n_chars / max_chars
_POW60 = 1 << 60


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS u_int
      FROM documents),
    mx AS (SELECT MAX(n_chars) AS max_chars FROM documents)
    SELECT doc_id, source, n_chars
    FROM keyed, mx
    WHERE CAST(u_int AS HUGEINT) * max_chars * {_WS_RATE_DEN}
          < CAST({_POW60} AS HUGEINT) * n_chars * {_WS_RATE_NUM}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli corpus sampling (importance sampling for a
    training mix): each document is kept with probability
    (1/2) * n_chars / max_chars — longer documents proportionally more
    likely — using the split_train_test md5-uniform idea so the sample is
    deterministic and retry-stable.

    Determinism: the inclusion test is a PURE INTEGER predicate —
    u_int * max_chars * 2 < 2^60 * n_chars — evaluated in decimal(38,0)
    on Spark and HUGEINT in DuckDB, both exact, so the kept set is
    bit-identical with no float anywhere.

    Shape at 100 TB: one scalar aggregate (max weight) broadcast into a
    stateless per-row filter — zero data shuffles; the filter pushes into
    the scan stage. This is the scale-correct form of weighted sampling
    (an Efraimidis-Spirakis top-k would pay a global sort for an exact
    sample size; the Bernoulli form trades +/-sqrt(n) size variance for
    shuffle-freedom)."""
    docs = table(spark, sf_dir, "documents")
    u_int = F.conv(
        F.substring(
            F.md5(F.encode(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")), "UTF-8")),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    mx = docs.agg(F.max("n_chars").alias("max_chars"))
    return (
        docs.crossJoin(F.broadcast(mx))
        .where(
            u_int * F.col("max_chars").cast("decimal(38,0)") * _WS_RATE_DEN
            < F.lit(_POW60).cast("decimal(38,0)")
            * F.col("n_chars").cast("decimal(38,0)")
            * _WS_RATE_NUM
        )
        .select("doc_id", "source", "n_chars")
    )


MIX_PER_SOURCE = 20  # per-source document quota in the mixed corpus


@register(
    "q_data_mix",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             md5('mix:' || CAST(doc_id AS VARCHAR)) AS mix_key
      FROM documents),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY mix_key, doc_id) AS rn
      FROM keyed),
    taken AS (SELECT * FROM ranked WHERE rn <= {MIX_PER_SOURCE})
    SELECT k.source,
           COUNT(*) AS n_available,
           LEAST(COUNT(*), {MIX_PER_SOURCE}) AS quota,
           (SELECT COUNT(*) FROM taken t WHERE t.source = k.source) AS n_taken,
           (SELECT CAST(SUM(t.doc_id) AS BIGINT) FROM taken t
            WHERE t.source = k.source) AS id_checksum
    FROM keyed k GROUP BY k.source
    """,
)
def q_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composer: cap every source at a fixed per-source
    quota, choosing WHICH documents deterministically by md5 order (so
    re-runs and incremental refreshes pick the same mix). Output is the
    per-source mix report: available docs, quota, taken count, and an
    exact bigint checksum of the taken doc_ids (proves the selected SET
    matches, not just its size).

    Shape: one source Exchange shared by the row_number window and both
    aggregates. The window-over-giant-source-partition hazard this
    docstring used to note is CLOSED (r09): the quota cut is two-level —
    level 1 keeps the MIX_PER_SOURCE smallest mix keys within every
    (source, input-partition) slice (the global smallest are a subset of
    the union of per-slice smallest), so the per-source window sorts at
    most partitions*quota rows however hot the source. Output and oracle
    unchanged."""
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.encode(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), "UTF-8")
        ).alias("mix_key"),
    )
    w = W.partitionBy("source").orderBy("mix_key", "doc_id")
    w1 = W.partitionBy("source", "_pid").orderBy("mix_key", "doc_id")
    local = (
        keyed.withColumn("_pid", F.spark_partition_id())
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= MIX_PER_SOURCE)
        .drop("rn", "_pid")
    )
    ranked = local.withColumn("rn", F.row_number().over(w))
    taken = ranked.where(F.col("rn") <= MIX_PER_SOURCE)
    avail = keyed.groupBy("source").agg(F.count(F.lit(1)).alias("n_available"))
    got = taken.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_taken"),
        F.sum("doc_id").alias("id_checksum"),
    )
    return (
        avail.join(got, "source", "left")
        .select(
            "source",
            "n_available",
            F.least(F.col("n_available"), F.lit(MIX_PER_SOURCE))
            .cast("long")
            .alias("quota"),
            "n_taken",
            "id_checksum",
        )
    )


BPE_TOPK = 20  # merge candidates reported per round


@register(
    "q_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair
      FROM (SELECT w, unnest(range(1, length(w))) AS i
            FROM words WHERE length(w) >= 2))
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT {BPE_TOPK}
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot inner statistic of BPE tokenizer training: adjacent
    symbol-pair frequencies over the corpus (characters within
    whitespace words, the round-0 symbol alphabet), reported as the
    top-K merge candidates with the (count desc, pair asc) deterministic
    tiebreak.

    Shape: explode to pairs (flatMap in codegen — transform+sequence,
    no Python), hash-aggregate on the pair (partial map-side combine
    does nearly all the reduction: the pair alphabet is at most
    |chars|^2), then TakeOrderedAndProject for the top-K — no global
    sort. This is exactly the statistic a distributed BPE trainer
    recomputes per merge round; the full trainer loops this plan with a
    broadcast merge table, same as q_kmeans loops its assignment
    plan."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(BPE_TOPK)
    )


@register(
    "q_recall_eval",
    oracle=f"""
    WITH {_EXACT_TOPK_CTE},
    {_IVF_TOPK_CTE},
    et AS (SELECT q_id, c_id FROM r WHERE rnk <= 10),
    it AS (SELECT q_id, c_id FROM ivr WHERE rnk <= 10)
    SELECT et.q_id,
           COUNT(*) AS k_exact,
           COUNT(it.c_id) AS hits,
           CAST(COUNT(it.c_id) AS DOUBLE) / COUNT(*) AS recall_at_10
    FROM et LEFT JOIN it ON et.q_id = it.q_id AND et.c_id = it.c_id
    GROUP BY et.q_id
    """,
)
def q_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of the IVF cell-probe path
    against the exact brute-force top-10, per query — the measurement
    every approximate index must ship with (an ANN path without a recall
    harness is untrustworthy at any scale). Composes the two registered
    operators directly; the oracle composes the SAME shared CTE constants
    (_EXACT_TOPK_CTE / _IVF_TOPK_CTE), so operator and evaluation cannot
    drift.

    Determinism: hit counts are exact ints; recall is one IEEE division.

    Shape at 100 TB: the exact arm is the expensive baseline — run it
    over a query SAMPLE (as here: the fixed probe set), never the full
    query log; the join is per-query top-k sized (k x |queries| rows), so
    evaluation cost is dominated by the exact arm's scan exactly as
    designed."""
    exact = q_sim_topk(spark, sf_dir).select("q_id", "c_id")
    approx = q_sim_ivf(spark, sf_dir).select(
        F.col("q_id").alias("iq_id"), F.col("c_id").alias("ic_id")
    )
    j = exact.join(
        approx,
        (exact.q_id == approx.iq_id) & (exact.c_id == approx.ic_id),
        "left",
    )
    return j.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("k_exact"),
        F.count("ic_id").alias("hits"),
        (F.count("ic_id").cast("double") / F.count(F.lit(1))).alias(
            "recall_at_10"
        ),
    )


BPE_ROUNDS = 3  # merge rounds the trainer runs
_BPE_SEP = "\x1f"  # oracle symbol delimiter; must not occur in corpus text


def _bpe_ctes(rounds: int) -> list[str]:
    """The shared REPLACE-chain CTE prefix: encoded words w0..w{rounds}
    (doc_id carried through for q_bpe_apply's per-document aggregate;
    q_bpe_train's final select simply ignores it) and per-round winners
    win0..win{rounds-1}. See _bpe_train_oracle for the encoding proof."""
    s = _BPE_SEP
    ctes = [
        f"""w0 AS (
      SELECT doc_id, '{s}' || array_to_string(
               list_transform(range(1, length(w) + 1),
                              i -> substr(w, CAST(i AS INT), 1)), '{s}{s}')
           || '{s}' AS st
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) >= 1)"""
    ]
    for r in range(rounds):
        ctes.append(f"""l{r} AS (
      SELECT string_split(substr(st, 2, length(st) - 2), '{s}{s}') AS l
      FROM w{r})""")
        ctes.append(f"""p{r} AS (
      SELECT l, unnest(range(1, len(l))) AS i FROM l{r} WHERE len(l) >= 2)""")
        ctes.append(f"""win{r} AS (
      SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b,
             COUNT(*) AS n
      FROM p{r} GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1)""")
        ctes.append(f"""w{r + 1} AS (
      SELECT doc_id, CASE WHEN a IS NULL THEN st
             ELSE REPLACE(st, '{s}' || a || '{s}{s}' || b || '{s}',
                              '{s}' || a || b || '{s}') END AS st
      FROM w{r} LEFT JOIN win{r} ON TRUE)""")
    return ctes


def _bpe_train_oracle(rounds: int = BPE_ROUNDS) -> str:
    """DuckDB twin of the Spark trainer's greedy fold, as a chained CTE
    (the VERDICT r04 #2 upgrade: the former 'not SQL-expressible' claim
    was too strong). Each word is encoded as a delimiter-framed symbol
    string — SEP sym (SEP SEP sym)* SEP — so the per-round rewrite
    ``REPLACE(st, SEP||a||SEP||SEP||b||SEP, SEP||a+b||SEP)`` is

      * fully boundary-anchored: both a and b sit between single SEPs,
        and symbols never contain SEP, so a symbol whose suffix equals a
        (e.g. 'th' vs pattern a='h') or whose prefix equals b can never
        false-match — the failure mode of naive one-sided encodings; and
      * greedy-adjacency-preserving: each match consumes one SEP from
        each flanking double separator and the replacement restores
        them, so an immediately following match (a=b runs like 'aaaa')
        still sees its leading SEP — REPLACE's leftmost-first,
        continue-after-replacement scan is then EXACTLY the Spark
        fold's greedy left-to-right non-overlapping semantics (the
        merged symbol a+b can re-match neither as a nor inside the same
        sweep, mirroring element_at(acc,-1) = a being impossible for
        acc tail = a+b). Verified against a Python greedy reference on
        adversarial suffix/prefix-trap and a-run corpora.

    The per-round winner (count DESC, a, b) and the final vocabulary are
    the same aggregations the Spark side runs; an empty round (no pairs
    left) LEFT-JOINs through unchanged."""
    s = _BPE_SEP
    ctes = _bpe_ctes(rounds)
    ctes.append(f"""vocab AS (
      SELECT COUNT(DISTINCT sym) AS v FROM (
        SELECT unnest(string_split(substr(st, 2, length(st) - 2), '{s}{s}')) AS sym
        FROM w{rounds}))""")
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS INT) AS round, a AS sym_a, b AS sym_b, "
        f"a || b AS merged, n AS pair_count, (SELECT v FROM vocab) AS final_vocab "
        f"FROM win{r}"
        for r in range(rounds)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


def _bpe_learn(spark: SparkSession, sf_dir: str, rounds: int):
    """The shared BPE merge loop: split the corpus to per-word symbol
    arrays (doc_id carried for per-document consumers), then ``rounds``
    times (count adjacent pairs -> pick the (count desc, a, b) winner ->
    apply the merge corpus-wide as a greedy left-to-right JVM fold).
    Returns (final syms frame with columns (doc_id, syms), merge list of
    (round, a, b, merged, count)). See q_bpe_train for the scale notes."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.length("w") >= 1)
    # the documents fixture is a single parquet file => one input
    # partition; the per-round fold + explode would otherwise run on ONE
    # task no matter the cluster — spread the symbol table first
    syms = (
        words.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.length("w").alias("n0"),  # pre-merge symbol count per word
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias("syms"),
        )
        .localCheckpoint()
    )

    merges = []
    for rnd in range(rounds):
        top = (
            syms.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(element_at(syms, i + 1) AS a, "
                        "element_at(syms, i + 2) AS b))"
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merges.append((rnd + 1, a, b, a + b, n))
        # greedy left-to-right merge application as a JVM-side fold; the
        # merged symbol (a+b) never re-matches as `a` within the same
        # sweep (a+b != a for nonempty b), which IS the greedy semantics.
        # Spark SQL string literals honor backslash escapes, so backslashes
        # must be doubled BEFORE quote-escaping (ADVICE r04 #1) or a
        # corpus token containing '\' would corrupt the parsed literal.
        qa, qb, qm = (
            x.replace("\\", "\\\\").replace("'", "\\'") for x in (a, b, a + b)
        )
        merged_expr = F.expr(
            "aggregate(syms, CAST(array() AS array<string>),"
            " (acc, s) -> CASE WHEN size(acc) > 0"
            f"   AND element_at(acc, -1) = '{qa}' AND s = '{qb}'"
            f"  THEN concat(slice(acc, 1, size(acc) - 1), array('{qm}'))"
            "  ELSE concat(acc, array(s)) END)"
        )
        syms = syms.select("doc_id", "n0", merged_expr.alias("syms")).localCheckpoint()
    return syms, merges


@register(
    "q_bpe_train",
    oracle=_bpe_train_oracle(),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, the real loop: 3 rounds of
    (count adjacent symbol pairs) -> (pick the most frequent, ties to the
    lexicographically smallest) -> (apply the merge corpus-wide,
    greedy left-to-right). Output: one row per learned merge with its
    pre-merge pair count, plus the corpus vocabulary size after each
    round — the artifact a tokenizer build job persists.

    Implementation: words live as symbol ARRAYS (split to chars once);
    pair counting is the q_bpe_pair_counts plan (codegen explode +
    map-side-combined hash agg); the winning merge is a 1-row collect
    (driver holds ONE (pair, count) tuple per round — bounded planning
    metadata, like the split planner); merge application is a higher-order
    aggregate over the symbol array (JVM codegen, no Python): fold left,
    appending either a merged symbol or the raw next symbol — greedy
    left-to-right exactly like the reference trainer.

    Scale: each round = 1 explode->agg shuffle over the corpus + a
    broadcast of one scalar pair. Rounds are the standard BPE sequential
    dependency (real trainers batch non-overlapping merges per sweep; the
    per-round dataflow is identical). localCheckpoint between rounds
    releases lineage exactly like q_dedup_groups' CC loop.

    Oracle: hash-checked via the REPLACE-chain CTE (_bpe_train_oracle),
    whose delimiter-framed encoding makes DuckDB's REPLACE bit-equivalent
    to the fold (assumes corpus text contains no \\x1f, true of the
    fixtures); the exact Python-reference pytest
    (test_round4b_ops.py::test_bpe_train_matches_reference) stays as the
    third witness."""
    syms, merges = _bpe_learn(spark, sf_dir, BPE_ROUNDS)
    vocab = syms.select(F.explode("syms").alias("s")).distinct().count()
    rows = [(r, a, b, m, int(n), int(vocab)) for (r, a, b, m, n) in merges]
    return spark.createDataFrame(
        rows,
        "round int, sym_a string, sym_b string, merged string, "
        "pair_count long, final_vocab long",
    )


# Shared per-document tokenization CTEs (post-merge token lengths +
# pre-merge word/symbol counts) — the single source both _BPE_APPLY_ORACLE
# and TOKEN_FERTILITY_ORACLE build on, so the per-doc aggregate can never
# drift between the registered apply operator and the fertility audit.
_BPE_PER_DOC_CTES = f""",
    nsym AS (
      SELECT doc_id,
             len(string_split(substr(st, 2, length(st) - 2),
                              '{_BPE_SEP}{_BPE_SEP}')) AS ln
      FROM w{BPE_ROUNDS}),
    before AS (
      SELECT doc_id, COUNT(*) AS n_words,
             SUM(len(string_split(substr(st, 2, length(st) - 2),
                                  '{_BPE_SEP}{_BPE_SEP}'))) AS n_syms
      FROM w0 GROUP BY doc_id)"""

_BPE_APPLY_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_ctes(BPE_ROUNDS))
    + _BPE_PER_DOC_CTES
    + """
    SELECT b.doc_id,
           CAST(b.n_words AS BIGINT) AS n_words,
           CAST(b.n_syms AS BIGINT) AS n_syms,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           CAST(a.n_tokens AS DOUBLE) / b.n_syms AS compression
    FROM before b
    JOIN (SELECT doc_id, SUM(ln) AS n_tokens FROM nsym GROUP BY doc_id) a
      USING (doc_id)
    """
)


@register("q_bpe_apply", oracle=_BPE_APPLY_ORACLE)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer INFERENCE, completing the BPE story next to q_bpe_train:
    learn the merge table (same loop, same corpus), apply it corpus-wide,
    and report the per-document tokenization statistics a data pipeline
    persists — word count, pre-merge symbol (char) count, post-merge token
    count, and the compression ratio. This is the operator that runs on
    EVERY training batch once the tokenizer is frozen; the trainer runs
    once.

    Determinism: counts are exact ints from the same greedy fold the
    trainer pins (one merge table for the whole corpus — the winners are
    the trainer's); compression is one IEEE division. Oracle: the shared
    REPLACE-chain CTEs (_bpe_ctes) aggregated per document.

    Shape at 100 TB: identical per-round dataflow to q_bpe_train (the
    merge loop IS the shared _bpe_learn); the apply-side aggregate is one
    map-side-combinable groupBy on doc_id over rows already co-partitioned
    by the fold's checkpoint — in a real deployment the merge table is a
    broadcast list and the whole apply pass is a single scan."""
    syms, _merges = _bpe_learn(spark, sf_dir, BPE_ROUNDS)
    agg = syms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n0").alias("n_syms"),
        F.sum(F.size("syms")).alias("n_tokens"),
    )
    return agg.select(
        "doc_id", "n_words", "n_syms", "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("n_syms")).alias("compression"),
    )


SPARSE_MAX_DF = 100  # inverted-index posting cap (the MAX_SHINGLE_DF rule)
SPARSE_COS_THRESHOLD = 0.5


@register(
    "q_tfidf_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    len AS (SELECT doc_id, SUM(c) AS n_toks FROM cnt GROUP BY doc_id),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM cnt GROUP BY tok
              HAVING COUNT(*) <= {SPARSE_MAX_DF}),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM cnt),
    w AS (
      SELECT c.doc_id, c.tok,
             CAST((CAST(c.c AS DOUBLE) / n_toks)
                  * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(12,8)) AS wt
      FROM cnt c JOIN dfreq USING (tok) JOIN len USING (doc_id) CROSS JOIN nd),
    norms AS (
      SELECT doc_id,
             CAST(CAST(SUM(wt * wt) AS VARCHAR) AS DOUBLE) AS norm2
      FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(CAST(SUM(a.wt * b.wt) AS VARCHAR) AS DOUBLE) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           dot / sqrt(na.norm2 * nb.norm2) AS cosine
    FROM dots JOIN norms na ON na.doc_id = doc_a
              JOIN norms nb ON nb.doc_id = doc_b
    WHERE dot / sqrt(na.norm2 * nb.norm2) >= {SPARSE_COS_THRESHOLD}
    """,
)
def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector near-dup pairs: cosine similarity in TF-IDF space via
    an INVERTED-INDEX self-join — the sparse counterpart of q_dedup_embed
    (dense) and q_dedup_ngram (set overlap). Terms with document
    frequency > SPARSE_MAX_DF are dropped from the index (the
    stop-shingle rule): common terms contribute little weight but
    quadratic join fan-out, so the cap is the scale contract, mirrored in
    the oracle.

    Determinism: tf·idf weights are per-row IEEE doubles (identical
    expression trees), then quantized to DECIMAL(12,8) BEFORE any
    cross-row sum — dots and norms are exact decimal reductions
    (numeric rule 1; same ulp-headroom tradeoff as q_lm_score).

    Shape at 100 TB: one tok-keyed self-join whose fan-out per posting
    list is <= SPARSE_MAX_DF^2, one (doc_a, doc_b) aggregate, one
    broadcast-or-shuffle join of the per-doc norms. No all-pairs join
    anywhere; candidate volume is sum_tok(df^2), the inverted-index
    bound."""
    with cached(_tfidf_counts(spark, sf_dir)) as cnt, cached(_tfidf_weights(cnt)) as w:
        return _tfidf_cosine(w).localCheckpoint(eager=True)


# q_tfidf_pairs' three lazy steps. The query caches the output of the
# first two; the plan-shape gate composes them uncached, because the
# query's eager localCheckpoint truncates lineage to a LogicalRDD, which
# can never contain a ResolvedHint.
def _tfidf_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, c): per-document token counts."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    return toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))


def _tfidf_weights(cnt: DataFrame) -> DataFrame:
    """(doc_id, tok, wt): decimal tf·idf weights over the df-capped
    vocabulary."""
    length = cnt.groupBy("doc_id").agg(F.sum("c").alias("n_toks"))
    dfreq = (
        cnt.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= SPARSE_MAX_DF)
    )
    nd = cnt.agg(F.countDistinct("doc_id").alias("n_docs"))
    wt = (
        (F.col("c").cast("double") / F.col("n_toks"))
        * F.log(F.col("n_docs").cast("double") / F.col("df"))
    ).cast("decimal(12,8)")
    # NO static broadcast hints on corpus-sized sides (VERDICT r05 #1):
    # dfreq (the df-capped vocabulary) and the per-doc norm tables below
    # grow with the corpus — a forced broadcast driver-collects them and
    # OOMs exactly when the operator matters. AQE converts these joins to
    # broadcast at runtime ONLY when the side actually fits (the r03
    # hot-shingle-list lesson). The sole remaining hint is the provably
    # 1-row n_docs scalar. Plan-gated by
    # tests/test_round6_ops.py::test_tfidf_pairs_no_static_broadcast_on_corpus_sized_sides.
    return (
        cnt.join(dfreq, "tok")
        .join(length, "doc_id")
        .crossJoin(F.broadcast(nd))
        .select("doc_id", "tok", wt.alias("wt"))
    )


def _tfidf_cosine(w: DataFrame) -> DataFrame:
    """(doc_a, doc_b, cosine) over the inverted-index self-join of ``w``,
    at or above SPARSE_COS_THRESHOLD."""
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wt") * F.col("wt")).cast("double").alias("norm2")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "tok", F.col("wt").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "tok", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("n2b"))
    cos = F.col("dot") / F.sqrt(F.col("n2a") * F.col("n2b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .where(F.col("cosine") >= SPARSE_COS_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Sampling and profiling operators (q_uniform_sample / q_embed_norm_stats /
# q_source_top_tokens / q_key_skew_profile).
# ---------------------------------------------------------------------------


def uniform_sample_k(df: DataFrame, k: int, key: str, salt: str = "usk") -> DataFrame:
    """Deterministic uniform k-sample without replacement: order by the
    md5 of (salt, key) and take k — equivalent in distribution to a
    reservoir sample, but retry/append-stable (the md5-threshold rule all
    sampling operators here follow) and executed as TakeOrderedAndProject
    (per-partition partial top-k, NO global sort — the same plan shape as
    q_topk, linear scan + tiny heap per task at any scale).

    CONTRACT: ``key`` must uniquely identify rows (a primary key). With
    duplicate key values the (md5, key) order has genuine ties and the
    boundary rows become arrival-order-dependent — exactly the
    instability this sampler exists to avoid.

    The future oracle twin is `ORDER BY md5('salt:' || key) LIMIT k` —
    md5 order is uniform over keys, so any k-prefix of it is a uniform
    k-subset."""
    skey = F.md5(
        F.encode(F.concat(F.lit(salt + ":"), F.col(key).cast("string")), "UTF-8")
    )
    # Derive a helper-column name guaranteed fresh: withColumn REPLACES an
    # existing column, so a caller column named like the helper would be
    # silently overwritten and then dropped from the returned sample.
    # Case-INSENSITIVE check: Spark resolves column names case-
    # insensitively by default, so '_USK_usk' would be clobbered by
    # '_usk_usk' even though the Python strings differ.
    sk = f"_usk_{salt}"
    lower = {c.lower() for c in df.columns}
    while sk.lower() in lower:
        sk += "_"
    return (
        df.withColumn(sk, skey)
        .orderBy(sk, key)
        .limit(k)
        .drop(sk)
    )


def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit per label: vector count, exact-decimal
    mean/min/max of the squared L2 norm, and degenerate-vector count
    (zero norm) — the pre-flight a similarity index build runs (a batch
    of zero or wildly-scaled vectors poisons cosine/IVF downstream).

    Determinism: element squares decimal-cast before the per-vector sum
    (the q_embed_quantize idiom) so norms are exact reductions; min/max
    over exact decimals; mean is one IEEE division of exact aggregates.

    Shape: one hash-aggregate Exchange on label (map-side combinable);
    norms are codegen aggregate-HOF folds — no Python, no shuffle before
    the agg."""
    return _embed_norm_stats_frame(table(spark, sf_dir, "embeddings"))


def _embed_norm_stats_frame(e: DataFrame) -> DataFrame:
    # aggregate() over a NULL array yields NULL; COALESCE it to the fold's
    # init value so a NULL embedding lands at norm 0 — counted as a
    # degenerate vector (n_zero) and in every aggregate, exactly like the
    # oracle's COALESCEd empty-UNNEST SUM. Without this, Spark would skip
    # NULL rows in min/max/n_zero while still counting them in n_vecs —
    # a divergence the fixtures (no NULL embeddings) never exercised.
    norm2 = F.coalesce(
        F.expr(
            "aggregate(embedding, CAST(0 AS DECIMAL(28,10)),"
            " (acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)"
            "                             AS DECIMAL(28,10)) AS DECIMAL(28,10)))"
        ),
        F.lit(0).cast("decimal(28,10)"),
    )
    v = e.select("label", norm2.alias("n2"))
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum("n2").cast("double") / F.count(F.lit(1))).alias("mean_norm2"),
        F.min("n2").cast("double").alias("min_norm2"),
        F.max("n2").cast("double").alias("max_norm2"),
        F.sum(F.when(F.col("n2") == 0, 1).otherwise(0)).alias("n_zero"),
    )


# Oracle twins for the sampling and profiling operators above (parity:
# tests/test_round5_ops.py).
UNIFORM_SAMPLE_K_ORACLE = """
    SELECT doc_id, source FROM documents
    ORDER BY md5('usk:' || CAST(doc_id AS VARCHAR)), doc_id
    LIMIT {k}
    """

EMBED_NORM_STATS_ORACLE = """
    WITH v AS (
      SELECT label,
             -- COALESCE: an EMPTY embedding must land at norm 0 exactly
             -- like Spark's fold init value (it IS a degenerate vector —
             -- the case n_zero exists to catch); DuckDB's scalar SUM
             -- over an empty UNNEST is NULL and would silently drop it
             COALESCE((SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                       AS DECIMAL(28,10)))
                       FROM UNNEST(embedding) AS t(x)),
                      CAST(0 AS DECIMAL(28,10))) AS n2
      FROM embeddings)
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(CAST(SUM(n2) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_norm2,
           CAST(CAST(MIN(n2) AS VARCHAR) AS DOUBLE) AS min_norm2,
           CAST(CAST(MAX(n2) AS VARCHAR) AS DOUBLE) AS max_norm2,
           CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM v GROUP BY label
    """


SOURCE_TOP_TOKENS_N = 5


def source_top_tokens(spark: SparkSession, sf_dir: str, n: int = SOURCE_TOP_TOKENS_N) -> DataFrame:
    """Per-source heavy hitters: the n most frequent whitespace tokens of
    each corpus source with exact counts — the boilerplate detector a
    per-source quality review starts from (a navigation token dominating
    one source and absent elsewhere is template residue).

    Determinism: exact counts; rank ties break on token asc.

    Shape: explode -> map-side-combined hash agg on (source, token) ->
    TWO-LEVEL rank (r09): level 1 keeps the top n within every
    (source, input-partition) slice of the counted pairs, so the
    per-source window sorts at most partitions*n rows even when one
    source's vocabulary is corpus-sized (the bounded-key window trap);
    never a global sort. At 100 TB the token agg is the only full-volume
    shuffle and the alphabet-bounded combine does most of it map-side."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).where(F.length("tok") > 0)
    cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("source").orderBy(F.col("cnt").desc(), "tok")
    w1 = W.partitionBy("source", "_pid").orderBy(F.col("cnt").desc(), "tok")
    local = (
        cnt.withColumn("_pid", F.spark_partition_id())
        .withColumn("rnk", F.row_number().over(w1))
        .where(F.col("rnk") <= n)
        .drop("rnk", "_pid")
    )
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= n)
        .select("source", F.col("rnk").cast("int").alias("rnk"), "tok", "cnt")
    )


SOURCE_TOP_TOKENS_ORACLE = f"""
    WITH toks AS (
      SELECT source, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    cnt AS (
      SELECT source, tok, COUNT(*) AS cnt FROM toks
      WHERE length(tok) > 0 GROUP BY source, tok),
    r AS (
      SELECT source, tok, cnt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, tok) AS rnk
      FROM cnt)
    SELECT source, CAST(rnk AS INT) AS rnk, tok, cnt
    FROM r WHERE rnk <= {SOURCE_TOP_TOKENS_N}
    """


KEY_SKEW_TOPN = 10


def key_skew_profile(spark: SparkSession, sf_dir: str, topn: int = KEY_SKEW_TOPN) -> DataFrame:
    """Join-key skew diagnosis over lineitem.l_suppkey (the fact side's
    supplier fan-in): the topn hottest keys with exact counts plus the
    per-row skew context (total rows, distinct keys, mean rows/key) — the
    numbers that decide between a plain shuffle join, AQE skew split, and
    explicit salting BEFORE the join runs, instead of after it spills.

    Determinism: exact bigint counts; hot-key ties break on key asc; the
    mean is one IEEE division of exact aggregates.

    Shape: one hash agg on the key (map-side combined), TakeOrdered
    top-n, and a broadcast of the 1-row global stats — never a global
    sort, never a second scan."""
    li = table(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("key"))
    cnt = li.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    glob = cnt.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mean_rows_per_key"),
    )
    top = cnt.orderBy(F.col("cnt").desc(), "key").limit(topn)
    return top.crossJoin(F.broadcast(glob)).select(
        "key", "cnt", "n_rows", "n_keys", "mean_rows_per_key",
        (F.col("cnt").cast("double") / F.col("mean_rows_per_key")).alias("skew_factor"),
    )


KEY_SKEW_PROFILE_ORACLE = f"""
    WITH cnt AS (
      SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
    gstats AS (
      SELECT SUM(cnt) AS n_rows, COUNT(*) AS n_keys,
             CAST(CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS DOUBLE)
               AS mean_rows_per_key
      FROM cnt)
    SELECT key, cnt,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           mean_rows_per_key,
           CAST(cnt AS DOUBLE) / mean_rows_per_key AS skew_factor
    FROM cnt, gstats
    ORDER BY cnt DESC, key LIMIT {KEY_SKEW_TOPN}
    """


# ---------------------------------------------------------------------------
# Registration of the sampling and profiling operators; their oracles are
# parity-proven at sf0.01 by tests/test_round5_ops.py.
# ---------------------------------------------------------------------------

UNIFORM_SAMPLE_REGISTERED_K = 100


@register(
    "q_uniform_sample",
    oracle=UNIFORM_SAMPLE_K_ORACLE.format(k=UNIFORM_SAMPLE_REGISTERED_K),
)
def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of uniform_sample_k: a deterministic uniform
    100-doc sample of the corpus keyed on doc_id (primary key, so the
    md5 order is tie-free per the sampler contract)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return uniform_sample_k(docs, UNIFORM_SAMPLE_REGISTERED_K, "doc_id")


register("q_embed_norm_stats", oracle=EMBED_NORM_STATS_ORACLE)(embed_norm_stats)
register("q_source_top_tokens", oracle=SOURCE_TOP_TOKENS_ORACLE)(source_top_tokens)
register("q_key_skew_profile", oracle=KEY_SKEW_PROFILE_ORACLE)(key_skew_profile)


# ---------------------------------------------------------------------------
# round-7 wave 1 — each op ships with a DuckDB twin parity-tested by
# tests/test_round6_ops.py.
# ---------------------------------------------------------------------------


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, the number of shared distinct shingles plus Jaccard and
    containment over the sources' shingle SETS. q_decontam answers
    "is my eval set in the training data"; this answers "which SOURCES
    feed each other" — the scraped-site-mirrors-another-site signal that
    decides source-level dedup ORDER before any per-document pass runs.

    Determinism: exact bigint set sizes; two IEEE divisions of exact
    aggregates (numeric rule 2); pairs keyed source_a < source_b.

    Shape at 100 TB: the (source, shingle) distinct is one shuffle whose
    combine collapses per-doc repeats map-side — computed ONCE (cached,
    the q_dedup_recall_eval shared-scan rule: the sizes leg and both
    sides of the pair join otherwise re-run the corpus scan, tripling
    the dominant cost); the pair join fans out each shingle row at most
    n_sources times (sources are a bounded catalog — hundreds, not
    corpus-scale), so candidate volume is O(distinct shingles x sources),
    never doc-pair-shaped. No broadcast hints: the per-source size table
    is source-cardinality and AQE broadcasts it at runtime."""
    with cached(_source_overlap_ss(spark, sf_dir)) as ss:
        return _source_overlap_frame(ss).localCheckpoint(eager=True)


def _source_overlap_ss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAZY (source, shingle) distinct frame — the shared scan. Split out
    so the plan-shape gate can drive the exact production frames without
    re-deriving them (the public fn caches this and checkpoints the
    result, truncating its plan to a LogicalRDD)."""
    sh = _shingles_df(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    return sh.join(src, "doc_id").select("source", "shingle").distinct()


def _source_overlap_frame(ss: DataFrame) -> DataFrame:
    """Pair matrix over a (source, shingle) distinct frame — split out so
    the plan-shape gate inspects the REAL plan (a localCheckpoint in the
    public fn truncates lineage to a LogicalRDD)."""
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = ss.select(F.col("source").alias("source_a"), "shingle")
    b = ss.select(F.col("source").alias("source_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a", "source_b", "n_common", "n_a", "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
            (
                F.col("n_common").cast("double") / F.least("n_a", "n_b")
            ).alias("containment"),
        )
    )


SOURCE_OVERLAP_ORACLE = (
    "WITH "
    + _SHINGLES_SQL
    + """,
    ss AS (
      SELECT DISTINCT d.source, s.shingle
      FROM shingles s JOIN documents d USING (doc_id)),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY source),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, n_common,
           za.n_sh AS n_a, zb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) AS jaccard,
           CAST(n_common AS DOUBLE) / LEAST(za.n_sh, zb.n_sh) AS containment
    FROM common
    JOIN sizes za ON source_a = za.source
    JOIN sizes zb ON source_b = zb.source
    """
)


def token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency-of-frequency spectrum: how many distinct
    tokens fall in each power-of-two occurrence bucket [2^k, 2^(k+1)),
    with total occurrences per bucket — the Zipf/Heaps health check a
    tokenizer-training or vocab-pruning run starts from (a corpus whose
    singleton bucket balloons is OCR/boilerplate garbage; one whose head
    buckets dominate is template spam).

    Determinism: the bucket index is length(bin(count)) - 1 — an exact
    integer floor(log2) via the binary-string length, bit-identical in
    both engines (no IEEE log anywhere); counts/sums exact bigints.

    Shape at 100 TB: first agg on token is THE full-volume shuffle and
    combines map-side (token counts are additive); the spectrum agg is
    ~64 buckets — a broadcast-sized result from a second map-side
    combine. No windows, no sorts."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok")).where(
        F.length("tok") > 0
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    bucket = (F.length(F.bin(F.col("c"))) - 1).cast("int")
    return (
        cnt.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("n_occurrences"),
        )
        .select(
            "bucket",
            # SQL-function form: the Python shiftleft() helper only takes
            # an int literal for the shift amount
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket)").alias("lo"),
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1").alias("hi"),
            "n_tokens",
            "n_occurrences",
        )
    )


TOKEN_FREQ_SPECTRUM_ORACLE = """
    WITH toks AS (
      SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    cnt AS (
      SELECT tok, COUNT(*) AS c FROM toks WHERE length(tok) > 0 GROUP BY tok)
    SELECT CAST(length(bin(c)) - 1 AS INT) AS bucket,
           CAST(1 AS BIGINT) << (length(bin(c)) - 1) AS lo,
           (CAST(1 AS BIGINT) << length(bin(c))) - 1 AS hi,
           COUNT(*) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM cnt GROUP BY 1, 2, 3
    """


N_SHARDS = 8


def shard_plan(spark: SparkSession, sf_dir: str, n_shards: int = N_SHARDS) -> DataFrame:
    """Deterministic output-shard assignment audit: every document lands
    in shard = md5(doc_id) mod n_shards (retry/append-stable, the repo's
    md5-routing rule), and the plan reports per-shard document count,
    character volume, whitespace-token volume, and a skew factor vs the
    mean shard byte load — the pre-flight a 100 TB training-shard WRITE
    runs before committing to a layout (a hot shard serializes the whole
    job's tail).

    Determinism: md5-mod routing; exact bigint sums; skew is one IEEE
    division of exact aggregates. Token counts use the same
    length-filtered whitespace convention as token_freq_spectrum.

    Shape at 100 TB: one map-side-combined hash agg on the shard id
    (n_shards cells), one 1-row global broadcast for the mean — the scan
    is the only full-volume pass, and the eventual shard WRITE reuses
    the same routing expression as a repartition key, so the audit and
    the write see identical placement."""
    docs = table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")), "UTF-8")),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        % n_shards
    ).cast("int")
    toks = F.filter(_tokens(F.col("text")), lambda x: F.length(x) > 0)
    per = (
        docs.select(
            shard.alias("shard"),
            F.length("text").alias("chars"),
            F.size(toks).alias("toks"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").alias("n_chars"),
            F.sum("toks").alias("n_tokens"),
        )
    )
    glob = per.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars")
    )
    return per.crossJoin(F.broadcast(glob)).select(
        "shard", "n_docs", "n_chars", "n_tokens",
        (F.col("n_chars").cast("double") / F.col("mean_chars")).alias("skew_factor"),
    )


SHARD_PLAN_ORACLE = f"""
    WITH per AS (
      SELECT CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {N_SHARDS} AS INT) AS shard,
             COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> length(x) > 0))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    gstats AS (
      SELECT CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mean_chars
      FROM per)
    SELECT shard, n_docs, n_chars, n_tokens,
           CAST(n_chars AS DOUBLE) / mean_chars AS skew_factor
    FROM per, gstats
    """


HAPAX_TOPN = 20


def hapax_docs(spark: SparkSession, sf_dir: str, topn: int = HAPAX_TOPN) -> DataFrame:
    """Corpus-hapax concentration per document: for each doc, how many of
    its token occurrences are corpus-wide hapaxes (tokens occurring
    exactly once in the whole corpus), and the hapax ratio — the
    OCR-garbage / mojibake detector (a clean document's tokens recur
    across the corpus; a scanned-noise document is wall-to-wall unique
    strings). Returns the topn docs by ratio (ties: doc_id asc).

    Determinism: exact bigint counts, one IEEE division, total order
    (ratio desc, doc_id) with a bounded limit.

    Shape at 100 TB: the (doc, token) agg is the full-volume shuffle
    (map-side combinable), computed ONCE — cached, because the global
    token counts, the hapax join leg and the per-doc totals all reuse it
    and would otherwise each re-run the corpus explode (the
    q_dedup_recall_eval shared-scan rule); a corpus hapax lives in
    exactly one document, so the hapax join's output is bounded by the
    hapax count and never fans out; the topn is TakeOrdered (partial
    per-partition top-k, no global sort)."""
    with cached(_hapax_tokc(spark, sf_dir)) as tokc:
        return _hapax_docs_frame(tokc, topn).localCheckpoint(eager=True)


def _hapax_tokc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAZY (doc_id, tok, c) aggregate — the shared full-volume scan,
    split out so the plan-shape gate drives the same frame production
    uses instead of a hand-copied rebuild that could drift."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _hapax_docs_frame(tokc: DataFrame, topn: int) -> DataFrame:
    """Hapax rollup over a (doc_id, tok, c) frame — split out so the
    plan-shape gate sees the pre-checkpoint plan."""
    glob = tokc.groupBy("tok").agg(F.sum("c").alias("g"))
    hap = (
        tokc.join(glob.where(F.col("g") == 1).select("tok"), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hapax"))
    )
    dlen = tokc.groupBy("doc_id").agg(F.sum("c").alias("n_tokens"))
    return (
        dlen.join(hap, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
            (
                F.coalesce("n_hapax", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("hapax_ratio"),
        )
        .orderBy(F.col("hapax_ratio").desc(), "doc_id")
        .limit(topn)
    )


HAPAX_DOCS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    tokc AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks
      WHERE length(tok) > 0 GROUP BY doc_id, tok),
    gtok AS (SELECT tok, SUM(c) AS g FROM tokc GROUP BY tok),
    hap AS (
      SELECT t.doc_id, COUNT(*) AS n_hapax
      FROM tokc t JOIN gtok USING (tok) WHERE g = 1 GROUP BY t.doc_id),
    dlen AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens
             FROM tokc GROUP BY doc_id)
    SELECT d.doc_id, d.n_tokens,
           CAST(COALESCE(h.n_hapax, 0) AS BIGINT) AS n_hapax,
           CAST(COALESCE(h.n_hapax, 0) AS DOUBLE) / d.n_tokens AS hapax_ratio
    FROM dlen d LEFT JOIN hap h USING (doc_id)
    ORDER BY hapax_ratio DESC, d.doc_id LIMIT {HAPAX_TOPN}
    """


QF_MIN_CHARS = 100
QF_LANGS = ("en", "es", "de", "fr")
QF_MIN_ALPHA = 0.82
QF_BLOCK_CHARS = 64  # q_dedup_prefix's block key


def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-yield funnel: the survivor count after each curation
    stage — min-length, language allowlist, alphabetic-ratio quality
    gate, then block-key dedup (first doc per 64-char prefix block) —
    with per-stage drop counts and cumulative yield. This is the report
    every corpus-curation run ends with: WHERE the tokens went.

    Determinism: the first three stages are per-row predicates folded
    into ONE conditional aggregation (exact bigint sums; the alpha ratio
    is an exact-int division, identical expression both engines); the
    dedup stage's survivor is rank-1 by doc_id within the block (total
    order). Yields are IEEE divisions of exact counts.

    Shape at 100 TB: one scan + one 1-row conditional agg for stages
    0-3; the dedup stage adds one block-key Exchange for the rank — the
    same shuffle the actual dedup pass would do, so the funnel costs
    what one filter pass costs. The 5-row result assembles from two
    1-row frames (broadcast crossJoin of scalar aggregates)."""
    docs = table(spark, sf_dir, "documents")
    alpha = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.col("n_chars")
    )
    f1 = F.col("n_chars") >= QF_MIN_CHARS
    f2 = F.col("lang").isin(*QF_LANGS)
    f3 = alpha >= QF_MIN_ALPHA
    base = docs.select(
        "doc_id",
        F.substring("text", 1, QF_BLOCK_CHARS).alias("blk"),
        f1.alias("f1"), (f1 & f2).alias("f12"), (f1 & f2 & f3).alias("f123"),
    )
    s03 = base.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum(F.col("f1").cast("bigint")).alias("s1"),
        F.sum(F.col("f12").cast("bigint")).alias("s2"),
        F.sum(F.col("f123").cast("bigint")).alias("s3"),
    )
    w = W.partitionBy("blk").orderBy("doc_id")
    s4 = (
        base.where("f123")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .agg(F.count(F.lit(1)).alias("s4"))
    )
    stacked = (
        s03.crossJoin(F.broadcast(s4))
        .select(
            F.expr(
                "stack(5,"
                " 0, 'all',         s0, s0,"
                " 1, 'min_len',     s1, s0,"
                " 2, 'lang',        s2, s1,"
                " 3, 'quality',     s3, s2,"
                " 4, 'dedup_block', s4, s3) AS (stage, label, n_docs, n_prev)"
            ),
            F.col("s0").alias("_tot"),
        )
    )
    return stacked.select(
        F.col("stage").cast("int").alias("stage"),
        "label",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (F.col("n_prev") - F.col("n_docs")).cast("bigint").alias("n_dropped"),
        (F.col("n_docs").cast("double") / F.col("_tot")).alias("cum_yield"),
    )


QUALITY_FILTER_FUNNEL_ORACLE = f"""
    WITH f AS (
      SELECT doc_id, substr(text, 1, {QF_BLOCK_CHARS}) AS blk,
             (n_chars >= {QF_MIN_CHARS}) AS f1,
             (n_chars >= {QF_MIN_CHARS}
              AND lang IN ('en','es','de','fr')) AS f12,
             (n_chars >= {QF_MIN_CHARS}
              AND lang IN ('en','es','de','fr')
              AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS DOUBLE) / n_chars >= {QF_MIN_ALPHA}) AS f123
      FROM documents),
    s03 AS (
      SELECT COUNT(*) AS s0,
             CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN f12 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN f123 THEN 1 ELSE 0 END) AS BIGINT) AS s3
      FROM f),
    s4 AS (
      SELECT COUNT(*) AS s4 FROM (
        SELECT ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
        FROM f WHERE f123) WHERE rn = 1),
    rows_ AS (
      SELECT 0 AS stage, 'all' AS label, s0 AS n_docs, s0 AS n_prev, s0 AS tot FROM s03, s4
      UNION ALL SELECT 1, 'min_len', s1, s0, s0 FROM s03, s4
      UNION ALL SELECT 2, 'lang', s2, s1, s0 FROM s03, s4
      UNION ALL SELECT 3, 'quality', s3, s2, s0 FROM s03, s4
      UNION ALL SELECT 4, 'dedup_block', s4, s3, s0 FROM s03, s4)
    SELECT CAST(stage AS INT) AS stage, label,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_prev - n_docs AS BIGINT) AS n_dropped,
           CAST(n_docs AS DOUBLE) / tot AS cum_yield
    FROM rows_
    """


def dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication flow: for every source pair, how many
    CANDIDATE clone pairs (documents sharing a 64-char prefix block —
    the q_dedup_prefix blocking family) connect them, and across how
    many distinct blocks. q_source_stats says which sources carry dups;
    this says which sources duplicate EACH OTHER — the mirror-site
    detector that decides cross-source dedup order.

    Determinism: pair counts computed by COMBINATORIAL FORMULA from per-
    (block, source) counts — n_a*n_b for cross pairs, n*(n-1) DIV 2
    within a source — exact bigints, never enumerated; pairs keyed
    source_a <= source_b.

    Shape at 100 TB: one (block, source) hash agg (map-side combinable),
    then a self-join whose fan-out per block is bounded by the SOURCE
    CATALOG size, not doc count — a boilerplate block with 10^6 clones
    contributes rows proportional to its distinct sources. No pair
    enumeration anywhere (the formula replaces it), so clone-clique
    blow-up is arithmetic, not join fan-out."""
    docs = table(spark, sf_dir, "documents")
    per = (
        docs.select(F.substring("text", 1, QF_BLOCK_CHARS).alias("blk"), "source")
        .groupBy("blk", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = per.select("blk", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = per.select("blk", F.col("source").alias("source_b"), F.col("c").alias("cb"))
    pairs = (
        a.join(b, "blk")
        .where(F.col("source_a") <= F.col("source_b"))
        .select(
            "blk", "source_a", "source_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                F.expr("CAST(ca * (ca - 1) DIV 2 AS BIGINT)"),
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .alias("n_pairs"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.sum("n_pairs").alias("n_dup_pairs"),
            F.count_distinct(
                F.when(F.col("n_pairs") > 0, F.col("blk"))
            ).alias("n_blocks"),
        )
        .where(F.col("n_dup_pairs") > 0)
    )


DUP_SOURCE_MATRIX_ORACLE = f"""
    WITH per AS (
      SELECT substr(text, 1, {QF_BLOCK_CHARS}) AS blk, source, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    pairs AS (
      SELECT a.blk, a.source AS source_a, b.source AS source_b,
             CASE WHEN a.source = b.source
                  THEN CAST(a.c * (a.c - 1) // 2 AS BIGINT)
                  ELSE CAST(a.c * b.c AS BIGINT) END AS n_pairs
      FROM per a JOIN per b
        ON a.blk = b.blk AND a.source <= b.source)
    SELECT source_a, source_b,
           CAST(SUM(n_pairs) AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(DISTINCT CASE WHEN n_pairs > 0 THEN blk END) AS BIGINT)
             AS n_blocks
    FROM pairs GROUP BY 1, 2
    HAVING SUM(n_pairs) > 0
    """


def pii_source_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure report: document counts, documents with
    ANY hit, and total hits per pattern family (email / phone /
    long-digit-run — q_pii_redact's exact patterns, imported so the
    audit can never drift from the redactor). This is the
    source-inclusion decision input: a source whose pii_doc_rate is high
    gets redacted-or-dropped BEFORE per-document processing spends a
    pass on it.

    Determinism: exact bigint counts over identical RE2∩Java-dialect
    patterns in both engines; one IEEE division.

    Shape at 100 TB: one scan with per-row regexp counts (codegen,
    no shuffle) + one low-cardinality source hash agg, map-side
    combinable — the cheapest possible full-corpus audit shape."""
    from hadoop_distexec_spark.operators.pipeline import (
        _EMAIL_RE,
        _LONGNUM_RE,
        _PHONE_RE,
    )

    docs = table(spark, sf_dir, "documents")
    em = F.regexp_count("text", F.lit(_EMAIL_RE))
    ph = F.regexp_count("text", F.lit(_PHONE_RE))
    ln = F.regexp_count("text", F.lit(_LONGNUM_RE))
    per = docs.select(
        "source",
        em.alias("em"), ph.alias("ph"), ln.alias("ln"),
        ((em + ph + ln) > 0).cast("bigint").alias("hit"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("hit").alias("n_docs_with_pii"),
        F.sum("em").cast("bigint").alias("n_emails"),
        F.sum("ph").cast("bigint").alias("n_phones"),
        F.sum("ln").cast("bigint").alias("n_longnums"),
        (F.sum("hit").cast("double") / F.count(F.lit(1))).alias("pii_doc_rate"),
    )


def _pii_source_audit_oracle() -> str:
    from hadoop_distexec_spark.operators.pipeline import (
        _EMAIL_RE,
        _LONGNUM_RE,
        _PHONE_RE,
    )

    return f"""
    WITH per AS (
      SELECT source,
             LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS em,
             LEN(regexp_extract_all(text, '{_PHONE_RE}')) AS ph,
             LEN(regexp_extract_all(text, '{_LONGNUM_RE}')) AS ln
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN em + ph + ln > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_pii,
           CAST(SUM(em) AS BIGINT) AS n_emails,
           CAST(SUM(ph) AS BIGINT) AS n_phones,
           CAST(SUM(ln) AS BIGINT) AS n_longnums,
           CAST(SUM(CASE WHEN em + ph + ln > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS pii_doc_rate
    FROM per GROUP BY source
    """


def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding distribution audit: count, exact-decimal
    mean, min and max of each coordinate across the corpus — the
    feature-drift / dead-dimension detector (a dimension whose range
    collapses to a constant carries no information; one whose scale
    dwarfs the rest distorts unnormalized distance). Complements
    embed_norm_stats (per-vector) with the transposed, per-coordinate
    view an index build checks before choosing a metric.

    Determinism: elements decimal-cast before the cross-row sum (the
    embed_norm_stats idiom); min/max over exact decimals; mean is one
    IEEE division; DuckDB decimal->double goes through VARCHAR (the
    numeric.py double-rounding rule).

    Shape at 100 TB: posexplode fans each vector to its (dim, x) pairs
    and the agg keys on the BOUNDED dimension index (64 cells) — a pure
    map-side-combine aggregation; no windows, no joins, one Exchange of
    64 rows per map task."""
    e = table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    ex = e.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").cast("decimal(28,10)").alias("xd")
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("xd").cast("double") / F.count(F.lit(1))).alias("mean_x"),
        F.min("xd").cast("double").alias("min_x"),
        F.max("xd").cast("double").alias("max_x"),
    )


EMBED_DIM_STATS_ORACLE = """
    WITH ex AS (
      -- two UNNESTs in one SELECT zip positionally in DuckDB (a lateral
      -- range() over a column is not supported)
      SELECT UNNEST(range(len(embedding))) AS dim,
             CAST(CAST(UNNEST(embedding) AS DOUBLE) AS DECIMAL(28,10)) AS xd
      FROM embeddings
      WHERE embedding IS NOT NULL)
    SELECT CAST(dim AS INT) AS dim,
           COUNT(*) AS n,
           CAST(CAST(SUM(xd) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_x,
           CAST(CAST(MIN(xd) AS VARCHAR) AS DOUBLE) AS min_x,
           CAST(CAST(MAX(xd) AS VARCHAR) AS DOUBLE) AS max_x
    FROM ex GROUP BY dim
    """


SIM_QUANT_TOPK = 10


def sim_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of int8-QUANTIZED brute-force cosine search vs the
    exact float ranking (q_sim_topk's definition) — the number that
    decides whether the 4x-smaller quantized index (q_embed_quantize's
    scheme: symmetric per-vector absmax int8) is good enough to serve.
    A quantized ANN tier without a measured recall is the same
    untrustworthy sketch the dedup/ANN recall harnesses exist to prevent.

    KEY IDENTITY: per-vector scales CANCEL in cosine —
    cos(u', v') = sum(qu*qv) / sqrt(sum(qu^2) * sum(qv^2)) — so the
    quantized ranking is PURE INTEGER arithmetic (|q| <= 127, 64 dims:
    dots bounded by ~10^6, exact in BIGINT in both engines) followed by
    one IEEE sqrt+division. No decimal machinery needed: the integer dot
    is exact by construction, which also makes the quantized tier CHEAP
    (int ops, no decimal casts) — exactly why production would serve it.

    Determinism: round() ties-away in both engines (q_embed_quantize);
    rankings tie-break on candidate id; recall is one IEEE division of
    exact counts.

    Shape at 100 TB: same as q_sim_topk (queries broadcast against the
    corpus scan, per-partition partial ranking) but the scan reads int8
    arrays at 1/4 the bytes and the per-pair kernel is an integer
    multiply-add — the measured-recall twin of the production memory
    claim."""
    # The exact baseline is q_sim_topk, whose registered semantics fix
    # k=10 (Spark filter and oracle alike) — SIM_QUANT_TOPK only drives
    # the quantized side and the oracle's exact set, so any other value
    # would silently measure "exact top-10 found within quant top-k"
    # instead of recall@k. Guard the coupling until the baseline k is
    # itself parameterized.
    assert SIM_QUANT_TOPK == 10, "exact baseline (q_sim_topk) is fixed at k=10"
    e = table(spark, sf_dir, "embeddings")
    e = e.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    amax = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    qe = (
        e.select("vec_id", "embedding", amax.alias("amax"))
        .filter(F.col("amax") > 0)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") / (F.col("amax") / 127.0)).cast("long"),
            ).alias("qarr"),
        )
        .select(
            "vec_id",
            "qarr",
            F.aggregate(
                "qarr", F.lit(0).cast("long"), lambda acc, v: acc + v * v
            ).alias("qn2"),
        )
    )
    qq = qe.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("qarr").alias("q_qarr"), F.col("qn2").alias("q_qn2")
    )
    idot = F.aggregate(
        F.zip_with("q_qarr", "qarr", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qcos = idot.cast("double") / F.sqrt((F.col("q_qn2") * F.col("qn2")).cast("double"))
    w = W.partitionBy("q_id").orderBy(F.col("qcos").desc(), F.col("c_id"))
    quant_top = (
        qe.crossJoin(F.broadcast(qq))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), qcos.alias("qcos"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= SIM_QUANT_TOPK)
    )
    exact_top = q_sim_topk(spark, sf_dir).select("q_id", "c_id")
    hits = exact_top.join(quant_top.select("q_id", "c_id"), ["q_id", "c_id"])
    per_q = exact_top.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
    nh = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        per_q.join(nh, "q_id", "left")
        .select(
            "q_id",
            F.col("k").cast("int").alias("k"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("k")).alias("recall"),
        )
    )


SIM_QUANTIZED_RECALL_ORACLE = f"""
    WITH {_EXACT_TOPK_CTE},
    qv AS (
      SELECT vec_id, embedding,
             (SELECT MAX(ABS(CAST(x AS DOUBLE))) FROM UNNEST(embedding) t(x))
               AS amax
      FROM embeddings),
    qe AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS BIGINT))
               AS qarr
      FROM qv WHERE amax > 0),
    qn AS (
      SELECT vec_id, qarr,
             (SELECT CAST(SUM(v * v) AS BIGINT) FROM UNNEST(qarr) t(v)) AS qn2
      FROM qe),
    qq AS (SELECT vec_id AS q_id, qarr AS q_qarr, qn2 AS q_qn2
           FROM qn WHERE vec_id < 5),
    qp AS (
      SELECT q_id, c.vec_id AS c_id,
             (SELECT CAST(SUM(a * b) AS BIGINT)
              FROM (SELECT UNNEST(q_qarr) AS a, UNNEST(c.qarr) AS b))
               AS idot,
             q_qn2, c.qn2 AS c_qn2
      FROM qq CROSS JOIN qn c WHERE c.vec_id <> q_id),
    qr AS (
      SELECT q_id, c_id,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY CAST(idot AS DOUBLE)
                        / SQRT(CAST(q_qn2 * c_qn2 AS DOUBLE)) DESC, c_id)
               AS rnk
      FROM qp),
    ex AS (SELECT q_id, c_id FROM r WHERE rnk <= {SIM_QUANT_TOPK}),
    hits AS (
      SELECT e.q_id, COUNT(*) AS n_hits
      FROM ex e JOIN qr ON qr.q_id = e.q_id AND qr.c_id = e.c_id
                       AND qr.rnk <= {SIM_QUANT_TOPK}
      GROUP BY e.q_id),
    perq AS (SELECT q_id, COUNT(*) AS k FROM ex GROUP BY q_id)
    SELECT p.q_id, CAST(p.k AS INT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / p.k AS recall
    FROM perq p LEFT JOIN hits h USING (q_id)
    """


def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer FERTILITY audit: tokens/word and chars/token
    of the trained BPE tokenizer (q_bpe_train's merge table, q_bpe_apply's
    fold) aggregated by corpus source. Fertility is the standard
    tokenizer-quality metric a data pipeline tracks per source — a source
    whose fertility is far above the corpus norm is mis-tokenized
    (wrong script, boilerplate markup, OCR noise) and inflates its
    effective training cost per byte; chars/token is the compression the
    frozen tokenizer actually achieves on that source.

    Determinism: all five counts are exact BIGINTs from the same greedy
    fold q_bpe_apply pins (hash-green); fertility and chars_per_token are
    one IEEE division each of exact aggregates. Docs with no words drop
    identically in both engines (the w0 length>=1 rule).

    Built ON q_bpe_apply (not a re-derivation): the per-doc tokenization
    aggregate exists exactly once in each engine — here via the
    registered operator, in SQL via the shared _BPE_PER_DOC_CTES — so a
    change to the fold or the w0 rule can never desynchronize the audit
    from the witnessed operator.

    Shape at 100 TB: the merge loop IS the shared _bpe_learn (one
    explode->agg shuffle + 1-row winner broadcast per round); the audit
    adds q_bpe_apply's map-side-combinable per-doc agg, one equi-join to
    the documents scan pruned to (doc_id, source) — hint-free, AQE-sized
    — and a final per-source agg over a source-bounded domain. No new
    full-volume shuffle beyond the doc-id join."""
    per_doc = q_bpe_apply(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    agg = per_doc.join(src, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_syms").alias("n_syms"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return agg.select(
        "source", "n_docs", "n_words", "n_syms", "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("n_words")).alias("fertility"),
        (F.col("n_syms").cast("double") / F.col("n_tokens")).alias("chars_per_token"),
    )


TOKEN_FERTILITY_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_ctes(BPE_ROUNDS))
    + _BPE_PER_DOC_CTES
    + """,
    per_doc AS (
      SELECT b.doc_id, b.n_words, b.n_syms, a.n_tokens
      FROM before b
      JOIN (SELECT doc_id, SUM(ln) AS n_tokens FROM nsym GROUP BY doc_id) a
        USING (doc_id))
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_words) AS BIGINT) AS n_words,
           CAST(SUM(p.n_syms) AS BIGINT) AS n_syms,
           CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(p.n_tokens) AS DOUBLE) / SUM(p.n_words) AS fertility,
           CAST(SUM(p.n_syms) AS DOUBLE) / SUM(p.n_tokens) AS chars_per_token
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.source
    """
)


# ---------------------------------------------------------------------------
# round-7 registration of the r06-prepped APIs: the oracles above are
# parity-proven at sf0.01 by tests/test_round6_ops.py.
# ---------------------------------------------------------------------------

register("q_source_overlap", oracle=SOURCE_OVERLAP_ORACLE)(source_overlap)

register("q_token_freq_spectrum", oracle=TOKEN_FREQ_SPECTRUM_ORACLE)(
    token_freq_spectrum
)

register("q_shard_plan", oracle=SHARD_PLAN_ORACLE)(shard_plan)

register("q_hapax_docs", oracle=HAPAX_DOCS_ORACLE)(hapax_docs)

register("q_quality_filter_funnel", oracle=QUALITY_FILTER_FUNNEL_ORACLE)(
    quality_filter_funnel
)

register("q_dup_source_matrix", oracle=DUP_SOURCE_MATRIX_ORACLE)(dup_source_matrix)

# q_pii_source_audit registers at the end of operators/pipeline.py: its
# oracle interpolates the redactor's regexes, and building it here at
# import time would re-import the partially initialized pipeline module
# (pipeline -> llmops -> pipeline cycle).

register("q_embed_dim_stats", oracle=EMBED_DIM_STATS_ORACLE)(embed_dim_stats)

register("q_sim_quantized_recall", oracle=SIM_QUANTIZED_RECALL_ORACLE)(
    sim_quantized_recall
)

register("q_token_fertility", oracle=TOKEN_FERTILITY_ORACLE)(token_fertility)
# fold/w0 edits land in q_bpe_apply's own fingerprint; declaring it here
# propagates that reset to the audit built on top of it.


# ---------------------------------------------------------------------------
# round-7 wave 2 — corpus-audit and embedding-analysis operators a
# training-data pipeline runs before committing a tokenizer / index build.
# ---------------------------------------------------------------------------

VOCAB_COVERAGE_TIERS = (100, 1000, 10000)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K vocabulary coverage curve: for each tier K, how many corpus
    token OCCURRENCES the K most frequent tokens cover — the number that
    sizes a tokenizer vocabulary (the knee of this curve is where a
    bigger vocab stops buying compression) and complements
    token_freq_spectrum's frequency-of-frequency view with the
    cumulative head view.

    Determinism: ranking orders by (count DESC, token ASC) — a total
    order; counts exact bigints; coverage is one IEEE division.

    Shape at 100 TB: the token-count agg is THE full-volume shuffle
    (map-side combinable); the head extraction is a bounded
    TakeOrderedAndProject (partial per-partition top-K, never a global
    sort of the vocabulary); the rank window then runs on max(K) = 10^4
    rows — driver-scale by construction, documented bound. The tier
    table (3 static rows) and the 1-row totals aggregate are the only
    broadcasts."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok")).where(
        F.length("tok") > 0
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(
        F.sum("c").alias("total_occ"), F.count(F.lit(1)).alias("total_vocab")
    )
    maxk = max(VOCAB_COVERAGE_TIERS)
    top = cnt.orderBy(F.col("c").desc(), "tok").limit(maxk)
    w = W.orderBy(F.col("c").desc(), "tok")
    ranked = top.select("tok", "c", F.row_number().over(w).alias("rnk"))
    tiers = spark.createDataFrame([(k,) for k in VOCAB_COVERAGE_TIERS], "k INT")
    cov = (
        ranked.join(F.broadcast(tiers), F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_vocab_used"),
            F.sum("c").alias("covered_occ"),
        )
    )
    return cov.crossJoin(F.broadcast(total)).select(
        "k",
        "n_vocab_used",
        "covered_occ",
        "total_vocab",
        "total_occ",
        (F.col("covered_occ").cast("double") / F.col("total_occ")).alias("coverage"),
    )


VOCAB_COVERAGE_ORACLE = """
    WITH toks AS (
      SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    cnt AS (
      SELECT tok, COUNT(*) AS c FROM toks WHERE length(tok) > 0 GROUP BY tok),
    total AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total_occ, COUNT(*) AS total_vocab
      FROM cnt),
    ranked AS (
      SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk FROM cnt),
    top AS (SELECT * FROM ranked WHERE rnk <= 10000),
    tiers(k) AS (VALUES (100), (1000), (10000))
    SELECT CAST(k AS INT) AS k,
           COUNT(*) AS n_vocab_used,
           CAST(SUM(c) AS BIGINT) AS covered_occ,
           total_vocab, total_occ,
           CAST(SUM(c) AS DOUBLE) / total_occ AS coverage
    FROM top JOIN tiers ON rnk <= k CROSS JOIN total
    GROUP BY k, total_vocab, total_occ
    """


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source shingle NOVELTY: of the distinct shingles each source
    contains, how many first entered the corpus through that source
    (first = MIN doc_id, the ingestion-order convention doc_id encodes).
    A source with near-zero novelty is re-serving content other sources
    already contributed — the keep/drop signal source-level curation
    acts on after source_overlap locates the overlap.

    Determinism: exact bigint counts; novelty is one IEEE division;
    first-claim is MIN over a unique key.

    Shape at 100 TB: ONE cached shingle scan (the shared-scan rule)
    feeds both legs — the (source, shingle) distinct and the per-shingle
    MIN(doc_id) agg (both map-side combinable); the first-claim join is
    shingle-count-sized against the pruned (doc_id, source) projection,
    hint-free so AQE sizes it. Output is source-catalog bounded."""
    with cached(_shingles_df(spark, sf_dir)) as sh:
        return _ngram_novelty_frame(spark, sf_dir, sh).localCheckpoint(eager=True)


def _ngram_novelty_frame(
    spark: SparkSession, sf_dir: str, sh: DataFrame
) -> DataFrame:
    """Novelty rollup over a (doc_id, shingle) distinct frame — split out
    so the plan-shape gate inspects the pre-checkpoint plan."""
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    nsrc = (
        sh.join(src, "doc_id")
        .select("source", "shingle")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("doc_id"))
    novel = first.join(src, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return nsrc.join(novel, "source", "left").select(
        "source",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        (
            F.coalesce("n_novel", F.lit(0)).cast("double") / F.col("n_shingles")
        ).alias("novelty"),
    )


NGRAM_NOVELTY_ORACLE = (
    "WITH "
    + _SHINGLES_SQL
    + """,
    ssrc AS (
      SELECT DISTINCT d.source, s.shingle
      FROM shingles s JOIN documents d USING (doc_id)),
    nsrc AS (SELECT source, COUNT(*) AS n_shingles FROM ssrc GROUP BY source),
    first AS (SELECT shingle, MIN(doc_id) AS doc_id FROM shingles GROUP BY shingle),
    novel AS (
      SELECT d.source, COUNT(*) AS n_novel
      FROM first f JOIN documents d USING (doc_id) GROUP BY d.source)
    SELECT n.source, n.n_shingles,
           CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(COALESCE(v.n_novel, 0) AS DOUBLE) / n.n_shingles AS novelty
    FROM nsrc n LEFT JOIN novel v USING (source)
    """
)


PCA_DEC = "decimal(28,10)"  # the embed_dim_stats cast tier (parity-proven)


def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by TWO unrolled
    power iterations over the mean-centered data — the anisotropy audit
    an index build runs before trusting cosine distance (a dominant
    component that eats most variance means raw cosine is measuring the
    common direction, not semantics; the standard fix whitens or drops
    it). Returns one row per dimension: the unit loading of the
    component plus the scaled Rayleigh estimate of its eigenvalue.

    Iterative linear algebra, oracle-checked: like pagerank/kmeans, the
    fixed iteration count unrolls into a DuckDB CTE chain, so a
    genuinely iterative distributed computation stays hash-checkable.

    Determinism (the numeric.py discipline, applied per pass):
    every cross-row sum decimal-casts its addend first (exact,
    order-free), then one double cast; per-row arithmetic is plain IEEE
    (rule 3); v0 = e_0 so iteration 1's projection is just the centered
    first coordinate; between iterations v1 scales by 1/n (one IEEE
    division per dim) to keep decimal magnitudes corpus-bounded
    (w ~ n, never n^2 — DECIMAL(38,10) holds n ~ 10^12 rows x O(1)
    values with 10^16 headroom); the final normalization happens
    IN-ENGINE on both sides from the same w2 values.

    Shape at 100 TB: three full scans of the (vec_id, embedding)
    projection (means pass + one per iteration), each a
    map-side-combinable agg keyed on the BOUNDED dim index (64 cells) —
    the per-row projection s is a JVM zip_with/aggregate fold, no
    Python, no shuffle wider than 64 rows; the driver holds only
    64-float vectors (bounded planning metadata). A production run
    would cache the scan across passes; at audit cadence three scans
    are the cost of zero extra state."""
    e, xc, n_rows, w2 = _embed_pca_core(spark, sf_dir)

    # in-engine normalization from the same w2 frame on both sides
    nrm = w2.agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast(PCA_DEC)).cast("double")).alias(
            "nrm"
        )
    )
    return w2.crossJoin(F.broadcast(nrm)).select(
        "dim",
        (F.col("w") / F.col("nrm")).alias("loading"),
        (F.col("nrm") / F.lit(float(n_rows))).alias("eigval_scale"),
    )


def _embed_pca_core(spark: SparkSession, sf_dir: str):
    """Passes 0-2 of the power iteration — (e, xc, n_rows, w2-frame) —
    shared by embed_pca (normalize + report) and embed_whiten (remove the
    component and re-measure variance), mirroring the shared CTE prefix
    on the oracle side."""
    e = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    ).select("vec_id", "embedding")

    # pass 0 — per-dim decimal-exact means (64 rows to the driver)
    ex = e.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    mean_rows = (
        ex.groupBy("dim")
        .agg(
            (
                F.sum(F.col("x").cast(PCA_DEC)).cast("double") / F.count(F.lit(1))
            ).alias("md"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    n_dim = len(mean_rows)
    md = [0.0] * n_dim
    n_rows = 0
    for r in mean_rows:
        md[r["dim"]] = r["md"]
        n_rows = r["cnt"]
    md_arr = F.array(*[F.lit(v) for v in md])
    xc = F.zip_with("embedding", md_arr, lambda x, m: x.cast("double") - m)

    def _w_pass(s_col) -> list[float]:
        """One power-iteration half: w_d = SUM_r dec(s_r * xc_rd).

        The projection s/xc is materialized in an INNER select before the
        posexplode: left in one select, CollapseProject inlines both
        expressions into the Generate and re-evaluates the 64-term
        decimal fold once PER EXPLODED ROW — a 64x amplification measured
        at 10x wall-clock on sf0.1 (10.2s -> 1.0s for the pass)."""
        inner = e.select(s_col.alias("s"), xc.alias("xcarr"))
        t = inner.select("s", F.posexplode("xcarr").alias("dim", "xc"))
        rows = (
            t.groupBy("dim")
            .agg(
                F.sum((F.col("s") * F.col("xc")).cast(PCA_DEC))
                .cast("double")
                .alias("w")
            )
            .collect()
        )
        w = [0.0] * n_dim
        for r in rows:
            w[r["dim"]] = r["w"]
        return w

    # iteration 1 — v0 = e_0, so s1 is the centered first coordinate
    w1 = _w_pass(F.element_at(xc, 1))
    v1 = [wi / n_rows for wi in w1]  # one IEEE division per dim (rule 3)

    # iteration 2 — s2 = <xc, v1> as a decimal-exact JVM fold
    v1_arr = F.array(*[F.lit(v) for v in v1])
    s2 = F.aggregate(
        F.zip_with(xc, v1_arr, lambda x, v: (x * v).cast(PCA_DEC)),
        F.lit(0).cast(PCA_DEC),
        # partial sums are multiples of 1e-10 well inside 28 digits, so the
        # re-cast is lossless — it only pins the accumulator type the HOF
        # requires (decimal addition widens the scale-preserving precision)
        lambda acc, t_: (acc + t_).cast(PCA_DEC),
    ).cast("double")
    # inner select before the explode: same CollapseProject amplification
    # guard as _w_pass (the fold would otherwise run once per exploded row)
    t2i = e.select(s2.alias("s"), xc.alias("xcarr"))
    t2 = t2i.select("s", F.posexplode("xcarr").alias("dim", "xc"))
    w2 = t2.groupBy("dim").agg(
        F.sum((F.col("s") * F.col("xc")).cast(PCA_DEC)).cast("double").alias("w")
    ).localCheckpoint(eager=True)  # 64 rows; else every downstream branch
    # (norm/output in pca, ww/projection in whiten) re-runs the pass-2 scan
    return e, xc, n_rows, w2


# Passes 0-2 as CTE text — the oracle twin of _embed_pca_core, shared by
# the embed_pca and embed_whiten oracles so the two cannot drift.
_EMBED_PCA_CTES = """e AS (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
    ex AS (
      SELECT vec_id, UNNEST(range(len(embedding))) AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS x
      FROM e),
    mean AS (
      SELECT dim,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS md
      FROM ex GROUP BY dim),
    xc AS (
      SELECT vec_id, ex.dim, x - md AS xc
      FROM ex JOIN mean ON ex.dim = mean.dim),
    s1 AS (SELECT vec_id, xc AS s FROM xc WHERE dim = 0),
    w1 AS (
      SELECT xc.dim,
             CAST(CAST(SUM(CAST(s1.s * xc.xc AS DECIMAL(28,10))) AS VARCHAR)
                  AS DOUBLE) AS w
      FROM xc JOIN s1 ON xc.vec_id = s1.vec_id GROUP BY xc.dim),
    v1 AS (SELECT dim, w / n AS v FROM w1 CROSS JOIN nn),
    s2 AS (
      SELECT xc.vec_id,
             CAST(CAST(SUM(CAST(xc.xc * v1.v AS DECIMAL(28,10))) AS VARCHAR)
                  AS DOUBLE) AS s
      FROM xc JOIN v1 ON xc.dim = v1.dim GROUP BY xc.vec_id),
    w2 AS (
      SELECT xc.dim,
             CAST(CAST(SUM(CAST(s2.s * xc.xc AS DECIMAL(28,10))) AS VARCHAR)
                  AS DOUBLE) AS w
      FROM xc JOIN s2 ON xc.vec_id = s2.vec_id GROUP BY xc.dim)"""

EMBED_PCA_ORACLE = f"""
    WITH {_EMBED_PCA_CTES},
    nrm AS (
      SELECT SQRT(CAST(CAST(SUM(CAST(w * w AS DECIMAL(28,10))) AS VARCHAR)
                       AS DOUBLE)) AS nrm
      FROM w2)
    SELECT CAST(dim AS INT) AS dim,
           w / nrm AS loading,
           nrm / n AS eigval_scale
    FROM w2 CROSS JOIN nrm CROSS JOIN nn
    """


# Round-7 registration of this round's prep wave: all oracles above are
# parity-proven at sf0.01 by tests/test_round7_ops.py.
register("q_vocab_coverage", oracle=VOCAB_COVERAGE_ORACLE)(vocab_coverage)

register("q_ngram_novelty", oracle=NGRAM_NOVELTY_ORACLE)(ngram_novelty)

register("q_embed_pca", oracle=EMBED_PCA_ORACLE)(embed_pca)


# ---------------------------------------------------------------------------
# round-7 wave 3 — measured-quality harnesses: classifier accuracy,
# retrieval-arm agreement, and join-planning estimator error. The repo's
# standing rule: a heuristic/sketch/estimator ships WITH the harness that
# measures it.
# ---------------------------------------------------------------------------


def lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the q_lang_id heuristic against the corpus's
    labeled lang column: per (label, guess) cell counts plus the
    row-normalized share (recall when label == guess). The measured-
    accuracy harness for the stopword classifier — the number that
    decides whether the heuristic is good enough to gate a language
    allowlist, per-source, before a real model is spent on it.

    Built ON q_lang_id (not a re-derivation): Spark aggregates the
    registered operator's output; the oracle wraps the SAME
    _LANG_ID_ORACLE text as a subquery — classifier and eval cannot
    drift.

    Determinism: exact bigint cells; the share is one IEEE division of
    exact counts; the per-label total is a window over the BOUNDED lang
    domain.

    Shape at 100 TB: q_lang_id is per-row codegen (zero shuffles); the
    confusion agg is one map-side-combinable hash agg on a
    (langs x langs) key domain — tens of cells."""
    g = q_lang_id(spark, sf_dir).groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_lang = F.sum("n_docs").over(W.partitionBy("lang"))
    return g.select(
        "lang",
        "lang_guess",
        "n_docs",
        n_lang.alias("n_label"),
        (F.col("n_docs").cast("double") / n_lang).alias("share"),
    )


LANG_ID_EVAL_ORACLE = f"""
    WITH g AS (
      SELECT lang, lang_guess, COUNT(*) AS n_docs
      FROM ({_LANG_ID_ORACLE}) c
      GROUP BY lang, lang_guess)
    SELECT lang, lang_guess, n_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS n_label,
           CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY lang) AS share
    FROM g
    """


JOIN_CARD_SAMPLE_MOD = 4  # deterministic 1-in-MOD md5 key sample


def join_card_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimator audit: the exact click x purchase
    pair count per user via the count-product formula (never
    materializing a pair), next to a deterministic 1-in-MOD key-sampled
    estimate scaled by MOD — the estimator a join planner consults
    before choosing a strategy, shipped WITH its measured error (the
    recall-harness rule applied to query planning).

    Determinism: per-key counts and products are exact bigints (the
    dup_source_matrix combinatorial-formula rule); the key sample is the
    md5-mod idiom both engines share; rel_err is one IEEE division.

    Shape at 100 TB: two map-side-combinable aggs on user_id + one
    key-count equi-join (key-cardinality-sized, hint-free); the sampled
    arm filters the SAME joined frame — no second scan; output is one
    row."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type")
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("np"))
    )
    j = c.join(p, "user_id").select(
        "user_id", (F.col("nc") * F.col("np")).alias("pairs")
    )
    in_sample = (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(
                            F.lit("jce:"), F.col("user_id").cast("string")
                        ),
                        "UTF-8",
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % JOIN_CARD_SAMPLE_MOD
        == 0
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n_keys_both"),
        F.sum("pairs").alias("exact_pairs"),
        F.count(F.when(in_sample, 1)).alias("n_keys_sampled"),
        (F.sum(F.when(in_sample, F.col("pairs"))) * JOIN_CARD_SAMPLE_MOD).alias(
            "sampled_pairs_scaled"
        ),
    )
    return agg.select(
        "n_keys_both",
        "exact_pairs",
        "n_keys_sampled",
        F.coalesce("sampled_pairs_scaled", F.lit(0).cast("long")).alias(
            "sampled_pairs_scaled"
        ),
        (
            F.abs(
                F.coalesce("sampled_pairs_scaled", F.lit(0)).cast("double")
                - F.col("exact_pairs").cast("double")
            )
            / F.col("exact_pairs").cast("double")
        ).alias("rel_err"),
    )


JOIN_CARD_EST_ORACLE = f"""
    WITH c AS (
      SELECT user_id, COUNT(*) AS nc FROM events
      WHERE event_type = 'click' GROUP BY user_id),
    p AS (
      SELECT user_id, COUNT(*) AS np FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    j AS (
      SELECT c.user_id, CAST(nc * np AS BIGINT) AS pairs
      FROM c JOIN p USING (user_id)),
    a AS (
      SELECT COUNT(*) AS n_keys_both,
             CAST(SUM(pairs) AS BIGINT) AS exact_pairs,
             COUNT(CASE WHEN CAST('0x' || substr(md5('jce:' || CAST(user_id
                 AS VARCHAR)), 1, 15) AS BIGINT) % {JOIN_CARD_SAMPLE_MOD} = 0
               THEN 1 END) AS n_keys_sampled,
             CAST(COALESCE(SUM(CASE WHEN CAST('0x' || substr(md5('jce:' ||
                 CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % {JOIN_CARD_SAMPLE_MOD} = 0 THEN pairs END)
               * {JOIN_CARD_SAMPLE_MOD}, 0) AS BIGINT) AS sampled_pairs_scaled
      FROM j)
    SELECT n_keys_both, exact_pairs, n_keys_sampled, sampled_pairs_scaled,
           ABS(CAST(sampled_pairs_scaled AS DOUBLE)
               - CAST(exact_pairs AS DOUBLE))
             / CAST(exact_pairs AS DOUBLE) AS rel_err
    FROM a
    """


def retrieval_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-agreement audit for hybrid retrieval: how much do the
    lexical (BM25) and semantic (embedding-cosine) arms of
    q_hybrid_search actually agree at depth? Reports overlap@depth and
    the Spearman-footrule rank distance over the shared candidates — the
    number that justifies (or retires) the fusion: arms that agree make
    RRF redundant; arms that diverge make it load-bearing.

    Built ON the fusion's OWN arms (_hybrid_arms / _HYBRID_ARMS_SQL
    byte-shared with the q_hybrid_search oracle), so the agreement is
    measured on exactly the ranked lists production fuses.

    Determinism: counts and the footrule sum are exact bigints; the two
    ratios are single IEEE divisions; mean_rank_gap is NULL for zero
    overlap in both engines.

    Shape at 100 TB: the modality scans dominate (as in the fusion); the
    agreement math runs on two <= depth-row frames — the equi-join,
    counts and footrule are all driver-scale. The three 1-row aggregates
    broadcast (whitelisted)."""
    lexr, vecr = _hybrid_arms(spark, sf_dir)
    ov = lexr.join(vecr, lexr.doc_id == vecr.vec_id).select(
        "lex_rank", "vec_rank"
    )
    nl = lexr.agg(F.count(F.lit(1)).alias("n_lex"))
    nv = vecr.agg(F.count(F.lit(1)).alias("n_vec"))
    ag = ov.agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.sum(F.abs(F.col("lex_rank") - F.col("vec_rank"))).alias("footrule"),
    )
    return (
        ag.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nv))
        .select(
            F.lit(HYBRID_DEPTH).alias("depth"),
            "n_lex",
            "n_vec",
            "n_overlap",
            (
                F.col("n_overlap").cast("double") / F.least("n_lex", "n_vec")
            ).alias("overlap_ratio"),
            F.coalesce("footrule", F.lit(0).cast("long")).alias("footrule"),
            F.when(
                F.col("n_overlap") > 0,
                F.col("footrule").cast("double") / F.col("n_overlap"),
            ).alias("mean_rank_gap"),  # NULL at zero overlap, both engines
        )
    )


RETRIEVAL_AGREEMENT_ORACLE = f"""
    WITH {_HYBRID_ARMS_SQL},
    ov AS (
      SELECT lex_rank, vec_rank
      FROM lexr JOIN vecr ON lexr.doc_id = vecr.vec_id),
    nl AS (SELECT COUNT(*) AS n_lex FROM lexr),
    nv AS (SELECT COUNT(*) AS n_vec FROM vecr),
    ag AS (
      SELECT COUNT(*) AS n_overlap,
             CAST(COALESCE(SUM(ABS(lex_rank - vec_rank)), 0) AS BIGINT)
               AS footrule
      FROM ov)
    SELECT CAST({HYBRID_DEPTH} AS INT) AS depth, n_lex, n_vec, n_overlap,
           CAST(n_overlap AS DOUBLE) / LEAST(n_lex, n_vec) AS overlap_ratio,
           footrule,
           CASE WHEN n_overlap > 0
                THEN CAST(footrule AS DOUBLE) / n_overlap END AS mean_rank_gap
    FROM ag CROSS JOIN nl CROSS JOIN nv
    """


def embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top audit: per-dimension variance of the embedding
    cloud BEFORE and AFTER removing the dominant component embed_pca
    finds — the measured payoff of the standard anisotropy fix (project
    out the common direction; if var_drop concentrates in a few
    dimensions the cloud was dominated by one direction and raw cosine
    was measuring it, not semantics). The actionable second half of
    q_embed_pca: pca names the direction, whiten prices removing it.

    Projection removal is SCALE-INVARIANT in the direction vector —
    x' = xc - (<xc,w>/<w,w>) w — so the UNNORMALIZED w2 frame feeds it
    directly: w enters per-row expressions as collected literals
    (bit-equal to the oracle's w2 CTE by pass-2 parity), while <w,w>
    is computed IN-ENGINE on both sides from the same w2 rows — no
    driver-side arithmetic beyond the 1/n scaling pca already does.

    Determinism: every cross-row sum decimal-casts first; the residual
    is per-row IEEE from identical inputs; var_before/var_after are one
    IEEE division each; var_drop NULL-guards a zero-variance dimension
    identically in both engines.

    Shape at 100 TB: the three pca passes plus ONE more full scan (the
    residual second-moment pass) — still all 64-cell map-side-combinable
    aggs; the per-row fold materializes in an inner select before the
    explode (the CollapseProject amplification guard)."""
    e, xc, n_rows, w2 = _embed_pca_core(spark, sf_dir)
    rows = w2.collect()  # 64 rows — bounded planning metadata
    w = [0.0] * len(rows)
    for r in rows:
        w[r["dim"]] = r["w"]
    w_arr = F.array(*[F.lit(v) for v in w])
    ww = w2.agg(
        F.sum((F.col("w") * F.col("w")).cast(PCA_DEC)).cast("double").alias("ww")
    )
    s3 = F.aggregate(
        F.zip_with(xc, w_arr, lambda x, v: (x * v).cast(PCA_DEC)),
        F.lit(0).cast(PCA_DEC),
        lambda acc, t_: (acc + t_).cast(PCA_DEC),
    ).cast("double")
    # inner select before the explode (CollapseProject guard), with the
    # 1-row <w,w> scalar broadcast alongside
    inner = e.crossJoin(F.broadcast(ww)).select(
        s3.alias("s"), xc.alias("xcarr"), "ww"
    )
    # the residual is QUANTIZED to decimal(28,10) and brought back to
    # double before squaring: the raw multiply-subtract can differ by an
    # ULP between engines (DuckDB may fuse it), and the second-moment sum
    # would expose it; rounding both engines to the same 1e-10 grid first
    # makes the squared terms bit-identical (measured: 1.3e-11 var_drop
    # drift without this, exact with it)
    resid = F.zip_with(
        "xcarr",
        w_arr,
        lambda x, wd: (x - (F.col("s") / F.col("ww")) * wd)
        .cast(PCA_DEC)
        .cast("double"),
    )
    inner2 = inner.select("xcarr", resid.alias("rarr"))
    t = inner2.select(
        F.posexplode(F.arrays_zip("xcarr", "rarr")).alias("dim", "z")
    )
    per = t.groupBy("dim").agg(
        F.sum((F.col("z.xcarr") * F.col("z.xcarr")).cast(PCA_DEC))
        .cast("double")
        .alias("sb"),
        F.sum((F.col("z.rarr") * F.col("z.rarr")).cast(PCA_DEC))
        .cast("double")
        .alias("sa"),
    )
    nf = float(n_rows)
    return per.select(
        "dim",
        (F.col("sb") / F.lit(nf)).alias("var_before"),
        (F.col("sa") / F.lit(nf)).alias("var_after"),
        F.when(
            F.col("sb") > 0, F.lit(1.0) - F.col("sa") / F.col("sb")
        ).alias("var_drop"),
    )


EMBED_WHITEN_ORACLE = f"""
    WITH {_EMBED_PCA_CTES},
    ww AS (
      SELECT CAST(CAST(SUM(CAST(w * w AS DECIMAL(28,10))) AS VARCHAR)
                  AS DOUBLE) AS ww
      FROM w2),
    s3 AS (
      SELECT xc.vec_id,
             CAST(CAST(SUM(CAST(xc.xc * w2.w AS DECIMAL(28,10))) AS VARCHAR)
                  AS DOUBLE) AS s
      FROM xc JOIN w2 ON xc.dim = w2.dim GROUP BY xc.vec_id),
    r AS (
      SELECT xc.vec_id, xc.dim, xc.xc,
             CAST(CAST(CAST(xc.xc - (s3.s / ww.ww) * w2.w
                  AS DECIMAL(28,10)) AS VARCHAR) AS DOUBLE) AS rr
      FROM xc JOIN s3 ON xc.vec_id = s3.vec_id
              JOIN w2 ON xc.dim = w2.dim
              CROSS JOIN ww),
    per AS (
      SELECT dim,
             CAST(CAST(SUM(CAST(xc * xc AS DECIMAL(28,10))) AS VARCHAR)
                  AS DOUBLE) AS sb,
             CAST(CAST(SUM(CAST(rr * rr AS DECIMAL(28,10))) AS VARCHAR)
                  AS DOUBLE) AS sa
      FROM r GROUP BY dim)
    SELECT CAST(dim AS INT) AS dim,
           sb / n AS var_before,
           sa / n AS var_after,
           CASE WHEN sb > 0 THEN 1.0 - sa / sb END AS var_drop
    FROM per CROSS JOIN nn
    """


# Round-7 registration of the measured-quality wave (parity proof:
# tests/test_round7_ops.py::test_r09_prep_draft_oracles_parity; window
# arithmetic in the registration commit — all displaced stale ids stay
# inside the change-aware bound).
register("q_lang_id_eval", oracle=LANG_ID_EVAL_ORACLE)(lang_id_eval)

register("q_join_card_est", oracle=JOIN_CARD_EST_ORACLE)(join_card_est)

register("q_retrieval_agreement", oracle=RETRIEVAL_AGREEMENT_ORACLE)(
    retrieval_agreement
)

register("q_embed_whiten", oracle=EMBED_WHITEN_ORACLE)(embed_whiten)


# ---------------------------------------------------------------------------
# pq_recall — product-quantization ADC recall harness (round-8 prep,
# REGISTERED r08 as q_pq_recall)
# ---------------------------------------------------------------------------

PQ_SUBS = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (8 x 8 = the 64-dim embedding)
PQ_CODES = 64  # codewords per subspace -> 6-bit codes, ~42x vs float32
PQ_GRID = 10_000  # e4 integer grid: exact bigint arithmetic throughout


def _pq_assign(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace): exact bigint
    squared distance on the e4 grid, ties broken on code id. Shared by
    the seed round and the refined round so they cannot drift.

    Arrow/numpy tier (the kmeans assign_pandas precedent — Python only
    via mapInPandas, never per-row): the codebook is <= {PQ_SUBS} x
    {PQ_CODES} = 512 rows (bounded by constants — collecting it is
    planning metadata, like the kmeans centroids), shipped into the
    workers as per-subspace int64 matrices; each Arrow batch computes
    argmin_code(|c|^2 - 2 X @ C^T) with one BLAS matmul per subspace.
    All arithmetic stays on the exact e4 integer grid in int64 (products
    <= 1e8, 8-element sums <= 8e8 — no overflow, no IEEE), and
    np.argmin's first-occurrence rule over the code-ascending matrix IS
    the (dist, code) tiebreak, so results are bit-identical to the
    declarative version and the oracle is unchanged. Measured at the
    10x lane: the interpreted zip_with HOF burned ~16-18s per
    assignment pass in EVERY JVM shape tried (row_number window over
    the 8x{PQ_CODES} fan-out: 35.9s whole-harness; min-struct hash agg:
    33.4s; per-row array_min(transform): 38.0s) because 800M
    interpreted per-element ops dominate, not the plan shape; the
    matmul tier does the same math vectorized."""
    cbrows = cb.select("s", "code", "carr", "cn2_s").collect()  # <=512 rows
    books: dict = {}
    for r in cbrows:
        books.setdefault(r["s"], []).append((r["code"], r["carr"], r["cn2_s"]))
    for s in books:
        books[s].sort()  # code-ascending => argmin first-hit = smallest code

    import numpy as np

    mats = {
        s: (
            np.array([c for c, _, _ in rows], dtype=np.int64),
            np.array([arr for _, arr, _ in rows], dtype=np.int64),
            np.array([n2 for _, _, n2 in rows], dtype=np.int64),
        )
        for s, rows in books.items()
    }

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for s, grp in pdf.groupby("s"):
                codes_v, cmat, cn2_v = mats[int(s)]
                x = np.stack(grp["sub"].to_numpy())  # (n, PQ_SUBDIM) int64
                # argmin ||x - c||^2 = argmin (|c|^2 - 2 x.c); |x|^2 is
                # constant per row. Exact int64 throughout.
                scores = cn2_v[None, :] - 2 * (x @ cmat.T)
                idx = np.argmin(scores, axis=1)  # first hit = smallest code
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_id": grp["vec_id"].to_numpy(),
                            "s": grp["s"].to_numpy(),
                            "code": codes_v[idx],
                            "cn2_s": cn2_v[idx],
                        }
                    )
                )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"vec_id": [], "s": [], "code": [], "cn2_s": []}
            )

    return subs.mapInPandas(
        assign, "vec_id long, s int, code int, cn2_s long"
    )


def _pq_recenter_cb(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """ONE Lloyd recenter fused into the assignment's Arrow pass (r13,
    guide §2.3 "aggregate before you shuffle"): instead of materializing
    the per-(vector, subspace) assignment, joining it back to ``subs``
    and posexploding every subvector element through a corpus-sized
    (s, code, i) shuffle, each Arrow batch assigns its subvectors with
    the same int64 matmul as _pq_assign and emits per-batch PARTIAL
    element sums (s, code, i, sv, nv) — at most |codebook| x PQ_SUBDIM
    bounded rows per batch. The global groupBy then sums partials:
    int64 addition is associative, so cent is bit-identical to the old
    pos/cent chain, and the cb1 construction below it is untouched.
    Returns the refined, normed codebook (s, code, carr, cn2_s)."""
    cbrows = cb.select("s", "code", "carr").collect()  # <=512 rows
    books: dict = {}
    for r in cbrows:
        books.setdefault(r["s"], []).append((r["code"], r["carr"]))
    for s in books:
        books[s].sort()

    import numpy as np

    mats = {
        s: (
            np.array([c for c, _ in rows], dtype=np.int64),
            np.array([arr for _, arr in rows], dtype=np.int64),
        )
        for s, rows in books.items()
    }
    n2s = {s: (m * m).sum(axis=1) for s, (_, m) in mats.items()}

    def assign_partials(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for s, grp in pdf.groupby("s"):
                codes_v, cmat = mats[int(s)]
                cn2_v = n2s[int(s)]
                x = np.stack(grp["sub"].to_numpy())  # (n, PQ_SUBDIM) int64
                scores = cn2_v[None, :] - 2 * (x @ cmat.T)
                idx = np.argmin(scores, axis=1)  # first hit = smallest code
                ncodes = len(codes_v)
                sv = np.zeros((ncodes, x.shape[1]), dtype=np.int64)
                np.add.at(sv, idx, x)
                nv = np.bincount(idx, minlength=ncodes).astype(np.int64)
                hit = np.flatnonzero(nv)
                for k in hit:
                    outs.append(
                        pd.DataFrame(
                            {
                                "s": int(s),
                                "code": int(codes_v[k]),
                                "i": np.arange(x.shape[1], dtype=np.int64),
                                "sv": sv[k],
                                "nv": int(nv[k]),
                            }
                        )
                    )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"s": [], "code": [], "i": [], "sv": [], "nv": []}
            )

    cent = (
        subs.mapInPandas(
            assign_partials, "s int, code int, i long, sv long, nv long"
        )
        .groupBy("s", "code", "i")
        .agg(F.sum("sv").alias("sv"), F.sum("nv").alias("nv"))
    )
    return _pq_with_norm(
        cent.select("s", "code", "i", F.expr("sv div nv").alias("c"))
        .groupBy("s", "code")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("s", "code", F.transform("ic", lambda x: x["c"]).alias("carr"))
    )


def _pq_with_norm(cb: DataFrame) -> DataFrame:
    return cb.select(
        "s",
        "code",
        "carr",
        F.aggregate(
            "carr", F.lit(0).cast("long"), lambda acc, v: acc + v * v
        ).alias("cn2_s"),
    )


def pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of PRODUCT-QUANTIZED asymmetric-distance search
    vs the exact float ranking (q_sim_topk's definition) — the third
    compression tier of the ANN family: int8 (q_sim_quantized_recall)
    shrinks bytes 4x with near-perfect recall; PQ with {PQ_SUBS}
    subspaces x {PQ_CODES} codewords stores 6 BITS per subvector
    (~42x vs float32, matching the PQ_CODES constant),
    and this harness reports what that buys and what it costs. The
    codebook starts from the {PQ_CODES} md5-ranked seed vectors'
    subvectors and is refined by ONE Lloyd round (assign all subvectors,
    recenter each codeword on the exact integer mean of its members —
    the k-means iteration in PQ's training loop, deterministic because
    the mean is a truncating integer div on the e4 grid).

    MEASURED FINDING (sf0.01 fixture): recall@10 ~= 0.4 at 64 codewords
    (0.2 at 16) — versus 0.94-1.00 for the int8 tier. The fixture's
    embeddings are near-uniform random, i.e. PQ's worst case: no cluster
    structure for codewords to exploit, and 6 bits per 8-dim subspace
    cannot rank near-orthogonal vectors. Real text embeddings cluster
    and fare far better — but that is exactly the decision this harness
    exists to measure instead of assume: deploy PQ only where ITS data
    shows the recall, else pay for int8.

    ADC (asymmetric distance computation), exactly as served: documents
    are REPLACED by their per-subspace codeword; queries stay exact. The
    approximate cosine numerator is sum_s <q_sub, codeword(doc, s)> and
    the document norm is reconstructed from codeword norms — both pure
    bigint on the e4 grid (|coord| <= 1e4 => per-dim product <= 1e8,
    64-dim sums <= 7e9), then ONE IEEE sqrt+divide for the final
    ranking, the q_sim_quantized_recall discipline.

    Determinism: e4 quantization via round() (ties-away both engines);
    assignment breaks distance ties on code id; centroid means are
    truncating integer division (engine parity verified for either
    sign); rankings break on candidate id; seeds ranked by
    (md5(vec_id), vec_id).

    Shape at 100 TB: the codebooks (512 rows), the per-(query, subspace)
    dot LUT ({PQ_SUBS}x{PQ_CODES} cells per query), and the query norms
    are all bounded frames — AQE broadcasts them at runtime, no static
    hints. Each assignment round is an Arrow-batched int64 matmul per
    subspace against the collected (constant-bounded) codebook — no row
    fan-out, no shuffle (see _pq_assign for the measured history); the
    Lloyd recenter is a bounded ({PQ_SUBS}x{PQ_CODES}x{PQ_SUBDIM}-cell)
    aggregate. The ADC scan reads 4-bit codes per doc and accumulates
    per (query, doc) partials map-side. The IVF composition (probe cells
    first, ADC inside cells — q_sim_ivf's routing) is the full
    production path; this harness measures the quantizer in isolation."""
    assert SIM_QUANT_TOPK == 10, "exact baseline (q_sim_topk) is fixed at k=10"
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    ie = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * PQ_GRID).cast("long")
        ).alias("iarr"),
    )
    # materialize the subvector struct array BEFORE exploding (the
    # CollapseProject/Generate amplification lesson, SCALE.md round 7)
    arr = ie.select(
        "vec_id",
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("int").alias("s"),
                    F.slice("iarr", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
                )
                for s in range(PQ_SUBS)
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
        .limit(PQ_CODES)
        .select("vec_id", F.expr("row_number() OVER (ORDER BY pri, vec_id)").alias("code"))
    )
    cb0 = _pq_with_norm(
        subs.join(seeds, "vec_id").select("s", "code", F.col("sub").alias("carr"))
    ).localCheckpoint()  # PQ_SUBS*PQ_CODES = 512 rows; stops seed
    # ranking re-runs downstream

    # ONE Lloyd round: recenter each codeword on the exact integer mean
    # of its assigned subvectors, then re-assign against the refined
    # book. The recenter rides the assignment's Arrow pass as bounded
    # per-batch partial sums (_pq_recenter_cb, r13) instead of a
    # corpus-sized assignment join + posexplode shuffle — cent is
    # bit-identical (int64 partial sums are associative).
    cb1 = _pq_recenter_cb(subs, cb0).localCheckpoint()  # <=128 rows

    # consumed by BOTH the cn2 aggregate and the num join: pin it, or
    # the 8x64-fanout assignment join+window runs twice (round-7 review)
    codes = _pq_assign(subs, cb1).localCheckpoint(eager=True)
    cn2 = codes.groupBy("vec_id").agg(F.sum("cn2_s").alias("cn2"))
    qsubs = subs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "s", F.col("sub").alias("qsub")
    )
    lut = qsubs.join(cb1, "s").select(
        "q_id",
        "s",
        "code",
        F.aggregate(
            F.zip_with("qsub", "carr", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dotv"),
    )
    qn2 = (
        ie.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.aggregate(
                "iarr", F.lit(0).cast("long"), lambda acc, v: acc + v * v
            ).alias("qn2"),
        )
    )
    num = (
        codes.join(lut, ["s", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dotv").alias("num"))
    )
    qcos = F.col("num").cast("double") / F.sqrt(
        (F.col("qn2") * F.col("cn2")).cast("double")
    )
    rw = W.partitionBy("q_id").orderBy(F.col("qcos").desc(), F.col("c_id"))
    pq_top = (
        num.join(cn2, "vec_id")
        .join(qn2, "q_id")
        .filter((F.col("vec_id") != F.col("q_id")) & (F.col("cn2") > 0) & (F.col("qn2") > 0))
        .select("q_id", F.col("vec_id").alias("c_id"), qcos.alias("qcos"))
        .withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= SIM_QUANT_TOPK)
    )
    exact_top = q_sim_topk(spark, sf_dir).select("q_id", "c_id")
    hits = exact_top.join(pq_top.select("q_id", "c_id"), ["q_id", "c_id"])
    per_q = exact_top.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
    nh = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        per_q.join(nh, "q_id", "left")
        .select(
            "q_id",
            F.col("k").cast("int").alias("k"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("k")).alias("recall"),
        )
    )


_PQ_SUB_IDX = ", ".join(str(s) for s in range(PQ_SUBS))
_PQ_DIM_IDX = ", ".join(str(i) for i in range(1, PQ_SUBDIM + 1))

# nearest-codeword assignment CTE template, instantiated once per round
# (the SQL twin of _pq_assign; {cb} is the codebook CTE name)
_PQ_ASSIGN_SQL = """(
      SELECT vec_id, s, code, cn2_s FROM (
        SELECT su.vec_id, su.s, cb.code, cb.cn2_s,
               row_number() OVER (
                 PARTITION BY su.vec_id, su.s
                 ORDER BY CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(su.sub, cb.carr),
                           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT),
                          cb.code) AS arnk
        FROM subs su JOIN {cb} cb ON su.s = cb.s) t
      WHERE arnk = 1)"""

PQ_RECALL_ORACLE = f"""
    WITH {_EXACT_TOPK_CTE},
    ie AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {PQ_GRID}) AS BIGINT))
               AS iarr
      FROM embeddings),
    subs AS (
      SELECT vec_id, s,
             list_slice(iarr, s * {PQ_SUBDIM} + 1, s * {PQ_SUBDIM} + {PQ_SUBDIM})
               AS sub
      FROM ie CROSS JOIN UNNEST([{_PQ_SUB_IDX}]) t(s)),
    seeds AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS code
      FROM ie
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_CODES}),
    cb0 AS (
      SELECT su.s, seeds.code, su.sub AS carr,
             CAST(LIST_SUM(LIST_TRANSFORM(su.sub, v -> v * v)) AS BIGINT)
               AS cn2_s
      FROM seeds JOIN subs su USING (vec_id)),
    codes0 AS {_PQ_ASSIGN_SQL.format(cb='cb0')},
    pos AS (
      SELECT su.s, c0.code, i, su.sub[i] AS v
      FROM subs su
      JOIN codes0 c0 ON su.vec_id = c0.vec_id AND su.s = c0.s
      CROSS JOIN UNNEST([{_PQ_DIM_IDX}]) t(i)),
    cent AS (
      SELECT s, code, i, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS nv
      FROM pos GROUP BY 1, 2, 3),
    cb1 AS (
      SELECT s, code, list(sv // nv ORDER BY i) AS carr,
             CAST(LIST_SUM(LIST_TRANSFORM(list(sv // nv ORDER BY i),
                  v -> v * v)) AS BIGINT) AS cn2_s
      FROM cent GROUP BY s, code),
    codes AS {_PQ_ASSIGN_SQL.format(cb='cb1')},
    cn2 AS (
      SELECT vec_id, CAST(SUM(cn2_s) AS BIGINT) AS cn2
      FROM codes GROUP BY vec_id),
    qsubs AS (
      SELECT vec_id AS q_id, s, sub AS qsub FROM subs WHERE vec_id < 5),
    lut AS (
      SELECT q_id, qs.s, cb.code,
             CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qs.qsub, cb.carr),
                  p -> p[1] * p[2])) AS BIGINT) AS dotv
      FROM qsubs qs JOIN cb1 cb ON qs.s = cb.s),
    qn2 AS (
      SELECT vec_id AS q_id,
             CAST(LIST_SUM(LIST_TRANSFORM(iarr, v -> v * v)) AS BIGINT) AS qn2
      FROM ie WHERE vec_id < 5),
    num AS (
      SELECT lut.q_id, codes.vec_id, CAST(SUM(lut.dotv) AS BIGINT) AS num
      FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
      GROUP BY lut.q_id, codes.vec_id),
    pq_top AS (
      SELECT q_id, vec_id AS c_id,
             row_number() OVER (
               PARTITION BY q_id
               ORDER BY CAST(num AS DOUBLE)
                        / SQRT(CAST(qn2.qn2 * cn2.cn2 AS DOUBLE)) DESC,
                        vec_id) AS rnk
      FROM num JOIN cn2 USING (vec_id) JOIN qn2 USING (q_id)
      WHERE vec_id <> q_id AND cn2.cn2 > 0 AND qn2.qn2 > 0),
    exact_top AS (SELECT q_id, c_id FROM r WHERE rnk <= 10),
    hits AS (
      SELECT e.q_id, COUNT(*) AS n_hits
      FROM exact_top e
      JOIN (SELECT q_id, c_id FROM pq_top WHERE rnk <= {SIM_QUANT_TOPK}) p
        ON e.q_id = p.q_id AND e.c_id = p.c_id
      GROUP BY e.q_id)
    SELECT e.q_id, CAST(COUNT(*) AS INT) AS k,
           COALESCE(ANY_VALUE(h.n_hits), 0) AS n_hits,
           CAST(COALESCE(ANY_VALUE(h.n_hits), 0) AS DOUBLE) / COUNT(*) AS recall
    FROM exact_top e LEFT JOIN hits h ON e.q_id = h.q_id
    GROUP BY e.q_id
    """


# ---------------------------------------------------------------------------
# mix_temperature — temperature-scaled source sampling weights (round-8
# prep; REGISTERED r08 as q_mix_temperature)
# ---------------------------------------------------------------------------


def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled per-source sampling weights — the standard
    pretraining-mix step (weight_i proportional to share_i^alpha at
    alpha = 0.5) that upsamples small high-quality sources and damps
    the dominant crawl, beside q_data_mix's fixed plan: per source the
    char mass, its exact-ppm natural share (alpha = 1), the
    alpha = 0.5 weight, and the resulting boost factor (x1000) — the
    number a mix designer actually reads ("this source gets sampled at
    2.3x its natural rate").

    Determinism: shares are exact integer ppm; the temperature power is
    ONE correctly-rounded IEEE sqrt of an integer-valued double (the
    k_anonymity single-IEEE-op rule), immediately floored onto a
    1e-3 grid so the normalization is an exact INTEGER sum over the
    bounded source rows — no IEEE accumulation whose order could
    differ between engines; the boost ratio is integer div with a
    zero-share guard.

    Shape at 100 TB: one map-side-combinable per-source aggregate (the
    only full-volume work), then ppm/normalization windows over the
    |sources| rows only. Join-free, hint-free."""
    d = table(spark, sf_dir, "documents").select("source", "n_chars")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    shares = per.select(
        "source",
        "n_docs",
        "n_chars",
        F.expr("n_chars * 1000000 div sum(n_chars) OVER ()")
        .cast("long")
        .alias("share_ppm"),
    )
    rooted = shares.select(
        "source",
        "n_docs",
        "n_chars",
        "share_ppm",
        F.expr("CAST(floor(sqrt(CAST(share_ppm AS DOUBLE)) * 1000) AS BIGINT)").alias(
            "root_mu"
        ),
    )
    return rooted.select(
        "source",
        "n_docs",
        "n_chars",
        "share_ppm",
        F.expr("root_mu * 1000000 div sum(root_mu) OVER ()")
        .cast("long")
        .alias("w_alpha50_ppm"),
        F.expr(
            "CASE WHEN share_ppm = 0 THEN NULL"
            " ELSE (root_mu * 1000000 div sum(root_mu) OVER ()) * 1000"
            " div share_ppm END"
        )
        .cast("long")
        .alias("boost_x1000"),
    ).orderBy("source")


MIX_TEMPERATURE_ORACLE = """
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source),
    shares AS (
      SELECT source, n_docs, n_chars,
             CAST(n_chars * 1000000 // SUM(n_chars) OVER () AS BIGINT)
               AS share_ppm
      FROM per),
    rooted AS (
      SELECT source, n_docs, n_chars, share_ppm,
             CAST(floor(sqrt(CAST(share_ppm AS DOUBLE)) * 1000) AS BIGINT)
               AS root_mu
      FROM shares)
    SELECT source, n_docs, n_chars, share_ppm,
           CAST(root_mu * 1000000 // SUM(root_mu) OVER () AS BIGINT)
             AS w_alpha50_ppm,
           CASE WHEN share_ppm = 0 THEN NULL
                ELSE CAST((root_mu * 1000000 // SUM(root_mu) OVER ()) * 1000
                          // share_ppm AS BIGINT) END AS boost_x1000
    FROM rooted ORDER BY source
    """


# round-8 registration of the prep ops above (parity-proven since r07,
# tests/test_round8_ops.py)
register("q_pq_recall", oracle=PQ_RECALL_ORACLE)(pq_recall)
register("q_mix_temperature", oracle=MIX_TEMPERATURE_ORACLE)(mix_temperature)


# ---------------------------------------------------------------------------
# round-10 registration wave: cell compactness, dedup-rate curve, LSH
# band-curve harness (SURVEY §2.10 r10 rows). Estimator-audit idioms
# carried over: exact-decimal cross-row sums, benford-style shared
# literals, corpus-derived MOD samples.
# ---------------------------------------------------------------------------


def cell_compactness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label-cell embedding compactness — the audit that decides
    whether label blocking (q_dedup_embed / the capped tiers) is
    adequate for a corpus: a cell whose members barely correlate wastes
    the whole within-cell pair budget, one whose members align justifies
    it. Reports per cell: member count, the exact sum of squared norms,
    the squared norm of the member-sum vector, and the two derived
    means — mean self dot (energy) and MEAN PAIRWISE DOT via the
    identity sum_{i!=j} <x_i,x_j> = |S|^2 - sum_i |x_i|^2 with
    S = sum_i x_i, so the all-pairs statistic costs ONE linear pass.

    Determinism: elements on the decimal(12,8) grid (the _spark_dot
    idiom); per-dim sums S_d exact at scale 8; S_d routes through DOUBLE
    (identical in both engines by the VARCHAR rule) and back onto a
    1e-4 decimal grid before squaring so DECIMAL(18,4)^2 = DECIMAL(37,8)
    stays exact under any corpus-scale magnitude — double->decimal casts
    round half-away-from-zero in BOTH engines (decimal->decimal casts do
    NOT agree at ties: Spark half-up, DuckDB half-even — measured, which
    is why the narrowing goes through double). Final means are one IEEE
    subtraction/division each on identical doubles.

    Shape at 100 TB: posexplode to (label, dim) keyed by the BOUNDED
    |cells| x 64 grid — pure map-side-combine aggregation, two nested
    aggs, no joins, no windows; the pairwise mean never enumerates a
    pair."""
    e = table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label", "dim", F.col("x").cast("double").cast("decimal(12,8)").alias("xd")
    )
    per_dim = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("xd").cast("decimal(28,8)").alias("s8"),
        F.sum((F.col("xd") * F.col("xd")).cast("decimal(25,16)"))
        .cast("decimal(38,16)")
        .alias("q"),
    )
    sq4 = F.col("s8").cast("double").cast("decimal(18,4)")
    per_cell = per_dim.groupBy("label").agg(
        F.max("cnt").cast("long").alias("m"),
        F.sum((sq4 * sq4).cast("decimal(37,8)")).cast("decimal(38,8)").alias("n2s"),
        F.sum("q").cast("decimal(38,16)").alias("sn2"),
    )
    m = F.col("m")
    sn2d = F.col("sn2").cast("double")
    n2sd = F.col("n2s").cast("double")
    return per_cell.select(
        "label",
        "m",
        sn2d.alias("sum_norm2"),
        n2sd.alias("norm2_of_sum"),
        (sn2d / m).alias("mean_self_dot"),
        F.when(m >= 2, (n2sd - sn2d) / (m * (m - 1))).alias("mean_pair_dot"),
    )


CELL_COMPACTNESS_ORACLE = """
    WITH ex AS (
      SELECT label,
             UNNEST(range(len(embedding))) AS dim,
             CAST(CAST(UNNEST(embedding) AS DOUBLE) AS DECIMAL(12,8)) AS xd
      FROM embeddings WHERE embedding IS NOT NULL),
    per_dim AS (
      SELECT label, dim,
             COUNT(*) AS cnt,
             CAST(SUM(xd) AS DECIMAL(28,8)) AS s8,
             CAST(SUM(CAST(xd * xd AS DECIMAL(25,16))) AS DECIMAL(38,16)) AS q
      FROM ex GROUP BY label, dim),
    per_cell AS (
      SELECT label,
             CAST(MAX(cnt) AS BIGINT) AS m,
             CAST(SUM(CAST(
                 CAST(CAST(CAST(s8 AS VARCHAR) AS DOUBLE) AS DECIMAL(18,4))
               * CAST(CAST(CAST(s8 AS VARCHAR) AS DOUBLE) AS DECIMAL(18,4))
               AS DECIMAL(37,8))) AS DECIMAL(38,8)) AS n2s,
             CAST(SUM(q) AS DECIMAL(38,16)) AS sn2
      FROM per_dim GROUP BY label)
    SELECT label, m,
           CAST(CAST(sn2 AS VARCHAR) AS DOUBLE) AS sum_norm2,
           CAST(CAST(n2s AS VARCHAR) AS DOUBLE) AS norm2_of_sum,
           CAST(CAST(sn2 AS VARCHAR) AS DOUBLE) / m AS mean_self_dot,
           CASE WHEN m >= 2 THEN
             (CAST(CAST(n2s AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sn2 AS VARCHAR) AS DOUBLE)) / (m * (m - 1))
           END AS mean_pair_dot
    FROM per_cell
    """

register("q_cell_compactness", oracle=CELL_COMPACTNESS_ORACLE)(cell_compactness)


DEDUP_CURVE_MIN_T = 1  # thresholds t/10 for t in 1..9


def dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-burden curve across Jaccard thresholds — the tuning table a
    data engineer reads before pinning a dedup cutoff: for each t in
    0.1..0.9, how many near-dup pairs clear t, how many distinct docs
    those pairs touch, and that doc share of the corpus in exact ppm.
    One pair build (the shared df-capped shingle join), then a bounded
    9-way threshold fan-out over the near-dup-sized pair set — the curve
    costs one extra Exchange over q_dedup_ngram, never a second corpus
    scan. Thresholds compare the IEEE jaccard directly (no bucketing:
    floor(10*j) disagrees with j >= t at non-representable boundaries;
    direct comparison is what the production filter runs).

    Shape at 100 TB: pair volume is df-cap-bounded; the fan-out is x9 on
    pairs and x18 on endpoints, both tiny next to the shingle join that
    produced them."""
    with cached(_shingles_df(spark, sf_dir)) as base:
        pairs, sa, sb = _shingle_pair_stats(base)
        jac = F.col("n_common").cast("double") / (
            F.col("_na") + F.col("_nb") - F.col("n_common")
        )
        jp = (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .localCheckpoint(eager=True)
        )
    n_docs = table(spark, sf_dir, "documents").count()
    t = F.explode(F.sequence(F.lit(DEDUP_CURVE_MIN_T), F.lit(9))).alias("t10")
    fan = jp.select("doc_a", "doc_b", "jaccard", t).filter(
        F.col("jaccard") >= F.col("t10").cast("double") / 10.0
    )
    per_t = fan.groupBy("t10").agg(F.count(F.lit(1)).alias("n_pairs"))
    ends = (
        fan.select("t10", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("t10")
        .agg(F.countDistinct("d").alias("n_docs_covered"))
    )
    return per_t.join(ends, "t10").select(
        F.col("t10").cast("int").alias("t10"),
        "n_pairs",
        "n_docs_covered",
        F.expr(f"n_docs_covered * 1000000 div {n_docs}").alias("doc_share_ppm"),
    )


DEDUP_RATE_CURVE_ORACLE = (
    "WITH "
    + _SHINGLES_SQL
    + ","
    + _PAIR_COUNTS_SQL
    + f""",
    jp AS (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id),
    fan AS (
      SELECT t10, doc_a, doc_b
      FROM jp, (SELECT UNNEST(range({DEDUP_CURVE_MIN_T}, 10)) AS t10)
      WHERE jaccard >= CAST(t10 AS DOUBLE) / 10.0),
    ends AS (
      SELECT t10, COUNT(*) AS n_pairs FROM fan GROUP BY t10),
    docs_t AS (
      SELECT t10, COUNT(DISTINCT d) AS n_docs_covered
      FROM (SELECT t10, doc_a AS d FROM fan
            UNION ALL SELECT t10, doc_b FROM fan)
      GROUP BY t10)
    SELECT CAST(e.t10 AS INT) AS t10,
           CAST(e.n_pairs AS BIGINT) AS n_pairs,
           CAST(d.n_docs_covered AS BIGINT) AS n_docs_covered,
           CAST(d.n_docs_covered * 1000000
                // (SELECT COUNT(*) FROM documents) AS BIGINT) AS doc_share_ppm
    FROM ends e JOIN docs_t d USING (t10)
    """
)

register("q_dedup_rate_curve", oracle=DEDUP_RATE_CURVE_ORACLE)(dedup_rate_curve)


# theory literals for the LSH band S-curve, computed ONCE here and
# embedded in BOTH engines (the benford_audit shared-literal idiom —
# no runtime pow(), so no cross-engine float-parity surface): with
# r = NUM_PERM/LSH_BANDS rows per band and b = LSH_BANDS bands, a pair
# at Jaccard j is a candidate with P = 1 - (1 - j^r)^b; the literal is
# P at each decile midpoint in ppm.
_LSH_CURVE_THEORY = {
    d: int(
        round(
            1e6
            * (
                1.0
                - (1.0 - ((d + 0.5) / 10.0) ** (NUM_PERM // LSH_BANDS))
                ** LSH_BANDS
            )
        )
    )
    for d in range(10)
}


def lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED MinHash-LSH S-curve vs the closed-form theory — the
    harness that justifies the (bands, rows) choice the dedup pipeline
    runs: per exact-Jaccard decile, the fraction of pairs the band join
    actually surfaces as candidates beside 1-(1-j^r)^b at the decile
    midpoint. A band layout whose measured curve sags below theory in
    the 0.3+ deciles is silently losing near-dups; one that fires in the
    low deciles wastes verify budget — this measures both, the
    cms_topk/bloom_fpr_eval estimator rule applied to the LSH geometry
    itself.

    Ground truth needs pair-level exact Jaccard INCLUDING zero-overlap
    pairs (the curve's left tail), which exists only on a sample: a
    deterministic 1-in-MOD md5 doc sample (~TRUTH_SAMPLE_TARGET_DOCS
    docs, corpus-derived MOD, the recall-eval idiom) defines the pair
    universe; the minhash signatures and band buckets of sampled docs
    are computed by the SAME banded core as q_dedup_minhash
    (_minhash_parts), so the curve measures the production geometry,
    not a reimplementation. Theory values are import-time Python
    literals embedded in both engines — no runtime pow().

    Shape at 100 TB: every frame after the sample filter is
    TARGET-bounded (~300 docs, ~45k pairs, constant in corpus size);
    the only corpus-sized work is the shingle scan that feeds the
    sample filter."""
    s = _shingles_df(spark, sf_dir)
    mod = _truth_sample_mod(table(spark, sf_dir, "documents").count())

    def in_sample(col: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.encode(
                            F.concat(F.lit("lbc:"), F.col(col).cast("string")),
                            "UTF-8",
                        )
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            % mod
            == 0
        )

    with cached(s.where(in_sample("doc_id"))) as ss:
        ids = ss.select("doc_id").distinct().withColumn("_k", F.lit(1))
        pairs = (
            ids.select(F.col("doc_id").alias("doc_a"), "_k")
            .join(ids.select(F.col("doc_id").alias("doc_b"), "_k"), "_k")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .drop("_k")
        )
        sizes = ss.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        inter = (
            ss.select(F.col("doc_id").alias("doc_a"), "shingle")
            .join(ss.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        cand, _ = _minhash_parts(ss, "md5")
        jac = F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / (
            F.col("_na") + F.col("_nb") - F.coalesce(F.col("n_common"), F.lit(0))
        )
        full = (
            pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb")), "doc_b")
            .join(inter, ["doc_a", "doc_b"], "left")
            .join(cand.withColumn("_is_cand", F.lit(1)), ["doc_a", "doc_b"], "left")
            .select(
                F.least(F.floor(jac * 10).cast("int"), F.lit(9)).alias("decile"),
                F.coalesce(F.col("_is_cand"), F.lit(0)).alias("is_cand"),
            )
            .localCheckpoint(eager=True)
        )
    theory = F.element_at(
        F.array(*[F.lit(_LSH_CURVE_THEORY[d]) for d in range(10)]),
        F.col("decile") + 1,
    ).cast("long")
    return (
        full.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_cand").cast("long").alias("n_cand"),
        )
        .select(
            "decile",
            "n_pairs",
            "n_cand",
            F.expr("n_cand * 1000000 div n_pairs").alias("cand_rate_ppm"),
            theory.alias("theory_ppm"),
        )
    )


_LBC_SAMPLE_SQL = (
    "CAST('0x' || substr(md5('lbc:' || CAST(doc_id AS VARCHAR)), 1, 15) "
    "AS BIGINT) % (SELECT GREATEST(1, (COUNT(*) + "
    f"{TRUTH_SAMPLE_TARGET_DOCS - 1}) // {TRUTH_SAMPLE_TARGET_DOCS}) "
    "FROM documents) = 0"
)

_LSH_THEORY_CASE = "CASE decile " + " ".join(
    f"WHEN {d} THEN {_LSH_CURVE_THEORY[d]}" for d in range(10)
) + " END"

LSH_BAND_CURVE_ORACLE = (
    "WITH "
    + _SHINGLES_SQL
    + f""",
    ss AS (SELECT doc_id, shingle FROM shingles WHERE {_LBC_SAMPLE_SQL}),
    ids AS (SELECT DISTINCT doc_id FROM ss),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ids a JOIN ids b ON a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ss GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    perms AS (SELECT UNNEST(range(0, {NUM_PERM})) AS seed),
    m AS (
      SELECT doc_id, seed,
             MIN(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || shingle), 1, 15)
                      AS BIGINT)) AS mh
      FROM ss CROSS JOIN perms
      GROUP BY doc_id, seed),
    sig AS (SELECT doc_id, list(mh ORDER BY seed) AS ms FROM m GROUP BY doc_id),
    banded AS (
      SELECT doc_id, bb.band,
             array_to_string(ms[bb.band * {NUM_PERM // LSH_BANDS} + 1 :
                                bb.band * {NUM_PERM // LSH_BANDS} + {NUM_PERM // LSH_BANDS}],
                             '|') AS bucket
      FROM sig CROSS JOIN (SELECT UNNEST(range(0, {LSH_BANDS})) AS band) bb),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    full_pairs AS (
      SELECT LEAST(CAST(FLOOR(
               CAST(COALESCE(i.n_common, 0) AS DOUBLE)
               / (za.n_sh + zb.n_sh - COALESCE(i.n_common, 0)) * 10) AS INT), 9)
               AS decile,
             CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS is_cand
      FROM pairs p
      JOIN sizes za ON p.doc_a = za.doc_id
      JOIN sizes zb ON p.doc_b = zb.doc_id
      LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
      LEFT JOIN cand c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b)
    SELECT CAST(decile AS INT) AS decile,
           COUNT(*) AS n_pairs,
           CAST(SUM(is_cand) AS BIGINT) AS n_cand,
           CAST(SUM(is_cand) * 1000000 // COUNT(*) AS BIGINT) AS cand_rate_ppm,
           CAST({_LSH_THEORY_CASE} AS BIGINT) AS theory_ppm
    FROM full_pairs GROUP BY decile
    """
)

register("q_lsh_band_curve", oracle=LSH_BAND_CURVE_ORACLE)(lsh_band_curve)


# ---------------------------------------------------------------------------
# exact-substring duplication runs (library tier, r11 registration candidate)
# ---------------------------------------------------------------------------

MIN_SUBSTR_RUN = 4  # shared-shingle run length that counts as a real clone


def _pos_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional SHINGLE_K-word shingles: (doc_id, p, shingle), one row
    per token position — the positions-kept twin of ``_shingles_df``
    (same element_at codegen shape, no ``distinct``). The fan-out cap for
    the pair join counts POSITION rows (a shingle repeated inside one doc
    multiplies diagonal hits exactly like one repeated across docs), so
    the stop rule here is ``COUNT(*) <= MAX_SHINGLE_DF`` over this frame,
    not distinct-doc df."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    d = docs.select("doc_id", _tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= SHINGLE_K
    )
    pos = d.select(
        "doc_id", "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - (SHINGLE_K - 1))).alias("p"),
    ).withColumn("p", F.col("p").cast("long"))
    sh = F.concat_ws(
        " ", *[F.element_at(F.col("t"), (F.col("p") + k).cast("int")) for k in range(SHINGLE_K)]
    )
    return pos.select("doc_id", "p", sh.alias("shingle"))


def substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication detector (the SQL-expressible core of
    Lee et al.'s suffix-array dedup, arXiv:2107.06499): for every doc
    pair sharing positional shingles, the LONGEST run of consecutive
    shared shingles — i.e. the longest exactly-shared word span — found
    as gaps-and-islands along each alignment diagonal (pa - pb). Jaccard
    dedup (q_dedup_ngram) scores set overlap and misses a long verbatim
    quote inside two otherwise-different docs; this is the operator that
    catches it. A run of L shingles is an exactly-shared span of
    L + SHINGLE_K - 1 words; runs below MIN_SUBSTR_RUN are chance-level
    collisions on a natural corpus (measured bimodal on the fixtures:
    noise 1-3, planted clones >= 8).

    Plan shape at 100 TB: position rows are linear in corpus tokens; the
    pair join is bounded by the positional df cap (the stop-shingle
    rule); the islands windows partition by (pair, diagonal) — millions
    of small partitions, no global sort; output is near-dup-pair sized.
    Everything is integer arithmetic, so the DuckDB twin is bit-exact."""
    with cached(_pos_shingles(spark, sf_dir)) as base:
        return _substring_runs_frame(base).localCheckpoint(eager=True)


def _substring_runs_frame(base: DataFrame) -> DataFrame:
    """substring_runs' lazy plan over the positional shingle frame."""
    hot = (
        base.groupBy("shingle")
        .count()
        .filter(F.col("count") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    k = base.join(hot, "shingle", "left_anti")
    a = k.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"), "shingle")
    b = k.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"), "shingle")
    hits = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = hits.withColumn("isl", F.col("pa") - F.row_number().over(w))
    runs = isl.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.filter(F.col("run_len") >= MIN_SUBSTR_RUN)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_len").alias("max_run_shingles"),
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("run_len").alias("total_run_shingles"),
        )
        .select(
            "doc_a",
            "doc_b",
            "max_run_shingles",
            (F.col("max_run_shingles") + F.lit(SHINGLE_K - 1)).alias("max_run_words"),
            "n_runs",
            "total_run_shingles",
        )
    )


def substring_runs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed substring_runs plan — gen_plans/PLANS.md
    evidence for the no-BNLJ / no-global-sort claims (the public
    operator checkpoints its result, which hides the plan behind an
    ExistingRDD scan)."""
    return _substring_runs_frame(_pos_shingles(spark, sf_dir))


_POS_SHINGLES_SQL = f"""
  toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents
  ),
  posx AS (
    SELECT doc_id, t, UNNEST(range(1, CAST(len(t) AS BIGINT) - {SHINGLE_K - 2})) AS p
    FROM toks WHERE len(t) >= {SHINGLE_K}
  ),
  ps AS (
    SELECT doc_id, p,
           array_to_string(t[CAST(p AS INT):CAST(p AS INT) + {SHINGLE_K - 1}], ' ') AS shingle
    FROM posx
  )
"""

SUBSTRING_RUNS_ORACLE = (
    "WITH "
    + _POS_SHINGLES_SQL
    + f""",
    keep AS (
      SELECT shingle FROM ps GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    k AS (SELECT ps.doc_id, ps.p, ps.shingle FROM ps JOIN keep USING (shingle)),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, a.p - b.p AS diag
      FROM k a JOIN k b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    isl AS (
      SELECT doc_a, doc_b, diag,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
      FROM hits),
    runs AS (
      SELECT doc_a, doc_b, diag, isl, COUNT(*) AS run_len
      FROM isl GROUP BY doc_a, doc_b, diag, isl)
    SELECT doc_a, doc_b,
           CAST(MAX(run_len) AS BIGINT) AS max_run_shingles,
           CAST(MAX(run_len) + {SHINGLE_K - 1} AS BIGINT) AS max_run_words,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS total_run_shingles
    FROM runs WHERE run_len >= {MIN_SUBSTR_RUN}
    GROUP BY doc_a, doc_b
    """
)

# registered with its tested bit-exact oracle
register("q_substring_runs", oracle=SUBSTRING_RUNS_ORACLE)(substring_runs)


# ---------------------------------------------------------------------------
# IVF-PQ composed ANN recall (library tier, registered r11)
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 2  # cells probed per query (q_sim_ivf's constant)


def _ivf_pq_recall_at(
    spark: SparkSession, sf_dir: str, nprobe: int = IVFPQ_NPROBE
) -> DataFrame:
    """Recall@10 of the FULL production ANN path — IVF cell probe
    (q_sim_ivf's routing) composed with product-quantized ADC scoring
    (q_pq_recall's quantizer) — vs the exact float top-10. The two
    registered harnesses measure each approximation in isolation; this
    is the FAISS IVFPQ shape a 100 TB index actually serves, and its
    loss is NOT the product of the parts (a cell miss and a quantizer
    miss can hit the same neighbor). Each row also carries how many
    candidates the probe let through (n_cand) and that share of the
    corpus in exact ppm (scan_ppm) — recall AND cost on one line, the
    deploy decision in one frame.

    The IVF probe and the PQ build are inline copies of the registered
    tiers' logic; the draft oracle embeds the registered oracles' CTE
    text verbatim (pytest-asserted), so the copies cannot drift
    silently.

    Shape at 100 TB: centroids broadcast; ADC joins fan out over probed
    cells only (the nlist/nprobe pruning is applied BEFORE the per-
    (query, doc) aggregate — that is the whole point of IVF); codebooks
    and LUTs are constant-bounded broadcasts; ranking is a per-query
    window over the pruned candidate set."""
    assert SIM_QUANT_TOPK == 10, "exact baseline (q_sim_topk) is fixed at k=10"
    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )

    # --- IVF probe: label-cell centroids, top-nprobe cells per query ---
    cells = (
        e.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            (F.sum(F.col("val").cast("double").cast("decimal(18,8)")).cast("double")
             / F.count(F.lit(1))).alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["cval"]).alias("centroid"))
    )
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c_sim = _spark_dot_qc(F.col("q_emb"), F.col("centroid")) / (
        F.sqrt(_spark_dot(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(_spark_dot_cc(F.col("centroid"), F.col("centroid")))
    )
    qc = (
        qv.crossJoin(F.broadcast(cells))
        .select("q_id", "label", c_sim.alias("c_sim"))
        .withColumn(
            "c_rank",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("label"))
            ),
        )
        .filter(F.col("c_rank") <= nprobe)
        .select("q_id", "label")
    )
    cellcand = (
        qc.join(e.select("vec_id", "label"), "label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .localCheckpoint(eager=True)  # consumed by the ADC join AND n_cand
    )

    # --- PQ build (q_pq_recall's codebook; inline copy, see docstring) ---
    ie = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * PQ_GRID).cast("long")
        ).alias("iarr"),
    )
    arr = ie.select(
        "vec_id",
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("int").alias("s"),
                    F.slice("iarr", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
                )
                for s in range(PQ_SUBS)
            ]
        ).alias("sarr"),
    ).localCheckpoint()
    # rows(arr) == rows(e) (pure projection): count the pinned frame
    # instead of a second parquet scan (r13)
    n_vecs = arr.count()
    subs = arr.select("vec_id", F.explode("sarr").alias("ss")).select(
        "vec_id", F.col("ss.s").alias("s"), F.col("ss.sub").alias("sub")
    )
    seeds = (
        ie.select(
            "vec_id",
            F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")).alias("pri"),
        )
        .orderBy("pri", "vec_id")
        .limit(PQ_CODES)
        .select("vec_id", F.expr("row_number() OVER (ORDER BY pri, vec_id)").alias("code"))
    )
    cb0 = _pq_with_norm(
        subs.join(seeds, "vec_id").select("s", "code", F.col("sub").alias("carr"))
    ).localCheckpoint()
    # recenter fused into the assignment's Arrow pass (_pq_recenter_cb,
    # r13) — bit-identical cent, no corpus-sized join/posexplode
    cb1 = _pq_recenter_cb(subs, cb0).localCheckpoint()
    codes = _pq_assign(subs, cb1).localCheckpoint(eager=True)
    cn2 = codes.groupBy("vec_id").agg(F.sum("cn2_s").alias("cn2"))
    qsubs = subs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "s", F.col("sub").alias("qsub")
    )
    lut = qsubs.join(cb1, "s").select(
        "q_id",
        "s",
        "code",
        F.aggregate(
            F.zip_with("qsub", "carr", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dotv"),
    )
    qn2 = (
        ie.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.aggregate(
                "iarr", F.lit(0).cast("long"), lambda acc, v: acc + v * v
            ).alias("qn2"),
        )
    )

    # --- ADC restricted to probed cells (the composition) ---
    num = (
        cellcand.join(codes, "vec_id")
        .join(lut, ["q_id", "s", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dotv").alias("num"))
    )
    qcos = F.col("num").cast("double") / F.sqrt(
        (F.col("qn2") * F.col("cn2")).cast("double")
    )
    rw = W.partitionBy("q_id").orderBy(F.col("qcos").desc(), F.col("c_id"))
    ipq_top = (
        num.join(cn2, "vec_id")
        .join(qn2, "q_id")
        .filter((F.col("cn2") > 0) & (F.col("qn2") > 0))
        .select("q_id", F.col("vec_id").alias("c_id"), qcos.alias("qcos"))
        .withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= SIM_QUANT_TOPK)
    )
    exact_top = q_sim_topk(spark, sf_dir).select("q_id", "c_id")
    hits = exact_top.join(ipq_top.select("q_id", "c_id"), ["q_id", "c_id"])
    per_q = exact_top.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
    nh = hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    nc = cellcand.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        per_q.join(nh, "q_id", "left")
        .join(nc, "q_id")
        .select(
            "q_id",
            F.col("k").cast("int").alias("k"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("k")).alias("recall"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.expr(f"n_cand * 1000000 div {n_vecs - 1}").cast("long").alias("scan_ppm"),
        )
    )


def ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registration entry point for the composed IVF+PQ recall harness
    (see _ivf_pq_recall_at for the full design notes). The probe width
    is PINNED to IVFPQ_NPROBE here because IVF_PQ_RECALL_ORACLE embeds
    the registered _IVF_TOPK_CTE with that constant baked into its
    c_rank cut — a caller-supplied nprobe would silently diverge from
    the oracle (ADVICE r10 #3). The nprobe-saturation law test uses the
    private _ivf_pq_recall_at directly."""
    return _ivf_pq_recall_at(spark, sf_dir, IVFPQ_NPROBE)


# verbatim CTE reuse from the REGISTERED oracles (pytest-asserted): the
# PQ chain is sliced out of PQ_RECALL_ORACLE between its stable markers,
# so an edit to the registered oracle flows into this draft or fails the
# slice loudly — never drifts silently.
_PQ_SHARED_CTES = PQ_RECALL_ORACLE[
    PQ_RECALL_ORACLE.index("ie AS (") : PQ_RECALL_ORACLE.index(",\n    pq_top AS")
]

IVF_PQ_RECALL_ORACLE = f"""
    WITH {_EXACT_TOPK_CTE},
    {_IVF_TOPK_CTE},
    {_PQ_SHARED_CTES},
    cellcand AS (
      SELECT qc.q_id, e2.vec_id AS c_id
      FROM qc JOIN embeddings e2 ON qc.label = e2.label AND e2.vec_id <> qc.q_id),
    ipq AS (
      SELECT num.q_id, num.vec_id AS c_id,
             row_number() OVER (
               PARTITION BY num.q_id
               ORDER BY CAST(num AS DOUBLE)
                        / SQRT(CAST(qn2.qn2 * cn2.cn2 AS DOUBLE)) DESC,
                        num.vec_id) AS rnk
      FROM num
      JOIN cellcand cc ON num.q_id = cc.q_id AND num.vec_id = cc.c_id
      JOIN cn2 ON num.vec_id = cn2.vec_id
      JOIN qn2 ON num.q_id = qn2.q_id
      WHERE cn2.cn2 > 0 AND qn2.qn2 > 0),
    exact_top AS (SELECT q_id, c_id FROM r WHERE rnk <= 10),
    hits AS (
      SELECT e3.q_id, COUNT(*) AS n_hits
      FROM exact_top e3
      JOIN (SELECT q_id, c_id FROM ipq WHERE rnk <= {SIM_QUANT_TOPK}) p2
        ON e3.q_id = p2.q_id AND e3.c_id = p2.c_id
      GROUP BY e3.q_id),
    nc AS (SELECT q_id, COUNT(*) AS n_cand FROM cellcand GROUP BY q_id)
    SELECT e4.q_id, CAST(COUNT(*) AS INT) AS k,
           COALESCE(ANY_VALUE(h.n_hits), 0) AS n_hits,
           CAST(COALESCE(ANY_VALUE(h.n_hits), 0) AS DOUBLE) / COUNT(*) AS recall,
           CAST(ANY_VALUE(nc.n_cand) AS BIGINT) AS n_cand,
           CAST(ANY_VALUE(nc.n_cand) * 1000000
                // ((SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT) AS scan_ppm
    FROM exact_top e4
    LEFT JOIN hits h ON e4.q_id = h.q_id
    JOIN nc ON e4.q_id = nc.q_id
    GROUP BY e4.q_id
    """

# the entry point pins nprobe to the oracle's baked-in constant
# (ADVICE r10 #3)
register("q_ivf_pq_recall", oracle=IVF_PQ_RECALL_ORACLE)(ivf_pq_recall)


# ---------------------------------------------------------------------------
# cross-document line/boilerplate dedup (library tier, r11 candidate)
# ---------------------------------------------------------------------------

LINE_WORDS = 12  # fixture line = fixed 12-word chunk (see docstring)
LINE_BOILER_DF = 3  # a line in >= this many distinct docs is boilerplate


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LINE dedup — the standard C4/CCNet/RefinedWeb
    cleaning pass no other operator here covers: hash every line, count
    the DISTINCT documents each line appears in, and flag lines above
    LINE_BOILER_DF as boilerplate (headers, footers, navigation chrome,
    license blocks — content that repeats across documents line-for-line
    while the documents themselves are not duplicates). Output is the
    per-source audit a cleaning run reads: line volume, boilerplate
    instances and characters, and the drop rate in exact ppm.

    Line contract: the fixture corpus has no newlines, so a "line" here
    is a fixed LINE_WORDS-word chunk — the multimodal fake-decode
    pattern: the Spark-side plumbing (chunk explode, md5 line keys, the
    distinct-doc df aggregate, the instance join-back, the per-source
    rollup) is real and byte-exactly oracled, and a production corpus
    swaps ONE expression: line_dedup_newline below IS that swap
    (split(text, '\\n') feeding the same _line_audit body; VERDICT r10
    next-round #6), with its own oracle twin and a planted-boilerplate
    law test over a newline-bearing fixture.

    Shape at 100 TB: lines are linear in corpus tokens; the df count and
    the join-back both key on the 128-bit line md5 (never the line text
    — the shuffle carries 16-byte keys); one aggregate + one equi-join +
    one per-source rollup. The boilerplate side is df-heavy-hitter
    shaped: at scale the df >= T set is small and AQE broadcasts the
    join-back, the same dynamics as the stop-shingle rule."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    d = docs.select(
        "doc_id", "source", _tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 1)
    n_chunks = F.ceil(F.size("t") / F.lit(LINE_WORDS)).cast("int")
    ln = d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), n_chunks)).alias("p"),
        "t",
    ).select(
        "doc_id",
        "source",
        F.concat_ws(
            " ", F.slice("t", (F.col("p") - 1) * LINE_WORDS + 1, LINE_WORDS)
        ).alias("line"),
    )
    return _line_audit(ln)


def _line_audit(ln: DataFrame) -> DataFrame:
    """Shared back half of the line-dedup pass over a
    (doc_id, source, line) frame: md5 line keys (the shuffle carries
    16-byte hashes, never line text), distinct-doc df, the df-heavy-
    hitter join-back, and the per-source audit rollup. Both splitter
    variants (fixture chunker / production newline) feed this body —
    the 'swap ONE expression' contract made literal."""
    ln = ln.select(
        "doc_id", "source", F.md5(F.encode("line", "UTF-8")).alias("lh"),
        F.length("line").alias("n_chars_line"),
    )
    dfreq = ln.groupBy("lh").agg(
        F.countDistinct("doc_id").alias("line_df")
    ).filter(F.col("line_df") >= LINE_BOILER_DF)
    flagged = ln.join(dfreq, "lh", "left")
    per_source = flagged.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("line_df").isNotNull(), 1).otherwise(0)).alias(
            "boiler_instances"
        ),
        F.sum(
            F.when(F.col("line_df").isNotNull(), F.col("n_chars_line")).otherwise(0)
        ).alias("boiler_chars"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_lines",
        F.col("boiler_instances").cast("long").alias("boiler_instances"),
        F.col("boiler_chars").cast("long").alias("boiler_chars"),
        F.expr("boiler_instances * 1000000 div n_lines").alias("drop_ppm"),
    )


def line_dedup_newline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_dedup's PRODUCTION splitter (VERDICT r10 next-round #6): a
    line is a real newline-delimited line — split on '\\n', trimmed,
    empties dropped — feeding the identical _line_audit body. This is
    the variant a real corpus runs (C4/CCNet/RefinedWeb boilerplate-line
    removal); the registered chunker variant exists because the driver
    fixture has no newlines. Same 100 TB shape: lines linear in corpus
    bytes, one md5-keyed df aggregate + heavy-hitter join-back."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    ln = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", "\n")).alias("raw")
        )
        .select("doc_id", "source", F.trim("raw").alias("line"))
        .filter(F.length("line") >= 1)
    )
    return _line_audit(ln)


LINE_DEDUP_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents),
    ln0 AS (
      SELECT doc_id, source,
             array_to_string(
               t[CAST((p - 1) * {LINE_WORDS} + 1 AS INT)
                 :CAST(LEAST(p * {LINE_WORDS}, len(t)) AS INT)], ' ') AS line
      FROM toks, UNNEST(range(1, CAST((len(t) + {LINE_WORDS - 1}) // {LINE_WORDS} AS BIGINT) + 1)) u(p)
      WHERE len(t) >= 1),
    ln AS (
      SELECT doc_id, source, md5(line) AS lh, LENGTH(line) AS n_chars_line
      FROM ln0),
    dfreq AS (
      SELECT lh, COUNT(DISTINCT doc_id) AS line_df
      FROM ln GROUP BY lh HAVING COUNT(DISTINCT doc_id) >= {LINE_BOILER_DF}),
    flagged AS (
      SELECT ln.source, ln.doc_id, ln.n_chars_line, dfreq.line_df
      FROM ln LEFT JOIN dfreq ON ln.lh = dfreq.lh)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN line_df IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS boiler_instances,
           CAST(SUM(CASE WHEN line_df IS NOT NULL THEN n_chars_line ELSE 0 END)
                AS BIGINT) AS boiler_chars,
           CAST(SUM(CASE WHEN line_df IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS drop_ppm
    FROM flagged GROUP BY source
    """

# the newline variant's oracle reuses the registered oracle's audit tail
# VERBATIM (sliced between stable markers, the _PQ_SHARED_CTES idiom):
# only the ln0 line source differs, so an edit to the registered audit
# flows into this twin or fails the slice loudly — never drifts silently
_LINE_AUDIT_TAIL = LINE_DEDUP_ORACLE[LINE_DEDUP_ORACLE.index("ln AS (") :]

LINE_DEDUP_NEWLINE_ORACLE = (
    """
    WITH ln0 AS (
      SELECT doc_id, source, trim(l) AS line
      FROM (SELECT doc_id, source, UNNEST(string_split(text, chr(10))) AS l
            FROM documents) u
      WHERE LENGTH(trim(l)) >= 1),
    """
    + _LINE_AUDIT_TAIL
)

# the CHUNKER variant is the registered id (the driver fixture has no
# newlines); line_dedup_newline is the production-splitter library twin
# (VERDICT r10 next-round #6) sharing the _line_audit body
register("q_line_dedup", oracle=LINE_DEDUP_ORACLE)(line_dedup)


# ---------------------------------------------------------------------------
# doc_verbatim_share — rolling K-token-window verbatim coverage
# (library tier, r12 registration candidate)
# ---------------------------------------------------------------------------

VERBATIM_K = 8  # window length in tokens — long enough that a shared
#                 window is verbatim reuse, not phrase-level coincidence
VERBATIM_MIN_DOCS = 2  # a window in >= this many DISTINCT docs is shared
VERBATIM_HI_PPM = 500_000  # a doc over half verbatim is "mostly copied"


def doc_verbatim_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source VERBATIM-COVERAGE audit — the doc-granular exact-reuse
    metric none of the other dedup tiers gives (SCALE.md r11 scope note:
    the oracle-expressible alternative to corpus-global suffix-array
    span excision). Hash every rolling VERBATIM_K-token window of every
    document, count the DISTINCT documents each window appears in, and
    measure per document what fraction of ITS windows is shared with
    any other document: q_dedup_ngram answers "which PAIRS look alike",
    q_substring_runs "how long is a pair's longest shared run",
    q_line_dedup "which LINES repeat" — this answers "how much of each
    DOC is verbatim-reused anywhere", the number a cleaning run reads
    to pick excision vs whole-doc drop. Output is one row per source:
    doc/window volume, shared-window volume, exact-ppm verbatim share,
    docs carrying ANY shared window, and docs over VERBATIM_HI_PPM
    ("mostly copied" — the whole-doc-drop candidates).

    Shape at 100 TB: windows are linear in corpus tokens; the df count
    and the join-back key on the 128-bit window md5 (16-byte shuffle
    keys, never text — the line_dedup shape one granularity down); one
    aggregate + one equi-join + per-doc then per-source rollups, all
    map-side-combinable. The shared set (df >= 2) is boilerplate-sized,
    AQE sizes the join-back; no window functions, no global sort.

    Determinism: exact integer arithmetic end to end (counts, div-ppm);
    md5 over UTF-8 window text in both engines — bit-exact twin."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens(F.col("text")).alias("t")
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return _verbatim_share_on(docs)


def _verbatim_share_on(docs: DataFrame) -> DataFrame:
    """The per-source verbatim-share aggregate over an arbitrary
    tokenized (doc_id, source, t) frame — q_doc_verbatim_share's body,
    extracted (r12) so q_excise_impact can run the IDENTICAL audit over
    both the raw and the excised corpus."""
    w = docs.filter(F.size("t") >= VERBATIM_K).select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(1), F.size("t") - F.lit(VERBATIM_K - 1))
        ).alias("p"),
        "t",
    ).select(
        "doc_id",
        "source",
        F.md5(
            F.encode(F.concat_ws(" ", F.slice("t", F.col("p"), VERBATIM_K)), "UTF-8")
        ).alias("wh"),
    )
    shared = (
        w.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("wdf"))
        .filter(F.col("wdf") >= VERBATIM_MIN_DOCS)
        .select("wh")
    )
    per_doc = (
        w.join(shared.withColumn("is_shared", F.lit(1)), "wh", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("is_shared", F.lit(0))).alias("n_shared"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_windows").alias("total_windows"),
            F.sum("n_shared").alias("shared_windows"),
            F.sum(F.when(F.col("n_shared") > 0, 1).otherwise(0)).alias(
                "docs_with_shared"
            ),
            F.sum(
                F.when(
                    F.expr("n_shared * 1000000 div n_windows") >= VERBATIM_HI_PPM, 1
                ).otherwise(0)
            ).alias("docs_mostly_verbatim"),
        )
        .select(
            "source",
            "n_docs",
            F.col("total_windows").cast("long").alias("total_windows"),
            F.col("shared_windows").cast("long").alias("shared_windows"),
            F.expr("shared_windows * 1000000 div total_windows")
            .cast("long")
            .alias("verbatim_ppm"),
            F.col("docs_with_shared").cast("long").alias("docs_with_shared"),
            F.col("docs_mostly_verbatim").cast("long").alias("docs_mostly_verbatim"),
        )
    )


DOC_VERBATIM_SHARE_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents),
    w AS (
      SELECT doc_id, source,
             md5(array_to_string(
               t[CAST(p AS INT):CAST(p + {VERBATIM_K - 1} AS INT)], ' ')) AS wh
      FROM toks, UNNEST(range(1, CAST(len(t) - {VERBATIM_K - 2} AS BIGINT))) u(p)
      WHERE len(t) >= {VERBATIM_K}),
    shared AS (
      SELECT wh FROM w GROUP BY wh
      HAVING COUNT(DISTINCT doc_id) >= {VERBATIM_MIN_DOCS}),
    per_doc AS (
      SELECT w.doc_id, w.source,
             COUNT(*) AS n_windows,
             SUM(CASE WHEN shared.wh IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
      FROM w LEFT JOIN shared ON w.wh = shared.wh
      GROUP BY w.doc_id, w.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_windows) AS BIGINT) AS total_windows,
           CAST(SUM(n_shared) AS BIGINT) AS shared_windows,
           CAST(SUM(n_shared) * 1000000 // SUM(n_windows) AS BIGINT)
             AS verbatim_ppm,
           CAST(SUM(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_shared,
           CAST(SUM(CASE WHEN n_shared * 1000000 // n_windows
                              >= {VERBATIM_HI_PPM} THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_mostly_verbatim
    FROM per_doc GROUP BY source
    """

# registered once bit-exact at sf0.001 AND sf0.01, law-tested and
# 10x-measured
register("q_doc_verbatim_share", oracle=DOC_VERBATIM_SHARE_ORACLE)(
    doc_verbatim_share
)


# ---------------------------------------------------------------------------
# gopher_rules — the published Gopher repetition-free quality gate
# (library tier, r12 registration candidate)
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3  # mean word length bounds, tokens
GOPHER_MAX_MWL = 10
# the paper's "stop word" presence test: >= 2 distinct of these 8
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPS = 2


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the GOPHER quality rules (Rae et al. 2021,
    'Scaling Language Models: ...Gopher' — the publicly documented
    heuristic gate most later corpora reuse): word-count bounds, mean
    word length in [3,10], >=80% of words carrying an alphabetic
    character, <=10% symbol-ish words (hash/ellipsis), and >=2 distinct
    canonical stop words. q_quality_score extracts continuous features;
    THIS is the named rule gate with per-rule failure attribution — the
    table a curation run reads to see which rule is doing the cutting
    on which source. One row per source: doc count, per-rule fail
    counts, all-rules pass count and exact-ppm pass rate.

    Determinism: every rule is integer-exact — the mean-word-length
    band is 3*n <= total_token_chars <= 10*n (no division), the ratio
    rules are cross-multiplied (5*n_alpha >= 4*n, 10*n_sym <= n), the
    stop rule counts DISTINCT lowercase members of the fixed 8-word
    list. Shape at 100 TB: pure per-row expressions (one whole-stage
    codegen span) into one map-side-combinable per-source aggregate —
    zero shuffles beyond the |sources|-row agg exchange, no UDFs."""
    docs = table(spark, sf_dir, "documents").select(
        "source", _tokens(F.col("text")).alias("t")
    )
    n = F.size("t")
    tc = F.aggregate(
        F.transform("t", lambda x: F.length(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    n_alpha = F.size(F.filter("t", lambda x: x.rlike("[A-Za-z]")))
    n_sym = F.size(
        F.filter("t", lambda x: x.startswith("#") | x.contains("..."))
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform("t", lambda x: F.lower(x))),
            F.array(*[F.lit(s) for s in GOPHER_STOPS]),
        )
    )
    m = docs.select(
        "source",
        ((n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)).alias("r_words"),
        (
            (tc >= F.lit(GOPHER_MIN_MWL) * n) & (tc <= F.lit(GOPHER_MAX_MWL) * n)
        ).alias("r_wordlen"),
        (F.lit(5) * n_alpha >= F.lit(4) * n).alias("r_alpha"),
        (F.lit(10) * n_sym <= n).alias("r_symbol"),
        (n_stop >= GOPHER_MIN_STOPS).alias("r_stops"),
    )
    passed = (
        F.col("r_words")
        & F.col("r_wordlen")
        & F.col("r_alpha")
        & F.col("r_symbol")
        & F.col("r_stops")
    )
    fail = lambda c: F.sum(F.when(F.col(c), 0).otherwise(1))  # noqa: E731
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fail("r_words").alias("fail_words"),
            fail("r_wordlen").alias("fail_wordlen"),
            fail("r_alpha").alias("fail_alpha"),
            fail("r_symbol").alias("fail_symbol"),
            fail("r_stops").alias("fail_stops"),
            F.sum(F.when(passed, 1).otherwise(0)).alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            F.col("fail_words").cast("long").alias("fail_words"),
            F.col("fail_wordlen").cast("long").alias("fail_wordlen"),
            F.col("fail_alpha").cast("long").alias("fail_alpha"),
            F.col("fail_symbol").cast("long").alias("fail_symbol"),
            F.col("fail_stops").cast("long").alias("fail_stops"),
            F.col("n_pass").cast("long").alias("n_pass"),
            F.expr("n_pass * 1000000 div n_docs").cast("long").alias("pass_ppm"),
        )
    )


_GOPHER_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPS) + "]"

GOPHER_RULES_ORACLE = f"""
    WITH toks AS (
      SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents),
    m AS (
      SELECT source,
             len(t) AS n,
             list_sum(list_transform(t, x -> LENGTH(x))) AS tc,
             len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_filter(t, x -> x LIKE '#%' OR x LIKE '%...%')) AS n_sym,
             len(list_intersect(list_distinct(list_transform(t, x -> lower(x))),
                                {_GOPHER_STOPS_SQL})) AS n_stop
      FROM toks),
    r AS (
      SELECT source,
             (n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS}) AS r_words,
             (tc >= {GOPHER_MIN_MWL} * n AND tc <= {GOPHER_MAX_MWL} * n) AS r_wordlen,
             (5 * n_alpha >= 4 * n) AS r_alpha,
             (10 * n_sym <= n) AS r_symbol,
             (n_stop >= {GOPHER_MIN_STOPS}) AS r_stops
      FROM m)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r_words THEN 0 ELSE 1 END) AS BIGINT) AS fail_words,
           CAST(SUM(CASE WHEN r_wordlen THEN 0 ELSE 1 END) AS BIGINT) AS fail_wordlen,
           CAST(SUM(CASE WHEN r_alpha THEN 0 ELSE 1 END) AS BIGINT) AS fail_alpha,
           CAST(SUM(CASE WHEN r_symbol THEN 0 ELSE 1 END) AS BIGINT) AS fail_symbol,
           CAST(SUM(CASE WHEN r_stops THEN 0 ELSE 1 END) AS BIGINT) AS fail_stops,
           CAST(SUM(CASE WHEN r_words AND r_wordlen AND r_alpha AND r_symbol
                              AND r_stops THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN r_words AND r_wordlen AND r_alpha AND r_symbol
                              AND r_stops THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS pass_ppm
    FROM r GROUP BY source
    """

# r11 registration (same-round; see q_doc_verbatim_share note)
register("q_gopher_rules", oracle=GOPHER_RULES_ORACLE)(gopher_rules)


# ---------------------------------------------------------------------------
# embed_threshold_curve — embedding-cosine dup-burden tuning table
# (library tier, r12 registration candidate)
# ---------------------------------------------------------------------------

EMBED_CURVE_MIN_PCT = 20  # cosine thresholds t/100 for t in 20,30,..,90


def embed_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_rate_curve's missing sibling for EMBEDDING dedup: before
    pinning a semantic-dedup cosine cutoff, the tuning table — for each
    threshold t in 0.20..0.90, how many capped-builder pairs clear t,
    how many distinct vectors those pairs touch, and that share of the
    corpus in exact ppm. The Jaccard curve reads the shingle pair build;
    this reads the CAPPED edge build (embed_edges_capped — the plan a
    100 TB corpus actually runs, m*cap-bounded), so the curve costs one
    bounded 8-way fan-out over an edge set already linear in |V|, never
    a second all-pairs pass. Thresholds compare the IEEE cosine directly
    (the dedup_rate_curve lesson: bucketing disagrees with >= at
    non-representable boundaries; direct comparison is what the
    production filter runs) against integer-derived t/100 doubles —
    identical arithmetic in both engines.

    Shape at 100 TB: edge volume <= m*cap; fan-out x8 on pairs and x16
    on endpoints; one aggregate pair, output <= 8 rows.

    ADVICE r11 #3: the corpus size rides along as a 1-row broadcast
    scalar aggregate (the q_dedup_recall_eval idiom) instead of an eager
    driver-side count baked into the plan as a literal — one job
    cheaper per invocation, and the empty-embeddings divergence is gone
    by construction (no edges -> no rows -> neither engine's division
    ever evaluates, matching the oracle's lazily-evaluated subselect)."""
    edges = embed_edges_capped(spark, sf_dir).localCheckpoint(eager=True)
    nv = F.broadcast(
        table(spark, sf_dir, "embeddings").agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    t = F.explode(
        F.sequence(F.lit(EMBED_CURVE_MIN_PCT), F.lit(90), F.lit(10))
    ).alias("t_pct")
    fan = edges.select("vec_a", "vec_b", "cosine", t).filter(
        F.col("cosine") >= F.col("t_pct").cast("double") / 100.0
    )
    per_t = fan.groupBy("t_pct").agg(F.count(F.lit(1)).alias("n_pairs"))
    ends = (
        fan.select("t_pct", F.explode(F.array("vec_a", "vec_b")).alias("v"))
        .groupBy("t_pct")
        .agg(F.countDistinct("v").alias("n_vecs_covered"))
    )
    return per_t.join(ends, "t_pct").crossJoin(nv).select(
        F.col("t_pct").cast("int").alias("t_pct"),
        "n_pairs",
        "n_vecs_covered",
        F.expr("n_vecs_covered * 1000000 div n_vecs").alias("vec_share_ppm"),
    )


# the capped edge set is the REGISTERED q_dedup_embed_capped oracle's
# CTE chain verbatim (containment pytest-asserted) — the curve cannot
# drift from the registered edge builder
EMBED_THRESHOLD_CURVE_ORACLE = f"""
    WITH {_CAPPED_CELLS_LABEL_SQL},
    {_capped_window_sql('lcells', 'l')},
    fan AS (
      SELECT t_pct, vec_a, vec_b
      FROM lcapped, (SELECT UNNEST(range({EMBED_CURVE_MIN_PCT}, 100, 10)) AS t_pct)
      WHERE cosine >= CAST(t_pct AS DOUBLE) / 100.0),
    per_t AS (SELECT t_pct, COUNT(*) AS n_pairs FROM fan GROUP BY t_pct),
    ends AS (
      SELECT t_pct, COUNT(DISTINCT v) AS n_vecs_covered
      FROM (SELECT t_pct, UNNEST([vec_a, vec_b]) AS v FROM fan) u
      GROUP BY t_pct)
    SELECT CAST(per_t.t_pct AS INT) AS t_pct,
           CAST(per_t.n_pairs AS BIGINT) AS n_pairs,
           CAST(ends.n_vecs_covered AS BIGINT) AS n_vecs_covered,
           CAST(ends.n_vecs_covered * 1000000
                // (SELECT COUNT(*) FROM embeddings) AS BIGINT) AS vec_share_ppm
    FROM per_t JOIN ends ON per_t.t_pct = ends.t_pct
    """

register("q_embed_threshold_curve", oracle=EMBED_THRESHOLD_CURVE_ORACLE)(
    embed_threshold_curve
)


# ---------------------------------------------------------------------------
# kcore_audit — k-core of the capped near-dup graph (dense-template
# detection; library tier, r12 registration candidate)
# ---------------------------------------------------------------------------

KCORE_K = 3  # minimum within-core degree
KCORE_ROUNDS = 8  # fixed peel rounds; unrolled identically in the oracle


def _kcore_peel(sym: DataFrame, k: int, rounds: int):
    """Run `rounds` synchronous peel rounds of the k-core decomposition
    over a SYMMETRIZED edge frame (u, v): each round drops every vertex
    whose degree in the surviving graph is < k, then both endpoints'
    incident edges. Returns (surviving symmetric edges, converged) where
    converged certifies that ONE MORE round changes nothing — the
    kmeans/label_prop truncated-fixpoint contract, with the certificate
    in-band instead of assumed. Each round is one degree aggregate + two
    semi-joins on the (already near-dup-sized) edge set; localCheckpoint
    per round keeps the plan linear in rounds, the CC-loop lesson.

    Early exit (round-11 review): peeling is MONOTONE-decreasing, so an
    unchanged edge count certifies the fixpoint (subset + equal size =
    equal set) and later rounds are no-ops — break instead of paying
    the remaining rounds' jobs on an already-converged (often empty)
    set. Output is byte-identical either way, and the unrolled oracle
    agrees because its extra rounds are no-ops past the fixpoint too."""

    def _round(edges: DataFrame) -> DataFrame:
        keep = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        return (
            edges.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
        )

    alive = sym.localCheckpoint(eager=True)
    n_prev = alive.count()
    for _ in range(rounds):
        alive = _round(alive).localCheckpoint(eager=True)
        n = alive.count()
        if n == n_prev:
            return alive, True
        n_prev = n
    # budget exhausted without an in-loop stability read: one extra
    # certificate round, exactly the oracle's e{rounds+1}
    converged = _round(alive).count() == n_prev
    return alive, converged


def _kcore_peel_cells(
    sym_cell: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """Cell-local form of _kcore_peel (r12 optimization round): the edge
    set is cell-blocked (both endpoints of every capped edge share the
    label cell), so the peel decomposes exactly into independent per-cell
    fixpoints — one shuffle groups each cell's symmetric edges and a
    per-cell numpy loop runs the SAME synchronous rounds the distributed
    loop ran globally (guide §4.2: Spark distributes, vectorized native
    code does the group-local work). ``sym_cell`` is (cell, u, v)
    symmetric; returns (u, v, converged) — the surviving symmetric
    edges plus each cell's truncated-fixpoint certificate on every row.

    Robustness: |E_cell| <= n_cell*cap bounds edges per MEMBER, but a
    hot label's n_cell is unbounded, so a cell over ``BOUNDS["kcore"]``
    symmetric edges sends the whole graph to the distributed _kcore_peel
    above, stamped with its global certificate — identical output
    contract.

    Equivalence to the distributed loop (which stays above as the tested
    reference): peeling is monotone and cells are independent, so a cell
    that stabilizes at round r < rounds is unchanged by the remaining
    global rounds — per-cell early exit yields the same edge set, and
    the global certificate is the AND of the per-cell ones (a cell whose
    core empties is converged, so zero-row cells drop out of the AND
    harmlessly). The distributed loop paid 2 driver-blocking jobs per
    round (checkpoint + count: ~16 jobs on the 8-round budget); this is
    one ``group_local.cell_local`` pass over the bounded capped edge
    set."""

    def _fallback(pin: DataFrame) -> DataFrame:
        alive, converged = _kcore_peel(pin.select("u", "v"), k, rounds)
        return alive.withColumn("converged", F.lit(converged))

    def _peel(t):
        import numpy as np
        import pyarrow as pa

        u, v = (t.column(c).to_numpy().astype(np.int64) for c in ("u", "v"))

        def survivors(uu, vv):
            ids, inv = np.unique(uu, return_inverse=True)
            deg = np.bincount(inv)
            kept = ids[deg >= k]
            mask = np.isin(uu, kept) & np.isin(vv, kept)
            return uu[mask], vv[mask]

        converged = False
        n_prev = len(u)
        for _ in range(rounds):
            u, v = survivors(u, v)
            if len(u) == n_prev:
                converged = True
                break
            n_prev = len(u)
        else:
            # budget exhausted: one extra certificate round, exactly the
            # oracle's e{rounds+1} — alive is NOT advanced by it
            u2, _v2 = survivors(u, v)
            converged = len(u2) == n_prev
        return pa.table({"u": u, "v": v, "converged": np.repeat(converged, len(u))})

    return group_local.cell_local(
        sym_cell, "cell", "kcore", _peel, "u long, v long, converged boolean", _fallback
    )[0]


def kcore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label-cell {KCORE_K}-core audit of the capped near-dup graph —
    the DENSE-cluster detector the component tiers cannot be: connected
    components (and the capped CC/dedup-group ids) merge anything
    reachable, so a chain of borderline pairs reads as one big cluster;
    the k-core strips every tree/chain fringe and keeps only vertices
    with >= {KCORE_K} surviving neighbors — where template spam, mirror
    farms and boilerplate families live. Output is one row per label
    cell: members, core vertices, core edges, and the convergence
    certificate (did one more peel round change nothing) — the
    estimator-with-its-error rule applied to a truncated fixpoint.

    Peel contract: a FIXED {KCORE_ROUNDS} synchronous rounds, unrolled
    CTE-for-CTE in the DuckDB twin (the kmeans/label_prop idiom), with
    `converged` computed IN-QUERY rather than assumed; the k-core
    fixpoint is order-independent, so the truncation is the only
    approximation and it is certified per run.

    Shape at 100 TB: the edge set is the capped builder's (<= m*cap,
    linear in |V|); each round is one map-side-combinable degree
    aggregate + two semi-joins on that bounded set; per-round
    localCheckpoint keeps the plan linear in rounds (the CC-loop
    lesson). The label rollup joins the |V|-row vertex list once."""
    edges = embed_edges_capped(spark, sf_dir).select("vec_a", "vec_b")
    sym = edges.select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("v")
    ).unionByName(edges.select(F.col("vec_b").alias("u"), F.col("vec_a").alias("v")))
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    # cell-local peel (r12 optimization): attach u's label (== v's by the
    # capped builder's blocking) and run the per-cell numpy fixpoint —
    # identical surviving edges and certificate to _kcore_peel's
    # distributed loop (pytest-asserted), ~16 blocking jobs fewer
    cell_of = emb.select(F.col("vec_id").alias("u"), F.col("label").alias("cell"))
    peeled = _kcore_peel_cells(
        sym.join(cell_of, "u"), KCORE_K, KCORE_ROUNDS
    ).localCheckpoint(eager=True)
    row = peeled.agg(F.min("converged").alias("c")).collect()[0]["c"]
    converged = True if row is None else bool(row)
    alive = peeled.select("u", "v")
    members = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    core_nodes = alive.select("u").distinct()
    core_lab = (
        emb.join(core_nodes, emb.vec_id == core_nodes.u)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_core"))
    )
    # the capped builder blocks by label, so both endpoints share the
    # cell and counting by u's label double-counts each undirected edge
    edge_lab = (
        alive.join(emb, alive.u == emb.vec_id)
        .groupBy("label")
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("n_core_edges"))
    )
    return (
        members.join(core_lab, "label", "left")
        .join(edge_lab, "label", "left")
        .select(
            "label",
            "n_members",
            F.coalesce("n_core", F.lit(0)).cast("long").alias("n_core"),
            F.coalesce("n_core_edges", F.lit(0)).cast("long").alias("n_core_edges"),
            F.lit(converged).alias("converged"),
        )
    )


def _kcore_oracle() -> str:
    """Unrolled DuckDB twin: e0 = the REGISTERED capped edge set
    symmetrized, then KCORE_ROUNDS peel rounds as k{i}/e{i+1} CTE pairs,
    one extra round for the convergence certificate."""
    # AS MATERIALIZED is load-bearing: each e{i} is referenced twice
    # (by k{i} and e{i+1}), so inlined CTEs would DOUBLE the lcapped
    # scan subtree per round — 2^(rounds+1) parquet opens blew the fd
    # limit at rounds=8. Materialization keeps the chain linear, the
    # SQL analog of the Spark loop's per-round localCheckpoint.
    parts = [
        "e0 AS MATERIALIZED (SELECT vec_a AS u, vec_b AS v FROM lcapped"
        " UNION ALL SELECT vec_b AS u, vec_a AS v FROM lcapped)"
    ]
    for i in range(KCORE_ROUNDS + 1):  # +1: certificate round
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT u FROM e{i} GROUP BY u"
            f" HAVING COUNT(*) >= {KCORE_K})"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{i} e"
            f" JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u)"
        )
    n = KCORE_ROUNDS
    tail = f"""
    conv AS (SELECT (SELECT COUNT(*) FROM e{n + 1}) = (SELECT COUNT(*) FROM e{n})
                    AS converged),
    members AS (SELECT label, COUNT(*) AS n_members FROM embeddings GROUP BY label),
    core_nodes AS (SELECT DISTINCT u FROM e{n}),
    core_lab AS (
      SELECT emb.label, COUNT(*) AS n_core
      FROM embeddings emb JOIN core_nodes c ON emb.vec_id = c.u
      GROUP BY emb.label),
    edge_lab AS (
      SELECT emb.label, COUNT(*) // 2 AS n_core_edges
      FROM e{n} JOIN embeddings emb ON e{n}.u = emb.vec_id
      GROUP BY emb.label)
    SELECT m.label,
           CAST(m.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(core_lab.n_core, 0) AS BIGINT) AS n_core,
           CAST(COALESCE(edge_lab.n_core_edges, 0) AS BIGINT) AS n_core_edges,
           (SELECT converged FROM conv) AS converged
    FROM members m
    LEFT JOIN core_lab ON m.label = core_lab.label
    LEFT JOIN edge_lab ON m.label = edge_lab.label
    """
    return (
        f"WITH {_CAPPED_CELLS_LABEL_SQL},\n    "
        + _capped_window_sql("lcells", "l")
        + ",\n    "
        + ",\n    ".join(parts)
        + ","
        + tail
    )


KCORE_AUDIT_ORACLE = _kcore_oracle()

register("q_kcore_audit", oracle=KCORE_AUDIT_ORACLE)(kcore_audit)


# ---------------------------------------------------------------------------
# verbatim_excise — the span-level cleaning ACTION to the r11 audits'
# decision (VERDICT r11 next-round #2; drafted and law-tested early in
# r12):
# q_doc_verbatim_share says HOW MUCH of each doc is verbatim-reused,
# q_line_dedup says WHICH lines repeat — this one materializes the
# CLEANED corpus: every shared rolling-window span cut from every doc
# except its first occurrence.
# ---------------------------------------------------------------------------


def _excise_covered(docs: DataFrame, covered: DataFrame) -> DataFrame:
    """Shared positional-reconstruction back half of the token-level
    excision transforms (verbatim / decontam / intradoc): given per-doc
    token arrays ``docs`` (doc_id, source, t) and the cut-position set
    ``covered`` (doc_id, pos — 1-based token positions, duplicates
    allowed), emit (doc_id, source, n_tokens, kept_tokens, cleaned)
    with cleaned = the surviving tokens in original order, space-joined
    ('' when everything was cut).

    covered is the small product of each caller's EXPENSIVE subtree
    (df/owner aggregates or decontam probe joins — corpus-keyed
    shuffles) and is referenced by three consumers (the kept anti-join
    and both affected/unaffected splits via aff_ids) — checkpoint it
    eagerly so the producing chain runs ONCE, not three times
    (measured: 11 parquet scans of documents without it). Unaffected
    docs pass through as a narrow map-side array_join; affected docs
    posexplode -> (doc_id, pos) anti-join -> one ordered collect per
    doc, all keyed by doc_id so the shuffle is bounded by the affected
    slice, never the corpus."""
    covered = covered.distinct().localCheckpoint(eager=True)
    aff_ids = covered.select("doc_id").distinct()
    aff = docs.join(aff_ids, "doc_id")
    kept = (
        aff.select("doc_id", F.posexplode("t").alias("i", "tok"))
        .select("doc_id", (F.col("i") + 1).alias("pos"), "tok")
        .join(covered, ["doc_id", "pos"], "left_anti")
    )
    recon = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned"),
    )
    aff_out = (
        aff.select("doc_id", "source", F.size("t").alias("n_tokens"))
        .join(recon, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        )
    )
    unaff = docs.join(aff_ids, "doc_id", "left_anti").select(
        "doc_id",
        "source",
        F.size("t").alias("n_tokens"),
        F.size("t").alias("kept_tokens"),
        F.array_join("t", " ").alias("cleaned"),
    )
    return aff_out.unionByName(unaff)


def _token_excise_audit(corpus: DataFrame) -> DataFrame:
    """Shared audit projection over an excised-corpus frame (doc_id,
    source, n_tokens, kept_tokens, cleaned): token totals, kept/cut
    counts, exact-ppm cut share, and the cleaned text pinned as md5 +
    char length (fixed compare width, every surviving byte covered).
    Bit-determinism: integer arithmetic + md5 over UTF-8 in both
    engines."""
    return corpus.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("kept_tokens").cast("long").alias("kept_tokens"),
        (F.col("n_tokens") - F.col("kept_tokens")).cast("long").alias("cut_tokens"),
        F.expr("(n_tokens - kept_tokens) * 1000000 div n_tokens")
        .cast("long")
        .alias("cut_ppm"),
        F.length("cleaned").cast("long").alias("cleaned_chars"),
        F.md5(F.encode("cleaned", "UTF-8")).alias("cleaned_md5"),
    )


def _pos_windows(docs: DataFrame, k: int, hashed: bool) -> DataFrame:
    """Shared positional rolling-window build of the excision family:
    one row per window start over a tokenized (doc_id, ..., t) frame —
    (doc_id, p, wh) with wh = md5 of the space-joined k-token window
    when ``hashed`` (16-byte shuffle keys, the q_doc_verbatim_share
    construction), else (doc_id, p, shingle) carrying the window text
    itself (q_decontam's probe needs the raw shingle to meet the
    broadcast eval set). Extracted r12 (code-review finding): the three
    sibling corpus builders previously triplicated this block and could
    drift independently."""
    win = F.concat_ws(" ", F.slice("t", F.col("p"), k))
    key = F.md5(F.encode(win, "UTF-8")).alias("wh") if hashed else win.alias("shingle")
    return (
        docs.filter(F.size("t") >= k)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - F.lit(k - 1))).alias("p"),
            "t",
        )
        .select("doc_id", "p", key)
    )


def _footprint(cut: DataFrame, k: int) -> DataFrame:
    """Expand cut window STARTS (doc_id, p) to their covered token
    POSITIONS (doc_id, pos, 1-based, duplicates allowed) — the
    k-position footprint every excision sibling feeds to
    _excise_covered (which dedups and checkpoints it)."""
    return cut.select(
        "doc_id",
        F.explode(F.sequence(F.col("p"), F.col("p") + F.lit(k - 1))).alias("pos"),
    )


def _excise_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared front of the token-level excision transforms: tokenized
    documents (doc_id, source, t), spread by doc_id (the fixture is a
    single file; at 100 TB the scan has thousands of splits and this
    repartition is the reconstruction's co-location). The size filter
    drops NULL-text docs only (NULL-propagating split/len agree across
    engines); empty or whitespace-only text tokenizes to the
    single-empty-token array [''] in BOTH engines and passes through as
    an untouched 1-token row — pinned by
    test_excision_family_degenerate_docs."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", _tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 1)
    )
    return docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def verbatim_excise_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-EXCISED corpus: per document, the text with every SHARED
    rolling VERBATIM_K-token window cut out, keep-first-occurrence.

    Semantics (the q_ngram_novelty keep-first rule, per WINDOW): a
    window (same md5 as q_doc_verbatim_share's) appearing in >=
    VERBATIM_MIN_DOCS distinct docs is owned by its MIN(doc_id); every
    occurrence of it OUTSIDE the owner doc marks its VERBATIM_K token
    positions as cut. A doc's cleaned text is its surviving tokens in
    original order, space-joined (token-normalized text, the same
    normalization _tokens applies on the way in). Returns one row per
    document (>= 1 token): doc_id, source, n_tokens, kept_tokens,
    cleaned (the surviving text — '' when everything was cut).

    Shape at 100 TB: the window build, df/owner aggregate and cut
    join-back are q_doc_verbatim_share's machinery (16-byte md5 shuffle
    keys, linear in corpus tokens). The NEW cost — positional
    reconstruction — is confined to AFFECTED docs only: unaffected docs
    (the overwhelming majority once boilerplate df-concentration kicks
    in) pass through as a narrow map-side array_join, no shuffle beyond
    the anti-join probe; affected docs posexplode -> anti-join on
    (doc_id, pos) -> one ordered collect per doc, all keyed by doc_id
    so the shuffle is bounded by the affected slice, never the corpus.
    No window functions, no global sort, no driver-side loop."""
    docs = _excise_docs(spark, sf_dir)
    return _excise_from_hit(docs, _verbatim_hit(docs))


def _verbatim_hit(docs: DataFrame) -> DataFrame:
    """The shared-window OCCURRENCE frame of the verbatim excision:
    every (doc_id, p) window position whose md5 is shared (df >=
    VERBATIM_MIN_DOCS distinct docs), tagged with the owning MIN
    doc_id. This is the expensive subtree — one corpus window build +
    one df/owner aggregate — that both q_verbatim_excise's cut and
    q_excise_impact's before-audit derive from; q_excise_impact
    checkpoints it so the corpus is windowed ONCE for both arms."""
    w = _pos_windows(docs, VERBATIM_K, hashed=True)
    owner = (
        w.groupBy("wh")
        .agg(
            F.countDistinct("doc_id").alias("wdf"),
            F.min("doc_id").alias("owner_doc"),
        )
        .filter(F.col("wdf") >= VERBATIM_MIN_DOCS)
        .select("wh", "owner_doc")
    )
    return w.join(owner, "wh").select("doc_id", "p", "owner_doc")


def _excise_from_hit(docs: DataFrame, hit: DataFrame) -> DataFrame:
    """Apply the keep-first-occurrence rule to a _verbatim_hit frame
    (cut = shared positions OUTSIDE the owner doc) and reconstruct the
    excised corpus."""
    cut = hit.filter(F.col("doc_id") != F.col("owner_doc")).select("doc_id", "p")
    return _excise_covered(docs, _footprint(cut, VERBATIM_K))


def verbatim_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_verbatim_excise: the excised corpus's per-doc audit row —
    token totals, kept/cut counts, exact-ppm cut share, and the cleaned
    text as md5 + char length (the corpus itself comes from
    verbatim_excise_corpus; hashing keeps the compare payload fixed-width
    while still pinning every surviving byte). Bit-determinism: integer
    arithmetic + md5 over UTF-8 in both engines."""
    return _token_excise_audit(verbatim_excise_corpus(spark, sf_dir))


# the toks + window-hash CTEs are the REGISTERED q_doc_verbatim_share
# oracle's text verbatim (sliced between stable markers, the
# _LINE_AUDIT_TAIL idiom), with ONE anchored edit: the window CTE also
# carries its position p (the registered audit drops it; excision needs
# it to locate the cut span). The anchor assert fails loudly if the
# registered text ever drifts — the siblings cannot diverge silently.
_VERBATIM_W_CTES = DOC_VERBATIM_SHARE_ORACLE[
    DOC_VERBATIM_SHARE_ORACLE.index("WITH toks AS") : DOC_VERBATIM_SHARE_ORACLE.index(
        "shared AS ("
    )
]
_W_P_ANCHOR = "SELECT doc_id, source,\n             md5("
assert _VERBATIM_W_CTES.count(_W_P_ANCHOR) == 1, (
    "q_doc_verbatim_share oracle drifted: window-CTE anchor not found"
)
_VERBATIM_W_P_CTES = _VERBATIM_W_CTES.replace(
    _W_P_ANCHOR,
    "SELECT doc_id, source, CAST(p AS BIGINT) AS p,\n             md5(",
)

VERBATIM_EXCISE_ORACLE = (
    _VERBATIM_W_P_CTES
    + f"""owner AS (
      SELECT wh, MIN(doc_id) AS owner_doc
      FROM w GROUP BY wh
      HAVING COUNT(DISTINCT doc_id) >= {VERBATIM_MIN_DOCS}),
    cut AS (
      SELECT w.doc_id, w.p
      FROM w JOIN owner ON w.wh = owner.wh
      WHERE w.doc_id <> owner.owner_doc),
    covered AS (
      SELECT DISTINCT doc_id, CAST(p + q AS BIGINT) AS pos
      FROM cut, UNNEST(range(0, {VERBATIM_K})) u2(q)),
    tok AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pos, t[CAST(p AS INT)] AS tok
      FROM toks, UNNEST(range(1, len(t) + 1)) u3(p)
      WHERE len(t) >= 1),
    kept AS (
      SELECT k.doc_id, k.pos, k.tok
      FROM tok k LEFT JOIN covered c
        ON k.doc_id = c.doc_id AND k.pos = c.pos
      WHERE c.pos IS NULL),
    recon AS (
      SELECT doc_id, COUNT(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id),
    base AS (
      SELECT doc_id, source, len(t) AS n_tokens
      FROM toks WHERE len(t) >= 1)
    SELECT b.doc_id, b.source,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(b.n_tokens - COALESCE(r.kept_tokens, 0) AS BIGINT) AS cut_tokens,
           CAST((b.n_tokens - COALESCE(r.kept_tokens, 0)) * 1000000
                // b.n_tokens AS BIGINT) AS cut_ppm,
           CAST(LENGTH(COALESCE(r.cleaned, '')) AS BIGINT) AS cleaned_chars,
           md5(COALESCE(r.cleaned, '')) AS cleaned_md5
    FROM base b LEFT JOIN recon r ON b.doc_id = r.doc_id
    """
)

# registered once its brute-force, planted-fixture and cross-operator
# laws plus bit-exact oracle parity at sf0.001 AND sf0.01 held
# (tests/test_round12_ops.py)
register("q_verbatim_excise", oracle=VERBATIM_EXCISE_ORACLE)(verbatim_excise)


# ---------------------------------------------------------------------------
# line_excise — the C4-style boilerplate-line removal ACTION to
# q_line_dedup's audit (drafted early in r12, registered same-round).
# Distinct semantics from verbatim_excise: a boilerplate line
# (df >= LINE_BOILER_DF) is dropped from EVERY document including the
# first — the C4/CCNet/RefinedWeb rule; navigation chrome is noise in
# every copy, there is no "owner" whose copy is content.
# ---------------------------------------------------------------------------


def _line_excise_body(ln: DataFrame, sep: str) -> DataFrame:
    """Shared back half of the line-excision pass over a
    (doc_id, source, p, line) frame:
    md5 line keys, the distinct-doc df >= LINE_BOILER_DF boilerplate
    set (q_line_dedup's rule), an anti-join keeping content lines, and
    per-doc ordered reconstruction. Docs whose every line is boilerplate
    survive as '' rows (the verbatim_excise contract). Both splitter
    variants feed this body — the line_dedup 'swap ONE expression'
    contract carried over to the transform."""
    keyed = ln.select(
        "doc_id", "source", "p", "line",
        F.md5(F.encode("line", "UTF-8")).alias("lh"),
    )
    boiler = (
        keyed.groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= LINE_BOILER_DF)
        .select("lh")
    )
    totals = keyed.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    kept = keyed.join(boiler, "lh", "left_anti")
    recon = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("cleaned"),
    )
    return (
        totals.join(recon, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce("kept_lines", F.lit(0)).cast("long").alias("kept_lines"),
            (F.col("n_lines") - F.coalesce("kept_lines", F.lit(0)))
            .cast("long")
            .alias("cut_lines"),
            F.expr(
                "(n_lines - coalesce(kept_lines, 0)) * 1000000 div n_lines"
            )
            .cast("long")
            .alias("cut_ppm"),
            F.length(F.coalesce("cleaned", F.lit(""))).cast("long").alias(
                "cleaned_chars"
            ),
            F.md5(F.encode(F.coalesce("cleaned", F.lit("")), "UTF-8")).alias(
                "cleaned_md5"
            ),
        )
    )


def line_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_line_excise: the boilerplate-line-EXCISED corpus, per-doc
    audit row. Lines are q_line_dedup's fixed LINE_WORDS-word chunks
    (the fixture-splitter contract; line_excise_newline is the
    production splitter). A line in >= LINE_BOILER_DF distinct docs is
    cut from ALL of them; surviving lines re-join in original order
    with ' ' (the chunker's separator — joined chunks reproduce the
    token-normalized text exactly, so an untouched doc's cleaned_md5
    equals md5 of its space-joined tokens).

    Shape at 100 TB: line volume is linear in corpus tokens; the df
    aggregate and anti-join key on 16-byte md5s; the boilerplate set is
    df-heavy-hitter-sized so AQE broadcasts the anti-join probe; the
    ordered per-doc collect carries each doc's own lines only (doc_id
    keyed). No windows, no global sorts, no driver loop."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    d = docs.select(
        "doc_id", "source", _tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 1)
    n_chunks = F.ceil(F.size("t") / F.lit(LINE_WORDS)).cast("int")
    ln = d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), n_chunks)).alias("p"),
        "t",
    ).select(
        "doc_id",
        "source",
        "p",
        F.concat_ws(
            " ", F.slice("t", (F.col("p") - 1) * LINE_WORDS + 1, LINE_WORDS)
        ).alias("line"),
    )
    return _line_excise_body(ln, " ")


def line_excise_newline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_excise's PRODUCTION splitter (the line_dedup_newline twin):
    real newline-delimited lines — split on '\\n', trimmed, empties
    dropped — cut wherever boilerplate, survivors re-joined with '\\n'.
    Cleaned text is line-normalized (trim + empty-drop), the same
    normalization the audit counts; a corpus cleaned by this function
    re-audits as boilerplate-free under line_dedup_newline."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    raw = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", "\n")).alias("p0", "raw"),
    ).select(
        "doc_id", "source", (F.col("p0") + 1).alias("p"), F.trim("raw").alias("line")
    ).filter(F.length("line") >= 1)
    return _line_excise_body(raw, "\n")


# the toks/ln0/ln CTE chain is the REGISTERED q_line_dedup oracle's text
# verbatim (sliced between stable markers), with ONE anchored edit
# carrying the chunk position p through the md5 keying — same idiom as
# VERBATIM_EXCISE_ORACLE's window-position edit
_LINE_EXCISE_SRC_CTES = LINE_DEDUP_ORACLE[
    LINE_DEDUP_ORACLE.index("WITH toks AS") : LINE_DEDUP_ORACLE.index("dfreq AS (")
]
_LN0_P_ANCHOR = "SELECT doc_id, source,\n             array_to_string("
assert _LINE_EXCISE_SRC_CTES.count(_LN0_P_ANCHOR) == 1, (
    "q_line_dedup oracle drifted: ln0-CTE anchor not found"
)
_LN_P_ANCHOR = "SELECT doc_id, source, md5(line) AS lh"
assert _LINE_EXCISE_SRC_CTES.count(_LN_P_ANCHOR) == 1, (
    "q_line_dedup oracle drifted: ln-CTE anchor not found"
)
_LINE_EXCISE_SRC_P = _LINE_EXCISE_SRC_CTES.replace(
    _LN0_P_ANCHOR,
    "SELECT doc_id, source, CAST(p AS BIGINT) AS p,\n             array_to_string(",
).replace(
    _LN_P_ANCHOR,
    "SELECT doc_id, source, p, line, md5(line) AS lh",
)

LINE_EXCISE_ORACLE = (
    _LINE_EXCISE_SRC_P
    + f"""boiler AS (
      SELECT lh FROM ln GROUP BY lh
      HAVING COUNT(DISTINCT doc_id) >= {LINE_BOILER_DF}),
    totals AS (
      SELECT doc_id, source, COUNT(*) AS n_lines FROM ln
      GROUP BY doc_id, source),
    kept AS (
      SELECT ln.doc_id, ln.p, ln.line
      FROM ln LEFT JOIN boiler ON ln.lh = boiler.lh
      WHERE boiler.lh IS NULL),
    recon AS (
      SELECT doc_id, COUNT(*) AS kept_lines,
             string_agg(line, ' ' ORDER BY p) AS cleaned
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id, t.source,
           CAST(t.n_lines AS BIGINT) AS n_lines,
           CAST(COALESCE(r.kept_lines, 0) AS BIGINT) AS kept_lines,
           CAST(t.n_lines - COALESCE(r.kept_lines, 0) AS BIGINT) AS cut_lines,
           CAST((t.n_lines - COALESCE(r.kept_lines, 0)) * 1000000
                // t.n_lines AS BIGINT) AS cut_ppm,
           CAST(LENGTH(COALESCE(r.cleaned, '')) AS BIGINT) AS cleaned_chars,
           md5(COALESCE(r.cleaned, '')) AS cleaned_md5
    FROM totals t LEFT JOIN recon r ON t.doc_id = r.doc_id
    """
)

# the newline variant's oracle reuses the chunker excise oracle's tail
# verbatim with ONE anchored edit (the separator), plus its own raw-line
# source CTEs — positions p index RAW split output (pre-trim/pre-filter)
# exactly as posexplode does Spark-side, so ordering matches
_LINE_EXCISE_TAIL = LINE_EXCISE_ORACLE[LINE_EXCISE_ORACLE.index("boiler AS (") :]
_SEP_ANCHOR = "string_agg(line, ' ' ORDER BY p)"
assert _LINE_EXCISE_TAIL.count(_SEP_ANCHOR) == 1, (
    "line_excise oracle drifted: separator anchor not found"
)

LINE_EXCISE_NEWLINE_ORACLE = (
    """
    WITH ln0 AS (
      SELECT doc_id, source, CAST(p AS BIGINT) AS p,
             trim(string_split(text, chr(10))[CAST(p AS INT)]) AS line
      FROM documents,
           UNNEST(range(1, len(string_split(text, chr(10))) + 1)) u(p)),
    ln AS (
      SELECT doc_id, source, p, line, md5(line) AS lh
      FROM ln0 WHERE LENGTH(line) >= 1),
    """
    + _LINE_EXCISE_TAIL.replace(
        _SEP_ANCHOR, "string_agg(line, chr(10) ORDER BY p)"
    )
)

# both splitter variants pass the brute-force, planted-footer, FIXPOINT
# (cleaned corpus re-audits boilerplate-free) and dual-SF oracle-parity
# gates (tests/test_round12_ops.py)
register("q_line_excise", oracle=LINE_EXCISE_ORACLE)(line_excise)
register("q_line_excise_newline", oracle=LINE_EXCISE_NEWLINE_ORACLE)(
    line_excise_newline
)


# ---------------------------------------------------------------------------
# decontam_excise — the decontamination ACTION to q_decontam's audit
# (r12 wave 2): q_decontam flags training docs sharing shingles with
# the eval set; this one materializes the DECONTAMINATED corpus — every
# eval-set shingle's token footprint cut from every training doc, the
# span-level remedy a pretraining-hygiene run executes instead of
# dropping whole flagged documents.
# ---------------------------------------------------------------------------


def decontam_excise_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-overlap-EXCISED training corpus: per training document
    (doc_id % DECONTAM_MOD != 0 — q_decontam's fixture stand-in for
    benchmark membership), the text with every SHINGLE_K-token window
    whose shingle appears ANYWHERE in the eval set cut out. Eval docs
    are not rows of the output (they are the contamination source, not
    the corpus being cleaned); a training doc made entirely of eval
    shingles excises to ''.

    Shape at 100 TB: the eval side of a real decontamination run is a
    benchmark suite — MBs, not TBs — so its distinct-shingle set is
    broadcast (q_decontam's own plan) and the training side never
    shuffles for the probe join; the positional window build is linear
    in corpus tokens with no aggregate at all (unlike verbatim_excise's
    corpus-keyed df/owner shuffles, the cut decision here is a pure
    broadcast-hash lookup). Reconstruction is _excise_covered's
    affected-slice-only machinery."""
    docs = _excise_docs(spark, sf_dir)
    is_eval = F.col("doc_id") % DECONTAM_MOD == 0
    tr = docs.filter(~is_eval)
    w = _pos_windows(tr, SHINGLE_K, hashed=False)
    ev = (
        _shingles_df(spark, sf_dir)
        .filter(F.col("doc_id") % DECONTAM_MOD == 0)
        .select("shingle")
        .distinct()
    )
    cut = w.join(F.broadcast(ev), "shingle").select("doc_id", "p")
    return _excise_covered(tr, _footprint(cut, SHINGLE_K))


def decontam_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_decontam_excise: the decontaminated corpus's per-doc audit row
    (the verbatim_excise projection — token totals, kept/cut counts,
    exact-ppm cut share, cleaned md5 + char length). Cross-operator
    law (pytest-pinned): the docs with cut_tokens > 0 are EXACTLY
    q_decontam's flagged set — a training doc loses tokens iff it
    carries at least one eval shingle."""
    return _token_excise_audit(decontam_excise_corpus(spark, sf_dir))


# the reconstruction tail (tok/kept/recon/base CTEs + the audit SELECT)
# is the REGISTERED q_verbatim_excise oracle's text verbatim, sliced at
# the tok anchor — the excision siblings cannot drift on reconstruction
# semantics. The eval-shingle CTE mirrors _SHINGLES_SQL's
# list_transform construction (q_decontam's registered eval-set
# definition) over the eval slice.
_VERBATIM_EXCISE_TAIL = VERBATIM_EXCISE_ORACLE[
    VERBATIM_EXCISE_ORACLE.index("tok AS (") :
]

DECONTAM_EXCISE_ORACLE = (
    f"""
    WITH evtoks AS (
      SELECT regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id % {DECONTAM_MOD} = 0),
    ev AS (
      SELECT DISTINCT UNNEST(list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                      i -> array_to_string(t[i:i+{SHINGLE_K - 1}], ' '))) AS shingle
      FROM evtoks WHERE len(t) >= {SHINGLE_K}),
    toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id % {DECONTAM_MOD} <> 0),
    w AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p,
             array_to_string(t[CAST(p AS INT):CAST(p + {SHINGLE_K - 1} AS INT)], ' ')
               AS shingle
      FROM toks, UNNEST(range(1, CAST(len(t) - {SHINGLE_K - 2} AS BIGINT))) u(p)
      WHERE len(t) >= {SHINGLE_K}),
    cut AS (
      SELECT w.doc_id, w.p FROM w JOIN ev USING (shingle)),
    covered AS (
      SELECT DISTINCT doc_id, CAST(p + q AS BIGINT) AS pos
      FROM cut, UNNEST(range(0, {SHINGLE_K})) u2(q)),
    """
    + _VERBATIM_EXCISE_TAIL
)

register("q_decontam_excise", oracle=DECONTAM_EXCISE_ORACLE)(decontam_excise)


# ---------------------------------------------------------------------------
# intradoc_excise — WITHIN-document repeated-window removal (r12 wave
# 2): the third reuse granularity. verbatim_excise cuts spans shared
# ACROSS docs (keep-first-doc), line_excise cuts cross-doc boilerplate
# lines (keep-none), this one cuts repeats INSIDE a single document
# (keep-first-occurrence) — the "remove repeated n-grams" rule of
# repetition-trimming passes (the action to q_repetition's
# repeated-bigram audit signal).
# ---------------------------------------------------------------------------


def intradoc_excise_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The intra-doc-repeat-EXCISED corpus: per document, every
    SHINGLE_K-token window whose hash already occurred EARLIER IN THE
    SAME DOCUMENT marks its footprint cut; the first occurrence is
    kept. A perfectly periodic doc collapses to one period; a doc with
    no repeated window passes through byte-identical.

    Shape at 100 TB: everything is doc_id-keyed — the window build
    reuses the doc partitioning, the first-occurrence aggregate and the
    join-back group on (doc_id, wh) so no cross-doc shuffle ever
    exceeds the doc's own windows, and reconstruction is
    _excise_covered's affected-slice-only machinery. No corpus-global
    state at all: this transform is embarrassingly parallel over
    documents (the one excision sibling that needs NO df aggregate)."""
    docs = _excise_docs(spark, sf_dir)
    w = _pos_windows(docs, SHINGLE_K, hashed=True)
    rep = (
        w.groupBy("doc_id", "wh")
        .agg(F.min("p").alias("p0"), F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("doc_id", "wh", "p0")
    )
    cut = (
        w.join(rep, ["doc_id", "wh"])
        .filter(F.col("p") > F.col("p0"))
        .select("doc_id", "p")
    )
    return _excise_covered(docs, _footprint(cut, SHINGLE_K))


def intradoc_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_intradoc_excise: the intra-doc-deduplicated corpus's per-doc
    audit row (the shared excision projection). Cross-operator law
    (pytest-pinned): a repeated SHINGLE_K-gram implies repeated bigrams,
    so every doc with cut_tokens > 0 has q_repetition rep_ratio > 0."""
    return _token_excise_audit(intradoc_excise_corpus(spark, sf_dir))


INTRADOC_EXCISE_ORACLE = (
    f"""
    WITH toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents),
    w AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p,
             md5(array_to_string(
               t[CAST(p AS INT):CAST(p + {SHINGLE_K - 1} AS INT)], ' ')) AS wh
      FROM toks, UNNEST(range(1, CAST(len(t) - {SHINGLE_K - 2} AS BIGINT))) u(p)
      WHERE len(t) >= {SHINGLE_K}),
    rep AS (
      SELECT doc_id, wh, MIN(p) AS p0
      FROM w GROUP BY doc_id, wh
      HAVING COUNT(*) >= 2),
    cut AS (
      SELECT w.doc_id, w.p
      FROM w JOIN rep USING (doc_id, wh)
      WHERE w.p > rep.p0),
    covered AS (
      SELECT DISTINCT doc_id, CAST(p + q AS BIGINT) AS pos
      FROM cut, UNNEST(range(0, {SHINGLE_K})) u2(q)),
    """
    + _VERBATIM_EXCISE_TAIL
)

register("q_intradoc_excise", oracle=INTRADOC_EXCISE_ORACLE)(intradoc_excise)


# ---------------------------------------------------------------------------
# excise_impact — the efficacy certificate for the excision family (r12
# wave 3): run the REGISTERED q_doc_verbatim_share audit over both the
# raw corpus and the q_verbatim_excise-cleaned corpus and report the
# per-source before/after shared-window share side by side. This is the
# number a cleaning run reads to confirm the action achieved its goal
# (after_ppm ~ 0 up to "seam" windows — new token adjacencies created
# by the cuts), and the operator that ties the audit and the action
# families together in one plan.
# ---------------------------------------------------------------------------


def excise_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_excise_impact: per source — docs/windows/shared-windows/ppm of
    the verbatim-share audit BEFORE excision (the registered
    q_doc_verbatim_share numbers) and AFTER q_verbatim_excise's
    keep-first cleaning (the identical audit re-run over the excised
    text, via the shared _verbatim_share_on body). after_* coalesce to
    0 for a source whose every doc shrank below VERBATIM_K tokens;
    after_ppm is 0 when no windows survive (guarded division — neither
    engine divides by zero).

    Shape at 100 TB: the raw corpus is windowed ONCE — the excision
    chain's checkpointed _verbatim_hit frame (shared-occurrence-sized,
    boilerplate small) feeds both the cut and the before arm, whose
    per-doc window totals are pure arithmetic on token counts
    (len - K + 1), no second window build or df shuffle (r12
    code-review finding; the DuckDB oracle always derived before from
    the chain's own w/owner CTEs — this makes the plans congruent).
    The after arm re-windows only the CLEANED text. The before/after
    join keys on source (|sources| rows, broadcast)."""
    docs = _excise_docs(spark, sf_dir)
    hit = _verbatim_hit(docs).localCheckpoint(eager=True)
    eligible = docs.filter(F.size("t") >= VERBATIM_K).select(
        "doc_id",
        "source",
        (F.size("t") - F.lit(VERBATIM_K - 1)).cast("long").alias("n_w"),
    )
    n_sh = hit.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    bper = eligible.join(n_sh, "doc_id", "left").select(
        "doc_id", "source", "n_w", F.coalesce("n_sh", F.lit(0)).alias("n_sh")
    )
    before = (
        bper.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("before_docs"),
            F.sum("n_w").alias("before_windows"),
            F.sum("n_sh").alias("before_shared"),
        )
        .select(
            "source",
            F.col("before_docs").cast("long").alias("before_docs"),
            F.col("before_windows").cast("long").alias("before_windows"),
            F.col("before_shared").cast("long").alias("before_shared"),
            F.expr("before_shared * 1000000 div before_windows")
            .cast("long")
            .alias("before_ppm"),
        )
    )
    # pin the reconstructed corpus: _verbatim_share_on consumes its
    # window frame twice (shared-set agg + per-doc join), which would
    # otherwise re-run the whole excision reconstruction per consumer
    # (measured ~1s/eval at sf0.1 — r13)
    cleaned = (
        _excise_from_hit(docs, hit)
        .select("doc_id", "source", _tokens(F.col("cleaned")).alias("t"))
        .localCheckpoint(eager=True)
    )
    after = _verbatim_share_on(cleaned).select(
        "source",
        F.col("n_docs").cast("long").alias("after_docs"),
        F.col("total_windows").alias("after_windows"),
        F.col("shared_windows").alias("after_shared"),
        F.col("verbatim_ppm").alias("after_ppm"),
    )
    return before.join(after, "source", "left").select(
        "source",
        "before_docs",
        "before_windows",
        "before_shared",
        "before_ppm",
        F.coalesce("after_docs", F.lit(0)).cast("long").alias("after_docs"),
        F.coalesce("after_windows", F.lit(0)).cast("long").alias("after_windows"),
        F.coalesce("after_shared", F.lit(0)).cast("long").alias("after_shared"),
        F.coalesce("after_ppm", F.lit(0)).cast("long").alias("after_ppm"),
    )


# the excision chain (toks/w/owner/cut/covered/tok/kept/recon/base) is
# the REGISTERED q_verbatim_excise oracle's text verbatim, sliced just
# before its final SELECT; the before arm derives its shared set from
# that chain's own `owner` CTE (owner's HAVING is exactly the
# registered audit's df >= VERBATIM_MIN_DOCS shared-set rule), and the
# after arm re-windows the reconstructed cleaned text with the same
# md5 construction.
_EXCISE_CHAIN = VERBATIM_EXCISE_ORACLE[: VERBATIM_EXCISE_ORACLE.index(
    "SELECT b.doc_id"
)]
assert _EXCISE_CHAIN.rstrip().endswith(")"), (
    "q_verbatim_excise oracle drifted: CTE chain no longer ends before "
    "the final SELECT"
)

EXCISE_IMPACT_ORACLE = (
    _EXCISE_CHAIN.rstrip()[:-1].rstrip()
    + """),
    bper AS (
      SELECT w.doc_id, w.source, COUNT(*) AS n_w,
             SUM(CASE WHEN o.wh IS NOT NULL THEN 1 ELSE 0 END) AS n_sh
      FROM w LEFT JOIN owner o ON w.wh = o.wh
      GROUP BY w.doc_id, w.source),
    bsrc AS (
      SELECT source, COUNT(*) AS before_docs,
             SUM(n_w) AS before_windows, SUM(n_sh) AS before_shared
      FROM bper GROUP BY source),
    clean AS (
      SELECT b.doc_id, b.source,
             regexp_split_to_array(trim(COALESCE(r.cleaned, '')), '\\s+') AS t
      FROM base b LEFT JOIN recon r ON b.doc_id = r.doc_id),
    cw AS (
      SELECT doc_id, source,
             md5(array_to_string(
"""
    + f"               t[CAST(p AS INT):CAST(p + {VERBATIM_K - 1} AS INT)], ' ')) AS wh\n"
    + f"      FROM clean, UNNEST(range(1, CAST(len(t) - {VERBATIM_K - 2} AS BIGINT))) u4(p)\n"
    + f"      WHERE len(t) >= {VERBATIM_K}),\n"
    + f"""    cshared AS (
      SELECT wh FROM cw GROUP BY wh
      HAVING COUNT(DISTINCT doc_id) >= {VERBATIM_MIN_DOCS}),
    cper AS (
      SELECT cw.doc_id, cw.source, COUNT(*) AS n_w,
             SUM(CASE WHEN cs.wh IS NOT NULL THEN 1 ELSE 0 END) AS n_sh
      FROM cw LEFT JOIN cshared cs ON cw.wh = cs.wh
      GROUP BY cw.doc_id, cw.source),
    csrc AS (
      SELECT source, COUNT(*) AS after_docs,
             SUM(n_w) AS after_windows, SUM(n_sh) AS after_shared
      FROM cper GROUP BY source)
    SELECT b.source,
           CAST(b.before_docs AS BIGINT) AS before_docs,
           CAST(b.before_windows AS BIGINT) AS before_windows,
           CAST(b.before_shared AS BIGINT) AS before_shared,
           CAST(b.before_shared * 1000000 // b.before_windows AS BIGINT)
             AS before_ppm,
           CAST(COALESCE(c.after_docs, 0) AS BIGINT) AS after_docs,
           CAST(COALESCE(c.after_windows, 0) AS BIGINT) AS after_windows,
           CAST(COALESCE(c.after_shared, 0) AS BIGINT) AS after_shared,
           CAST(CASE WHEN COALESCE(c.after_windows, 0) = 0 THEN 0
                     ELSE c.after_shared * 1000000 // c.after_windows END
                AS BIGINT) AS after_ppm
    FROM bsrc b LEFT JOIN csrc c ON b.source = c.source
    """
)

register("q_excise_impact", oracle=EXCISE_IMPACT_ORACLE)(excise_impact)


# ---------------------------------------------------------------------------
# pps_sample — exact-size weighted sampling without replacement (r12
# wave 4): per-source systematic PPS (probability-proportional-to-size,
# the classic survey-sampling / data-mix primitive). Complements the
# existing samplers: q_weighted_sample is weighted Bernoulli (+/-sqrt(n)
# size variance, zero shuffles — its own docstring defers the exact-size
# variant here), q_domain_cap_sample is uniform exact-k per source; this
# one is WEIGHTED exact-K per source, in pure integer arithmetic (no
# transcendentals — an Efraimidis-Spirakis key needs ln/pow, which are
# not bit-reproducible across engines; systematic PPS gives the same
# "without replacement, inclusion ~ weight" contract with md5-order +
# cumulative sums only).
# ---------------------------------------------------------------------------

def _md5_60(col):
    """Low 60 bits (15 hex chars — BIGINT-safe) of md5 over a salted
    string column: the shared deterministic hash axis of q_pps_sample
    and q_mix_schedule, bit-matched to their oracles'
    CAST('0x' || substr(md5(...), 1, 15) AS BIGINT) twin (the
    q_corpus_shuffle idiom). ONE definition (r12 review finding) so a
    digit-slice edit cannot drift between consumers."""
    return F.conv(
        F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10
    ).cast("long")


PPS_K = 10  # per-source sample size (exact)
PPS_BUCKETS = 64  # two-level shard count — the domain_cap_sample lesson:
# never sort one source's full corpus share in a single task. Each
# (source, bucket) sorts ~1/64 of the source; production sets this knob
# to source_bytes / executor_target. The quota allocation below is
# B-agnostic (largest-remainder is exact for any B).


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_pps_sample: EXACT-K-per-source weighted sample without
    replacement, weight = n_chars. Two-level systematic PPS:

      1. every doc lands in a deterministic md5 bucket (PPS_BUCKETS);
      2. each source's K is split across its positive-weight buckets by
         largest-remainder allocation on bucket weight (floor(K*bw/W)
         everywhere + one extra for the L = K - sum(floor) largest
         remainders; ties by bucket id) — exact: sum(k_b) = K, and
         k_b <= bw whenever K <= W, so every bucket stride >= 1;
      3. within a bucket, docs are laid on the weight line in md5
         order and the k_b thresholds r + j*stride (stride = bw div
         k_b, r = 1 + md5(source:bucket) mod stride) each select the
         doc whose cumulative-weight interval contains them. A doc with
         w >= stride is a certainty pick; n_picks can exceed 1 for
         dominant docs (the PPS "certainty item" contract).

    Degenerate sources with total weight < K fall back to
    every-positive-weight-doc-once (quota exceeds the population's
    weight — exactness is impossible by definition there).

    Determinism: md5 order keys, integer div/mod throughout — bit-exact
    twin, no floats anywhere. Shape at 100 TB: the only per-row window
    is the cumulative sum INSIDE a (source, bucket) shard (bounded by
    the bucket knob, never a source's full corpus share — the VERDICT
    r10 #2 rule); the allocation windows run over <= PPS_BUCKETS rows
    per source; totals join back |sources| x B rows, broadcast-sized."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )

    d = docs.withColumn(
        "b", _md5_60(F.concat(F.lit("ppsb:"), F.col("doc_id").cast("string")))
        % PPS_BUCKETS,
    ).withColumn(
        "u", _md5_60(F.concat(F.lit("ppsu:"), F.col("doc_id").cast("string")))
    )
    bw = (
        d.groupBy("source", "b")
        .agg(F.sum("w").alias("bw"))
        .filter(F.col("bw") >= 1)
    )
    tot = bw.groupBy("source").agg(F.sum("bw").alias("total_w"))
    # STRUCTURAL guard, not just a downstream filter: sources below the
    # quota go to the fallback arm, and excluding them HERE is what
    # makes every stride >= 1 (k_b <= bw needs K <= W) — without it the
    # `r` projection below computes `% 0`, which ANSI Spark throws on
    # and DuckDB NULLs, and only optimizer filter-pushdown luck kept
    # the exact arm alive (round-12 review finding).
    alloc = (
        bw.join(tot, "source")
        .filter(F.col("total_w") >= PPS_K)
        .withColumn("base", F.expr(f"(bw * {PPS_K}) div total_w"))
        .withColumn("rem", F.expr(f"(bw * {PPS_K}) % total_w"))
    )
    lw = W.partitionBy("source")
    rw = W.partitionBy("source").orderBy(F.desc("rem"), F.asc("b"))
    alloc = (
        alloc.withColumn("leftover", F.lit(PPS_K) - F.sum("base").over(lw))
        .withColumn("rk", F.row_number().over(rw))
        .withColumn(
            "k_b",
            F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0),
        )
        .filter(F.col("k_b") >= 1)
        .withColumn("stride", F.expr("bw div k_b"))
        .withColumn(
            "r",
            F.lit(1)
            + _md5_60(F.concat(F.lit("ppsr:"), F.col("source"), F.lit(":"),
                            F.col("b").cast("string")))
            % F.col("stride"),
        )
        .select("source", "b", "total_w", "k_b", "stride", "r")
    )
    cw = (
        W.partitionBy("source", "b")
        .orderBy("u", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    laid = d.withColumn("cum_end", F.sum("w").over(cw)).withColumn(
        "cum_start", F.col("cum_end") - F.col("w")
    )
    j = laid.join(alloc, ["source", "b"])
    # g(x) = #thresholds r + j*stride (j < k_b) at positions <= x —
    # nonneg integer div, capped at k_b; picks per doc = g(end) - g(start)
    g_end = F.when(F.col("cum_end") < F.col("r"), F.lit(0)).otherwise(
        F.least(
            F.expr("(cum_end - r) div stride") + 1, F.col("k_b")
        )
    )
    g_start = F.when(F.col("cum_start") < F.col("r"), F.lit(0)).otherwise(
        F.least(
            F.expr("(cum_start - r) div stride") + 1, F.col("k_b")
        )
    )
    exact = (
        # the >= PPS_K restriction is structural in alloc above; the
        # inner join on (source, b) already carries it
        j.withColumn("n_picks", (g_end - g_start).cast("long"))
        .filter(F.col("n_picks") >= 1)
        .select("doc_id", "source", F.col("w").alias("weight"), "n_picks")
    )
    fallback = (
        d.join(tot, "source")
        .filter((F.col("total_w") < PPS_K) & (F.col("w") >= 1))
        .select(
            "doc_id", "source", F.col("w").alias("weight"),
            F.lit(1).cast("long").alias("n_picks"),
        )
    )
    return exact.unionByName(fallback)


PPS_SAMPLE_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
             CAST('0x' || substr(md5('ppsb:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {PPS_BUCKETS} AS b,
             CAST('0x' || substr(md5('ppsu:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS u
      FROM documents),
    bw AS (
      SELECT source, b, SUM(w) AS bw FROM d GROUP BY source, b
      HAVING SUM(w) >= 1),
    tot AS (SELECT source, SUM(bw) AS total_w FROM bw GROUP BY source),
    alloc0 AS (
      SELECT bw.source, bw.b, tot.total_w,
             (bw.bw * {PPS_K}) // tot.total_w AS base,
             (bw.bw * {PPS_K}) % tot.total_w AS rem,
             bw.bw
      FROM bw JOIN tot ON bw.source = tot.source
      WHERE tot.total_w >= {PPS_K}),
    alloc1 AS (
      SELECT *,
             {PPS_K} - SUM(base) OVER (PARTITION BY source) AS leftover,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY rem DESC, b ASC)
               AS rk
      FROM alloc0),
    alloc AS (
      SELECT source, b, total_w,
             base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS k_b,
             bw // (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
               AS stride
      FROM alloc1
      WHERE base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END >= 1),
    allocr AS (
      SELECT *,
             1 + CAST('0x' || substr(md5('ppsr:' || source || ':' ||
                                         CAST(b AS VARCHAR)), 1, 15)
                      AS BIGINT) % stride AS r
      FROM alloc),
    laid AS (
      SELECT d.*,
             SUM(w) OVER (PARTITION BY source, b ORDER BY u, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_end,
             SUM(w) OVER (PARTITION BY source, b ORDER BY u, doc_id
                          ROWS UNBOUNDED PRECEDING) - w AS cum_start
      FROM d),
    exact AS (
      SELECT l.doc_id, l.source, l.w AS weight,
             CAST((CASE WHEN l.cum_end < a.r THEN 0
                        ELSE LEAST((l.cum_end - a.r) // a.stride + 1, a.k_b)
                   END
                 - CASE WHEN l.cum_start < a.r THEN 0
                        ELSE LEAST((l.cum_start - a.r) // a.stride + 1, a.k_b)
                   END) AS BIGINT) AS n_picks
      FROM laid l JOIN allocr a ON l.source = a.source AND l.b = a.b),
    fallback AS (
      SELECT d.doc_id, d.source, d.w AS weight, CAST(1 AS BIGINT) AS n_picks
      FROM d JOIN tot ON d.source = tot.source
      WHERE tot.total_w < {PPS_K} AND d.w >= 1)
    SELECT * FROM exact WHERE n_picks >= 1
    UNION ALL
    SELECT * FROM fallback
    """

register("q_pps_sample", oracle=PPS_SAMPLE_ORACLE)(q_pps_sample)


# ---------------------------------------------------------------------------
# mix_schedule — the deterministic consumption ORDER that executes
# q_mix_temperature's sampling plan (round-12 draft tier; the
# audit -> action pattern of the excision family applied to the mix
# family): q_data_mix and q_mix_temperature emit per-source WEIGHTS, and
# q_corpus_shuffle materializes an unweighted global order — nothing yet
# materializes the weighted interleave a training run actually consumes.
# Stride scheduling on a hash axis: each doc's virtual consumption time
# is its salted-md5 position divided by its source's temperature weight,
# so a source with twice the weight lands docs on the time axis at twice
# the density — exactly the "sample source s at rate w_s" contract,
# deterministic, joinless beyond one bounded weight lookup, and with NO
# per-source rank/sort (the q_domain_cap_sample single-task lesson:
# within-source ordering comes from the hash VALUE itself, never a
# corpus-wide window).
# ---------------------------------------------------------------------------

MIX_HEAD = 256  # materialized schedule head (the driver-comparable slice)


def mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_mix_schedule: the first MIX_HEAD steps of the deterministic
    weighted-interleave consumption order under q_mix_temperature's
    alpha = 0.5 weights — per step: the doc consumed, its source, and
    its virtual time t = md5_60('mix|' || doc_id) div w_ppm. Sources
    with w_ppm = 0 are never scheduled (excluded STRUCTURALLY before t
    is computed — the q_pps_sample div-0 lesson: ANSI Spark throws on
    `div 0` while DuckDB NULLs, so the guard cannot be a downstream
    filter).

    Law (pytest-pinned): over any virtual-time horizon the per-source
    doc counts converge to w_ppm proportions (uniform md5 positions /
    stride w — the stride-scheduling guarantee), and the schedule is
    identical across partitionings (pure per-row arithmetic).

    Shape at 100 TB: ONE narrow scan projecting (doc_id, source), a
    broadcast-hash join against the |sources|-row weight frame, a pure
    map expression for t, and TakeOrderedAndProject for the bounded
    head — no corpus shuffle, no window over unbounded partitions; the
    only sort state anywhere is the 256-row top-k heap per task. The
    full schedule (no LIMIT) is emitted by the same plan minus the
    top-k, written sorted-within-partitions by t range — still
    join-light and rank-free."""
    w = mix_temperature(spark, sf_dir).select(
        "source", F.col("w_alpha50_ppm").alias("w_ppm")
    ).filter(F.col("w_ppm") >= 1)
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    sched = (
        d.join(F.broadcast(w), "source")
        .withColumn(
            "h", _md5_60(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
        )
        .select("doc_id", "source", F.expr("h div w_ppm").alias("t"))
    )
    head = sched.orderBy("t", "doc_id").limit(MIX_HEAD)
    return head.select(
        F.row_number().over(W.orderBy("t", "doc_id")).cast("long").alias("step"),
        "doc_id",
        "source",
        F.col("t").cast("long").alias("t"),
    )


# the per/shares/rooted weight CTEs are the REGISTERED
# q_mix_temperature oracle's text verbatim (sliced before its final
# SELECT, the excision-family idiom) — the schedule cannot drift from
# the registered weights
_MIX_W_CTES = MIX_TEMPERATURE_ORACLE[
    MIX_TEMPERATURE_ORACLE.index("WITH per AS") : MIX_TEMPERATURE_ORACLE.rindex(
        "SELECT source, n_docs, n_chars, share_ppm,"
    )
]
assert _MIX_W_CTES.rstrip().endswith(")"), (
    "q_mix_temperature oracle drifted: weight-CTE slice no longer ends "
    "before the final SELECT"
)

MIX_SCHEDULE_ORACLE = (
    _MIX_W_CTES.rstrip()
    + f""",
    w AS (
      SELECT source,
             CAST(root_mu * 1000000 // SUM(root_mu) OVER () AS BIGINT)
               AS w_ppm
      FROM rooted),
    sched AS (
      SELECT d.doc_id, d.source,
             CAST('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) // w.w_ppm AS t
      FROM documents d JOIN w ON d.source = w.source
      WHERE w.w_ppm >= 1),
    head AS (
      SELECT doc_id, source, t
      FROM sched ORDER BY t, doc_id LIMIT {MIX_HEAD})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY t, doc_id) AS BIGINT) AS step,
           doc_id, source, CAST(t AS BIGINT) AS t
    FROM head
    """
)


# ---------------------------------------------------------------------------
# knn_label_purity — embedding-quality probe eval (round-12 draft tier):
# the embeddings table carries a ground-truth ``label`` column that the
# sim/dedup families use only as a BLOCKING key — nothing yet measures
# how well the embedding geometry AGREES with it. kNN label purity is
# the standard representation-quality probe (the "does nearest-neighbor
# retrieval stay on-label" number a team reads before trusting
# label-blocked dedup or an ANN index): for a corpus-derived probe
# sample, the share of each probe's exact cosine top-K whose label
# matches the probe's, rolled up per label.
# ---------------------------------------------------------------------------

PURITY_TARGET = 200  # probe-count target; MOD = ceil(n_vecs / TARGET)
PURITY_K = 10  # neighbors scored per probe
PURITY_SLACK = 30  # double-prefilter survivors per probe (>= K + 20 margin)

# the registered output contract, used by the degenerate-probe guard's
# empty frame; tied to the normal path's schema by
# test_knn_label_purity_degenerate_probe_sets
_PURITY_SCHEMA = (
    "label int, n_probes long, knn_hits long, knn_match_ppm long, "
    "top1_hits long, top1_match_ppm long"
)


def _purity_cand_batches(q_ids, q_unit):
    """mapInPandas generator factory for the knn_label_purity candidate
    pass: each corpus batch computes one float64 X @ Q.T (BLAS matmul —
    the q_dedup_embed r08 vectorization lesson) and emits its per-probe
    top-PURITY_SLACK candidates by double cosine. A pair's double cosine
    depends only on the pair (row-independent dots), so the global
    double ranking downstream is partition-invariant; the 20-candidate
    slack over K makes the exact-decimal top-K immune to double-vs-
    decimal rounding (gap < 1e-9 per pair — 20+ boundary inversions in
    one probe would need that many independent near-exact ties, the
    q_dedup_embed margin argument applied to ranks)."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            if len(ids) > 0:
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                n2 = (x * x).sum(axis=1)
                keep = n2 > 0.0
                ids, x, n2 = ids[keep], x[keep], n2[keep]
            if len(ids) == 0:
                yield pd.DataFrame(
                    {
                        "q_id": pd.Series([], dtype="int64"),
                        "c_id": pd.Series([], dtype="int64"),
                        "cos_d": pd.Series([], dtype="float64"),
                    }
                )
                continue
            xn = x / np.sqrt(n2)[:, None]
            s = xn @ q_unit.T  # (batch, n_probes)
            out_q, out_c, out_s = [], [], []
            for j in range(len(q_ids)):
                col = s[:, j].copy()
                col[ids == q_ids[j]] = -np.inf  # self-exclusion
                k = min(PURITY_SLACK, len(ids))
                # top-k by (cos desc, c_id asc) — lexsort for determinism
                order = np.lexsort((ids, -col))[:k]
                m = np.isfinite(col[order])
                order = order[m]
                out_q.append(np.full(len(order), q_ids[j], dtype=np.int64))
                out_c.append(ids[order])
                out_s.append(col[order])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "c_id": np.concatenate(out_c),
                    "cos_d": np.concatenate(out_s),
                }
            )

    return gen


def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_knn_label_purity: per label — probe count, exact cosine
    top-PURITY_K on-label hit counts, and the purity / top-1 accuracy
    in exact ppm. Probes are the corpus-derived sample
    vec_id % ceil(n_vecs / PURITY_TARGET) = 0 (constant probe cost at
    any corpus size, the q_dedup_recall_eval MOD lesson); zero-norm
    vectors can be neither probes nor candidates (their cosine is
    undefined; both engines exclude them identically).

    Determinism: the final ranking is the exact-decimal cosine
    (_spark_dot/_DEC_DOT) with (cosine DESC, c_id) ties — bit-identical
    across engines; the double matmul is a Spark-side CANDIDATE
    prefilter only (slack PURITY_SLACK - PURITY_K, see
    _purity_cand_batches), never compared across engines. Hit ppm are
    integer div.

    Shape at 100 TB: probes are bounded (~PURITY_TARGET rows — ONE
    bounded planning collect, the itemset/codebook pattern); the
    corpus-linear work is one narrow scan through a BLAS matmul per
    Arrow batch (no pair shuffle — each task emits at most
    |probes| x PURITY_SLACK candidate rows); the global double rank,
    decimal re-rank and label rollup all run on the
    |probes| x PURITY_SLACK survivor frame. The expensive exact-decimal
    dot executes exactly |probes| x PURITY_SLACK times, independent of
    corpus size."""
    dp = spark.sparkContext.defaultParallelism
    e = table(spark, sf_dir, "embeddings").repartition(dp, "vec_id")
    e = e.select(
        "vec_id",
        "label",
        "embedding",
        _spark_dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    import numpy as np

    n_vecs = e.count()  # bounded planning metadata (one scalar)
    mod = max(1, (n_vecs + PURITY_TARGET - 1) // PURITY_TARGET)
    probe_rows = (
        e.filter((F.col("vec_id") % mod == 0) & (F.col("norm2") > 0))
        .select("vec_id", "label", "embedding")
        .collect()
    )  # bounded: ~PURITY_TARGET rows by the MOD construction
    if not probe_rows:
        # degenerate probe set (empty table, or no positive-norm vec_id
        # on the MOD grid — ids need not be dense): the oracle's q CTE
        # is empty so the whole query is the empty frame; return it
        # structurally instead of letting np.stack/createDataFrame
        # choke on zero rows (the q_pps_sample guard lesson — r12
        # review finding)
        return spark.createDataFrame([], _PURITY_SCHEMA)
    q_ids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    q = np.stack([np.asarray(r["embedding"]) for r in probe_rows]).astype(np.float64)
    q_unit = q / np.sqrt((q * q).sum(axis=1))[:, None]

    cand = e.select("vec_id", "embedding").mapInPandas(
        _purity_cand_batches(q_ids, q_unit), "q_id long, c_id long, cos_d double"
    )
    wd = W.partitionBy("q_id").orderBy(F.col("cos_d").desc(), "c_id")
    surv = (
        cand.withColumn("rnk_d", F.row_number().over(wd))
        .filter(F.col("rnk_d") <= PURITY_SLACK)
        .select("q_id", "c_id")
    )
    qf = spark.createDataFrame(probe_rows).select(
        F.col("vec_id").alias("q_id"),
        # createDataFrame infers Python ints as bigint; restore the
        # source column's int32 so the output label type matches the
        # table (and the guard's _PURITY_SCHEMA) exactly
        F.col("label").cast("int").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    qf = qf.withColumn("q_n2", _spark_dot(F.col("q_emb"), F.col("q_emb")))
    c_side = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    # c_n2 computed AFTER the survivor join: the interpreted decimal
    # self-dot runs |probes| x PURITY_SLACK times, never corpus-wide
    j = (
        surv.join(F.broadcast(qf), "q_id")
        .join(c_side, "c_id")
        .withColumn("c_n2", _spark_dot(F.col("c_emb"), F.col("c_emb")))
    )
    cosine = _spark_dot(F.col("q_emb"), F.col("c_emb")) / F.sqrt(
        F.col("q_n2") * F.col("c_n2")
    )
    wx = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), "c_id")
    ranked = (
        j.select("q_id", "q_label", "c_id", "c_label", cosine.alias("cosine"))
        .withColumn("rnk", F.row_number().over(wx))
        .filter(F.col("rnk") <= PURITY_K)
    )
    per = ranked.groupBy("q_id", "q_label").agg(
        F.sum(F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)).alias(
            "hits"
        ),
        F.max(
            F.when(
                (F.col("rnk") == 1) & (F.col("c_label") == F.col("q_label")), 1
            ).otherwise(0)
        ).alias("top1"),
    )
    return (
        per.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("hits").alias("knn_hits"),
            F.sum("top1").alias("top1_hits"),
        )
        .select(
            "label",
            F.col("n_probes").cast("long").alias("n_probes"),
            F.col("knn_hits").cast("long").alias("knn_hits"),
            F.expr(f"knn_hits * 1000000 div (n_probes * {PURITY_K})")
            .cast("long")
            .alias("knn_match_ppm"),
            F.col("top1_hits").cast("long").alias("top1_hits"),
            F.expr("top1_hits * 1000000 div n_probes")
            .cast("long")
            .alias("top1_match_ppm"),
        )
        .orderBy("label")
    )


KNN_LABEL_PURITY_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
      FROM embeddings),
    nv AS (SELECT COUNT(*) AS n FROM e),
    q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb,
             norm2 AS q_n2
      FROM e, nv
      WHERE norm2 > 0
        AND vec_id % GREATEST((n + {PURITY_TARGET - 1}) // {PURITY_TARGET}, 1) = 0),
    p AS (
      SELECT q_id, q_label, e.vec_id AS c_id, e.label AS c_label,
             {_DEC_DOT.format(a='q_emb', b='e.embedding')}
               / SQRT(q_n2 * e.norm2) AS cosine
      FROM q CROSS JOIN e
      WHERE e.vec_id <> q_id AND e.norm2 > 0),
    r AS (
      SELECT q_id, q_label, c_label,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rnk
      FROM p),
    per AS (
      SELECT q_id, q_label,
             SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS hits,
             MAX(CASE WHEN rnk = 1 AND c_label = q_label
                      THEN 1 ELSE 0 END) AS top1
      FROM r WHERE rnk <= {PURITY_K} GROUP BY 1, 2)
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(hits) AS BIGINT) AS knn_hits,
           CAST(SUM(hits) * 1000000 // (COUNT(*) * {PURITY_K}) AS BIGINT)
             AS knn_match_ppm,
           CAST(SUM(top1) AS BIGINT) AS top1_hits,
           CAST(SUM(top1) * 1000000 // COUNT(*) AS BIGINT)
             AS top1_match_ppm
    FROM per GROUP BY q_label ORDER BY label
    """


# r12 registration of the wave-5 draft tiers (same-round, the excision
# precedent): each bit-exact at sf0.001 AND sf0.01 with planted-fixture
# and law tests before these lines landed (tests/test_round12_ops.py).
register("q_mix_schedule", oracle=MIX_SCHEDULE_ORACLE)(mix_schedule)
register("q_knn_label_purity", oracle=KNN_LABEL_PURITY_ORACLE)(knn_label_purity)


# ---------------------------------------------------------------------------
# quality_dup_lift — the curation cross-audit (round-12 draft tier):
# quality signals (q_quality_score) and duplication audits (q_dedup_*)
# are each registered alone, but the decision a curation run actually
# makes — "does exact reuse CONCENTRATE in low-quality documents, i.e.
# can one filter stand in for part of the other?" — needs their JOINT
# distribution. A contingency table of uniqueness deciles x exact-dup
# status with exact-ppm expected counts and lift.
# ---------------------------------------------------------------------------


def quality_dup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_quality_dup_lift: per (uniqueness decile, is_dup) cell — doc
    count, row/column totals, observed and independence-expected shares
    in exact ppm, and lift x1000 (observed over expected). The decile is
    the EXACT integer distinct_tokens * 10 div n_tokens (the rationale
    behind q_quality_score's uniq_ratio, kept on the integer grid so
    both engines bucket identically); is_dup is q_fingerprint's
    whitespace-normalized md5 appearing on >= 2 docs (the exact-dup
    rule). NULL-text docs tokenize to NULL and are excluded identically
    by the n_tokens >= 1 filter in both engines.

    Determinism: exact bigint end to end; expected share is the product
    of the ppm-gridded marginals div 1e6 (identical truncation), with a
    GREATEST(exp, 1) guard so a vanishing marginal never divides by
    zero in either engine.

    Shape at 100 TB: one fingerprint df aggregate + join-back on the
    16-byte md5 (the line_dedup shape) is the only corpus-keyed
    shuffle; the contingency aggregate is map-side combinable to <= 22
    cells, and every window (row/col/grand totals) runs over those
    bounded cells only."""
    toks = _tokens(F.col("text"))
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(
                F.encode(
                    F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), "UTF-8"
                )
            ).alias("fp"),
            F.size(F.array_distinct(toks)).alias("n_uniq"),
            F.size(toks).alias("n_tok"),
        )
        .filter(F.col("n_tok") >= 1)
        .select(
            "doc_id", "fp", F.expr("n_uniq * 10 div n_tok").alias("uniq_decile")
        )
    )
    fam = d.groupBy("fp").agg(F.count(F.lit(1)).alias("fam_n"))
    tagged = d.join(fam, "fp").select(
        "uniq_decile", (F.col("fam_n") >= 2).alias("is_dup")
    )
    cells = tagged.groupBy("uniq_decile", "is_dup").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        cells.select(
            "uniq_decile",
            "is_dup",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.sum("n_docs").over(W.partitionBy("uniq_decile")).alias("row_docs"),
            F.sum("n_docs").over(W.partitionBy("is_dup")).alias("col_docs"),
            F.sum("n_docs").over(W.partitionBy()).alias("total_docs"),
        )
        .select(
            "uniq_decile",
            "is_dup",
            "n_docs",
            F.col("row_docs").cast("long").alias("row_docs"),
            F.col("col_docs").cast("long").alias("col_docs"),
            F.expr("n_docs * 1000000 div total_docs").cast("long").alias("obs_ppm"),
            F.expr(
                "greatest((row_docs * 1000000 div total_docs)"
                " * (col_docs * 1000000 div total_docs) div 1000000, 1)"
            )
            .cast("long")
            .alias("exp_ppm"),
        )
        .select(
            "uniq_decile",
            "is_dup",
            "n_docs",
            "row_docs",
            "col_docs",
            "obs_ppm",
            "exp_ppm",
            F.expr("obs_ppm * 1000 div exp_ppm").cast("long").alias("lift_x1000"),
        )
        .orderBy("uniq_decile", "is_dup")
    )


QUALITY_DUP_LIFT_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS n_uniq,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents),
    dd AS (
      SELECT doc_id, fp, n_uniq * 10 // n_tok AS uniq_decile
      FROM d WHERE n_tok >= 1),
    fam AS (
      SELECT fp, COUNT(*) AS fam_n FROM dd GROUP BY fp),
    tagged AS (
      SELECT dd.uniq_decile, fam.fam_n >= 2 AS is_dup
      FROM dd JOIN fam ON dd.fp = fam.fp),
    cells AS (
      SELECT uniq_decile, is_dup, COUNT(*) AS n_docs
      FROM tagged GROUP BY 1, 2),
    tot AS (
      SELECT uniq_decile, is_dup, n_docs,
             SUM(n_docs) OVER (PARTITION BY uniq_decile) AS row_docs,
             SUM(n_docs) OVER (PARTITION BY is_dup) AS col_docs,
             SUM(n_docs) OVER () AS total_docs
      FROM cells),
    shares AS (
      SELECT uniq_decile, is_dup, n_docs, row_docs, col_docs,
             n_docs * 1000000 // total_docs AS obs_ppm,
             GREATEST((row_docs * 1000000 // total_docs)
                      * (col_docs * 1000000 // total_docs) // 1000000,
                      1) AS exp_ppm
      FROM tot)
    SELECT CAST(uniq_decile AS BIGINT) AS uniq_decile, is_dup,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(row_docs AS BIGINT) AS row_docs,
           CAST(col_docs AS BIGINT) AS col_docs,
           CAST(obs_ppm AS BIGINT) AS obs_ppm,
           CAST(exp_ppm AS BIGINT) AS exp_ppm,
           CAST(obs_ppm * 1000 // exp_ppm AS BIGINT) AS lift_x1000
    FROM shares ORDER BY uniq_decile, is_dup
    """


# ---------------------------------------------------------------------------
# ann_mrr — reciprocal-rank eval of the ANN path (round-12 draft tier):
# q_recall_eval measures SET overlap of the exact and IVF top-10; the
# other standard index-quality number is POSITIONAL — for each query,
# where does the single true nearest neighbor land in the ANN list
# (MRR@10)? An index can hold 9/10 recall while consistently burying
# the true NN at rank 8; recall alone cannot see that. Composes the two
# REGISTERED operators (and their shared oracle CTE constants), so
# operator and evaluation cannot drift.
# ---------------------------------------------------------------------------


def ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_mrr: per query — the exact top-1 neighbor (q_sim_topk rank
    1), its rank inside q_sim_ivf's top-10 (0 when the ANN path misses
    it: wrong probe cell or outside top-10), and the reciprocal rank in
    exact ppm (1e6 div rank; 0 on a miss — MRR@10 in integer
    arithmetic).

    Shape at 100 TB: both arms are the registered operators' plans (the
    exact arm is the designed-for-probe-samples baseline, the IVF arm
    the scale path); the final join is |queries| x top-k sized."""
    true1 = (
        q_sim_topk(spark, sf_dir)
        .filter(F.col("rnk") == 1)
        .select("q_id", F.col("c_id").alias("true_c"))
    )
    approx = q_sim_ivf(spark, sf_dir).select(
        F.col("q_id").alias("aq_id"),
        F.col("c_id").alias("ac_id"),
        F.col("rnk").alias("arnk"),
    )
    j = true1.join(
        approx,
        (true1.q_id == approx.aq_id) & (true1.true_c == approx.ac_id),
        "left",
    )
    return j.select(
        "q_id",
        "true_c",
        F.coalesce("arnk", F.lit(0)).cast("long").alias("ann_rank"),
        F.expr("CASE WHEN arnk IS NULL THEN 0 ELSE 1000000 div arnk END")
        .cast("long")
        .alias("rr_ppm"),
    ).orderBy("q_id")


ANN_MRR_ORACLE = f"""
    WITH {_EXACT_TOPK_CTE},
    {_IVF_TOPK_CTE},
    t1 AS (SELECT q_id, c_id AS true_c FROM r WHERE rnk = 1),
    a AS (SELECT q_id, c_id, rnk FROM ivr WHERE rnk <= 10)
    SELECT t1.q_id, t1.true_c,
           CAST(COALESCE(a.rnk, 0) AS BIGINT) AS ann_rank,
           CAST(CASE WHEN a.rnk IS NULL THEN 0
                     ELSE 1000000 // a.rnk END AS BIGINT) AS rr_ppm
    FROM t1 LEFT JOIN a ON t1.q_id = a.q_id AND t1.true_c = a.c_id
    ORDER BY t1.q_id
    """


# ---------------------------------------------------------------------------
# context_fill — the context-length budget audit (round-12 draft tier):
# q_pack_efficiency audits ONE packing at ONE sequence length; the
# upstream decision — WHICH context length to train at — needs the
# whole curve: at each candidate length, how many documents fit whole
# and what share of corpus tokens truncation would discard. The
# standard first table of a context-window proposal.
# ---------------------------------------------------------------------------

CTX_LENGTHS = (512, 1024, 2048, 4096, 8192)


def context_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_context_fill: per candidate context length — docs that fit
    whole (count + exact-ppm share) and tokens kept under
    truncate-at-L (count + exact-ppm truncation loss). Token count is
    the family's whitespace tokenization; NULL-text docs are excluded
    identically by the n_tok >= 1 filter in both engines.

    Determinism: exact bigint counts and ppm div end to end.

    Shape at 100 TB: ONE map-side-combinable conditional aggregate over
    a single-column projection — no join, no row expansion (the
    |lengths|-way fan-out happens on the 1-row aggregate via stack,
    never on corpus rows), output |CTX_LENGTHS| rows."""
    nt = F.size(_tokens(F.col("text")))
    d = (
        table(spark, sf_dir, "documents")
        .select(nt.alias("nt"))
        .filter(F.col("nt") >= 1)
    )
    agg = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("tokens_total"),
        *[
            F.sum(F.when(F.col("nt") <= L, 1).otherwise(0)).alias(f"fit_{L}")
            for L in CTX_LENGTHS
        ],
        *[
            F.sum(F.least(F.col("nt"), F.lit(L))).alias(f"kept_{L}")
            for L in CTX_LENGTHS
        ],
    )
    stack = ", ".join(
        f"{L}, fit_{L}, kept_{L}" for L in CTX_LENGTHS
    )
    fan = agg.selectExpr(
        "n_docs",
        "tokens_total",
        f"stack({len(CTX_LENGTHS)}, {stack}) AS (ctx, docs_fit, tokens_kept)",
    )
    return fan.select(
        F.col("ctx").cast("long").alias("ctx"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("docs_fit").cast("long").alias("docs_fit"),
        F.expr("docs_fit * 1000000 div n_docs").cast("long").alias("fit_ppm"),
        F.col("tokens_total").cast("long").alias("tokens_total"),
        F.col("tokens_kept").cast("long").alias("tokens_kept"),
        F.expr("(tokens_total - tokens_kept) * 1000000 div tokens_total")
        .cast("long")
        .alias("trunc_ppm"),
    ).orderBy("ctx")


_CTX_FAN = "\n      UNION ALL\n".join(
    f"      SELECT {L} AS ctx, fit_{L} AS docs_fit, kept_{L} AS tokens_kept,"
    f" n_docs, tokens_total FROM agg" for L in CTX_LENGTHS
)

CONTEXT_FILL_ORACLE = f"""
    WITH d AS (
      SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS nt
      FROM documents),
    dd AS (SELECT nt FROM d WHERE nt >= 1),
    agg AS (
      SELECT COUNT(*) AS n_docs, SUM(nt) AS tokens_total,
             {", ".join(f"SUM(CASE WHEN nt <= {L} THEN 1 ELSE 0 END) AS fit_{L}" for L in CTX_LENGTHS)},
             {", ".join(f"SUM(LEAST(nt, {L})) AS kept_{L}" for L in CTX_LENGTHS)}
      FROM dd),
    fan AS (
{_CTX_FAN}
    )
    SELECT CAST(ctx AS BIGINT) AS ctx,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(docs_fit AS BIGINT) AS docs_fit,
           CAST(docs_fit * 1000000 // n_docs AS BIGINT) AS fit_ppm,
           CAST(tokens_total AS BIGINT) AS tokens_total,
           CAST(tokens_kept AS BIGINT) AS tokens_kept,
           CAST((tokens_total - tokens_kept) * 1000000 // tokens_total
                AS BIGINT) AS trunc_ppm
    FROM fan ORDER BY ctx
    """
