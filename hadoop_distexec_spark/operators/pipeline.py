"""Training-data pipeline operators (SURVEY.md §2.5 north-star surface,
second batch): deterministic train/test splitting, PII redaction, document
chunking, sequence packing, and dedup-cluster construction via connected
components over near-dup pairs.

These extend the LLM-pipeline family in ``llmops.py`` with the corpus-prep
steps that sit between "near-dup pairs found" and "training shards written":
pairs -> clusters -> canonical keep-list, documents -> chunks -> packed
sequences, plus the split/redact passes every corpus run needs.

The reference (kadwanev/hadoop-distexec) has no relational surface at all
(map-only job, DistExec.java:452); this whole family is [EXT] per SURVEY §2.5.

Scale design (100 TB of documents):
- split/redact/chunk are pure per-row codegen expressions — zero shuffles;
- sequence packing's global window cumsum is the oracle-checkable
  baseline; ``pack_sequences_distributed`` computes the same running sum
  with ``functions.prefix_sum.running_sums``, the distributed prefix sum
  the pipe executor's split planner also uses;
- connected components is iterative min-label propagation: each round is
  one equi-join + one hash aggregate on the edge list, converging in
  O(graph diameter) rounds — the standard Spark shape for dedup-cluster
  construction (large-star/small-star is the same loop with smarter edge
  rewrites). Lineage is truncated per round with localCheckpoint so plans
  don't grow with iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hadoop_distexec_spark.functions import group_local, prefix_sum
from hadoop_distexec_spark.operators.llmops import (
    _SHINGLES_SQL,
    MAX_SHINGLE_DF,
    _tokens,
)
from hadoop_distexec_spark.registry import register
from hadoop_distexec_spark.sources.tables import table

# ---------------------------------------------------------------------------
# deterministic train/test split
# ---------------------------------------------------------------------------

# two lowercase hex chars of md5 compare lexicographically as their byte
# value in both engines: <= '19' keeps 0x00..0x19 = 26/256 ~ 10.2% as test
_TEST_CEIL = "19"


@register(
    "q_split_train_test",
    oracle=f"""
    SELECT doc_id,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hash_bucket,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_TEST_CEIL}'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split: md5 of the stable doc key,
    first two hex chars as the bucket, lexicographic threshold for ~10%
    test. Pure per-row expression (no shuffle, no RNG): the same doc lands
    in the same split on every run, any cluster size, both engines."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2)
    return docs.select(
        "doc_id",
        bucket.alias("hash_bucket"),
        F.when(bucket <= _TEST_CEIL, "test").otherwise("train").alias("split"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"
_LONGNUM_RE = r"[0-9]{6,}"


@register(
    "q_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(LEN(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(LEN(regexp_extract_all(text, '{_LONGNUM_RE}')) AS INT) AS n_longnums,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_LONGNUM_RE}', '<NUM>', 'g') AS redacted
    FROM documents
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: email / phone / long-digit-run patterns counted
    and replaced with typed placeholders, applied in a fixed order (email
    before phone before bare number runs, so a broader pattern never eats a
    narrower one's match). Patterns stay in the RE2 ∩ Java-regex common
    dialect so both engines match identical spans. Zero shuffles."""
    docs = table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _LONGNUM_RE,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_count("text", F.lit(_LONGNUM_RE)).alias("n_longnums"),
        red.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------

CHUNK_CHARS = 256


@register(
    "q_doc_chunks",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, text,
             UNNEST(range(0, CAST(ceil(length(text) / {CHUNK_CHARS}.0) AS BIGINT)))
               AS chunk_id
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, chunk_id,
           substr(text, CAST(chunk_id * {CHUNK_CHARS} + 1 AS INT), {CHUNK_CHARS}) AS chunk,
           length(substr(text, CAST(chunk_id * {CHUNK_CHARS} + 1 AS INT), {CHUNK_CHARS}))
             AS n_chars_chunk
    FROM c
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document chunking (the context-window prep step):
    sequence + explode into CHUNK_CHARS-char slices. Per-row explode, no
    shuffle; at 100 TB the explode multiplies rows ~len/CHUNK inside the
    scan stage and downstream consumers repartition as needed."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chunks = F.ceil(F.length("text") / F.lit(float(CHUNK_CHARS))).cast("long")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.expr(f"substring(text, CAST(chunk_id * {CHUNK_CHARS} + 1 AS INT), {CHUNK_CHARS})").alias(
                "chunk"
            ),
        )
        .withColumn("n_chars_chunk", F.length("chunk").cast("long"))
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

PACK_TOKENS = 4096


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS cum_before
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) AS pack_id,
           CAST(cum_before - (CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) * {PACK_TOKENS})
                AS BIGINT) AS pack_offset
    FROM c
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: docs in stable doc_id order, exclusive
    running token count, pack = floor(cum/PACK_TOKENS) — each training pack
    gets ~PACK_TOKENS tokens. This is the same greedy prefix-sum the pipe
    split planner runs (DistExec.java:149-176 re-expressed relationally);
    the single-partition window here is the oracle-checkable correctness
    baseline, and ``pack_sequences_distributed`` is its distributed twin
    (``functions.prefix_sum.running_sums``)."""
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    t = docs.select("doc_id", n_tok.alias("n_tokens"))
    w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = t.withColumn("cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    pack = F.floor(F.col("cum_before") / PACK_TOKENS)
    return c.select(
        "doc_id",
        "n_tokens",
        pack.alias("pack_id"),
        (F.col("cum_before") - pack * PACK_TOKENS).alias("pack_offset"),
    )


def pack_sequences_distributed(docs: DataFrame, pack_tokens: int = PACK_TOKENS) -> DataFrame:
    """Distributed twin of ``q_pack_sequences``: the same greedy global
    prefix sum with **no single-partition window** (VERDICT r01
    scale-killer #1). The tokens before each doc come from
    ``functions.prefix_sum.running_sums`` over doc_id; pack = floor(tokens
    before / pack_tokens).

    Bit-identical to the windowed baseline: integer token counts, same
    doc_id total order.
    """
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    ranked, _, _ = prefix_sum.running_sums(
        docs.select("doc_id", n_tok.alias("n_tokens")), "doc_id", ["n_tokens"]
    )
    before = F.col("n_tokens_before")
    pack = F.floor(before / pack_tokens)
    return ranked.select(
        "doc_id",
        "n_tokens",
        pack.alias("pack_id"),
        (before - pack * pack_tokens).alias("pack_offset"),
    )


@register(
    "q_pack_sequences_dist",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS cum_before
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) AS pack_id,
           CAST(cum_before - (CAST(floor(cum_before / {PACK_TOKENS}) AS BIGINT) * {PACK_TOKENS})
                AS BIGINT) AS pack_offset
    FROM c
    """,
)
def q_pack_sequences_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, distributed: identical output to q_pack_sequences
    (same oracle, hash-checked) from a plan whose only exchanges are the
    doc_id range partitioning and a per-partition-keyed window
    (``functions.prefix_sum.running_sums``) — survives a
    10^9-row corpus where the windowed baseline's single global sort task
    would not."""
    return pack_sequences_distributed(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Min-label propagation: ``nodes`` is (doc_id), ``edges`` is
    (doc_a, doc_b) undirected; returns (doc_id, component) where component
    is the minimum doc_id reachable from doc_id.

    Each round: symmetric edge join against current labels -> per-node min
    neighbor label -> least(own, neighbor). Converges in O(diameter)
    rounds; every round is one shuffle on doc_id. localCheckpoint after
    each round truncates lineage so the plan stays O(1) deep regardless of
    iteration count (without it round k replays rounds 1..k-1)."""
    # materialize the edge list BEFORE symmetrizing: the union's two
    # branches would otherwise each re-execute the (expensive) upstream
    # pair-mining plan — Spark does not dedupe identical subplans
    edges = edges.localCheckpoint(eager=True)
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # Only edge endpoints can ever change label — singletons are their own
    # component by definition. Propagate over the (usually far smaller)
    # touched-node set and join the untouched majority back at the end:
    # per-round cost scales with |edge endpoints|, not |corpus|.
    touched = sym.select(F.col("src").alias("doc_id")).distinct().localCheckpoint(eager=True)
    labels = touched.select("doc_id", F.col("doc_id").alias("component"))
    from pyspark.sql import Observation

    for _ in range(max_iter):
        # the convergence count piggybacks the checkpoint materialization
        # via Observation (the jump loop's idiom, backported r12): one
        # blocking job per round instead of checkpoint + a separate count
        obs = Observation()
        new = (
            _cc_round(sym, labels)
            .observe(
                obs,
                F.sum(
                    F.when(F.col("new_component") < F.col("component"), 1).otherwise(0)
                ).alias("ch"),
            )
            .localCheckpoint(eager=True)
        )
        # F.sum over an EMPTY frame observes NULL, not 0 (the jump loop's
        # zero-edge lesson, ADVICE r10 #1)
        changed = obs.get["ch"] or 0
        labels = new.select("doc_id", F.col("new_component").alias("component"))
        if changed == 0:
            break
    else:
        # exhausting max_iter without convergence would silently emit
        # SPLIT clusters (component diameter > max_iter): fail loudly
        # rather than hand a wrong keep-list downstream (ADVICE r01 #1)
        raise RuntimeError(
            f"connected_components did not converge after {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — the pair "
            "graph has a component with a larger diameter"
        )
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )


def _cc_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE min-label-propagation round, un-checkpointed (plan-shape tests
    inspect this; connected_components wraps it in the per-round
    checkpoint). Exactly one join + one aggregate touch the edge list —
    the per-round shuffle cost a 100 TB run pays — plus the endpoint-keyed
    label update join."""
    nbr = (
        sym.join(labels, sym.dst == labels.doc_id)
        .groupBy("src")
        .agg(F.min("component").alias("nbr_min"))
        .withColumnRenamed("src", "doc_id")
    )
    return labels.join(nbr, "doc_id", "left").select(
        "doc_id",
        F.least(F.col("component"), F.coalesce("nbr_min", "component")).alias("new_component"),
        "component",
    )


def connected_components_jump(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 256
) -> DataFrame:
    """connected_components with POINTER JUMPING (path halving): each
    round runs the same neighbor-min step, then replaces every label by
    its label's label, so label-chain lengths halve and convergence is
    O(log diameter) rounds instead of O(diameter). Identical output
    contract — (doc_id, component = min reachable doc_id) — because any
    fixed point of the neighbor-min step is already the min-reachable
    labeling and the jump is a no-op at that point.

    Why it exists (measured, BENCH_LOCAL_r10): the candidate-capped edge
    builder's sorted-sliding-window topology is CHAIN-shaped — each cell
    member meets only its cap rank-successors, so a cell of m members
    has graph diameter ~m/cap, and min-label propagation pays one
    edge-join shuffle PER HOP (~30 rounds / 9.5s on sf0.1's ~500-member
    cells; at a 100 TB cell the plain loop simply does not converge
    inside any fixed budget). The jump costs one extra TOUCHED-SET
    self-join per round (tiny next to the edge join) and cuts rounds to
    ~log2(diameter). The dense exact-tier graphs (diameter 1-2) keep
    using plain connected_components — the jump join would be pure
    overhead there.

    Invariant the jump relies on: labels only ever decrease and every
    label is itself a touched doc_id, so the label's label is always
    defined (inner-join-able) and least() keeps the step monotone.

    Convergence budget: SCALE.md r10 measures rounds ≈ 3.6·log2(diameter)
    (the constant >1 because the neighbor-min step and the jump interleave,
    not pure path-halving), so a 100 TB IVF cell (m ≈ 5·10⁵ members at
    cap 16 ⇒ diameter ≈ 3·10⁴) needs ≈53 rounds — the old default of 50
    raised at exactly the scale the operator was built for (VERDICT r10
    next-round #3). The loop exits on convergence, so the generous
    default ≈ 4·64 costs nothing on small graphs; the budget now covers
    diameters up to ~2^(256/3.6) ≈ 10^21."""
    edges = edges.localCheckpoint(eager=True)
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    touched = sym.select(F.col("src").alias("doc_id")).distinct().localCheckpoint(eager=True)
    labels = touched.select("doc_id", F.col("doc_id").alias("component"))
    from pyspark.sql import Observation

    for _ in range(max_iter):
        stepped = _cc_round(sym, labels).select(
            "doc_id", "component", F.col("new_component").alias("c1")
        )
        # jump: map each node's candidate label through the SAME
        # candidate mapping (c1 of c1). Derive both from one
        # checkpointed frame or the edge join would execute twice.
        stepped = stepped.localCheckpoint(eager=True)
        hop = stepped.select(
            F.col("doc_id").alias("j_id"), F.col("c1").alias("j_c")
        )
        # convergence count piggybacks the checkpoint materialization
        # via Observation — one
        # job instead of a checkpoint + a separate count per round
        obs = Observation()
        new = (
            stepped.join(hop, stepped.c1 == hop.j_id, "left")
            .select(
                "doc_id",
                "component",
                F.least(
                    F.col("c1"), F.coalesce("j_c", F.col("c1"))
                ).alias("new_component"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("new_component") < F.col("component"), 1).otherwise(0)
                ).alias("ch"),
            )
            .localCheckpoint(eager=True)
        )
        # F.sum over an EMPTY frame observes NULL (None), not 0 — with
        # zero edges every frame in the loop is empty and `changed == 0`
        # would never fire, exhausting max_iter on a valid degenerate
        # input (a corpus with no near-dup pairs; ADVICE r10 #1)
        changed = obs.get["ch"] or 0
        labels = new.select("doc_id", F.col("new_component").alias("component"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_jump did not converge after {max_iter} "
            "rounds; raise max_iter — measured convergence is "
            "rounds ≈ 3.6·log2(diameter) (SCALE.md r10), so the pair graph "
            f"has a component with diameter beyond ~2^({max_iter}/3.6)"
        )
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )


def connected_components_cell_local(nodes: DataFrame, edges_cell: DataFrame) -> DataFrame:
    """Connected components over a CELL-BLOCKED edge set — ``edges_cell``
    is (cell, doc_a, doc_b) where every edge's endpoints share the cell
    (the label/IVF blocking invariant of the capped builders), so no
    component ever spans cells and CC decomposes exactly into independent
    per-cell problems. One shuffle groups each cell's edges; a per-cell
    min-label union-find (guide §4.2: let Spark do distribution, hand
    whole groups to vectorized native code) labels the touched vertices;
    untouched nodes remain their own component via the same left-join +
    coalesce tail as the iterative tiers. Output contract identical to
    connected_components / connected_components_jump: (doc_id,
    component = min reachable doc_id).

    Why (measured at sf0.1): the pointer-jumping loop pays 210 Spark
    jobs, 11.3s of almost pure per-job overhead, on a bounded edge set;
    this path is 7 jobs / 1.4s with identical labels. At 100 TB cells are
    the blocking unit, |E_cell| <= m*cap by construction, and one task per
    cell replaces O(log diameter) corpus-wide shuffle rounds.

    Shape: one ``group_local.cell_local`` pass. The kernel hooks every
    edge's larger root under its smaller one (``np.minimum.at``), then
    pointer-jumps to a star forest, until no edge joins two roots: each
    round is O(|E_cell|) numpy work, and links only point to smaller
    indices, so each root is its component's minimum. A cell over
    ``BOUNDS["cc"]`` edges sends the whole graph to the distributed jump
    loop instead — same result.

    Precondition: every doc_id appears under at most ONE cell, or the
    per-cell passes emit duplicate label rows. Each caller's builder
    blocks by the cell it attaches; tests/test_group_local.py checks the
    invariant on every caller's edge frame."""

    def _uf_min_label(t):
        import numpy as np
        import pyarrow as pa

        ids, ia, ib = group_local.dense_ids(t, "doc_a", "doc_b")
        parent = np.arange(len(ids), dtype=np.int64)
        while True:
            ra, rb = parent[ia], parent[ib]  # roots: parent is a star forest
            lo, hi = np.minimum(ra, rb), np.maximum(ra, rb)
            cross = lo != hi
            if not cross.any():
                break
            np.minimum.at(parent, hi[cross], lo[cross])
            while True:
                jumped = parent[parent]
                if np.array_equal(jumped, parent):
                    break
                parent = jumped
        return pa.table({"doc_id": ids, "component": ids[parent]})

    labels, _ = group_local.cell_local(
        edges_cell, "cell", "cc", _uf_min_label, "doc_id long, component long",
        lambda pin: connected_components_jump(nodes, pin.select("doc_a", "doc_b")),
    )
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )


# near-dup edges = the q_dedup_ngram pair set (jaccard >= 0.1); the oracle
# recomputes the same pairs and takes the transitive closure recursively
_NGRAM_PAIRS_SQL = f"""
  keep AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}
  ),
  s AS (SELECT doc_id, shingles.shingle FROM shingles JOIN keep ON shingles.shingle = keep.shingle),
  sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
  rawpairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ),
  pairs AS (
    SELECT doc_a, doc_b FROM rawpairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.1
  )
"""


def _ngram_dedup_labels(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """(doc_id, component = min reachable doc_id) over the q_dedup_ngram
    near-dup pair graph; ``docs`` carries every doc_id. The pair list is
    SMALL by nature (it is the dedup OUTPUT, not the corpus — 260 edges
    at sf0.1), yet the distributed min-label loop paid ~1.3s of
    per-round blocking jobs on it, so the edges run through
    connected_components_cell_local under a single cell: one union-find
    pass when the pair list fits one task, the distributed jump loop
    otherwise — identical labels either way."""
    from hadoop_distexec_spark.operators.llmops import q_dedup_ngram

    edges = q_dedup_ngram(spark, sf_dir).select(
        F.lit(0).alias("cell"), "doc_a", "doc_b"
    )
    return connected_components_cell_local(docs, edges)


# Shared by q_dedup_groups and the round-8-prep cluster-size spectrum
# (dedup_cluster_stats wraps this byte-identical text as a subquery, so the
# two can never drift — and q_dedup_groups' registered fingerprint is
# unchanged by the refactor).
_DEDUP_GROUPS_ORACLE = (
    "WITH RECURSIVE "
    + _SHINGLES_SQL.strip().rstrip()
    + ",\n"
    + _NGRAM_PAIRS_SQL
    + """,
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS component,
           CAST(COUNT(*) OVER (PARTITION BY MIN(r)) AS BIGINT) AS cluster_size
    FROM reach GROUP BY id
    """
)


@register(
    "q_dedup_groups",
    oracle=_DEDUP_GROUPS_ORACLE,
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components over the n-gram-Jaccard
    near-dup pair graph (edges = q_dedup_ngram pairs). component = min
    doc_id in the cluster, i.e. the canonical representative a keep-list
    would retain; singleton docs are their own component. DuckDB oracles
    it with a recursive-CTE transitive closure — genuinely iterative on
    the oracle side, yet still hash-checkable.

    Shape: see _ngram_dedup_labels."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labels = _ngram_dedup_labels(spark, sf_dir, docs)
    return labels.withColumn(
        "cluster_size", F.count(F.lit(1)).over(W.partitionBy("component")).cast("long")
    )


# ---------------------------------------------------------------------------
# end-to-end corpus prep composition
# ---------------------------------------------------------------------------


@register(
    "q_corpus_pipeline",
    oracle=f"""
    WITH canon AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    ),
    q AS (
      SELECT d.doc_id,
             regexp_split_to_array(trim(d.text), '\\s+') AS toks
      FROM documents d JOIN canon USING (doc_id)
    ),
    f AS (
      SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tokens
      FROM q
      WHERE LEN(toks) >= 5
        AND CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks) >= 0.3
    )
    SELECT doc_id, n_tokens,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_TEST_CEIL}'
                THEN 'test' ELSE 'train' END AS split
    FROM f
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep stages composed end-to-end — the shape of a real
    training-data run, hash-checked as one plan: exact dedup keep-list
    (min doc_id per normalized-md5 fingerprint) -> quality gate (length
    floor + uniqueness ratio) -> deterministic train/test split with token
    accounting.

    One plan, three shuffles (dedup agg, keep-list semi-join, nothing
    else — quality and split are per-row codegen): demonstrates that the
    registered operators are composable stages, not isolated demos. At
    100 TB each stage keeps its own scale shape; the semi-join on doc_id
    rides the dedup agg's partitioning."""
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.encode(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), "UTF-8"))
    canon = (
        docs.groupBy(fp.alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(canon, "doc_id", "left_semi")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    q = kept.select("doc_id", F.size(toks).cast("long").alias("n_tokens"),
                    (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("_uniq"))
    f = q.filter((F.col("n_tokens") >= 5) & (F.col("_uniq") >= 0.3))
    bucket = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2)
    return f.select(
        "doc_id",
        "n_tokens",
        F.when(bucket <= _TEST_CEIL, "test").otherwise("train").alias("split"),
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph
# ---------------------------------------------------------------------------


def pagerank(edges: DataFrame, iterations: int = 10, damping: float = 0.85) -> DataFrame:
    """Iterative PageRank over an undirected edge list (doc_a, doc_b) ->
    (doc_id, rank, deg) for every node that appears in an edge. Symmetrized
    graph, so there are no dangling nodes and rank mass is conserved
    (sum == 1 up to float error; asserted in tests). Fixed iteration count
    — the deterministic-shape choice for a batch operator (a convergence
    check is one extra count per round, as connected_components does).

    Scale shape (same discipline as connected_components): the edge list
    is checkpointed once before symmetrizing (the union's branches would
    re-run the pair-mining plan); each round is ONE shuffle keyed on
    doc_id over the edge-endpoint set (never the corpus); localCheckpoint
    per round keeps the plan O(1) deep so round k does not replay rounds
    1..k-1."""
    edges = edges.localCheckpoint(eager=True)
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("doc_id")).distinct().localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.select("doc_id", F.lit(0.0).alias("rank"), F.lit(0).alias("deg"))
    outdeg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("doc_id", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        # per-edge contribution decimal-cast before the sum: the per-node
        # aggregation becomes order-independent exact addition, so every
        # iteration's ranks are bit-identical across partitionings AND
        # engines (the double division and the final base+damping*c are
        # single IEEE ops on identical inputs) — this is what lets the
        # fixed-iteration run carry a DuckDB oracle
        contribs = (
            sym.join(ranks, sym.src == ranks.doc_id)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("doc_id"),
                (F.col("rank") / F.col("deg")).cast("decimal(28,18)").alias("c"),
            )
        )
        agg = contribs.groupBy("doc_id").agg(F.sum("c").alias("c"))
        ranks = (
            nodes.join(agg, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("c").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.join(
        outdeg.withColumnRenamed("src", "doc_id"), "doc_id"
    ).select("doc_id", "rank", "deg")


def _pagerank_oracle(iterations: int = 10) -> str:
    """DuckDB twin of q_pagerank: the near-dup pair SQL plus the fixed
    iteration count UNROLLED as a CTE chain (r0..rN). Deterministic by the
    same induction as the Spark loop: identical rank_0, per-edge rank/deg
    is one IEEE division, the per-node sum is exact DECIMAL(28,18)
    addition, and the update is base + d*c on identical doubles."""
    steps = []
    prev = "r0"
    for k in range(1, iterations + 1):
        steps.append(f"""
    c{k} AS (
      SELECT s.dst AS doc_id, SUM(CAST(r.rank / o.deg AS DECIMAL(28,18))) AS c
      FROM sym s JOIN {prev} r ON s.src = r.doc_id JOIN outdeg o ON s.src = o.src
      GROUP BY s.dst
    ),
    r{k} AS (
      SELECT n.doc_id,
             base.b + CAST(0.85 AS DOUBLE)
               * COALESCE(CAST(CAST(c.c AS VARCHAR) AS DOUBLE), CAST(0.0 AS DOUBLE))
               AS rank
      FROM nodes n LEFT JOIN c{k} c ON n.doc_id = c.doc_id CROSS JOIN base
    )""")
        prev = f"r{k}"
    chain = ",".join(steps)
    return (
        "WITH "
        + _SHINGLES_SQL.strip()
        + ",\n"
        + _NGRAM_PAIRS_SQL
        + f""",
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM sym),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
    base AS (
      SELECT (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n AS b FROM nn
    ),
    r0 AS (
      SELECT doc_id, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn
    ),{chain}
    SELECT r.doc_id, r.rank, o.deg
    FROM {prev} r JOIN outdeg o ON r.doc_id = o.src
    """
    )


@register("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the n-gram near-dup graph (edges =
    q_dedup_ngram pairs) — ranks the most-duplicated "hub" documents, the
    signal a curation pipeline uses to pick which cluster representative
    to keep (highest-centrality copy) or which boilerplate family to
    drop wholesale.

    Formerly rows-only; now hash-checked: the iteration count is fixed, so
    the oracle unrolls the 10 rounds as a CTE chain, and the Spark loop's
    decimal-cast contributions make every round's ranks bit-identical in
    both engines (see pagerank()). Invariants (mass conservation,
    positivity, node-set match) remain asserted in tests/test_round2_ops.py.

    Nodes outside any near-dup pair are excluded by definition — a
    singleton's rank is the uninformative (1-d)/N floor."""
    from hadoop_distexec_spark.operators.llmops import q_dedup_ngram

    edges = q_dedup_ngram(spark, sf_dir).select("doc_a", "doc_b")
    return pagerank(edges)


# ---------------------------------------------------------------------------
# deterministic corpus shuffle (training-order sharding)
# ---------------------------------------------------------------------------

N_SHARDS = 8  # sandbox-sized; at 100 TB set to O(corpus_bytes / shard_target)


@register(
    "q_corpus_shuffle",
    oracle=f"""
    WITH k AS (
      SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    ),
    s AS (
      SELECT doc_id, shuffle_key,
             CAST(CAST('0x' || substr(shuffle_key, 1, 6) AS BIGINT) % {N_SHARDS} AS INT)
               AS shard
      FROM k
    )
    SELECT doc_id, shuffle_key, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS INT)
             AS pos_in_shard
    FROM s
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    content-independent pseudorandom key (md5 of a salted stable id), a
    shard (hash-bucket of the key), and a position within its shard (sort
    by key). Writing shard files in pos order yields a reproducible
    shuffled epoch — same order on every run, any cluster size — which is
    how training pipelines get "shuffled" data without a nondeterministic
    RNG pass (the q_split_train_test hashing idea extended to ordering).

    Scale: NO global sort — the window partitions by shard, so each shard
    sorts independently (one hash Exchange on shard + per-partition sort).
    N_SHARDS here is sandbox-sized; at 100 TB shards number in the
    thousands and each window partition stays executor-sized. The md5 key
    is uniform, so shards are balanced by construction (no skew salt
    needed). Hex→int via conv() maps to DuckDB's '0x…'::BIGINT cast."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(
        F.encode(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")), "UTF-8")
    )
    keyed = docs.select("doc_id", key.alias("shuffle_key"))
    shard = (
        F.conv(F.substring("shuffle_key", 1, 6), 16, 10).cast("bigint") % N_SHARDS
    ).cast("int")
    w = W.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("shard", shard)
        .withColumn("pos_in_shard", F.row_number().over(w))
    )


# ---------------------------------------------------------------------------
# cluster-representative selection (dedup: keep the best copy)
# ---------------------------------------------------------------------------


@register(
    "q_group_representative",
    oracle="WITH RECURSIVE "
    + _SHINGLES_SQL.strip().rstrip()
    + ",\n"
    + _NGRAM_PAIRS_SQL
    + """,
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
    ranked AS (
      SELECT component, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS cluster_size
      FROM comp JOIN documents d USING (doc_id)
    )
    SELECT component, doc_id AS rep_doc,
           CAST(n_chars AS BIGINT) AS rep_n_chars,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(cluster_size - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    """,
)
def q_group_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keep-list with best-copy selection: q_dedup_groups' clusters,
    but the retained representative is the LONGEST member (max n_chars,
    doc_id tie-break) rather than the arbitrary min-id — the policy real
    curation uses (keep the most complete copy, drop truncated mirrors).
    This is the operator a user actually runs to deduplicate: one row per
    cluster = the keep-list; n_dropped accounts the removals.

    Shape on top of q_dedup_groups' labelling (_ngram_dedup_labels): one
    doc_id-keyed broadcast-sized join to hydrate lengths, then a single
    component-keyed Exchange shared by both window functions (same
    partitioning => one shuffle, plan-verified in tests). Oracle: the
    recursive-CTE closure again, plus an argmax window."""
    docs = table(spark, sf_dir, "documents")
    labels = _ngram_dedup_labels(spark, sf_dir, docs.select("doc_id"))
    j = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    wsel = W.partitionBy("component").orderBy(F.col("n_chars").desc(), "doc_id")
    wcnt = W.partitionBy("component")
    return (
        j.withColumn("rn", F.row_number().over(wsel))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wcnt).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc"),
            F.col("n_chars").cast("long").alias("rep_n_chars"),
            "cluster_size",
            (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
        )
    )


# Round-7 registration of the PII source audit (prep proven in round 6,
# tests/test_round6_ops.py). It lives here rather than llmops.py because
# its oracle interpolates THIS module's redactor regexes at build time —
# registering from llmops would re-enter the pipeline->llmops import cycle.
from hadoop_distexec_spark.operators.llmops import (  # noqa: E402
    _pii_source_audit_oracle,
    pii_source_audit,
)

register("q_pii_source_audit", oracle=_pii_source_audit_oracle())(pii_source_audit)


# ---------------------------------------------------------------------------
# round-8 prep (implemented + pytest-gated with TESTED draft oracle twins;
# REGISTERED r08 as q_label_prop).
# ---------------------------------------------------------------------------


def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padded-packing waste audit: the OTHER packing strategy production
    uses. q_pack_sequences splits documents across pack boundaries (zero
    waste, but every pack mixes unrelated tails); the padding strategy
    keeps documents whole — pad each doc to its power-of-two length
    bucket, pack same-bucket docs CAP//p to a pack — and pays for it in
    padding + tail slack. This audit prices that trade per bucket:
    documents, real tokens, slots per pack, packs needed, allocated
    capacity, and fill ratio. The decision it feeds: if the small
    buckets' fill is high, padded packing is nearly free and you keep
    whole-document attention masks; if not, split packing it is.

    Determinism: all counts exact bigint arithmetic (power-of-two
    ceiling via the bit-exact binary-length idiom; pack counts by
    integer ceil-division — never enumerated); fill is one IEEE
    division. Zero-token docs are unpackable and excluded (the w0
    length>0 token rule).

    Shape at 100 TB: ONE map-side-combinable aggregate on the ~13-cell
    bucket key over the token-count projection — no join, no window, no
    pack enumeration (closed-form counts), output bounded by
    log2(longest doc)."""
    cap = PACK_TOKENS
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(_tokens(F.col("text")), lambda x: F.length(x) > 0)
    t = docs.select(F.size(toks).cast("long").alias("n")).where(F.col("n") > 0)
    p = F.when(F.col("n") <= 1, F.lit(1).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(n - 1)))")
    )
    g = (
        t.select(p.alias("p"), "n")
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("sum_tokens"),
            # per-doc pack count for oversize docs (p > cap): chunked at cap
            F.sum(F.expr(f"(n + {cap - 1}) DIV {cap}")).alias("_ovp"),
        )
    )
    slots = F.expr(
        f"CASE WHEN p <= {cap} THEN {cap} DIV p ELSE CAST(0 AS BIGINT) END"
    )
    g = g.select("p", "n_docs", "sum_tokens", "_ovp", slots.alias("slots_per_pack"))
    n_packs = F.expr(
        f"CASE WHEN p <= {cap} "
        "THEN (n_docs + slots_per_pack - 1) DIV slots_per_pack "
        "ELSE _ovp END"
    )
    g = g.select(
        "p", "n_docs", "sum_tokens", "slots_per_pack", n_packs.alias("n_packs")
    )
    return g.select(
        "p",
        "n_docs",
        "sum_tokens",
        "slots_per_pack",
        "n_packs",
        (F.col("n_packs") * cap).alias("alloc_tokens"),
        (
            F.col("sum_tokens").cast("double") / (F.col("n_packs") * cap).cast("double")
        ).alias("fill_ratio"),
    )


PACK_EFFICIENCY_ORACLE = f"""
    WITH t AS (
      SELECT CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> length(x) > 0)) AS BIGINT) AS n
      FROM documents),
    t2 AS (SELECT n FROM t WHERE n > 0),
    b AS (
      SELECT CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END AS p,
             n
      FROM t2),
    g AS (
      SELECT p, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS sum_tokens,
             CAST(SUM((n + {PACK_TOKENS - 1}) // {PACK_TOKENS}) AS BIGINT) AS ovp
      FROM b GROUP BY p),
    g2 AS (
      SELECT p, n_docs, sum_tokens,
             CASE WHEN p <= {PACK_TOKENS} THEN {PACK_TOKENS} // p
                  ELSE CAST(0 AS BIGINT) END AS slots_per_pack,
             CASE WHEN p <= {PACK_TOKENS}
                  THEN (n_docs + ({PACK_TOKENS} // p) - 1) // ({PACK_TOKENS} // p)
                  ELSE ovp END AS n_packs
      FROM g)
    SELECT p, n_docs, sum_tokens, slots_per_pack, n_packs,
           CAST(n_packs * {PACK_TOKENS} AS BIGINT) AS alloc_tokens,
           CAST(sum_tokens AS DOUBLE)
             / CAST(n_packs * {PACK_TOKENS} AS DOUBLE) AS fill_ratio
    FROM g2
    """


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-SIZE spectrum of the near-dup graph: for each cluster
    size, how many connected components and how many documents sit in
    them — the shape-of-duplication report (a corpus dominated by
    2-clusters needs pairwise dedup; a few giant clusters mean template
    spam and call for representative selection). Built ON q_dedup_groups
    — the spectrum is one bounded aggregate over the witnessed CC
    labels, and the oracle wraps the groups oracle verbatim so the two
    can never drift.

    Shape at 100 TB: adds one map-side-combinable agg on the bounded
    cluster_size key to the CC cost it inherits (which exact-dedup-first
    composition keeps edge-bounded)."""
    g = q_dedup_groups(spark, sf_dir)
    return g.groupBy("cluster_size").agg(
        F.count_distinct("component").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs"),
    )


DEDUP_CLUSTER_STATS_ORACLE = f"""
    SELECT cluster_size,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_DEDUP_GROUPS_ORACLE}) g
    GROUP BY cluster_size
    """


# Round-7 registration of this round's prep wave (parity proof:
# tests/test_round7_ops.py).
register("q_pack_efficiency", oracle=PACK_EFFICIENCY_ORACLE)(pack_efficiency)

register("q_dedup_cluster_stats", oracle=DEDUP_CLUSTER_STATS_ORACLE)(
    dedup_cluster_stats
)


# ---------------------------------------------------------------------------
# label_prop — synchronous label propagation (round-8 prep, registration
# REGISTERED r08 as q_split_leakage)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3  # fixed synchronous rounds; unrolled identically in the oracle


def label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    embedding near-dup graph (edges = q_dedup_embed's label-blocked
    cosine pairs, shared builder + shared CTE so graph and communities
    cannot drift): every node starts as its own label; each round it
    adopts the MODE of its neighbors' labels (tie -> smallest label),
    isolated nodes keep their own. After {LPA_ROUNDS} fixed rounds the
    label spectrum is reported: community id, member count, share in
    exact ppm. Where connected components (q_dedup_groups) answers
    "what is transitively linked", LPA answers "what is DENSELY linked"
    — the dedup-adjacent clustering that splits a hairball CC into its
    cores; the iterative-family member beside pagerank / kmeans / BPE /
    CC, with deterministic synchronous updates so the unrolled DuckDB
    twin is bit-exact.

    Determinism: mode ties break on smallest label (row_number over
    (count desc, label asc)); fixed round count; exact bigint counts and
    integer-ppm shares.

    Shape at 100 TB: the edge builder blocks by label cell, so the
    synchronous rounds decompose exactly per cell — one shuffle groups
    each cell's edges and numpy runs the same LPA_ROUNDS in-task
    (_lpa_labels_cell_local, the r12 CC-family playbook; measured at
    sf0.1 the distributed loop paid ~3 blocking jobs/round on a bounded
    edge set). Cells larger than the per-task edge bound fall back to
    the distributed _lpa_labels loop: each round is ONE equi-join
    against the pinned edges plus one (node, label) hash aggregate and a
    per-node top-1 window. Rounds are a constant, not data-dependent."""
    from hadoop_distexec_spark.operators.llmops import q_dedup_embed

    emb = table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("v"))
    edges = q_dedup_embed(spark, sf_dir).select("vec_a", "vec_b")
    # the builder blocks by label: attach each edge's cell with a pruned
    # 2-column equi-join on vec_a (both endpoints share the label)
    cell_of = emb.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("cell"))
    return _lpa_spectrum(
        _lpa_labels_cell_local(nodes, edges.join(cell_of, "vec_a"))
    )


def _lpa_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """The synchronous LPA loop (label_prop's registered core):
    LPA_ROUNDS rounds of mode-of-neighbors with smallest-label tiebreak
    over an undirected (vec_a, vec_b) edge frame, isolated nodes
    self-stable; returns per-node (v, lab).
    Shared with label_prop_capped so the capped tier cannot drift from
    the registered semantics it approximates."""
    sym = edges.select(
        F.col("vec_a").alias("v"), F.col("vec_b").alias("u")
    ).unionByName(
        edges.select(F.col("vec_b").alias("v"), F.col("vec_a").alias("u"))
    )
    labels = nodes.select("v", F.col("v").alias("lab"))
    tw = W.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("lab"))
    for _ in range(LPA_ROUNDS):
        msgs = (
            sym.join(
                labels.select(F.col("v").alias("u"), F.col("lab")), "u"
            )
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        top = (
            msgs.withColumn("rn", F.row_number().over(tw))
            .filter(F.col("rn") == 1)
            .select("v", F.col("lab").alias("new_lab"))
        )
        labels = (
            labels.join(top, "v", "left")
            .select("v", F.coalesce("new_lab", "lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    return labels


def _lpa_labels_cell_local(
    nodes: DataFrame,
    edges_cell: DataFrame,
) -> DataFrame:
    """_lpa_labels over a CELL-BLOCKED edge set — ``edges_cell`` is
    (cell, vec_a, vec_b) where both endpoints share the cell (the label
    blocking of q_dedup_embed's builder), so LPA messages never cross
    cells and the synchronous rounds decompose exactly per cell: one
    shuffle groups each cell's edges, numpy runs the SAME LPA_ROUNDS
    mode-of-neighbors rounds (count desc, smallest-label tiebreak,
    synchronous updates, isolated nodes self-stable) in-task, and
    untouched nodes keep their own label via the same left-join +
    coalesce tail (the connected_components_cell_local pattern, r12:
    per-round corpus-wide shuffles -> one Arrow pass). Early exit when a
    round changes nothing is safe: a synchronous fixed point reproduces
    itself, so rounds k+1..LPA_ROUNDS are no-ops.

    Shape: one ``group_local.cell_local`` pass. A cell over
    ``BOUNDS["lpa"]`` edges sends the whole graph to the distributed
    _lpa_labels loop instead — identical output."""

    def _lpa_cell(t):
        import numpy as np
        import pyarrow as pa

        # dense_ids ascends: index order == id order, so the
        # smallest-INDEX tiebreak below is the smallest-LABEL tiebreak
        ids, ia, ib = group_local.dense_ids(t, "vec_a", "vec_b")
        v_all = np.concatenate([ia, ib])
        u_all = np.concatenate([ib, ia])
        lab = np.arange(len(ids), dtype=np.int64)
        for _ in range(LPA_ROUNDS):
            ulab = lab[u_all]
            order = np.lexsort((ulab, v_all))
            vv, ll = v_all[order], ulab[order]
            starts = np.r_[
                0, np.flatnonzero((vv[1:] != vv[:-1]) | (ll[1:] != ll[:-1])) + 1
            ]
            run_v, run_l = vv[starts], ll[starts]
            run_c = np.diff(np.r_[starts, len(vv)])
            # per v: max count, ties -> smallest label (lexsort is stable
            # and run_l ascends within v, so first row per v wins)
            ord2 = np.lexsort((run_l, -run_c, run_v))
            rv2, rl2 = run_v[ord2], run_l[ord2]
            first = np.r_[0, np.flatnonzero(rv2[1:] != rv2[:-1]) + 1]
            new_lab = lab.copy()
            new_lab[rv2[first]] = rl2[first]
            if np.array_equal(new_lab, lab):
                break
            lab = new_lab
        return pa.table({"v": ids, "lab": ids[lab]})

    labels, _ = group_local.cell_local(
        edges_cell, "cell", "lpa", _lpa_cell, "v long, lab long",
        lambda pin: _lpa_labels(nodes, pin.select("vec_a", "vec_b")),
    )
    return nodes.join(labels, "v", "left").select(
        "v", F.coalesce("lab", F.col("v")).alias("lab")
    )


def _lpa_spectrum(labels: DataFrame) -> DataFrame:
    """Community spectrum over per-node labels: community id, member
    count, exact-ppm share (label_prop's registered output shape)."""
    spectrum = labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return spectrum.select(
        "community",
        "n_members",
        F.expr("n_members * 1000000 div sum(n_members) OVER ()")
        .cast("long")
        .alias("share_ppm"),
    ).orderBy(F.col("n_members").desc(), "community")


def label_prop_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_prop's hub-mitigation tier (VERDICT r07 #6): the same
    {LPA_ROUNDS}-round synchronous LPA over the candidate-capped edge set
    (llmops.embed_edges_capped —
    the cap must sit at pair ENUMERATION, where the 10x cost actually
    lives; see that docstring's measured negative result for capping
    after the build). Edge volume is <= cap*|V| no matter how dense the
    near-dup graph gets — the 10x fixture's shared-label replication
    makes the exact |E| ~100x while this tier stays linear in |V|.
    Partition agreement vs the exact tier is MEASURED by
    lpa_cap_agreement, never assumed."""
    from hadoop_distexec_spark.operators.llmops import embed_edges_capped

    nodes = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("v")
    )
    capped = (
        embed_edges_capped(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True)
    )
    return _lpa_spectrum(_lpa_labels(nodes, capped))


def semantic_dedup_groups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_semantic_dedup_groups' hub-mitigation tier: the same min-label
    connected components over the candidate-capped edge set
    (llmops.embed_edges_capped).
    Because the capped edges are a strict SUBSET of the registered edge
    set, every capped cluster sits wholly inside one exact cluster — the
    capped partition REFINES the exact one (pytest law), so a keep-list
    built from it never merges documents the exact tier would keep
    apart; it can only split clusters whose connectivity ran through
    dropped candidates. Co-membership precision is therefore 1 by
    construction and only RECALL is a measured quantity
    (cc_cap_agreement)."""
    from hadoop_distexec_spark.operators.llmops import embed_edges_capped

    emb = table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    edges = embed_edges_capped(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    # the capped builder blocks by label, so every edge lives inside one
    # cell — attach the cell (pruned 2-column scan, equi-join on doc_a)
    # and run the cell-local union-find; oversized cells fall back to the
    # pointer-jumping loop (see connected_components_cell_local: 12.5s /
    # 210 jobs -> ~2s / 9 jobs at sf0.1, identical labels)
    cell_of = emb.select(F.col("vec_id").alias("doc_a"), F.col("label").alias("cell"))
    labels = connected_components_cell_local(nodes, edges.join(cell_of, "doc_a"))
    return labels.select(
        F.col("doc_id").alias("vec_id"), "component"
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(W.partitionBy("component")).cast("long"),
    )


# Sampled-cell agreement constants (VERDICT r09 next-round #4): target
# number of label cells the agreement audit pays for. The cell MOD is
# DERIVED from the corpus's cell count with exact integer ceil-division
# (the _truth_sample_mod idiom applied to blocking cells), so the
# registered semantics scale without editing a constant.
AGREE_TARGET_CELLS = 4


def _agree_cell_mod(n_cells: int) -> int:
    """ceil(n_cells / AGREE_TARGET_CELLS), floored at 1 — exact integer
    arithmetic so Spark (Python) and DuckDB (// floor-division) agree
    bit-for-bit."""
    return max(1, -(-n_cells // AGREE_TARGET_CELLS))


def cc_cap_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured co-membership recall of the capped dedup clusters vs the
    exact tier, on a DETERMINISTIC SAMPLE (VERDICT r09 next-round #4 —
    the r09 form ran the exact O(m^2/cell) edge build over the FULL
    corpus inside a registered query; this form applies
    q_dedup_recall_eval's corpus-derived md5-MOD idiom at two levels,
    so the sample IS the registered semantics, mirrored in the oracle):

    - CELL sample: 1-in-CMOD of label cells, CMOD =
      ceil(n_cells / AGREE_TARGET_CELLS) — BOTH arms run only inside
      sampled cells. Label blocking means no component (exact or
      capped) ever spans cells, so the capped clustering restricted to
      sampled cells is bit-identical to the full build's restriction:
      the audit is EXACT on the cells it samples, not an approximation
      of them.
    - VERTEX sample for the exact arm: within sampled cells, exact
      pairs are enumerated only between 1-in-VMOD md5-sampled vectors
      (VMOD = ceil(corpus / TRUTH_SAMPLE_TARGET_DOCS), the
      q_dedup_recall_eval constant), so the exact arm touches
      ~(TARGET/corpus)^2 of pair space — CONSTANT cost as the corpus
      grows even when the cell COUNT does not (the 10x lane's shape:
      10 labels, 100x the rows).

    Recall = share of sampled exact pairs the capped clustering keeps
    co-member; precision is 1 by the refinement law (capped edges are a
    subset of exact edges, so capped clusters never merge what exact
    separates — pytest-gated). Cluster stats are the CAPPED tier's over
    the sampled cells: the exact tier's cluster census is exactly the
    computation a 100 TB run must never do, and the production capped
    census at full corpus is q_semantic_dedup_groups_capped's job."""
    from hadoop_distexec_spark.operators.llmops import (
        DEGREE_CAP,
        EMBED_COS_THRESHOLD,
        _spark_dot,
        _truth_sample_mod,
        _window_capped_pairs,
    )

    emb = table(spark, sf_dir, "embeddings")
    # both MOD inputs in ONE aggregate job (r13; previously a distinct
    # count plus a separate full count)
    _c = emb.agg(
        F.countDistinct("label").alias("nc"), F.count(F.lit(1)).alias("nv")
    ).collect()[0]
    n_cells, n_vecs = _c["nc"], _c["nv"]
    cmod = _agree_cell_mod(n_cells)
    vmod = _truth_sample_mod(n_vecs)

    def in_mod(prefix: str, col, mod: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.encode(
                            F.concat(F.lit(prefix), col.cast("string")),
                            "UTF-8",
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % mod
            == 0
        )

    dp = spark.sparkContext.defaultParallelism
    cells = (
        emb.filter(in_mod("cca:", F.col("label"), cmod))
        .select(
            "vec_id",
            F.col("label").alias("cell"),
            "embedding",
            _spark_dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
        )
        .repartition(dp, "cell")
        # one materialization shared by the capped arm, the CC nodes and
        # the vertex sample — without the pin each consumer replays the
        # decimal norm scan
        .localCheckpoint(eager=True)
    )
    capped = _window_capped_pairs(cells, DEGREE_CAP).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    # cell-blocked edges (both endpoints share the cell by construction):
    # re-attach the cell from the pinned `cells` frame and run the
    # cell-local union-find instead of the min-label loop (r12
    # optimization — see connected_components_cell_local; identical labels)
    lab_c = connected_components_cell_local(
        cells.select(F.col("vec_id").alias("doc_id")),
        capped.join(
            cells.select(F.col("vec_id").alias("doc_a"), "cell"), "doc_a"
        ),
    ).localCheckpoint(eager=True)

    # the exact arm: ~TRUTH_SAMPLE_TARGET_DOCS vectors whatever the
    # corpus size, so the within-cell self-join below is constant-sized;
    # its row count rides the checkpoint via Observation (r13)
    from pyspark.sql import Observation

    _obs_sv = Observation()
    sv = (
        cells.filter(in_mod("ccv:", F.col("vec_id"), vmod))
        .observe(_obs_sv, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_sv = _obs_sv.get["n"] or 0
    a = sv.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm2").alias("n2_a"),
    )
    b = sv.select(
        "cell",
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
    truth = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        # q_dedup_embed's double prefilter + exact-decimal threshold
        .filter(dbl_cos >= EMBED_COS_THRESHOLD - 1e-6)
        .filter(cosine >= EMBED_COS_THRESHOLD)
        .select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"))
    )
    probe = truth.join(
        lab_c.select(
            F.col("doc_id").alias("vec_a"), F.col("component").alias("ca")
        ),
        "vec_a",
    ).join(
        lab_c.select(
            F.col("doc_id").alias("vec_b"), F.col("component").alias("cb")
        ),
        "vec_b",
    )
    agg = probe.agg(
        F.count(F.lit(1)).alias("n_exact_pairs_sampled"),
        F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0)).alias(
            "n_comember_capped"
        ),
    )
    # cluster stats and the sampled-cell count ride the FINAL plan as
    # crossJoined 1-row aggregates over the pinned frames (r13;
    # previously two more driver-blocking collect/count jobs)
    stats_f = (
        lab_c.groupBy("component")
        .count()
        .agg(F.count(F.lit(1)).alias("_nc"), F.max("count").alias("_mx"))
    )
    ncs_f = cells.agg(F.countDistinct("cell").alias("_ncells"))
    return (
        agg.crossJoin(ncs_f)
        .crossJoin(stats_f)
        .select(
            F.col("_ncells").cast("long").alias("n_cells_sampled"),
            F.lit(n_sv).cast("long").alias("n_vecs_truth_sampled"),
            "n_exact_pairs_sampled",
            F.col("n_comember_capped").cast("long").alias("n_comember_capped"),
            F.expr("n_comember_capped * 1000000 div n_exact_pairs_sampled")
            .cast("long")
            .alias("comember_recall_ppm"),
            F.col("_nc").cast("long").alias("n_clusters_capped_sampled"),
            F.col("_mx").cast("long").alias("max_cluster_capped_sampled"),
        )
    )


def _register_cc_cap_agreement() -> None:
    """Register q_cc_cap_agreement (VERDICT r08 #3; sampled truth arm
    per VERDICT r09 #4). Runs at pipeline module build, AFTER
    cc_cap_agreement is defined; the oracle interpolates llmops' capped-
    tier SQL fragments, importable here at build time because
    pipeline -> llmops is already the module-level direction of the
    import cycle. Wrapped in a function so the fragment names don't leak
    into this module's namespace."""
    from hadoop_distexec_spark.operators.llmops import (
        _DEC_DOT,
        EMBED_COS_THRESHOLD,
        TRUTH_SAMPLE_TARGET_DOCS,
        _capped_window_sql,
    )

    tdot = _DEC_DOT.format(a="a.embedding", b="b.embedding")

    @register(
        "q_cc_cap_agreement",
        oracle=f"""
        WITH RECURSIVE
        scells AS (
          SELECT label FROM (SELECT DISTINCT label FROM embeddings)
          WHERE CAST('0x' || substr(md5('cca:' || CAST(label AS VARCHAR)),
                     1, 15) AS BIGINT)
                % (SELECT GREATEST(1,
                       (COUNT(DISTINCT label) + {AGREE_TARGET_CELLS - 1})
                       // {AGREE_TARGET_CELLS}) FROM embeddings) = 0),
        lcells AS (
          SELECT vec_id, label AS cell, embedding,
                 {_DEC_DOT.format(a='embedding', b='embedding')} AS norm2
          FROM embeddings JOIN scells USING (label)),
        {_capped_window_sql('lcells', 'l')},
        uc AS (SELECT vec_a AS a, vec_b AS b FROM lcapped
               UNION ALL SELECT vec_b AS a, vec_a AS b FROM lcapped),
        reach_c(id, r) AS (
          SELECT vec_id, vec_id FROM lcells
          UNION
          SELECT uc.a, reach_c.r FROM uc JOIN reach_c ON uc.b = reach_c.id),
        comp_c AS (SELECT id, MIN(r) AS c FROM reach_c GROUP BY id),
        sv AS (
          SELECT vec_id, cell, embedding, norm2 FROM lcells
          WHERE CAST('0x' || substr(md5('ccv:' || CAST(vec_id AS VARCHAR)),
                     1, 15) AS BIGINT)
                % (SELECT GREATEST(1,
                       (COUNT(*) + {TRUTH_SAMPLE_TARGET_DOCS - 1})
                       // {TRUTH_SAMPLE_TARGET_DOCS}) FROM embeddings) = 0),
        truth AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM sv a JOIN sv b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {tdot} / SQRT(a.norm2 * b.norm2) >= {EMBED_COS_THRESHOLD}),
        probe AS (
          SELECT COUNT(*) AS n_pairs,
                 SUM(CASE WHEN ca.c = cb.c THEN 1 ELSE 0 END) AS n_co
          FROM truth t JOIN comp_c ca ON t.vec_a = ca.id
                       JOIN comp_c cb ON t.vec_b = cb.id),
        stats_c AS (SELECT COUNT(*) AS nc, MAX(n) AS mx
                    FROM (SELECT c, COUNT(*) AS n FROM comp_c GROUP BY c))
        SELECT CAST((SELECT COUNT(*) FROM scells) AS BIGINT)
                 AS n_cells_sampled,
               CAST((SELECT COUNT(*) FROM sv) AS BIGINT)
                 AS n_vecs_truth_sampled,
               CAST(probe.n_pairs AS BIGINT) AS n_exact_pairs_sampled,
               CAST(probe.n_co AS BIGINT) AS n_comember_capped,
               CAST(CASE WHEN probe.n_pairs = 0 THEN NULL
                         ELSE probe.n_co * 1000000 // probe.n_pairs
                    END AS BIGINT) AS comember_recall_ppm,
               CAST(stats_c.nc AS BIGINT) AS n_clusters_capped_sampled,
               CAST(stats_c.mx AS BIGINT) AS max_cluster_capped_sampled
        FROM probe, stats_c
        """,
    )
    def q_cc_cap_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Registered face of cc_cap_agreement — the measured-error
        companion of q_dedup_embed_capped, with the exact arm confined
        to a deterministic md5-MOD sample of label cells and, inside
        them, a corpus-derived vertex sample (the q_dedup_recall_eval
        idiom — VERDICT r09 #4 cleared the full-corpus exact arm, the
        one remaining O(m^2/cell) path in a registered query). Recall
        stays a measured quantity; precision is 1 by the refinement
        law. Oracle: the same two-level sample + one recursive-CTE
        transitive closure of the capped edges."""
        return cc_cap_agreement(spark, sf_dir)


_register_cc_cap_agreement()


def lpa_cap_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured partition agreement between label_prop's exact and
    degree-capped tiers (runs BOTH — one-off audit cost, the
    q_recall_eval pattern): over the exact edge set, the share of edges
    whose two endpoints are co-members in BOTH tiers or in NEITHER
    (pair-level Rand-style agreement on the pairs that matter — the
    linked ones), plus each tier's community count. The exact edge build
    feeds the exact tier and the probe pairs; the capped tier builds its
    own bounded edge set (that is its point)."""
    from hadoop_distexec_spark.operators.llmops import (
        embed_edges_capped,
        q_dedup_embed,
    )

    nodes = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("v")
    )
    edges = (
        q_dedup_embed(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True)
    )
    capped = (
        embed_edges_capped(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True)
    )
    lab_e = _lpa_labels(nodes, edges)
    lab_c = _lpa_labels(nodes, capped)
    probe = (
        edges.join(
            lab_e.select(F.col("v").alias("vec_a"), F.col("lab").alias("ea")),
            "vec_a",
        )
        .join(
            lab_e.select(F.col("v").alias("vec_b"), F.col("lab").alias("eb")),
            "vec_b",
        )
        .join(
            lab_c.select(F.col("v").alias("vec_a"), F.col("lab").alias("ca")),
            "vec_a",
        )
        .join(
            lab_c.select(F.col("v").alias("vec_b"), F.col("lab").alias("cb")),
            "vec_b",
        )
    )
    agg = probe.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("ea") == F.col("eb")) == (F.col("ca") == F.col("cb")), 1
            ).otherwise(0)
        ).alias("n_agree"),
    )
    n_comm_e = lab_e.select("lab").distinct().count()
    n_comm_c = lab_c.select("lab").distinct().count()
    return agg.select(
        "n_pairs",
        "n_agree",
        F.expr("n_agree * 1000000 div n_pairs").cast("long").alias(
            "pair_agreement_ppm"
        ),
        F.lit(n_comm_e).cast("long").alias("n_comm_exact"),
        F.lit(n_comm_c).cast("long").alias("n_comm_capped"),
    )


def _lpa_round_sql(prev: str, cur: str) -> str:
    """One unrolled synchronous LPA round (the SQL twin of the Spark
    loop body), chained by CTE name."""
    return f"""m{cur} AS (
      SELECT nbr.v, l.lab, COUNT(*) AS cnt
      FROM nbr JOIN {prev} l ON nbr.u = l.v
      GROUP BY 1, 2),
    p{cur} AS (
      SELECT v, lab FROM (
        SELECT v, lab,
               row_number() OVER (PARTITION BY v
                                  ORDER BY cnt DESC, lab) AS rn
        FROM m{cur}) t
      WHERE rn = 1),
    l{cur} AS (
      SELECT l.v, COALESCE(p.lab, l.lab) AS lab
      FROM {prev} l LEFT JOIN p{cur} p USING (v))"""


def _lpa_oracle() -> str:
    from hadoop_distexec_spark.operators.llmops import _EMBED_EDGES_SQL

    rounds = ",\n    ".join(
        _lpa_round_sql(f"l{i}", str(i + 1)) for i in range(LPA_ROUNDS)
    )
    return f"""
    WITH {_EMBED_EDGES_SQL},
    nbr AS (
      SELECT vec_a AS v, vec_b AS u FROM edges
      UNION ALL
      SELECT vec_b AS v, vec_a AS u FROM edges),
    l0 AS (SELECT vec_id AS v, vec_id AS lab FROM embeddings),
    {rounds}
    SELECT lab AS community, COUNT(*) AS n_members,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
             AS share_ppm
    FROM l{LPA_ROUNDS} GROUP BY lab
    ORDER BY n_members DESC, community
    """


LABEL_PROP_ORACLE = _lpa_oracle()


def _lpa_capped_oracle() -> str:
    """label_prop_capped's DuckDB twin (parity-tested by
    tests/test_round9_ops.py) — the identical
    unrolled {LPA_ROUNDS}-round CTE chain, with the neighbor list built
    from the CAPPED edge set (llmops' shared capped-window fragments)
    instead of the exact one."""
    from hadoop_distexec_spark.operators.llmops import (
        _CAPPED_CELLS_LABEL_SQL,
        _capped_window_sql,
    )

    rounds = ",\n    ".join(
        _lpa_round_sql(f"l{i}", str(i + 1)) for i in range(LPA_ROUNDS)
    )
    return f"""
    WITH {_CAPPED_CELLS_LABEL_SQL},
    {_capped_window_sql('lcells', 'lc')},
    nbr AS (
      SELECT vec_a AS v, vec_b AS u FROM lccapped
      UNION ALL
      SELECT vec_b AS v, vec_a AS u FROM lccapped),
    l0 AS (SELECT vec_id AS v, vec_id AS lab FROM embeddings),
    {rounds}
    SELECT lab AS community, COUNT(*) AS n_members,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
             AS share_ppm
    FROM l{LPA_ROUNDS} GROUP BY lab
    ORDER BY n_members DESC, community
    """


LABEL_PROP_CAPPED_ORACLE = _lpa_capped_oracle()


def _semantic_dedup_groups_capped_oracle() -> str:
    """semantic_dedup_groups_capped's DuckDB twin (parity-tested by
    tests/test_round9_ops.py) — the same recursive-CTE min-label
    transitive closure as q_semantic_dedup_groups, over the
    CAPPED edge set (llmops' shared capped-window fragments, embedded
    byte-for-byte so the candidate policy cannot drift)."""
    from hadoop_distexec_spark.operators.llmops import (
        _CAPPED_CELLS_LABEL_SQL,
        _capped_window_sql,
    )

    return f"""
    WITH RECURSIVE {_CAPPED_CELLS_LABEL_SQL},
    {_capped_window_sql('lcells', 'sc')},
    cedges AS (
      SELECT vec_a AS a, vec_b AS b FROM sccapped
      UNION ALL
      SELECT vec_b AS a, vec_a AS b FROM sccapped),
    reach(id, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT cedges.a, reach.r FROM cedges JOIN reach ON cedges.b = reach.id)
    SELECT id AS vec_id, MIN(r) AS component,
           CAST(COUNT(*) OVER (PARTITION BY MIN(r)) AS BIGINT) AS cluster_size
    FROM reach GROUP BY id
    """


SEMANTIC_DEDUP_GROUPS_CAPPED_ORACLE = _semantic_dedup_groups_capped_oracle()

register("q_label_prop_capped", oracle=LABEL_PROP_CAPPED_ORACLE)(
    label_prop_capped
)
register(
    "q_semantic_dedup_groups_capped",
    oracle=SEMANTIC_DEDUP_GROUPS_CAPPED_ORACLE,
)(semantic_dedup_groups_capped)


# ---------------------------------------------------------------------------
# split_leakage — near-dup contamination across the train/test boundary
# (round-8 prep; REGISTERED r08)
# ---------------------------------------------------------------------------


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: near-duplicate pairs
    (q_dedup_ngram's jaccard >= 0.1 set, shared builder + shared
    _NGRAM_PAIRS_SQL CTE) classified against q_split_train_test's
    hash-bucket assignment (same md5 expression, no join needed — the
    split is a pure function of doc_id). A CROSS pair means a test
    document has a near-duplicate in the training set: its eval score
    is memorization, not generalization — the decontamination concern
    applied to the pipeline's OWN split rather than an external
    benchmark (q_decontam's sibling). TEST-TEST pairs are counted
    separately: duplicate eval items overweight one document's score
    without touching train.

    One summary row: pair counts by kind with exact-ppm shares,
    distinct contaminated test docs, and the contaminated share of the
    whole test split.

    Determinism: the split is the registered md5-bucket rule; counts
    exact bigints; shares integer ppm.

    Shape at 100 TB: the near-dup pair list is the expensive input and
    it is already blocked/df-capped by the shared builder; this audit
    adds per-pair split flags (pure expressions), one bounded
    conditional aggregate, one distinct over the (small) cross-pair
    test ids, and one test-split count — no new corpus-sized shuffle.
    The three 1-row frames meet in whitelisted scalar broadcasts (the
    q_dedup_recall_eval convention for provably-1-row sides)."""
    from hadoop_distexec_spark.operators.llmops import q_dedup_ngram

    def _split(col: str):
        b = F.substring(
            F.md5(F.encode(F.col(col).cast("string"), "UTF-8")), 1, 2
        )
        return F.when(b <= _TEST_CEIL, "test").otherwise("train")

    pairs = q_dedup_ngram(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        _split("doc_a").alias("split_a"),
        _split("doc_b").alias("split_b"),
    )
    kinds = pairs.select(
        "doc_a",
        "doc_b",
        F.when(F.col("split_a") == F.col("split_b"), F.col("split_a"))
        .otherwise(F.lit("cross"))
        .alias("kind"),
        "split_a",
        "split_b",
    )
    counts = kinds.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("kind") == "train", 1).otherwise(0)).alias(
            "n_train_train"
        ),
        F.sum(F.when(F.col("kind") == "test", 1).otherwise(0)).alias("n_test_test"),
        F.sum(F.when(F.col("kind") == "cross", 1).otherwise(0)).alias("n_cross"),
    )
    contaminated = (
        kinds.where(F.col("kind") == "cross")
        .select(
            F.when(F.col("split_a") == "test", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc")
        )
        .agg(F.countDistinct("test_doc").alias("n_contaminated_test_docs"))
    )
    test_total = (
        table(spark, sf_dir, "documents")
        .where(_split("doc_id") == "test")
        .agg(F.count(F.lit(1)).alias("n_test_docs"))
    )
    return (
        counts.crossJoin(F.broadcast(contaminated))
        .crossJoin(F.broadcast(test_total))
        .select(
            "n_pairs",
            "n_train_train",
            "n_test_test",
            "n_cross",
            F.expr("n_cross * 1000000 div n_pairs").cast("long").alias("cross_ppm"),
            "n_contaminated_test_docs",
            "n_test_docs",
            F.expr("n_contaminated_test_docs * 1000000 div n_test_docs")
            .cast("long")
            .alias("contamination_ppm"),
        )
    )


SPLIT_LEAKAGE_ORACLE = (
    "WITH "
    + _SHINGLES_SQL.strip().rstrip()
    + ",\n"
    + _NGRAM_PAIRS_SQL
    + f""",
    flagged AS (
      SELECT doc_a, doc_b,
             CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) <= '{_TEST_CEIL}'
                  THEN 'test' ELSE 'train' END AS split_a,
             CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) <= '{_TEST_CEIL}'
                  THEN 'test' ELSE 'train' END AS split_b
      FROM pairs),
    kinds AS (
      SELECT doc_a, doc_b, split_a, split_b,
             CASE WHEN split_a = split_b THEN split_a ELSE 'cross' END AS kind
      FROM flagged),
    counts AS (
      SELECT COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN kind = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train_train,
             CAST(SUM(CASE WHEN kind = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test_test,
             CAST(SUM(CASE WHEN kind = 'cross' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross
      FROM kinds),
    contaminated AS (
      SELECT COUNT(DISTINCT CASE WHEN split_a = 'test' THEN doc_a
                                 ELSE doc_b END) AS n_contaminated_test_docs
      FROM kinds WHERE kind = 'cross'),
    test_total AS (
      SELECT COUNT(*) AS n_test_docs FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_TEST_CEIL}')
    SELECT n_pairs, n_train_train, n_test_test, n_cross,
           CAST(n_cross * 1000000 // n_pairs AS BIGINT) AS cross_ppm,
           n_contaminated_test_docs, n_test_docs,
           CAST(n_contaminated_test_docs * 1000000 // n_test_docs AS BIGINT)
             AS contamination_ppm
    FROM counts, contaminated, test_total
    """
)


# round-8 registration of the prep ops above (parity-proven since r07,
# tests/test_round8_ops.py). label_prop's loop body lives in the shared
# _lpa_labels/_lpa_spectrum helpers, which the capped tier reuses.
register("q_label_prop", oracle=LABEL_PROP_ORACLE)(label_prop)
register("q_split_leakage", oracle=SPLIT_LEAKAGE_ORACLE)(split_leakage)
