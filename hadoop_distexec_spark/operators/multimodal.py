"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed through Arrow-batched mapInPandas.

The container has no image/audio codecs, so the *decode* step is stubbed
(clearly marked below); everything Spark-side — schema, binary columns,
Pandas-UDF batch iteration, partitioning — is real and tested. Swap
``_decode_stub`` for a PIL/ffmpeg call on a real cluster and nothing else
changes.

At 100 TB: binary payloads ride the columnar scan (parquet binary columns
or spark.read.format("binaryFile")); mapInPandas streams Arrow batches so
one task never holds more than a batch of blobs; metadata-only queries
never touch the binary column at all (column pruning).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_distexec_spark.registry import register
from hadoop_distexec_spark.sources.tables import table

MEDIA_SCHEMA = (
    "doc_id long, media_type string, byte_len long, width int, height int, n_frames int"
)


def decode_audio(content: bytes) -> "object":
    """STUB: real audio decode requires soundfile/ffmpeg (not in container)."""
    raise NotImplementedError("audio decode requires soundfile/ffmpeg; see _decode_stub")


def _decode_stub(blob: bytes) -> tuple[int, int, int, int]:
    """Deterministic fake decode: metadata derived arithmetically from the
    payload bytes, so the pipeline is testable (and oracle-checkable)
    without codecs."""
    n = len(blob)
    return n, n % 640, (n * 7) % 480, n % 30


def extract_media_meta(
    df: DataFrame, decode: Callable[[bytes], tuple[int, int, int, int]] | None = None
) -> DataFrame:
    """mapInPandas metadata extraction over a binary `content` column.

    Input needs columns (doc_id: long, media_type: string, content: binary).
    Arrow-batched: each pandas batch is decoded vectorized-ish and yielded;
    blobs never accumulate beyond one batch per task.

    ``decode`` injects the real codec — ``blob -> (byte_len, width, height,
    n_frames)``, e.g. a PIL/ffprobe wrapper on a cluster that has them —
    with no other code changes; it must be picklable (module-level
    function), since it ships inside the mapInPandas closure. Default is
    the deterministic arithmetic stub (no codecs in this container).
    """
    decode = decode or _decode_stub

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["content"].map(decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": meta.map(lambda m: m[0]).astype("int64"),
                    "width": meta.map(lambda m: m[1]).astype("int32"),
                    "height": meta.map(lambda m: m[2]).astype("int32"),
                    "n_frames": meta.map(lambda m: m[3]).astype("int32"),
                }
            )

    return df.mapInPandas(decode_batches, MEDIA_SCHEMA)


FRAME_BYTES = 256  # fake-codec frame size
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_len int"


def _chunk_frames(blob: bytes) -> "Iterator[tuple[int, bytes]]":
    """STUB frame iterator: every FRAME_BYTES-byte slice is "a frame".
    A real implementation yields (frame_idx, frame_bytes) from ffmpeg."""
    for idx in range(len(blob) // FRAME_BYTES):
        yield idx, blob[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]


def sample_frames(
    df: DataFrame,
    every_n: int = 4,
    frames: Callable[[bytes], "Iterator[tuple[int, bytes]]"] | None = None,
) -> DataFrame:
    """Frame-sampling plumbing for video-ish blobs: emit every ``every_n``-th
    frame. ``frames`` injects the real demuxer (``blob -> iterator of
    (frame_idx, frame_bytes)``, picklable); the default chunking stub
    treats each FRAME_BYTES-byte slice as a frame. The mapInPandas fan-out
    (1 row in, many rows out, Arrow-batched) is the part that matters at
    scale: sampling happens *inside* the executor pass, so unsampled
    frames are never materialized into the DataFrame.

    Input columns: (doc_id: long, content: binary).
    """
    frames = frames or _chunk_frames

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_len": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                for idx, chunk in frames(blob):
                    if idx % every_n:
                        continue
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_len"].append(len(chunk))
            yield pd.DataFrame(out).astype(
                {"doc_id": "int64", "frame_idx": "int32", "frame_len": "int32"}
            )

    return df.mapInPandas(frame_batches, FRAME_SCHEMA)


def _content_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a (doc_id, content: binary) frame, spread to full
    parallelism BEFORE the Arrow stage: the fixture is one small parquet
    file (one input partition), and a mapInPandas decode/resize/encode
    over it would otherwise run as a single task — with real codecs
    injected, the difference between one core and the cluster."""
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.encode("text", "UTF-8").alias("content"))
        .repartition(spark.sparkContext.defaultParallelism)
    )


@register(
    "q_multimodal_frames",
    oracle=f"""
    SELECT doc_id,
           CAST(UNNEST(range(0, octet_length(encode(text)) // {FRAME_BYTES}, 4)) AS INT)
             AS frame_idx,
           CAST({FRAME_BYTES} AS INT) AS frame_len
    FROM documents
    WHERE octet_length(encode(text)) // {FRAME_BYTES} > 0
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling end-to-end on real data: text bytes as the fake
    video payload, every 4th 256-byte frame emitted via the mapInPandas
    fan-out; the oracle mirrors the chunk arithmetic."""
    docs = _content_df(spark, sf_dir)
    return sample_frames(docs, every_n=4)


@register(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(octet_length(encode(text)) % 640 AS INT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS height,
           CAST(octet_length(encode(text)) % 30 AS INT) AS n_frames
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pipeline end-to-end on real data: documents.text cast
    to a binary content column, metadata extracted through the Arrow
    mapInPandas path. The stub decode is arithmetic on byte length, which
    is exactly what the oracle mirrors — so this *does* hash-check the
    whole Pandas-UDF plumbing."""
    docs = _content_df(spark, sf_dir).withColumn(
        "media_type", F.lit("text/plain")
    )
    return extract_media_meta(docs)


RESIZE_SCHEMA = "doc_id long, content binary, width int, height int"


def resize_image(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
    resize: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize plumbing: binary in -> binary out with new dimensions.

    ``resize`` injects the real codec (``(blob, width, height) -> bytes``,
    picklable — e.g. a PIL Image.open/resize/save wrapper). STUB default
    (no codecs in this container): the "resized" payload is the blob
    truncated/cycled to exactly width*height bytes — a deterministic,
    size-correct fake. The Spark-side contract is the real part:
    binary->binary through Arrow batches, output rows 1:1 with input,
    constant output size per row (the property a downstream training
    loader relies on).

    Input columns: (doc_id: long, content: binary).
    """
    target = width * height

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def _resize(blob: bytes) -> bytes:
                if resize is not None:
                    out = resize(blob, width, height)
                    # enforce the constant-stride contract for injected
                    # codecs too (same spirit as extract_features' encoder
                    # shape check): raw pixel payloads are width*height x
                    # a whole number of channels; a compressed/variable-
                    # length encoding would silently break downstream
                    # fixed-stride loaders
                    if len(out) == 0 or len(out) % target != 0:
                        raise ValueError(
                            f"injected resize returned {len(out)} bytes — "
                            f"not a positive multiple of width*height="
                            f"{target}; expected a raw pixel payload, not "
                            "a compressed encoding"
                        )
                    return out
                if not blob:
                    return bytes(target)
                reps = -(-target // len(blob))  # ceil
                return (blob * reps)[:target]

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "content": pdf["content"].map(_resize),
                    "width": width,
                    "height": height,
                }
            ).astype({"width": "int32", "height": "int32"})

    return df.mapInPandas(resize_batches, RESIZE_SCHEMA)


FEATURE_DIM = 16
FEATURE_SCHEMA = "doc_id long, feature array<float>"


def extract_features(
    df: DataFrame,
    dim: int = FEATURE_DIM,
    encoder: Callable[[bytes], "object"] | None = None,
) -> DataFrame:
    """Feature-extraction plumbing: binary in -> float vector out (the
    embed-the-image step of a multimodal pipeline).

    STUB compute: byte-histogram features (dim buckets over byte values,
    L1-normalized) — deterministic, numpy-vectorized inside the Arrow
    batch, and shaped exactly like a real encoder output
    (``array<float>`` column ready for the similarity operators in
    llmops). ``encoder`` injects the real model (``blob -> sequence of
    dim floats``, picklable — e.g. an ONNX/torch wrapper); the fixed-dim
    output contract is enforced for injected encoders too.
    """
    import numpy as np

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for blob in pdf["content"]:
                if encoder is not None:
                    vec = np.asarray(encoder(blob), dtype=np.float32)
                    if vec.shape != (dim,):
                        raise ValueError(
                            f"encoder returned shape {vec.shape}, expected ({dim},)"
                        )
                    feats.append(vec)
                    continue
                arr = np.frombuffer(blob, dtype=np.uint8)
                if arr.size == 0:
                    feats.append(np.zeros(dim, dtype=np.float32))
                    continue
                # bucket = byte * dim // 256 maps 0..255 onto exactly
                # 0..dim-1 for any dim (the former 256//dim divisor
                # overflowed the fixed-dim contract when dim ∤ 256 —
                # ADVICE r01 #2); int cast first: uint8 * dim would wrap
                buckets = arr.astype(np.int64) * dim // 256
                hist = np.bincount(buckets, minlength=dim).astype(np.float32)
                feats.append(hist / hist.sum())
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"), "feature": feats})

    return df.mapInPandas(feat_batches, FEATURE_SCHEMA)


_RES_W, _RES_H = 64, 64
_RES_LEN = _RES_W * _RES_H


@register(
    "q_multimodal_resize",
    # BYTE-based oracle (ADVICE r04 #2): DuckDB has no BLOB substring, so
    # the payload is addressed through its hex image — one hex PAIR per
    # byte — and cycled-byte i of the resized payload is the pair at
    # source byte ((i-1) % n) + 1. Character-based substr(text, ...)
    # would silently diverge from the Spark side's UTF-8 bytes on any
    # non-ASCII document.
    oracle=f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
      WHERE octet_length(encode(text)) > 0),
    cyc AS (
      SELECT doc_id,
        (SELECT string_agg(substr(h, CAST(2 * ((i - 1) % n) + 1 AS INT), 2),
                           '' ORDER BY i)
         FROM range(1, 17) t(i)) AS head16,
        (SELECT string_agg(substr(h, CAST(2 * ((i - 1) % n) + 1 AS INT), 2),
                           '' ORDER BY i)
         FROM range({_RES_LEN - 15}, {_RES_LEN + 1}) t(i)) AS tail16
      FROM b)
    SELECT doc_id,
           CAST({_RES_LEN} AS BIGINT) AS out_len,
           CAST({_RES_W} AS INT) AS width, CAST({_RES_H} AS INT) AS height,
           head16, tail16
    FROM cyc
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing end-to-end on real data: text bytes as the fake
    image payload cycled to a constant 64x64 stride through the Arrow
    mapInPandas path. The oracle recomputes the cycling arithmetic
    byte-for-byte at both ends of the payload (head16 = bytes 1..16,
    tail16 = bytes 4081..4096, both under modular cycling over the UTF-8
    byte stream), so a broken stride, off-by-one cycle, padding bug, or
    chars-vs-bytes confusion hash-fails. Empty payloads are out of the
    report's contract on both sides (cyclic indexing is undefined at
    n=0; the stub zero-fills them, but SQL can't express that case —
    filter mirrored in the oracle's WHERE)."""
    docs = _content_df(spark, sf_dir).where(F.octet_length("content") > 0)
    resized = resize_image(docs, width=_RES_W, height=_RES_H)
    return resized.select(
        "doc_id",
        F.length("content").cast("long").alias("out_len"),
        "width",
        "height",
        F.hex(F.expr("substring(content, 1, 16)")).alias("head16"),
        F.hex(F.expr(f"substring(content, {_RES_LEN - 15}, 16)")).alias("tail16"),
    )


@register(
    "q_multimodal_features",
    # BYTE-based oracle (ADVICE r04 #2): histogram over the UTF-8 BYTES
    # via the hex image — string_split(text,'') would histogram CODE
    # POINTS and drift from the Spark side on any non-ASCII document.
    oracle=f"""
    WITH chars AS (
      SELECT doc_id,
             CAST('0x' || substr(h, CAST(2 * k - 1 AS INT), 2) AS INT)
               * {FEATURE_DIM} // 256 AS bucket
      FROM (SELECT doc_id, hex(encode(text)) AS h,
                   UNNEST(range(1, octet_length(encode(text)) + 1)) AS k
            FROM documents)),
    hist AS (
      SELECT doc_id, bucket, COUNT(*) AS cnt FROM chars GROUP BY doc_id, bucket),
    best AS (
      SELECT doc_id, bucket, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, bucket) AS rnk
      FROM hist)
    SELECT b.doc_id,
           CAST(b.bucket AS INT) AS top_bucket,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
    FROM best b JOIN documents d USING (doc_id) WHERE rnk = 1
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing end-to-end: byte-histogram features
    (the stub encoder, dim=FEATURE_DIM) computed through the Arrow
    mapInPandas path, reduced to the argmax bucket per document. The
    reduction is chosen for cross-engine exactness: distinct integer
    counts stay distinct after the float32 L1 normalization (gaps are
    >=1/n_bytes, orders of magnitude above float32 eps at corpus doc
    sizes), so argmax-with-lowest-bucket-tiebreak is identical to the
    oracle's integer argmax — numpy argmax takes the first maximum, the
    SQL rank breaks ties on bucket asc. A padding bug, bucket-mapping
    drift, or normalization error changes the winner and hash-fails.
    Empty payloads are excluded on both sides (the stub zero-vector has
    no meaningful argmax; the oracle's histogram naturally drops them —
    filter mirrored explicitly)."""
    docs = _content_df(spark, sf_dir).where(F.octet_length("content") > 0)
    feats = extract_features(docs)
    j = feats.join(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes")
        ),
        "doc_id",
    )
    return j.select(
        "doc_id",
        (F.expr("array_position(feature, array_max(feature))") - 1)
        .cast("int")
        .alias("top_bucket"),
        "n_bytes",
    )


# ---------------------------------------------------------------------------
# audio window features (round-9 library tier; the audio leg of the
# image/audio/video plumbing contract), registered as q_multimodal_audio
# with its oracle parity-tested by tests/test_round9_ops.py.
# ---------------------------------------------------------------------------

AUDIO_WIN = 256  # samples per analysis window (512 bytes of 16-bit PCM)
AUDIO_SCHEMA = (
    "doc_id long, win int, n_samples int, sum_abs long, peak_abs int, n_cross int"
)


def audio_window_features(df: DataFrame, window: int = AUDIO_WIN) -> DataFrame:
    """Windowed audio feature extraction over a binary `content` column —
    the fixed-rate framing + per-frame energy/zero-crossing pass every
    audio pipeline starts with (VAD, silence trimming, loudness
    normalization, clip detection).

    DECODE is the deterministic fake the module contract prescribes: the
    payload is interpreted as little-endian signed 16-bit PCM (trailing
    odd byte dropped) — a real decoder (soundfile/ffmpeg via
    ``decode_audio``) replaces exactly that line on a cluster with
    codecs; the framing, feature arithmetic, Arrow batching and schema
    stay as tested. Per window of ``window`` samples (last window
    ragged): sample count, the EXACT integer sum of absolute amplitudes
    (the mean-energy numerator, kept as a bigint so the oracle is
    bit-exact — no float RMS), peak absolute amplitude, and the strict
    sign-change count (s_k * s_{k-1} < 0 with both samples inside the
    window — the zero-crossing rate's numerator). All-integer features
    make the DuckDB twin exact; a real float pipeline would follow the
    decimal-grid idioms of functions/numeric.py instead.

    Shape at 100 TB: one Arrow pass, ~len/2/window output rows per blob,
    no shuffle, no python-per-row — numpy reduceat per batch."""
    import numpy as np

    def win_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "win": [], "n_samples": [],
                "sum_abs": [], "peak_abs": [], "n_cross": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                n = len(blob) // 2 * 2
                s = np.frombuffer(blob[:n], dtype="<i2").astype(np.int64)
                if s.size == 0:
                    continue
                starts = np.arange(0, s.size, window)
                sums = np.add.reduceat(np.abs(s), starts)
                peaks = np.maximum.reduceat(np.abs(s), starts)
                counts = np.diff(np.append(starts, s.size))
                # pair (k-1, k) is a crossing of k's window only when k is
                # not that window's first sample — LAG-within-partition
                # semantics, so the oracle needs no cross-window state
                cross = (s[1:] * s[:-1] < 0).astype(np.int64)
                k = np.arange(1, s.size)
                cross[k % window == 0] = 0
                cwin = np.zeros(len(starts), dtype=np.int64)
                if cross.size:
                    np.add.at(cwin, k[cross == 1] // window, 1)
                for w in range(len(starts)):
                    out["doc_id"].append(int(doc_id))
                    out["win"].append(w)
                    out["n_samples"].append(int(counts[w]))
                    out["sum_abs"].append(int(sums[w]))
                    out["peak_abs"].append(int(peaks[w]))
                    out["n_cross"].append(int(cwin[w]))
            yield pd.DataFrame(out).astype(
                {
                    "doc_id": "int64", "win": "int32", "n_samples": "int32",
                    "sum_abs": "int64", "peak_abs": "int32", "n_cross": "int32",
                }
            )

    return df.mapInPandas(win_batches, AUDIO_SCHEMA)


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio plumbing end-to-end on real data: document UTF-8 bytes as
    the fake PCM16 payload through the Arrow mapInPandas framing, one row
    per (doc, window). Docs shorter than one sample (under 2 bytes) are
    out of contract on both sides."""
    docs = _content_df(spark, sf_dir).where(F.octet_length("content") >= 2)
    return audio_window_features(docs)


# BYTE-based draft oracle (the q_multimodal_resize hex-image idiom):
# sample k (1-based) is little-endian signed 16-bit from bytes
# (2k-1, 2k) of the UTF-8 payload, addressed as hex pairs; windows of
# AUDIO_WIN samples; the crossing count LAGs within (doc, win) so the
# window-boundary pair is excluded exactly like the Spark side.
MULTIMODAL_AUDIO_ORACLE = f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) // 2 AS n_samp
      FROM documents
      WHERE octet_length(encode(text)) >= 2),
    samp AS (
      SELECT doc_id,
             k,
             CAST((k - 1) // {AUDIO_WIN} AS INT) AS win,
             CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS s
      FROM (
        SELECT doc_id, UNNEST(range(1, n_samp + 1)) AS k, h FROM b),
        LATERAL (
          SELECT CAST('0x' || substr(h, CAST(4 * k - 3 AS INT), 2) AS INT)
               + 256 * CAST('0x' || substr(h, CAST(4 * k - 1 AS INT), 2) AS INT)
                 AS v)),
    lagged AS (
      SELECT doc_id, win, s,
             LAG(s) OVER (PARTITION BY doc_id, win ORDER BY k) AS prev
      FROM samp)
    SELECT doc_id,
           win,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           CAST(MAX(ABS(s)) AS INT) AS peak_abs,
           CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS INT)
             AS n_cross
    FROM lagged GROUP BY doc_id, win
    """

register("q_multimodal_audio", oracle=MULTIMODAL_AUDIO_ORACLE)(multimodal_audio)


# ---------------------------------------------------------------------------
# perceptual-hash image dedup (round-10 registration wave): the multimodal
# leg of the dedup family. Average-hash (aHash) is the classic cheap
# perceptual fingerprint: downsample to 8x8 grayscale, threshold each
# pixel against the thumbnail mean, read the 64 bits as a hash; near-dup
# images are pairs at small Hamming distance. Blocking follows the
# minhash banding idiom: the 64-bit hash splits into 4 x 16-bit bands and
# only pairs sharing >=1 band are candidates (pigeonhole: any pair at
# Hamming <= 3 shares a band, so the blocked semantics are COMPLETE for
# d <= 3 and LSH-shaped above it — same contract style as q_dedup_minhash).
# ---------------------------------------------------------------------------

PHASH_SIDE = 8  # thumbnail side: 8x8 = 64 pixels = 64 hash bits
PHASH_BANDS = 4  # 4 x 16-bit bands for the blocking join
PHASH_MAX_DF = 100  # hot-bucket cap, the MAX_SHINGLE_DF rule for bands
PHASH_HAM_T = 6  # near-dup Hamming threshold over the 64-bit hash
PHASH_SCHEMA = "doc_id long, b0 int, b1 int, b2 int, b3 int"


def phash_images(
    df: DataFrame,
    resize: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Average-hash over a binary `content` column: (doc_id, content) in,
    (doc_id, b0..b3) out — the 64-bit aHash as four 16-bit band integers
    (MSB-first within each band), join-ready for the banded blocking.

    The DOWNSAMPLE step is the injectable-resize plumbing (a real PIL
    grayscale resize replaces the cycled-bytes stub with no other code
    change); the hash itself is pure integer arithmetic on the 64
    thumbnail bytes — sum once, threshold each byte against 64*byte >
    sum (the mean compare without a division), packbits — so the DuckDB
    twin is bit-exact. One Arrow pass after the resize pass; no shuffle,
    no python-per-row (numpy packbits per batch)."""
    import numpy as np

    thumb = resize_image(df, width=PHASH_SIDE, height=PHASH_SIDE, resize=resize)

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_px = PHASH_SIDE * PHASH_SIDE
        for pdf in batches:
            out = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["content"]):
                px = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
                bits = (n_px * px > px.sum()).astype(np.uint8)
                packed = np.packbits(bits)  # MSB-first, 8 bytes
                for k in range(PHASH_BANDS):
                    out[f"b{k}"].append(int(packed[2 * k]) * 256 + int(packed[2 * k + 1]))
                out["doc_id"].append(int(doc_id))
            yield pd.DataFrame(out).astype(
                {"doc_id": "int64", "b0": "int32", "b1": "int32", "b2": "int32", "b3": "int32"}
            )

    return thumb.select("doc_id", "content").mapInPandas(hash_batches, PHASH_SCHEMA)


def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by banded average-hash: documents' UTF-8
    bytes as the fake image payload (the module contract), hashed through
    the resize + packbits Arrow passes, then the minhash-style blocked
    join — explode the 4 bands, drop hot buckets (> PHASH_MAX_DF members,
    part of the contract like the stop-shingle cap), equi-join on
    (band, value), exact Hamming over the four band XORs, keep pairs at
    Hamming <= PHASH_HAM_T. Empty payloads are out of contract (cyclic
    resize undefined at n=0, mirrored in the oracle).

    Shape at 100 TB: two Arrow map passes + one banded equi-join whose
    fan-out is df-capped — the LSH shape, never all-pairs; the Hamming
    filter runs on carried band columns (JVM bit_count, codegen), no
    second pass over the corpus."""
    docs = _content_df(spark, sf_dir).where(F.octet_length("content") > 0)
    h = phash_images(docs)
    bandcols = [f"b{k}" for k in range(PHASH_BANDS)]
    exploded = h.select(
        "doc_id",
        *bandcols,
        F.posexplode(F.array(*bandcols)).alias("band", "val"),
    )
    hot = (
        exploded.groupBy("band", "val")
        .count()
        .filter(F.col("count") > PHASH_MAX_DF)
        .select("band", "val")
    )
    kept = exploded.join(hot, ["band", "val"], "left_anti")
    a = kept.select(
        "band", "val", F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"{c}a") for c in bandcols],
    )
    b = kept.select(
        "band", "val", F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"{c}b") for c in bandcols],
    )
    pairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .drop("band", "val")
        .distinct()  # bands are functions of the doc, so row-distinct == pair-distinct
    )
    ham = sum(
        F.expr(f"bit_count({c}a ^ {c}b)") for c in bandcols
    ).cast("int")
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= PHASH_HAM_T)
        .select("doc_a", "doc_b", "hamming")
    )


# BYTE-based oracle (the q_multimodal_resize hex-image idiom): thumbnail
# byte i (1..64) is the hex pair at cycled source byte (i-1) % n; the bit
# is the division-free mean compare 64*byte > sum; bands pack MSB-first
# via integer shifts; the hot-bucket cap and the banded join mirror the
# Spark side; Hamming is bit_count over per-band xor.
MULTIMODAL_PHASH_ORACLE = f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0),
    th AS (
      SELECT doc_id, i,
             CAST('0x' || substr(h, CAST(2 * ((i - 1) % n) + 1 AS INT), 2) AS INT)
               AS byte
      FROM (SELECT doc_id, h, n, UNNEST(range(1, {PHASH_SIDE * PHASH_SIDE} + 1)) AS i
            FROM b)),
    tot AS (SELECT doc_id, SUM(byte) AS tot FROM th GROUP BY doc_id),
    bands AS (
      SELECT th.doc_id,
             CAST((i - 1) // 16 AS INT) AS band,
             CAST(SUM(CASE WHEN 64 * byte > tot THEN 1 ELSE 0 END
                      * (1 << (15 - CAST((i - 1) % 16 AS INT)))) AS INT) AS val
      FROM th JOIN tot USING (doc_id) GROUP BY th.doc_id, band),
    keep AS (
      SELECT band, val FROM bands GROUP BY band, val
      HAVING COUNT(*) <= {PHASH_MAX_DF}),
    bk AS (SELECT bands.doc_id, bands.band, bands.val
           FROM bands JOIN keep USING (band, val)),
    wide AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN val END) AS b0,
             MAX(CASE WHEN band = 1 THEN val END) AS b1,
             MAX(CASE WHEN band = 2 THEN val END) AS b2,
             MAX(CASE WHEN band = 3 THEN val END) AS b3
      FROM bands GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val
       AND a.doc_id < b.doc_id)
    SELECT * FROM (
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
                + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
              AS INT) AS hamming
      FROM cand
      JOIN wide wa ON doc_a = wa.doc_id
      JOIN wide wb ON doc_b = wb.doc_id)
    WHERE hamming <= {PHASH_HAM_T}
    """

register("q_multimodal_phash", oracle=MULTIMODAL_PHASH_ORACLE)(multimodal_phash)
