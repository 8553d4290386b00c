"""Streaming operators over the events table.

Batch-mode window queries (oracle-checkable, as the driver contract wants)
plus genuine Structured Streaming wrappers (readStream + watermark) used by
the streaming tests. The reference is batch-only MapReduce; its per-record
failure tolerance maps to watermark-based late-data policy here
(SURVEY.md §2.5).

Determinism: window boundaries are exported as epoch BIGINTs
(seconds for fixed windows, microseconds for session bounds) — never raw
timestamps — so Spark (session-TZ UTC) and DuckDB (naive UTC) hash alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_distexec_spark.functions.cache import cached
from hadoop_distexec_spark.functions.numeric import dsum
from hadoop_distexec_spark.registry import register
from hadoop_distexec_spark.sources.tables import table

# The stream reader needs an explicit schema; sniff it from a batch read of
# the same file so the ts physical encoding (int64 nanos vs TIMESTAMP_MICROS
# NTZ vs UTC — it has changed across driver fixture versions) is whatever the
# file actually holds, then normalize via the shared tables.py shim.


@register(
    "q_stream_tumble",
    oracle="""
    SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 600) * 600 AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window aggregate — the real F.window operator
    (same plan streaming and batch), window start exported as epoch."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_slide",
    oracle="""
    WITH e AS (
      SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300) * 300 AS base, event_type, value
      FROM events
    ),
    w AS (
      SELECT base - off.o AS window_start, event_type, value
      FROM e CROSS JOIN (SELECT UNNEST([0, 300]) AS o) off
    )
    SELECT window_start, event_type, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def q_stream_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 minutes: each event lands in two
    windows; the oracle enumerates them explicitly."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_session",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, value FROM events
    ),
    g AS (
      SELECT user_id, us, value,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
                  OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    ),
    s AS (
      SELECT user_id, us, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM g
    )
    SELECT user_id,
           MIN(us) AS session_start_us,
           MAX(us) + 1800000000 AS session_end_us,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sess
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user via the native
    session_window operator; the oracle is the classic gaps-and-islands
    rewrite at microsecond precision (Spark sessionizes on micros, so the
    oracle must too). session_end = last event + gap, matching Spark."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def _check_frame(spark: SparkSession, check: str, n_stream: int, n_batch: int,
                 n_mismatch: int) -> DataFrame:
    """One-row summary frame for an assertive streaming smoke. The smoke
    RAISES before building this when the stream and batch results disagree,
    so a green driver row genuinely witnesses stream==batch (VERDICT r02
    #6: 'rows that fail when semantics drift')."""
    if n_mismatch:
        raise AssertionError(
            f"{check}: streaming result diverges from batch twin "
            f"({n_mismatch} mismatched keys; stream={n_stream} batch={n_batch})"
        )
    return spark.createDataFrame(
        [(check, n_stream, n_batch, n_mismatch)],
        "check_id string, n_stream long, n_batch long, n_mismatch long",
    )


@register(
    "q_stream_smoke",
    oracle="""
    SELECT 'tumble_stream_vs_batch' AS check_id,
           COUNT(*) AS n_stream, COUNT(*) AS n_batch,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM (SELECT DISTINCT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 600), event_type
          FROM events)
    """,
)
def q_stream_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming execution under the driver harness:
    readStream over the events parquet -> watermarked 10-minute tumbling
    aggregate -> memory sink, bounded by an availableNow trigger. Assertive
    (VERDICT r02 #6): the sink table is compared key-by-key against the
    batch twin (q_stream_tumble's plan, hash-checked against DuckDB
    separately) and the query raises on any mismatch; the zero-mismatch
    summary frame itself is hash-checked (DuckDB independently derives the
    expected window-group count)."""
    got = _run_bounded(streaming_tumble(read_events_stream(spark, sf_dir)), "complete")
    batch = q_stream_tumble(spark, sf_dir)
    j = got.alias("s").join(
        batch.alias("b"), ["window_start", "event_type"], "full_outer"
    )
    mism = j.filter(
        F.col("s.n_events").isNull()
        | F.col("b.n_events").isNull()
        | (F.col("s.n_events") != F.col("b.n_events"))
        | (F.abs(F.col("s.sum_value") - F.col("b.sum_value"))
           > 1e-6 * F.greatest(F.abs(F.col("b.sum_value")), F.lit(1.0)))
    ).count()
    return _check_frame(spark, "tumble_stream_vs_batch", got.count(), batch.count(), mism)


# ---------------------------------------------------------------------------
# genuine Structured Streaming wrappers (exercised by tests/test_streaming.py)
# ---------------------------------------------------------------------------


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file-source streaming), with the
    ts normalization (tables.normalize_events_ts) applied at the source."""
    from hadoop_distexec_spark.sources.tables import (
        _ensure_session_confs,
        normalize_events_ts,
        sniff_bigint_ts_unit,
    )

    _ensure_session_confs(spark)
    # the file stream source needs an explicit schema and a DIRECTORY
    # base path; read the physical schema from a batch scan (footer-only,
    # no data read). The driver fixtures ship events.parquet as a single
    # FILE (stream the parent dir, glob-filtered to that name), but
    # Spark-written trees (the sf1 stress lane) make it a DIRECTORY of
    # part-files (stream the directory itself) — the earlier
    # unconditional pathGlobFilter matched only the single-file layout
    # and silently read ZERO rows from a directory layout, found when
    # the 10x lane's stream-stream join returned empty.
    import os as _os

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    rs = spark.readStream.schema(schema).format("parquet")
    if _os.path.isdir(path):
        raw = rs.load(path)
    else:
        raw = rs.option("pathGlobFilter", "events.parquet").load(sf_dir)
    return normalize_events_ts(raw, unit=sniff_bigint_ts_unit(path))


def streaming_tumble(events: DataFrame, *, watermark: str = "30 minutes") -> DataFrame:
    """Tumbling-window streaming aggregate with watermark-based late-data
    policy (the streaming analog of the reference's per-record failure
    tolerance: late/bad records are bounded, not job-fatal)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, *, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    dropDuplicatesWithinWatermark keeps keys only until the watermark
    passes — the streaming analog of q_dedup_exact with O(window) state
    instead of O(stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def streaming_user_stats(events: DataFrame, *, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + running value sum, emitted on every update.
    This is the escape hatch for operators Spark's built-in stateful
    aggregations can't express (arbitrary per-key state transition
    functions); state is one row per user."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update_fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    import pandas as pd  # local import: executors pickle this closure

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_session(events: DataFrame, *, watermark: str = "30 minutes") -> DataFrame:
    """Session-window streaming aggregate (stateful)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )


def streaming_join(
    clicks: DataFrame, purchases: DataFrame, *, watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-stream inner join: click -> purchase attribution per user
    within 30 minutes. Both sides carry watermarks and the join condition
    time-bounds the match, so each side's state store holds only rows
    younger than (watermark + join window) — the bounded-state contract
    stream-stream joins require. At scale this is one shuffle per side on
    user_id, state sized by the time bound, not the stream length."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
    )


def write_stream_foreach_batch(df: DataFrame, out_dir: str, checkpoint: str):
    """foreachBatch parquet sink: the escape hatch for sinks Spark lacks a
    native connector for. Each micro-batch lands as an idempotent
    append keyed by batch_id (re-delivered batches overwrite their own
    partition, giving effectively-exactly-once output on top of the
    at-least-once replay contract) — the streaming analog of the pipe
    executor's tmp+rename per-file commit."""

    def write_batch(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


# target bytes of stream input per state-store partition: stateful
# exchanges cannot be AQE-coalesced (the state layout is pinned when the
# checkpoint is created), so the partition count must be derived from the
# INPUT VOLUME up front (guide §2: scale-adaptive partitioning, never a
# constant tuned for one deployment). 32 MB of source parquet per state
# partition keeps partitions in the guide's healthy range at any scale;
# the count is capped at defaultParallelism so a huge input still fans
# out to every core while the sf0.1 fixture (2 MB) no longer commits 32
# near-empty HDFS state stores per micro-batch (measured r12: the
# left-outer bounded run drops 7.3s -> 3.2s at sf0.1 with sized state).
STREAM_STATE_TARGET_BYTES = 32 << 20


def _fs_tree_bytes(fs, path: str) -> int:
    """Total bytes of the file (or all files under the directory) at
    ``path``, through the per-scheme FileSystem abstraction."""
    st = fs.stat(path)
    if not st.is_dir:
        return st.size
    total = 0
    stack = [path]
    while stack:
        d = stack.pop()
        for child in fs.listdir(d):
            cst = fs.stat(child)
            if cst.is_dir:
                stack.append(child)
            else:
                total += cst.size
    return total


def _stream_state_partitions(
    spark: SparkSession, sf_dir: str, fs=None
) -> int | None:
    """ceil(events bytes / STREAM_STATE_TARGET_BYTES), capped at
    defaultParallelism, floored at 1 — None when the size is unreadable
    (callers then keep the session default). The size probe goes through
    fs.resolve_fs (ADVICE r12 / VERDICT r12 #5): an os.path stat returns
    nothing for hdfs:// or s3:// inputs, which silently no-opped the
    state sizing exactly where the 100 TB deployment runs; the per-scheme
    dispatch keeps the rule live on any store fs.py can reach."""
    from hadoop_distexec_spark.fs import resolve_fs

    path = f"{sf_dir}/events.parquet"
    try:
        nbytes = _fs_tree_bytes(resolve_fs(path, fs), path)
    except Exception:
        return None
    dp = spark.sparkContext.defaultParallelism
    return max(1, min(dp, -(-nbytes // STREAM_STATE_TARGET_BYTES)))


def _run_bounded(
    df: DataFrame,
    mode: str,
    state_partitions: int | None = None,
    no_data_batches: bool = True,
) -> "DataFrame":
    """Run a streaming DataFrame to exhaustion of the available input
    (availableNow trigger) into a uniquely-named memory sink and return
    the sink table. The bounded-smoke harness shared by the q_stream_*
    registry entries.

    ``state_partitions`` (optional) pins spark.sql.shuffle.partitions for
    THIS streaming run only — the stateful stream's state-store partition
    count, sized by _stream_state_partitions from the input volume — and
    restores the session default before returning, so batch twins and
    later queries are unaffected.

    ``no_data_batches=False`` skips the trailing zero-input micro-batch
    (spark.sql.streaming.noDataMicroBatches.enabled, restored after the
    run). That batch exists to advance the watermark and flush/finalize
    state-dependent OUTPUT — outer-join null emission, append-mode window
    finalization — so it is semantically REQUIRED there and this flag
    must stay True. For operators whose no-data batch only EVICTS state
    and emits nothing (inner stream-stream joins, within-watermark dedup,
    update-mode stateful), it re-executes the whole micro-batch plan for
    zero output rows — measured 1.2s of the 2.7s inner-join harness at
    sf0.1, identical results with it skipped (pinned by
    test_stream_no_data_batch_skip_is_identical)."""
    import uuid

    spark = df.sparkSession
    prev = None
    prev_ndb = None
    if not no_data_batches:
        prev_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        name = f"stream_{uuid.uuid4().hex[:8]}"
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            # False = timed out mid-batch -> the memory sink is partial;
            # raise the clear diagnosis instead of a downstream mismatch
            # (ADVICE r04)
            if not q.awaitTermination(300):
                raise AssertionError(
                    f"{name}: streaming run timed out after 300s"
                )
        finally:
            q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_ndb is not None:
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb
            )
    return df.sparkSession.table(name)


@register(
    "q_stream_join_smoke",
    oracle="""
    SELECT 'join_stream_vs_batch' AS check_id,
           COUNT(*) AS n_stream, COUNT(*) AS n_batch,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND epoch_us(p.ts) BETWEEN epoch_us(c.ts) AND epoch_us(c.ts) + 1800000000
    """,
)
def q_stream_join_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join executed by the real streaming runtime under the
    driver harness: click->purchase attribution with watermarks on both
    sides and a time-bounded join condition (bounded state stores).
    Assertive (VERDICT r02 #6): the streamed join output is compared
    against the identical join run in batch mode (withWatermark is a no-op
    on batch frames, so the same builder produces the batch twin) and the
    query raises on any (click_id, purchase_id) set difference."""
    ev = read_events_stream(spark, sf_dir)
    got = _run_bounded(streaming_join(ev, ev), "append")
    batch_ev = table(spark, sf_dir, "events")
    batch = streaming_join(batch_ev, batch_ev)
    keys = ["click_id", "purchase_id"]
    mism = (
        got.select(*keys).exceptAll(batch.select(*keys))
        .unionAll(batch.select(*keys).exceptAll(got.select(*keys)))
        .count()
    )
    return _check_frame(spark, "join_stream_vs_batch", got.count(), batch.count(), mism)


@register(
    "q_stream_stateful_smoke",
    oracle="""
    SELECT 'stateful_stream_vs_batch' AS check_id,
           COUNT(DISTINCT user_id) AS n_stream,
           COUNT(DISTINCT user_id) AS n_batch,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM events
    """,
)
def q_stream_stateful_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) under the driver
    harness: per-user running count/sum state across micro-batches in
    update mode — the arbitrary-stateful tier for operators Spark's
    built-ins can't express; state lives in the state store keyed by user.
    Assertive (VERDICT r02 #6): the final emitted state per user (max
    running count) must equal the batch per-user count/sum; raises on any
    divergence."""
    ev = read_events_stream(spark, sf_dir)
    got = _run_bounded(streaming_user_stats(ev), "update")
    # update mode re-emits on every state change; the final state per user
    # is the row with the largest running count (strictly increasing per
    # emission, so the struct-max picks exactly the last emission — a plain
    # max(total_value) would be wrong when values are negative)
    final = got.groupBy("user_id").agg(
        F.max(F.struct("n_events", "total_value")).alias("_fin")
    ).select("user_id", "_fin.n_events", "_fin.total_value")
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )
    j = final.alias("s").join(batch.alias("b"), "user_id", "full_outer")
    mism = j.filter(
        F.col("s.n_events").isNull()
        | F.col("b.n_events").isNull()
        | (F.col("s.n_events") != F.col("b.n_events"))
        | (F.abs(F.col("s.total_value") - F.col("b.total_value"))
           > 1e-6 * F.greatest(F.abs(F.col("b.total_value")), F.lit(1.0)))
    ).count()
    return _check_frame(spark, "stateful_stream_vs_batch", final.count(), batch.count(), mism)


@register(
    "q_stream_dedup_smoke",
    oracle="""
    SELECT 'dedup_stream_vs_batch' AS check_id,
           COUNT(DISTINCT event_id) AS n_stream,
           COUNT(DISTINCT event_id) AS n_batch,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM events
    """,
)
def q_stream_dedup_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) under the
    driver harness: bounded-state dedup of the event stream — keys are held
    only until the watermark passes, the streaming analog of q_dedup_exact.
    Assertive (VERDICT r02 #6): the set of surviving event_ids must equal
    the batch distinct set (compared via exceptAll in both directions);
    raises on any difference."""
    ev = read_events_stream(spark, sf_dir)
    got = _run_bounded(
        streaming_dedup(ev).select("event_id", "user_id", "event_type"), "append"
    )
    batch = table(spark, sf_dir, "events").select("event_id").distinct()
    mism = (
        got.select("event_id").exceptAll(batch)
        .unionAll(batch.exceptAll(got.select("event_id")))
        .count()
    )
    return _check_frame(spark, "dedup_stream_vs_batch", got.count(), batch.count(), mism)


# ---------------------------------------------------------------------------
# round-4b: watermark late-data drop semantics, witnessed end-to-end
# ---------------------------------------------------------------------------

_LATE_RECENT_US = 48 * 3600 * 1_000_000  # "recent" batch = last 48 h
_LATE_WM_US = 30 * 60 * 1_000_000  # watermark delay 30 min
_LATE_WIN_US = 600 * 1_000_000  # 10-minute windows


@register(
    "q_stream_late_data",
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS u, event_type FROM events),
    mx AS (SELECT MAX(u) AS max_u FROM e),
    recent AS (SELECT u, event_type FROM e, mx
               WHERE u >= max_u - {_LATE_RECENT_US}),
    closed AS (
      SELECT DISTINCT u // {_LATE_WIN_US} AS w, event_type
      FROM recent, mx
      WHERE (u // {_LATE_WIN_US} + 1) * {_LATE_WIN_US}
            <= max_u - {_LATE_WM_US})
    SELECT 'late_data_drop' AS check_id,
           COUNT(*) AS n_stream, COUNT(*) AS n_batch,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM closed
    """,
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data policy witnessed by the real streaming runtime
    across MULTIPLE micro-batch runs: the events table is split into a
    "recent" file (last 48 h) and an "old" file. Run 1 streams the recent
    file to exhaustion (availableNow + checkpoint), advancing the
    persisted watermark to max(ts) - 30 min and emitting the finalized
    10-minute windows; run 2 resumes from the checkpoint with the old
    file now present — every one of its rows is older than the restored
    watermark, so Structured Streaming must DROP all of them (observed
    as numRowsDroppedByWatermark == all batch-2 input rows) and emit
    nothing new. The two-run design (not maxFilesPerTrigger) is what
    makes the batch boundary deterministic: watermark state lives in the
    checkpoint's offset log, exactly how a production restart behaves.

    Assertive: raises if any late row leaks into an emitted group, if an
    expected closed window is missing, or if batch 2 drops fewer rows
    than it ingested. The one-row summary is hash-checked; DuckDB
    independently derives the closed-window count from the same integer
    epoch arithmetic.

    Scale note: a semantics witness, not a perf path — but the mechanism
    it checks (watermark state eviction + late drop) is what bounds
    streaming state to O(window) instead of O(stream) on an unbounded
    production topic."""
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"
    t = pq.read_table(src)
    ts_type = t.schema.field("ts").type
    raw = t.column("ts").cast(pa.int64())
    if pa.types.is_timestamp(ts_type):
        per_us = {"ns": 1000, "us": 1}.get(ts_type.unit)
        if per_us is None:
            raise AssertionError(f"unsupported ts unit {ts_type.unit}")
    else:  # bigint-encoded epoch; reuse the footer/magnitude sniff
        from hadoop_distexec_spark.sources.tables import sniff_bigint_ts_unit

        per_us = 1000 if sniff_bigint_ts_unit(src) == "ns" else 1
    max_raw = pc.max(raw).as_py()
    if (max_raw // per_us) % _LATE_WIN_US == 0:
        raise AssertionError(
            "fixture max(ts) sits exactly on a window boundary; the "
            "closed-window set would be watermark-tie-dependent"
        )
    cutoff_raw = max_raw - _LATE_RECENT_US * per_us
    recent_mask = pc.greater_equal(raw, cutoff_raw)

    from hadoop_distexec_spark.sources.tables import (
        _ensure_session_confs,
        normalize_events_ts,
        sniff_bigint_ts_unit,
    )

    _ensure_session_confs(spark)
    tmp = tempfile.mkdtemp(prefix="stream_late_")
    try:
        watch = os.path.join(tmp, "in")
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")
        os.makedirs(watch)
        f_recent = os.path.join(watch, "batch0_recent.parquet")
        pq.write_table(t.filter(recent_mask), f_recent)
        schema = spark.read.parquet(f_recent).schema

        def run_once():
            ev = normalize_events_ts(
                spark.readStream.schema(schema).format("parquet").load(watch),
                unit=sniff_bigint_ts_unit(f_recent),
            )
            agg = (
                ev.withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "10 minutes"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum("value").alias("sum_value"),
                )
                .select(
                    F.unix_micros(F.col("window.start")).alias("win_start_us"),
                    "event_type",
                    "n_events",
                    "sum_value",
                )
            )
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                # awaitTermination returns False on timeout — in that case
                # the availableNow query was stopped MID-BATCH and the sink
                # holds partial output; failing here turns a confusing
                # window-mismatch into a clear diagnosis (ADVICE r04 #3)
                if not q.awaitTermination(300):
                    raise AssertionError(
                        "late_data_drop: streaming run timed out after 300s; "
                        "sink output is partial"
                    )
            finally:
                q.stop()
            return q.recentProgress

        run_once()  # run 1: recent file only; watermark persists in ckpt
        pq.write_table(t.filter(pc.invert(recent_mask)), os.path.join(watch, "batch1_old.parquet"))
        progress2 = run_once()  # run 2: old file arrives entirely late
        late_in = sum(p["numInputRows"] for p in progress2)
        late_dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in progress2
            for so in (p.get("stateOperators") or [])
        )
        if late_in and not late_dropped:
            raise AssertionError(
                f"late_data_drop: batch 2 ingested {late_in} late rows but "
                "the watermark dropped none of them"
            )
        files = glob.glob(os.path.join(out, "*.parquet"))
        got = (
            spark.read.parquet(*files)
            if files
            else spark.createDataFrame(
                [],
                "win_start_us long, event_type string, "
                "n_events long, sum_value double",
            )
        )
        with cached(got) as got:
            # batch twin: recent rows only, windows closed by the final watermark
            # (max - 30 min); identical integer arithmetic to the DuckDB oracle
            e = table(spark, sf_dir, "events").select(
                F.unix_micros("ts").alias("u"), "event_type", "value"
            )
            mx = e.agg(F.max("u").alias("max_u"))
            expected = (
                e.crossJoin(F.broadcast(mx))
                .where(F.col("u") >= F.col("max_u") - _LATE_RECENT_US)
                .withColumn("win_start_us", F.col("u") - F.col("u") % _LATE_WIN_US)
                .where(
                    F.col("win_start_us") + _LATE_WIN_US
                    <= F.col("max_u") - _LATE_WM_US
                )
                .groupBy("win_start_us", "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum("value").alias("sum_value"),
                )
            )
            j = got.alias("s").join(
                expected.alias("b"), ["win_start_us", "event_type"], "full_outer"
            )
            mism = j.filter(
                F.col("s.n_events").isNull()
                | F.col("b.n_events").isNull()
                | (F.col("s.n_events") != F.col("b.n_events"))
                | (F.abs(F.col("s.sum_value") - F.col("b.sum_value"))
                   > 1e-6 * F.greatest(F.abs(F.col("b.sum_value")), F.lit(1.0)))
            ).count()
            n_stream, n_batch = got.count(), expected.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _check_frame(spark, "late_data_drop", n_stream, n_batch, mism)


# ---------------------------------------------------------------------------
# round-7 wave 1: the stream-STATIC dimension join — the one core Structured
# Streaming join shape the registry didn't yet cover (stream-stream:
# q_stream_join_smoke; stream-static: this).
# ---------------------------------------------------------------------------


def stream_dim_join(ev: DataFrame, cust: DataFrame) -> DataFrame:
    """events (stream or batch) x static customer dim -> per-nation
    rollup. ONE builder serves both executions: withWatermark-free
    stream-static equi-joins are stateless on the stream side (each
    micro-batch joins against the static relation — at scale, a
    broadcast or DPP-pruned scan per batch, no state store), so the
    identical plan runs under the streaming runtime and as the batch
    twin.

    Determinism: exact counts; value summed as decimal before the double
    cast (numeric rule 1)."""
    j = ev.join(cust, ev.user_id == cust.c_custkey)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


def stream_dim_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Future q_stream_dim_join: run the stream-static join + aggregate
    through the REAL streaming runtime (availableNow to exhaustion,
    complete mode — the aggregate needs no watermark), assert the result
    equals the batch twin row-for-row, and return the per-nation frame
    itself — so the driver's DuckDB oracle checks real DATA, not a smoke
    counter."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # NOT input-sized: the stateless stream-static join + complete-mode
    # aggregate is compute-bound, not state-store-bound — measured 2.3s at
    # the session default vs 3.7s at input-sized partitions (r12)
    got = _run_bounded(
        stream_dim_join(read_events_stream(spark, sf_dir), cust),
        "complete",
        # stateless join + complete-mode agg: every batch re-emits the
        # full result, so the trailing no-data batch rewrites the sink
        # with identical content — skip it (r13)
        no_data_batches=False,
    )
    batch = stream_dim_join(table(spark, sf_dir, "events"), cust)
    mism = (
        got.exceptAll(batch).unionAll(batch.exceptAll(got)).count()
    )
    if mism:
        raise AssertionError(
            f"stream-static join diverged from batch twin on {mism} rows"
        )
    return got


STREAM_DIM_JOIN_ORACLE = """
    SELECT c_nationkey, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_nationkey
    """


# Round-7 registration (prep proven in round 6 — parity + batch-equivalence
# in tests/test_round6_ops.py::test_stream_dim_join_prep_parity_and_batch_equivalence).
register("q_stream_dim_join", oracle=STREAM_DIM_JOIN_ORACLE)(stream_dim_join_check)


# ---------------------------------------------------------------------------
# round-7 wave 2: DATA-oracle upgrades of the two assertive streaming smokes.
# q_stream_join_smoke / q_stream_stateful_smoke prove stream==batch and
# hand the driver a check counter; these return the actual rows so the
# DuckDB oracle checks real data (the q_stream_dim_join pattern applied
# to the stream-stream and arbitrary-stateful tiers).
# ---------------------------------------------------------------------------


def stream_join_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream click->purchase attribution rows through the REAL
    streaming runtime (availableNow to exhaustion), asserted equal to
    the batch twin as a set, then returned for the data oracle. Raw
    per-row values only (ids, epoch micros, the purchase value passed
    through) — no cross-row float reduction, so bit-determinism is
    rule-3 trivial.

    Shape at 100 TB: one shuffle per side on user_id; each state store
    holds only rows younger than watermark + join window (the bounded
    stream-stream contract streaming_join documents)."""
    ev = read_events_stream(spark, sf_dir)
    got = _run_bounded(
        streaming_join(ev, ev),
        "append",
        state_partitions=_stream_state_partitions(spark, sf_dir),
        # inner join: the no-data batch only evicts state, emits nothing
        # (measured: identical rows, 2.7 -> 1.6s at sf0.1 — r13)
        no_data_batches=False,
    )
    batch_ev = table(spark, sf_dir, "events")
    # pin the batch twin before the two-sided exceptAll: each direction
    # re-evaluates its arguments, so the un-pinned self-join over events
    # ran twice (guide §1/§5 — don't recompute what one job already built)
    batch = streaming_join(batch_ev, batch_ev).localCheckpoint(eager=True)
    mism = got.exceptAll(batch).unionAll(batch.exceptAll(got)).count()
    if mism:
        raise AssertionError(
            f"stream-stream join diverged from batch twin on {mism} rows"
        )
    return got


STREAM_JOIN_DATA_ORACLE = """
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id AS user_id,
           epoch_us(c.ts) AS click_ts_us,
           epoch_us(p.ts) AS purchase_ts_us,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND epoch_us(p.ts) BETWEEN epoch_us(c.ts)
                            AND epoch_us(c.ts) + 1800000000
    """


def streaming_user_totals_exact(
    events: DataFrame, *, watermark: str = "30 minutes"
) -> DataFrame:
    """Arbitrary-stateful per-user totals with EXACT integer state: the
    value accumulates as ten-thousandths (the DECIMAL(18,4) unit), so
    the running sum is order-insensitive across micro-batches — the
    numeric.py rule-1 discipline applied to applyInPandasWithState. The
    Python-side quantization (shortest-repr Decimal, HALF_UP at 1e-4)
    reproduces Spark's double->DECIMAL(18,4) cast (java BigDecimal
    .valueOf = shortest repr, setScale HALF_UP), which the dsum oracles
    prove equal to DuckDB's cast on this data."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, n_events long, total_value_e4 long"
    state_schema = "n long, tot long"
    q4 = Decimal("0.0001")

    def update_fn(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value"]:
                tot += int(
                    Decimal(repr(float(v))).quantize(q4, rounding=ROUND_HALF_UP)
                    * 10000
                )
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value_e4": [tot]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-user totals from the exact-integer stateful operator,
    with a real data oracle: the exact BIGINT ten-thousandths plus the
    one-IEEE-division double. update mode re-emits per state change; the
    final state is the row with the largest running count (strictly
    increasing per emission — the q_stream_stateful_smoke struct-max
    idiom)."""
    ev = read_events_stream(spark, sf_dir)
    # NOT input-sized: the Python-side stateful worker is the bottleneck
    # (per-row Decimal quantization), so partitions must follow CPU, not
    # input bytes — measured 1.8s at the session default vs 8.4s when
    # input-sizing collapsed it to one Python worker (r12). update mode
    # with NoTimeout: the no-data batch emits nothing — skip it (r13)
    got = _run_bounded(
        streaming_user_totals_exact(ev), "update", no_data_batches=False
    )
    final = (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value_e4")).alias("_fin"))
        .select("user_id", "_fin.n_events", "_fin.total_value_e4")
    )
    return final.select(
        "user_id",
        "n_events",
        "total_value_e4",
        (F.col("total_value_e4").cast("double") / F.lit(10000.0)).alias(
            "total_value"
        ),
    )


STREAM_STATEFUL_TOTALS_ORACLE = """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4)) * 10000) AS BIGINT)
             AS total_value_e4,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)) * 10000) AS BIGINT)
                AS DOUBLE) / 10000.0 AS total_value
    FROM events GROUP BY user_id
    """


# Round-7 registration of this round's prep wave (parity proof:
# tests/test_round7_ops.py).
register("q_stream_join_data", oracle=STREAM_JOIN_DATA_ORACLE)(stream_join_data)

register("q_stream_stateful_totals", oracle=STREAM_STATEFUL_TOTALS_ORACLE)(
    stream_stateful_totals
)


# ---------------------------------------------------------------------------
# round-8 prep: replay dedup with DATA through the real runtime
# (REGISTERED r08 as q_stream_dedup_data)
# ---------------------------------------------------------------------------


def stream_dedup_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingestion dedup witnessed with DATA: the event
    stream UNIONED with a full replay of itself (two streaming sources
    over the same fixture — the Kafka-redelivery shape every exactly-once
    pipeline fronts) deduplicated by dropDuplicatesWithinWatermark
    through the REAL runtime, asserted row-for-row equal to the batch
    distinct set, then returned for the data oracle. Upgrades
    q_stream_dedup_smoke's id-set counter check to full-row content: the
    survivors carry every passthrough column, so a dedup that kept the
    wrong copy (or mangled one) fails the oracle hash, not just a count.

    Raw per-row values only (ids, epoch micros, value passed through) —
    no cross-row float reduction, rule-3 trivial.

    Shape at 100 TB: one shuffle on event_id; state holds only keys
    younger than the watermark (the bounded-state contract
    streaming_dedup documents) — the replay doubles input volume but
    not state, since both copies of a key land inside one watermark
    window."""
    ev1 = read_events_stream(spark, sf_dir)
    ev2 = read_events_stream(spark, sf_dir)
    replayed = ev1.unionByName(ev2)
    got = _run_bounded(
        streaming_dedup(replayed).select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        ),
        "append",
        # state-store partitions sized from input volume (the r12
        # stream-stream join lever, applied r13 when this id unfroze);
        # the dedup's no-data batch only evicts state — first-seen rows
        # were already emitted in their data batch (identical results
        # pinned by test_stream_no_data_batch_skip_is_identical)
        state_partitions=_stream_state_partitions(spark, sf_dir),
        no_data_batches=False,
    )
    batch = (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
        .distinct()
        # pin the batch twin: each exceptAll direction re-evaluates its
        # arguments (the r12 outer-join twin lesson)
        .localCheckpoint(eager=True)
    )
    mism = got.exceptAll(batch).unionAll(batch.exceptAll(got)).count()
    if mism:
        raise AssertionError(
            f"replay dedup diverged from batch distinct on {mism} rows"
        )
    return got


STREAM_DEDUP_DATA_ORACLE = """
    SELECT DISTINCT event_id, user_id, event_type,
           epoch_us(ts) AS ts_us, value
    FROM events
    """


# round-8 registration (parity-proven since r07, tests/test_round8_ops.py)
register("q_stream_dedup_data", oracle=STREAM_DEDUP_DATA_ORACLE)(stream_dedup_data)


# ---------------------------------------------------------------------------
# stream-stream LEFT OUTER join (library tier, r11 registration candidate):
# the one core streaming join shape still uncovered — inner
# (q_stream_join_data), stream-static (q_stream_dim_join), dedup, late-data
# and arbitrary-stateful all have registered data oracles; the outer join
# adds the NULL-emission-on-state-eviction semantics none of them exercise.
# ---------------------------------------------------------------------------

# a click's outcome (matched or abandoned) is FINAL once the GLOBAL
# watermark has passed click_ts + join window. The global watermark is the
# MIN of the per-side watermarks, and each side's watermark tracks that
# SIDE's max event time (withWatermark sits above the event_type filter) —
# so the bound derives from min(max click ts, max purchase ts) - 30 min,
# NOT from the stream's overall max ts (measured: the last click itself
# never closes in a bounded run because its own side's watermark stops at
# it). The close margin below is join window (30 min) + 1 min of
# strict-inequality headroom, identically in both engines.
OUTER_WM_DELAY_US = 1_800_000_000
OUTER_CLOSE_US = 1_860_000_000


def streaming_left_outer(
    clicks: DataFrame, purchases: DataFrame, *, watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER click->purchase attribution: every click
    emits — matched rows as soon as the purchase arrives, ABANDONED
    clicks as null-padded rows when the watermark passes the join window
    and the state store evicts them. That late null emission is the
    semantics this operator exists to witness: it only happens through
    the real state/watermark machinery (a batch left join has nothing to
    evict). Same bounded-state contract as streaming_join: both sides
    watermarked, the join time-bounded, state sized by watermark + window.

    The builder runs identically as the batch twin (withWatermark is a
    no-op in batch), where the left join is just complete — agreement is
    asserted on the watermark-CLOSED prefix (see OUTER_CLOSE_US)."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_ts_us"),
        "purchase_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
        F.col("purchase_id").isNotNull().alias("matched"),
    )


def stream_outer_join_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_stream_outer_join (registered r11): run the left-outer attribution through
    the REAL streaming runtime (availableNow to exhaustion — the closing
    no-data batch advances the watermark and flushes the abandoned-click
    nulls), assert the watermark-closed prefix equals the batch twin
    row-for-row, and return that closed prefix for the data oracle. Raw
    ids/epoch-micros/pass-through values only — rule-3 bit-determinism."""
    ev = read_events_stream(spark, sf_dir)
    got = _run_bounded(
        streaming_left_outer(ev, ev),
        "append",
        state_partitions=_stream_state_partitions(spark, sf_dir),
    )
    batch_ev = table(spark, sf_dir, "events")
    side_max = batch_ev.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.unix_micros("ts"))).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias("p"),
    ).collect()[0]
    if side_max["c"] is None or side_max["p"] is None:
        # a side with no rows never advances its watermark, so NOTHING
        # closes — the oracle's NULL-strict CASE keeps wm_us NULL there
        # (DuckDB's LEAST alone would IGNORE the NULL side) and its
        # WHERE is NULL-false, returning the same empty set. Return the
        # empty closed prefix directly: the batch-twin check is vacuous
        # (both sides empty by construction) and a self-exceptAll on the
        # memory-sink view trips an analyzer attribute conflict
        return got.filter(F.lit(False))
    wm_us = min(side_max["c"], side_max["p"]) - OUTER_WM_DELAY_US
    cutoff = wm_us - OUTER_CLOSE_US
    batch = streaming_left_outer(batch_ev, batch_ev)
    got_c = got.filter(F.col("click_ts_us") <= cutoff)
    # pin the batch twin: each exceptAll direction re-evaluates its
    # arguments, so the un-pinned outer self-join over events ran twice
    batch_c = batch.filter(F.col("click_ts_us") <= cutoff).localCheckpoint(eager=True)
    mism = got_c.exceptAll(batch_c).unionAll(batch_c.exceptAll(got_c)).count()
    if mism:
        raise AssertionError(
            f"stream-stream outer join diverged from batch twin on {mism} closed rows"
        )
    return got_c


STREAM_OUTER_JOIN_ORACLE = f"""
    WITH side AS (
      SELECT MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c_max,
             MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_max
      FROM events),
    wm AS (
      -- NULL-STRICT two-sided watermark: DuckDB's LEAST IGNORES NULLs
      -- (LEAST(NULL, x) = x), but a side with no rows never advances its
      -- Spark watermark, so nothing closes — the CASE keeps wm_us NULL
      -- and the outer WHERE NULL-false, matching the harness's empty
      -- result on one-sided inputs (ADVICE r10 #2)
      SELECT CASE WHEN c_max IS NULL OR p_max IS NULL THEN NULL
                  ELSE LEAST(c_max, p_max) END - {OUTER_WM_DELAY_US} AS wm_us
      FROM side),
    c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_ts_us
      FROM events WHERE event_type = 'click'),
    p AS (
      SELECT event_id AS purchase_id, user_id AS p_user,
             epoch_us(ts) AS purchase_ts_us, value AS purchase_value
      FROM events WHERE event_type = 'purchase')
    SELECT c.click_id, c.user_id, c.click_ts_us,
           p.purchase_id, p.purchase_ts_us, p.purchase_value,
           p.purchase_id IS NOT NULL AS matched
    FROM c LEFT JOIN p
      ON c.user_id = p.p_user
     AND p.purchase_ts_us BETWEEN c.click_ts_us AND c.click_ts_us + 1800000000
    WHERE c.click_ts_us <= (SELECT wm_us FROM wm) - {OUTER_CLOSE_US}
    """

# the only left-outer / state-eviction streaming-join semantics in the
# repo; the oracle's watermark comparison is NULL-strict (ADVICE r10 #2)
register("q_stream_outer_join", oracle=STREAM_OUTER_JOIN_ORACLE)(
    stream_outer_join_data
)


# ---------------------------------------------------------------------------
# stream-stream FULL OUTER join (library tier, r12 registration candidate):
# completes the streaming-join semantics ladder — inner (q_stream_join_data),
# left outer with click-side eviction (q_stream_outer_join), and now BOTH-side
# eviction: an ORPHAN purchase (no qualifying click in the preceding 30 min)
# emits a null-padded row when the purchase-side state evicts — the
# "conversion with no attributable touchpoint" row an attribution pipeline
# must surface, and the one emission path the left-outer id cannot exercise.
# ---------------------------------------------------------------------------

# an orphan purchase is FINAL once the global watermark passes its own ts:
# a matching click would need click_ts in [purchase_ts - 30 min,
# purchase_ts], and once wm > purchase_ts no click with ts <= purchase_ts
# can still arrive. 1 min of strict-inequality headroom, as OUTER_CLOSE_US.
ORPHAN_CLOSE_US = 60_000_000


def streaming_full_outer(
    clicks: DataFrame, purchases: DataFrame, *, watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-stream FULL OUTER click<->purchase attribution: matched
    rows as the purchase arrives, abandoned clicks null-padded on
    click-side eviction (the left-outer semantics), AND orphan purchases
    null-padded on purchase-side eviction. user_id coalesces across the
    sides so orphan rows keep their key. Same bounded-state contract:
    both sides watermarked, the join time-bounded, state sized by
    watermark + window on EACH side."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        "click_id",
        F.coalesce("c_user", "p_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_ts_us"),
        "purchase_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
        (F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()).alias(
            "matched"
        ),
    )


def stream_full_outer_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Future q_stream_full_outer: the full-outer attribution through the
    REAL streaming runtime, closed-prefix-asserted against the batch
    twin and returned for the data oracle. The closed prefix is
    SIDE-AWARE: a row carrying a click is final once the global
    watermark passes click_ts + join window (the q_stream_outer_join
    bound); an orphan-purchase row is final once it passes purchase_ts
    (no click with ts <= purchase_ts can still arrive). Raw
    ids/epoch-micros/pass-through values only — rule-3 bit-determinism."""
    ev = read_events_stream(spark, sf_dir)
    got = _run_bounded(
        streaming_full_outer(ev, ev),
        "append",
        state_partitions=_stream_state_partitions(spark, sf_dir),
    )
    batch_ev = table(spark, sf_dir, "events")
    side_max = batch_ev.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.unix_micros("ts"))).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias("p"),
    ).collect()[0]
    if side_max["c"] is None or side_max["p"] is None:
        # one empty side pins the global watermark at the epoch, so
        # NOTHING closes on either side (the q_stream_outer_join
        # degenerate-path lesson, including the self-exceptAll trap)
        return got.filter(F.lit(False))
    wm_us = min(side_max["c"], side_max["p"]) - OUTER_WM_DELAY_US
    closed = F.when(
        F.col("click_id").isNotNull(),
        F.col("click_ts_us") <= wm_us - OUTER_CLOSE_US,
    ).otherwise(F.col("purchase_ts_us") <= wm_us - ORPHAN_CLOSE_US)
    batch = streaming_full_outer(batch_ev, batch_ev)
    got_c = got.filter(closed)
    # pin the batch twin (the exceptAll-reruns-its-argument rule, as in
    # the left-outer sibling)
    batch_c = batch.filter(closed).localCheckpoint(eager=True)
    mism = got_c.exceptAll(batch_c).unionAll(batch_c.exceptAll(got_c)).count()
    if mism:
        raise AssertionError(
            f"stream-stream full outer join diverged from batch twin on {mism} closed rows"
        )
    return got_c


# the two-sided NULL-strict watermark CTE is the REGISTERED
# q_stream_outer_join oracle's text verbatim (sliced; containment
# pytest-asserted) — the siblings cannot drift on the close bound
_OUTER_WM_CTES = STREAM_OUTER_JOIN_ORACLE[
    STREAM_OUTER_JOIN_ORACLE.index("WITH side AS") : STREAM_OUTER_JOIN_ORACLE.index(
        "SELECT c.click_id"
    )
]

STREAM_FULL_OUTER_ORACLE = (
    _OUTER_WM_CTES
    + f"""SELECT c.click_id,
           COALESCE(c.user_id, p.p_user) AS user_id,
           c.click_ts_us,
           p.purchase_id, p.purchase_ts_us, p.purchase_value,
           (c.click_id IS NOT NULL AND p.purchase_id IS NOT NULL) AS matched
    FROM c FULL JOIN p
      ON c.user_id = p.p_user
     AND p.purchase_ts_us BETWEEN c.click_ts_us AND c.click_ts_us + 1800000000
    WHERE CASE WHEN c.click_id IS NOT NULL
               THEN c.click_ts_us <= (SELECT wm_us FROM wm) - {OUTER_CLOSE_US}
               ELSE p.purchase_ts_us <= (SELECT wm_us FROM wm) - {ORPHAN_CLOSE_US}
          END
    """
)

# r12 registration (VERDICT r11 next-round #1): the last tested tier
# outside the registry — completes the streaming-join semantics ladder
# (inner / left outer / FULL outer with both-side eviction); oracle and
# harness unchanged since the r11 draft, bit-exact at sf0.001 and sf0.01
register("q_stream_full_outer", oracle=STREAM_FULL_OUTER_ORACLE)(
    stream_full_outer_data
)
