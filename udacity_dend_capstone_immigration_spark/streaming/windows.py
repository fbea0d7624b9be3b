"""Watermarked streaming windows (streaming twins of
``operators/windows.py``).

Semantics contract: for any finite input processed with
``trigger(availableNow=True)``, each wrapper's complete-mode result
equals its batch twin on the same rows — the tests assert exactly that.
Watermarks bound state: at scale the engine holds only
``watermark / slide`` windows of partial aggregates per key, and late
rows beyond the watermark are dropped instead of growing state forever.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    path_glob_filter: str | None = None,
) -> DataFrame:
    """File-source stream. ``max_files_per_trigger`` throttles micro-batch
    size (and, in tests, forces multi-batch runs so state transitions are
    actually exercised). The file source requires a DIRECTORY; to stream
    a single file, pass its parent as ``path`` and the file name as
    ``path_glob_filter``."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path_glob_filter is not None:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.load(path)


def watermarked_tumbling(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window aggregate with late-data watermark."""
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("w"), *group_cols)
        .agg(*aggs)
    )
    rest = [c for c in out.columns if c != "w"]
    return out.select(
        F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), *rest
    )


def watermarked_sliding(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window aggregate with late-data watermark. State size is
    (duration/slide) × active keys; keep the ratio small at scale."""
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration, slide).alias("w"), *group_cols)
        .agg(*aggs)
    )
    rest = [c for c in out.columns if c != "w"]
    return out.select(
        F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), *rest
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str,
    aggs: Sequence[Column],
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session windows via ``F.session_window`` — the native
    streaming form of ``operators.windows.sessionize`` (which emits
    ordinal session ids in batch). Sessions merge as events arrive;
    state is one open session per key, closed once the watermark passes
    the gap."""
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(*aggs)
    )
    rest = [c for c in out.columns if c != "w"]
    return out.select(
        F.col("w.start").alias("session_start"), F.col("w.end").alias("session_end"), *rest
    )


def scratch_checkpoint_dir(prefix: str) -> str:
    """Checkpoint dir for a THROWAWAY memory-sink drain (guide §6: put
    IO where it belongs). An availableNow drain into a memory sink
    creates a fresh checkpoint per run and can never be resumed across
    processes (the sink dies with the session), so its offset/commit
    logs and state snapshots are scratch BY CONSTRUCTION — placing them
    on RAM-backed storage removes per-micro-batch fsync latency from
    the drain floor (r17 A/B, min-of-3 interleaved-session reps:
    documents_stream_dedup_status 3.72 → 2.87s, events_stream_hourly
    1.19 → 0.98s). Durable-sink streams (foreachBatch parquet landings,
    CDC/SCD2/feature stores) keep their checkpoints on disk — theirs
    model real exactly-once recovery state. Placement order:
    $SPARK_GRAFT_SCRATCH_DIR (production: local NVMe / ramdisk) →
    /dev/shm when writable → the system tempdir."""
    import os
    import tempfile

    base = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if base is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def stream_state_partitions(spark: SparkSession, est_bytes: int | None) -> int | None:
    """Scale-adaptive shuffle/state partition count for a stream about
    to start (guide §2.2: fewer, larger partitions — every stateful
    operator materializes one state-store instance PER shuffle
    partition PER micro-batch, and at test scale 32 near-empty state
    stores cost ~3× the drain's real work; measured 22→7.5s on the
    shingle-intersection drain under identical load). Derived from the
    Catalyst size estimate of the stream's STATIC twin relation: one
    partition per ~32 MB, with the session's configured
    ``spark.sql.shuffle.partitions`` as the CEILING — at production
    backlogs the estimate exceeds the ceiling and the configured value
    wins, so this only ever coalesces the degenerate small-input case.
    The floor is a quarter of the available cores: every exchange in
    the streaming query (the stream-static join included) runs at this
    count, and collapsing the join to 1-2 partitions serializes real
    work (swept at sf0.1: 32→2.38s, 8→1.61s, 1→2.97s min-of-3 — the
    U-shape is state overhead on one side, lost join parallelism on
    the other). Returns None (keep the session conf) when no estimate
    is available."""
    if est_bytes is None:
        return None
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = max(1, -(-spark.sparkContext.defaultParallelism // 4))
    from udacity_dend_capstone_immigration_spark.operators.cumsum import PARTITION_BYTES

    by_size = int(est_bytes) // PARTITION_BYTES + 1
    return max(1, min(conf_n, max(floor, by_size)))


def _start_with_state_partitions(spark: SparkSession, writer, state_partitions):
    """Start a streaming query with a per-query state-partition count.
    ``StreamExecution`` clones the session (and its conf) at start, so
    set → start → restore pins the count for this query only; the
    fresh-checkpoint-per-run convention means no stored-state
    compatibility constraint."""
    if not state_partitions:
        return writer.start()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        return writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _await_or_raise(q, timeout_sec: int, what: str) -> None:
    """``awaitTermination(timeout)`` returns False on timeout with the
    query still RUNNING — silently reading the sink at that point would
    return a partially-drained result. Fail loudly instead."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming drain of {what!r} exceeded {timeout_sec}s; "
            "sink contents would be partial — aborting instead of "
            "returning them"
        )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
    timeout_sec: int | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain all available input into an in-memory table and return it.

    ``availableNow`` processes the backlog in (possibly many) micro-batches
    then stops — the batch-parity execution mode for finite inputs.

    ``timeout_sec`` defaults to $SPARK_GRAFT_STREAM_DRAIN_TIMEOUT (else
    120s) — the scaled-corpus extrapolation runs legitimately need
    multi-minute drains that would be a hang at test SFs.
    """
    import os

    if timeout_sec is None:
        timeout_sec = int(os.environ.get("SPARK_GRAFT_STREAM_DRAIN_TIMEOUT", "120"))
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = _start_with_state_partitions(
        stream_df.sparkSession, writer, state_partitions
    )
    _await_or_raise(q, timeout_sec, query_name)
    return stream_df.sparkSession.table(query_name)


def run_available_now_many(specs, timeout_sec: int | None = None) -> list:
    """Start several INDEPENDENT availableNow drains concurrently and
    await them all; returns their memory tables in spec order. The
    micro-batch scheduler interleaves the queries, so total wall is
    ~max(drain) instead of sum(drain) — worth it whenever one query
    needs two unrelated streaming passes (the streaming-dedup shape:
    an exact-fingerprint semi join and a shingle-intersection
    aggregate). Each spec is (stream_df, query_name, output_mode,
    checkpoint_dir[, state_partitions]); failure semantics match
    :func:`run_available_now` (timeout → stop + raise, never a partial
    sink)."""
    import os

    if timeout_sec is None:
        timeout_sec = int(os.environ.get("SPARK_GRAFT_STREAM_DRAIN_TIMEOUT", "120"))
    started = []
    for spec in specs:
        stream_df, query_name, output_mode, checkpoint_dir = spec[:4]
        state_partitions = spec[4] if len(spec) > 4 else None
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        started.append(
            (
                _start_with_state_partitions(
                    stream_df.sparkSession, writer, state_partitions
                ),
                query_name,
                stream_df,
            )
        )
    try:
        return [
            (_await_or_raise(q, timeout_sec, name), sdf.sparkSession.table(name))[1]
            for q, name, sdf in started
        ]
    except BaseException:
        # _await_or_raise stops only the query that failed; siblings
        # would keep running (and holding memory-sink state) past the
        # raise — stop every still-active drain before propagating
        for q, _, _ in started:
            try:
                if q.isActive:
                    q.stop()
            except Exception:
                pass
        raise


def run_foreach_batch_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: Sequence[str] = (),
    timeout_sec: int = 120,
) -> None:
    """Drain a stream into partitioned parquet via ``foreachBatch`` —
    the production sink path for stores without a native streaming
    writer (JDBC, object stores, Delta MERGE, ...).

    Exactly-once layout: each micro-batch OVERWRITES its own
    ``batch_id=<n>`` directory, so a batch replayed after failure
    rewrites the same directory instead of appending duplicates —
    idempotent-by-path, the standard foreachBatch transactionality
    recipe (batch_id + overwrite). Readers see the whole dir as one
    dataset with ``batch_id`` as a discovered partition column.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    _await_or_raise(q, timeout_sec, f"foreachBatch:{out_dir}")


def watermarked_dedup(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once dedup: keep the first arrival per key.

    The event-time column is part of the dedup key ON PURPOSE — that is
    what lets the state store expire entries once the watermark passes
    them. Dedup state without a time component grows monotonically with
    distinct keys; with it, state is bounded by keys-per-watermark-window
    regardless of stream length — the property that makes this viable on
    an unbounded 100 TB/day stream. Emits in append mode (each surviving
    row exactly once, on arrival).
    """
    return df.withWatermark(ts_col, watermark).dropDuplicates([*key_cols, ts_col])


def stream_interval_join(
    left: DataFrame,
    left_ts: str,
    right: DataFrame,
    right_ts: str,
    on: Column,
    interval: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: right rows within ``[left_ts, left_ts +
    interval]`` of a matching left row.

    Both sides are watermarked and the join carries an explicit
    event-time range constraint — the two things Spark's state cleanup
    needs to drop buffered rows once the watermark passes them. Without
    the range bound, stream-stream join state grows without limit; with
    it, each side buffers only ``watermark + interval`` of data per key,
    which is what makes this runnable on an unbounded stream. Append
    mode: each matched pair is emitted exactly once, when the match
    becomes final.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        on
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {interval}"))
    )
    return lw.join(rw, cond, "inner")
