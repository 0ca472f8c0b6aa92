"""Streaming windowed aggregations + dual sink (SURVEY.md §2.9
St4-St8).

- tumbling / sliding / session event-time windows with a watermark:
  the engine-grade replacement for the reference's arrival-time bucket
  dicts (``app/utils.py:567-689``). Late-data policy (St7), as Spark's
  aggregation actually implements it (pinned by
  tests/test_streaming.py::test_watermark_late_row_semantics): the
  watermark BOUNDS STATE — windows are finalized and emitted once the
  watermark passes their end. A late row that arrives while its
  window state is still live merges normally (no data loss); one that
  arrives after finalization re-opens a fresh window row rather than
  corrupting the emitted result. The reference, by contrast, silently
  mis-buckets late rows into arrival-order dicts.
- ``foreachBatch`` dual sink: append the fact table AND overwrite the
  latest-stats snapshot in one transaction-per-epoch — replacing the
  reference's tmp-file+rename atomic write (``app/utils.py:493-508``)
  and its 60 s flush thread (``app/services/camera.py:319-322``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..compat import md5_hash
from ..session import shuffle_partitions_at_most

WATERMARK = "30 minutes"

# Structured Streaming fixes the state-store partition count from
# spark.sql.shuffle.partitions at the FIRST micro-batch and keeps it
# for the checkpoint's lifetime — it is a state-sizing knob, not a
# batch-parallelism knob. Each micro-batch pays one state-store
# open/commit + task per partition regardless of data, so a
# batch-oriented session default (Spark's 200, or input-sized on a
# cluster) only adds fixed cost on the bounded replays here (measured
# r11: the stream-stream joins run 3-5× faster at 32 than at 200;
# r13: the tumbling drain takes 3.2-3.9 s at 32, 1.8 s at 8, 1.8 s at
# 4 on the same staged input). The count is therefore DERIVED from the
# drain's input volume: input rows upper-bound the distinct state
# keys, and each drain keeps O(bytes-per-key) window/sketch state, so
#   partitions = ceil(input_rows / STREAM_ROWS_PER_PARTITION)
# capped by the session value (session.shuffle_partitions_at_most).
# STREAM_ROWS_PER_PARTITION is the rows-per-key × keys-per-partition
# product for KB-scale state — on a real cluster it would be
# executor_memory_per_partition / state_bytes_per_key × keys_per_row.
# Drains with no row count (the per-row Python-state kernels, whose
# partition count is their parallelism) use the constant
# STREAM_MAX_STATE_PARTITIONS, so a restarted checkpoint of such a
# stream keeps a stable count. Results are partitioning-invariant —
# pinned by the chunking-invariance test and every q_stream_* oracle.
STREAM_MAX_STATE_PARTITIONS = 8
STREAM_ROWS_PER_PARTITION = 50000


def stream_state_partitions(spark: SparkSession, n_rows: int | None = None):
    """Cap shuffle partitions while one stream starts, restoring the
    session value after.

    ``n_rows`` is the drain's total input row count, passed explicitly
    by the call site (queries look their staged dir up via
    ``simulate.staged_rows``). None → the constant cap."""
    if n_rows is None:
        target = STREAM_MAX_STATE_PARTITIONS
    else:
        target = -(-int(n_rows) // STREAM_ROWS_PER_PARTITION)
    return shuffle_partitions_at_most(spark, target)


def _run_available_now(
    spark: SparkSession,
    writer: DataStreamWriter,
    checkpoint_dir: str,
    state_rows: int | None,
) -> None:
    """Start ``writer`` as a bounded availableNow query under the
    state-partition cap and block until it has drained.

    The cap is held across ``start()`` only: the query clones the
    session conf before ``start()`` returns, and its first batch
    records the capped count in ``offsets/0`` and sizes its state from
    it. So the drain itself runs without holding the cap's lock."""
    with stream_state_partitions(spark, n_rows=state_rows):
        query = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    query.awaitTermination()


def tumbling_counts(stream: DataFrame, duration: str = "1 hour") -> DataFrame:
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", duration).alias("w"), F.col("camera_id"))
        .agg(
            F.sum("new_count").alias("total_new_count"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "camera_id",
            "total_new_count",
            "n_samples",
        )
    )


def sliding_counts(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.sum("new_count").alias("total_new_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "total_new_count",
        )
    )


def session_counts(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("camera_id"))
        .agg(
            F.sum("new_count").alias("session_total"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "camera_id",
            "session_total",
            "n_events",
        )
    )


def run_dual_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    state_rows: int | None = None,
) -> None:
    """St8: one streaming query, two sinks per epoch — fact parquet +
    overwritten latest-stats snapshot.

    foreachBatch is AT-LEAST-ONCE: a retried epoch re-runs this sink.
    Both writes are therefore idempotent per epoch — the fact table is
    partitioned by epoch_id and written with DYNAMIC partition
    overwrite (a replay replaces its own partition instead of
    appending duplicates); the snapshot is a full overwrite, so the
    retry converges to the same state."""
    fact_dir = os.path.join(out_dir, "fact")
    snap_dir = os.path.join(out_dir, "latest_snapshot")

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        batch.persist()
        try:
            (
                batch.withColumn("epoch_id", F.lit(epoch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_id")
                .parquet(fact_dir)
            )
            latest = (
                batch.groupBy("camera_id")
                .agg(
                    F.max_by("new_count", "ts").alias("current_count"),
                    F.max("ts").alias("last_update"),
                    F.sum("new_count").alias("batch_total"),
                )
                .withColumn("epoch_id", F.lit(epoch_id))
            )
            latest.write.mode("overwrite").parquet(snap_dir)
        finally:
            batch.unpersist()

    _run_available_now(
        stream.sparkSession,
        stream.writeStream.outputMode("append").foreachBatch(sink),
        checkpoint_dir,
        state_rows,
    )


def run_to_memory(spark: SparkSession, df: DataFrame, name: str, checkpoint_dir: str, output_mode: str = "append", state_rows: int | None = None) -> DataFrame:
    """Drain a bounded stream into an in-memory table and return it.
    ``state_rows`` = the stream's total input rows (state-sizing hint,
    see stream_state_partitions).

    The memory sink registers a temp view ``name``; it is dropped
    before returning, drain failed or not. The returned frame's
    analyzed plan holds the sink itself, so it stays readable and
    its rows are freed with the frame, not at session end."""
    try:
        _run_available_now(
            spark,
            df.writeStream.outputMode(output_mode).format("memory").queryName(name),
            checkpoint_dir,
            state_rows,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def land_rollup_partial(batch: DataFrame, epoch_id: int, part_dir: str) -> None:
    """Reduce one micro-batch to (camera, day) partial sums and land
    them as THIS epoch's partition with dynamic overwrite — replaying
    the same epoch replaces its own partition byte-for-byte instead of
    appending duplicates (idempotency pinned in tests)."""
    (
        batch.groupBy("camera_id", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(
            F.sum("new_count").alias("partial_total"),
            F.count(F.lit(1)).alias("partial_n"),
        )
        .withColumn("epoch_id", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(part_dir)
    )


def run_rollup_partials(stream: DataFrame, out_dir: str, checkpoint_dir: str, state_rows: int | None = None) -> str:
    """Streaming continuous aggregate (the streaming twin of the batch
    q_hybrid_rollup's cold tier): every epoch reduces its micro-batch
    to per-(camera, day) partial sums and lands them as an epoch_id
    partition with DYNAMIC overwrite — idempotent under foreachBatch's
    at-least-once replay, exactly like run_dual_sink's fact write. The
    serving rollup is the re-aggregation of the partials (a compaction
    job folds old epochs in production); partial sums over disjoint
    epochs equal the batch aggregate REGARDLESS of chunking, which is
    what makes the result oracle-checkable."""
    part_dir = os.path.join(out_dir, "rollup_partials")

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        land_rollup_partial(batch, epoch_id, part_dir)

    _run_available_now(
        stream.sparkSession,
        stream.writeStream.outputMode("append").foreachBatch(sink),
        checkpoint_dir,
        state_rows,
    )
    return part_dir


def hll_register_windows(stream: DataFrame) -> DataFrame:
    """Per-window HLL registers over camera_id: (window_start,
    window_end, bucket, reg) — the BOUNDED-STATE streaming answer to
    distinct counting (exact distinct would hold every id seen per
    open window; registers hold 64 small ints whatever the
    cardinality). ``max`` is commutative/idempotent, so the drained
    output is chunking- and order-invariant — fully hash-checkable
    like the other event-time window queries. Bucket and rank come
    from pipeline.hll_bucket_col / hll_rank_col, the kernels of the
    batch q_hll_distinct."""
    from ..operators.pipeline import hll_bucket_col, hll_rank_col

    h = md5_hash(F.concat(F.lit("shll#"), F.col("camera_id")), 10)
    return (
        stream.withWatermark("ts", WATERMARK)
        .select(
            "ts",
            hll_bucket_col(h).alias("bucket"),
            hll_rank_col(h).alias("rank"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "bucket")
        .agg(F.max("rank").alias("reg"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "reg",
        )
    )
