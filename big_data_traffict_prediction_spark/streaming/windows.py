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
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WATERMARK = "30 minutes"

# Structured Streaming fixes the state-store partition count from
# spark.sql.shuffle.partitions at the FIRST micro-batch and keeps it
# for the checkpoint's lifetime — it is a state-sizing knob, not a
# batch-parallelism knob. A batch-oriented session default (Spark's
# 200, or input-sized on a cluster) multiplies per-micro-batch task
# scheduling + state-store open/commit overhead with no benefit on the
# bounded replays here (measured r11: the stream-stream joins run
# 3-5× faster at 32 than at 200 on the same input; measured r13-opt:
# the fixed per-drain cost keeps scaling DOWN with the partition
# count — tumbling-counts drain 3.2-3.9 s at 32 vs 1.76-1.85 s at 8
# vs 1.79 s at 4 on the same staged input, and every heavier stream
# query moves the same direction — because each micro-batch pays one
# state-store open/commit + task per partition regardless of data).
# Since r14 the partition count is DERIVED from the drain's input
# volume (the comment's own production formula, implemented): input
# rows upper-bound the distinct state keys, and each of these drains
# keeps O(bytes-per-key) window/sketch state, so
#   partitions = ceil(input_rows / STREAM_ROWS_PER_PARTITION)
# clamped to [1, session parallelism]. STREAM_ROWS_PER_PARTITION is
# the rows-per-key × keys-per-partition product for KB-scale state —
# on a real cluster set it to executor_memory_per_partition /
# state_bytes_per_key × keys_per_row (env below). Results are
# partitioning-invariant — pinned by the chunking-invariance test and
# every q_stream_* oracle. The count is fixed at the FIRST micro-batch
# for the checkpoint's lifetime; drains whose input volume is unknown
# (no ``n_rows`` passed) fall back to the legacy constant below, so a
# restarted checkpoint of such a stream keeps a stable count.
# A VALID SPARK_STREAM_STATE_PARTITIONS still overrides everything
# (clamped by the session value, as before); empty/whitespace or
# malformed or non-positive values are treated as unset — derivation
# engages — never as a silent constant pin and never an import crash.


def _env_int(name: str) -> int | None:
    raw = os.environ.get(name)
    if raw is None or not raw.strip():
        return None
    try:
        value = int(raw)
    except ValueError:
        return None
    return value if value >= 1 else None


_STREAM_STATE_OVERRIDE = _env_int("SPARK_STREAM_STATE_PARTITIONS")
STREAM_MAX_STATE_PARTITIONS = _STREAM_STATE_OVERRIDE or 8
STREAM_ROWS_PER_PARTITION = _env_int("SPARK_STREAM_ROWS_PER_PARTITION") or 50000


@contextmanager
def stream_state_partitions(spark: SparkSession, n_rows: int | None = None):
    """Cap shuffle partitions for the duration of one stream
    start→drain, restoring the session value after.

    ``n_rows`` is the drain's total input row count, passed explicitly
    by the call site (queries look their staged dir up via
    ``simulate.staged_rows``). None → the legacy constant cap."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if _STREAM_STATE_OVERRIDE is not None:
        target = _STREAM_STATE_OVERRIDE
    elif n_rows is None:
        target = STREAM_MAX_STATE_PARTITIONS
    else:
        target = -(-int(n_rows) // STREAM_ROWS_PER_PARTITION)
    try:
        cap = max(1, min(int(old), target))
    except (TypeError, ValueError):  # e.g. "auto" on some builds
        cap = max(1, target)
    spark.conf.set("spark.sql.shuffle.partitions", str(cap))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


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


def sliding_counts(
    stream: DataFrame, duration: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.sum("new_count").alias("total_new_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "total_new_count",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("camera_id"))
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

    with stream_state_partitions(stream.sparkSession, n_rows=state_rows):
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_to_memory(spark: SparkSession, df: DataFrame, name: str, checkpoint_dir: str, output_mode: str = "append", state_rows: int | None = None) -> DataFrame:
    """Drain a bounded stream into an in-memory table and return it.
    ``state_rows`` = the stream's total input rows (state-sizing hint,
    see stream_state_partitions)."""
    with stream_state_partitions(spark, n_rows=state_rows):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


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

    with stream_state_partitions(stream.sparkSession, n_rows=state_rows):
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return part_dir


def hll_register_windows(stream: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Per-window HLL registers over camera_id: (window_start,
    window_end, bucket, reg) — the BOUNDED-STATE streaming answer to
    distinct counting (exact distinct would hold every id seen per
    open window; registers hold 64 small ints whatever the
    cardinality). ``max`` is commutative/idempotent, so the drained
    output is chunking- and order-invariant — fully hash-checkable
    like the other event-time window queries. Same hash/rank
    construction as the batch q_hll_distinct (operators/pipeline)."""
    from ..operators.pipeline import HLL_MAX_RANK, _HLL_WMOD

    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("shll#"), F.col("camera_id"))), 1, 10),
            16,
            10,
        )
        .cast("long")
    )
    w = h % F.lit(_HLL_WMOD)
    rank = (
        F.when(w == 0, F.lit(HLL_MAX_RANK))
        .otherwise(F.lit(1) + F.bit_count(w.bitwiseAND(-w) - 1))
        .cast("int")
    )
    return (
        stream.withWatermark("ts", WATERMARK)
        .select(
            "ts",
            F.call_function("div", h, F.lit(_HLL_WMOD)).alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy(F.window("ts", duration).alias("w"), "bucket")
        .agg(F.max("rank").alias("reg"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "reg",
        )
    )
