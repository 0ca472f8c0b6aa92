"""Simulated detection stream (SURVEY.md §7 phase 3).

The reference's source is 37 camera threads each sampling every 2 s
(``app/services/camera.py:136-346``). The engine-side equivalent is any
Structured Streaming source; for tests we re-chunk the deterministic
``events`` parquet into N files and stream them with
``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow`` — bounded,
reproducible micro-batches that drain to completion synchronously.
In production the same query reads Kafka/file drops; only
``readStream`` options change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import traffic_history

# traffic_history shape + synthetic bbox (see detections_frame)
STREAM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("camera_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("new_count", T.LongType()),
        T.StructField("new_cars", T.LongType()),
        T.StructField("new_motors", T.LongType()),
        T.StructField("x1", T.LongType()),
        T.StructField("y1", T.LongType()),
        T.StructField("x2", T.LongType()),
        T.StructField("y2", T.LongType()),
    ]
)


def detections_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream: traffic_history + synthetic bboxes.
    The one Spark definition of the boxes; q_iou_dedup reads them from
    here and its oracle from operators/iou._BBOX_SQL."""
    h = traffic_history(spark, sf_dir)
    x1 = F.col("new_count") % 80
    y1 = F.get_json_object("props", "$.k").cast("long") % 80
    return h.select(
        "id",
        "camera_id",
        "ts",
        "new_count",
        "new_cars",
        "new_motors",
        x1.alias("x1"),
        y1.alias("y1"),
        (x1 + 15 + F.col("id") % 10).alias("x2"),
        (y1 + 15 + F.col("id") % 7).alias("y2"),
    )


# Staged row counts, keyed by absolute stage dir — the state-sizing
# input for windows.stream_state_partitions: the number of input rows
# upper-bounds the distinct state keys a bounded drain can create, so
# the drain's state-store partition count can be derived from it
# instead of a constant (guide §2.2: partition count sized to data,
# never a core-count or fixed default). Drain call sites look their
# stage dir up EXPLICITLY via ``staged_rows`` and pass the count to
# the drain — no ambient "most recent read" coupling; an unstaged dir
# (None) falls back to the legacy constant.
_STAGED_ROWS: dict[str, int] = {}


def staged_rows(stage_dir: str) -> int | None:
    """Row count staged into ``stage_dir`` by ``stage_stream_dir`` in
    this process, or None if it was never staged here."""
    return _STAGED_ROWS.get(os.path.abspath(stage_dir))


def stage_stream_dir(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_chunks: int = 5
) -> str:
    """Materialize the detection frame as n time-ordered parquet chunks
    under stage_dir (a scratch directory) for file-stream replay.

    Chunks are cut engine-side: a global (ts, id) row_number assigns
    each row its chunk (the unpartitioned window is fine here — this is
    a TEST-scale staging helper, not a registered operator), and each
    chunk writes as one file in chunk order (the file stream source
    replays files oldest-modification-first, so sequential writes
    preserve event-time order). No driver round-trip — the old
    toPandas staging serialized the whole fact slice through the
    driver twice."""
    from pyspark.sql import Window

    df = detections_frame(spark, sf_dir)
    total = df.count()
    rows_per_chunk = max(1, (total + n_chunks - 1) // n_chunks)
    rn = F.row_number().over(Window.orderBy("ts", "id")) - 1
    indexed = df.withColumn(
        "chunk", (rn / rows_per_chunk).cast("int")
    ).localCheckpoint(eager=True)  # one sort, n filtered writes
    os.makedirs(stage_dir, exist_ok=True)
    n = (total + rows_per_chunk - 1) // rows_per_chunk
    for i in range(n):
        (
            indexed.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(stage_dir, f"chunk_{i:04d}"))
        )
    _STAGED_ROWS[os.path.abspath(stage_dir)] = total
    return stage_dir


def read_stream(spark: SparkSession, stage_dir: str) -> DataFrame:
    """One micro-batch per staged chunk (maxFilesPerTrigger=1 counts
    files; each chunk dir holds one part-file)."""
    return (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
