"""Sources & sinks (SURVEY.md §2.1).

The reference's storage surface:

- S5  partitioned CSV data lake ``raw/YYYY/MM/DD/traffic_log_{cam}.csv``
  appended row-by-row with a hand-rolled header check
  (``app/services/camera.py:54-86``),
- S9  atomic JSON snapshot via tmp-file + .bak + rename
  (``app/utils.py:443-511``),
- S7/S8 whole-file JSON config/stats loads with schema drift handling
  (``app/utils.py:386-441``),
- S11/S12 JSON↔SQLite migration ETLs (``scripts/migrate_to_sqlite.py``,
  ``scripts/sync_stats_db.py``).

Engine equivalents: partitioned *parquet* with ``partitionBy(year,
month,day)`` (partition pruning replaces the directory-walk), Spark's
output-commit protocol (replaces tmp+rename), schema'd JSON readers
with explicit casts (replaces drift handling), and one-shot
read→write jobs (replace the batched ETLs).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pin_session_conf


def write_partitioned_lake(df: DataFrame, path: str, mode: str = "append") -> None:
    """S5: event-level rows → parquet partitioned by (year, month, day).

    At 100 TB this layout is what makes every date-filtered query in
    §2 a partition-pruned scan instead of a directory walk."""
    (
        df.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
        .write.mode(mode)
        .partitionBy("year", "month", "day")
        .parquet(path)
    )


def read_lake_day(spark: SparkSession, path: str, year: int, month: int, day: int) -> DataFrame:
    """S6 scan side: the partition predicate prunes to one directory —
    the engine-grade version of the reference's os.listdir loop
    (app/utils.py:329-384)."""
    pin_session_conf(spark)
    df = spark.read.parquet(path)
    return df.filter(
        (F.col("year") == year) & (F.col("month") == month) & (F.col("day") == day)
    )


def write_snapshot(df: DataFrame, path: str) -> None:
    """S9: latest-stats snapshot materialization. ``mode("overwrite")``
    rides Spark's commit protocol — readers never observe a partial
    snapshot, which is exactly what the reference's tmp+bak+rename
    dance hand-rolls (app/utils.py:493-508)."""
    df.write.mode("overwrite").parquet(path)


# -------- S7: camera-config JSON with schema-drift normalization ------

# Raw schema BEFORE normalization: lat/lng arrive as BOTH float and
# string in the reference's shipped config (data/cctv_config.json) —
# read as string, cast once, here, at the edge.
_CAMERAS_RAW = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("active", T.BooleanType()),
        T.StructField("lat", T.StringType()),
        T.StructField("lng", T.StringType()),
        T.StructField("mirror_id", T.StringType()),
    ]
)


def read_cameras_json(spark: SparkSession, path: str) -> DataFrame:
    """S7: schema'd JSON read + one-place normalization of the mixed
    lat/lng types (SURVEY.md §7 watch-list 6)."""
    pin_session_conf(spark)
    raw = spark.read.schema(_CAMERAS_RAW).json(path)
    return raw.select(
        "id",
        "name",
        "url",
        "active",
        F.col("lat").cast("double").alias("lat"),
        F.col("lng").cast("double").alias("lng"),
        "mirror_id",
    )


def read_cameras_xml(spark: SparkSession, path: str) -> DataFrame:
    """S7 twin over Spark 4's NATIVE XML datasource: the same
    camera-config payload as an XML feed (`<cameras><camera>...`), with
    the identical edge normalization — lat/lng read as string (XML
    attributes/elements are inherently text, so the mixed-type drift
    the JSON config exhibits is the XML default) and cast once here.
    Same output schema as ``read_cameras_json``, so downstream
    operators are source-agnostic."""
    pin_session_conf(spark)
    raw = (
        spark.read.format("xml")
        .option("rowTag", "camera")
        .schema(_CAMERAS_RAW)
        .load(path)
    )
    return raw.select(
        "id",
        "name",
        "url",
        "active",
        F.col("lat").cast("double").alias("lat"),
        F.col("lng").cast("double").alias("lng"),
        "mirror_id",
    )


def write_cameras_xml(df: DataFrame, path: str) -> None:
    """Config export leg of the XML twin (rootTag/rowTag mirroring the
    reader; one file — configs are driver-scale, not data-scale)."""
    df.coalesce(1).write.mode("overwrite").format("xml").option(
        "rootTag", "cameras"
    ).option("rowTag", "camera").save(path)


def migrate_json_history(spark: SparkSession, json_path: str, parquet_path: str) -> int:
    """S11: JSON history → parquet fact table in one declarative job —
    the reference streams dicts into 1000-row INSERT batches
    (scripts/migrate_to_sqlite.py:57-63); Spark's writer batches and
    parallelizes on its own. Returns rows migrated."""
    pin_session_conf(spark)
    schema = T.StructType(
        [
            T.StructField("camera_id", T.StringType()),
            T.StructField("ts", T.DoubleType()),
            T.StructField("count", T.LongType()),
            T.StructField("cars", T.LongType()),
            T.StructField("motors", T.LongType()),
            T.StructField("new_count", T.LongType()),
            T.StructField("new_cars", T.LongType()),
            T.StructField("new_motors", T.LongType()),
        ]
    )
    df = spark.read.schema(schema).json(json_path)
    out = df.select(
        "camera_id",
        F.timestamp_micros((F.col("ts") * 1_000_000).cast("long")).alias("ts"),
        F.col("count").alias("total_count"),
        F.col("cars").alias("car_count"),
        F.col("motors").alias("motorcycle_count"),
        "new_count",
        "new_cars",
        "new_motors",
    )
    out.write.mode("overwrite").parquet(parquet_path)
    return spark.read.parquet(parquet_path).count()


# -------- S5/S6 compat: the reference's CSV detection-log format ------

# The reference's data lake has TWO row encodings for the same table
# (SURVEY.md §7 watch-list 6):
#   live agent  (app/services/camera.py:73-84):
#     class_id = 0|1 int codes, confidence = "%.4f", bbox = "[x1, y1, x2, y2]"
#   backfill    (app/utils.py:319-325):
#     class_id = "car"|"motorcycle" labels, confidence = "0.50", bbox = "[0,0,0,0]"
# Normalization happens HERE, once, at the edge — downstream operators
# only ever see the canonical schema.

_DETECTIONS_CSV_RAW = T.StructType(
    [
        T.StructField("timestamp", T.DoubleType()),
        T.StructField("source_id", T.StringType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("class_id", T.StringType()),  # int code OR label
        T.StructField("confidence", T.StringType()),
        T.StructField("bbox", T.StringType()),  # "[x1, y1, x2, y2]"
    ]
)

_CLASS_LABELS = {"0": "car", "1": "motorcycle"}


def read_detections_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference's CSV detection log, normalizing both row
    encodings to one canonical schema:

    (ts timestamp, source_id, source_name, class_id int,
     class_label string, confidence double, bbox array<int>)

    The stringified bbox becomes a real array (regexp strip + split +
    transform — all JVM-side); the int-vs-label class drift collapses
    to both forms."""
    pin_session_conf(spark)
    raw = spark.read.schema(_DETECTIONS_CSV_RAW).option("header", True).csv(path)
    cls = F.lower(F.trim("class_id"))
    class_id = (
        F.when(cls == "car", F.lit(0))
        .when(cls == "motorcycle", F.lit(1))
        .otherwise(cls.cast("int"))
    )
    class_label = (
        F.when(class_id == 0, F.lit("car"))
        .when(class_id == 1, F.lit("motorcycle"))
        .otherwise(F.lit(None).cast("string"))
    )
    bbox = F.transform(
        F.split(F.regexp_replace("bbox", r"[\[\] ]", ""), ","),
        lambda x: x.cast("int"),
    )
    return raw.select(
        F.timestamp_micros((F.col("timestamp") * 1_000_000).cast("long")).alias("ts"),
        "source_id",
        "source_name",
        class_id.alias("class_id"),
        class_label.alias("class_label"),
        F.col("confidence").cast("double").alias("confidence"),
        bbox.alias("bbox"),
    )


def upsert_partitioned_lake(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str = "ts",
) -> None:
    """MERGE-style upsert onto a (year, month, day)-partitioned parquet
    lake without a table format: the engine-grade version of the
    reference's ``INSERT OR REPLACE`` stats upsert
    (``scripts/sync_stats_db.py``, ``app/utils.py:443-511``).

    1. derive the partitions the update batch touches (distinct
       (year, month, day) of the updates — a tiny aggregate),
    2. read ONLY those partitions of the existing lake (partition
       pruning; the rest of the 100 TB table is never scanned),
    3. union existing + updates, keep the newest row per key
       (row_number over ``order_col`` DESC, updates win ties),
    4. dynamic-partition-overwrite exactly the touched partitions —
       Spark's commit protocol keeps concurrent readers consistent.

    Shuffle cost ∝ touched partitions + update volume, never table
    size."""
    from pyspark.sql import Window

    pin_session_conf(spark)
    with_parts = (
        updates.withColumn("year", F.year(order_col))
        .withColumn("month", F.month(order_col))
        .withColumn("day", F.dayofmonth(order_col))
        .withColumn("_is_update", F.lit(1))
    )
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as e:
        # only a missing lake is a first write; an unreadable one (torn
        # file, bad footer) must fail, not take the unmerged append below
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        with_parts.drop("_is_update").write.mode("append").partitionBy(
            "year", "month", "day"
        ).parquet(path)
        return
    # bounded: one row per touched (year, month, day) — calendar-sized,
    # never data-sized, and the partition predicate needs it driver-side.
    touched = [
        (r.year, r.month, r.day)
        for r in with_parts.select("year", "month", "day").distinct().collect()
    ]
    part_pred = None
    for y, m, d in touched:
        p = (F.col("year") == y) & (F.col("month") == m) & (F.col("day") == d)
        part_pred = p if part_pred is None else (part_pred | p)
    old = existing.filter(part_pred).withColumn("_is_update", F.lit(0))
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), F.desc("_is_update")
    )
    merged = (
        old.unionByName(with_parts)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_is_update")
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month", "day")
        .parquet(path)
    )


def compact_lake_day(
    spark: SparkSession,
    path: str,
    year: int,
    month: int,
    day: int,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for one partition — the maintenance job
    every streaming-append lake needs (each micro-batch leaves a file;
    a 2 s trigger leaves 43k files/day/camera). Rewrites the partition
    into ceil(bytes / target_bytes) files via a single repartition and
    dynamic overwrite. Returns the new file count."""
    import math
    import os

    pin_session_conf(spark)
    part_dir = os.path.join(path, f"year={year}", f"month={month}", f"day={day}")
    size = sum(
        os.path.getsize(os.path.join(part_dir, f))
        for f in os.listdir(part_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_bytes))
    df = spark.read.parquet(path).filter(
        (F.col("year") == year) & (F.col("month") == month) & (F.col("day") == day)
    )
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month", "day")
        .parquet(path)
    )
    return len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])


def write_training_shards(
    df: DataFrame,
    path: str,
    max_records_per_shard: int = 10_000,
    partition_cols: tuple[str, ...] = (),
) -> list[tuple[str, int]]:
    """Shard a training-ready frame into size-bounded parquet files and
    return the shard manifest [(relative_path, rows)].

    The dataloader contract of a training run: no shard exceeds
    ``max_records_per_shard`` (Spark's ``maxRecordsPerFile`` rolls
    files at the bound — enforced per writer task, so it holds at any
    parallelism), shards list deterministically, and the manifest is
    derived from the written footers (row counts read back from
    parquet metadata, not trusted from the writer)."""
    import os

    import pyarrow.parquet as pq

    writer = df.write.option("maxRecordsPerFile", max_records_per_shard).mode(
        "overwrite"
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)

    manifest: list[tuple[str, int]] = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                rows = pq.read_metadata(full).num_rows
                manifest.append((os.path.relpath(full, path), rows))
    return sorted(manifest)


def write_orc_lake(df: DataFrame, path: str, mode: str = "append") -> None:
    """ORC variant of the partitioned lake sink — same (year, month,
    day) layout, for estates standardized on ORC instead of parquet
    (both are Spark built-ins with the same predicate-pushdown and
    column-pruning machinery; the engine's query surface is
    format-agnostic because every reader goes through a DataFrame)."""
    (
        df.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
        .write.mode(mode)
        .partitionBy("year", "month", "day")
        .orc(path)
    )


def read_orc_lake_day(
    spark: SparkSession, path: str, year: int, month: int, day: int
) -> DataFrame:
    """Partition-pruned ORC day read (the S6 scan shape over ORC)."""
    return (
        spark.read.orc(path)
        .filter(
            (F.col("year") == year) & (F.col("month") == month) & (F.col("day") == day)
        )
        .drop("year", "month", "day")
    )


def read_media_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw media ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content) —
    the scan-side of a crawl/camera-drop directory. The content column
    is the same opaque ``binary`` payload `functions/multimodal.py`
    decodes (JPEG/PNG/PGM/WAV/RAWV), and kind is inferred from the
    magic bytes JVM-side, so files flow straight into
    ``decode_features`` with zero driver involvement. At 100 TB the
    source parallelizes by file and supports partition-pruned layouts
    the same way the parquet lake does."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    magic = F.substring("content", 1, 8)
    kind = (
        F.when(F.substring("content", 1, 2) == F.lit(b"\xff\xd8"), "image")
        .when(magic == F.lit(b"\x89PNG\r\n\x1a\n"), "image")
        .when(F.substring("content", 1, 2) == F.lit(b"P5"), "image")
        .when(F.substring("content", 1, 4) == F.lit(b"RIFF"), "audio")
        .when(F.substring("content", 1, 4) == F.lit(b"RAWV"), "video")
        .otherwise("unknown")
    )
    return raw.select(
        F.col("path"),
        F.col("length").cast("long").alias("payload_bytes"),
        kind.alias("kind"),
        F.col("content").alias("payload"),
    )
