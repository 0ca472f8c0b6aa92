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
output-commit protocol, schema'd JSON readers with explicit casts
(replaces drift handling), and one-shot read→write jobs (replace the
batched ETLs).

The commit protocol does NOT replace the reference's tmp+rename swap.
It keeps a failed task's files out of the output, but every overwrite
here deletes the old files before the new ones are in place, so a
concurrent reader can see a missing or half-replaced file set: a
reader thread looping ``read.parquet(lake).count()`` beside 6 upserts
at sf0.01 saw 4-6 of ~45 reads fail with ``FILE_NOT_EXIST``. Nothing
may read a path while it is being written.

``year``/``month``/``day`` come from the session time zone, which
``tables.load_table`` pins to UTC on the session that read the rows.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_partitioned_lake(df: DataFrame, path: str) -> None:
    """S5: event-level rows → parquet partitioned by (year, month, day).

    At 100 TB this layout is what makes every date-filtered query in
    §2 a partition-pruned scan instead of a directory walk."""
    (
        df.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
        .write.mode("append")
        .partitionBy("year", "month", "day")
        .parquet(path)
    )


def read_lake_day(spark: SparkSession, path: str, year: int, month: int, day: int) -> DataFrame:
    """S6 scan side: the partition predicate prunes to one directory —
    the engine-grade version of the reference's os.listdir loop
    (app/utils.py:329-384)."""
    return spark.read.parquet(path).filter(
        (F.col("year") == year) & (F.col("month") == month) & (F.col("day") == day)
    )


def write_snapshot(df: DataFrame, path: str) -> None:
    """S9: latest-stats snapshot materialization. ``mode("overwrite")``
    deletes the old snapshot before the job writes the new one: a
    reader in between finds no snapshot or a partial one, and a failed
    write leaves none. The reference's tmp+bak+rename
    (app/utils.py:493-508) swaps atomically; this does not."""
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


def migrate_json_history(spark: SparkSession, json_path: str, parquet_path: str) -> int:
    """S11: JSON history → parquet fact table in one declarative job —
    the reference streams dicts into 1000-row INSERT batches
    (scripts/migrate_to_sqlite.py:57-63); Spark's writer batches and
    parallelizes on its own. Returns rows migrated."""
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


def read_detections_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference's CSV detection log, normalizing both row
    encodings to one canonical schema:

    (ts timestamp, source_id, source_name, class_id int,
     class_label string, confidence double, bbox array<int>)

    The stringified bbox becomes a real array (regexp strip + split +
    transform — all JVM-side); the int-vs-label class drift collapses
    to both forms."""
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
       (row_number over ``ts`` DESC, updates win ties),
    4. dynamic-partition-overwrite exactly the touched partitions. The
       commit deletes each touched day directory, then renames the
       staged one into its place, so a concurrent reader of that day
       can fail (module docstring).

    Shuffle cost ∝ touched partitions + update volume, never table
    size."""
    from pyspark.sql import Window

    with_parts = (
        updates.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
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
        F.desc("ts"), F.desc("_is_update")
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


COMPACT_TARGET_BYTES = 128 * 1024 * 1024  # compacted file size


def compact_lake_day(spark: SparkSession, path: str, year: int, month: int, day: int) -> int:
    """Small-file compaction for one partition — the maintenance job
    every streaming-append lake needs (each micro-batch leaves a file;
    a 2 s trigger leaves 43k files/day/camera). Rewrites the partition
    into ceil(bytes / COMPACT_TARGET_BYTES) files via a single
    repartition and dynamic overwrite. Returns the new file count."""
    import math
    import os

    part_dir = os.path.join(path, f"year={year}", f"month={month}", f"day={day}")
    size = sum(
        os.path.getsize(os.path.join(part_dir, f))
        for f in os.listdir(part_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / COMPACT_TARGET_BYTES))
    (
        read_lake_day(spark, path, year, month, day)
        .repartition(n_files)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month", "day")
        .parquet(path)
    )
    return len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
