"""Table loading + the reference-shaped views over the driver testdata.

The driver's correctness gate runs each ``queries()[k]`` on Spark and
the matching ``oracle_sql()[k]`` on DuckDB against the *same* parquet
tables (TESTDATA.md). The reference's domain tables are therefore
expressed as deterministic views over testdata:

``traffic_history`` ← ``events``
    camera_id = CAST(user_id AS STRING)          (one "camera" per user)
    new_count = CAST(FLOOR(value) AS BIGINT)     (flux per observation)
    class     = car when event_type ∈ {click, view} else motorcycle
                (binary class remap, reference app/config.py:28-37)

The SQL twin of every view lives right next to it (``*_SQL``) so the
Spark plan and the DuckDB oracle can never drift apart silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from .schemas import TABLE_NAMES, TESTDATA_SCHEMAS
from .session import pin_session_conf

CAR_EVENT_TYPES = ("click", "view")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-normalizing parquet read.

    The testdata writes TIMESTAMP(NANOS) parquet, which Spark's vectorized
    reader rejects; we read nanos as long (`nanosAsLong`) and truncate to
    microsecond timestamps — the exact semantics DuckDB applies, so the
    oracle comparison sees identical instants.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    pin_session_conf(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in TESTDATA_SCHEMAS[name].fields:
        if not isinstance(field.dataType, T.TimestampType):
            continue
        actual = df.schema[field.name].dataType
        if isinstance(actual, T.LongType):
            # integer `div`, not `/1000`: a double can't hold int64 nanos
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif isinstance(actual, T.TimestampNTZType):
            # parquet timestamp[us] with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ under Spark 4's NTZ inference; the session tz
            # is pinned UTC (session.py), so this cast is instant-exact
            # and matches DuckDB's naive reading of the same file.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def traffic_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → the reference's traffic_history shape (SURVEY.md §1.2)."""
    e = load_table(spark, sf_dir, "events")
    nc = F.floor("value").cast("long")
    is_car = F.col("event_type").isin(*CAR_EVENT_TYPES)
    return e.select(
        F.col("event_id").alias("id"),
        F.col("user_id").cast("string").alias("camera_id"),
        F.col("ts"),
        nc.alias("new_count"),
        F.when(is_car, nc).otherwise(F.lit(0)).cast("long").alias("new_cars"),
        F.when(is_car, F.lit(0)).otherwise(nc).cast("long").alias("new_motors"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )


# DuckDB twin of traffic_history(); prepend to oracle SQL via with_traffic().
TRAFFIC_CTE = """
traffic AS (
  SELECT
    event_id AS id,
    CAST(user_id AS VARCHAR) AS camera_id,
    ts,
    CAST(FLOOR(value) AS BIGINT) AS new_count,
    CASE WHEN event_type IN ('click','view')
         THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END AS new_cars,
    CASE WHEN event_type IN ('click','view')
         THEN 0 ELSE CAST(FLOOR(value) AS BIGINT) END AS new_motors,
    event_type,
    value,
    props
  FROM events
)
""".strip()


def with_traffic(body: str, extra_ctes: str = "") -> str:
    """Wrap an oracle query body with the shared traffic CTE."""
    ctes = TRAFFIC_CTE + ("," + extra_ctes if extra_ctes else "")
    return f"WITH {ctes}\n{body}"
