"""Bucketed tables: pre-shuffled storage for shuffle-free re-use.

At 100 TB the dominant cost of the per-camera query family
(`q_per_camera_totals`, `q_latest_per_camera`, `q_running_totals`,
threshold/prediction aggregations, the mirror self-join) is the
exchange on ``camera_id``. Bucketing pays that shuffle ONCE at write
time: ``bucketBy(N, camera_id)`` persists hash-partitioned files plus
catalog metadata, and every later aggregation or equi-join on the
bucket key runs exchange-free — Catalyst reads the bucket spec and
drops the Exchange node (`tests/test_bucketed.py` asserts this on the
physical plan).

The reference has no analog — SQLite's composite index
(``app/database.py:33-36``) accelerates lookups but every aggregate
still scans and re-sorts; bucketing is the cluster-scale equivalent of
"the data is already grouped the way the workload groups it".

Spark bucketing requires a managed table (the bucket spec lives in the
metastore), so this module goes through ``saveAsTable`` rather than
bare parquet paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str = "camera_id",
    n_buckets: int = DEFAULT_BUCKETS,
    sort_key: str | None = "ts",
    path: str | None = None,
) -> None:
    """Persist df hash-bucketed (and optionally sorted) by key.

    ``sortBy`` within buckets additionally lets merge-style reads skip
    sorting for window functions ordered by (key, sort_key). Pass
    ``path`` to create an external table (the bucket spec still lives
    in the catalog, which is what makes later reads exchange-free)."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
    )
    if sort_key is not None:
        writer = writer.sortBy(sort_key)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def per_key_totals(spark: SparkSession, table: str, key: str = "camera_id") -> DataFrame:
    """groupBy on the bucket key — plans with NO Exchange before the
    aggregate (the bucket spec already satisfies the distribution
    requirement)."""
    return (
        spark.table(table)
        .groupBy(key)
        .agg(
            F.coalesce(F.sum("new_count"), F.lit(0)).cast("long").alias("total_new_count"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


def bucketed_self_join_latest(
    spark: SparkSession, table: str, key: str = "camera_id"
) -> DataFrame:
    """Equi-join of two reads of the bucketed table on the bucket key —
    both sides arrive pre-distributed, so the join plans without any
    Exchange (shuffle-free co-located join)."""
    totals = per_key_totals(spark, table, key)
    latest = (
        spark.table(table)
        .groupBy(key)
        .agg(F.max("ts").alias("last_update"))
    )
    return totals.join(latest, key)


def bucketed_fact_join(
    spark: SparkSession, left_table: str, left_key: str, right_table: str, right_key: str
) -> DataFrame:
    """FACT-to-FACT co-located join: two DIFFERENT tables bucketed with
    the same bucket count on their respective join keys (lineitem on
    l_orderkey, orders on o_orderkey) join with ZERO exchanges — the
    layout q_fulfillment_lag's docstring promises at 100 TB, where
    neither side can broadcast and an un-bucketed join would shuffle
    both full fact streams every run."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key])
