"""Semantics edge tests (SURVEY.md §5 layer 3): the cross-engine shims
with hand-computable expectations — each of these is a silent-wrongness
bug class if the shim drifts.

- dow0: SQLite %w is 0=Sunday, Spark dayofweek is 1=Sunday
- truncation: the reference uses int() (toward zero), never round
- bucket arithmetic: int(ts // interval) * interval
- empty history → 0, not null (reference app/database.py:138)
- unbounded time ranges: None skips the predicate
- UTC day boundary: a 23:59:59.5 event stays on its UTC date
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from big_data_traffict_prediction_spark import compat


def _one_ts(spark, iso: str):
    return spark.createDataFrame(
        [Row(ts=dt.datetime.fromisoformat(iso))]
    )


def test_dow0_sunday_is_zero_thursday_is_four(spark):
    # 2024-01-07 is a Sunday, 2024-01-04 a Thursday
    sun = _one_ts(spark, "2024-01-07T12:00:00").select(compat.dow0("ts").alias("d")).first().d
    thu = _one_ts(spark, "2024-01-04T12:00:00").select(compat.dow0("ts").alias("d")).first().d
    assert (sun, thu) == (0, 4), "SQLite %w semantics: 0=Sunday"


def test_bucket_epoch_floors_to_interval(spark):
    # 2024-01-01T00:59:59 in a 3600s bucket → 2024-01-01T00:00:00
    df = _one_ts(spark, "2024-01-01T00:59:59")
    got = df.select(compat.bucket_epoch("ts", 3600).alias("b")).first().b
    assert got == int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def test_empty_history_aggregates_to_zero_not_null(spark):
    from big_data_traffict_prediction_spark.operators.aggregates import _sum_aggs

    empty = spark.createDataFrame(
        [], "camera_id string, new_count long, new_cars long, new_motors long"
    )
    row = empty.agg(*_sum_aggs()).first()
    assert (row.total_new_count, row.total_new_cars, row.total_new_motors) == (0, 0, 0)
    assert row.n_samples == 0


def test_scan_none_bounds_are_unbounded(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import camera_history

    all_rows = camera_history(spark, sf_dir, camera_id="1").count()
    lo_only = camera_history(
        spark, sf_dir, camera_id="1", start_ts="2024-01-10 00:00:00"
    ).count()
    both_none = camera_history(
        spark, sf_dir, camera_id="1", start_ts=None, end_ts=None
    ).count()
    assert both_none == all_rows
    assert 0 < lo_only < all_rows


def test_utc_day_boundary_grouping(spark):
    # 1 event at 23:59:59.5 and 1 at 00:00:00.5 next day: distinct dates
    df = spark.createDataFrame(
        [
            Row(ts=dt.datetime(2024, 1, 15, 23, 59, 59, 500000)),
            Row(ts=dt.datetime(2024, 1, 16, 0, 0, 0, 500000)),
        ]
    )
    days = [str(r.d) for r in df.select(F.to_date("ts").alias("d")).distinct().collect()]
    assert sorted(days) == ["2024-01-15", "2024-01-16"]


def test_iou_matches_hand_computation(spark):
    # boxes [0,0,10,10] vs [5,5,15,15]: inter=25, union=175, iou=1/7
    df = spark.createDataFrame([Row(x1=0, y1=0, x2=10, y2=10, a1=5, b1=5, a2=15, b2=15)])
    got = df.select(
        compat.iou(
            (F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")),
            (F.col("a1"), F.col("b1"), F.col("a2"), F.col("b2")),
        ).alias("iou")
    ).first().iou
    assert abs(got - 25 / 175) < 1e-12

    # disjoint boxes → 0
    df2 = spark.createDataFrame([Row(x1=0, y1=0, x2=2, y2=2, a1=5, b1=5, a2=7, b2=7)])
    got2 = df2.select(
        compat.iou(
            (F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")),
            (F.col("a1"), F.col("b1"), F.col("a2"), F.col("b2")),
        ).alias("iou")
    ).first().iou
    assert got2 == 0.0


def test_let_prevents_duplicate_evaluation_semantics(spark):
    # let(x, f) must equal f(x) — binding is semantics-preserving
    df = spark.createDataFrame([Row(v=[1, 2, 3])])
    direct = df.select(
        (F.array_max("v") + F.array_max("v")).alias("r")
    ).first().r
    bound = df.select(
        compat.let(F.array_max("v"), lambda m: m + m).alias("r")
    ).first().r
    assert direct == bound == 6


def test_global_prefix_min_matches_single_window(spark):
    """compat.global_prefix_min (distributed exclusive prefix-min) must
    equal the naive single-window form, including NULL for the global
    first row and tie handling under a deterministic total order."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7)
    rows = [Row(k=i, v=rng.randint(0, 50)) for i in range(500)]
    df = spark.createDataFrame(rows).repartition(8)
    got = {
        r.k: r._pre
        for r in compat.global_prefix_min(df, [F.desc("k")], "v")
        .select("k", "_pre")
        .collect()
    }
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r.k: r.pre
        for r in df.select("k", F.min("v").over(w).alias("pre")).collect()
    }
    assert got == want
    assert want[499] is None  # global first row has no prefix
