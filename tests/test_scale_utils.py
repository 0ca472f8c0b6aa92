"""Scale-infrastructure utilities: MERGE-style upsert and small-file
compaction, the maintenance ops a 100 TB lake needs around the query
surface."""

from __future__ import annotations

import datetime as dt
import glob

from big_data_traffict_prediction_spark.sources import lake


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "camera_id string, ts timestamp, new_count long"
    )


def test_upsert_partitioned_lake_replaces_by_key(spark, tmp_path):
    path = str(tmp_path / "lake")
    t = lambda d, h: dt.datetime(2024, 1, d, h)  # noqa: E731
    base = _mk(
        spark,
        [
            ("A", t(1, 10), 5),
            ("B", t(1, 11), 7),
            ("A", t(2, 9), 3),
        ],
    )
    lake.upsert_partitioned_lake(spark, base, path, key_cols=["camera_id", "ts"])

    # update one existing key (same camera_id+ts, newer payload wins via
    # update-precedence) and insert a new key in a touched partition
    updates = _mk(spark, [("A", t(1, 10), 50), ("C", t(1, 12), 9)])
    lake.upsert_partitioned_lake(spark, updates, path, key_cols=["camera_id", "ts"])

    got = {
        (r.camera_id, r.ts, r.new_count)
        for r in spark.read.parquet(path).select("camera_id", "ts", "new_count").collect()
    }
    assert got == {
        ("A", t(1, 10), 50),  # replaced
        ("B", t(1, 11), 7),  # untouched same partition
        ("A", t(2, 9), 3),  # untouched other partition
        ("C", t(1, 12), 9),  # inserted
    }


def test_compact_lake_day_shrinks_file_count(spark, tmp_path):
    path = str(tmp_path / "lake")
    t = dt.datetime(2024, 2, 1, 12)
    # simulate streaming appends: many tiny files in one partition
    for i in range(12):
        lake.write_partitioned_lake(
            _mk(spark, [("A", t, i)]).repartition(1), path
        )
    part_glob = f"{path}/year=2024/month=2/day=1/*.parquet"
    assert len(glob.glob(part_glob)) >= 12
    before = spark.read.parquet(path).count()

    n_files = lake.compact_lake_day(spark, path, 2024, 2, 1)
    assert n_files == 1, f"expected 1 compacted file, got {n_files}"
    assert len(glob.glob(part_glob)) == 1
    assert spark.read.parquet(path).count() == before
