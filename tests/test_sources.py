"""Source/sink layer: partitioned lake round-trip with pruning proof,
snapshot overwrite semantics, camera-JSON schema normalization."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from big_data_traffict_prediction_spark.plans import explain
from big_data_traffict_prediction_spark.sources import lake
from big_data_traffict_prediction_spark.tables import traffic_history


def test_partitioned_lake_roundtrip_prunes_partitions(spark, sf_dir, tmp_path):
    path = str(tmp_path / "lake")
    h = traffic_history(spark, sf_dir).select("camera_id", "ts", "new_count")
    lake.write_partitioned_lake(h, path)

    day = h.select(
        F.year("ts").alias("y"), F.month("ts").alias("m"), F.dayofmonth("ts").alias("d")
    ).first()
    got = lake.read_lake_day(spark, path, day.y, day.m, day.d)

    expected = h.filter(F.to_date("ts") == f"{day.y:04d}-{day.m:02d}-{day.d:02d}").count()
    assert got.count() == expected

    # The date predicate must prune to one directory, not filter post-scan.
    plan = explain.formatted_plan(got)
    assert "PartitionFilters" in plan
    assert f"year#" not in explain.read_schema_columns(got), (
        "partition columns must come from directory layout, not file data"
    )


def test_snapshot_overwrite_is_latest_only(spark, sf_dir, tmp_path):
    path = str(tmp_path / "snap")
    h = traffic_history(spark, sf_dir)
    first = h.groupBy("camera_id").agg(F.sum("new_count").alias("total"))
    lake.write_snapshot(first, path)
    second = h.groupBy("camera_id").agg(F.count(F.lit(1)).alias("total"))
    lake.write_snapshot(second, path)
    back = spark.read.parquet(path)
    # overwrite replaced, not appended: one row per camera
    assert back.count() == back.select("camera_id").distinct().count()


def test_upsert_onto_unreadable_lake_raises_not_appends(spark, tmp_path):
    """A lake that exists but cannot be read is not a first write: the
    upsert must fail, never append the updates unmerged beside it."""
    import datetime

    import pytest

    path = tmp_path / "lake"
    part = path / "year=2024" / "month=1" / "day=1"
    part.mkdir(parents=True)
    (part / "part-00000-torn.parquet").write_bytes(b"not a parquet file" * 8)
    updates = spark.createDataFrame(
        [("C1", datetime.datetime(2024, 1, 1, 8), 5)],
        "camera_id string, ts timestamp, new_count long",
    )
    with pytest.raises(Exception):
        lake.upsert_partitioned_lake(spark, updates, str(path), ["camera_id", "ts"])
    assert [p.relative_to(path).as_posix() for p in path.rglob("*.parquet")] == [
        "year=2024/month=1/day=1/part-00000-torn.parquet"
    ]


def test_cameras_json_normalizes_mixed_lat_lng(spark, tmp_path):
    # the reference's shipped config mixes float and string lat/lng
    rows = [
        {"id": "a", "name": "Cam A", "url": "u", "active": True,
         "lat": -6.9667, "lng": 107.6073, "mirror_id": None},
        {"id": "b", "name": "Cam B", "url": "u", "active": False,
         "lat": "-6.954", "lng": "107.61", "mirror_id": "a"},
    ]
    p = tmp_path / "cfg.json"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    df = lake.read_cameras_json(spark, str(p))
    assert dict(df.dtypes)["lat"] == "double"
    assert dict(df.dtypes)["lng"] == "double"
    got = {r["id"]: r["lat"] for r in df.collect()}
    assert abs(got["a"] + 6.9667) < 1e-9
    assert abs(got["b"] + 6.954) < 1e-9


def test_cameras_xml_round_trip_matches_json_source(spark, tmp_path):
    """S7 XML twin (Spark 4 native XML datasource): a hand-written XML
    config parses with the same normalization as the JSON source, and
    the write→read round trip is lossless — downstream operators are
    source-agnostic."""
    xml = """<?xml version="1.0"?>
<cameras>
  <camera><id>a</id><name>Cam A</name><url>u</url><active>true</active>
    <lat>-6.9667</lat><lng>107.6073</lng></camera>
  <camera><id>b</id><name>Cam B</name><url>u</url><active>false</active>
    <lat>-6.954</lat><lng>107.61</lng><mirror_id>a</mirror_id></camera>
</cameras>"""
    p = tmp_path / "cfg.xml"
    p.write_text(xml)
    df = lake.read_cameras_xml(spark, str(p))
    assert dict(df.dtypes)["lat"] == "double"
    got = {r["id"]: (r["lat"], r["active"], r["mirror_id"]) for r in df.collect()}
    assert abs(got["a"][0] + 6.9667) < 1e-9 and got["a"][1] is True
    assert got["b"] == (-6.954, False, "a")

    out = str(tmp_path / "export")
    lake.write_cameras_xml(df, out)
    back = lake.read_cameras_xml(spark, out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}

    # parity with the JSON source on identical content
    rows = [
        {"id": "a", "name": "Cam A", "url": "u", "active": True,
         "lat": -6.9667, "lng": 107.6073, "mirror_id": None},
        {"id": "b", "name": "Cam B", "url": "u", "active": False,
         "lat": "-6.954", "lng": "107.61", "mirror_id": "a"},
    ]
    j = tmp_path / "cfg.json"
    j.write_text("\n".join(json.dumps(r) for r in rows))
    jdf = lake.read_cameras_json(spark, str(j))
    assert {tuple(r) for r in jdf.collect()} == {tuple(r) for r in df.collect()}


def test_migrate_json_history(spark, tmp_path):
    rows = [
        {"camera_id": "1", "ts": 1706659200.5, "count": 5, "cars": 3,
         "motors": 2, "new_count": 4, "new_cars": 2, "new_motors": 2},
        {"camera_id": "2", "ts": 1706659260.0, "count": 1, "cars": 1,
         "motors": 0, "new_count": 1, "new_cars": 1, "new_motors": 0},
    ]
    src = tmp_path / "hist.json"
    src.write_text("\n".join(json.dumps(r) for r in rows))
    out = str(tmp_path / "fact")
    n = lake.migrate_json_history(spark, str(src), out)
    assert n == 2
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["ts"] == "timestamp"
    assert {r["camera_id"] for r in back.collect()} == {"1", "2"}


def test_detections_csv_normalizes_both_encodings(spark, tmp_path):
    # live-agent encoding (int codes, real bbox) + backfill encoding
    # (string labels, constant confidence/bbox) in one file
    p = tmp_path / "traffic_log_cam1.csv"
    p.write_text(
        "timestamp,source_id,source_name,class_id,confidence,bbox\n"
        '1706659200.5,u1,Cam One,0,0.8731,"[10, 20, 110, 220]"\n'
        '1706659202.5,u1,Cam One,1,0.6402,"[30, 40, 90, 100]"\n'
        '1706659260.0,u1,Cam One,car,0.50,"[0,0,0,0]"\n'
        '1706659262.0,u1,Cam One,motorcycle,0.50,"[0,0,0,0]"\n'
    )
    df = lake.read_detections_csv(spark, str(p))
    rows = df.orderBy("ts").collect()
    assert [r.class_id for r in rows] == [0, 1, 0, 1]
    assert [r.class_label for r in rows] == ["car", "motorcycle", "car", "motorcycle"]
    assert rows[0].bbox == [10, 20, 110, 220]
    assert rows[2].bbox == [0, 0, 0, 0]
    assert abs(rows[0].confidence - 0.8731) < 1e-9
    assert rows[0].ts.isoformat().startswith("2024-01-31T00:00:00.500")
    # downstream agg over the normalized frame: count per name × label
    agg = (
        df.groupBy("source_name")
        .pivot("class_label", ["car", "motorcycle"])
        .count()
        .first()
    )
    assert (agg["car"], agg["motorcycle"]) == (2, 2)


def test_orc_lake_round_trip_prunes_partitions(spark, sf_dir, tmp_path):
    """S5/S6 over ORC: same partition layout, same pruned scan — the
    lake is format-agnostic."""
    from big_data_traffict_prediction_spark.plans import explain
    from big_data_traffict_prediction_spark.sources.lake import (
        read_orc_lake_day,
        write_orc_lake,
    )
    from big_data_traffict_prediction_spark.tables import traffic_history

    h = traffic_history(spark, sf_dir).select("id", "camera_id", "ts", "new_count")
    path = str(tmp_path / "orc_lake")
    write_orc_lake(h, path, mode="overwrite")

    day = h.selectExpr("min(ts) AS m").collect()[0].m
    back = read_orc_lake_day(spark, path, day.year, day.month, day.day)
    expected = h.filter(
        (F.year("ts") == day.year)
        & (F.month("ts") == day.month)
        & (F.dayofmonth("ts") == day.day)
    )
    assert back.count() == expected.count() > 0
    assert sorted(back.columns) == sorted(expected.columns)
    plan = explain.formatted_plan(back)
    assert "PartitionFilters" in plan and "year" in plan, "day read must partition-prune"


def test_binaryfile_media_ingest_to_features(spark, tmp_path):
    """Crawl-directory ingestion: real JPEG/PNG/PGM/WAV files on disk →
    binaryFile source → magic-sniffed kind → decode_features, end to
    end with zero driver-side payload handling."""
    import numpy as np

    from big_data_traffict_prediction_spark.functions import jpeg, png
    from big_data_traffict_prediction_spark.functions.multimodal import (
        _encode_pgm,
        _encode_wav,
        decode_features,
    )
    from big_data_traffict_prediction_spark.sources.lake import read_media_files
    from pyspark.sql import functions as F

    d = tmp_path / "mediadrop"
    d.mkdir()
    img = ((np.arange(24 * 16) * 7) % 256).astype(np.uint8).reshape(24, 16)
    (d / "a.jpg").write_bytes(jpeg.encode_gray(img, 85))
    (d / "b.png").write_bytes(png.encode_gray(img))
    (d / "c.pgm").write_bytes(_encode_pgm(img.tobytes(), 16, 24))
    (d / "d.wav").write_bytes(_encode_wav(bytes(range(200))))
    (d / "junk.bin").write_bytes(b"\x00\x01\x02")

    m = read_media_files(spark, str(d))
    kinds = {r.path.rsplit("/", 1)[-1]: r.kind for r in m.collect()}
    assert kinds == {
        "a.jpg": "image",
        "b.png": "image",
        "c.pgm": "image",
        "d.wav": "audio",
        "junk.bin": "unknown",
    }

    feats = decode_features(
        m.filter(F.col("kind") != "unknown").select(
            F.monotonically_increasing_id().alias("media_id"), "kind", "payload"
        )
    )
    rows = {r.kind: r for r in feats.collect() if r.kind == "audio"}
    img_rows = [r for r in feats.collect() if r.kind == "image"]
    assert len(img_rows) == 3 and all(r.decoded_ok for r in img_rows)
    assert all((r.width, r.height) == (16, 24) for r in img_rows)
    # png/pgm are lossless → identical mean; jpeg within lossy bound
    means = sorted(r.level_mean for r in img_rows)
    assert abs(means[-1] - means[0]) < 8.0
    assert rows["audio"].decoded_ok


def test_media_drop_with_corrupt_files_survives_in_mark_mode(spark, tmp_path):
    """Crawl-scale ingestion contract end to end: a drop directory with
    truncated / codec-gated files flows binaryFile → decode_features
    (on_error='mark') without failing the job; good files decode, bad
    ones surface as decoded_ok=False rows. Includes a COLOR jpeg so
    the 3-component path is exercised from real files on disk."""
    import numpy as np

    from big_data_traffict_prediction_spark.functions import jpeg
    from big_data_traffict_prediction_spark.functions.multimodal import (
        decode_features,
    )
    from big_data_traffict_prediction_spark.sources.lake import read_media_files
    from pyspark.sql import functions as F

    d = tmp_path / "crawl"
    d.mkdir()
    img = ((np.arange(24 * 16) * 7) % 256).astype(np.uint8).reshape(24, 16)
    rgb = np.stack([img, img[::-1], img], axis=-1).astype(np.uint8)
    good_gray = jpeg.encode_gray(img, 85)
    (d / "ok_gray.jpg").write_bytes(good_gray)
    (d / "ok_color.jpg").write_bytes(jpeg.encode_color(rgb, 85))
    (d / "trunc.jpg").write_bytes(good_gray[: len(good_gray) // 2])
    # progressive marker: decodes nowhere here — the gated-format case
    (d / "progressive.jpg").write_bytes(
        good_gray.replace(b"\xff\xc0", b"\xff\xc2")
    )

    out = decode_features(
        read_media_files(spark, str(d)).select(
            F.monotonically_increasing_id().alias("media_id"), "kind", "payload"
        ),
        on_error="mark",
    ).collect()
    ok = [r for r in out if r.decoded_ok]
    bad = [r for r in out if not r.decoded_ok]
    assert len(ok) == 2 and len(bad) == 2, out
    assert all((r.width, r.height) == (16, 24) for r in ok)
    assert all(r.level_mean is None and r.feature is None for r in bad)
    assert all(r.payload_bytes > 0 for r in bad)  # metadata still flows
