"""Property tests for the geospatial operators (operators/geo.py);
exactness comes from the DuckDB oracle parity gate."""

from __future__ import annotations

from big_data_traffict_prediction_spark.operators.geo import (
    K_NEIGHBORS,
    camera_geo,
    q_camera_neighbors,
    q_geo_cell_density,
)


def test_neighbors_shape_and_monotone_distance(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.geo import CELL_DEG

    rows = q_camera_neighbors(spark, sf_dir).collect()
    assert rows, "no in-radius neighbors found at all"
    by_cam: dict = {}
    for r in rows:
        assert r.neighbor_key != r.cam_key
        assert r.d2 <= CELL_DEG * CELL_DEG, "neighbor outside the radius"
        by_cam.setdefault(r.cam_key, []).append(r)
    for cam, rs in by_cam.items():
        rs.sort(key=lambda r: r.rank)
        # up to K in-radius neighbors, contiguous ranks from 1
        assert 1 <= len(rs) <= K_NEIGHBORS
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        d2s = [r.d2 for r in rs]
        assert d2s == sorted(d2s), f"d2 not ascending for {cam}"


def test_cell_density_partitions_all_cameras(spark, sf_dir):
    cams = camera_geo(spark, sf_dir).count()
    rows = q_geo_cell_density(spark, sf_dir).collect()
    assert sum(r.n_cameras for r in rows) == cams
    assert all(r.cell_volume >= 0 for r in rows)
    # cells are within the Bandung pseudo-box: lat ∈ [-7, -6.9], lng ∈ [107.55, 107.65]
    for r in rows:
        assert -701 <= r.cell_lat <= -689
        assert 10755 <= r.cell_lng <= 10766


def test_neighbors_point_collapse_matches_bruteforce(spark, sf_dir):
    """The coincident-point collapse (rank at distinct-point level,
    K+1-prefix candidate lists, re-expand) must be EXACTLY the naive
    per-camera radius top-K. Brute-force twin computed driver-side over
    the same pseudo-coordinates — covers heavy co-location, singleton
    points, isolated cameras and cross-point d2 ties at once."""
    from big_data_traffict_prediction_spark.operators.geo import CELL_DEG

    cams = camera_geo(spark, sf_dir).collect()
    r2 = CELL_DEG * CELL_DEG
    expected: dict = {}
    for a in cams:
        nbrs = []
        for b in cams:
            if b.cam_key == a.cam_key:
                continue
            d2 = (a.lat - b.lat) ** 2 + (a.lng - b.lng) ** 2
            if d2 <= r2:
                nbrs.append((d2, b.cam_key))
        nbrs.sort()
        expected[a.cam_key] = [
            (nk, d2, i + 1) for i, (d2, nk) in enumerate(nbrs[:K_NEIGHBORS])
        ]
    got: dict = {}
    for r in q_camera_neighbors(spark, sf_dir).collect():
        got.setdefault(r.cam_key, []).append((r.neighbor_key, r.d2, r.rank))
    assert got == {k: v for k, v in expected.items() if v}


def test_cc_delta_planted_transitions(spark):
    """The three incremental-CC transitions, planted: a delta camera
    BRIDGES two stored zones (their labels merge to the global min), a
    delta camera ATTACHES to one zone, and isolated delta/base cameras
    keep singleton zones."""
    from big_data_traffict_prediction_spark.operators import geo as G

    coords = {
        4: (0.000, 0.0), 5: (0.002, 0.0),       # base zone A
        8: (0.0055, 0.0), 9: (0.0075, 0.0),     # base zone B (gap 0.0035)
        13: (0.004, 0.0),                        # delta: bridges A and B
        16: (1.0, 1.0), 17: (1.002, 1.0),        # base zone C
        23: (1.0, 1.002),                        # delta: attaches to C
        33: (2.0, 2.0),                          # delta: isolated
        20: (3.0, 3.0),                          # base: isolated
    }
    df = spark.createDataFrame(
        [(k, lat, lng) for k, (lat, lng) in coords.items()],
        "cam_key long, lat double, lng double",
    )
    orig = G.camera_geo
    G.camera_geo = lambda s, d: df
    try:
        out = {r.cam_key: r for r in G.q_cc_delta(spark, "ignored").collect()}
    finally:
        G.camera_geo = orig
    assert {k: r.zone for k, r in out.items()} == {
        4: 4, 5: 4, 8: 4, 9: 4, 13: 4,  # bridged: min id across both zones
        16: 16, 17: 16, 23: 16,
        33: 33, 20: 20,
    }
    assert out[13].zone_size == 5 and out[23].zone_size == 3
    assert out[33].zone_size == 1 and out[20].zone_size == 1


def test_cc_delta_runs_cc_only_on_quotient(spark, sf_dir):
    """The round-12 incremental contract: with the stored zone table in
    place, q_cc_delta must invoke connected_components exactly ONCE —
    the delta-bounded quotient CC — and take the base labels from the
    stored table, which a repeat read serves from the memo."""
    from big_data_traffict_prediction_spark.functions import dedup as D
    from big_data_traffict_prediction_spark.operators import geo as G

    stored = G.stored_zone_labels(spark, sf_dir)  # builds at most once
    assert G.stored_zone_labels(spark, sf_dir) is stored, "memo miss"
    calls: list[int] = []
    orig = D.connected_components

    def counting(edges):
        calls.append(1)
        return orig(edges)

    D.connected_components = counting
    try:
        rows = G.q_cc_delta(spark, sf_dir).collect()
    finally:
        D.connected_components = orig
    assert len(calls) == 1, f"expected ONLY the quotient CC, saw {len(calls)}"
    assert rows and all(r.zone_size >= 1 for r in rows)
