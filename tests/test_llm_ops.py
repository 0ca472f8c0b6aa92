"""Behavioral tests for the Spark-only (non-oracle) LLM-data ops:
IVF recall vs brute force, MLlib LSH vs hand-rolled LSH, multimodal
decode plumbing, ML forecast sanity."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_ann_bruteforce,
        q_ann_ivf,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_bruteforce(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in q_ann_ivf(spark, sf_dir).collect()
    }
    assert exact, "bruteforce returned nothing"
    recall = len(exact & approx) / len(exact)
    # 2-of-8 probes on unclustered synthetic data: recall well above random
    assert recall >= 0.3, f"IVF recall too low: {recall:.2f}"


def test_mllib_lsh_finds_planted_pairs(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.dedup import (
        q_dedup_ngram_jaccard,
    )
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_dedup_minhash_mllib,
    )

    exact_pairs = {(r.d1, r.d2) for r in q_dedup_ngram_jaccard(spark, sf_dir).collect()}
    lsh_pairs = {(r.d1, r.d2) for r in q_dedup_minhash_mllib(spark, sf_dir).collect()}
    assert exact_pairs, "no planted near-dup pairs found by exact jaccard"
    recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"MLlib LSH recall {recall:.2f} over {len(exact_pairs)} pairs"


def test_handrolled_lsh_matches_exact_jaccard(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.dedup import (
        JACCARD_THRESHOLD,
        q_dedup_minhash_lsh,
        q_dedup_ngram_jaccard,
    )

    exact_pairs = {(r.d1, r.d2) for r in q_dedup_ngram_jaccard(spark, sf_dir).collect()}
    lsh_dups = {
        (r.d1, r.d2)
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
        if r.is_duplicate and r.jaccard >= JACCARD_THRESHOLD
    }
    # every LSH-confirmed duplicate must be a true near-dup pair
    assert lsh_dups <= exact_pairs
    recall = len(lsh_dups) / len(exact_pairs)
    assert recall >= 0.9, f"hand-rolled LSH recall {recall:.2f}"


def test_multimodal_decode_values(spark, sf_dir):
    """Real encode→decode round trip: the decoded dimensions, sample
    counts, and pixel statistics must match a numpy re-derivation from
    the raw source bytes."""
    import numpy as np

    from big_data_traffict_prediction_spark.functions.multimodal import (
        THUMB,
        media_table,
        q_multimodal_features,
    )

    rows = q_multimodal_features(spark, sf_dir).limit(60).collect()
    assert rows
    ids = [r.media_id for r in rows]  # bounded: 60 sampled media
    meta = {
        r.media_id: (bytes(r.payload), r.kind, r.width, r.height)
        for r in media_table(spark, sf_dir)
        .filter(F.col("media_id").isin(ids))
        .collect()
    }
    checked = 0
    for r in rows:
        if r.media_id not in meta:
            continue
        raw, kind, w, h = meta[r.media_id]
        assert r.decoded_ok, f"media {r.media_id} failed decode"
        # registered surface serializes the vector to a JSON string
        assert isinstance(r.feature, str)
        assert len(json.loads(r.feature)) == THUMB * THUMB
        tiled = lambda n: np.resize(np.frombuffer(raw, dtype=np.uint8), n)  # noqa: E731
        if kind == "image":
            assert (r.width, r.height) == (w, h)
            assert r.n_samples == w * h
            # mixed cycle: pgm / jpeg / png / jpeg_color / png_palette
            #              / jpeg_progressive
            leg = (r.media_id // 3) % 6
            if leg == 3:
                # color jpeg: payload tiles all 3 RGB channels; decode
                # returns the Y plane → compare against Rec.601 luma
                rgbt = tiled(w * h * 3).reshape(h, w, 3).astype(float)
                exact_mean = (
                    0.299 * rgbt[..., 0] + 0.587 * rgbt[..., 1] + 0.114 * rgbt[..., 2]
                ).mean()
                assert abs(r.level_mean - exact_mean) < 8.0  # lossy
            else:
                exact_mean = tiled(w * h).astype(float).mean()
                if leg in (1, 5):  # grayscale jpeg (baseline/progressive): lossy
                    assert abs(r.level_mean - exact_mean) < 8.0
                else:  # pgm / png / palette-png legs are lossless
                    assert abs(r.level_mean - exact_mean) < 1e-9
        elif kind == "audio":
            assert r.n_samples == len(raw)
            expect = (tiled(len(raw)).astype(np.int16) - 128) * 256
            assert abs(r.level_mean - expect.astype(float).mean()) < 1e-9
        else:
            assert r.n_frames == len(raw) // 64 + 1
            assert r.n_samples == w * h * r.n_frames
        checked += 1
    assert checked >= 10


def test_multimodal_frame_sample_shape(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.multimodal import (
        q_multimodal_frame_sample,
    )

    df = q_multimodal_frame_sample(spark, sf_dir)
    rows = df.collect()
    assert rows
    by_media: dict[int, list[int]] = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r.frame_no)
    for frames in by_media.values():
        assert frames == sorted(frames)
        assert all(f % 8 == 0 for f in frames)


def test_ml_forecast_tracks_replay_baseline(spark, sf_dir):
    from big_data_traffict_prediction_spark.ml.forecast import q_ml_forecast

    df = q_ml_forecast(spark, sf_dir)
    pdf = df.toPandas()
    assert len(pdf) > 0
    # the testdata's event volumes are uniform noise (no real dow/hour
    # structure), so correlation with noisy per-slot means is not a
    # meaningful bar; ridge LR guarantees mean-preservation and bounded
    # predictions, which is what we pin
    assert pdf["predicted_volume"].notna().all()
    actual_mean = pdf["avg_hourly_volume"].mean()
    pred_mean = pdf["predicted_volume"].mean()
    assert abs(pred_mean - actual_mean) < 0.15 * actual_mean
    assert pdf["predicted_volume"].max() <= pdf["avg_hourly_volume"].max() * 2


def test_ml_forecast_eval_beats_replay_baseline(spark, sf_dir):
    """Chronological-split evaluation: the CrossValidator-selected
    ridge model must not LOSE to the pattern-replay baseline on the
    held-out tail (the additive model smooths the per-slot noise the
    replay memorizes, so it generalizes at least as well)."""
    from big_data_traffict_prediction_spark.ml.forecast import (
        CV_REG_GRID,
        q_ml_forecast_eval,
    )

    row = q_ml_forecast_eval(spark, sf_dir).collect()[0]
    assert row.n_train > 0 and row.n_test > 0
    assert row.rmse_model > 0 and row.rmse_baseline > 0
    assert row.best_reg_param in CV_REG_GRID
    assert row.rmse_model <= row.rmse_baseline * 1.05, (
        f"model RMSE {row.rmse_model} lost to replay {row.rmse_baseline}"
    )


def test_rollup_invariant(spark, sf_dir):
    """Per-camera totals sum exactly to the global total — the
    invariant the reference needs scripts/sync_stats_db.py to repair."""
    from big_data_traffict_prediction_spark.operators.aggregates import (
        q_lifetime_totals,
        q_per_camera_totals,
    )

    global_row = q_lifetime_totals(spark, sf_dir).collect()[0]
    per_cam = q_per_camera_totals(spark, sf_dir).agg(
        F.sum("total_new_count").alias("s")
    ).collect()[0]
    assert global_row.total_new_count == per_cam.s


def test_prefix_filter_jaccard_equals_naive_all_pairs(spark, sf_dir):
    """Prefix filtering is an EXACT optimization: the PPJoin-style
    candidate pruning in threshold_jaccard_pairs must produce the
    identical pair set (and identical jaccard values) as the naive
    all-pairs shingle equi-join it replaced."""
    from big_data_traffict_prediction_spark.functions.dedup import (
        JACCARD_THRESHOLD,
        _pair_jaccard,
        shingles,
        threshold_jaccard_pairs,
    )

    naive = {
        (r.d1, r.d2): (r.n_common, r.n1, r.n2, round(r.jaccard, 6))
        for r in _pair_jaccard(shingles(spark, sf_dir))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .collect()
    }
    fast = {
        (r.d1, r.d2): (r.n_common, r.n1, r.n2, round(r.jaccard, 6))
        for r in threshold_jaccard_pairs(spark, sf_dir).collect()
    }
    assert naive, "no near-dup pairs in testdata"
    assert fast == naive


def test_phash_dedup_recovers_planted_replicas(spark, sf_dir):
    """Every planted byte-identical replica must pair with its source
    under the dHash bucket expand — and nothing else should pair (the
    synthetic corpus has no organic payload duplicates)."""
    from big_data_traffict_prediction_spark.functions.multimodal import (
        PHASH_REPLICA_EVERY,
        PHASH_REPLICA_OFFSET,
        q_multimodal_phash_dedup,
    )

    pairs = q_multimodal_phash_dedup(spark, sf_dir).collect()
    assert pairs, "no duplicate pairs found"
    planted = {(r.m1, r.m2) for r in pairs if r.m2 - r.m1 == PHASH_REPLICA_OFFSET}
    n_docs = len(pairs)  # every pair must be a planted one
    assert len(planted) == n_docs, "unexpected non-planted pairs"
    assert all(m1 % PHASH_REPLICA_EVERY == 0 for m1, _ in planted)


def test_incremental_dedup_equals_cross_parity_slice_of_full_lsh(spark, sf_dir):
    """Incremental (batch-vs-corpus) dedup must emit exactly the
    cross-parity subset of the full LSH pair set — same bands, same
    verification, only the pairing policy differs."""
    from big_data_traffict_prediction_spark.functions.dedup import (
        q_dedup_incremental,
        q_dedup_minhash_lsh,
    )

    full = {
        (min(r.d1, r.d2), max(r.d1, r.d2)): (r.jaccard, r.is_duplicate)
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
        if (r.d1 % 2) != (r.d2 % 2)
    }
    inc = {
        (min(r.d_old, r.d_new), max(r.d_old, r.d_new)): (r.jaccard, r.is_duplicate)
        for r in q_dedup_incremental(spark, sf_dir).collect()
    }
    assert inc == full
    assert inc, "no cross-parity near-dup pairs in testdata"
    for r in q_dedup_incremental(spark, sf_dir).collect():
        assert r.d_old % 2 == 0 and r.d_new % 2 == 1


def test_minhash_estimate_is_calibrated(spark, sf_dir):
    """The MinHash estimator must behave like one: exact-duplicate
    pairs (J = 1) estimate exactly 1, estimates stay in [0, 1], and
    the mean absolute error over candidates is within the binomial
    envelope for 16 hashes (σ ≤ 0.125 ⇒ mean |err| well under 0.25)."""
    from big_data_traffict_prediction_spark.functions.dedup import (
        q_minhash_estimate,
    )

    rows = q_minhash_estimate(spark, sf_dir).collect()
    assert rows, "no LSH candidates in testdata"
    for r in rows:
        assert 0 <= r.est_ppm <= 1_000_000
        assert r.abs_err_ppm == abs(r.est_ppm - r.jaccard_ppm)
        if r.jaccard_ppm == 1_000_000:
            assert r.est_ppm == 1_000_000, (r.d1, r.d2)
    mean_err = sum(r.abs_err_ppm for r in rows) / len(rows)
    assert mean_err < 250_000, mean_err


def test_phash_is_representation_invariant_across_codecs(spark, sf_dir):
    """Adversarial cross-codec fixture: the SAME image re-encoded as
    PGM, plain PNG, palette PNG, baseline JPEG and progressive JPEG
    must produce ONE phash. Lossless codecs must agree exactly with
    the source pixels; the two JPEG variants decode identical pixels
    (lossless entropy layer over the same coefficients); and the image
    is built with ≥16-gray-level margins between adjacent thumbnail
    samples so JPEG quantization error (a few levels on a smooth ramp)
    cannot flip any of the 56 dHash comparisons. Turns the r8 codec
    matrix into a dedup-correctness guarantee: a re-encoded duplicate
    lands in the same phash bucket whatever container it arrived in."""
    import numpy as np

    from big_data_traffict_prediction_spark.functions import jpeg, png
    from big_data_traffict_prediction_spark.functions.multimodal import (
        _phash_col,
        decode_features,
    )

    y, x = np.mgrid[0:64, 0:64]
    img = np.clip(2 * x + y, 0, 255).astype(np.uint8)
    payloads = {
        1: b"P5\n64 64\n255\n" + img.tobytes(),
        2: png.encode_gray(img),
        3: png.encode_palette(img),
        4: jpeg.encode_gray(img),
        5: jpeg.encode_progressive(img),
    }
    df = spark.createDataFrame(
        [(mid, "image", p) for mid, p in payloads.items()],
        "media_id long, kind string, payload binary",
    )
    rows = (
        decode_features(df)
        .select("media_id", "decoded_ok", _phash_col().alias("phash"))
        .collect()
    )
    assert len(rows) == 5 and all(r.decoded_ok for r in rows)
    hashes = {r.media_id: r.phash for r in rows}
    assert len(set(hashes.values())) == 1, f"phash diverged: {hashes}"


def test_pq_rerank_recall_vs_bruteforce(spark, sf_dir):
    """PQ (6-bit × 8 subspaces) + exact re-rank must recover ≥0.8 of
    the exact brute-force top-5 per query on average — the standard
    quality bar for a compressed-storage ANN with a refine stage."""
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_ann_bruteforce,
        q_ann_pq,
        q_ann_pq_fixed,
    )

    bf: dict = {}
    for r in q_ann_bruteforce(spark, sf_dir).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    def recall_of(query):
        out: dict = {}
        for r in query(spark, sf_dir).collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert bf.keys() == out.keys()
        return sum(len(bf[q] & out[q]) / len(bf[q]) for q in bf) / len(bf)

    recall = recall_of(q_ann_pq)
    assert recall >= 0.8, f"PQ+rerank recall {recall:.3f} below bound"
    # the trained codebook is the one reason q_ann_pq stays beside the
    # oracle-checked sample codebook on the same kernel
    fixed = recall_of(q_ann_pq_fixed)
    assert recall > fixed, f"trained {recall:.3f} <= sampled {fixed:.3f}"


def test_pq_fixed_recall_vs_bruteforce(spark, sf_dir):
    """The fixed-point sample-codebook PQ (q_ann_pq_fixed) pays a few
    recall points for exact cross-engine reproducibility — measured
    ~0.78-0.79 vs the trained codebook's >=0.8 at both small SFs. Pin
    the floor at 0.7: below that the sample codebook would no longer
    be a usable quantizer and the oracleable variant would be
    decorative."""
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_ann_bruteforce,
        q_ann_pq_fixed,
    )

    bf: dict = {}
    for r in q_ann_bruteforce(spark, sf_dir).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    pf: dict = {}
    for r in q_ann_pq_fixed(spark, sf_dir).collect():
        pf.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert bf.keys() == pf.keys()
    recall = sum(len(bf[q] & pf[q]) / len(bf[q]) for q in bf) / len(bf)
    assert recall >= 0.7, f"PQ-fixed recall {recall:.3f} below bound"


def test_holt_forecast_matches_numpy_reference(spark, sf_dir):
    """The struct-state Holt fold (not oracle-safe in DuckDB — see
    q_ses_forecast) must match a plain Python reference recurrence on
    every camera's series, bit-for-bit at the rounded precision."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.operators.timeseries import (
        HOLT_BETA,
        SES_ALPHA,
        q_holt_forecast,
    )
    from big_data_traffict_prediction_spark.tables import traffic_history

    daily = (
        traffic_history(spark, sf_dir)
        .groupBy("camera_id", F.to_date("ts").alias("d"))
        .agg(F.sum("new_count").cast("double").alias("y"))
        .orderBy("camera_id", "d")
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.camera_id, []).append(r.y)

    def ref(ys):
        level, trend = ys[0], 0.0
        for y in ys[1:]:
            nl = y * SES_ALPHA + (level + trend) * (1.0 - SES_ALPHA)
            trend = (nl - level) * HOLT_BETA + trend * (1.0 - HOLT_BETA)
            level = nl
        return round(level, 6), round(trend, 6)

    got = {
        r.camera_id: (r.level, r.trend) for r in q_holt_forecast(spark, sf_dir).collect()
    }
    assert got.keys() == series.keys()
    for cam, ys in series.items():
        assert got[cam] == ref(ys), f"camera {cam} diverges"


def test_connected_components_converges_on_deep_path_graph(spark):
    """Adversarial-diameter bound: a 200-node path graph (diameter 199)
    would NOT converge under plain min-label propagation's 20-round cap
    — the pointer-doubling shortcut must label the whole path with its
    min id in O(log diameter) rounds. Also pins a multi-component case
    (the path + a disjoint triangle + an isolated edge)."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions.dedup import (
        connected_components,
    )

    n = 200
    path = [(i, i + 1) for i in range(n - 1)]
    triangle = [(1000, 1001), (1001, 1002), (1000, 1002)]
    lone = [(2000, 2001)]
    edges = spark.createDataFrame(path + triangle + lone, "d1 long, d2 long")
    sym = edges.union(edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))

    got = {r.doc_id: r.label for r in connected_components(sym).collect()}
    assert {k: v for k, v in got.items() if k < 1000} == {i: 0 for i in range(n)}
    assert {k: v for k, v in got.items() if 1000 <= k < 2000} == {
        1000: 1000, 1001: 1000, 1002: 1000
    }
    assert {k: v for k, v in got.items() if k >= 2000} == {2000: 2000, 2001: 2000}


def test_connected_components_on_adversarial_hub_graphs(spark):
    """Degree-explosion fixtures: a max-id hub fanned out to many
    leaves (the component min must flow THROUGH the hub), plus a chain
    of such stars (high degree AND diameter)."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions.dedup import (
        connected_components,
    )

    # star: hub 10_000 with leaves 0..199 → everything labels to 0
    star = [(10_000, i) for i in range(200)]
    # broom: stars at hubs h_k = 20_000+k, leaves below, hubs chained
    broom = []
    for k in range(8):
        hub = 20_000 + k
        broom += [(hub, 21_000 + 10 * k + j) for j in range(10)]
    broom += [(20_000 + k, 20_000 + k + 1) for k in range(7)]
    broom += [(20_000, 15_000)]  # the broom's true min hangs off one hub
    edges = spark.createDataFrame(star + broom, "d1 long, d2 long")
    sym = edges.union(edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))

    got = {r.doc_id: r.label for r in connected_components(sym).collect()}
    assert all(v == 0 for k, v in got.items() if k <= 10_000)
    assert all(v == 15_000 for k, v in got.items() if k > 10_000)


def test_decode_features_on_error_mark_survives_corrupt_blobs(spark):
    """The 100 TB-crawl contract: with on_error='mark', corrupt and
    codec-gated payloads yield decoded_ok=False rows with null stats
    instead of failing the task; good rows decode normally. Default
    mode still raises (a corrupt fixture is a bug)."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions import jpeg
    from big_data_traffict_prediction_spark.functions.multimodal import (
        decode_features,
    )

    import numpy as np

    good = jpeg.encode_gray((np.arange(64) % 251).astype(np.uint8).reshape(8, 8))
    corrupt = good[:10]  # truncated mid-header
    # mislabeled SOF2: baseline SOS header is invalid progressive → ValueError
    gated = good.replace(b"\xff\xc0", b"\xff\xc2")
    rows = [
        (1, "image", bytearray(good)),
        (2, "image", bytearray(corrupt)),
        (3, "image", bytearray(gated)),
        (4, "audio", bytearray(b"\x00garbage-not-riff")),
        (5, "image", None),  # failed-fetch row: NULL payload
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, payload binary")

    out = {r.media_id: r for r in decode_features(df, on_error="mark").collect()}
    assert out[1].decoded_ok and out[1].width == 8
    assert out[5].decoded_ok is False and out[5].payload_bytes == 0
    for mid in (2, 3, 4):
        r = out[mid]
        assert r.decoded_ok is False
        assert r.width is None and r.level_mean is None and r.feature is None
        assert r.payload_bytes > 0  # metadata still flows

    with pytest.raises(Exception):  # default: fail fast
        decode_features(df).collect()

    with pytest.raises(ValueError):
        decode_features(df, on_error="ignore")


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Property: on seeded random graphs the distributed pointer-doubling
    CC equals an independent driver-side union-find (path compression).
    Covers mixtures of chains, cliques, stars, and isolated edges that
    the fixed path-graph test does not."""
    import random

    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions.dedup import (
        connected_components,
    )

    def union_find_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    rng = random.Random(42)
    for trial in range(3):
        n = 120
        edges = set()
        # random chains
        chain = rng.sample(range(n), 30)
        edges |= {tuple(sorted(p)) for p in zip(chain, chain[1:])}
        # a clique
        cl = rng.sample(range(n, n + 20), 8)
        edges |= {tuple(sorted((a, b))) for a in cl for b in cl if a < b}
        # stars + random edges
        hub = n + 50
        edges |= {(hub, hub + i) for i in range(1, 12)}
        edges |= {
            tuple(sorted(rng.sample(range(2 * n), 2))) for _ in range(40)
        }
        edges = [(a, b) for a, b in edges if a != b]

        e = spark.createDataFrame(edges, "d1 long, d2 long")
        sym = e.union(e.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
        expect = union_find_labels(edges)
        got = {r.doc_id: r.label for r in connected_components(sym).collect()}
        assert got == expect, f"trial {trial} diverged"


def test_sorted_neighborhood_pairs_are_true_near_dups(spark, sf_dir):
    """Every SND-confirmed pair must be a true exact-Jaccard near-dup
    (the verify step is the same statistic, so SND ⊆ exact), and the
    window blocking must actually surface pairs at the smoke SF."""
    from big_data_traffict_prediction_spark.functions.dedup import (
        q_dedup_ngram_jaccard,
        q_dedup_sorted_neighborhood,
    )

    exact = {(r.d1, r.d2) for r in q_dedup_ngram_jaccard(spark, sf_dir).collect()}
    snd = {
        (r.d1, r.d2) for r in q_dedup_sorted_neighborhood(spark, sf_dir).collect()
    }
    assert snd, "sorted-neighborhood found no pairs at smoke SF"
    assert snd <= exact, f"false positives: {sorted(snd - exact)[:5]}"


def test_hll_estimator_is_calibrated(spark, sf_dir):
    """The HLL estimate must be CLOSE, not just cross-engine-stable:
    raw HLL at m=64 has relative error ~1.04/√64 ≈ 13%; assert every
    group lands within 4σ (err_ppm ≤ 520000) and the merged union
    estimate is within the same bound — a miscalibrated alpha or a
    rank-bit bug blows these bounds immediately (an early draft with
    biased low bits read 3× high)."""
    from big_data_traffict_prediction_spark.operators.pipeline import (
        q_hll_distinct,
    )

    rows = {r.grp: r for r in q_hll_distinct(spark, sf_dir).collect()}
    assert "__all__" in rows
    for grp, r in rows.items():
        assert r.err_ppm <= 520_000, (grp, r.hll_users, r.exact_users)
    # union ≤ sum of parts (overlapping users), and ≥ the largest part
    parts = [r.hll_users for g, r in rows.items() if g != "__all__"]
    assert rows["__all__"].hll_users <= sum(parts)
    assert rows["__all__"].hll_users >= max(parts) * 0.7


def test_srp_lsh_recall_vs_bruteforce(spark, sf_dir):
    """SRP-LSH candidates must recover a meaningful share of the true
    top-K on the worst-case corpus for LSH (unclustered synthetic
    embeddings have near-uniform pairwise cosines, so band collisions
    for 'neighbors' barely beat random — real clustered spaces sit
    far above this floor). Fully deterministic: fixed hyperplanes,
    fixed-point sign sums — the recall is a constant of the fixture,
    not a flaky statistic."""
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_ann_bruteforce,
        q_ann_srp_lsh,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_bruteforce(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_srp_lsh(spark, sf_dir).collect()
    }
    assert exact, "bruteforce returned nothing"
    recall = len(exact & approx) / len(exact)
    # 8 tables x 6 bits on unclustered data: measured 0.32 at sf0.01
    assert recall >= 0.2, f"SRP-LSH recall too low: {recall:.2f}"


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    """Third witness for priority sampling (besides the DuckDB
    oracle): an independent pure-Python implementation of the
    integer priority (w<<40)//(h+1), the top-K selection with the
    (priority DESC, doc_id) tie-break, tau, and the Horvitz-Thompson
    floor arithmetic must reproduce the Spark result row for row."""
    import hashlib

    from big_data_traffict_prediction_spark.operators.pipeline import (
        PRIORITY_K,
        PRIORITY_SCALE,
        q_weighted_sample,
    )
    from big_data_traffict_prediction_spark.tables import load_table

    docs = [
        (r.doc_id, r.n_chars)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    ]
    keyed = []
    for doc_id, w in docs:
        h = int(hashlib.md5(f"ws#{doc_id}".encode()).hexdigest()[:10], 16)
        keyed.append((doc_id, w, (w * PRIORITY_SCALE) // (h + 1)))
    keyed.sort(key=lambda t: (-t[2], t[0]))
    top = keyed[: PRIORITY_K + 1]
    tau = top[PRIORITY_K][2] if len(top) > PRIORITY_K else 0
    sample = top[:PRIORITY_K]
    # tau = (K+1)-th priority is already in WEIGHT units (priority =
    # w*2^40/(h+1) = w/u), so the Horvitz-Thompson term is max(w, tau)
    # directly — rescaling w by 2^40 made the estimate degenerate to
    # the raw sample-weight sum (caught by the round-9 advice).
    est = sum(max(w, tau) for _, w, _ in sample)
    exact = sum(w for _, w in docs)
    err = abs(est - exact) * 1_000_000 // exact
    expected = {
        d: (w, p, est, exact, err) for d, w, p in sample
    }
    got = {
        r.doc_id: (r.weight, r.priority, r.est_total, r.exact_total, r.err_ppm)
        for r in q_weighted_sample(spark, sf_dir).collect()
    }
    assert got == expected


def test_weighted_sample_estimator_is_calibrated(spark, sf_dir):
    """Duffield-Lund-Thorup: E[sum(max(w_i, tau))] over the sample
    equals the exact corpus total. With K=200 of ~500 docs at sf0.01
    the relative error should be a few percent — the round-9 formula
    (weights rescaled by 2^40 before the max) degenerated to the raw
    sample sum (~50% low, err_ppm ~504k) and no test bounded it."""
    from big_data_traffict_prediction_spark.operators.pipeline import (
        q_weighted_sample,
    )

    row = q_weighted_sample(spark, sf_dir).limit(1).collect()[0]
    assert row.est_total > 0
    # 5% calibration bound (measured ~6,200 ppm at sf0.01 with the
    # corrected formula; the broken one sat at ~504,000 ppm)
    assert row.err_ppm < 50_000, (
        f"HT estimator miscalibrated: est={row.est_total} "
        f"exact={row.exact_total} err_ppm={row.err_ppm}"
    )


def test_jl_projection_distortion_concentrates(spark, oracle_sf_dir):
    """The Johnson-Lindenstrauss audit: with k=16 the squared-distance
    ratio ||R(a-b)||^2/(k*||a-b||^2) is chi^2_k/k distributed —
    median within ~15% of 1, tails bounded. A broken sign matrix or a
    scale slip would blow these immediately."""
    import statistics

    from big_data_traffict_prediction_spark.functions.similarity import (
        q_embedding_jl_project,
    )

    ratios = [
        r.ratio_ppm for r in q_embedding_jl_project(spark, oracle_sf_dir).collect()
    ]
    assert len(ratios) >= 100
    med = statistics.median(ratios)
    assert 800_000 < med < 1_250_000, med
    assert all(100_000 < r < 4_000_000 for r in ratios), (min(ratios), max(ratios))


def test_dedup_recall_eval_invariants(spark, oracle_sf_dir):
    """Verified candidates are exact-Jaccard true pairs, so the eval's
    counts must nest (verified <= true, verified <= candidates) and be
    non-vacuous on the synthetic corpus (its planted dups collide in
    every band, so recall is full there — the eval exists to catch the
    corpora where it is not)."""
    from big_data_traffict_prediction_spark.functions.dedup import (
        q_dedup_recall_eval,
    )

    r = q_dedup_recall_eval(spark, oracle_sf_dir).first()
    assert r.n_true > 0
    assert r.n_verified <= r.n_true and r.n_verified <= r.n_cand
    assert r.recall_ppm == r.n_verified * 1_000_000 // max(r.n_true, 1)
    assert r.precision_ppm == r.n_verified * 1_000_000 // max(r.n_cand, 1)


def test_ann_ivf_pq_composition_restricts_and_recalls(spark, sf_dir):
    """The IVF+PQ composition must (a) only ever return neighbors from
    the query's probed cells — the posting-list restriction that IS the
    IVF stage (verified against an independent reconstruction of the
    assignment), and (b) keep usable recall vs brute force inside that
    restriction. The recall floor sits well below q_ann_pq_fixed's 0.7
    because the probe restriction dominates: measured 0.434 composed vs
    0.445 for IVF alone at sf0.001 (0.418 vs 0.433 at sf0.01) — the PQ
    stage costs ~1 recall point inside the probed universe (the exact
    re-rank repairs ADC error there), so (c) pins the composition to
    within 0.05 of plain IVF; the rest is q_ann_recall_eval's measured
    IVF probes/cells trade, not a bug."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions.similarity import (
        _assign,
        _neg_dot,
        _probe_cells,
        _seed_centers,
        _vecs,
        q_ann_bruteforce,
        q_ann_ivf,
        q_ann_ivf_pq_fixed,
    )

    vecs = _vecs(spark, sf_dir)
    scored = _assign(
        vecs, _seed_centers(vecs, "embedding", F.max("vec_id") + 1), _neg_dot
    )
    cell_of = {
        r.vec_id: r.cell
        for r in scored.select("vec_id", "cell").collect()
    }
    probes_of = {
        r.vec_id: set(r.cells)
        for r in scored.select(
            "vec_id", _probe_cells().alias("cells")
        ).collect()
    }
    out: dict = {}
    for r in q_ann_ivf_pq_fixed(spark, sf_dir).collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert cell_of[r.neighbor_id] in probes_of[r.query_id], (
            f"neighbor {r.neighbor_id} (cell {cell_of[r.neighbor_id]}) "
            f"outside query {r.query_id}'s probes {probes_of[r.query_id]}"
        )
    bf: dict = {}
    for r in q_ann_bruteforce(spark, sf_dir).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert bf.keys() == out.keys()
    recall = sum(len(bf[q] & out[q]) / len(bf[q]) for q in bf) / len(bf)
    assert recall >= 0.4, f"IVF-PQ recall {recall:.3f} below bound"
    ivf: dict = {}
    for r in q_ann_ivf(spark, sf_dir).collect():
        ivf.setdefault(r.query_id, set()).add(r.neighbor_id)
    ivf_recall = sum(len(bf[q] & ivf[q]) / len(bf[q]) for q in bf) / len(bf)
    assert recall >= ivf_recall - 0.05, (
        f"PQ stage cost {ivf_recall - recall:.3f} recall inside probes"
    )


def test_seed_centers_on_tiny_id_space(spark):
    """The one strided seed below a bound. With n < IVF_CELLS the
    stride clamps to 1, so stride*IVF_CELLS exceeds a delta split and
    only the `vec_id < bound` guard keeps the delta ids out of the
    seeds; with the full bound every id seeds its own cell. An id space
    with no id below IVF_CELLS yields no quantizer row."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.compat import idiv
    from big_data_traffict_prediction_spark.functions.similarity import (
        IVF_CELLS,
        _seed_centers,
    )

    def frame(ids):
        return spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in ids], "vec_id long, embedding array<float>"
        )

    def seeds(vecs, bound):
        rows = _seed_centers(vecs, "embedding", bound).collect()
        assert len(rows) == 1
        return rows[0].bound, [(c.cell, list(c.center)) for c in rows[0].cs]

    vecs = frame(range(5))
    assert 5 < IVF_CELLS
    bound, cs = seeds(vecs, F.max("vec_id") + 1)
    assert bound == 5
    assert cs == [(i, [float(i), 1.0]) for i in range(5)]
    # delta split (5*4)//5 = 4 < stride*IVF_CELLS = 8: id 4 is delta
    bound, cs = seeds(vecs, idiv((F.max("vec_id") + 1) * 4, F.lit(5)))
    assert bound == 4
    assert cs == [(i, [float(i), 1.0]) for i in range(4)]
    sparse = frame([IVF_CELLS + 1, IVF_CELLS + 2])
    assert _seed_centers(sparse, "embedding", F.max("vec_id") + 1).count() == 0


def test_kmeans_lloyd_update_reduces_inertia(spark, sf_dir):
    """The definitional k-means guarantee, pinned on the exact integer
    trajectory: J(assign0, seeds) >= J(assign0, updated) >= J(assign1,
    updated) — centroid update and reassignment each weakly reduce
    total inertia. Plus conservation: every vector stays assigned."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions.similarity import (
        _assign,
        _fpv_d2,
        _km_update_centers,
        _pqf_fpv,
        _seed_centers,
        _vecs,
        q_embedding_kmeans,
    )

    fp = _vecs(spark, sf_dir).select(
        "vec_id", _pqf_fpv(F.col("embedding")).alias("fpv")
    )
    n = fp.count()
    a0 = _assign(
        fp, _seed_centers(fp, "fpv", F.max("vec_id") + 1), _fpv_d2
    ).localCheckpoint(eager=True)
    c1 = _km_update_centers(a0)
    j0 = a0.agg(F.sum("d")).first()[0]
    # J(assign0, c1): same assignment, updated centers
    mid = (
        a0.select("vec_id", "fpv", "cell")
        .crossJoin(F.broadcast(c1))
        .select(
            F.aggregate(
                F.zip_with(
                    F.col("fpv"),
                    F.filter(F.col("cs"), lambda c: c["cell"] == F.col("cell"))[0][
                        "center"
                    ],
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d2")
        )
    )
    j_mid = mid.agg(F.sum("d2")).first()[0]
    a1 = _assign(fp, c1, _fpv_d2)
    j1 = a1.agg(F.sum("d")).first()[0]
    # fixed-point centroid truncation can cost at most 64·n per cluster
    # term vs the real mean — negligible against these magnitudes, and
    # the inequality chain holds outright on this data
    assert j0 >= j_mid >= j1, (j0, j_mid, j1)
    out = q_embedding_kmeans(spark, sf_dir).collect()
    assert sum(r.n_seed for r in out) == n == sum(r.n_refined for r in out)
    assert all(r.mean_d2 >= 0 for r in out)


def test_pqf_score_kernel_matches_hof_twin(spark, sf_dir):
    """The fused encode+ADC kernel (_pqf_score, r13 opt round) must be
    bit-identical to the HOF executable spec it replaced: codes via
    _pqf_codes, per-query LUTs via _pqf_lut, ADC via _pqf_adc. Full
    frame equality on (query_id, neighbor_id, neighbor_label,
    adc_dist) for BOTH the plain and the probe-filtered (IVF) shapes —
    the lowest-ordinal argmin tie rule, the lut block stride and the
    self-pair exclusion are all load-bearing here."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.functions.similarity import (
        QUERY_LIMIT,
        _assign,
        _neg_dot,
        _pqf_adc,
        _pqf_codebook_np,
        _pqf_codebook_row,
        _pqf_codes,
        _pqf_fpv,
        _pqf_lut,
        _pqf_score,
        _probe_cells,
        _seed_centers,
        _vecs,
    )

    fp = (
        _vecs(spark, sf_dir)
        .select(
            "vec_id", "label", "embedding", "norm_fp",
            _pqf_fpv(F.col("embedding")).alias("fpv"),
        )
        .localCheckpoint(eager=True)
    )

    def canon(df):
        return (
            df.orderBy("query_id", "neighbor_id")
            .toPandas()
            .reset_index(drop=True)
        )

    # --- plain (q_ann_pq_fixed shape) --------------------------------
    hof_coded = fp.crossJoin(F.broadcast(_pqf_codebook_row(fp))).select(
        "vec_id", "label", _pqf_codes().alias("codes")
    )
    hof_luts = (
        fp.filter(F.col("vec_id") < QUERY_LIMIT)
        .crossJoin(F.broadcast(_pqf_codebook_row(fp)))
        .select(F.col("vec_id").alias("query_id"), _pqf_lut().alias("lut"))
    )
    hof = (
        hof_coded.crossJoin(F.broadcast(hof_luts))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            _pqf_adc().alias("adc_dist"),
        )
    )
    qrows = [
        (r.vec_id, list(r.fpv), None)
        for r in fp.filter(F.col("vec_id") < QUERY_LIMIT)
        .select("vec_id", "fpv")
        .collect()
    ]
    codebook = _pqf_codebook_np(fp)
    kernel = _pqf_score(
        spark, codebook, fp.select("vec_id", "label", "fpv"), qrows
    )
    a, b = canon(hof), canon(kernel)
    assert len(a) > 0
    assert a.equals(b), "plain ADC kernel diverged from HOF spec"

    # --- probe-filtered (q_ann_ivf_pq_fixed shape) -------------------
    scored = _assign(
        fp, _seed_centers(fp, "embedding", F.max("vec_id") + 1), _neg_dot
    ).localCheckpoint(eager=True)
    hof_coded_c = (
        scored.select("vec_id", "label", "cell", "fpv")
        .crossJoin(F.broadcast(_pqf_codebook_row(fp)))
        .select("vec_id", "label", "cell", _pqf_codes().alias("codes"))
    )
    hof_probe_luts = (
        scored.filter(F.col("vec_id") < QUERY_LIMIT)
        .crossJoin(F.broadcast(_pqf_codebook_row(fp)))
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(_probe_cells()).alias("cell"),
            _pqf_lut().alias("lut"),
        )
    )
    hof_ivf = (
        F.broadcast(hof_probe_luts)
        .join(hof_coded_c, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            _pqf_adc().alias("adc_dist"),
        )
    )
    qrows_p = [
        (r.vec_id, list(r.fpv), list(r.probes))
        for r in scored.filter(F.col("vec_id") < QUERY_LIMIT)
        .select("vec_id", "fpv", _probe_cells().alias("probes"))
        .collect()
    ]
    kernel_ivf = _pqf_score(
        spark,
        codebook,
        scored.select("vec_id", "label", "cell", "fpv"),
        qrows_p,
    )
    a, b = canon(hof_ivf), canon(kernel_ivf)
    assert len(a) > 0
    assert a.equals(b), "probe-filtered ADC kernel diverged from HOF spec"
