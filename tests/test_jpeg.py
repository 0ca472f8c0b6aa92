"""Baseline JPEG codec (functions/jpeg.py): spec-structure checks, lossy
round-trip bounds, Spark pipeline integration, and honest gates."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from big_data_traffict_prediction_spark.functions.jpeg import (
    decode_gray,
    encode_gray,
    quant_table,
)


def _walk_markers(data: bytes) -> list[int]:
    """Independent JFIF structure parse (not the codec's own reader):
    marker sequence from SOI to EOI, skipping entropy data."""
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    markers, pos = [0xD8], 2
    while pos < len(data) - 2:
        assert data[pos] == 0xFF, f"expected marker at {pos}"
        m = data[pos + 1]
        markers.append(m)
        pos += 2
        (ln,) = struct.unpack_from(">H", data, pos)
        pos += ln
        if m == 0xDA:  # entropy data until EOI (our encoder: no restarts)
            pos = len(data) - 2
    markers.append(0xD9)
    return markers


def test_jfif_structure():
    img = (np.arange(24 * 40, dtype=np.int64) % 256).astype(np.uint8).reshape(24, 40)
    data = encode_gray(img, 75)
    markers = _walk_markers(data)
    # SOI, APP0, DQT, SOF0, DHT(DC), DHT(AC), SOS, EOI — in order
    assert markers == [0xD8, 0xE0, 0xDB, 0xC0, 0xC4, 0xC4, 0xDA, 0xD9]
    # SOF0 carries the true (pre-padding) dimensions
    sof = data.index(b"\xff\xc0")
    _ln, _prec, h, w = struct.unpack_from(">HBHH", data, sof + 2)
    assert (h, w) == (24, 40)


def test_round_trip_error_bounded_and_monotone():
    x, y = np.meshgrid(np.arange(48), np.arange(32))
    img = ((x * 3 + y * 7) % 256).astype(np.uint8)
    errs, sizes = [], []
    for q in (95, 75, 30):
        data = encode_gray(img, q)
        back = decode_gray(data)
        assert back.shape == img.shape and back.dtype == np.uint8
        errs.append(float(np.abs(back.astype(int) - img.astype(int)).mean()))
        sizes.append(len(data))
    assert errs[0] <= errs[1] <= errs[2], f"error not monotone in quality: {errs}"
    assert sizes[0] >= sizes[2], "higher quality should not be smaller"
    assert errs[0] < 1.0, f"q=95 mean error too high: {errs[0]}"


def test_flat_image_lossless_and_odd_sizes():
    assert (decode_gray(encode_gray(np.full((16, 16), 201, np.uint8))) == 201).all()
    rng = np.random.default_rng(3)
    for shape in [(1, 1), (7, 5), (8, 8), (9, 17)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        back = decode_gray(encode_gray(img, 90))
        assert back.shape == shape
        # worst-case (noise) error still bounded at q=90
        assert np.abs(back.astype(int) - img.astype(int)).max() <= 40


def test_quant_table_quality_scaling():
    assert (quant_table(50) == np.clip((quant_table(100) * 0 + 1), 1, 255)).sum() >= 0
    assert quant_table(100).max() <= quant_table(50).max() <= quant_table(10).max()
    assert quant_table(1).min() >= 1 and quant_table(1).max() <= 255


def test_unsupported_streams_gated_not_faked():
    img = np.zeros((8, 8), np.uint8)
    data = bytearray(encode_gray(img))
    # fake a 4-component (CMYK-style) SOF0 → must raise, not fake
    sof = bytes(data).index(b"\xff\xc0")
    cmyk = bytes(data[: sof + 9]) + b"\x04" + bytes(data[sof + 10 :])
    with pytest.raises(NotImplementedError):
        decode_gray(cmyk)
    # 8-bit extended sequential (SOF1) is baseline-compatible → decodes
    img2 = (np.arange(64) % 251).astype(np.uint8).reshape(8, 8)
    base_stream = encode_gray(img2)
    sof1 = bytes(base_stream).replace(b"\xff\xc0", b"\xff\xc1")
    assert (decode_gray(sof1) == decode_gray(base_stream)).all()
    # arithmetic (SOF9) and lossless (SOF3) → still gated
    for marker in (b"\xff\xc9", b"\xff\xc3"):
        with pytest.raises(NotImplementedError):
            decode_gray(bytes(data).replace(b"\xff\xc0", marker))
    # 12-bit precision → gated (the only thing extended adds)
    sof = bytes(data).index(b"\xff\xc0")
    deep = bytes(data[: sof + 4]) + b"\x0c" + bytes(data[sof + 5 :])
    with pytest.raises(NotImplementedError):
        decode_gray(deep)
    # a baseline stream mislabeled SOF2 carries a baseline SOS header
    # (Ss=0, Se=63) that is invalid progressive → classifiable error
    prog = bytes(data).replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError):
        decode_gray(prog)
    with pytest.raises(ValueError):
        decode_gray(b"\x89PNG\r\n\x1a\n")


def test_spark_pipeline_decodes_jpeg_images(spark, sf_dir):
    """encoded_features(image_codec='jpeg'): every image decodes ok
    with the metadata dimensions, and the lossy thumbnail stays close
    to the lossless PGM path's."""
    from big_data_traffict_prediction_spark.functions.multimodal import (
        encoded_features,
        media_table,
    )

    m = media_table(spark, sf_dir).limit(120)
    jp = encoded_features(m, image_codec="jpeg")
    pg = encoded_features(m, image_codec="pgm")
    jrows = {r.media_id: r for r in jp.filter("kind = 'image'").collect()}
    prows = {r.media_id: r for r in pg.filter("kind = 'image'").collect()}
    assert jrows and set(jrows) == set(prows)
    for mid, jr in jrows.items():
        pr = prows[mid]
        assert jr.decoded_ok and (jr.width, jr.height) == (pr.width, pr.height)
        # JPEG is lossy: feature vectors close, not equal
        dj = np.array(jr.feature) - np.array(pr.feature)
        # text-byte payloads are max-frequency noise — JPEG's worst case
        assert np.abs(dj).max() < 0.25, f"media {mid}: thumb drift {np.abs(dj).max()}"
        assert abs(jr.level_mean - pr.level_mean) < 8.0


def test_round_trip_property_random_images():
    """Property: decode(encode(img)) preserves shape/dtype and stays
    within the quantization error envelope for arbitrary images. The
    max|error| of a baseline JPEG block is bounded by half the largest
    scaled quant step spread across the IDCT; empirically ≤40 at q=90
    — we assert the loose spec-derived bound, not a tuned one."""
    rng = np.random.default_rng(1234)
    for _ in range(25):
        h = int(rng.integers(1, 50))
        w = int(rng.integers(1, 50))
        kind = rng.integers(0, 3)
        if kind == 0:
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)  # noise
        elif kind == 1:
            img = np.full((h, w), int(rng.integers(0, 256)), np.uint8)  # flat
        else:
            x, y = np.meshgrid(np.arange(w), np.arange(h))
            img = ((x * int(rng.integers(1, 9)) + y * int(rng.integers(1, 9))) % 256).astype(
                np.uint8
            )  # gradient
        back = decode_gray(encode_gray(img, 90))
        assert back.shape == (h, w) and back.dtype == np.uint8
        err = np.abs(back.astype(int) - img.astype(int)).max()
        assert err <= 64, f"{h}x{w} kind={kind}: err {err}"


def test_restart_markers_round_trip():
    """DRI/RSTn streams (the camera-firmware error-resilience form):
    encode with several restart intervals, verify RST markers are
    actually present, and decode — identically to the no-restart
    stream."""
    x, y = np.meshgrid(np.arange(64), np.arange(40))
    img = ((x * 5 + y * 3) % 256).astype(np.uint8)
    plain = decode_gray(encode_gray(img, 80))
    for dri in (1, 3, 7):
        data = encode_gray(img, 80, restart_interval=dri)
        assert b"\xff\xdd" in data, "DRI segment missing"
        assert any(
            bytes([0xFF, 0xD0 + n]) in data for n in range(8)
        ), "no RST markers emitted"
        assert (decode_gray(data) == plain).all(), f"dri={dri} diverged"


def test_fill_bytes_before_markers_tolerated():
    """T.81 B.1.1.2: markers may be preceded by any number of 0xFF fill
    bytes (camera firmwares pad header segments this way). Insert fill
    bytes before every header marker of a valid stream and decode — the
    result must be identical to the unpadded stream."""
    x, y = np.meshgrid(np.arange(40), np.arange(24))
    img = ((x * 7 + y * 11) % 256).astype(np.uint8)
    data = encode_gray(img, 85)
    plain = decode_gray(data)
    # Re-emit the stream with 1-3 fill bytes before each header marker
    # (walk markers independently; never touch entropy-coded data).
    out, pos, nfill = bytearray(data[:2]), 2, 1
    while pos < len(data) - 2:
        assert data[pos] == 0xFF
        m = data[pos + 1]
        out += b"\xff" * nfill
        nfill = nfill % 3 + 1
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        out += data[pos : pos + 2 + ln]
        pos += 2 + ln
        if m == 0xDA:  # entropy data through EOI: copy verbatim
            out += data[pos:]
            break
    padded = bytes(out)
    assert len(padded) > len(data)
    assert (decode_gray(padded) == plain).all()


# ------------------------------------------------------------- color


def _gradient_rgb(h: int = 33, w: int = 46) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            xx * 255 / (w - 1),
            yy * 255 / (h - 1),
            (xx + yy) * 255 / (w + h - 2),
        ],
        axis=-1,
    ).astype(np.uint8)


def test_color_structure_and_round_trip_bounds():
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    rgb = _gradient_rgb()
    for ss, bound in (("4:4:4", 6), ("4:2:0", 12)):
        data = encode_color(rgb, 90, subsampling=ss)
        # structure: SOI, APP0, two DQT, SOF0, four DHT, SOS, EOI
        markers = _walk_markers(data)
        assert markers.count(0xDB) == 2, "luma + chroma quant tables"
        assert markers.count(0xC4) == 4, "DC/AC × luma/chroma Huffman"
        out = decode_rgb(data)
        assert out.shape == rgb.shape
        err = np.abs(out.astype(int) - rgb.astype(int)).max()
        assert err <= bound, f"{ss}: max channel error {err} > {bound}"


def test_color_luma_plane_matches_rec601():
    """decode_gray on a color stream returns the Y plane — within
    rounding of the Rec.601 luma of the source (luma is NOT chroma
    subsampled, so 4:2:0 must not degrade it)."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        encode_color,
    )

    rgb = _gradient_rgb()
    ref = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    for ss in ("4:4:4", "4:2:0"):
        y = decode_gray(encode_color(rgb, 90, subsampling=ss))
        assert y.shape == ref.shape
        assert np.abs(y.astype(float) - ref).max() <= 3.0


def test_color_solid_blocks_exact():
    """A solid-color 16×16 (one full 4:2:0 MCU) survives the round
    trip exactly: DC-only blocks, quantization error ~0 after clip."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    for color in [(200, 30, 90), (0, 0, 0), (255, 255, 255), (128, 128, 128)]:
        img = np.full((16, 16, 3), color, np.uint8)
        out = decode_rgb(encode_color(img, 95, subsampling="4:2:0"))
        assert np.abs(out.astype(int) - np.array(color)).max() <= 2, color


def test_color_restart_markers_do_not_change_pixels():
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    rgb = _gradient_rgb(40, 56)
    plain = decode_rgb(encode_color(rgb, 85, subsampling="4:2:0"))
    for dri in (1, 2, 5):
        data = encode_color(rgb, 85, subsampling="4:2:0", restart_interval=dri)
        assert b"\xff\xdd" in data  # DRI present
        assert (decode_rgb(data) == plain).all(), f"dri={dri} diverged"


def test_decode_rgb_on_grayscale_stream_replicates():
    from big_data_traffict_prediction_spark.functions.jpeg import decode_rgb

    img = (np.arange(24 * 17).reshape(24, 17) % 251).astype(np.uint8)
    out = decode_rgb(encode_gray(img, 90))
    assert out.shape == (24, 17, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 1] == out[:, :, 2]).all()
    assert (out[:, :, 0] == decode_gray(encode_gray(img, 90))).all()


def test_color_odd_dimensions_and_noise_bounded():
    """Ragged (non-MCU-multiple) sizes crop correctly, and even a
    worst-case noise image stays within the coarse lossy envelope."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    rng = np.random.default_rng(11)
    for h, w in [(9, 10), (17, 31), (8, 8), (23, 16)]:
        noise = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        out = decode_rgb(encode_color(noise, 95, subsampling="4:4:4"))
        assert out.shape == (h, w, 3)
        assert np.abs(out.astype(float) - noise.astype(float)).mean() < 16.0


def test_corrupt_streams_raise_classifiable_errors():
    """Error classification contract for the decode UDF: ANY byte
    corruption of a (gray or color) stream either still decodes, or
    raises ValueError / NotImplementedError — never a raw KeyError /
    IndexError / struct.error escaping parse internals. Deterministic
    sweep: flip one byte at a stride across the whole stream."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    gray = encode_gray((np.arange(256) % 256).astype(np.uint8).reshape(16, 16), 80)
    color = encode_color(_gradient_rgb(16, 16), 80, subsampling="4:2:0")
    for data, dec in ((gray, decode_gray), (color, decode_rgb)):
        for pos in range(2, len(data) - 2, 7):
            mutated = bytearray(data)
            mutated[pos] ^= 0x5A
            try:
                out = dec(bytes(mutated))
                assert out.dtype == np.uint8  # decoded despite the flip: fine
            except (ValueError, NotImplementedError):
                pass  # classifiable — the decode UDF reports per-row
    # truncations, both kinds
    for data, dec in ((gray, decode_gray), (color, decode_rgb)):
        for cut in (3, len(data) // 3, len(data) - 3):
            try:
                dec(bytes(data[:cut]))
            except (ValueError, NotImplementedError):
                pass


def test_single_component_scan_ignores_sampling_factors():
    """T.81 A.2.2: an Ns=1 scan is NON-interleaved — one data unit per
    MCU in raster order, whatever sampling factors the SOF declares.
    A spec-valid grayscale stream with sampling byte 0x22 must decode
    identically to its 0x11 twin (review-found regression: the
    interleaved-MCU layout scrambled blocks / over-read the stream)."""
    for h, w in [(24, 8), (32, 32), (16, 24)]:
        img = ((np.arange(h * w) * 11) % 256).astype(np.uint8).reshape(h, w)
        data = encode_gray(img, 90)
        sof = data.index(b"\xff\xc0")
        assert data[sof + 11] == 0x11  # sampling byte location sanity
        patched = data[: sof + 11] + b"\x22" + data[sof + 12 :]
        assert (decode_gray(patched) == decode_gray(data)).all(), (h, w)


def test_color_round_trip_property_random():
    """Hypothesis-style sweep without fixture cost: random shapes,
    contents, subsampling modes, and restart intervals all round-trip
    within the lossy envelope and preserve shape/dtype. Uses the
    hypothesis library for shrinkable case generation."""
    from hypothesis import given, settings, strategies as st

    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
        ss=st.sampled_from(["4:4:4", "4:2:0"]),
        dri=st.sampled_from([0, 1, 3]),
        flat=st.booleans(),
    )
    def check(h, w, seed, ss, dri, flat):
        rng = np.random.default_rng(seed)
        if flat:
            rgb = np.full((h, w, 3), rng.integers(0, 256), np.uint8)
        else:
            rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        out = decode_rgb(encode_color(rgb, 90, subsampling=ss, restart_interval=dri))
        assert out.shape == (h, w, 3) and out.dtype == np.uint8
        if flat:
            # DC-only blocks: near-exact regardless of subsampling
            assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 2
        elif ss == "4:4:4":
            # noise is JPEG's worst case; assert the coarse DCT envelope
            assert np.abs(out.astype(float) - rgb.astype(float)).mean() < 24.0
        else:
            # 4:2:0 legitimately averages chroma across 2x2 pixels (a
            # 1x2 saturated-noise image can shift single channels by
            # ~100 — hypothesis found that), but LUMA is never
            # subsampled, so its envelope must hold regardless of size
            def luma(a):
                f = a.astype(float)
                return 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]

            assert np.abs(luma(out) - luma(rgb)).mean() < 24.0

    check()


# ------------------------------------------------- progressive (SOF2)


def test_progressive_equals_baseline_gray():
    """The progressive entropy layer is lossless over the same
    quantized coefficients, so progressive decode must equal the
    baseline decode of the same image BIT-FOR-BIT."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        encode_progressive,
    )

    rng = np.random.default_rng(51)
    for shape in [(1, 1), (5, 7), (8, 8), (17, 23), (64, 48)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        base = decode_gray(encode_gray(img, quality=75))
        prog = decode_gray(encode_progressive(img, quality=75))
        assert (base == prog).all(), shape


def test_progressive_equals_baseline_color():
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
        encode_progressive,
    )

    rng = np.random.default_rng(52)
    for shape in [(8, 8), (17, 23), (24, 24), (33, 41)]:
        for sub in ("4:4:4", "4:2:0"):
            img = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
            base = decode_rgb(encode_color(img, 80, subsampling=sub))
            prog = decode_rgb(encode_progressive(img, 80, subsampling=sub))
            assert (base == prog).all(), (shape, sub)


def test_progressive_round_trip_property():
    """Hypothesis sweep: progressive decode equals baseline decode
    bit-for-bit across random shapes/contents/subsampling — a strictly
    stronger claim than 'within the baseline tolerance'."""
    from hypothesis import given, settings, strategies as st

    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
        encode_progressive,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
        ss=st.sampled_from(["4:4:4", "4:2:0"]),
        gray=st.booleans(),
        q=st.sampled_from([50, 75, 90]),
    )
    def check(h, w, seed, ss, gray, q):
        rng = np.random.default_rng(seed)
        if gray:
            img = rng.integers(0, 256, (h, w)).astype(np.uint8)
            base = decode_gray(encode_gray(img, q))
            prog = decode_gray(encode_progressive(img, q))
        else:
            img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            base = decode_rgb(encode_color(img, q, subsampling=ss))
            prog = decode_rgb(encode_progressive(img, q, subsampling=ss))
        assert base.shape == prog.shape and (base == prog).all()

    check()


def test_progressive_decode_rgb_on_gray_replicates():
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_progressive,
    )

    img = (np.arange(120) % 251).astype(np.uint8).reshape(10, 12)
    out = decode_rgb(encode_progressive(img))
    assert out.shape == (10, 12, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all()
    assert (out[:, :, 0] == out[:, :, 2]).all()


def test_corrupt_progressive_streams_raise_classifiable_errors():
    """Same classification contract as baseline: any single-byte flip
    or truncation of a progressive stream either decodes or raises
    ValueError / NotImplementedError — never a raw parse-internal
    error. Progressive adds scan-header state (Ss/Se/Ah/Al, EOB runs)
    that corrupt bytes can hit."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_progressive,
    )

    gray = encode_progressive(
        (np.arange(256) % 256).astype(np.uint8).reshape(16, 16), 80
    )
    color = encode_progressive(_gradient_rgb(16, 16), 80, subsampling="4:2:0")
    for data, dec in ((gray, decode_gray), (color, decode_rgb)):
        for pos in range(2, len(data) - 2, 7):
            mutated = bytearray(data)
            mutated[pos] ^= 0x5A
            try:
                out = dec(bytes(mutated))
                assert out.dtype == np.uint8
            except (ValueError, NotImplementedError):
                pass
        for cut in (3, len(data) // 3, len(data) - 3):
            try:
                dec(bytes(data[:cut]))
            except (ValueError, NotImplementedError):
                pass


def test_progressive_restart_markers_round_trip():
    """DRI/RSTn inside progressive scans: predictors and EOB runs
    reset at every marker in every scan kind, and the decode still
    equals baseline bit-for-bit."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        encode_progressive,
    )

    rng = np.random.default_rng(71)
    for shape, ri in [((16, 16), 1), ((17, 23), 3), ((40, 33), 7)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        base = decode_gray(encode_gray(img, 75))
        prog = decode_gray(encode_progressive(img, 75, restart_interval=ri))
        assert (base == prog).all(), (shape, ri)
    data = encode_progressive(
        rng.integers(0, 256, (24, 24), dtype=np.uint8), 75, restart_interval=2
    )
    assert any(
        bytes([0xFF, m]) in data for m in range(0xD0, 0xD8)
    ), "restart markers must actually be present in the stream"


def test_progressive_multiblock_eobrun_decodes_like_baseline():
    """Hand-built progressive stream with ACCUMULATED EOB runs — the
    path every libjpeg progressive file uses but the in-repo encoder
    (single-block EOB0 only) cannot produce, and the standard Annex-K
    tables cannot even express (no EOBn symbols). Builds a custom
    full-symbol AC DHT and writes EOBn symbols with r > 0 (+ extension
    bits) in BOTH the AC first scan and the AC refinement scan, with
    buffered correction bits, then asserts the decode equals the
    baseline encoding of the same coefficients bit-for-bit
    (decoder: functions/jpeg.py _ac_first_unit/_ac_refine_unit)."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        _AC_ENC,
        _BitWriter,
        _DC_ENC,
        _amplitude,
        _canonical_codes,
        _category,
        _emit_block,
        _gray_headers,
        _seg,
        _sos_payload,
    )

    h, w = 8, 48  # one row of six 8x8 blocks
    q = np.ones((8, 8), dtype=np.int64)
    # zigzag-order coefficients per block (index = zigzag position)
    blocks = np.zeros((6, 64), dtype=np.int64)
    blocks[0, 0], blocks[0, 1], blocks[0, 2] = 10, 6, 1
    blocks[1, 0], blocks[2, 0], blocks[3, 0], blocks[4, 0] = 8, 9, 7, 12
    blocks[5, 0], blocks[5, 1], blocks[5, 3], blocks[5, 5] = 5, 4, -2, 1

    # --- baseline twin: standard tables, sequential scan ------------
    bw = _BitWriter()
    prev = 0
    for b in blocks:
        prev = _emit_block(bw, b, prev, _DC_ENC, _AC_ENC)
    base_file = (
        _gray_headers(q, h, w, 0xFFC0)
        + _seg(0xFFDA, _sos_payload([(1, 0, 0)], 0, 63, 0, 0))
        + bw.flush()
        + b"\xff\xd9"
    )

    # --- progressive twin: custom AC DHT with EOBn symbols ----------
    ac_vals = [0x00, 0x01, 0x02, 0x10, 0x11, 0x20, 0x21]
    ac_bits = [0] * 16
    ac_bits[2] = len(ac_vals)  # all symbols at code length 3
    ac_enc = _canonical_codes(ac_bits, ac_vals)
    from big_data_traffict_prediction_spark.functions.jpeg import (
        _APP0_JFIF,
        DC_BITS,
        DC_VALS,
        ZIGZAG,
    )

    headers = (
        b"\xff\xd8"
        + _seg(0xFFE0, _APP0_JFIF)
        + _seg(0xFFDB, b"\x00" + bytes(q.reshape(64)[ZIGZAG].astype(np.uint8)))
        + _seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
        + _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
        + _seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    )

    def sym(bw, table, s):
        code, ln = table[s]
        bw.write(code, ln)

    # scan 1: DC first pass, Al=1 (standard DC table)
    bw = _BitWriter()
    prev = 0
    for b in blocks:
        v = int(b[0]) >> 1
        diff, prev = v - prev, v
        size = _category(diff)
        sym(bw, _DC_ENC, size)
        if size:
            bw.write(_amplitude(diff, size), size)
    scan_dc1 = _seg(0xFFDA, _sos_payload([(1, 0, 0)], 0, 0, 0, 1)) + bw.flush()

    # scan 2: DC refinement, Ah=1 Al=0 — one raw bit per block
    bw = _BitWriter()
    for b in blocks:
        bw.write(int(b[0]) & 1, 1)
    scan_dc2 = _seg(0xFFDA, _sos_payload([(1, 0, 0)], 0, 0, 1, 0)) + bw.flush()

    # scan 3: AC first pass, Al=1 — EOBn with r=2 + 2 extension bits
    # spanning five blocks (eobrun = 4 + 1)
    bw = _BitWriter()
    sym(bw, ac_enc, 0x02)           # block 0: k=1, value 6>>1 = 3
    bw.write(_amplitude(3, 2), 2)
    sym(bw, ac_enc, 0x20)           # EOB4..7, ext=1 -> run of 5 blocks
    bw.write(1, 2)
    sym(bw, ac_enc, 0x02)           # block 5: k=1, value 4>>1 = 2
    bw.write(_amplitude(2, 2), 2)
    sym(bw, ac_enc, 0x11)           # run 1, value -2 -> -1 (toward zero)
    bw.write(_amplitude(-1, 1), 1)
    sym(bw, ac_enc, 0x00)           # EOB0: this block only
    scan_ac1 = _seg(0xFFDA, _sos_payload([(1, 0, 0)], 1, 63, 0, 1)) + bw.flush()

    # scan 4: AC refinement, Ah=1 Al=0 — newly-significant bits with
    # buffered correction bits, then EOBn (r=1) runs with ext bits
    bw = _BitWriter()
    sym(bw, ac_enc, 0x01)  # block 0: new +1 at k=2 (run 0 over history)
    bw.write(1, 1)         # sign: positive
    bw.write(0, 1)         # correction bit for k=1 (6 stays 6)
    sym(bw, ac_enc, 0x10)  # EOB2..3, ext=1 -> eobrun 3 (blocks 0..2)
    bw.write(1, 1)
    sym(bw, ac_enc, 0x10)  # block 3: EOB2..3, ext=0 -> eobrun 2 (3..4)
    bw.write(0, 1)
    sym(bw, ac_enc, 0x21)  # block 5: new +1 at k=5 (run 2: k2, k4)
    bw.write(1, 1)         # sign: positive
    bw.write(0, 1)         # correction bit for k=1 (4 stays 4)
    bw.write(0, 1)         # correction bit for k=3 (-2 stays -2)
    sym(bw, ac_enc, 0x00)  # EOB0
    scan_ac2 = _seg(0xFFDA, _sos_payload([(1, 0, 0)], 1, 63, 1, 0)) + bw.flush()

    prog_file = headers + scan_dc1 + scan_dc2 + scan_ac1 + scan_ac2 + b"\xff\xd9"
    base_px = decode_gray(base_file)
    prog_px = decode_gray(prog_file)
    assert base_px.shape == prog_px.shape == (h, w)
    assert (base_px == prog_px).all()
    # the stream is not degenerate: the blocks differ from each other,
    # so a mis-accounted EOB run would misalign every later block
    assert len(np.unique(base_px.reshape(6, -1, 8).mean(axis=(1, 2)))) >= 4


def test_16bit_dqt_decodes_identically():
    """Pq=1 (16-bit) quantizer entries decode to the SAME pixels as
    the 8-bit twin carrying identical values — the messy-crawl
    tolerance case (libjpeg accepts 16-bit DQT even in 8-bit streams;
    dequantization is precision-agnostic). Rewrites the encoder's own
    DQT segment in place: length 67 → 131, Pq nibble set, every entry
    widened to big-endian u16."""
    import struct

    img = (np.arange(256) % 251).astype(np.uint8).reshape(16, 16)
    data = bytes(encode_gray(img, quality=40))
    i = data.index(b"\xff\xdb")
    (seg_len,) = struct.unpack_from(">H", data, i + 2)
    assert seg_len == 67, "one 8-bit table expected"
    pqtq = data[i + 4]
    entries = data[i + 5 : i + 5 + 64]
    wide = b"".join(struct.pack(">H", v) for v in entries)
    seg16 = b"\xff\xdb" + struct.pack(">H", 131) + bytes([pqtq | 0x10]) + wide
    data16 = data[:i] + seg16 + data[i + 4 + seg_len - 2 :]
    assert (decode_gray(data16) == decode_gray(data)).all()
    # an invalid precision field (Pq>1) must classify, not misparse
    bad = data[:i] + b"\xff\xdb" + struct.pack(">H", 67) + bytes(
        [pqtq | 0x20]
    ) + entries + data[i + 4 + seg_len - 2 :]
    with pytest.raises((ValueError, NotImplementedError)):
        decode_gray(bad)


def test_upsampling_index_map_integer_and_fractional():
    """The nearest-neighbor index-map upsampler must be BIT-IDENTICAL
    to the old np.repeat replication for integer ratios (4:2:0 and
    4:4:4 round-trips already pin end-to-end), and must reconstruct
    full-resolution planes for NON-integer ratios (3:2, 4:3) — the
    former gate. Exercised through _reconstruct with DC-only blocks
    so every 8x8 block is a flat patch of a known value."""
    from big_data_traffict_prediction_spark.functions.jpeg import _reconstruct

    def dc_blocks(by, bx, base):
        n = by * bx
        blocks = np.zeros((n, 64), np.int64)
        # DC term d gives pixel value round(d * 1/8 + 128) for the
        # orthonormal DCT basis; pick d = 8*(v-128) for target v
        for i in range(n):
            blocks[i, 0] = 8 * ((base + i) - 128)
        return blocks

    h = w = 32
    for hmax, vmax, hi, vi in [(2, 2, 1, 1), (3, 2, 2, 1), (4, 1, 3, 1)]:
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        comps = [(1, hmax, vmax, 0), (2, hi, vi, 0)]
        q = {0: np.ones((8, 8), np.int64)}
        per_comp = [
            dc_blocks(mcuy * vmax, mcux * hmax, 40),
            dc_blocks(mcuy * vi, mcux * hi, 90),
        ]
        planes = _reconstruct(comps, per_comp, q, mcux, mcuy, hmax, vmax, h, w)
        assert all(p.shape == (h, w) for p in planes), (hmax, vmax, hi, vi)
        # the chroma plane's pixel (y, x) must come from the source
        # block at the floor-mapped coordinate — check via the known
        # per-block flat values
        ch, cw = -(-h * vi // vmax), -(-w * hi // hmax)
        grid_bx = mcux * hi
        for y, x in [(0, 0), (h - 1, w - 1), (h // 2, w // 3), (5, 17)]:
            sy, sx = (y * vi) // vmax, (x * hi) // hmax
            sy, sx = min(sy, ch - 1), min(sx, cw - 1)
            expect = 90 + (sy // 8) * grid_bx + (sx // 8)
            assert planes[1][y, x] == expect, (hmax, vmax, hi, vi, y, x)
        # integer-ratio bit-identity with the replication formula
        if vmax % vi == 0 and hmax % hi == 0:
            src = planes[1][:: vmax // vi or 1, :: hmax // hi or 1]
            rep = np.repeat(
                np.repeat(src, vmax // vi, axis=0), hmax // hi, axis=1
            )[:h, :w]
            assert (planes[1] == rep).all()


def _encode_noninterleaved_color(
    arr, quality=75, subsampling="4:2:0", restart_interval=0
):
    """Test fixture: the same coefficients encode_color produces, but
    packaged as THREE non-interleaved baseline scans (one per
    component, the libjpeg non-interleaved layout) — each scan covers
    its component's OWN block grid in raster order (T.81 A.2.2)."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        _AC_CHROMA_ENC,
        _AC_ENC,
        _BitWriter,
        _color_coef_grids,
        _color_headers,
        _comp_block_dims,
        _DC_CHROMA_ENC,
        _DC_ENC,
        _emit_block,
        _seg,
    )

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[:2]
    y_zz, chroma, mcux, mcuy, hs, vs, qy, qc = _color_coef_grids(
        a, quality, subsampling
    )
    out = _color_headers(qy, qc, h, w, (hs << 4) | vs, 0xFFC0)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    scans = [
        (1, y_zz, hs, vs, 0x00, _DC_ENC, _AC_ENC),
        (2, chroma[0], 1, 1, 0x11, _DC_CHROMA_ENC, _AC_CHROMA_ENC),
        (3, chroma[1], 1, 1, 0x11, _DC_CHROMA_ENC, _AC_CHROMA_ENC),
    ]
    for cid, grid, hi, vi, tsel, dc_enc, ac_enc in scans:
        bh, bw_ = _comp_block_dims(hi, vi, hs, vs, h, w)
        bw = _BitWriter()
        prev_dc = 0
        unit = 0
        for byi in range(bh):
            for bxi in range(bw_):
                if restart_interval and unit and unit % restart_interval == 0:
                    bw.emit_marker(0xD0 + ((unit // restart_interval - 1) % 8))
                    prev_dc = 0
                prev_dc = _emit_block(bw, grid[byi, bxi], prev_dc, dc_enc, ac_enc)
                unit += 1
        out += _seg(0xFFDA, bytes([1, cid, tsel, 0, 0x3F, 0]))
        out += bw.flush()
    return out + b"\xff\xd9"


def test_noninterleaved_baseline_matches_interleaved():
    """A 3-scan non-interleaved baseline stream must decode to EXACTLY
    the interleaved stream's planes (same coefficients, different scan
    packaging). Odd sizes exercise the component-own grid being
    smaller than the interleaved MCU superset (e.g. 24x20 4:2:0: Y own
    grid 3x3 blocks vs 4x4 superset rows)."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    rng = np.random.default_rng(11)
    for shape, sub in [
        ((24, 20, 3), "4:2:0"),
        ((16, 16, 3), "4:2:0"),
        ((9, 17, 3), "4:4:4"),
        ((33, 31, 3), "4:2:0"),
    ]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        multi = decode_rgb(_encode_noninterleaved_color(img, 80, sub))
        single = decode_rgb(encode_color(img, 80, sub))
        assert multi.shape == single.shape == shape
        assert (multi == single).all(), (shape, sub)


def test_noninterleaved_baseline_with_restarts():
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, (32, 24, 3), dtype=np.uint8)
    multi = decode_rgb(_encode_noninterleaved_color(img, 85, "4:2:0", 3))
    single = decode_rgb(encode_color(img, 85, "4:2:0"))
    assert (multi == single).all()


def test_noninterleaved_baseline_gates_and_errors():
    """Partial coverage (a truncated multi-scan file) is a classified
    ValueError; forging Ns=2 onto a one-component scan header leaves a
    malformed component list, classified as ValueError (the genuine
    1 < Ns < Nf layout decodes — see the y-then-cbcr tests)."""
    from big_data_traffict_prediction_spark.functions.jpeg import decode_rgb

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = _encode_noninterleaved_color(img, 80, "4:4:4")
    # drop the third scan: keep everything before the LAST SOS, add EOI
    last_sos = data.rfind(b"\xff\xda")
    with pytest.raises(ValueError, match="2 of 3 components"):
        decode_rgb(data[:last_sos] + b"\xff\xd9")
    # forge Ns=2 on the first scan header -> gated, not mis-decoded
    first_sos = data.find(b"\xff\xda")
    forged = bytearray(data)
    forged[first_sos + 4] = 2  # Ns byte (after marker + 2-byte length)
    with pytest.raises((NotImplementedError, ValueError)):
        decode_rgb(bytes(forged))


def test_noninterleaved_duplicate_scan_is_rejected():
    """T.81 sequential mode allows each component at most one scan per
    frame; a second scan of an already-decoded component must raise,
    not silently overwrite its coefficients."""
    from big_data_traffict_prediction_spark.functions.jpeg import decode_rgb

    rng = np.random.default_rng(14)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = _encode_noninterleaved_color(img, 80, "4:4:4")
    # retarget the LAST scan at component 1 (already scanned first):
    # cid byte sits at SOS + marker(2) + length(2) + Ns(1)
    last_sos = data.rfind(b"\xff\xda")
    forged = bytearray(data)
    assert forged[last_sos + 5] == 3
    forged[last_sos + 5] = 1
    with pytest.raises(ValueError, match="duplicate sequential scan"):
        decode_rgb(bytes(forged))


def _encode_y_then_cbcr(arr, quality=75, subsampling="4:2:0", restart_interval=0):
    """Test fixture for PARTIALLY-interleaved baseline (T.81 A.2.3):
    the classic libjpeg multi-scan color layout — scan 1 carries Y
    alone (non-interleaved, its own block grid), scan 2 interleaves
    (Cb, Cr) per MCU on the frame's MCU grid. Same coefficients as
    encode_color, different scan packaging."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        _AC_CHROMA_ENC,
        _AC_ENC,
        _BitWriter,
        _color_coef_grids,
        _color_headers,
        _comp_block_dims,
        _DC_CHROMA_ENC,
        _DC_ENC,
        _emit_block,
        _seg,
    )

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[:2]
    y_zz, chroma, mcux, mcuy, hs, vs, qy, qc = _color_coef_grids(
        a, quality, subsampling
    )
    out = _color_headers(qy, qc, h, w, (hs << 4) | vs, 0xFFC0)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    # scan 1: Y, non-interleaved over its OWN grid
    bh, bw_ = _comp_block_dims(hs, vs, hs, vs, h, w)
    bw = _BitWriter()
    prev_dc = 0
    unit = 0
    for byi in range(bh):
        for bxi in range(bw_):
            if restart_interval and unit and unit % restart_interval == 0:
                bw.emit_marker(0xD0 + ((unit // restart_interval - 1) % 8))
                prev_dc = 0
            prev_dc = _emit_block(bw, y_zz[byi, bxi], prev_dc, _DC_ENC, _AC_ENC)
            unit += 1
    out += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 0x3F, 0]))
    out += bw.flush()
    # scan 2: (Cb, Cr) interleaved per MCU; chroma grids are already
    # MCU-padded (mcuy x mcux blocks at 1x1 factors)
    bw = _BitWriter()
    prev = [0, 0]
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.emit_marker(0xD0 + ((mcu_i // restart_interval - 1) % 8))
                prev = [0, 0]
            for ci, grid in enumerate(chroma):
                prev[ci] = _emit_block(
                    bw, grid[my, mx], prev[ci], _DC_CHROMA_ENC, _AC_CHROMA_ENC
                )
            mcu_i += 1
    out += _seg(0xFFDA, bytes([2, 2, 0x11, 3, 0x11, 0, 0x3F, 0]))
    out += bw.flush()
    return out + b"\xff\xd9"


def test_partially_interleaved_y_then_cbcr_matches_interleaved():
    """The Y-then-(Cb,Cr) two-scan layout must decode to EXACTLY the
    single interleaved scan's planes; odd sizes exercise the chroma
    MCU padding and the Y own-grid/superset mismatch."""
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    rng = np.random.default_rng(15)
    for shape, sub in [
        ((24, 20, 3), "4:2:0"),
        ((16, 16, 3), "4:2:0"),
        ((9, 17, 3), "4:4:4"),
        ((33, 31, 3), "4:2:0"),
    ]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        multi = decode_rgb(_encode_y_then_cbcr(img, 80, sub))
        single = decode_rgb(encode_color(img, 80, sub))
        assert multi.shape == single.shape == shape
        assert (multi == single).all(), (shape, sub)


def test_partially_interleaved_with_restarts():
    from big_data_traffict_prediction_spark.functions.jpeg import (
        decode_rgb,
        encode_color,
    )

    rng = np.random.default_rng(16)
    img = rng.integers(0, 256, (32, 24, 3), dtype=np.uint8)
    multi = decode_rgb(_encode_y_then_cbcr(img, 85, "4:2:0", 3))
    single = decode_rgb(encode_color(img, 85, "4:2:0"))
    assert (multi == single).all()


def test_partially_interleaved_errors():
    """Duplicate component inside a partial scan, a component scanned
    by two scans, and a full-interleave scan AFTER per-component scans
    are all classified ValueErrors, never silent mis-decodes."""
    from big_data_traffict_prediction_spark.functions.jpeg import decode_rgb

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = _encode_y_then_cbcr(img, 80, "4:4:4")
    last_sos = data.rfind(b"\xff\xda")
    # (a) Cr slot forged to Cb: duplicate WITHIN the scan
    forged = bytearray(data)
    assert forged[last_sos + 7] == 3
    forged[last_sos + 7] = 2
    with pytest.raises(ValueError, match="duplicate sequential scan"):
        decode_rgb(bytes(forged))
    # (b) Cb slot forged to Y: component 1 scanned twice across scans
    forged = bytearray(data)
    assert forged[last_sos + 5] == 2
    forged[last_sos + 5] = 1
    with pytest.raises(ValueError, match="duplicate sequential scan"):
        decode_rgb(bytes(forged))
