"""PNG codec (functions/png.py): lossless round trip, foreign-stream
decode across all five filters and color types, chunk integrity,
honest gates, and Spark pipeline integration."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from big_data_traffict_prediction_spark.functions.png import (
    _SIG,
    _chunk,
    decode_gray,
    encode_gray,
)


def _foreign_png(px: np.ndarray, ctype: int, filters: list[int]) -> bytes:
    """Independent encoder (not the module's) writing chosen per-line
    filter types, to prove decode handles streams we did not write."""
    h, w = px.shape[:2]
    ch = px.shape[2] if px.ndim == 3 else 1
    flat = px.reshape(h, w * ch).astype(np.int64)
    lines = bytearray()
    prev = np.zeros(w * ch, np.int64)
    for y in range(h):
        cur = flat[y]
        ft = filters[y % len(filters)]
        lines.append(ft)
        enc = np.zeros(w * ch, np.int64)
        for x in range(w * ch):
            left = cur[x - ch] if x >= ch else 0
            up, ul = prev[x], (prev[x - ch] if x >= ch else 0)
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            enc[x] = (cur[x] - pred) & 0xFF
        lines += bytes(enc.astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _chunk(b"IEND", b"")
    )


def test_gray_round_trip_lossless():
    rng = np.random.default_rng(11)
    for shape in [(1, 1), (5, 7), (16, 16), (23, 41)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (decode_gray(encode_gray(img)) == img).all(), shape


def test_foreign_rgb_all_filters_decodes_to_luma():
    rng = np.random.default_rng(12)
    rgb = rng.integers(0, 256, (11, 6, 3), dtype=np.uint8)
    out = decode_gray(_foreign_png(rgb, ctype=2, filters=[0, 1, 2, 3, 4]))
    exp = np.clip(
        np.round(
            0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        ),
        0,
        255,
    ).astype(np.uint8)
    assert (out == exp).all()


def test_foreign_rgba_and_grey_alpha():
    rng = np.random.default_rng(13)
    rgba = rng.integers(0, 256, (7, 5, 4), dtype=np.uint8)
    assert decode_gray(_foreign_png(rgba, ctype=6, filters=[4])).shape == (7, 5)
    ga = rng.integers(0, 256, (7, 5, 2), dtype=np.uint8)
    out = decode_gray(_foreign_png(ga, ctype=4, filters=[1, 2]))
    assert (out == ga[:, :, 0]).all()  # grey channel passes through


def test_crc_and_malformed_streams():
    img = np.zeros((8, 8), np.uint8)
    data = bytearray(encode_gray(img))
    data[40] ^= 0xFF  # corrupt inside IDAT → CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        decode_gray(bytes(data))
    with pytest.raises(ValueError):
        decode_gray(b"\xff\xd8not a png")
    # header-only streams (no IDAT) classify, whatever the layout says
    for ihdr in (
        struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1),  # interlaced
        struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0),  # 16-bit
    ):
        with pytest.raises(ValueError):
            decode_gray(_SIG + _chunk(b"IHDR", ihdr))
    # interlace method beyond Adam7 is a format error
    bad = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 2)
    with pytest.raises(ValueError, match="interlace"):
        decode_gray(_SIG + _chunk(b"IHDR", bad))


_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _interlaced_png(px: np.ndarray, ctype: int, filters: list[int]) -> bytes:
    """Independent Adam7 encoder (8-bit): seven sub-images, each with
    its OWN filter chain (Up refers to the previous line of the same
    pass, never across passes)."""
    h, w = px.shape[:2]
    ch = px.shape[2] if px.ndim == 3 else 1
    flat = px.reshape(h, w, ch)
    lines = bytearray()
    for xs, ys, xst, yst in _ADAM7:
        sub = flat[ys::yst, xs::xst, :]
        hp, wp = sub.shape[:2]
        if hp == 0 or wp == 0:
            continue
        prev = np.zeros(wp * ch, np.int64)
        for y in range(hp):
            cur = sub[y].reshape(-1).astype(np.int64)
            ft = filters[y % len(filters)]
            lines.append(ft)
            if ft == 0:
                enc = cur
            elif ft == 2:  # Up within the pass
                enc = (cur - prev) & 0xFF
            else:
                raise AssertionError("test encoder supports filters 0/2")
            lines += bytes(enc.astype(np.uint8))
            prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _chunk(b"IEND", b"")
    )


def _png16_gray(img16: np.ndarray, filters: list[int]) -> bytes:
    """Independent 16-bit grayscale encoder (big-endian samples)."""
    h, w = img16.shape
    rows = np.zeros((h, 2 * w), np.uint8)
    rows[:, 0::2] = (img16 >> 8).astype(np.uint8)
    rows[:, 1::2] = (img16 & 0xFF).astype(np.uint8)
    lines = bytearray()
    prev = np.zeros(2 * w, np.int64)
    for y in range(h):
        cur = rows[y].astype(np.int64)
        ft = filters[y % len(filters)]
        lines.append(ft)
        enc = cur if ft == 0 else (cur - prev) & 0xFF
        lines += bytes(enc.astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _chunk(b"IEND", b"")
    )


def test_adam7_interlaced_gray_round_trip():
    rng = np.random.default_rng(61)
    for shape in [(1, 1), (2, 3), (7, 5), (8, 8), (16, 16), (17, 23)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        out = decode_gray(_interlaced_png(img, ctype=0, filters=[0, 2]))
        assert (out == img).all(), shape


def test_adam7_interlaced_rgb_matches_luma():
    rng = np.random.default_rng(62)
    rgb = rng.integers(0, 256, (13, 11, 3), dtype=np.uint8)
    out = decode_gray(_interlaced_png(rgb, ctype=2, filters=[2, 0]))
    f = rgb.astype(np.float64)
    exp = np.clip(
        np.round(0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]),
        0,
        255,
    ).astype(np.uint8)
    assert (out == exp).all()


def test_16bit_gray_reduces_to_high_byte():
    rng = np.random.default_rng(63)
    img16 = rng.integers(0, 1 << 16, (9, 14), dtype=np.uint16)
    out = decode_gray(_png16_gray(img16, filters=[0, 2]))
    assert (out == (img16 >> 8).astype(np.uint8)).all()


def test_corrupt_interlaced_and_16bit_streams_classify():
    """Error-classification fuzz over the newly-decodable layouts."""
    rng = np.random.default_rng(64)
    streams = [
        _interlaced_png(
            rng.integers(0, 256, (16, 16), dtype=np.uint8), 0, [0, 2]
        ),
        _png16_gray(rng.integers(0, 1 << 16, (12, 12), dtype=np.uint16), [0, 2]),
    ]
    for data in streams:
        for pos in range(2, len(data) - 2, 5):
            mutated = bytearray(data)
            mutated[pos] ^= 0x5A
            try:
                out = decode_gray(bytes(mutated))
                assert out.dtype == np.uint8
            except (ValueError, NotImplementedError):
                pass
        for cut in range(1, len(data), 7):
            try:
                decode_gray(bytes(data[:cut]))
            except (ValueError, NotImplementedError):
                pass


def _palette_png(
    idx: np.ndarray, plte: np.ndarray, depth: int, filters: list[int] | None = None
) -> bytes:
    """Independent palette encoder: packs sub-byte indices MSB-first
    and writes chosen per-line filter types (bpp=1 for depth<=8)."""
    h, w = idx.shape
    filters = filters or [0]
    lines = bytearray()
    prev = None
    for y in range(h):
        if depth == 8:
            packed = idx[y].astype(np.uint8)
        else:
            bits = (
                (idx[y][:, None] >> np.arange(depth - 1, -1, -1)) & 1
            ).astype(np.uint8).ravel()
            packed = np.packbits(bits)  # MSB-first, zero-padded tail
        ft = filters[y % len(filters)]
        lines.append(ft)
        enc = packed.astype(np.int64)
        up = prev.astype(np.int64) if prev is not None else np.zeros_like(enc)
        if ft == 1:  # Sub, bpp=1
            enc = np.diff(enc, prepend=0) & 0xFF
        elif ft == 2:  # Up
            enc = (enc - up) & 0xFF
        lines += bytes(enc.astype(np.uint8))
        prev = packed
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte.astype(np.uint8).tobytes())
        + _chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _chunk(b"IEND", b"")
    )


def test_palette_identity_round_trip():
    from big_data_traffict_prediction_spark.functions.png import encode_palette

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (13, 9), dtype=np.uint8)
    assert (decode_gray(encode_palette(img)) == img).all()


def test_foreign_palette_permuted_colors_and_filters():
    """A non-identity PLTE proves indices resolve through the palette
    (not passed through as gray values), across Sub/Up filters."""
    rng = np.random.default_rng(22)
    plte = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    out = decode_gray(_palette_png(idx, plte, depth=8, filters=[0, 1, 2]))
    rgb = plte[idx].astype(np.float64)
    exp = np.clip(
        np.round(0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]),
        0,
        255,
    ).astype(np.uint8)
    assert (out == exp).all()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_foreign_palette_sub_byte_depths(depth):
    rng = np.random.default_rng(23 + depth)
    n = 1 << depth
    plte = rng.integers(0, 256, (n, 3), dtype=np.uint8)
    # width NOT a multiple of 8/depth so the padded tail bits matter
    idx = rng.integers(0, n, (6, 11), dtype=np.uint8)
    out = decode_gray(_palette_png(idx, plte, depth=depth))
    rgb = plte[idx].astype(np.float64)
    exp = np.clip(
        np.round(0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]),
        0,
        255,
    ).astype(np.uint8)
    assert (out == exp).all()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_sub_byte_grayscale_exact_expansion(depth):
    """1/2/4-bit grayscale expands by the exact 255/(2^d−1) factor."""
    rng = np.random.default_rng(31 + depth)
    n = 1 << depth
    vals = rng.integers(0, n, (5, 10), dtype=np.uint8)
    # reuse the palette packer but write ctype 0 (no PLTE)
    data = bytearray(_palette_png(vals, np.zeros((n, 3), np.uint8), depth=depth))
    # surgically rewrite IHDR color type 3 -> 0 and drop the PLTE chunk
    ihdr = struct.pack(">IIBBBBB", 10, 5, depth, 0, 0, 0, 0)
    plte_len = 12 + 3 * n
    rebuilt = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + bytes(data[8 + 25 + plte_len :])  # IDAT onward
    )
    out = decode_gray(rebuilt)
    assert (out == vals * (255 // (n - 1))).all()


def test_palette_error_cases():
    rng = np.random.default_rng(41)
    idx = rng.integers(0, 4, (4, 4), dtype=np.uint8)
    plte = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    # index beyond palette length → ValueError, not a numpy IndexError
    bad_idx = idx.copy()
    bad_idx[0, 0] = 7
    with pytest.raises(ValueError, match="palette index"):
        decode_gray(_palette_png(bad_idx, plte, depth=8))
    # palette image with its PLTE chunk stripped → ValueError
    data = _palette_png(idx, plte, depth=8)
    plte_len = 12 + 12
    stripped = data[: 8 + 25] + data[8 + 25 + plte_len :]
    with pytest.raises(ValueError, match="PLTE"):
        decode_gray(stripped)


@pytest.mark.parametrize("codec", ["png", "png_palette"])
def test_spark_pipeline_decodes_png_images(spark, sf_dir, codec):
    """encoded_features(image_codec='png'/'png_palette') must equal the
    lossless PGM path bit-for-bit (all are lossless containers; the
    palette variant proves the PLTE-lookup decode path end-to-end
    through q_multimodal_features' mapInPandas kernel)."""
    from big_data_traffict_prediction_spark.functions.multimodal import (
        encoded_features,
        media_table,
    )

    m = media_table(spark, sf_dir).limit(90)
    png_rows = {
        r.media_id: r
        for r in encoded_features(m, image_codec=codec)
        .filter("kind = 'image'")
        .collect()
    }
    pgm_rows = {
        r.media_id: r
        for r in encoded_features(m, image_codec="pgm")
        .filter("kind = 'image'")
        .collect()
    }
    assert png_rows and set(png_rows) == set(pgm_rows)
    for mid, pr in png_rows.items():
        gr = pgm_rows[mid]
        assert pr.decoded_ok and (pr.width, pr.height) == (gr.width, gr.height)
        assert pr.level_mean == gr.level_mean and pr.feature == gr.feature


def test_corrupt_png_streams_raise_classifiable_errors():
    """Same classification contract as the JPEG codec: any single-byte
    flip or truncation either decodes or raises ValueError /
    NotImplementedError — never a raw struct/zlib/index error (found:
    a flipped chunk-length field asked struct for a 1.5 GB buffer)."""
    import numpy as np

    from big_data_traffict_prediction_spark.functions.png import (
        decode_gray,
        encode_gray,
    )

    data = encode_gray((np.arange(256) % 251).astype(np.uint8).reshape(16, 16))
    for pos in range(2, len(data) - 2, 3):
        mutated = bytearray(data)
        mutated[pos] ^= 0x5A
        try:
            out = decode_gray(bytes(mutated))
            assert out.dtype == np.uint8
        except (ValueError, NotImplementedError):
            pass
    for cut in range(1, len(data), 5):
        try:
            decode_gray(bytes(data[:cut]))
        except (ValueError, NotImplementedError):
            pass
