"""Pure-Python/numpy PNG codec (RFC 2083 / ISO 15948).

PNG's compression layer is DEFLATE, which the Python standard library
provides for real (``zlib``) — so unlike JPEG there is nothing to
hand-roll beyond the container: chunk framing with CRC-32, scanline
filters, and pixel layout. This module implements:

- encode: 8-bit grayscale (filter type 0) and 8-bit palette
  (identity-gray PLTE), single IDAT — fully standard PNGs any viewer
  opens;
- decode: the FULL ISO 15948 still-image matrix — greyscale
  (1/2/4/8/16-bit) / palette (1/2/4/8-bit, PLTE lookup) / truecolor
  (RGB, 8/16-bit) / truecolor+alpha / greyscale+alpha, all five
  scanline filters (None/Sub/Up/Average/Paeth), BOTH interlace
  methods (none and Adam7's seven independently-filtered passes).
  Color collapses to luma via the Rec.601 weights so downstream
  features are a single grid; sub-byte grayscale expands to 8-bit via
  the exact 255/(2^d−1) integer factor; 16-bit reduces to its high
  byte. No gates remain in this module.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# color type -> legal bit depths (the full ISO 15948 matrix)
_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_gray(arr: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as an 8-bit grayscale PNG."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 2 or a.size == 0:
        raise ValueError("encode_gray expects a non-empty 2-D array")
    h, w = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type None per scanline
    raw[:, 1:] = a
    idat = zlib.compress(raw.tobytes())
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_palette(arr: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as an 8-bit PALETTE PNG (color type 3).

    The PLTE maps index i -> (i, i, i), so the image renders — and
    round-trips through decode_gray's Rec.601 collapse — exactly as
    the grayscale original while still exercising the full palette
    decode path (PLTE parse + index lookup) of any standards-compliant
    reader.
    """
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 2 or a.size == 0:
        raise ValueError("encode_palette expects a non-empty 2-D array")
    h, w = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    plte = bytes(v for i in range(256) for v in (i, i, i))
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type None per scanline
    raw[:, 1:] = a
    idat = zlib.compress(raw.tobytes())
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters; returns (h, stride) uint8.

    ``stride`` is the filtered byte count per scanline and ``bpp`` the
    filter's left-neighbor distance in bytes — per the spec, the bytes
    per complete pixel rounded UP to one, so sub-byte depths filter
    with bpp=1 over packed bytes.
    """
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)].astype(np.int64)
        prev = out[y - 1].astype(np.int64) if y else np.zeros(stride, np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 1:  # Sub: per-channel prefix sum mod 256
            # cur[x] = (line[x] + cur[x-bpp]) & 0xFF unrolls to a running
            # sum down each byte column; int64 cumsum is exact, and a
            # single final mask equals masking every step (mod-add
            # associativity) — no per-byte Python loop.
            cur = np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.int64).reshape(
                stride
            ) & 0xFF
        elif ftype in (3, 4):  # Average / Paeth need a sequential left scan
            cur = np.zeros(stride, np.int64)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                if ftype == 3:
                    cur[x] = (line[x] + (left + prev[x]) // 2) & 0xFF
                else:
                    up = prev[x]
                    ul = prev[x - bpp] if x >= bpp else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
    return out


def _unpack_samples(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, stride) packed bytes -> (h, w) sample values in [0, 2^depth).

    PNG packs sub-byte samples MSB-first within each byte; trailing
    pad bits at the end of a scanline are dropped by the [:w] slice.
    """
    if depth == 8:
        return rows[:, :w]
    bits = np.unpackbits(rows, axis=1)  # MSB-first, matching the spec
    vals = bits.reshape(rows.shape[0], -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2).astype(np.uint8)[:, :w]


def decode_gray(data: bytes) -> np.ndarray:
    """Decode any standard PNG to a uint8 luma grid.

    All five color types at every legal bit depth, non-interlaced OR
    Adam7 interlaced: 8-bit greyscale passes through; 1/2/4-bit
    greyscale expands by the exact 255/(2^d−1) factor; 16-bit reduces
    to its high byte (the standard 16→8 reduction); palette
    (1/2/4/8-bit) resolves through PLTE then collapses like truecolor;
    RGB/RGBA collapse via Rec.601 (0.299 R + 0.587 G + 0.114 B);
    alpha (tRNS or channel) is ignored. Nothing is gated — the full
    ISO 15948 still-image matrix decodes. Structurally malformed
    streams surface as ``ValueError`` (same classification contract
    as jpeg.decode_gray: never a raw struct/zlib/index error from
    parse internals, so the decode UDF can report per-row).
    """
    try:
        return _decode_gray_impl(data)
    except (KeyError, IndexError, struct.error, OverflowError, zlib.error) as exc:
        raise ValueError(f"malformed PNG stream: {exc!r}") from exc


def _rec601(rgb: np.ndarray) -> np.ndarray:
    """(…, 3) float64 RGB -> uint8 luma, Rec.601 weights."""
    luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    return np.clip(np.round(luma), 0, 255).astype(np.uint8)


# Adam7 pass origins/strides: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _consume_subimage(
    raw: np.ndarray, off: int, h: int, w: int, ch: int, depth: int
) -> tuple[np.ndarray, int]:
    """Unfilter + unpack one (sub-)image of h×w pixels starting at
    byte ``off`` of the inflated stream; returns ((h, w, ch) uint16
    raw sample values, next offset). Sub-byte depths only occur with
    ch == 1 (grey / palette) per the spec's legal matrix."""
    stride = (w * ch * depth + 7) // 8  # packed bytes per scanline
    bpp = max(1, (ch * depth) // 8)  # filter left-distance, per spec
    need = h * (stride + 1)
    chunk = raw[off : off + need]
    if chunk.size != need:
        raise ValueError("PNG pixel data size mismatch")
    rows = _unfilter(chunk, h, stride, bpp)
    if depth == 8:
        samples = rows.reshape(h, w, ch).astype(np.uint16)
    elif depth == 16:  # network byte order: high byte first
        hi = rows[:, 0::2].astype(np.uint16)
        lo = rows[:, 1::2].astype(np.uint16)
        samples = ((hi << 8) | lo).reshape(h, w, ch)
    else:
        samples = _unpack_samples(rows, w, depth).astype(np.uint16)[:, :, None]
    return samples, off + need


def _decode_gray_impl(data: bytes) -> np.ndarray:
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = 0
    depth = 8
    ctype = -1
    interlace = 0
    plte: np.ndarray | None = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if ctype not in _CHANNELS:
                raise ValueError(f"bad PNG color type {ctype}")
            if depth not in _DEPTHS[ctype]:
                raise ValueError(f"bad depth {depth} for color type {ctype}")
            if interlace not in (0, 1):
                raise ValueError(f"bad interlace method {interlace}")
        elif tag == b"PLTE":
            if length == 0 or length % 3 or length > 768:
                raise ValueError(f"bad PLTE length {length}")
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if not (w and h) or ctype < 0:
        raise ValueError("missing IHDR")
    ch = _CHANNELS[ctype]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        samples, off = _consume_subimage(raw, 0, h, w, ch, depth)
    else:  # Adam7: seven independently-filtered sub-images, scattered
        samples = np.zeros((h, w, ch), dtype=np.uint16)
        off = 0
        for xs, ys, xstep, ystep in _ADAM7:
            wp = (w - xs + xstep - 1) // xstep
            hp = (h - ys + ystep - 1) // ystep
            if wp <= 0 or hp <= 0:
                continue  # pass entirely absent for tiny images
            sub, off = _consume_subimage(raw, off, hp, wp, ch, depth)
            samples[ys::ystep, xs::xstep, :] = sub
    if off != raw.size:
        raise ValueError("PNG pixel data size mismatch")
    if ctype == 3:  # palette: indices -> PLTE RGB -> luma
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        idx = samples[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("palette index out of range")
        return _rec601(plte[idx].astype(np.float64))
    if depth == 16:  # standard 16->8 reduction: high byte
        samples = samples >> 8
    elif depth < 8:  # exact expansion: 255/(2^d−1) is integral
        samples = samples * (255 // ((1 << depth) - 1))
    if ctype in (0, 4):  # grey / grey+alpha: the grey channel
        return samples[:, :, 0].astype(np.uint8)
    return _rec601(samples[:, :, :3].astype(np.float64))
