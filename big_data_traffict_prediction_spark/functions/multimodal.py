"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata (north-star extension; schemas.MEDIA).

Design for 100 TB: payloads stay in parquet binary columns, metadata
columns drive partition pruning, and all per-payload work happens in
Arrow-batched ``mapInPandas`` — one Python worker per partition, never
per row.

The decode path is REAL for the three uncompressed container formats
this module writes (pure numpy, no external codecs):

- image: binary PGM (``P5``) — header parse + pixel grid decode,
  stats, 8×8 nearest-neighbor thumbnail;
- audio: RIFF/WAVE PCM16 mono — fmt-chunk parse + sample decode,
  RMS, 64-bin envelope;
- video: ``RAWV`` (magic + ``<HHI`` w/h/frame-count + raw grayscale
  frames) — per-frame decode, mean-frame thumbnail.

Baseline **JPEG** is also real — grayscale AND 3-component YCbCr color
(4:4:4 / 4:2:0, collapsing to the Y/luma plane on decode) — via the
from-spec pure-numpy codec in ``functions/jpeg.py`` (ITU-T T.81,
standard Annex-K tables; decodes any 1- or 3-component baseline
SOF0 *or progressive SOF2* JPEG, not just our own output),
and so is **PNG** (``functions/png.py`` — stdlib zlib DEFLATE + real
chunk/CRC/filter handling; decodes the FULL ISO 15948 still-image
matrix: grey at 1/2/4/8/16-bit, palette via PLTE lookup, RGB/RGBA at
8/16-bit, non-interlaced and Adam7, from any producer, collapsing
color to Rec.601 luma). Formats still without a decoder (MP3/H.264,
12-bit/lossless/arithmetic/CMYK JPEG) raise ``NotImplementedError``, so the
gate stays honest instead of faking them.

The media table is derived deterministically from ``documents`` so
every scale factor has a multimodal fixture without writing anywhere;
``encoded_features`` wraps each payload in its container (what a
camera/ripper would produce) and decodes it in the same batch loop;
``decode_features`` decodes containers read from storage.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table, spread_documents

KINDS = ["image", "audio", "video"]
MIMES = {"image": "image/x-portable-graymap", "audio": "audio/wav", "video": "video/x-rawv"}

THUMB = 8  # thumbnail / envelope edge: features are THUMB*THUMB doubles


def media_table(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """Deterministic media fixture: payload = utf-8 bytes of the text,
    kind cycles by doc_id, container dimensions derived from n_chars
    (kept small so sf0.1 stays MB-scale).

    ``spread=True`` reads ``tables.spread_documents`` — required by
    consumers that feed the payloads through Python codec kernels
    (encoded_features / decode_features mapInPandas), which a single
    parquet split would serialize onto ONE Arrow worker. Pure-JVM
    consumers (q_multimodal_meta's scan) keep the default: no shuffle
    of the binary payloads at all."""
    if spread:
        d = spread_documents(spark, sf_dir)
    else:
        d = load_table(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        kind.alias("_k"),
        (F.col("n_chars") % 32 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 24 + 16).cast("int").alias("height"),
        (F.col("n_chars") * 40).cast("long").alias("duration_ms"),
    ).withColumn("mime", F.element_at(
        F.create_map(*[F.lit(x) for kv in MIMES.items() for x in kv]), F.col("_k")
    )).drop("_k")


@register(
    oracle="""
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       sha256(text) AS payload_sha256
FROM documents
ORDER BY media_id
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads: byte length +
    content hash — the scan-side of any multimodal pipeline (pure
    JVM expressions on the binary column; no Python)."""
    m = media_table(spark, sf_dir)
    return m.select(
        "media_id",
        "kind",
        F.octet_length("payload").cast("long").alias("payload_bytes"),
        F.sha2("payload", 256).alias("payload_sha256"),
    ).orderBy("media_id")


# --------------------------------------------------------------- encode

def _tile(raw: bytes, n: int) -> np.ndarray:
    """Tile raw bytes to exactly n uint8 values (deterministic fill)."""
    src = np.frombuffer(raw if raw else b"\x00", dtype=np.uint8)
    return np.resize(src, n)


def _encode_pgm(raw: bytes, w: int, h: int) -> bytes:
    header = f"P5\n{w} {h}\n255\n".encode()
    return header + _tile(raw, w * h).tobytes()


def _encode_wav(raw: bytes) -> bytes:
    """RIFF/WAVE, PCM16 mono 8 kHz; one sample per source byte,
    centered around zero."""
    samples = ((_tile(raw, max(len(raw), 1)).astype(np.int16)) - 128) * 256
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _encode_rawv(raw: bytes, w: int, h: int) -> bytes:
    """RAWV container: magic + <HHI (width, height, n_frames) + raw
    grayscale frames. Frame count mirrors the old fixture formula."""
    n_frames = len(raw) // 64 + 1
    return (
        b"RAWV"
        + struct.pack("<HHI", w, h, n_frames)
        + _tile(raw, w * h * n_frames).tobytes()
    )


def _encode_jpeg(raw: bytes, w: int, h: int) -> bytes:
    """Real baseline JPEG of the tiled payload grid (functions/jpeg.py)."""
    from . import jpeg

    return jpeg.encode_gray(_tile(raw, w * h).reshape(h, w))


def _encode_jpeg_color(raw: bytes, w: int, h: int) -> bytes:
    """Real baseline COLOR (YCbCr 4:2:0) JPEG: payload bytes tiled
    across all three RGB channels (functions/jpeg.py encode_color)."""
    from . import jpeg

    return jpeg.encode_color(_tile(raw, w * h * 3).reshape(h, w, 3))


def _encode_png(raw: bytes, w: int, h: int) -> bytes:
    """Real (lossless) PNG of the tiled payload grid (functions/png.py)."""
    from . import png

    return png.encode_gray(_tile(raw, w * h).reshape(h, w))


def _encode_png_palette(raw: bytes, w: int, h: int) -> bytes:
    """Real (lossless) PALETTE PNG — exercises the PLTE-lookup decode
    path end-to-end with an identity-gray palette."""
    from . import png

    return png.encode_palette(_tile(raw, w * h).reshape(h, w))


def _encode_jpeg_progressive(raw: bytes, w: int, h: int) -> bytes:
    """Real PROGRESSIVE (SOF2) JPEG — exercises the multi-scan
    spectral-selection/successive-approximation decode path."""
    from . import jpeg

    return jpeg.encode_progressive(_tile(raw, w * h).reshape(h, w))


def _encoder_for(image_codec: str):
    """Per-row container-encode closure of ``encoded_features``: wraps
    each raw payload in a real PGM/JPEG/PNG / WAV / RAWV container per
    its kind, sized by the metadata columns. ``image_codec`` picks the
    image container; ``"mixed"`` cycles every codec deterministically
    by media_id so one fixture exercises every decoder. Validates on
    the DRIVER: a typo'd codec must fail before the job launches, not
    as a KeyError from an executor mid-scan."""
    codecs = {
        "pgm": _encode_pgm,
        "jpeg": _encode_jpeg,
        "png": _encode_png,
        "jpeg_color": _encode_jpeg_color,
        "png_palette": _encode_png_palette,
        "jpeg_progressive": _encode_jpeg_progressive,
    }
    mix = list(codecs.values())
    if image_codec != "mixed" and image_codec not in codecs:
        raise ValueError(
            f"unknown image_codec {image_codec!r}; "
            f"expected one of {sorted(codecs)} or 'mixed'"
        )

    def encode_one(media_id, raw: bytes, kind: str, w, h) -> bytes:
        if kind == "image":
            fn = (
                mix[(int(media_id) // 3) % len(mix)]
                if image_codec == "mixed"
                else codecs[image_codec]
            )
            return fn(raw, int(w), int(h))
        if kind == "audio":
            return _encode_wav(raw)
        return _encode_rawv(raw, int(w), int(h))

    return encode_one


# --------------------------------------------------------------- decode

_PGM_HEADER = re.compile(rb"^P5\s+(\d+)\s+(\d+)\s+255\s")


def _thumb(a: np.ndarray) -> np.ndarray:
    """Nearest-neighbor resize of a 2-D array to THUMB×THUMB."""
    h, w = a.shape
    yi = (np.arange(THUMB) * h) // THUMB
    xi = (np.arange(THUMB) * w) // THUMB
    return a[np.ix_(yi, xi)]


def _image_result(grid: np.ndarray, ok: bool = True) -> dict:
    """Shared feature dict for every image codec: one constructor so
    the decoded schema cannot silently diverge between PNG/JPEG/PGM."""
    h, w = grid.shape
    return {
        "decoded_ok": bool(ok),
        "width": w,
        "height": h,
        "n_frames": 1,
        "n_samples": w * h,
        "level_mean": float(grid.mean()),
        "level_std": float(grid.std()),
        "feature": (_thumb(grid) / 255.0).ravel().tolist(),
    }


def _decode_payload(payload: bytes, kind: str) -> dict:
    """REAL decode kernel for the containers this module writes (pure
    numpy; PNG/JPEG via the from-spec codecs in this package). Unknown
    magics raise — general codec libraries are not in this container
    and faking them would be dishonest. Malformed containers raise
    ``ValueError`` (the same classification contract as the png/jpeg
    codecs — never a raw struct/index error), so ``decode_features``'s
    ``on_error="mark"`` mode can catch per-row."""
    try:
        return _decode_payload_impl(payload, kind)
    except (KeyError, IndexError, struct.error, OverflowError, AssertionError) as exc:
        raise ValueError(f"malformed {kind} container: {exc!r}") from exc


def _decode_payload_impl(payload: bytes, kind: str) -> dict:
    if kind == "image" and payload[:8] == b"\x89PNG\r\n\x1a\n":
        from . import png

        return _image_result(png.decode_gray(payload).astype(np.float64))
    if kind == "image" and payload[:2] == b"\xff\xd8":
        from . import jpeg

        return _image_result(jpeg.decode_gray(payload).astype(np.float64))
    if kind == "image" and payload[:2] == b"P5":
        m = _PGM_HEADER.match(payload)
        if not m:
            raise ValueError("malformed PGM header")
        w, h = int(m.group(1)), int(m.group(2))
        px = np.frombuffer(payload, dtype=np.uint8, offset=m.end())
        return _image_result(
            np.resize(px, (h, w)).astype(np.float64), ok=px.size == w * h
        )
    if kind == "audio" and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        (fmt_len,) = struct.unpack_from("<I", payload, 16)
        audio_fmt, channels, rate = struct.unpack_from("<HHI", payload, 20)
        data_off = 20 + fmt_len
        if payload[data_off : data_off + 4] != b"data":
            raise ValueError("WAV data chunk not found after fmt")
        (data_len,) = struct.unpack_from("<I", payload, data_off + 4)
        samples = np.frombuffer(
            payload, dtype="<i2", offset=data_off + 8, count=data_len // 2
        ).astype(np.float64)
        ok = audio_fmt == 1 and channels == 1 and rate == 8000
        env = np.abs(np.resize(samples, THUMB * THUMB)) / 32768.0
        return {
            "decoded_ok": bool(ok),
            "width": 0,
            "height": 0,
            "n_frames": 1,
            "n_samples": samples.size,
            "level_mean": float(samples.mean()),
            "level_std": float(samples.std()),
            "feature": env.tolist(),
        }
    if kind == "video" and payload[:4] == b"RAWV":
        w, h, n_frames = struct.unpack_from("<HHI", payload, 4)
        px = np.frombuffer(payload, dtype=np.uint8, offset=12)
        ok = px.size == w * h * n_frames
        frames = np.resize(px, (n_frames, h, w)).astype(np.float64)
        mean_frame = frames.mean(axis=0)
        return {
            "decoded_ok": bool(ok),
            "width": w,
            "height": h,
            "n_frames": n_frames,
            "n_samples": px.size,
            "level_mean": float(frames.mean()),
            "level_std": float(frames.std()),
            "feature": (_thumb(mean_frame) / 255.0).ravel().tolist(),
        }
    raise NotImplementedError(
        f"no codec for kind={kind!r} magic={payload[:4]!r} in this container"
    )


FEATURE_SCHEMA = (
    "media_id long, kind string, payload_bytes long, decoded_ok boolean, "
    "width int, height int, n_frames long, n_samples long, "
    "level_mean double, level_std double, feature array<double>"
)


_DECODE_ERROR_ROW = {
    "decoded_ok": False,
    "width": None,
    "height": None,
    "n_frames": None,
    "n_samples": None,
    "level_mean": None,
    "level_std": None,
    "feature": None,
}


def decode_features(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """mapInPandas decode/feature-extract: Arrow batches in, one
    feature row per media out. This is the one legitimately-Python
    operator in the engine (codec/model kernels), batched exactly the
    way a real GPU/codec kernel would want.

    ``on_error`` is the 100 TB-crawl knob: ``"raise"`` (default —
    fixtures are well-formed, a failure is a bug and must fail the
    job) or ``"mark"`` — a payload whose decode raises ValueError /
    NotImplementedError yields its row with ``decoded_ok=False`` and
    null stats instead of killing the task, because at real corpus
    scale corrupt and exotic blobs are data, not exceptions. Only
    classifiable decode errors are absorbed; genuine bugs still
    propagate."""
    if on_error not in ("raise", "mark"):
        raise ValueError(f"on_error must be 'raise' or 'mark', got {on_error!r}")

    def decode_one(payload: bytes, kind: str) -> dict:
        if on_error == "raise":
            return _decode_payload(payload, kind)
        try:
            return _decode_payload(payload, kind)
        except (ValueError, NotImplementedError):
            return _DECODE_ERROR_ROW

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # null payloads (failed fetch rows in a crawl) decode as
            # empty bytes → the unknown-magic gate classifies them, so
            # mark mode absorbs them instead of dying on bytes(None)
            meta = [
                decode_one(bytes(p) if p is not None else b"", k)
                for p, k in zip(pdf["payload"], pdf["kind"], strict=True)
            ]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_bytes": [
                        len(bytes(p)) if p is not None else 0
                        for p in pdf["payload"]
                    ],
                }
            )
            for col in (
                "decoded_ok",
                "width",
                "height",
                "n_frames",
                "n_samples",
                "level_mean",
                "level_std",
                "feature",
            ):
                out[col] = [m[col] for m in meta]
            yield out

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def encoded_features(df: DataFrame, image_codec: str = "pgm") -> DataFrame:
    """Container encode (``_encoder_for``) then decode + feature
    extract (``_decode_payload``, as in ``decode_features``) in ONE
    mapInPandas stage: every chained Python operator pays a full
    JVM→Python→JVM Arrow crossing of the payload bytes plus a worker
    stage, and the container bytes here exist only BETWEEN the two
    kernels, so encoding and decoding in the same batch loop saves
    one round trip of the whole binary corpus. ``image_codec="jpeg"``
    is lossy (feature invariants, not byte equality, survive the
    round trip); the PNG and PGM containers are lossless. A pipeline
    with PERSISTED containers reads them back through
    ``decode_features``. A payload that fails to decode fails the job:
    it was encoded in the same batch, so a failure is a bug."""
    encode_one = _encoder_for(image_codec)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, pbytes = [], []
            for mid, raw, kind, w, h in zip(
                pdf["media_id"],
                pdf["payload"],
                pdf["kind"],
                pdf["width"],
                pdf["height"],
                strict=True,
            ):
                enc = encode_one(mid, bytes(raw), kind, w, h)
                pbytes.append(len(enc))
                metas.append(_decode_payload(enc, kind))
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_bytes": pbytes,
                }
            )
            for col in (
                "decoded_ok",
                "width",
                "height",
                "n_frames",
                "n_samples",
                "level_mean",
                "level_std",
                "feature",
            ):
                out[col] = [m[col] for m in metas]
            yield out

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


@register(oracle=None)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container encode → REAL decode + feature extract over binary
    payloads via ONE fused mapInPandas stage (``encoded_features``;
    two-stage shape pinned equal by test) — images cycle through all
    six real image codecs (PGM / baseline JPEG / PNG / color JPEG /
    palette PNG / progressive JPEG) so every decode gate is exercised
    end-to-end, audio/video stay WAV/RAWV (all pure numpy + stdlib
    zlib). Python-side by necessity → no SQL oracle;
    tests/test_llm_ops.py pins the round-trip values per codec.

    The feature vector is serialized to a JSON string in the returned
    frame (internal consumers keep the array form from
    ``decode_features``): the registered surface is scalar-only so a
    correctness harness that sorts raw cells can canonicalize it."""
    feats = encoded_features(
        media_table(spark, sf_dir, spread=True), image_codec="mixed"
    )
    return feats.withColumn("feature", F.to_json("feature")).orderBy("media_id")


@register(
    oracle="""
SELECT media_id, n_frames,
       CAST(unnest(generate_series(0, greatest(n_frames - 1, 0), 8)) AS BIGINT)
         AS frame_no
FROM (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) // 64 + 1 AS BIGINT) AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
ORDER BY media_id, frame_no
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video payloads: decode the RAWV frame count,
    emit one row per sampled frame (every 8th) — the
    explode-after-decode shape of video pipelines. posexplode keeps
    frame indices deterministic.

    Oracle-backed: the Spark side decodes the REAL RAWV container; the
    DuckDB twin re-derives n_frames from the container spec
    (len(payload)//64 + 1 frames, video = doc_id%3==2) — a hash match
    therefore proves the binary encode→decode round trip recovered the
    frame count exactly, a strictly stronger check than rows-only."""
    feats = encoded_features(
        media_table(spark, sf_dir, spread=True).filter(F.col("kind") == "video")
    )
    frame_idx = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.col("n_frames") - 1, F.lit(0).cast("long")),
        F.lit(8).cast("long"),
    )
    return (
        feats.select("media_id", "n_frames", F.explode(frame_idx).alias("frame_no"))
        .orderBy("media_id", "frame_no")
    )


# ------------------------------------------------- perceptual-hash dedup

def _phash_col() -> F.Column:
    """56-bit dHash from the 64-d thumbnail/envelope feature: bit
    r*7+c = feature[r*8+c+1] > feature[r*8+c]. Pure JVM expression —
    Python stops at decode; hashing/bucketing stay in codegen."""
    bits = [
        F.when(
            F.col("feature")[r * THUMB + c + 1] > F.col("feature")[r * THUMB + c],
            F.lit(1 << (r * (THUMB - 1) + c)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for r in range(THUMB)
        for c in range(THUMB - 1)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


PHASH_REPLICA_EVERY = 25  # plant a byte-identical replica of every 25th media
PHASH_REPLICA_OFFSET = 1_000_000


def media_with_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media fixture plus deterministic byte-identical replicas
    (media_id + 1,000,000 for every
    25th id — PHASH_REPLICA_OFFSET / PHASH_REPLICA_EVERY) — the re-upload/copy phenomenon image
    dedup exists to catch; this synthetic corpus has no organic
    payload duplicates (verified: zero duplicate normalized texts at
    test SFs), so the duplicates are planted where a crawl would have
    them."""
    m = media_table(spark, sf_dir, spread=True)  # phash decodes in Python
    replicas = m.filter(F.col("media_id") % PHASH_REPLICA_EVERY == 0).withColumn(
        "media_id", F.col("media_id") + PHASH_REPLICA_OFFSET
    )
    return m.unionByName(replicas)


@register(oracle=None)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over decoded media:
    dHash (adjacent-pixel gradient sign) of each payload's 8×8
    thumbnail / envelope, exact-hash bucket group-and-expand into
    duplicate pairs — the image-dedup step of a multimodal training
    corpus (identical or near-identical frames collapse to one
    representative). Runs over the fixture + planted replicas
    (`media_with_replicas`), which every pair must trace back to.

    Encode+decode run as one fused Python stage (``encoded_features``
    — the container bytes never round-trip through the JVM); the hash is a static
    56-comparison codegen expression and candidate generation is the
    same capped bucket expand as q_dedup_simhash — work ∝ duplicate
    clusters, never all-pairs. Python feature extraction → no SQL
    oracle (rows-only); tests pin that every planted replica pairs
    with its source."""
    from .dedup import bucket_pair_expand

    feats = encoded_features(media_with_replicas(spark, sf_dir))
    sig = feats.select("media_id", "kind", _phash_col().alias("phash"))
    return (
        bucket_pair_expand(
            sig, ("kind", "phash"), F.col("media_id"), lambda a, b: a < b
        )
        .select("kind", "phash", F.col("p.a").alias("m1"), F.col("p.b").alias("m2"))
        .orderBy("kind", "m1", "m2")
    )
