"""Seeded input generator: every table a workload reads, as parquet.

The engine reads only these files, so a workload's inputs are a pure
function of ``(seed, sizes)``: the same seed writes byte-identical
files. Value domains follow what the queries filter and join on:

- ``events.ts`` falls within 2024-01-01 .. 2024-01-30 (µs resolution),
  so the ``compat.NOW_TS`` trailing windows and the Thursday 18:00
  prediction slot see data;
- ``events.user_id`` draws Zipf-skewed cameras from customer keys that
  ``operators.joins.camera_dim`` keeps (``c_custkey % 4 != 0``);
- ``event_type`` mixes car (click, view) and motorcycle types;
- ``props`` carries the ``$.k`` key that ``streaming/simulate.py`` reads;
- documents carry a planted share of exact and near duplicates in five
  languages, and embeddings a planted share of near-copy vectors.

Tables are written as directories of parquet part files (``events.parquet/
part-00000.parquet``) so a workload can append one more part atomically:
write it under a hidden name, then rename (``append_events``).
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
TS_SPAN_US = 30 * 86_400 * 1_000_000  # through 2024-01-30 23:59:59.999999
EVENT_TYPES = ("click", "view", "signup", "error", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_MARKERS = {
    "en": ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "los", "de", "y", "es", "un", "una"),
    "fr": ("le", "les", "et", "est", "une", "du"),
    "zh": ("de", "shi", "zai", "he"),
}
VOCAB = (
    "traffic camera road lane car motor bus truck jam flow peak hour "
    "signal junction speed count stream window batch spark query table "
    "scan join sort merge agg value data row column key hash part line "
    "filter group order city north south east west bridge tunnel rain"
).split()
EMBED_DIM = 64
ZIPF_S = 1.1

TABLE_SCHEMAS = {
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated data set (0 = table not written)."""

    events: int = 0
    cameras: int = 200
    customers: int = 0
    documents: int = 0
    dup_share: float = 0.2  # exact + near duplicates among documents
    embeddings: int = 0


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so one table's size never shifts
    another table's values."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def camera_ids(n_cameras: int, n_customers: int) -> np.ndarray:
    """The first ``n_cameras`` customer keys that ``camera_dim`` keeps."""
    keys = np.arange(max(n_customers, 4 * n_cameras), dtype=np.int64)
    return keys[keys % 4 != 0][:n_cameras]


def events_table(
    seed: int, n: int, cams: np.ndarray, first_id: int = 0, stream: str = "events",
    ts_lo_us: int = TS_START_US, ts_span_us: int = TS_SPAN_US,
) -> pa.Table:
    rng = _rng(seed, stream)
    ts = np.sort(ts_lo_us + rng.integers(0, ts_span_us, n, dtype=np.int64))
    ranks = np.arange(1, len(cams) + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    user = cams[rng.choice(len(cams), n, p=p / p.sum())]
    etype = np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    cents = rng.integers(1, 49_003, n)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(first_id + np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user),
            "event_type": pa.array(etype, type=pa.string()),
            "value": pa.array(cents / 100.0),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in k], type=pa.string()),
        },
        schema=TABLE_SCHEMAS["events"],
    )


def customer_table(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], type=pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n) / 100.0),
            "c_mktsegment": pa.array(
                np.asarray(SEGMENTS, dtype=object)[rng.integers(0, len(SEGMENTS), n)],
                type=pa.string(),
            ),
        },
        schema=TABLE_SCHEMAS["customer"],
    )


def _sentence(rng: np.random.Generator, lang: str) -> str:
    n_words = int(rng.integers(8, 90))
    markers = LANG_MARKERS[lang]
    words = [
        markers[int(rng.integers(len(markers)))]
        if rng.random() < 0.3
        else VOCAB[int(rng.integers(len(VOCAB)))]
        for _ in range(n_words)
    ]
    return " ".join(words)


def documents_table(seed: int, n: int, dup_share: float) -> pa.Table:
    """Originals plus planted duplicates: half of ``dup_share`` are exact
    copies of an earlier document, half are near copies (a few words
    replaced), so the dedup kernels see a seeded number of candidate
    pairs."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < dup_share / 2:
            j = int(rng.integers(i))
            texts.append(texts[j])
            langs.append(langs[j])
        elif i > 0 and r < dup_share:
            j = int(rng.integers(i))
            words = texts[j].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts.append(" ".join(words))
            langs.append(langs[j])
        else:
            lang = LANGS[int(rng.choice(len(LANGS), p=[0.44, 0.14, 0.14, 0.13, 0.15]))]
            texts.append(_sentence(rng, lang))
            langs.append(lang)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
        schema=TABLE_SCHEMAS["documents"],
    )


def embeddings_table(seed: int, n: int, dup_share: float) -> pa.Table:
    """Ten label clusters; ``dup_share`` of the vectors are near copies
    (small noise) of an earlier vector."""
    rng = _rng(seed, "embeddings")
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, EMBED_DIM))
    copy = rng.random(n) < dup_share
    copy[0] = False
    for i in np.flatnonzero(copy):
        j = int(rng.integers(i))
        labels[i] = labels[j]
        vecs[i] = vecs[j] + rng.normal(0.0, 0.01, EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        },
        schema=TABLE_SCHEMAS["embeddings"],
    )


def corrections_table(seed: int, events: pa.Table, n: int) -> pa.Table:
    """``n`` distinct existing events re-sent with a new ``value``: the
    late-correction batch an upsert applies (same id and ts, so the
    same lake partition)."""
    rng = _rng(seed, "corrections")
    idx = np.sort(rng.choice(events.num_rows, size=min(n, events.num_rows), replace=False))
    picked = events.take(pa.array(idx))
    cents = rng.integers(1, 49_003, len(idx))
    return picked.set_column(
        picked.schema.get_field_index("value"), "value", pa.array(cents / 100.0)
    )


def write_part(table: pa.Table, table_dir: str, part: str) -> str:
    """Write one part file atomically: hidden name first, then rename,
    so a concurrent reader lists either nothing or the whole file."""
    os.makedirs(table_dir, exist_ok=True)
    final = os.path.join(table_dir, f"{part}.parquet")
    hidden = os.path.join(table_dir, f".{part}.parquet.tmp")
    pq.write_table(table, hidden, compression="snappy")
    os.rename(hidden, final)
    return final


def generate(seed: int, out_dir: str, sizes: Sizes) -> None:
    """Write the tables ``sizes`` asks for under ``out_dir/<table>.parquet/``."""
    cams = camera_ids(sizes.cameras, sizes.customers)
    tables = {
        "events": (sizes.events, lambda: events_table(seed, sizes.events, cams)),
        "customer": (sizes.customers, lambda: customer_table(seed, sizes.customers)),
        "documents": (sizes.documents, lambda: documents_table(seed, sizes.documents, sizes.dup_share)),
        "embeddings": (sizes.embeddings, lambda: embeddings_table(seed, sizes.embeddings, sizes.dup_share)),
    }
    for name, (rows, make) in tables.items():
        if rows:
            write_part(make(), os.path.join(out_dir, f"{name}.parquet"), "part-00000")


def append_events(
    seed: int, out_dir: str, k: int, n: int, cams: np.ndarray, first_id: int,
    ts_lo_us: int, ts_span_us: int,
) -> str:
    """Append the ``k``-th batch of fresh detections to the events table."""
    table = events_table(
        seed, n, cams, first_id=first_id, stream=f"app{k}",
        ts_lo_us=ts_lo_us, ts_span_us=ts_span_us,
    )
    return write_part(table, os.path.join(out_dir, "events.parquet"), f"part-append-{k:05d}")
