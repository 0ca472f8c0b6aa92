"""Generator determinism and value domains (no Spark needed)."""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen

SMALL = gen.Sizes(events=3_000, cameras=40, customers=500, documents=300, embeddings=200)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_writes_identical_files(tmp_path):
    gen.generate(7, str(tmp_path / "a"), SMALL)
    gen.generate(7, str(tmp_path / "b"), SMALL)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a == b
    assert set(a) == {f"{t}.parquet/part-00000.parquet" for t in gen.TABLE_SCHEMAS}


def test_other_seed_writes_other_values(tmp_path):
    gen.generate(7, str(tmp_path / "a"), SMALL)
    gen.generate(8, str(tmp_path / "b"), SMALL)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert all(a[k] != b[k] for k in a if not k.startswith("customer"))


def test_table_size_does_not_shift_other_tables(tmp_path):
    gen.generate(7, str(tmp_path / "a"), SMALL)
    bigger = gen.Sizes(**{**SMALL.__dict__, "documents": 400})
    gen.generate(7, str(tmp_path / "b"), bigger)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a["events.parquet/part-00000.parquet"] == b["events.parquet/part-00000.parquet"]


def test_event_domains(tmp_path):
    gen.generate(3, str(tmp_path), SMALL)
    ev = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert ev["ts"].min() >= np.datetime64("2024-01-01")
    assert ev["ts"].max() < np.datetime64("2024-01-31")
    assert (ev["user_id"] % 4 != 0).all()  # every camera matches camera_dim
    assert ev["user_id"].max() < SMALL.customers
    assert {"click", "view"} & set(ev["event_type"]) and {"signup", "error", "purchase"} & set(ev["event_type"])
    assert ev["props"].str.match(r'^\{"k": \d+\}$').all()
    assert ev["event_id"].is_unique and ev["ts"].is_monotonic_increasing
    counts = ev["user_id"].value_counts()
    assert counts.iloc[0] > 5 * counts.iloc[-1]  # Zipf-skewed cameras


def test_documents_carry_planted_duplicates(tmp_path):
    gen.generate(3, str(tmp_path), SMALL)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    exact = docs["text"].duplicated().sum()
    assert 0.05 * len(docs) < exact < 0.2 * len(docs)
    assert set(docs["lang"]) == set(gen.LANGS)
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    assert {len(v) for v in emb["embedding"]} == {gen.EMBED_DIM}


def test_append_is_atomic_and_seeded(tmp_path):
    cams = gen.camera_ids(10, 100)
    path = gen.append_events(5, str(tmp_path), 1, 50, cams, first_id=1000,
                             ts_lo_us=gen.TS_START_US, ts_span_us=86_400_000_000)
    assert os.listdir(tmp_path / "events.parquet") == ["part-append-00001.parquet"]
    t = pq.read_table(path)
    assert t.column("event_id").to_pylist() == list(range(1000, 1050))


def test_corrections_keep_keys_and_change_values():
    cams = gen.camera_ids(10, 100)
    ev = gen.events_table(1, 500, cams)
    corr = gen.corrections_table(1, ev, 50)
    ids = corr.column("event_id").to_pylist()
    assert len(set(ids)) == 50 and set(ids) <= set(ev.column("event_id").to_pylist())
    base = dict(zip(ev.column("event_id").to_pylist(), ev.column("ts").to_pylist()))
    assert all(base[i] == t for i, t in zip(ids, corr.column("ts").to_pylist()))


@pytest.mark.parametrize("n_cam,n_cust", [(40, 500), (200, 0)])
def test_camera_ids_match_camera_dim(n_cam, n_cust):
    cams = gen.camera_ids(n_cam, n_cust)
    assert len(cams) == n_cam and (cams % 4 != 0).all()
