"""Property tests for the shared multiplicative hash (KMV sketch +
stratified sampler, operators/pipeline.py).

Two renditions must stay in lock-step: the Spark Column expression
(`_mul_hash`, pmod semantics — always non-negative) and its DuckDB SQL
twin (`_mul_hash_sql`). SQL `%` follows the dividend's sign, so the
twin folds every remainder back into [0, M); these tests pin that
equivalence against a plain-Python pmod model over the FULL int64
domain — including the negative ids the testdata never produces.
Spark-free: DuckDB + Python only, so the property runs in milliseconds.

The salted md5 hash (compat.md5_hash / md5_hash_sql) and the HLL
register cell built on it get the same treatment: each rendition
against a Python model, with one small Spark test for the Column side.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from big_data_traffict_prediction_spark.operators.pipeline import (
    HASH_A,
    HASH_C,
    HASH_M,
    SAMPLE_SEED,
    _mul_hash_sql,
)

int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def _py_pmod_hash(x: int, add: int) -> int:
    """Python model of the Spark Column rendition: F.pmod is the
    mathematical mod (result in [0, M)), which is what Python % does."""
    return ((x % HASH_M) * HASH_A + add) % HASH_M


@settings(max_examples=200, deadline=None)
@given(x=int64s, seed=st.sampled_from([HASH_C, SAMPLE_SEED]))
def test_sql_twin_matches_pmod_model(x, seed):
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {_mul_hash_sql(f'CAST({x} AS BIGINT)', seed)}"
    ).fetchone()[0]
    want = _py_pmod_hash(x, seed)
    assert got == want, f"x={x} seed={seed}: sql={got} pmod={want}"
    assert 0 <= got < HASH_M


@settings(max_examples=50, deadline=None)
@given(x=int64s)
def test_sql_twin_never_overflows_int64(x):
    # worst intermediate: (M-1) * HASH_A + add < 2^62 — the fold-first
    # design keeps every product inside BIGINT at any id magnitude
    worst = (HASH_M - 1) * HASH_A + max(HASH_C, SAMPLE_SEED)
    assert worst < 2**63
    con = duckdb.connect()
    # DuckDB raises on BIGINT overflow rather than wrapping; executing
    # proves no intermediate leaves the domain
    con.execute(f"SELECT {_mul_hash_sql(f'CAST({x} AS BIGINT)', HASH_C)}").fetchone()


# ---- HLL register model (pure Python twin of operators/pipeline) ----


def _hll_rank(h: int) -> tuple[int, int]:
    """(bucket, rank) exactly as both engines compute them."""
    from big_data_traffict_prediction_spark.operators.pipeline import (
        HLL_MAX_RANK,
        _HLL_WMOD,
    )

    bucket = h // _HLL_WMOD
    w = h % _HLL_WMOD
    if w == 0:
        return bucket, HLL_MAX_RANK
    return bucket, 1 + ((w & -w) - 1).bit_count()


def _hll_registers_py(ids) -> dict[int, int]:
    import hashlib

    regs: dict[int, int] = {}
    for i in ids:
        h = int(hashlib.md5(f"hll#{i}".encode()).hexdigest()[:10], 16)
        b, r = _hll_rank(h)
        regs[b] = max(regs.get(b, 0), r)
    return regs


@given(
    st.sets(st.integers(min_value=0, max_value=10**9), max_size=300),
    st.sets(st.integers(min_value=0, max_value=10**9), max_size=300),
)
def test_hll_register_merge_is_union(a, b):
    """The algebraic property the merged '__all__' row and the rolling
    7-day rollup both rely on: registers(A ∪ B) == per-bucket max of
    registers(A), registers(B). Exact, for any id sets."""
    ra, rb = _hll_registers_py(a), _hll_registers_py(b)
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert merged == _hll_registers_py(a | b)


@given(st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=500))
def test_hll_rank_bounds_and_determinism(ids):
    from big_data_traffict_prediction_spark.operators.pipeline import (
        HLL_M,
        HLL_MAX_RANK,
    )

    regs = _hll_registers_py(ids)
    assert all(0 <= b < HLL_M for b in regs)
    assert all(1 <= r <= HLL_MAX_RANK for r in regs.values())
    assert regs == _hll_registers_py(ids)  # pure function of the set


# ---- salted md5 hash (compat.md5_hash / md5_hash_sql) ----

md5_keys = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)


def _py_md5_hash(s: str, digits: int) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:digits], 16)


@settings(max_examples=200, deadline=None)
@given(s=md5_keys, digits=st.sampled_from([10, 15]))
def test_md5_hash_sql_matches_python_model(s, digits):
    from big_data_traffict_prediction_spark.compat import md5_hash_sql

    got = duckdb.connect().execute(f"SELECT {md5_hash_sql('?', digits)}", [s]).fetchone()[0]
    assert got == _py_md5_hash(s, digits)
    assert 0 <= got < 16**digits


def test_md5_hash_takes_only_the_two_widths():
    import pytest

    from big_data_traffict_prediction_spark.compat import md5_hash_sql

    for digits in (9, 16):  # 16 hex digits no longer fit a BIGINT
        with pytest.raises(ValueError):
            md5_hash_sql("x", digits)


@settings(max_examples=200, deadline=None)
@given(h=st.integers(min_value=0, max_value=2**40 - 1))
def test_hll_cell_sql_matches_python_model(h):
    from big_data_traffict_prediction_spark.operators.pipeline import _HLL_CELL_SQL

    got = duckdb.connect().execute(
        f"SELECT {_HLL_CELL_SQL} FROM (SELECT CAST(? AS BIGINT) AS h)", [h]
    ).fetchone()
    assert got == _hll_rank(h)


def test_md5_hash_column_matches_python_model(spark):
    """The Spark rendition on a small frame: equal to the model at both
    widths, and NULL in gives NULL out."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.compat import md5_hash
    from big_data_traffict_prediction_spark.operators.pipeline import (
        hll_bucket_col,
        hll_rank_col,
    )

    keys = ["", "7", "zm#7", "hll#12345", "naïve ünïcode", None]
    h10 = md5_hash(F.col("k"), 10)
    rows = (
        spark.createDataFrame([(k,) for k in keys], "k string")
        .select(
            "k",
            h10.alias("h10"),
            md5_hash(F.col("k"), 15).alias("h15"),
            hll_bucket_col(h10).alias("bucket"),
            hll_rank_col(h10).alias("rank"),
        )
        .collect()
    )
    assert len(rows) == len(keys)
    for r in rows:
        if r.k is None:
            assert (r.h10, r.h15, r.bucket, r.rank) == (None, None, None, None)
            continue
        assert r.h10 == _py_md5_hash(r.k, 10)
        assert r.h15 == _py_md5_hash(r.k, 15)
        assert (r.bucket, r.rank) == _hll_rank(r.h10)
