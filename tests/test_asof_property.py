"""Property-based verification of the generic as-of join composition
against DuckDB's native ASOF JOIN on random inputs.

The union + carry-forward-window composition has the classic
off-by-one hazards (equal timestamps, keys with no right rows, right
rows after every left row); hypothesis drives those corners
systematically instead of relying on one fixture."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from big_data_traffict_prediction_spark.operators.joins import asof_join

EPOCH = dt.datetime(2024, 1, 1)


def _ts(offset: int) -> dt.datetime:
    return EPOCH + dt.timedelta(minutes=offset)


# Small discrete domains force collisions: equal timestamps across and
# within sides, shared and unshared keys.
keys = st.integers(min_value=0, max_value=3)
offsets = st.integers(min_value=0, max_value=10)

left_rows = st.lists(
    st.tuples(keys, offsets, st.integers(min_value=0, max_value=99)),
    min_size=1,
    max_size=12,
)
# right side: unique (key, ts) — duplicate as-of sources are
# ill-defined in every engine
right_rows = st.lists(
    st.tuples(keys, offsets, st.integers(min_value=100, max_value=199)),
    min_size=0,
    max_size=8,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left=left_rows, right=right_rows)
def test_asof_join_matches_duckdb_native(spark, left, right):
    lpdf = pd.DataFrame(
        [(k, _ts(o), v) for k, o, v in left], columns=["k", "ts", "val"]
    )
    rpdf = pd.DataFrame(
        [(k, _ts(o), p) for k, o, p in right], columns=["k", "rts", "payload"]
    )
    ldf = spark.createDataFrame(lpdf)
    rdf = (
        spark.createDataFrame(rpdf)
        if len(rpdf)
        else spark.createDataFrame([], "k bigint, rts timestamp, payload bigint")
    )

    got = sorted(
        (r.k, r.ts, r.val, r.payload)
        for r in asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="rts").collect()
    )

    con = duckdb.connect()
    con.register("l", lpdf)
    con.register("r", rpdf)
    want = sorted(
        tuple(t)
        for t in con.execute(
            """
            SELECT l.k, l.ts, l.val, r.payload
            FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.rts
            """
        ).fetchall()
    )
    assert got == want
