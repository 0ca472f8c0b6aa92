"""DuckDB side of the correctness gate: registry oracles over the same
generated files, compared exact and order-insensitive with the
repository's own canonicalization (``tests/compare_util.py``: sort raw
cells, then compare shortest round-trip string images)."""

from __future__ import annotations

import glob
import os

import pandas as pd
from compare_util import canonicalize  # tests/, put on sys.path by run.py


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        raise AssertionError(
            f"{name}: columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
    if len(spark_pdf) != len(duck_pdf):
        raise AssertionError(f"{name}: rows spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if len(spark_pdf) == 0:
        return
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if not a.equals(b):
        bad = [c for c in a.columns if not a[c].equals(b[c])]
        raise AssertionError(f"{name}: values differ in {bad}")


class Oracle:
    """One DuckDB connection with a view per generated table of ``data_dir``."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            table = os.path.basename(path).split(".")[0]
            self.con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def check(self, name: str, sql: str, spark_pdf: pd.DataFrame) -> None:
        assert_frames_match(spark_pdf, self.query(sql), name)

    def close(self) -> None:
        self.con.close()
