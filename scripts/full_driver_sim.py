#!/usr/bin/env python
"""Full local driver simulation: EVERY registered query vs its oracle.

Usage:  python scripts/full_driver_sim.py [sf_dir]   (default sf0.01)

Mirrors the external driver's correctness gate, but over the whole
registry instead of its ~50-name sample: runs each `queries()` entry
on a vanilla SparkSession and, where an `oracle_sql()` twin exists,
compares row counts, schemas, and order-insensitive value hashes via
tests/compare_util.assert_frames_match against DuckDB on the same
parquet. Rows-only queries are executed for a clean row count.

Run it after any engine change (takes ~15 min at sf0.01 on local[8]):
a shared-helper edit reaches many queries, and this re-validates all
of them. Exit code 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import duckdb
    from pyspark.sql import SparkSession

    from compare_util import assert_frames_match

    import __spark_entry__ as entry

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, osql = entry.queries(), entry.oracle_sql()
    fails, hash_ok, rows_only = [], 0, 0
    t0 = time.time()
    for name, fn in qs.items():
        try:
            pdf = fn(spark, sf).toPandas()
            if name in osql:
                duck = con.execute(osql[name]).fetchdf()
                assert_frames_match(pdf, duck, name)
                hash_ok += 1
            else:
                assert len(pdf) >= 0
                rows_only += 1
        except Exception as exc:  # noqa: BLE001 — report and continue
            fails.append(name)
            print(f"FAIL {name}: {exc!r}"[:250], flush=True)
    print(
        f"DONE in {time.time() - t0:.0f}s: {hash_ok} hash-ok, "
        f"{rows_only} rows-only, {len(fails)} FAILED"
        + (f" — {fails}" if fails else "")
    )
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
