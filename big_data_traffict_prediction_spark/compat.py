"""Semantics shims: SQLite/Python reference quirks ↔ Spark, plus the
cross-engine determinism helpers the DuckDB oracle comparison relies
on (SURVEY.md §4 "custom rules: none required" — these are expression
helpers, not Catalyst rules).

Cross-engine reproducibility rules used throughout the operators:

- **dow0**: SQLite ``strftime('%w')`` is 0=Sunday (reference
  ``app/database.py:126-127``); Spark ``dayofweek`` is 1=Sunday;
  DuckDB ``dayofweek`` is 0=Sunday. ``dow0 = dayofweek(ts) - 1``
  everywhere on the Spark side.
- **exact-integer aggregation**: summing doubles is
  partition-order-dependent, so any aggregated metric derived from a
  double column goes through ``FLOOR(x * 10^k)`` → BIGINT first
  ("fixed-point cents"); sums/averages over exact integers are
  bit-identical across engines and partitionings. This also matches
  the reference's ``int()`` truncation semantics
  (``app/services/camera.py:264-278``) — truncation, never rounding.
- **epoch seconds as BIGINT**: bucket arithmetic uses integer epoch
  seconds (``unix_micros // 1_000_000``), never a double epoch, so
  ``floor(epoch/interval)`` can't flip at bucket boundaries from a
  1-ULP error.
- **salted md5 hash**: every hash that must match across engines is
  the first ``d`` hex digits of ``md5(salt || key)`` read as a BIGINT
  — ``md5_hash`` on the Spark side, ``md5_hash_sql`` in the oracles.
  ``d`` is 15 (60-bit hash) or 10 (40-bit, which keeps the double-hash
  sum ``h1 + s·h2`` inside int64); both are nonnegative in both
  engines, so ``%`` agrees too. The salt prefix (``'zm#'``,
  ``'hll#'``, ...) decorrelates one query's hash from another's.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MICROS = 1_000_000


def dow0(ts: Column | str) -> Column:
    """Day-of-week, 0=Sunday..6=Saturday (SQLite ``%w`` semantics)."""
    return (F.dayofweek(ts) - F.lit(1)).cast("int")


def epoch_s(ts: Column | str) -> Column:
    """Integer unix epoch seconds (truncated, exact)."""
    col = F.col(ts) if isinstance(ts, str) else ts
    return F.floor(F.unix_micros(col) / MICROS).cast("long")


def bucket_epoch(ts: Column | str, interval_s: int) -> Column:
    """Tumbling-bucket start as integer epoch seconds:
    ``int(ts // interval) * interval`` (reference ``app/routes.py:112``)."""
    return (F.floor(epoch_s(ts) / interval_s) * interval_s).cast("long")


def fixed_point(x: Column | str, scale: int = 10_000) -> Column:
    """Exact-integer image of a double: ``FLOOR(x * scale)`` as BIGINT.

    Aggregate these, then divide the final sum by ``scale`` — never sum
    raw doubles that must hash-match another engine.
    """
    col = F.col(x) if isinstance(x, str) else x
    return F.floor(col * scale).cast("long")


def iou(b1: tuple[Column, Column, Column, Column], b2: tuple[Column, Column, Column, Column]) -> Column:
    """Intersection-over-union of two [x1,y1,x2,y2] boxes as pure
    column arithmetic — no UDF (reference hand-codes this in Python,
    ``app/services/camera.py:88-104``)."""
    x1a, y1a, x2a, y2a = b1
    x1b, y1b, x2b, y2b = b2
    ix = F.greatest(F.lit(0), F.least(x2a, x2b) - F.greatest(x1a, x1b))
    iy = F.greatest(F.lit(0), F.least(y2a, y2b) - F.greatest(y1a, y1b))
    inter = (ix * iy).cast("long")
    area_a = ((x2a - x1a) * (y2a - y1a)).cast("long")
    area_b = ((x2b - x1b) * (y2b - y1b)).cast("long")
    union = area_a + area_b - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


# Deterministic "now" for trailing-window queries: the testdata events
# span 2024-01-01 .. 2024-01-30 (all SFs); queries take `now` as a
# parameter (the reference hardwires wall-clock time.time(); we make it
# explicit so results are reproducible — SURVEY.md §2.4 A2).
NOW_TS = "2024-01-31 00:00:00"
NOW_EPOCH = 1706659200  # 2024-01-31T00:00:00Z


def constant_key(col: Column) -> Column:
    """A window partition key that is CONSTANT at runtime but that
    Catalyst cannot constant-fold away (column-derived ``col % 1``).

    For cluster-width or calendar-width frames (per-partition offset
    tables, date spines — sizes bounded by cluster width or the
    calendar, never by data volume) a single window partition is
    correct BY DESIGN; this key states that explicitly instead of
    tripping WindowExec's no-partition warning (which is aimed at
    data-sized frames), and keeps every ordered window carrying a
    partition key so the registry-wide plan test
    (tests/test_plans.py) can enforce the rule with zero exemptions.
    Centralized here so a Catalyst release that learns to fold the
    expression is fixed in one place.

    ``coalesce(..., 0)`` keeps the key constant when ``col`` is NULL —
    ``NULL % 1`` is NULL, which would silently split the "constant"
    partition in two (NULL-keyed rows ranked separately from the rest).
    """
    return F.coalesce(col % F.lit(1), F.lit(0))


def global_prefix_min(df, order_cols, value_col: str):
    """Distributed EXCLUSIVE global prefix-min: adds ``_pre`` — the
    minimum of ``value_col`` over all rows STRICTLY before the current
    row under ``order_cols`` (NULL for the global first row) — without
    a single-partition data-sized window.

    Same scaffold as :func:`global_rank`: ``repartitionByRange`` on
    the sort key is the distributed sort; each range partition scans
    its own running min in parallel; the per-partition mins —
    cluster-width-sized, never data-sized — yield broadcast offsets,
    so the global prefix min is ``least(local running min,
    earlier-partition min)`` (``least`` skips NULLs, so partition-first
    rows inherit the earlier-partition min alone).
    """
    from pyspark.sql import Window

    d = (
        df.repartitionByRange(16, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    pmins = d.groupBy("_pid").agg(F.min(value_col).alias("_pmin"))
    w_off = (
        Window.partitionBy(constant_key(F.col("_pid")))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = pmins.select("_pid", F.min("_pmin").over(w_off).alias("_prefix"))
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(
            "_pre", F.least(F.min(value_col).over(w_loc), F.col("_prefix"))
        )
        .drop("_pid", "_prefix")
    )


def global_rank(df, order_cols, partitions: int = 16, sum_col: str | None = None):
    """Distributed GLOBAL row rank: adds ``_rk`` (1-based global rank
    under ``order_cols``) and ``_n`` (total rows) without a
    single-partition data-sized window. With ``sum_col``, also adds
    the global inclusive prefix sum ``_cum`` and grand total ``_tot``
    of that column (the distributed prefix-scan).

    ``repartitionByRange`` on the sort key is the distributed sort;
    each range partition ranks (and prefix-sums) its own rows in
    parallel, partitioned by ``spark_partition_id``; the per-partition
    counts/sums — cluster-width-sized, never data-sized — yield
    broadcast offsets, so global rank = offset + local rank (and
    global prefix sum = earlier-partition sum + local running sum).
    A lazy localCheckpoint materializes the range shuffle once for
    both consumers (ranked rows + offsets). ``partitions`` bounds
    parallelism by CLUSTER size; correctness never depends on it.
    """
    from pyspark.sql import Window

    d = (
        df.repartitionByRange(partitions, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    aggs = [F.count(F.lit(1)).alias("_c")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).alias("_s"))
    counts = d.groupBy("_pid").agg(*aggs)
    # the offsets frame is ≤ `partitions` rows (cluster-width), so one
    # window partition is correct by design — see constant_key.
    w_off = (
        Window.partitionBy(constant_key(F.col("_pid")))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy(constant_key(F.col("_pid")))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    off_cols = [
        F.col("_pid"),
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_all).alias("_n"),
    ]
    if sum_col is not None:
        off_cols.append(F.coalesce(F.sum("_s").over(w_off), F.lit(0)).alias("_soff"))
        off_cols.append(F.sum("_s").over(w_all).alias("_tot"))
    offsets = counts.select(*off_cols)
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn("_rk", F.row_number().over(w_local) + F.col("_off"))
    )
    if sum_col is not None:
        out = out.withColumn(
            "_cum",
            F.sum(sum_col).over(
                w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            + F.col("_soff"),
        ).drop("_soff")
    return out.drop("_pid", "_off")


MD5_HASH_DIGITS = (10, 15)  # 40-bit and 60-bit hashes


def _hash_digits(digits: int) -> int:
    if digits not in MD5_HASH_DIGITS:
        raise ValueError(f"md5 hash width must be one of {MD5_HASH_DIGITS}, got {digits}")
    return digits


def md5_hash(c: Column, digits: int) -> Column:
    """First ``digits`` hex digits of ``md5(c)`` as a BIGINT; NULL in,
    NULL out. The Spark rendition of ``md5_hash_sql``."""
    return F.conv(F.substring(F.md5(c), 1, _hash_digits(digits)), 16, 10).cast("long")


def md5_hash_sql(expr: str, digits: int) -> str:
    """DuckDB rendition of ``md5_hash`` over the SQL expression ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {_hash_digits(digits)})) AS BIGINT)"


def idiv(a: Column, b: Column) -> Column:
    """Exact int64 integral division (Spark's ``div`` function):
    truncation toward zero, matching DuckDB's ``//`` on BIGINT — the
    shared cross-engine form for estimator/ratio denominators. Equals
    floor for the non-negative operands these ratios use; for possibly
    negative numerators both engines still agree (both truncate)."""
    return F.call_function("div", a, b)


def exact_ppm(numer: Column, denom: Column, scale: int = 1_000_000) -> Column:
    """Exact parts-per-million: ``(numer * 1e6) div denom`` in LONG
    integer arithmetic, matching the oracles' exact ``//``.

    The double form ``floor(n * 1_000_000.0 / d)`` silently diverges
    once ``n * 1e6`` exceeds 2^53 (counts ≈ 9e9 — reachable at 100 TB);
    integral ``div`` truncates toward zero, which equals floor for the
    non-negative operands every ppm/bp ratio here uses.
    """
    return F.call_function(
        "div", numer.cast("long") * F.lit(scale).cast("long"), denom.cast("long")
    )


def let(bound: Column, body) -> Column:
    """Bind an expensive expression ONCE and use it many times.

    Catalyst's CollapseProject inlines a projected expression into
    every downstream reference; an expression referenced N times is
    then *computed* N times (fatal for array signatures like minhash
    vectors). A single-element-array ``transform`` introduces a real
    lambda binding the optimizer cannot inline through::

        let(mh_expr, lambda m: ...m...m...)   # mh_expr evaluated once
    """
    return F.element_at(F.transform(F.array(bound), body), 1)
