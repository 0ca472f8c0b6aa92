"""Statistical analytics over the traffic stream: seasonal-baseline
anomaly detection and camera-profile correlation.

The reference surfaces per-(dow,hour) averages as its "pattern"
(app/utils.py avg-of-sums); the natural next questions an operator of
that system asks — "which observations are abnormal for their hour?"
and "which cameras behave alike?" — are these two queries.

Determinism contract (SCALE.md): every statistic is built from EXACT
integer window/group sums (n, Σx, Σx², Σxy) and only then combined in
ONE fixed scalar double expression, identical text on both engines.
Aggregation order therefore cannot change a single bit of the result —
`stddev_samp`/`corr` built-ins are deliberately avoided because their
running-double accumulation is order- (and engine-) dependent.

Scale shape:
- anomaly: two linear shuffles — (camera, date, hour) pre-aggregation,
  then an unordered window over (camera, hour); no joins.
- correlation: the fact table reduces to a (camera, hour) profile
  matrix FIRST (linear); the quadratic pair join runs only over the
  top-{TOP_PROFILE_CAMERAS} busiest cameras — dimension-sized by
  construction, broadcast to one task's worth of work — never over
  facts.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import (
    constant_key,
    exact_ppm,
    global_prefix_min,
    global_rank,
    md5_hash,
    md5_hash_sql,
)
from ..registry import register
from ..tables import load_table, traffic_history, with_traffic

Z_THRESHOLD = 2.0
MIN_BASELINE_DAYS = 3

# The exact-int → one-double-expression variance/z formulas, written
# once; the Spark expressions below mirror this text operator-for-
# operator so the IEEE evaluation is identical.
_VAR_SQL = "(CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1))"


@register(
    oracle=with_traffic(f"""
, hourly AS (
  SELECT camera_id, date_trunc('day', ts) AS day_ts,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
         CAST(SUM(new_count) AS BIGINT) AS hourly_count
  FROM traffic GROUP BY 1, 2, 3
), stats AS (
  SELECT camera_id, day_ts, hour, hourly_count,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(hourly_count) OVER w AS BIGINT) AS s,
         CAST(SUM(hourly_count * hourly_count) OVER w AS BIGINT) AS ss
  FROM hourly
  WINDOW w AS (PARTITION BY camera_id, hour)
), z AS (
  SELECT camera_id, day_ts, hour, hourly_count, n,
         CAST(s AS DOUBLE) / n AS baseline_mean,
         (CAST(hourly_count AS DOUBLE) - CAST(s AS DOUBLE) / n)
           / sqrt({_VAR_SQL}) AS zscore
  FROM stats
  WHERE n >= {MIN_BASELINE_DAYS}
    AND (CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s) > 0
)
SELECT camera_id, day_ts, hour, hourly_count, n AS baseline_days,
       baseline_mean, zscore
FROM z
WHERE abs(zscore) > {Z_THRESHOLD}
ORDER BY camera_id, day_ts, hour
"""),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal z-score anomalies: each (camera, date, hour) count is
    scored against that camera+hour's cross-date baseline; rows beyond
    |z| > {Z_THRESHOLD} with ≥ {MIN_BASELINE_DAYS} baseline days flag.

    The baseline window is unordered (partition aggregate only), so
    the plan is exchange → window, no sort-by-value; at 100 TB both
    shuffles key on (camera, …) — the same high-cardinality family as
    the flagship, skew-safe."""
    h = (
        traffic_history(spark, sf_dir)
        .groupBy(
            "camera_id",
            F.date_trunc("day", "ts").alias("day_ts"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.sum("new_count").cast("long").alias("hourly_count"))
    )
    w = Window.partitionBy("camera_id", "hour")
    stats = h.select(
        "camera_id",
        "day_ts",
        "hour",
        "hourly_count",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("hourly_count").over(w).cast("long").alias("s"),
        F.sum(F.col("hourly_count") * F.col("hourly_count")).over(w).cast("long").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (ss.cast("double") * n - s.cast("double") * s) / (
        n.cast("double") * (n - 1)
    )
    z = (F.col("hourly_count").cast("double") - s.cast("double") / n) / F.sqrt(var)
    return (
        stats.filter(
            (n >= MIN_BASELINE_DAYS) & ((ss.cast("double") * n - s.cast("double") * s) > 0)
        )
        .select(
            "camera_id",
            "day_ts",
            "hour",
            "hourly_count",
            n.alias("baseline_days"),
            (s.cast("double") / n).alias("baseline_mean"),
            z.alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > Z_THRESHOLD)
        .orderBy("camera_id", "day_ts", "hour")
    )


TOP_PROFILE_CAMERAS = 20


@register(
    oracle=with_traffic(f"""
, hourly AS (
  SELECT camera_id, EXTRACT(hour FROM ts) AS hour,
         CAST(SUM(new_count) AS BIGINT) AS v
  FROM traffic GROUP BY 1, 2
), top AS (
  SELECT camera_id
  FROM (SELECT camera_id, SUM(v) AS total FROM hourly GROUP BY 1
        ORDER BY total DESC, camera_id LIMIT {TOP_PROFILE_CAMERAS})
), p AS (
  SELECT h.camera_id, h.hour, h.v FROM hourly h JOIN top USING (camera_id)
), s AS (
  SELECT a.camera_id AS cam_a, b.camera_id AS cam_b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a.v) AS BIGINT) AS sx, CAST(SUM(b.v) AS BIGINT) AS sy,
         CAST(SUM(a.v * a.v) AS BIGINT) AS sxx,
         CAST(SUM(b.v * b.v) AS BIGINT) AS syy,
         CAST(SUM(a.v * b.v) AS BIGINT) AS sxy
  FROM p a JOIN p b ON a.hour = b.hour AND a.camera_id < b.camera_id
  GROUP BY 1, 2
)
SELECT cam_a, cam_b, n AS n_hours,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS pearson_r
FROM s
WHERE (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
  AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
ORDER BY cam_a, cam_b
"""),
)
def q_profile_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of hourly traffic profiles across
    the top-{TOP_PROFILE_CAMERAS} busiest cameras ("which cameras
    behave alike?").

    The pair join is restricted BEFORE it happens: facts collapse to a
    (camera, hour) profile matrix (linear, one shuffle), the top-N
    camera list is computed from that matrix and broadcast back as a
    semi-filter, and only then do N·24 rows self-join — bounded work
    independent of fact volume. Exact-int sum-of-products feed one
    fixed double expression (module docstring), so r is bit-stable."""
    hourly = (
        traffic_history(spark, sf_dir)
        .groupBy("camera_id", F.hour("ts").alias("hour"))
        .agg(F.sum("new_count").cast("long").alias("v"))
    )
    # The profile matrix feeds three consumers (totals, and both join
    # sides); without materialization each recomputes it from a full
    # fact scan. A lazy localCheckpoint pins it after the first
    # compute — safe HERE because everything downstream is
    # dimension-sized (cameras×24 rows), so the frozen (possibly
    # AQE-coalesced) partitioning cannot strangle parallelism the way
    # it would feeding a wide join (see functions/dedup.py
    # threshold_jaccard_pairs for the opposite trade).
    hourly = hourly.localCheckpoint(eager=False)
    totals = hourly.groupBy("camera_id").agg(F.sum("v").alias("total"))
    top = totals.orderBy(F.desc("total"), F.asc("camera_id")).limit(
        TOP_PROFILE_CAMERAS
    ).select("camera_id")
    p = hourly.join(F.broadcast(top), "camera_id")
    # Distinct names per side before the self-join — never rely on
    # Spark's auto-disambiguation of same-lineage columns.
    a = p.select(
        F.col("camera_id").alias("cam_a"), "hour", F.col("v").alias("va")
    )
    b = p.select(
        F.col("camera_id").alias("cam_b"),
        F.col("hour").alias("hour_b"),
        F.col("v").alias("vb"),
    )
    s = (
        a.join(
            F.broadcast(b),
            (F.col("hour") == F.col("hour_b")) & (F.col("cam_a") < F.col("cam_b")),
        )
        .groupBy("cam_a", "cam_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("va").cast("long").alias("sx"),
            F.sum("vb").cast("long").alias("sy"),
            F.sum(F.col("va") * F.col("va")).cast("long").alias("sxx"),
            F.sum(F.col("vb") * F.col("vb")).cast("long").alias("syy"),
            F.sum(F.col("va") * F.col("vb")).cast("long").alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    dx = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return (
        s.filter((dx > 0) & (dy > 0))
        .select(
            "cam_a",
            "cam_b",
            F.col("n").alias("n_hours"),
            (num / (F.sqrt(dx) * F.sqrt(dy))).alias("pearson_r"),
        )
        .orderBy("cam_a", "cam_b")
    )


HIST_BUCKET_W = 50
HIST_BUCKETS = 10


@register(
    oracle=with_traffic(f"""
, b AS (
  SELECT LEAST(new_count // {HIST_BUCKET_W}, {HIST_BUCKETS - 1}) AS bucket_id,
         new_count, camera_id
  FROM traffic
)
SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
       CAST(bucket_id * {HIST_BUCKET_W} AS BIGINT) AS lo,
       CAST(CASE WHEN bucket_id = {HIST_BUCKETS - 1} THEN NULL
                 ELSE (bucket_id + 1) * {HIST_BUCKET_W} END AS BIGINT) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(new_count) AS BIGINT) AS total_count,
       CAST(COUNT(DISTINCT camera_id) AS BIGINT) AS n_cameras
FROM b
GROUP BY bucket_id
ORDER BY bucket_id
"""),
)
def q_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-width histogram of per-observation counts
    ({HIST_BUCKETS} buckets × {HIST_BUCKET_W}, open-ended top bucket) —
    the distribution panel every monitoring dashboard draws.

    Bucketing is integer division in the scan projection (no UDF, no
    sort); ONE partial-agg shuffle carries ≤ {HIST_BUCKETS} groups per
    task. The distinct-camera count rides the same shuffle as a
    two-phase distinct aggregate."""
    h = traffic_history(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("new_count") / HIST_BUCKET_W), F.lit(HIST_BUCKETS - 1)
    ).cast("long")
    return (
        h.select(bucket.alias("bucket_id"), "new_count", "camera_id")
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("new_count").cast("long").alias("total_count"),
            F.count_distinct("camera_id").alias("n_cameras"),
        )
        .select(
            "bucket_id",
            (F.col("bucket_id") * HIST_BUCKET_W).cast("long").alias("lo"),
            F.when(
                F.col("bucket_id") == HIST_BUCKETS - 1, F.lit(None).cast("long")
            )
            .otherwise(((F.col("bucket_id") + 1) * HIST_BUCKET_W).cast("long"))
            .alias("hi"),
            "n_obs",
            "total_count",
            "n_cameras",
        )
        .orderBy("bucket_id")
    )


# Percentile points as integer percents so rank arithmetic stays exact:
# rank(p) = ceil(p * n) computed as (p_pct * n + 99) div 100 — never a
# double (ceil(0.9 * n) can be ceil(9.000000000000002) = 10 at n = 10).
QUANTILE_PCTS = [("p50", 50), ("p90", 90), ("p99", 99)]


@register(
    oracle=with_traffic("""
, freq AS (
  -- NULL counts carry no quantile information; dropping them here also
  -- removes the engines' one ordering divergence (Spark windows order
  -- NULLS FIRST by default, DuckDB NULLS LAST)
  SELECT camera_id, new_count, CAST(COUNT(*) AS BIGINT) AS c
  FROM traffic WHERE new_count IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT camera_id, new_count,
         SUM(c) OVER (PARTITION BY camera_id ORDER BY new_count) AS cum,
         SUM(c) OVER (PARTITION BY camera_id) AS n
  FROM freq
)
SELECT camera_id,
       MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN new_count END) AS p50,
       MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN new_count END) AS p90,
       MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN new_count END) AS p99
FROM cum GROUP BY camera_id ORDER BY camera_id
"""),
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-camera p50/p90/p99 of new_count via a value-frequency
    histogram — the bounded-domain replacement for a quantile sketch
    (reference: scripts/stats.py percentile dashboards). new_count is a
    small-integer domain, so groupBy(camera, value) collapses the fact
    table to (cameras × distinct values) rows with full map-side
    combining, and the cumulative window then runs over distinct VALUES,
    not observations — exact at any scale, mergeable (the histogram is a
    sum), and orders of magnitude smaller than the sort a row-level
    percentile needs. The pick is the inverse empirical CDF (smallest
    value with cum ≥ ceil(p·n)), identical to percentile_disc — pinned
    against it in tests/test_analytics.py, and integer rank arithmetic
    keeps both engines bit-identical."""
    h = traffic_history(spark, sf_dir)
    freq = (
        h.filter(F.col("new_count").isNotNull())  # mirrors the oracle; see CTE note
        .groupBy("camera_id", "new_count")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = (
        Window.partitionBy("camera_id")
        .orderBy("new_count")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("camera_id")
    cum = freq.select(
        "camera_id",
        "new_count",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )

    def pick(pct: int, name: str) -> F.Column:
        rank = F.call_function(
            "div", F.lit(pct) * F.col("n") + F.lit(99), F.lit(100)
        )
        return F.min(
            F.when(F.col("cum") >= rank, F.col("new_count"))
        ).alias(name)

    return (
        cum.groupBy("camera_id")
        .agg(*[pick(pct, name) for name, pct in QUANTILE_PCTS])
        .orderBy("camera_id")
    )


AFFINITY_MIN_PAIRS = 2
AFFINITY_TOP = 50
# In-row pair expansion is C(k,2); cap basket membership like dedup
# caps LSH buckets (functions/dedup.py MAX_BUCKET_EXPAND). The oracle
# SQL applies the IDENTICAL cap (QUALIFY row_number ≤ cap over sorted
# partkeys), so both engines agree even on a >cap basket; test SFs
# never approach it anyway (TPC-H baskets ≤ 7).
AFFINITY_MAX_BASKET = 1024


@register(
    oracle=f"""
WITH li AS (
  -- mirror the Spark side's basket cap exactly: each order keeps its
  -- {AFFINITY_MAX_BASKET} SMALLEST distinct partkeys (slice of
  -- sort_array(collect_set)), so the oracle stays bit-identical even
  -- on a pathological >cap basket instead of silently diverging
  SELECT l_orderkey, l_partkey
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  QUALIFY row_number() OVER (
    PARTITION BY l_orderkey ORDER BY l_partkey
  ) <= {AFFINITY_MAX_BASKET}
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem
), item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item FROM li GROUP BY 1
), pair AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p1, p2, n_pair,
       CAST(n_pair AS DOUBLE) / n.n_orders AS support,
       CAST(n_pair * n.n_orders AS DOUBLE) / (i1.n_item * i2.n_item) AS lift
FROM pair
JOIN item i1 ON i1.l_partkey = p1
JOIN item i2 ON i2.l_partkey = p2
CROSS JOIN n
WHERE n_pair >= {AFFINITY_MIN_PAIRS}
ORDER BY n_pair DESC, lift DESC, p1, p2
LIMIT {AFFINITY_TOP}
""",
)
def q_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top-{AFFINITY_TOP} co-ordered part
    pairs with support and lift — the co-occurrence shape (recommender
    candidate generation) nothing else in the registry exercises.

    Scale story: GROUP-AND-EXPAND, not a fact self-join — one shuffle
    of (orderkey, partkey) builds per-order baskets (collect_set =
    the DISTINCT), and the i<j pairs expand IN-ROW from each basket:
    an order with k parts emits k·(k-1)/2 pairs (k ≈ 4 here), so the
    fan-out is bounded by BASKET SIZE, not data volume; a pathological
    mega-basket is hard-capped at {AFFINITY_MAX_BASKET} members (the
    same discipline as dedup's LSH bucket cap — a larger basket has
    C(k,2) growth that no plan survives, and belongs to an upstream
    quality filter). The old self-join form re-scanned + re-distincted
    the fact on both branches and shuffled each side; this shape
    shuffles the projected fact once. Per-part item counts are
    data-sized (part ∝ SF — NOT broadcastable) and join as plain
    shuffle hash joins on p1/p2; only the single-row order-count
    scalar broadcasts. Lift divides exact BIGINT products; final
    top-k is TakeOrderedAndProject."""
    from ..tables import load_table

    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("l_partkey")), 1, AFFINITY_MAX_BASKET
            ).alias("ms")
        )
        # three consumers (n_orders, item, pair) — eager checkpoint so
        # the fact scan + collect_set shuffle run ONCE, not once per
        # branch (the plan previously carried three ObjectHashAggregate
        # + Exchange copies of the basket build; wall-time at sf0.1 is
        # flat because the branches overlapped across cores, but at
        # scale this is 3 fact shuffles -> 1)
        .localCheckpoint(eager=True)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item = (
        baskets.select(F.explode("ms").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    in_row_pairs = F.filter(
        F.flatten(
            F.transform(
                "ms",
                lambda x: F.transform(
                    "ms", lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        ),
        lambda pr: pr["a"] < pr["b"],
    )
    pair = (
        baskets.select(F.explode(in_row_pairs).alias("p"))
        .groupBy(F.col("p.a").alias("p1"), F.col("p.b").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= AFFINITY_MIN_PAIRS)
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("n_item").alias("n1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("n_item").alias("n2"))
    return (
        pair.join(i1, "p1")
        .join(i2, "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_pair",
            (F.col("n_pair").cast("double") / F.col("n_orders")).alias("support"),
            (
                (F.col("n_pair") * F.col("n_orders")).cast("double")
                / (F.col("n1") * F.col("n2"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), F.desc("lift"), "p1", "p2")
        .limit(AFFINITY_TOP)
    )


N_QUARTILES = 4


@register(
    oracle=with_traffic(f"""
, totals AS (
  SELECT camera_id, CAST(SUM(new_count) AS BIGINT) AS total
  FROM traffic GROUP BY 1
)
SELECT camera_id, total,
       CAST(NTILE({N_QUARTILES}) OVER (ORDER BY total DESC, camera_id) AS BIGINT) AS quartile
FROM totals
ORDER BY camera_id
"""),
)
def q_camera_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-volume quartile per camera (`ntile` ranking semantics —
    the remaining window-function class the registry didn't cover).

    The per-camera aggregate SCALES WITH THE FLEET (11k cameras at
    sf0.1 — ∝ SF), so no single-partition global ntile window: the
    quartile comes from ``_global_ntile`` (distributed range sort →
    parallel per-partition rank → broadcast offsets → closed-form
    bucket), row-for-row identical to the oracle's windowed ``ntile``
    with the deterministic (total DESC, camera_id) tie-break."""
    totals = (
        traffic_history(spark, sf_dir)
        .groupBy("camera_id")
        .agg(F.sum("new_count").cast("long").alias("total"))
    )
    scored = _global_ntile(
        totals, [F.desc("total"), F.asc("camera_id")], "quartile", n=N_QUARTILES
    )
    return scored.select(
        "camera_id", "total", F.col("quartile").cast("long").alias("quartile")
    ).orderBy("camera_id")


# --------------------------------------------- data-quality expectations

DQ_DISCOUNT_MAX = 0.1  # lineitem discounts above this violate the contract


@register(
    oracle=f"""
SELECT * FROM (
  SELECT 'lineitem' AS tbl, 'orphan_orderkey' AS rule,
         CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS violations,
         CAST(COUNT(*) AS BIGINT) AS population
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'orders', 'orphan_custkey',
         CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem', 'discount_range',
         CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > {DQ_DISCOUNT_MAX}) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'quantity_positive',
         CAST(COUNT(*) FILTER (WHERE l_quantity IS NULL OR l_quantity <= 0) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'events', 'props_parseable',
         CAST(COUNT(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events', 'value_non_negative',
         CAST(COUNT(*) FILTER (WHERE value IS NULL OR value < 0) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'documents', 'n_chars_consistent',
         CAST(COUNT(*) FILTER (WHERE n_chars <> length(text)) AS BIGINT),
         CAST(COUNT(*) AS BIGINT)
  FROM documents
)
ORDER BY tbl, rule
""",
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality expectations as one report: referential
    integrity (orphan lineitems/orders), range contracts (discount,
    quantity, value), semi-structured parseability, and a derived-column
    consistency check — (table, rule, violations, population) per rule.

    Shapes that survive 100 TB: every in-table rule is a conditional
    COUNT inside the table's ONE partial-aggregated scan (all
    lineitem-local rules share a single pass, same for events); the
    referential checks count via left-join-null over the natural join
    key — at scale one SMJ keyed on the fact key (``bucketBy`` tables
    on that key would co-locate it; the engine reads plain parquet).
    Nothing collects; the report is 7 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")

    def report(tbl, rule, violations, population):
        return (
            F.lit(tbl).alias("tbl"),
            F.lit(rule).alias("rule"),
            violations.cast("long").alias("violations"),
            population.cast("long").alias("population"),
        )

    n = F.count(F.lit(1))
    cnt_if = lambda cond: F.count(F.when(cond, F.lit(1)))  # noqa: E731

    # EVERY lineitem rule — referential orphan included — rides ONE
    # scan: the orphan left join preserves all lineitem rows, so the
    # range rules fold into the same aggregate and the single result
    # row unpivots to per-rule rows with stack() (re-aggregating per
    # rule would rescan the fact table per rule).
    li_rules = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left")
        .agg(
            cnt_if(F.col("o_orderkey").isNull()).alias("v_orphan"),
            cnt_if(
                (F.col("l_discount") < 0) | (F.col("l_discount") > DQ_DISCOUNT_MAX)
            ).alias("v_discount"),
            cnt_if(F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0)).alias(
                "v_quantity"
            ),
            n.alias("pop"),
        )
        .selectExpr(
            "stack(3, 'orphan_orderkey', v_orphan, 'discount_range', v_discount,"
            " 'quantity_positive', v_quantity) AS (rule, violations)",
            "pop",
        )
        .select(
            F.lit("lineitem").alias("tbl"),
            "rule",
            F.col("violations").cast("long"),
            F.col("pop").cast("long").alias("population"),
        )
    )
    orphan_o = (
        o.join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left")
        .agg(*report("orders", "orphan_custkey", cnt_if(F.col("c_custkey").isNull()), n))
    )
    e_rules = (
        e.agg(
            cnt_if(F.get_json_object("props", "$.k").isNull()).alias("v_props"),
            cnt_if(F.col("value").isNull() | (F.col("value") < 0)).alias("v_value"),
            n.alias("pop"),
        )
        .selectExpr(
            "stack(2, 'props_parseable', v_props, 'value_non_negative', v_value)"
            " AS (rule, violations)",
            "pop",
        )
        .select(
            F.lit("events").alias("tbl"),
            "rule",
            F.col("violations").cast("long"),
            F.col("pop").cast("long").alias("population"),
        )
    )
    d_rules = d.agg(
        *report(
            "documents",
            "n_chars_consistent",
            cnt_if(F.col("n_chars") != F.length("text")),
            n,
        )
    )
    return (
        li_rules.unionByName(orphan_o)
        .unionByName(e_rules)
        .unionByName(d_rules)
        .orderBy("tbl", "rule")
    )


# --------------------------------------------- chronological ML splits

TRAIN_PCT10 = 8  # train = first 80% of days
VAL_PCT10 = 9  # val = next 10%; test = the rest


@register(
    oracle=with_traffic(
        """
, p AS (
  SELECT CAST(ts AS DATE) AS d, camera_id, count(*) AS cnt,
         min(ts) AS min_ts, max(ts) AS max_ts
  FROM traffic GROUP BY 1, 2
), dd AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
  FROM (SELECT DISTINCT d FROM p)
), sm AS (
  SELECT d, CASE WHEN rn * 10 <= n * 8 THEN 'train'
                 WHEN rn * 10 <= n * 9 THEN 'val'
                 ELSE 'test' END AS split
  FROM dd
)
SELECT split,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT camera_id) AS BIGINT) AS n_cameras,
       min(min_ts) AS min_ts, max(max_ts) AS max_ts
FROM p JOIN sm USING (d)
GROUP BY split ORDER BY split
"""
    ),
)
def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chronological train/val/test split manifest: the first 80% of
    DAYS train, the next 10% validate, the rest test — per-split row
    counts, distinct cameras, and time bounds.

    Splitting time-series training data by random row sampling leaks
    the future into training; splitting by calendar day is the
    leakage-free form every forecasting pipeline needs (the
    q_ml_forecast/q_ses_forecast training frames assume it). All
    boundary math is integer (rn·10 ≤ n·8), so the assignment is
    bit-identical across engines.

    Scale: ONE fact shuffle to (day, camera) granularity; the date
    spine is calendar-sized, so its global rank window (same
    documented pattern as q_camera_quartiles) and the broadcast join
    back onto the pre-aggregate are both trivial. Per-split distinct
    cameras come from the distinct (day, camera) pairs — facts are
    never rescanned.
    """
    pairs = (
        traffic_history(spark, sf_dir)
        .select("camera_id", "ts", F.to_date("ts").alias("d"))
        .groupBy("d", "camera_id")
        .agg(
            F.count("*").alias("cnt"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )
    dates = pairs.select("d").distinct()
    n = dates.agg(F.count("*").alias("n_dates"))
    # calendar-bounded rank (one row per DAY) → single window partition
    # by design (see compat.constant_key)
    w_cal = Window.partitionBy(constant_key(F.year("d"))).orderBy("d")
    ranked = dates.withColumn("rn", F.row_number().over(w_cal)).crossJoin(
        F.broadcast(n)
    )
    sm = ranked.select(
        "d",
        F.when(F.col("rn") * 10 <= F.col("n_dates") * TRAIN_PCT10, F.lit("train"))
        .when(F.col("rn") * 10 <= F.col("n_dates") * VAL_PCT10, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return (
        pairs.join(F.broadcast(sm), "d")
        .groupBy("split")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.countDistinct("camera_id").alias("n_cameras"),
            F.min("min_ts").alias("min_ts"),
            F.max("max_ts").alias("max_ts"),
        )
        .orderBy("split")
    )


@register(
    oracle=with_traffic("""
, hourly AS (
  SELECT camera_id, CAST(ts AS DATE) AS d,
         CAST(strftime(ts, '%H') AS INT) AS hour,
         CAST(SUM(new_count) AS BIGINT) AS hourly_total
  FROM traffic GROUP BY 1, 2, 3
),
slot AS (
  SELECT camera_id, hour,
         CAST(SUM(hourly_total) AS BIGINT) AS total,
         COUNT(*) AS n_days,
         CAST(SUM(hourly_total) AS DOUBLE) / COUNT(*) AS avg_hourly
  FROM hourly GROUP BY 1, 2
),
ranked AS (
  SELECT camera_id, hour, total, n_days, avg_hourly,
         row_number() OVER (PARTITION BY camera_id
                            ORDER BY avg_hourly DESC, hour) AS rn
  FROM slot
)
SELECT camera_id, CAST(hour AS INT) AS peak_hour,
       ROUND(avg_hourly, 6) AS avg_hourly, n_days
FROM ranked WHERE rn = 1
ORDER BY camera_id
"""),
)
def q_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak hour per camera: the hour-of-day with the highest average
    hourly volume across all observed days — the per-camera argmax over
    the flagship's (camera, hour) prediction matrix (reference computes
    single slots on demand, app/database.py:109-145; this materializes
    the maximum of all 24). Average = exact-int sum / day count, so
    ranking doubles are bit-identical cross-engine; ties break to the
    earliest hour.

    Two aggregates reusing one shuffle family (camera,date,hour →
    camera,hour) + a 24-row-per-camera ranking window — the fact scan
    shuffles once."""
    h = traffic_history(spark, sf_dir)
    hourly = h.groupBy(
        "camera_id",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("hour"),
    ).agg(F.sum("new_count").alias("hourly_total"))
    slot = hourly.groupBy("camera_id", "hour").agg(
        F.sum("hourly_total").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    slot = slot.withColumn(
        "avg_hourly", F.col("total").cast("double") / F.col("n_days").cast("double")
    )
    w = Window.partitionBy("camera_id").orderBy(F.desc("avg_hourly"), "hour")
    return (
        slot.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "camera_id",
            F.col("hour").cast("int").alias("peak_hour"),
            F.round("avg_hourly", 6).alias("avg_hourly"),
            "n_days",
        )
        .orderBy("camera_id")
    )


@register(
    oracle=with_traffic("""
, agg AS (
  SELECT camera_id,
         CAST(SUM(new_count) AS BIGINT) AS total,
         CAST(MAX(new_count) AS BIGINT) AS peak
  FROM traffic GROUP BY camera_id
)
SELECT a.camera_id, a.total, a.peak
FROM agg a
WHERE NOT EXISTS (
  SELECT 1 FROM agg b
  WHERE b.total >= a.total AND b.peak <= a.peak
    AND (b.total > a.total OR b.peak < a.peak)
)
ORDER BY a.total DESC, a.camera_id
"""),
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of cameras MAXIMIZING lifetime volume while
    MINIMIZING the worst single-sample burst: keep every camera no
    other camera beats on both axes (busier AND smoother; ties on both
    axes keep both — dominance requires a strict edge). The serving
    query behind "high-throughput but well-behaved" dashboards.

    The naive form is an all-pairs NOT-EXISTS theta join (the oracle).
    The Spark plan is the 2-D skyline SORT trick, DISTRIBUTED: a
    camera is dominated iff the running MIN peak over STRICTLY-greater
    totals is already ≤ its peak, or a same-total camera has a
    strictly lower peak. Ties collapse first (``groupBy(total) →
    min(peak)`` — one parallel shuffle), making totals UNIQUE; the
    strict-prefix min over the collapsed spine is
    ``compat.global_prefix_min`` (range repartition + per-partition
    running mins + broadcast earlier-partition mins), so no
    single-partition window even when distinct totals scale with the
    fleet. One hash join on ``total`` (the family the collapse just
    established) carries the marks back to cameras. ``agg`` is
    lazily localCheckpoint'ed: both consumers (the collapsed spine
    and the final join's left side) reuse ONE scan+shuffle of the
    fact table instead of recomputing it."""
    h = traffic_history(spark, sf_dir)
    agg = (
        h.groupBy("camera_id")
        .agg(
            F.sum("new_count").cast("long").alias("total"),
            F.max("new_count").cast("long").alias("peak"),
        )
        .localCheckpoint(eager=False)
    )
    per_total = agg.groupBy("total").agg(F.min("peak").alias("m_grp"))
    marks = global_prefix_min(
        per_total, [F.desc("total")], "m_grp"
    ).withColumnRenamed("_pre", "m_gt")
    return (
        agg.join(marks, "total")
        .filter(
            (F.col("m_gt").isNull() | (F.col("m_gt") > F.col("peak")))
            & (F.col("peak") == F.col("m_grp"))
        )
        .select("camera_id", "total", "peak")
        .orderBy(F.desc("total"), "camera_id")
    )


STREAK_MIN_LEN = 3


@register(
    oracle=with_traffic(f"""
, seq AS (
  SELECT camera_id, ts, id, new_count,
         CASE WHEN new_count > LAG(new_count) OVER w THEN 0 ELSE 1 END AS brk,
         row_number() OVER w AS rn
  FROM traffic
  WINDOW w AS (PARTITION BY camera_id ORDER BY ts, id)
),
grp AS (
  SELECT camera_id, ts, id, new_count, rn,
         SUM(brk) OVER (PARTITION BY camera_id ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM seq
),
runs AS (
  SELECT camera_id, g,
         COUNT(*) AS run_len,
         MIN(ts) AS run_start, MAX(ts) AS run_end,
         MIN(new_count) AS from_count, MAX(new_count) AS to_count
  FROM grp GROUP BY camera_id, g
)
SELECT camera_id, run_start, run_end,
       CAST(run_len AS BIGINT) AS run_len,
       CAST(from_count AS BIGINT) AS from_count,
       CAST(to_count AS BIGINT) AS to_count
FROM runs WHERE run_len >= {STREAK_MIN_LEN}
ORDER BY camera_id, run_start
"""),
)
def q_rising_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event detection, batch form: maximal runs of ≥3
    strictly-RISING consecutive samples per camera (the "congestion
    building" precursor pattern; an episode's min/max counts double as
    its from→to ramp because the run is monotone). Classic
    gaps-and-islands: one lag pass marks streak breaks, a running sum
    numbers the islands, one aggregate sizes them — two window passes
    and a groupBy, all partitioned on camera_id (one shuffle family),
    no join, no driver loop. The streaming twin of this shape is
    q_stream_congestion_episodes' keyed state.
    """
    h = traffic_history(spark, sf_dir)
    w = Window.partitionBy("camera_id").orderBy("ts", "id")
    seq = h.select(
        "camera_id",
        "ts",
        "id",
        "new_count",
        F.when(F.col("new_count") > F.lag("new_count").over(w), F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk"),
        F.row_number().over(w).alias("rn"),
    )
    wg = Window.partitionBy("camera_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grp = seq.withColumn("g", F.sum("brk").over(wg))
    runs = grp.groupBy("camera_id", "g").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
        F.min("new_count").alias("from_count"),
        F.max("new_count").alias("to_count"),
    )
    return (
        runs.filter(F.col("run_len") >= STREAK_MIN_LEN)
        .select(
            "camera_id",
            "run_start",
            "run_end",
            F.col("run_len").cast("long").alias("run_len"),
            F.col("from_count").cast("long").alias("from_count"),
            F.col("to_count").cast("long").alias("to_count"),
        )
        .orderBy("camera_id", "run_start")
    )


@register(
    oracle=with_traffic("""
, agg AS (
  SELECT camera_id, CAST(SUM(new_count) AS BIGINT) AS total
  FROM traffic GROUP BY camera_id
)
SELECT camera_id, total,
       percent_rank() OVER (ORDER BY total, camera_id) AS pct_rank,
       cume_dist() OVER (ORDER BY total, camera_id) AS cume,
       CAST(ntile(10) OVER (ORDER BY total, camera_id) AS INT) AS decile
FROM agg
ORDER BY total, camera_id
"""),
)
def q_volume_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution placement of every camera: percent_rank, cume_dist
    and decile over lifetime volume — the analytic-rank family
    (complementing q_camera_quartiles' ntile-only view). The tie-break
    on camera_id makes the ordering UNIQUE, so all three are closed
    forms of the global rank: percent_rank = (rk−1)/(n−1), cume_dist
    = rk/n, decile = the ntile bucket formula — computed from
    ``compat.global_rank`` (distributed range sort, parallel
    per-partition ranking, broadcast offsets) because the per-camera
    aggregate scales with the fleet and must never hit a
    single-partition global window. Same IEEE divisions as the
    engines' own rank functions ⇒ bit-identical cross-engine.
    """
    h = traffic_history(spark, sf_dir)
    agg = h.groupBy("camera_id").agg(F.sum("new_count").cast("long").alias("total"))
    ranked = global_rank(agg, [F.asc("total"), F.asc("camera_id")])
    pct = F.when(
        F.col("_n") > 1,
        (F.col("_rk") - 1).cast("double") / (F.col("_n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return ranked.select(
        "camera_id",
        "total",
        pct.alias("pct_rank"),
        (F.col("_rk").cast("double") / F.col("_n").cast("double")).alias("cume"),
        _ntile_expr(10).cast("int").alias("decile"),
    ).orderBy("total", "camera_id")


# Reference profile for the series-similarity search: camera '1' on
# the last full day of the dataset (NOW is midnight, so NOW-1d).
from ..compat import NOW_EPOCH as _NOW_EPOCH  # noqa: E402

SIMILAR_REF_CAMERA = "1"
SIMILAR_REF_DAY = _dt.datetime.fromtimestamp(
    _NOW_EPOCH - 86400, tz=_dt.timezone.utc
).strftime("%Y-%m-%d")
SIMILAR_TOP_K = 10


@register(
    oracle=with_traffic(f"""
, hourly AS (
  SELECT camera_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
         CAST(SUM(new_count) AS BIGINT) AS v
  FROM traffic GROUP BY 1, 2, 3
),
qvec AS (
  SELECT hour, v AS qv FROM hourly
  WHERE camera_id = '{SIMILAR_REF_CAMERA}' AND d = '{SIMILAR_REF_DAY}'
),
q2 AS (SELECT CAST(COALESCE(SUM(qv * qv), 0) AS BIGINT) AS q2total FROM qvec),
scored AS (
  SELECT h.camera_id, h.d,
         CAST(SUM((h.v - COALESCE(q.qv, 0)) * (h.v - COALESCE(q.qv, 0))) AS BIGINT)
           AS present_term,
         CAST(SUM(COALESCE(q.qv, 0) * COALESCE(q.qv, 0)) AS BIGINT) AS matched_q2
  FROM hourly h LEFT JOIN qvec q ON q.hour = h.hour
  WHERE NOT (h.camera_id = '{SIMILAR_REF_CAMERA}' AND h.d = '{SIMILAR_REF_DAY}')
  GROUP BY 1, 2
)
SELECT s.camera_id, s.d,
       CAST(s.present_term + q2.q2total - s.matched_q2 AS BIGINT) AS d2
FROM scored s, q2
ORDER BY d2, s.camera_id, s.d
LIMIT {SIMILAR_TOP_K}
"""),
)
def q_similar_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed time-series similarity search (the REPOSE/Odyssey
    problem shape over this engine's data, PAPERS.md): which (camera,
    day) hourly profiles look most like camera {SIMILAR_REF_CAMERA}'s
    last full day? Squared Euclidean distance over the 24-hour count
    vectors, computed WITHOUT materializing dense vectors: candidate
    hourly rows left-join the broadcast 24-row query profile, and the
    hours the candidate is missing enter through the algebraic
    correction Σq² − Σ_matched q² (one scalar crossJoin). All distance
    arithmetic is exact BIGINT, so the ranking is bit-deterministic;
    top-{SIMILAR_TOP_K} plans as TakeOrderedAndProject.

    At 100 TB: facts collapse to the (camera, day, hour) aggregate
    (one shuffle, high-cardinality keys), the query profile and its
    norm are dimension-sized broadcasts, and the per-day scoring
    reuses the aggregate's partitioning — no second fact scan, no
    global sort.
    """
    # h feeds three consumers (query profile, its norm, candidate
    # scoring): one eager checkpoint runs the fact aggregate once
    # (r13 opt round; entity-sized (camera, day, hour) frame)
    h = (
        traffic_history(spark, sf_dir)
        .groupBy(
            "camera_id",
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(F.sum("new_count").cast("long").alias("v"))
        .localCheckpoint(eager=True)
    )
    is_ref = (F.col("camera_id") == SIMILAR_REF_CAMERA) & (F.col("d") == SIMILAR_REF_DAY)
    qvec = h.filter(is_ref).select("hour", F.col("v").alias("qv"))
    q2 = qvec.agg(
        F.coalesce(F.sum(F.col("qv") * F.col("qv")), F.lit(0)).cast("long").alias("q2total")
    )
    qv0 = F.coalesce(F.col("qv"), F.lit(0))
    scored = (
        h.filter(~is_ref)
        .join(F.broadcast(qvec), "hour", "left")
        .groupBy("camera_id", "d")
        .agg(
            F.sum((F.col("v") - qv0) * (F.col("v") - qv0)).cast("long").alias("present_term"),
            F.sum(qv0 * qv0).cast("long").alias("matched_q2"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(q2))
        .select(
            "camera_id",
            "d",
            (F.col("present_term") + F.col("q2total") - F.col("matched_q2"))
            .cast("long")
            .alias("d2"),
        )
        .orderBy("d2", "camera_id", "d")
        .limit(SIMILAR_TOP_K)
    )


@register(
    oracle=with_traffic("""
, seq AS (
  SELECT camera_id, id, ts,
         MAX(ts) OVER (PARTITION BY camera_id ORDER BY id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_max_ts
  FROM traffic
)
SELECT camera_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts < prior_max_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(SUM(CASE WHEN ts < prior_max_ts THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS late_ppm,
       CAST(COALESCE(MAX(CASE WHEN ts < prior_max_ts
                 THEN epoch_us(prior_max_ts) - epoch_us(ts) END) // 1000000, 0)
            AS BIGINT) AS max_lateness_s
FROM seq
GROUP BY camera_id
ORDER BY camera_id
"""),
)
def q_arrival_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit: per camera, how many events arrived
    (by ingestion id) with an event time EARLIER than something already
    seen, and how late the worst straggler was — the measurement that
    justifies a streaming watermark choice (St7's 30 min delay should
    dominate max_lateness_s). One running-max window ordered by the
    arrival proxy + one aggregate, all on camera_id; the late fraction
    ships as exact integer ppm.
    """
    h = traffic_history(spark, sf_dir)
    w = (
        Window.partitionBy("camera_id")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = h.select(
        "camera_id",
        "id",
        "ts",
        F.max("ts").over(w).alias("prior_max_ts"),
    )
    is_late = F.col("ts") < F.col("prior_max_ts")
    lateness_s = F.floor(
        (F.unix_micros("prior_max_ts") - F.unix_micros("ts")) / 1_000_000
    )
    return (
        seq.groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(is_late, 1).otherwise(0)).cast("long").alias("n_late"),
            exact_ppm(
                F.sum(F.when(is_late, 1).otherwise(0)), F.count(F.lit(1))
            )
            .cast("long")
            .alias("late_ppm"),
            F.coalesce(F.max(F.when(is_late, lateness_s)), F.lit(0))
            .cast("long")
            .alias("max_lateness_s"),
        )
        .orderBy("camera_id")
    )


RFM_REF_DATE = "2001-09-01"

# Width of the distributed global-rank sort. Bounded by CLUSTER size,
# not data size — at 100 TB set ∝ executor count; correctness never
# depends on the value (unique sort keys make rank = offset + local
# row_number exact for any partitioning).
RFM_RANK_PARTITIONS = 16


def _global_ntile(df: DataFrame, order_cols: list, out: str, n: int = 5) -> DataFrame:
    """Exact ``ntile(n)`` over a GLOBAL ordering without a
    single-partition data-sized window.

    Plan: ``compat.global_rank`` (range-repartition → parallel
    per-partition ``row_number`` → broadcast cluster-width offsets)
    yields the exact global rank with no single-partition data-sized
    window. The ntile bucket is then a closed form of (rank k, total
    n): the first ``n mod b`` buckets hold ``n div b + 1`` rows, the
    rest ``n div b`` — identical row-for-row to the windowed ``ntile``
    (integer arithmetic throughout, per the exact-math house rule).
    """
    ranked = global_rank(df, order_cols, RFM_RANK_PARTITIONS)
    return ranked.withColumn(out, _ntile_expr(n)).drop("_n", "_rk")


def _ntile_expr(n: int):
    """Closed-form ``ntile(n)`` bucket of a row given its global rank
    ``_rk`` and total count ``_n`` (the first ``_n mod n`` buckets hold
    ``_n div n + 1`` rows, the rest ``_n div n``) — exact integer
    arithmetic, row-for-row identical to the windowed ``ntile``."""
    big_total = f"(((_n div {n}) + 1) * (_n % {n}))"
    return F.expr(
        f"CASE WHEN _rk <= {big_total} "
        f"THEN CAST(((_rk - 1) div ((_n div {n}) + 1)) + 1 AS INT) "
        f"ELSE CAST((_n % {n}) + ((_rk - {big_total} - 1) div greatest(_n div {n}, 1)) + 1 AS INT) "
        f"END"
    )


@register(
    oracle=f"""
WITH rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '{RFM_REF_DATE}') AS BIGINT)
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT *,
         CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS INT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS INT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS INT) AS m_score
  FROM rfm
)
SELECT o_custkey, recency_days, frequency, monetary_cents,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN m_score >= 4 THEN 'big_spender'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
ORDER BY o_custkey
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the orders table: recency (days
    to a pinned reference date), frequency, monetary (exact cents via
    fixed-point — never a raw double sum), quintile-scored with
    deterministic tie-breaks and folded into the standard segment
    ladder (champion / loyal / big_spender / at_risk / hibernating).

    One fact shuffle on o_custkey; the three quintile scores run over
    the per-customer AGGREGATE (customer-dimension-sized) as exact
    distributed ntiles (``_global_ntile``): range-repartition on the
    tie-broken sort key, per-range-partition ``row_number`` in
    parallel, broadcast cluster-width offset table, closed-form bucket
    from (global rank, n). On a BILLION customers each scoring pass is
    a distributed sort — there is no single-partition data-sized
    window anywhere in the plan (plan-asserted), yet the scores are
    row-for-row identical to the oracle's global ``ntile(5)``.
    """
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(RFM_REF_DATE).cast("date"), F.max(F.to_date("o_orderdate")))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    scored = _global_ntile(
        rfm, [F.desc("recency_days"), F.asc("o_custkey")], "r_score"
    )
    scored = _global_ntile(scored, [F.asc("frequency"), F.asc("o_custkey")], "f_score")
    scored = _global_ntile(
        scored, [F.asc("monetary_cents"), F.asc("o_custkey")], "m_score"
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            F.lit("champion"),
        )
        .when(F.col("f_score") >= 4, F.lit("loyal"))
        .when(F.col("m_score") >= 4, F.lit("big_spender"))
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), F.lit("at_risk"))
        .when(F.col("r_score") <= 2, F.lit("hibernating"))
        .otherwise(F.lit("regular"))
    )
    return scored.withColumn("segment", seg).orderBy("o_custkey")


@register(
    oracle=with_traffic("""
, dc AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, camera_id FROM traffic
),
daily AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM dc GROUP BY d
),
inter AS (
  SELECT a.d AS d, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM dc a JOIN dc b ON b.camera_id = a.camera_id AND b.d = a.d + INTERVAL 1 DAY
  GROUP BY a.d
)
SELECT strftime(x.d, '%Y-%m-%d') AS d,
       strftime(x.d + INTERVAL 1 DAY, '%Y-%m-%d') AS next_d,
       x.n AS n_day, y.n AS n_next,
       COALESCE(i.n_overlap, 0) AS n_overlap,
       x.n - COALESCE(i.n_overlap, 0) AS churned,
       y.n - COALESCE(i.n_overlap, 0) AS new_cameras,
       CAST(COALESCE(i.n_overlap, 0) * 1000000
            // (x.n + y.n - COALESCE(i.n_overlap, 0)) AS BIGINT) AS jaccard_ppm
FROM daily x
JOIN daily y ON y.d = x.d + INTERVAL 1 DAY
LEFT JOIN inter i ON i.d = x.d
ORDER BY d
"""),
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience overlap: Jaccard similarity of the
    reporting-camera sets on consecutive days, with churned/new
    counts — the set-stability pulse of a fleet (or of a corpus's
    active sources). Facts collapse to distinct (day, camera) pairs
    first (one shuffle); the shifted self-join runs over that reduced
    set on (camera, day) keys; day totals are calendar-sized
    broadcasts; Jaccard ships as exact ppm (non-negative operands, so
    truncating division is floor).
    """
    h = traffic_history(spark, sf_dir)
    # dc feeds three consumers (day totals + both sides of the shifted
    # self-join): one eager checkpoint runs the fact scan + distinct
    # once instead of once per consumer (r13 opt round; entity-sized
    # (day, camera) frame)
    dc = (
        h.select(F.to_date("ts").alias("d"), "camera_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    daily = dc.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    b = dc.select(F.date_sub("d", 1).alias("d"), F.col("camera_id"))
    inter = (
        dc.join(b, ["d", "camera_id"])
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    x = daily.alias("x")
    y = daily.select(F.date_sub("d", 1).alias("d"), F.col("n").alias("n_next"))
    ov = F.coalesce("n_overlap", F.lit(0))
    return (
        x.join(F.broadcast(y), "d")
        .join(F.broadcast(inter), "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.date_format(F.date_add("d", 1), "yyyy-MM-dd").alias("next_d"),
            F.col("n").alias("n_day"),
            "n_next",
            ov.alias("n_overlap"),
            (F.col("n") - ov).alias("churned"),
            (F.col("n_next") - ov).alias("new_cameras"),
            exact_ppm(ov, F.col("n") + F.col("n_next") - ov)
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy("d")
    )


@register(
    oracle=with_traffic("""
, hourly AS (
  SELECT camera_id, date_trunc('hour', ts) AS h,
         CAST(SUM(new_count) AS BIGINT) AS y
  FROM traffic GROUP BY 1, 2
),
m AS (
  SELECT camera_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS ss
  FROM hourly GROUP BY camera_id
)
SELECT camera_id, n AS n_hours,
       CAST(s AS DOUBLE) / n AS mean_hourly,
       (CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s)
         / (CAST(n AS DOUBLE) * (n - 1)) / (CAST(s AS DOUBLE) / n) AS fano
FROM m
WHERE n >= 2 AND s > 0
ORDER BY camera_id
"""),
)
def q_fano_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor, variance/mean) of each
    camera's hourly counts: ≈1 = Poisson-like arrivals, ≫1 = bursty
    (platooning traffic), <1 = regularized flow — the
    one-number burstiness screen next to the CUSUM drift and z-score
    spike detectors. Same exact-int (n, Σy, Σy²) discipline as
    q_anomaly_zscore: the two output doubles are each one fixed
    expression over BIGINTs. Two linear shuffles on camera keys.
    """
    h = (
        traffic_history(spark, sf_dir)
        .groupBy("camera_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum("new_count").cast("long").alias("y"))
    )
    m = h.groupBy("camera_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean = s.cast("double") / n
    var = (ss.cast("double") * n - s.cast("double") * s) / (n.cast("double") * (n - 1))
    return (
        m.filter((n >= 2) & (s > 0))
        .select(
            "camera_id",
            n.alias("n_hours"),
            mean.alias("mean_hourly"),
            (var / mean).alias("fano"),
        )
        .orderBy("camera_id")
    )


@register(
    oracle="""
WITH firsts AS (
  SELECT o_custkey,
         MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort_month
  FROM orders GROUP BY o_custkey
),
flags AS (
  SELECT f.cohort_month, o.o_custkey,
         CAST(MAX(CASE WHEN date_trunc('month', o.o_orderdate)
                            > CAST(f.cohort_month AS TIMESTAMP) THEN 1 ELSE 0 END) AS INT)
           AS repeated
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
  GROUP BY 1, 2
)
SELECT strftime(cohort_month, '%Y-%m') AS cohort_month,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(repeated) AS BIGINT) AS n_repeated,
       CAST(SUM(repeated) * 1000000 // COUNT(*) AS BIGINT) AS repeat_ppm
FROM flags
GROUP BY 1
ORDER BY cohort_month
""",
)
def q_order_cohort_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by acquisition cohort: customers grouped
    by their FIRST order's month, measuring what share ordered again
    in any LATER month — the cohort loyalty curve (the orders-table
    sibling of the camera-activity q_retention_cohorts). Facts reduce
    to (customer, first-month) once; `firsts` is a PER-CUSTOMER
    aggregate that scales with data (a billion-customer cohort table
    cannot broadcast), so it joins back as a plain shuffle join on
    o_custkey — the same hash family the aggregate just established,
    so the co-location is free. The rate ships as exact ppm.
    """
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate").cast("date")).alias("cohort_month")
    )
    flags = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_month", "o_custkey")
        .agg(
            F.max(
                F.when(
                    F.date_trunc("month", "o_orderdate")
                    > F.col("cohort_month").cast("timestamp"),
                    1,
                ).otherwise(0)
            )
            .cast("int")
            .alias("repeated")
        )
    )
    return (
        flags.groupBy(F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("repeated").cast("long").alias("n_repeated"),
        )
        .select(
            "cohort_month",
            "n_customers",
            "n_repeated",
            exact_ppm(F.col("n_repeated"), F.col("n_customers"))
            .cast("long")
            .alias("repeat_ppm"),
        )
        .orderBy("cohort_month")
    )


# ------------------------------------------------- bloom-filter semi-join

BLOOM_M = 16_384  # filter bits (256 packed int64 words)
BLOOM_K = 4  # hash functions per key
BLOOM_WORDS = BLOOM_M // 64


def _bloom_positions(key_str):
    """BLOOM_K bit positions for a key via double hashing
    (h1 + i·h2) mod M, both md5-derived (compat.md5_hash) so
    Spark and DuckDB build bit-identical filters; h2 is folded into
    1..M-1 so the probe sequence never degenerates."""
    h1 = md5_hash(key_str, 15) % F.lit(BLOOM_M)
    h2 = md5_hash(F.concat(F.lit("#"), key_str), 15) % F.lit(BLOOM_M - 1) + 1
    return F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
        lambda i: (h1 + i.cast("long") * h2) % F.lit(BLOOM_M),
    )


def _bloom_oracle() -> str:
    def pos_cte(src: str, name: str) -> str:
        return f"""{name} AS (
  SELECT k, (h1m + i * h2m) % {BLOOM_M} AS p
  FROM (
    SELECT k,
           {md5_hash_sql("CAST(k AS VARCHAR)", 15)} % {BLOOM_M} AS h1m,
           {md5_hash_sql("'#' || CAST(k AS VARCHAR)", 15)} % {BLOOM_M - 1} + 1 AS h2m
    FROM {src}
  )
  CROSS JOIN (SELECT CAST(unnest(range(0, {BLOOM_K})) AS BIGINT) AS i)
)"""

    return f"""
WITH urgent AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'
),
cust AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
{pos_cte("urgent", "bpos")},
bloom AS (
  -- UBIGINT packing: DuckDB's signed << raises on bit 63 (Spark's
  -- shiftleft wraps). The words never appear in the output — only
  -- bit counts and hit flags — so unsignedness is compare-invisible.
  SELECT p // 64 AS wi,
         BIT_OR(CAST(1 AS UBIGINT) << CAST(p % 64 AS INT)) AS bits
  FROM bpos GROUP BY 1
),
{pos_cte("cust", "ppos")},
probe AS (
  SELECT k,
         SUM(CASE WHEN (COALESCE(b.bits, CAST(0 AS UBIGINT))
                        & (CAST(1 AS UBIGINT) << CAST(p % 64 AS INT))) <> 0
                  THEN 0 ELSE 1 END) AS miss
  FROM ppos LEFT JOIN bloom b ON b.wi = p // 64
  GROUP BY k
),
verdicts AS (
  SELECT c.k, pr.miss = 0 AS bloom_hit, u.k IS NOT NULL AS is_member
  FROM cust c
  JOIN probe pr ON pr.k = c.k
  LEFT JOIN urgent u ON u.k = c.k
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM urgent) AS n_built,
       CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_members,
       CAST(SUM(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positives,
       CAST(SUM(CASE WHEN is_member AND NOT bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negatives,
       (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) FROM bloom) AS n_bits_set
FROM verdicts
"""


@register(oracle=_bloom_oracle())
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom-filter build + probe — the join-pruning
    sketch behind runtime row-filter pushdown: build a BLOOM_M-bit
    filter over the urgent-order customer keys, probe EVERY customer,
    and report the confusion summary (false negatives pinned to 0 by
    construction — the property that makes bloom pruning safe).

    Scale shape: the filter itself is the ONLY broadcast-sized object
    (≤ BLOOM_WORDS = 256 packed int64 rows — bounded by the constant
    M, not by data, so the broadcast hint is policy-clean). Build is
    one groupBy(bit_or) over k·|keys| exploded positions; probe is a
    broadcast join — the big side never shuffles. Both engines derive
    positions from the same md5 double-hash, so the whole filter is
    bit-identical and the summary hash-checks exactly."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").cast("long").alias("k"))
        .distinct()
    )
    pos = urgent.select(
        F.explode(_bloom_positions(F.col("k").cast("string"))).alias("p")
    )
    bit = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
    )
    bloom = (
        pos.select(F.call_function("div", F.col("p"), F.lit(64)).alias("wi"),
                   bit.alias("m"))
        .groupBy("wi")
        .agg(F.bit_or("m").alias("bits"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k")
    )
    probe = (
        cust.select(
            "k", F.explode(_bloom_positions(F.col("k").cast("string"))).alias("p")
        )
        .select("k", F.call_function("div", F.col("p"), F.lit(64)).alias("wi"),
                bit.alias("m"))
        .join(F.broadcast(bloom), "wi", "left")
        .select(
            "k",
            F.when(
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("m")) != 0,
                F.lit(0),
            ).otherwise(F.lit(1)).alias("miss"),
        )
        .groupBy("k")
        .agg((F.sum("miss") == 0).alias("bloom_hit"))
    )
    truth = cust.join(
        urgent.withColumn("is_m", F.lit(True)), "k", "left"
    ).select("k", F.coalesce("is_m", F.lit(False)).alias("is_member"))
    n_built = urgent.agg(F.count(F.lit(1)).cast("long").alias("n_built"))
    bits_set = bloom.agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_bits_set")
    )
    return (
        probe.join(truth, "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probed"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_bloom_hits"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_members"),
            F.sum(F.when(F.col("bloom_hit") & ~F.col("is_member"), 1).otherwise(0))
            .cast("long")
            .alias("n_false_positives"),
            F.sum(F.when(F.col("is_member") & ~F.col("bloom_hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_false_negatives"),
        )
        .crossJoin(F.broadcast(n_built))
        .crossJoin(F.broadcast(bits_set))
        .select(
            "n_built", "n_probed", "n_bloom_hits", "n_true_members",
            "n_false_positives", "n_false_negatives", "n_bits_set",
        )
    )


BACKTEST_K = 5  # rolling origins (the last K days with a next day)
BACKTEST_TRAIN_W = 28  # trailing observed days in each train window


@register(
    oracle=with_traffic(f"""
, daily AS (
  SELECT CAST(ts AS DATE) AS d, camera_id,
         CAST(SUM(new_count) AS BIGINT) AS total
  FROM traffic GROUP BY 1, 2
),
days AS (
  SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rk,
         COUNT(*) OVER () AS n
  FROM (SELECT DISTINCT d FROM daily)
),
origins AS (
  SELECT o.d AS origin_day, o.rk AS ork, t.d AS target_day
  FROM days o JOIN days t ON t.rk = o.rk + 1
  WHERE o.rk >= o.n - {BACKTEST_K}
),
dr AS (SELECT dd.rk, da.camera_id, da.total, da.d FROM daily da JOIN days dd ON dd.d = da.d),
train AS (
  SELECT og.origin_day, og.target_day, og.ork, dr.camera_id,
         CAST(SUM(dr.total) AS BIGINT) AS sum_total,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM origins og
  JOIN dr ON dr.rk BETWEEN og.ork - {BACKTEST_TRAIN_W - 1} AND og.ork
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT t.origin_day, t.target_day, t.camera_id,
         t.sum_total // t.n_obs AS forecast,
         COALESCE(a.total, 0) AS actual,
         COALESCE(p.total, 0) AS persistence
  FROM train t
  LEFT JOIN dr a ON a.rk = t.ork + 1 AND a.camera_id = t.camera_id
  LEFT JOIN dr p ON p.rk = t.ork AND p.camera_id = t.camera_id
)
SELECT strftime(origin_day, '%Y-%m-%d') AS origin_day,
       strftime(target_day, '%Y-%m-%d') AS target_day,
       CAST(COUNT(*) AS BIGINT) AS n_cameras,
       CAST(SUM(ABS(forecast - actual)) // COUNT(*) AS BIGINT) AS forecast_mae,
       CAST(SUM(ABS(persistence - actual)) // COUNT(*) AS BIGINT) AS persistence_mae,
       CAST((SUM(ABS(persistence - actual)) - SUM(ABS(forecast - actual))) * 1000000
            // GREATEST(SUM(ABS(persistence - actual)), 1) AS BIGINT) AS improvement_ppm
FROM scored
GROUP BY 1, 2
ORDER BY 1
"""),
)
def q_rolling_origin_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest (the time-series analogue of
    k-fold CV, leakage-free by construction): for each of the last
    BACKTEST_K origin days, forecast every camera's NEXT-day total as
    its trailing-{BACKTEST_TRAIN_W}-observed-day mean (integer floor)
    and score MAE against the actual — next to the PERSISTENCE
    baseline (yesterday's value), because a backtest without a naive
    baseline proves nothing. improvement_ppm > 0 ⇔ the model beats
    persistence at that origin. All-integer arithmetic end to end, so
    the whole evaluation harness hash-matches the oracle — the
    ML-ops step (q_time_split gives ONE split; this gives the K-fold
    temporal sweep q_ml_forecast_eval's single holdout cannot).

    Scale shape: one fact shuffle to (day, camera) daily totals;
    the day spine and the K-row origin table are calendar-sized and
    broadcast into the rank-range train join (each daily row lands in
    ≤ K train windows — constant fan-out); per-(origin, camera)
    aggregation and the final per-origin metrics are entity-sized."""
    daily = (
        traffic_history(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("d"), "camera_id")
        .agg(F.sum("new_count").cast("long").alias("total"))
    )
    days = global_rank(daily.select("d").distinct(), ["d"]).select(
        "d", F.col("_rk").alias("rk"), F.col("_n").alias("n")
    )
    tgt = days.select(F.col("d").alias("target_day"), F.col("rk").alias("trk"))
    origins = (
        days.filter(F.col("rk") >= F.col("n") - BACKTEST_K)
        .join(tgt, F.col("trk") == F.col("rk") + 1)
        .select(
            F.col("d").alias("origin_day"),
            F.col("rk").alias("ork"),
            "target_day",
        )
    )
    # dr feeds three consumers (train window, actuals, persistence):
    # one eager checkpoint runs the fact shuffle + rank join once
    # instead of once per consumer (r13 opt round; entity-sized frame)
    dr = daily.join(F.broadcast(days.select("d", "rk")), "d").localCheckpoint(
        eager=True
    )
    train = (
        F.broadcast(origins)
        .join(
            dr,
            (F.col("rk") >= F.col("ork") - (BACKTEST_TRAIN_W - 1))
            & (F.col("rk") <= F.col("ork")),
        )
        .groupBy("origin_day", "target_day", "ork", "camera_id")
        .agg(
            F.sum("total").cast("long").alias("sum_total"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )
    a = dr.select(
        F.col("rk").alias("ark"), F.col("camera_id").alias("ac"),
        F.col("total").alias("a_total"),
    )
    p = dr.select(
        F.col("rk").alias("prk"), F.col("camera_id").alias("pc"),
        F.col("total").alias("p_total"),
    )
    scored = (
        train.join(
            a,
            (F.col("ark") == F.col("ork") + 1) & (F.col("ac") == F.col("camera_id")),
            "left",
        )
        .join(
            p,
            (F.col("prk") == F.col("ork")) & (F.col("pc") == F.col("camera_id")),
            "left",
        )
        .select(
            "origin_day",
            "target_day",
            F.call_function("div", F.col("sum_total"), F.col("n_obs")).alias(
                "forecast"
            ),
            F.coalesce("a_total", F.lit(0)).alias("actual"),
            F.coalesce("p_total", F.lit(0)).alias("persistence"),
        )
    )
    fa = F.sum(F.abs(F.col("forecast") - F.col("actual")))
    pa = F.sum(F.abs(F.col("persistence") - F.col("actual")))
    return (
        scored.groupBy("origin_day", "target_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cameras"),
            fa.alias("_fa"),
            pa.alias("_pa"),
        )
        .select(
            F.date_format("origin_day", "yyyy-MM-dd").alias("origin_day"),
            F.date_format("target_day", "yyyy-MM-dd").alias("target_day"),
            "n_cameras",
            F.call_function("div", F.col("_fa"), F.col("n_cameras")).alias(
                "forecast_mae"
            ),
            F.call_function("div", F.col("_pa"), F.col("n_cameras")).alias(
                "persistence_mae"
            ),
            F.call_function(
                "div",
                (F.col("_pa") - F.col("_fa")) * F.lit(1_000_000),
                F.greatest(F.col("_pa"), F.lit(1)),
            ).alias("improvement_ppm"),
        )
        .orderBy("origin_day")
    )


NEG_K = 4  # negative candidates drawn per positive pair
_NEG_H_SQL = md5_hash_sql(
    "'neg#' || CAST(p.custkey AS VARCHAR) || '#'"
    " || CAST(p.partkey AS VARCHAR) || '#' || CAST(g.j AS VARCHAR)",
    10,
)


@register(
    oracle=f"""
WITH pos AS (
  SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
np AS (SELECT MAX(l_partkey) AS n_parts FROM lineitem),
cand AS (
  SELECT p.custkey, g.j AS slot,
         ({_NEG_H_SQL} % np.n_parts) + 1 AS neg_part
  FROM pos p
  CROSS JOIN (SELECT unnest(generate_series(0, {NEG_K - 1})) AS j) g
  CROSS JOIN np
),
hit AS (
  SELECT c.slot,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN EXISTS (
             SELECT 1 FROM pos p2
             WHERE p2.custkey = c.custkey AND p2.partkey = c.neg_part
         ) THEN 1 ELSE 0 END) AS BIGINT) AS n_collisions
  FROM cand c GROUP BY 1
)
SELECT slot, n_candidates, n_collisions,
       CAST(n_collisions * 1000000 // n_candidates AS BIGINT) AS collision_ppm
FROM hit ORDER BY slot
""",
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender training: for
    every observed (customer, part) positive, NEG_K negative part
    candidates are drawn by salted-md5 hash over the part-id domain —
    a property of the ROW (reproducible across engines, retries, and
    partitionings, like every sampler here), never an RNG stream.
    The accidental-positive rate per slot (collision_ppm, the
    false-negative contamination a trainer must either filter or
    tolerate) is the verification surface: the filter step at scale
    is this exact semi-join against the positives.

    Scale shape: candidate generation is a pure per-row map (NEG_K×
    fan-out, constant); the collision check is one key-partitioned
    semi-join of candidates against positives on (customer, part);
    the result is NEG_K summary rows. Nothing collects; the part-id
    domain bound is a one-row broadcast scalar."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # The collision check is set membership against the CUSTOMER's own
    # positives — so instead of materializing the distinct positive set
    # and left-joining NEG_K× exploded candidates back onto it (two
    # data-sized exchanges + a checkpoint: the r13-opt "before" plan
    # shuffled K·|pos| candidate rows into a SortMergeJoin), fold the
    # positives into one basket per customer (collect_set dedups AND
    # groups in the same hash aggregation — the q_part_affinity shape)
    # and test all NEG_K slots in-row with array_contains. Basket size
    # is bounded by a customer's distinct parts (scale-free, ~40 at any
    # SF — the same per-entity bound q_part_affinity documents), so the
    # membership scan is O(K·|basket|) per positive at every scale and
    # the only data-sized exchange left is the customer groupBy.
    baskets = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .groupBy("custkey")
        .agg(F.collect_set("partkey").alias("pks"))
    )
    np_row = li.agg(F.max("l_partkey").alias("n_parts"))

    def hit(slot: int) -> Column:
        h = md5_hash(
            F.concat(
                F.lit("neg#"),
                F.col("custkey").cast("string"),
                F.lit("#"),
                F.col("partkey").cast("string"),
                F.lit(f"#{slot}"),
            ),
            10,
        )
        return F.array_contains(
            F.col("pks"), h % F.col("n_parts") + 1
        ).cast("long")

    # per-slot totals as NEG_K static sum columns of ONE global
    # aggregate (map-side partial → a single reduced row), then the
    # NEG_K output rows inflate from that row in-plan
    totals = (
        baskets.select(
            "custkey", "pks", F.explode("pks").alias("partkey")
        )
        .crossJoin(F.broadcast(np_row))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            *[F.sum(hit(s)).cast("long").alias(f"h{s}") for s in range(NEG_K)],
        )
    )
    slot_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("long").alias("slot"),
                    F.col(f"h{s}").alias("n_collisions"),
                )
                for s in range(NEG_K)
            ]
        )
    )
    return (
        totals.select("n_candidates", slot_rows.alias("s"))
        .select(
            F.col("s.slot").alias("slot"),
            "n_candidates",
            F.col("s.n_collisions").alias("n_collisions"),
            F.call_function(
                "div",
                F.col("s.n_collisions") * F.lit(1_000_000),
                F.col("n_candidates"),
            ).alias("collision_ppm"),
        )
        .orderBy("slot")
    )


# Drift-detection windows: reference week vs current week, and the
# congestion-band bucketing shared with the SCD-2 state.
DRIFT_A1 = _NOW_EPOCH - 21 * 86400
DRIFT_A2 = _NOW_EPOCH - 14 * 86400
DRIFT_B1 = _NOW_EPOCH - 7 * 86400
DRIFT_B2 = _NOW_EPOCH
DRIFT_BUCKET = 50
DRIFT_TOP = 50


@register(
    oracle=with_traffic(f"""
, ev AS (
  SELECT camera_id, CAST(new_count // {DRIFT_BUCKET} AS BIGINT) AS bucket,
         CASE WHEN ts >= make_timestamp(CAST({DRIFT_A1} AS BIGINT) * 1000000)
               AND ts <  make_timestamp(CAST({DRIFT_A2} AS BIGINT) * 1000000)
              THEN 1 ELSE 0 END AS a,
         CASE WHEN ts >= make_timestamp(CAST({DRIFT_B1} AS BIGINT) * 1000000)
               AND ts <  make_timestamp(CAST({DRIFT_B2} AS BIGINT) * 1000000)
              THEN 1 ELSE 0 END AS b
  FROM traffic
  WHERE (ts >= make_timestamp(CAST({DRIFT_A1} AS BIGINT) * 1000000)
         AND ts < make_timestamp(CAST({DRIFT_A2} AS BIGINT) * 1000000))
     OR (ts >= make_timestamp(CAST({DRIFT_B1} AS BIGINT) * 1000000)
         AND ts < make_timestamp(CAST({DRIFT_B2} AS BIGINT) * 1000000))
),
bc AS (
  SELECT camera_id, bucket, SUM(a) AS ca, SUM(b) AS cb
  FROM ev GROUP BY 1, 2
),
tot AS (
  SELECT camera_id, SUM(ca) AS na, SUM(cb) AS nb FROM bc GROUP BY 1
),
num AS (
  SELECT bc.camera_id, t.na, t.nb,
         SUM(ABS(bc.ca * t.nb - bc.cb * t.na)) AS num,
         COUNT(*) AS n_buckets
  FROM bc JOIN tot t USING (camera_id)
  GROUP BY 1, 2, 3
)
SELECT camera_id, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST((1000000 * num) // (2 * na * nb) AS BIGINT) AS tvd_ppm
FROM num WHERE na > 0 AND nb > 0
ORDER BY tvd_ppm DESC, camera_id
LIMIT {DRIFT_TOP}
"""),
)
def q_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data drift detection: per camera, the total-variation
    distance between the congestion-band distribution of a reference
    week and the current week — the dataset-shift gate an ML pipeline
    runs before retraining (TVD rather than PSI/KL because it needs NO
    logarithms: TVD = Σ|c_a·n_b − c_b·n_a| / (2·n_a·n_b) is exact
    integer arithmetic end-to-end, so the score hash-matches across
    engines instead of drifting in the 15th decimal). Top movers by
    drift, cameras observed in both windows only.

    Scale shape: one conditional-aggregation pass reduces the fact to
    |camera × band| bucket rows (map-side partial); totals and the
    cross-term fold stay at camera/bucket grain; the top movers plan
    as TakeOrderedAndProject. Products c·n stay inside int64 up to
    ~3·10^9 rows per camera-window — beyond that, swap the ppm fold
    to DECIMAL(38,0)."""
    h = traffic_history(spark, sf_dir)

    def win(lo: int, hi: int):
        return (F.col("ts") >= F.timestamp_seconds(F.lit(lo))) & (
            F.col("ts") < F.timestamp_seconds(F.lit(hi))
        )

    in_a, in_b = win(DRIFT_A1, DRIFT_A2), win(DRIFT_B1, DRIFT_B2)
    ev = h.filter(in_a | in_b).select(
        "camera_id",
        F.call_function("div", F.col("new_count"), F.lit(DRIFT_BUCKET)).alias(
            "bucket"
        ),
        in_a.cast("long").alias("a"),
        in_b.cast("long").alias("b"),
    )
    bc = ev.groupBy("camera_id", "bucket").agg(
        F.sum("a").alias("ca"), F.sum("b").alias("cb")
    )
    tot = bc.groupBy("camera_id").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    num = (
        bc.join(tot, "camera_id")
        .groupBy("camera_id", "na", "nb")
        .agg(
            F.sum(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).alias(
                "num"
            ),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )
    return (
        num.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "camera_id",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("n_buckets").cast("long").alias("n_buckets"),
            F.call_function(
                "div",
                F.lit(1000000) * F.col("num"),
                F.lit(2) * F.col("na") * F.col("nb"),
            )
            .cast("long")
            .alias("tvd_ppm"),
        )
        .orderBy(F.desc("tvd_ppm"), "camera_id")
        .limit(DRIFT_TOP)
    )
