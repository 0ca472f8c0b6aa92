"""Scans with predicates — reference app/database.py:74-107 (S1) and
:197-242 (S2).

The reference relies on a SQLite composite index (camera_id, timestamp)
(``app/database.py:33-36``); at 100 TB the equivalent is a date-
partitioned parquet layout + min/max row-group skipping, and the
predicates below push down to the scan (verify with
``plans.explain.audit`` — `PushedFilters` must show the range).

Semantics preserved deliberately: the reference treats a missing bound
as "unbounded" (``if start_ts:`` — note its 0-is-falsy quirk, which we
document but do not copy: SURVEY.md §2.2 P3); we compose optional
filters instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import md5_hash, md5_hash_sql
from ..registry import register
from ..tables import traffic_history, with_traffic

SCAN_CAMERA = "7"
SCAN_START = "2024-01-05 00:00:00"
SCAN_END = "2024-01-20 00:00:00"
RANGE_START = "2024-01-10 00:00:00"

_COLS = ["id", "camera_id", "ts", "new_count", "new_cars", "new_motors"]


def camera_history(
    spark: SparkSession,
    sf_dir: str,
    camera_id: str | None = None,
    start_ts: str | None = None,
    end_ts: str | None = None,
) -> DataFrame:
    """Composable history scan: every predicate optional (the dynamic
    WHERE build of app/database.py:205-216 becomes optional filters —
    Catalyst folds them into one pushed conjunction)."""
    df = traffic_history(spark, sf_dir).select(*_COLS)
    if camera_id is not None:
        df = df.filter(F.col("camera_id") == camera_id)
    if start_ts is not None:
        df = df.filter(F.col("ts") >= F.lit(start_ts).cast("timestamp"))
    if end_ts is not None:
        df = df.filter(F.col("ts") <= F.lit(end_ts).cast("timestamp"))
    return df


@register(
    oracle=with_traffic(f"""
SELECT id, camera_id, ts, new_count, new_cars, new_motors
FROM traffic
WHERE camera_id = '{SCAN_CAMERA}'
  AND ts >= TIMESTAMP '{SCAN_START}'
  AND ts <= TIMESTAMP '{SCAN_END}'
ORDER BY ts, id
"""),
)
def q_camera_history_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: single-camera time-range scan, ordered by time
    (reference app/database.py:74-107)."""
    return camera_history(
        spark, sf_dir, camera_id=SCAN_CAMERA, start_ts=SCAN_START, end_ts=SCAN_END
    ).orderBy("ts", "id")


@register(
    oracle=with_traffic(f"""
SELECT id, camera_id, ts, new_count, new_cars, new_motors
FROM traffic
WHERE ts >= TIMESTAMP '{RANGE_START}'
ORDER BY camera_id, ts, id
"""),
)
def q_history_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: all-camera range scan ordered (camera, time)
    (reference app/database.py:197-242)."""
    return camera_history(spark, sf_dir, start_ts=RANGE_START).orderBy(
        "camera_id", "ts", "id"
    )


@register(
    oracle=with_traffic("""
, tombstones AS (
  SELECT DISTINCT camera_id FROM traffic
  WHERE CAST(camera_id AS BIGINT) % 10 = 7
)
SELECT t.camera_id,
       CAST(COUNT(*) AS BIGINT) AS retained_events,
       CAST(SUM(t.new_count) AS BIGINT) AS retained_total
FROM traffic t
ANTI JOIN tombstones d ON d.camera_id = t.camera_id
GROUP BY t.camera_id
ORDER BY t.camera_id
"""),
)
def q_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure compaction: apply a deletion tombstone set
    (here: every camera whose key ends in 7 — a deterministic stand-in
    for a GDPR request list) to the fact table via broadcast ANTI join
    and emit the retained per-camera summary — the verification
    artifact a purge job ships. At 100 TB the tombstone list is
    request-sized (broadcast), the anti join filters AT THE SCAN
    (no fact shuffle before the filter), and the rewrite itself is a
    partition-scoped overwrite of only the partitions containing
    tombstoned keys.
    """
    h = traffic_history(spark, sf_dir)
    tombstones = (
        h.select("camera_id")
        .filter(F.col("camera_id").cast("long") % 10 == 7)
        .distinct()
    )
    return (
        h.join(F.broadcast(tombstones), "camera_id", "left_anti")
        .groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).alias("retained_events"),
            F.sum("new_count").cast("long").alias("retained_total"),
        )
        .orderBy("camera_id")
    )


K_ANON = 5  # a quasi-identifier group smaller than this is a risk
K_ANON_TOP = 50  # risky groups reported (smallest-first)


@register(
    oracle=f"""
WITH qi AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS qi_hour,
         CAST(FLOOR(value / 50) AS BIGINT) AS qi_value_band,
         user_id
  FROM events WHERE user_id IS NOT NULL
),
grps AS (
  SELECT event_type, qi_hour, qi_value_band,
         CAST(COUNT(*) AS BIGINT) AS group_size
  FROM qi GROUP BY 1, 2, 3
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN group_size < {K_ANON} THEN group_size ELSE 0 END)
              AS BIGINT) AS rows_at_risk,
         CAST(SUM(group_size) AS BIGINT) AS n_rows
  FROM grps
)
SELECT g.event_type, g.qi_hour, g.qi_value_band, g.group_size,
       s.n_groups, s.rows_at_risk,
       CAST(s.rows_at_risk * 1000000 // s.n_rows AS BIGINT) AS risk_ppm
FROM grps g, stats s
WHERE g.group_size < {K_ANON}
ORDER BY g.group_size, g.event_type, g.qi_hour, g.qi_value_band
LIMIT {K_ANON_TOP}
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over the quasi-identifier (event_type,
    hour-of-day, value band): every combination held by fewer than
    K_ANON users' rows is a re-identification risk — the standard
    pre-release governance check next to q_pii_redact (detect) and
    q_gdpr_delete (erase). Reports the riskiest (smallest) groups
    plus corpus-level exposure (rows_at_risk, risk_ppm) as broadcast
    scalars on every row.

    Scale shape: ONE hash aggregation over the projected facts (the
    QI tuple is computed map-side), then everything downstream runs
    on the group frame — bounded by |event_types|·24·|value bands|,
    a dimension-sized domain however large the fact table. The top-N
    risky groups plan as TakeOrderedAndProject."""
    from ..tables import load_table

    qi = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("long").alias("qi_hour"),
            F.floor(F.col("value") / 50).cast("long").alias("qi_value_band"),
        )
    )
    grps = qi.groupBy("event_type", "qi_hour", "qi_value_band").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    stats = grps.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(
            F.when(F.col("group_size") < K_ANON, F.col("group_size")).otherwise(0)
        )
        .cast("long")
        .alias("rows_at_risk"),
        F.sum("group_size").cast("long").alias("n_rows"),
    )
    return (
        grps.filter(F.col("group_size") < K_ANON)
        .crossJoin(F.broadcast(stats))
        .select(
            "event_type",
            "qi_hour",
            "qi_value_band",
            "group_size",
            "n_groups",
            "rows_at_risk",
            F.call_function(
                "div", F.col("rows_at_risk") * F.lit(1_000_000), F.col("n_rows")
            ).alias("risk_ppm"),
        )
        .orderBy("group_size", "event_type", "qi_hour", "qi_value_band")
        .limit(K_ANON_TOP)
    )


# Data-skipping index build: one zone-map row per day partition.
ZM_BLOOM_BITS = 62  # bits 0..61 keep the OR-fold inside positive int64
ZM_PROBE_CAMERA = "7"  # point-lookup probe for the bloom column
ZM_PROBE_COUNT = 450  # range probe for the min/max columns


def zm_bloom_bit(camera: Column) -> Column:
    """Bloom bit of a camera id in a zone fingerprint: its salted
    60-bit hash mod ZM_BLOOM_BITS. The bit inside _ZM_BLOOM_SQL."""
    return F.pmod(
        md5_hash(F.concat(F.lit("zm#"), camera), 15), F.lit(ZM_BLOOM_BITS)
    ).cast("int")


# One zone's fingerprint: the OR of 1 << bit over its rows.
_ZM_BLOOM_SQL = f"""CAST(BIT_OR(1::BIGINT << CAST(
             {md5_hash_sql("'zm#' || camera_id", 15)}
               % {ZM_BLOOM_BITS} AS INT)) AS BIGINT)"""
_ZM_PROBE_SQL = md5_hash_sql(f"'zm#{ZM_PROBE_CAMERA}'", 15)


@register(
    oracle=with_traffic(f"""
, zm AS (
  SELECT strftime(ts, '%Y-%m-%d') AS d,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT camera_id) AS BIGINT) AS n_cameras,
         CAST(MIN(new_count) AS BIGINT) AS min_count,
         CAST(MAX(new_count) AS BIGINT) AS max_count,
         {_ZM_BLOOM_SQL} AS bloom_fp
  FROM traffic GROUP BY 1, 2
)
SELECT d, hr, n_rows, n_cameras, min_count, max_count, bloom_fp,
       ((bloom_fp >> CAST(
           {_ZM_PROBE_SQL}
             % {ZM_BLOOM_BITS} AS INT)) & 1) = 0 AS skip_for_camera,
       NOT ({ZM_PROBE_COUNT} BETWEEN min_count AND max_count) AS skip_for_range
FROM zm
ORDER BY d, hr
"""),
)
def q_zone_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping index build — the zone-map/bloom stats a lakehouse
    writer records per file so point and range probes can prune
    partitions without opening them (Delta/Iceberg column stats,
    parquet row-group min/max, at engine level): per (day, hour) zone —
    the file grain of a partitioned lake layout — the row count, distinct cameras, min/max of the measure, and a 62-bit
    bloom fingerprint of the camera ids (bit = zm_bloom_bit, OR-folded;
    _ZM_BLOOM_SQL is the oracle's form, so DuckDB matches bit for bit).
    Two probe columns demonstrate the pruning decision itself:
    ``skip_for_camera`` (bloom bit for a fixed probe camera unset →
    the whole zone cannot contain it) and ``skip_for_range`` (probe
    value outside [min, max]).

    Scale shape: ONE aggregation over the fact at the partition grain
    — every stat (count, min, max, bit_or) has a map-side partial, so
    100 TB reduces to |partitions| rows in one exchange; the index is
    then a driver-cacheable dimension. The probes are per-row
    expressions on that dimension — the actual skip at query time is
    exactly what Spark's own PartitionFilters + parquet row-group
    stats do with this same metadata."""
    h = traffic_history(spark, sf_dir)
    one = F.lit(1).cast("long")
    zm = (
        h.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.hour("ts").cast("long").alias("hr"),
            "camera_id",
            "new_count",
            zm_bloom_bit(F.col("camera_id")).alias("bit"),
        )
        .groupBy("d", "hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("camera_id").cast("long").alias("n_cameras"),
            F.min("new_count").cast("long").alias("min_count"),
            F.max("new_count").cast("long").alias("max_count"),
            F.bit_or(F.call_function("shiftleft", one, F.col("bit")))
            .cast("long")
            .alias("bloom_fp"),
        )
    )
    import hashlib

    probe_bit = (
        int(hashlib.md5(f"zm#{ZM_PROBE_CAMERA}".encode()).hexdigest()[:15], 16)
        % ZM_BLOOM_BITS
    )
    return zm.select(
        "d", "hr", "n_rows", "n_cameras", "min_count", "max_count", "bloom_fp",
        (
            F.call_function("shiftright", F.col("bloom_fp"), F.lit(probe_bit))
            .bitwiseAND(F.lit(1))
            == 0
        ).alias("skip_for_camera"),
        (~F.lit(ZM_PROBE_COUNT).between(F.col("min_count"), F.col("max_count"))).alias(
            "skip_for_range"
        ),
    ).orderBy("d", "hr")


# Incremental zone-map maintenance: rows whose id lands in the delta
# slot play the part of a late-arriving ingest batch (they scatter
# into MANY existing zones, so the merge exercises real stat combines,
# not just whole-zone appends as a clean new-day delta would).
ZM_DELTA_MOD = 20
ZM_DELTA_SLOT = 7

def zone_stat_frame(side: DataFrame) -> DataFrame:
    """Per-(d, hr) MERGEABLE zone stats of one ingest slice — count,
    min, max and the bloom-bit fingerprint. This is the mergeable
    algebra itself: counts ADD, min/max FOLD, fingerprints OR — the law
    merge(a ⊕ b) == rebuild(a ∪ b) for arbitrary slices is pinned by
    tests/test_analytics.py::test_zone_map_merge_law_arbitrary_splits."""
    one = F.lit(1).cast("long")
    return (
        side.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.hour("ts").cast("long").alias("hr"),
            "new_count",
            zm_bloom_bit(F.col("camera_id")).alias("bit"),
        )
        .groupBy("d", "hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("new_count").cast("long").alias("mn"),
            F.max("new_count").cast("long").alias("mx"),
            F.bit_or(F.call_function("shiftleft", one, F.col("bit")))
            .cast("long")
            .alias("fp"),
        )
    )


def merge_zone_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two zone_stat_frame outputs into one — the ⊕ of the
    mergeable algebra (full-outer on the zone key; counts add, min/max
    fold, fingerprints OR). ``a_n`` / ``b_n`` keep each side's count,
    NULL where the zone is absent on that side."""
    at = a.select(
        "d", "hr",
        F.col("n").alias("a_n"), F.col("mn").alias("a_mn"),
        F.col("mx").alias("a_mx"), F.col("fp").alias("a_fp"),
    )
    bt = b.select(
        "d", "hr",
        F.col("n").alias("b_n"), F.col("mn").alias("b_mn"),
        F.col("mx").alias("b_mx"), F.col("fp").alias("b_fp"),
    )
    return at.join(bt, ["d", "hr"], "full_outer").select(
        "d",
        "hr",
        (F.coalesce("a_n", F.lit(0)) + F.coalesce("b_n", F.lit(0))).alias("n"),
        F.least("a_mn", "b_mn").alias("mn"),
        F.greatest("a_mx", "b_mx").alias("mx"),
        F.coalesce("a_fp", F.lit(0))
        .bitwiseOR(F.coalesce("b_fp", F.lit(0)))
        .alias("fp"),
        "a_n",
        "b_n",
    )


@register(
    oracle=with_traffic(f"""
, b AS (
  SELECT strftime(ts, '%Y-%m-%d') AS d,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(new_count) AS BIGINT) AS mn,
         CAST(MAX(new_count) AS BIGINT) AS mx, {_ZM_BLOOM_SQL} AS fp
  FROM traffic WHERE id % {ZM_DELTA_MOD} <> {ZM_DELTA_SLOT} GROUP BY 1, 2
),
dl AS (
  SELECT strftime(ts, '%Y-%m-%d') AS d,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(new_count) AS BIGINT) AS mn,
         CAST(MAX(new_count) AS BIGINT) AS mx, {_ZM_BLOOM_SQL} AS fp
  FROM traffic WHERE id % {ZM_DELTA_MOD} = {ZM_DELTA_SLOT} GROUP BY 1, 2
)
SELECT d, hr,
       COALESCE(b.n, 0) + COALESCE(dl.n, 0) AS n_rows,
       LEAST(b.mn, dl.mn) AS min_count,
       GREATEST(b.mx, dl.mx) AS max_count,
       COALESCE(b.fp, 0) | COALESCE(dl.fp, 0) AS bloom_fp,
       CASE WHEN b.n IS NULL THEN 'insert'
            WHEN dl.n IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM b FULL OUTER JOIN dl USING (d, hr)
ORDER BY d, hr
"""),
)
def q_zone_map_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental zone-map MAINTENANCE — the nightly companion to
    q_zone_map_stats' full build: a late-arriving ingest batch (the
    delta) updates the stored per-(day, hour) stats by MERGING stat
    rows, never re-scanning the base data. Every kept stat is
    mergeable by construction — counts add, min/max fold, the bloom
    fingerprint ORs — which is exactly why lakehouse column stats are
    restricted to such algebras (the full build's COUNT(DISTINCT)
    column is deliberately absent here: distinct is not mergeable
    without a sketch; the engine's mergeable-distinct answer is the
    q_hll_* register family). ``action`` reports what the delta did
    to each zone (insert / update / keep).

    Scale shape (same discipline as q_cdc_merge): each side compacts
    to |zones| stat rows via ONE map-side-combined hash aggregation;
    both aggregations hash-partition on the zone key, so the
    full-outer merge join adds ZERO extra exchanges
    (plan-asserted). At 100 TB the base side is the stored index —
    |zones| rows read back, not a re-scan; the in-query base build
    stands in for that read."""
    h = traffic_history(spark, sf_dir)
    is_delta = F.pmod(F.col("id"), F.lit(ZM_DELTA_MOD)) == ZM_DELTA_SLOT
    merged = merge_zone_stats(
        zone_stat_frame(h.filter(~is_delta)), zone_stat_frame(h.filter(is_delta))
    )
    return merged.select(
        "d",
        "hr",
        F.col("n").alias("n_rows"),
        F.col("mn").alias("min_count"),
        F.col("mx").alias("max_count"),
        F.col("fp").alias("bloom_fp"),
        F.when(F.col("a_n").isNull(), "insert")
        .when(F.col("b_n").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    ).orderBy("d", "hr")


L_DIVERSITY = 3  # a QI group with fewer distinct sensitive values leaks
L_DIV_TOP = 50


@register(
    oracle=f"""
WITH grps AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS qi_hour,
         CAST(FLOOR(value / 50) AS BIGINT) AS qi_value_band,
         CAST(COUNT(*) AS BIGINT) AS group_size,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sensitive
  FROM events WHERE user_id IS NOT NULL
  GROUP BY 1, 2, 3
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN n_sensitive < {L_DIVERSITY} THEN 1 ELSE 0 END)
              AS BIGINT) AS groups_at_risk
  FROM grps
)
SELECT g.event_type, g.qi_hour, g.qi_value_band, g.group_size, g.n_sensitive,
       s.n_groups, s.groups_at_risk
FROM grps g, stats s
WHERE g.n_sensitive < {L_DIVERSITY}
ORDER BY g.n_sensitive, g.group_size, g.event_type, g.qi_hour, g.qi_value_band
LIMIT {L_DIV_TOP}
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure companion to
    q_k_anonymity (Machanavajjhala et al. 2007): a quasi-identifier
    group can pass the size check yet still leak if nearly all its
    rows belong to the SAME sensitive value (here user_id); any group
    with fewer than L distinct sensitive values is reported, smallest
    diversity first, with corpus-level exposure as broadcast scalars.

    Scale shape: COUNT(DISTINCT) per group plans as the standard
    two-phase expand-aggregate — both phases map-side partial over
    the QI-tuple domain (|event_types|·24·|value bands|, dimension-
    sized at any fact scale); the documented 100 TB swap for a
    high-cardinality sensitive column is the HLL register sketch
    (q_hll_distinct) at the same plan shape. Top-N risky groups plan
    as TakeOrderedAndProject."""
    from ..tables import load_table

    grps = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("long").alias("qi_hour"),
            F.floor(F.col("value") / 50).cast("long").alias("qi_value_band"),
            "user_id",
        )
        .groupBy("event_type", "qi_hour", "qi_value_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.countDistinct("user_id").cast("long").alias("n_sensitive"),
        )
    )
    stats = grps.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n_sensitive") < L_DIVERSITY, 1).otherwise(0))
        .cast("long")
        .alias("groups_at_risk"),
    )
    return (
        grps.filter(F.col("n_sensitive") < L_DIVERSITY)
        .crossJoin(F.broadcast(stats))
        .select(
            "event_type",
            "qi_hour",
            "qi_value_band",
            "group_size",
            "n_sensitive",
            "n_groups",
            "groups_at_risk",
        )
        .orderBy(
            "n_sensitive", "group_size", "event_type", "qi_hour", "qi_value_band"
        )
        .limit(L_DIV_TOP)
    )


# Selectivity-estimation probe: hour-aligned time range x measure range.
from ..compat import NOW_EPOCH as _NOW_EPOCH  # noqa: E402

SEL_T1 = _NOW_EPOCH - 14 * 86400  # NOW - 14d (midnight => hour-aligned)
SEL_T2 = _NOW_EPOCH - 7 * 86400
SEL_C1, SEL_C2 = 100, 250

# ONE definition of the zone-map pass, the predicate window and the
# uniform interpolation, shared by all three selectivity rungs
# (q_selectivity_estimate / _histogram / _zone_sketch) in BOTH engines
# — the cross-estimator witness agreement holds by construction.
_SEL_ZM_SQL = f"""zm AS (
  SELECT epoch_us(ts) // 1000000 // 3600 AS hour_epoch,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(MIN(new_count) AS BIGINT) AS mn,
         CAST(MAX(new_count) AS BIGINT) AS mx,
         CAST(SUM(CASE WHEN new_count BETWEEN {SEL_C1} AND {SEL_C2}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM traffic GROUP BY 1
)"""

_SEL_RNG_SQL = f"""rng AS (
  SELECT *,
         hour_epoch >= {SEL_T1 // 3600} AND hour_epoch < {SEL_T2 // 3600}
           AS in_range,
         GREATEST(0, LEAST({SEL_C2}, mx) - GREATEST({SEL_C1}, mn) + 1)
           AS overlap
  FROM zm
)"""


def sel_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour-zone stats frame (n_rows, mn, mx, n_match) — the Spark
    twin of _SEL_ZM_SQL; n_match is the exact witness riding along."""
    from ..compat import epoch_s

    return (
        traffic_history(spark, sf_dir)
        .select(
            F.call_function("div", epoch_s("ts"), F.lit(3600)).alias("hour_epoch"),
            "new_count",
        )
        .groupBy("hour_epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("new_count").cast("long").alias("mn"),
            F.max("new_count").cast("long").alias("mx"),
            F.sum(F.col("new_count").between(SEL_C1, SEL_C2).cast("long"))
            .cast("long")
            .alias("n_match"),
        )
    )


def sel_in_range():
    """hour_epoch ∈ [T1, T2) — the (hour-aligned ⇒ exact) time window."""
    return (F.col("hour_epoch") >= SEL_T1 // 3600) & (
        F.col("hour_epoch") < SEL_T2 // 3600
    )


def sel_overlap():
    """Width of [C1, C2] ∩ [mn, mx] per zone (0 when disjoint)."""
    return F.greatest(
        F.lit(0),
        F.least(F.lit(SEL_C2), F.col("mx"))
        - F.greatest(F.lit(SEL_C1), F.col("mn"))
        + 1,
    )


def sel_est_zone():
    """Uniform-within-zone interpolation of the matching rows."""
    ov = sel_overlap()
    return F.when(
        sel_in_range() & (ov > 0),
        F.call_function(
            "div", F.col("n_rows") * ov, F.col("mx") - F.col("mn") + 1
        ),
    ).otherwise(0)


@register(
    oracle=with_traffic(f"""
, {_SEL_ZM_SQL},
{_SEL_RNG_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS zones_total,
       CAST(SUM(CASE WHEN in_range THEN 1 ELSE 0 END) AS BIGINT)
         AS zones_in_range,
       CAST(SUM(CASE WHEN in_range AND overlap > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS zones_scanned,
       CAST(SUM(CASE WHEN in_range AND overlap > 0
                THEN n_rows * overlap // (mx - mn + 1) ELSE 0 END) AS BIGINT)
         AS est_rows,
       CAST(SUM(CASE WHEN in_range THEN n_match ELSE 0 END) AS BIGINT)
         AS exact_rows,
       CAST(ABS(SUM(CASE WHEN in_range AND overlap > 0
                     THEN n_rows * overlap // (mx - mn + 1) ELSE 0 END)
                - SUM(CASE WHEN in_range THEN n_match ELSE 0 END)) * 1000000
            // GREATEST(SUM(CASE WHEN in_range THEN n_match ELSE 0 END), 1)
            AS BIGINT) AS err_ppm
FROM rng
"""),
)
def q_selectivity_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-selectivity estimation FROM the zone map — the zone
    stats doing their cost-based-optimizer job: "how many rows match
    ts ∈ [T1, T2) AND count ∈ [C1, C2]?" answered from per-hour-zone
    (n_rows, min, max) alone by uniform-within-zone interpolation
    (est_zone = n_rows · overlap / (max−min+1), pure integer floors),
    with zone-grain partition pruning (hour-aligned bounds ⇒ exact)
    and min/max data skipping (zones_scanned vs zones_in_range = the
    I/O the index saves). The exact count rides along in the SAME
    aggregation as the calibration witness (err_ppm) — and the witness
    is the honest point: on this skewed measure the uniform assumption
    OVERESTIMATES ~2-3× (err_ppm ≈ 1.3e6 at sf0.01), which is exactly
    the gap that pushes real optimizers from min/max stats to
    histograms (q_ddsketch_quantiles is this repo's mergeable
    histogram; zone-grain sketches are the upgrade path).

    Scale shape: ONE map-side-partial aggregation to |hour zones|
    rows, then a scalar fold — at 100 TB the estimator reads the
    STORED index (zone-map rows), never the fact; the in-query build
    stands in for that read exactly as in q_zone_map_merge."""
    zm = sel_zone_map(spark, sf_dir)
    in_range = sel_in_range()
    overlap = sel_overlap()
    est_zone = sel_est_zone()
    agg = zm.agg(
        F.count(F.lit(1)).cast("long").alias("zones_total"),
        F.sum(in_range.cast("long")).cast("long").alias("zones_in_range"),
        F.sum((in_range & (overlap > 0)).cast("long"))
        .cast("long")
        .alias("zones_scanned"),
        F.sum(est_zone).cast("long").alias("est_rows"),
        F.sum(F.when(in_range, F.col("n_match")).otherwise(0))
        .cast("long")
        .alias("exact_rows"),
    )
    return agg.select(
        "zones_total",
        "zones_in_range",
        "zones_scanned",
        "est_rows",
        "exact_rows",
        F.call_function(
            "div",
            F.abs(F.col("est_rows") - F.col("exact_rows")) * F.lit(1_000_000),
            F.greatest(F.col("exact_rows"), F.lit(1)),
        )
        .cast("long")
        .alias("err_ppm"),
    )


# Equi-depth histogram statistics: the CBO upgrade from min/max zone
# stats that q_selectivity_estimate's ~2-3x skew error motivates.
HIST_BUCKETS = 32

# Value-frequency + cumulative-rank CTEs shared by the histogram
# queries (the Spark twin is hist_buckets_from_vf below). The
# generator parameterizes the CTE-name suffix and an extra scan
# predicate so the SAMPLED-histogram twin can build a second,
# independently-named pipeline in the same oracle; defaults emit the
# text the settled histogram oracles were registered with, byte for
# byte (fingerprint-checked).
def _hist_ctes_sql(sfx: str = "", extra_where: str = "") -> str:
    return f"""
vf{sfx} AS (
  SELECT new_count AS v, CAST(COUNT(*) AS BIGINT) AS f
  FROM traffic WHERE new_count IS NOT NULL{extra_where} GROUP BY 1
),
cum{sfx} AS (
  SELECT v, f,
         SUM(f) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS c_hi
  FROM vf{sfx}
),
tot{sfx} AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM vf{sfx}),
bk{sfx} AS (
  SELECT CAST(range AS BIGINT) AS bucket,
         range * n // {HIST_BUCKETS} AS r_lo,
         (range + 1) * n // {HIST_BUCKETS} AS r_hi
  FROM range({HIST_BUCKETS}), tot{sfx}
),
hist{sfx} AS (
  SELECT b.bucket,
         CAST(MIN(c.v) AS BIGINT) AS lo,
         CAST(MAX(c.v) AS BIGINT) AS hi,
         CAST(SUM(LEAST(c.c_hi, b.r_hi) - GREATEST(c.c_hi - c.f, b.r_lo))
              AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS ndv
  FROM cum{sfx} c JOIN bk{sfx} b ON c.c_hi - c.f < b.r_hi AND c.c_hi > b.r_lo
  GROUP BY 1
)
""".strip()


_HIST_CTES = _hist_ctes_sql()


def hist_value_freq(h: DataFrame) -> DataFrame:
    """Value-frequency table (v, f) of traffic.new_count — the
    MERGEABLE sufficient statistic behind the equi-depth histogram:
    the histogram itself (rank-quantile bounds) is not mergeable, but
    vf counts ADD across arbitrary slices, so incremental stats
    refresh maintains vf and re-derives buckets (q_histogram_merge)."""
    return (
        h.filter(F.col("new_count").isNotNull())
        .groupBy(F.col("new_count").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )


def merge_vf(a: DataFrame, b: DataFrame) -> DataFrame:
    """vf(a) ⊕ vf(b): value-frequency counts ADD under a co-partitioned
    full-outer join on v — the mergeable-sufficient-statistic algebra
    q_histogram_merge maintains (associative + commutative with the
    empty frame as identity; pinned under arbitrary K-way splits by
    tests/test_analytics.py::test_histogram_merge_law_arbitrary_splits)."""
    return (
        a.select("v", F.col("f").alias("b_f"))
        .join(b.select("v", F.col("f").alias("d_f")), "v", "full_outer")
        .select(
            "v",
            (F.coalesce("b_f", F.lit(0)) + F.coalesce("d_f", F.lit(0)))
            .cast("long")
            .alias("f"),
        )
    )


def hist_buckets_from_vf(spark: SparkSession, vf: DataFrame) -> DataFrame:
    """Equi-depth bucket frame (bucket, lo, hi, n_rows, ndv) derived
    from a value-frequency table — the Spark twin of the _HIST_CTES
    pipeline.

    Built WITHOUT a row-level global sort: the vf frame is
    value-DOMAIN-sized, not data-sized, so the single cumulative
    window over it is bounded at any fact scale (same license as the
    vocabulary windows in functions/text.py); bucket boundaries at
    ranks k*n/B come from an interval-overlap join of value rank
    ranges [c_hi-f, c_hi) against the broadcast {HIST_BUCKETS}-row
    bucket spine. Classic equi-depth construction sorts all n rows;
    this is one map-side-combined aggregation + domain-sized algebra."""
    from pyspark.sql import Window

    from ..compat import constant_key

    # one window partition over the value-DOMAIN-sized frame is
    # correct by design (see compat.constant_key)
    w = (
        Window.partitionBy(constant_key(F.col("v")))
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vf.select("v", "f", F.sum("f").over(w).alias("c_hi"))
    tot = vf.agg(F.sum("f").cast("long").alias("n"))
    bk = (
        spark.range(HIST_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.call_function(
                "div", F.col("bucket") * F.col("n"), F.lit(HIST_BUCKETS)
            ).alias("r_lo"),
            F.call_function(
                "div", (F.col("bucket") + 1) * F.col("n"), F.lit(HIST_BUCKETS)
            ).alias("r_hi"),
        )
    )
    j = cum.join(
        F.broadcast(bk),
        (F.col("c_hi") - F.col("f") < F.col("r_hi"))
        & (F.col("c_hi") > F.col("r_lo")),
    )
    return j.groupBy("bucket").agg(
        F.min("v").cast("long").alias("lo"),
        F.max("v").cast("long").alias("hi"),
        F.sum(
            F.least("c_hi", "r_hi")
            - F.greatest(F.col("c_hi") - F.col("f"), F.col("r_lo"))
        )
        .cast("long")
        .alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
    )


@register(
    oracle=with_traffic(f"""
, {_HIST_CTES}
SELECT bucket, lo, hi, n_rows, ndv FROM hist ORDER BY bucket
"""),
)
def q_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth HISTOGRAM statistics over traffic.new_count — the
    CBO statistic q_analyze_table's NDV/min-max pass lacks and
    q_selectivity_estimate's honest err_ppm motivates (uniform
    min/max interpolation reads ~2-3x high on this skewed measure).
    Each of the {HIST_BUCKETS} buckets holds ~n/B consecutive ranks of
    the sorted measure, reported as (lo, hi, n_rows, ndv) — exactly
    the per-column histogram ANALYZE TABLE .. COMPUTE STATISTICS FOR
    COLUMNS persists (equi-depth, the PostgreSQL/Spark CBO choice,
    because equal mass per bucket bounds the interpolation error on
    skew by 1/B regardless of the distribution shape).

    Bucket boundaries are exact rank quantiles computed WITHOUT a
    global sort of the fact — see hist_buckets_from_vf: one hash aggregation
    to the value-frequency table, a domain-sized cumulative window,
    and an overlap join against the broadcast bucket spine. Ties are
    a non-issue by construction: ranks are assigned to (value,
    frequency) intervals, so both engines split a straddling value
    across buckets identically (pure integer arithmetic).

    Scale shape: ONE map-side-combined aggregation over the fact; at
    100 TB everything after the value-frequency reduction is
    value-domain-sized. No reference analog (SQLite has sqlite_stat4
    sampling; SURVEY.md §2 notes the engine owns its stats)."""
    return hist_buckets_from_vf(
        spark, hist_value_freq(traffic_history(spark, sf_dir))
    ).orderBy("bucket")


# Incremental stats-refresh slot (distinct from the zone-map delta so
# the two maintenance ops exercise different delta shapes).
HG_DELTA_MOD = 16
HG_DELTA_SLOT = 5


@register(
    oracle=with_traffic(f"""
, {_HIST_CTES}
SELECT bucket, lo, hi, n_rows, ndv FROM hist ORDER BY bucket
"""),
)
def q_histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HISTOGRAM refresh — the stats-maintenance leg next
    to q_zone_map_merge (index) and q_mv_refresh (aggregate): a new
    ingest batch updates the stored equi-depth histogram WITHOUT
    re-scanning history. The trick is choosing the right stored
    artifact: equi-depth bucket bounds are rank quantiles and do NOT
    merge, but the value-frequency table they derive from is a
    mergeable sufficient statistic (counts ADD) — so the refresh
    merges vf(base) ⊕ vf(delta) via a co-partitioned full-outer join
    and re-derives the buckets with domain-sized algebra only. This is
    exactly how engines with incremental ANALYZE maintain histograms:
    keep the frequency sketch, rebuild the quantile view.

    The oracle is the FULL-REBUILD histogram SQL, so the driver hash
    check is the incremental-equals-rebuild theorem (the
    q_mv_refresh / q_scd2_apply discipline).

    Scale shape: two map-side-combined aggregations (base stands in
    for reading the stored vf — value-domain-sized rows, not a
    re-scan), one co-partitioned merge join on v, then the same
    broadcast-spine bucket derivation as q_histogram_stats. Nightly
    cost is O(delta + |value domain|), never O(history)."""
    h = traffic_history(spark, sf_dir)
    is_delta = F.pmod(F.col("id"), F.lit(HG_DELTA_MOD)) == HG_DELTA_SLOT
    merged = merge_vf(
        hist_value_freq(h.filter(~is_delta)), hist_value_freq(h.filter(is_delta))
    )
    return hist_buckets_from_vf(spark, merged).orderBy("bucket")


@register(
    oracle=with_traffic(f"""
, {_SEL_ZM_SQL},
{_SEL_RNG_SQL},
zs AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
         CAST(SUM(CASE WHEN in_range THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_in_window,
         CAST(SUM(CASE WHEN in_range AND overlap > 0
                  THEN n_rows * overlap // (mx - mn + 1) ELSE 0 END) AS BIGINT)
           AS est_uniform,
         CAST(SUM(CASE WHEN in_range THEN n_match ELSE 0 END) AS BIGINT)
           AS exact_rows
  FROM rng
),
{_HIST_CTES},
hm AS (
  SELECT CAST(SUM(CASE WHEN ov > 0 THEN n_rows * ov // (hi - lo + 1)
                  ELSE 0 END) AS BIGINT) AS hist_match_all
  FROM (SELECT *,
               GREATEST(0, LEAST({SEL_C2}, hi) - GREATEST({SEL_C1}, lo) + 1)
                 AS ov
        FROM hist)
),
est AS (
  SELECT zs.total_rows, zs.rows_in_window, zs.exact_rows, zs.est_uniform,
         CAST(zs.rows_in_window * hm.hist_match_all // zs.total_rows
              AS BIGINT) AS est_hist
  FROM zs, hm
)
SELECT total_rows, rows_in_window, exact_rows, est_uniform, est_hist,
       CAST(ABS(est_uniform - exact_rows) * 1000000
            // GREATEST(exact_rows, 1) AS BIGINT) AS err_uniform_ppm,
       CAST(ABS(est_hist - exact_rows) * 1000000
            // GREATEST(exact_rows, 1) AS BIGINT) AS err_hist_ppm
FROM est
"""),
)
def q_selectivity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based selectivity estimation — the SAME predicate and
    exact witness as q_selectivity_estimate (ts in [T1, T2) AND
    new_count in [C1, C2]) answered from the equi-depth histogram
    instead of per-zone min/max, side by side with the uniform
    estimate so the output row IS the eval: err_hist_ppm vs
    err_uniform_ppm. The histogram estimator applies the textbook
    CBO decomposition — time selectivity exact from hour-zone counts
    (hour-aligned bounds => partition pruning is exact), value
    selectivity from the histogram (full buckets count fully, the two
    boundary buckets interpolate uniformly within [lo, hi]), composed
    under attribute-value independence: est = rows_in_window *
    match_all_time / total. Equal-mass buckets bound the within-bucket
    error by n/B per boundary bucket regardless of skew — the reason
    this estimator beats zone-uniform ~9x on this measure (err ~15%
    vs ~132% at sf0.01; pinned by tests/test_analytics.py::
    test_selectivity_histogram_beats_uniform).

    Scale shape: two map-side-combined stat passes over the fact (at
    100 TB both are READS of stored statistics — the zone-map table
    and the ANALYZE histogram this query's twin builds), then pure
    scalar algebra on broadcast one-row frames."""
    in_range = sel_in_range()
    zs = sel_zone_map(spark, sf_dir).agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.sum(F.when(in_range, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_in_window"),
        F.sum(sel_est_zone()).cast("long").alias("est_uniform"),
        F.sum(F.when(in_range, F.col("n_match")).otherwise(0))
        .cast("long")
        .alias("exact_rows"),
    )

    hb = hist_buckets_from_vf(
        spark, hist_value_freq(traffic_history(spark, sf_dir))
    )
    ov = F.greatest(
        F.lit(0),
        F.least(F.lit(SEL_C2), F.col("hi"))
        - F.greatest(F.lit(SEL_C1), F.col("lo"))
        + 1,
    )
    hm = hb.agg(
        F.sum(
            F.when(
                ov > 0,
                F.call_function(
                    "div", F.col("n_rows") * ov, F.col("hi") - F.col("lo") + 1
                ),
            ).otherwise(0)
        )
        .cast("long")
        .alias("hist_match_all")
    )

    est = zs.crossJoin(F.broadcast(hm)).select(
        "total_rows",
        "rows_in_window",
        "exact_rows",
        "est_uniform",
        F.call_function(
            "div",
            F.col("rows_in_window") * F.col("hist_match_all"),
            F.col("total_rows"),
        )
        .cast("long")
        .alias("est_hist"),
    )

    def err_ppm(col: str):
        return F.call_function(
            "div",
            F.abs(F.col(col) - F.col("exact_rows")) * F.lit(1_000_000),
            F.greatest(F.col("exact_rows"), F.lit(1)),
        ).cast("long")

    return est.select(
        "total_rows",
        "rows_in_window",
        "exact_rows",
        "est_uniform",
        "est_hist",
        err_ppm("est_uniform").alias("err_uniform_ppm"),
        err_ppm("est_hist").alias("err_hist_ppm"),
    )


# Sampled-histogram build: deterministic 10% row sample by id hash
# (own prefix so it decorrelates from every other sampling query).
SH_MOD = 1000
SH_PERMILLE = 100

_SH_H_SQL = md5_hash_sql("'shs#' || CAST(id AS VARCHAR)", 15)
_SH_PRED_SQL = f" AND {_SH_H_SQL} % {SH_MOD} < {SH_PERMILLE}"


@register(
    oracle=with_traffic(f"""
, {_SEL_ZM_SQL},
{_SEL_RNG_SQL},
zs AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
         CAST(SUM(CASE WHEN in_range THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_in_window,
         CAST(SUM(CASE WHEN in_range THEN n_match ELSE 0 END) AS BIGINT)
           AS exact_rows
  FROM rng
),
{_hist_ctes_sql()},
hm AS (
  SELECT CAST(SUM(CASE WHEN ov > 0 THEN n_rows * ov // (hi - lo + 1)
                  ELSE 0 END) AS BIGINT) AS hist_match_all
  FROM (SELECT *,
               GREATEST(0, LEAST({SEL_C2}, hi) - GREATEST({SEL_C1}, lo) + 1)
                 AS ov
        FROM hist)
),
{_hist_ctes_sql("_s", _SH_PRED_SQL)},
hm_s AS (
  SELECT CAST(SUM(CASE WHEN ov > 0 THEN n_rows * ov // (hi - lo + 1)
                  ELSE 0 END) AS BIGINT) AS s_match,
         CAST((SELECT n FROM tot_s) AS BIGINT) AS sample_rows
  FROM (SELECT *,
               GREATEST(0, LEAST({SEL_C2}, hi) - GREATEST({SEL_C1}, lo) + 1)
                 AS ov
        FROM hist_s)
),
est AS (
  SELECT zs.total_rows, zs.rows_in_window, zs.exact_rows,
         CAST(zs.rows_in_window * hm.hist_match_all // zs.total_rows
              AS BIGINT) AS est_hist,
         CAST(zs.rows_in_window * (hm_s.s_match * {SH_MOD} // {SH_PERMILLE})
              // zs.total_rows AS BIGINT) AS est_sample_hist,
         hm_s.sample_rows
  FROM zs, hm, hm_s
)
SELECT total_rows, rows_in_window, exact_rows, est_hist, est_sample_hist,
       CAST(ABS(est_hist - exact_rows) * 1000000
            // GREATEST(exact_rows, 1) AS BIGINT) AS err_hist_ppm,
       CAST(ABS(est_sample_hist - exact_rows) * 1000000
            // GREATEST(exact_rows, 1) AS BIGINT) AS err_sample_ppm,
       sample_rows
FROM est
"""),
)
def q_sample_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram FROM A SAMPLE — the link between the sampled-ANALYZE
    leg (q_analyze_sample: at 100 TB the stats pass reads a sample)
    and the histogram rung (q_selectivity_histogram: equi-depth
    buckets beat zone-uniform ~9×): build the SAME equi-depth
    histogram from a deterministic 10% row sample, scale its bucket
    masses by 1/q, and answer the SAME predicate next to the
    full-scan histogram and the exact witness — one row showing what
    estimation accuracy the 10× cheaper stats pass gives up. This is
    exactly how PostgreSQL builds its histograms (default_statistics
    pages are sampled, not scanned), so the err_sample_ppm column is
    the real-world number; the ladder discipline: every estimator
    reports its error next to a witness.

    Scale shape: identical to q_selectivity_histogram except the vf
    aggregation scans a hash-threshold 10% of the fact (predicate
    pushed to the scan); everything downstream of both vf reductions
    is value-domain-sized. Bucket boundaries from the sample differ
    from the full build's (rank quantiles of the sample), which is
    the whole point — the estimator carries its construction error
    honestly."""
    in_range = sel_in_range()
    zs = sel_zone_map(spark, sf_dir).agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.sum(F.when(in_range, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_in_window"),
        F.sum(F.when(in_range, F.col("n_match")).otherwise(0))
        .cast("long")
        .alias("exact_rows"),
    )
    from ..compat import idiv as div

    h = traffic_history(spark, sf_dir)
    sample = h.filter(
        F.pmod(
            md5_hash(F.concat(F.lit("shs#"), F.col("id").cast("string")), 15),
            F.lit(SH_MOD),
        )
        < SH_PERMILLE
    )

    def match_all(hb: DataFrame, alias: str) -> DataFrame:
        ov = F.greatest(
            F.lit(0),
            F.least(F.lit(SEL_C2), F.col("hi"))
            - F.greatest(F.lit(SEL_C1), F.col("lo"))
            + 1,
        )
        return hb.agg(
            F.sum(
                F.when(
                    ov > 0,
                    div(F.col("n_rows") * ov, F.col("hi") - F.col("lo") + 1),
                ).otherwise(0)
            )
            .cast("long")
            .alias(alias)
        )

    hm = match_all(
        hist_buckets_from_vf(spark, hist_value_freq(h)), "hist_match_all"
    )
    vf_s = hist_value_freq(sample).localCheckpoint(eager=False)  # hm_s + size
    hm_s = match_all(hist_buckets_from_vf(spark, vf_s), "s_match").crossJoin(
        F.broadcast(vf_s.agg(F.sum("f").cast("long").alias("sample_rows")))
    )
    est = (
        zs.crossJoin(F.broadcast(hm))
        .crossJoin(F.broadcast(hm_s))
        .select(
            "total_rows",
            "rows_in_window",
            "exact_rows",
            div(
                F.col("rows_in_window") * F.col("hist_match_all"),
                F.col("total_rows"),
            )
            .cast("long")
            .alias("est_hist"),
            div(
                F.col("rows_in_window")
                * div(F.col("s_match") * F.lit(SH_MOD), F.lit(SH_PERMILLE)),
                F.col("total_rows"),
            )
            .cast("long")
            .alias("est_sample_hist"),
            "sample_rows",
        )
    )

    def err_ppm(col: str, tag: str):
        return (
            div(
                F.abs(F.col(col) - F.col("exact_rows")) * F.lit(1_000_000),
                F.greatest(F.col("exact_rows"), F.lit(1)),
            )
            .cast("long")
            .alias(tag)
        )

    return est.select(
        "total_rows",
        "rows_in_window",
        "exact_rows",
        "est_hist",
        "est_sample_hist",
        err_ppm("est_hist", "err_hist_ppm"),
        err_ppm("est_sample_hist", "err_sample_ppm"),
        "sample_rows",
    )


def zone_sketch_bounds():
    """(lo, up) inclusive value bounds of the sketch bucket column —
    computed with CLAMPED shifts instead of pipeline.dds_upper:
    Spark's subexpression hoisting evaluates the otherwise-branch
    arithmetic for b <= 3 rows too (the r11 ANSI trap), where o-2 < 0
    becomes a masked 62-bit shift and (s+1)*width overflows. Real
    sketch buckets are 0..3 or >= 8 (octave o >= 2), so greatest(o, 2)
    changes nothing on the taken branch while keeping every shift
    non-negative. For b >= 8: lo = 2^o + s*width == dds_upper(b-1) + 1
    (octave-boundary case included: upper(4(o-1)+3) = 2^o - 1),
    up == dds_upper(b). Shared by q_selectivity_zone_sketch and the
    equivalence test (test_zone_sketch_bounds_match_dds_upper), so the
    pin covers the production expression itself."""
    b = F.col("bucket")
    o2 = F.greatest(F.call_function("div", b, F.lit(4)), F.lit(2)).cast("int")
    s = F.pmod(b, F.lit(4))
    base = F.call_function("shiftleft", F.lit(1).cast("long"), o2)
    width = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (o2 - 2).cast("int")
    )
    lo = F.when(b <= 3, b.cast("long")).otherwise(base + s * width)
    up = F.when(b <= 3, b.cast("long")).otherwise(base + (s + 1) * width - 1)
    return lo, up


def _zone_sketch_oracle() -> str:
    from .pipeline import _DDS_BUCKET_SQL, _DDS_UPPER_SQL

    # Direct lower-bound formula (== upper(bucket-1) + 1, including the
    # octave boundary where upper(4(o-1)+3) = 2^o - 1): upper(bucket-1)
    # would left-shift by -1 at bucket = 8 and DuckDB rejects negative
    # shift counts even in untaken CASE arms of constant-folded rows.
    lo_sql = """CASE WHEN bucket <= 3 THEN bucket
         ELSE (1 << (bucket // 4))
              + (bucket % 4) * (1 << (bucket // 4 - 2)) END"""
    return with_traffic(f"""
, zsk AS (
  SELECT hour_epoch, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT epoch_us(ts) // 1000000 // 3600 AS hour_epoch,
               {_DDS_BUCKET_SQL} AS bucket
        FROM (SELECT ts, new_count AS x FROM traffic))
  GROUP BY 1, 2
),
bounds AS (
  SELECT hour_epoch, bucket, n,
         {lo_sql} AS lo,
         {_DDS_UPPER_SQL} AS up,
         hour_epoch >= {SEL_T1 // 3600} AND hour_epoch < {SEL_T2 // 3600}
           AS in_range
  FROM zsk
),
sk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sketch_cells,
         CAST(SUM(CASE WHEN in_range AND ov > 0
                  THEN n * ov // (up - lo + 1) ELSE 0 END) AS BIGINT)
           AS est_sketch
  FROM (SELECT *,
               GREATEST(0, LEAST({SEL_C2}, up) - GREATEST({SEL_C1}, lo) + 1)
                 AS ov
        FROM bounds)
),
{_SEL_ZM_SQL},
{_SEL_RNG_SQL},
zs AS (
  SELECT CAST(SUM(CASE WHEN in_range AND overlap > 0
                  THEN n_rows * overlap // (mx - mn + 1) ELSE 0 END) AS BIGINT)
           AS est_uniform,
         CAST(SUM(CASE WHEN in_range THEN n_match ELSE 0 END) AS BIGINT)
           AS exact_rows
  FROM rng
)
SELECT zs.exact_rows, zs.est_uniform, sk.est_sketch, sk.sketch_cells,
       CAST(ABS(zs.est_uniform - zs.exact_rows) * 1000000
            // GREATEST(zs.exact_rows, 1) AS BIGINT) AS err_uniform_ppm,
       CAST(ABS(sk.est_sketch - zs.exact_rows) * 1000000
            // GREATEST(zs.exact_rows, 1) AS BIGINT) AS err_sketch_ppm
FROM zs, sk
""")


@register(oracle=_zone_sketch_oracle())
def q_selectivity_zone_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-GRAIN SKETCH selectivity — the last rung of this repo's
    estimator ladder, and exactly the upgrade q_selectivity_estimate's
    docstring names ("zone-grain sketches are the upgrade path"): each
    hour zone stores a DDSketch-style value histogram (the log2-octave
    x 4 sub-bucket cells of q_ddsketch_quantiles — mergeable, bounded
    at ~48 cells/zone), so the same time x measure predicate is
    estimated per zone from the zone's OWN value distribution. The
    trade it makes against the other rungs is real and the output row
    measures it honestly: per-zone cells eliminate the independence
    assumption entirely (no AVI error, any zone-aligned time range)
    and stay MERGEABLE (cells add as partitions append — equi-depth
    bounds don't, see q_histogram_merge), but pay the sketch's 25%
    relative bucket width at the predicate boundaries. Measured at
    sf0.01: uniform 132% err, zone sketch 17.9%, global equi-depth
    15.2% — on this corpus time x value correlation is mild, so the
    histogram's finer dense-region buckets roughly tie the sketch;
    under strong correlation the AVI term grows unboundedly while the
    sketch's boundary term stays fixed, which is why per-partition
    column histograms are the form lakehouses actually persist.
    test_selectivity_sketch_beats_uniform pins the robust inequality
    (sketch ≈ 7x better than uniform) and the cross-estimator
    agreement on the shared witness columns.

    Scale shape: the sketch is ONE map-side-combined aggregation to
    |zones x ~48| cells (the per-partition column-histogram stats
    lakehouses persist — cells merge by addition as partitions
    append, same algebra as q_ddsketch_quantiles); the estimator is
    domain-sized arithmetic over the stored cells. At 100 TB both
    passes are READS of stored statistics."""
    from ..compat import epoch_s
    from .pipeline import dds_bucket

    h = traffic_history(spark, sf_dir)
    hour = F.call_function("div", epoch_s("ts"), F.lit(3600))

    zsk = (
        h.select(hour.alias("hour_epoch"), dds_bucket(F.col("new_count")).alias("bucket"))
        .groupBy("hour_epoch", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    in_range = sel_in_range()
    lo, up = zone_sketch_bounds()
    ov = F.greatest(
        F.lit(0),
        F.least(F.lit(SEL_C2), up) - F.greatest(F.lit(SEL_C1), lo) + 1,
    )
    sk = zsk.agg(
        F.count(F.lit(1)).cast("long").alias("sketch_cells"),
        F.sum(
            F.when(
                in_range & (ov > 0),
                F.call_function("div", F.col("n") * ov, up - lo + 1),
            ).otherwise(0)
        )
        .cast("long")
        .alias("est_sketch"),
    )

    zs = sel_zone_map(spark, sf_dir).agg(
        F.sum(sel_est_zone()).cast("long").alias("est_uniform"),
        F.sum(F.when(in_range, F.col("n_match")).otherwise(0))
        .cast("long")
        .alias("exact_rows"),
    )

    def err_ppm(col: str):
        return F.call_function(
            "div",
            F.abs(F.col(col) - F.col("exact_rows")) * F.lit(1_000_000),
            F.greatest(F.col("exact_rows"), F.lit(1)),
        ).cast("long")

    return zs.crossJoin(F.broadcast(sk)).select(
        "exact_rows",
        "est_uniform",
        "est_sketch",
        "sketch_cells",
        err_ppm("est_uniform").alias("err_uniform_ppm"),
        err_ppm("est_sketch").alias("err_sketch_ppm"),
    )


def _zsk_cells_sql() -> str:
    """zsk + zbounds CTE text: the 2-D zone×measure sketch cells with
    (lo, up, in_range) attached — the same cells as _zone_sketch_oracle
    builds inline (kept separate so that settled oracle's text, and with
    it q_selectivity_zone_sketch's fingerprint, stays stable)."""
    from .pipeline import _DDS_BUCKET_SQL, _DDS_UPPER_SQL

    lo_sql = """CASE WHEN bucket <= 3 THEN bucket
         ELSE (1 << (bucket // 4))
              + (bucket % 4) * (1 << (bucket // 4 - 2)) END"""
    return f"""zsk AS (
  SELECT hour_epoch, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT epoch_us(ts) // 1000000 // 3600 AS hour_epoch,
               {_DDS_BUCKET_SQL} AS bucket
        FROM (SELECT ts, new_count AS x FROM traffic))
  GROUP BY 1, 2
),
zbounds AS (
  SELECT hour_epoch, bucket, n,
         {lo_sql} AS lo,
         {_DDS_UPPER_SQL} AS up,
         hour_epoch >= {SEL_T1 // 3600} AND hour_epoch < {SEL_T2 // 3600}
           AS in_range
  FROM zsk
)"""


_ZSK_CELLS_SQL = _zsk_cells_sql()


# Third conjunct for the correlation rung: the traffic-class whitelist
# (tables.CAR_EVENT_TYPES — aliased, not re-declared, so the two can't
# drift), a categorical attribute whose marginal an ANALYZE frequency
# table stores exactly.
from ..tables import CAR_EVENT_TYPES as SEL_TYPES  # noqa: E402

_SEL_TYPES_SQL = ", ".join(repr(t) for t in SEL_TYPES)


def conj_sel_estimates(spark: SparkSession, h: DataFrame) -> DataFrame:
    """One-row conjunctive-selectivity comparison over a traffic-shaped
    frame (needs ts, new_count, event_type): estimate
    |ts ∈ [T1,T2) AND new_count ∈ [C1,C2] AND event_type ∈ SEL_TYPES|
    two ways against the exact witness —

    - est_avi: attribute-value independence, the default every CBO
      starts from: n · sel_time · sel_value · sel_type with each
      marginal from its own single-column statistic (time exact from
      hour-zone row counts, value interpolated from the equi-depth
      histogram, type exact from the categorical frequency table).
    - est_corr: the time×value AVI term REPLACED by the 2-D zone×measure
      sketch cells (the per-hour DDSketch histograms
      q_selectivity_zone_sketch persists) — the joint distribution is
      read, not assumed — with only the measured-independent type
      attribute still composed multiplicatively.

    Factored out of q_selectivity_conjunction so tests can feed a
    PLANTED time×value-correlated frame (testdata's correlation is
    mild; see the registered query's docstring). Cell building is kept
    separate from q_selectivity_zone_sketch's inline twin so that
    settled query's fingerprint stays stable."""
    from ..compat import epoch_s
    from .pipeline import dds_bucket

    hour = F.call_function("div", epoch_s("ts"), F.lit(3600))
    in_time = sel_in_range()
    in_val = F.col("new_count").between(SEL_C1, SEL_C2)
    is_type = F.col("event_type").isin(*SEL_TYPES)

    base = h.select(
        hour.alias("hour_epoch"), "new_count", is_type.alias("is_type")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(in_time.cast("long")).cast("long").alias("n_time"),
        F.sum(F.col("is_type").cast("long")).cast("long").alias("n_type"),
        F.sum((in_time & in_val & F.col("is_type")).cast("long"))
        .cast("long")
        .alias("exact_rows"),
    )

    # value marginal from the equi-depth histogram (q_selectivity_histogram's
    # boundary-interpolated window match, same integer algebra)
    hb = hist_buckets_from_vf(spark, hist_value_freq(h))
    h_ov = F.greatest(
        F.lit(0),
        F.least(F.lit(SEL_C2), F.col("hi"))
        - F.greatest(F.lit(SEL_C1), F.col("lo"))
        + 1,
    )
    hm = hb.agg(
        F.sum(
            F.when(
                h_ov > 0,
                F.call_function(
                    "div", F.col("n_rows") * h_ov, F.col("hi") - F.col("lo") + 1
                ),
            ).otherwise(0)
        )
        .cast("long")
        .alias("hist_match_all")
    )

    # 2-D zone×measure cells → joint time×value estimate (the zone-sketch
    # estimator, cells bounded at ~48/zone, mergeable)
    zsk = (
        h.select(hour.alias("hour_epoch"), dds_bucket(F.col("new_count")).alias("bucket"))
        .groupBy("hour_epoch", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    lo, up = zone_sketch_bounds()
    s_ov = F.greatest(
        F.lit(0),
        F.least(F.lit(SEL_C2), up) - F.greatest(F.lit(SEL_C1), lo) + 1,
    )
    tv = zsk.agg(
        F.sum(
            F.when(
                sel_in_range() & (s_ov > 0),
                F.call_function("div", F.col("n") * s_ov, up - lo + 1),
            ).otherwise(0)
        )
        .cast("long")
        .alias("est_tv")
    )

    est = base.crossJoin(F.broadcast(hm)).crossJoin(F.broadcast(tv))
    nt = F.greatest(F.col("n_total"), F.lit(1))
    est_avi = F.call_function(
        "div",
        F.call_function("div", F.col("n_time") * F.col("hist_match_all"), nt)
        * F.col("n_type"),
        nt,
    )
    est_corr = F.call_function("div", F.col("est_tv") * F.col("n_type"), nt)

    def err_ppm(col: str):
        return F.call_function(
            "div",
            F.abs(F.col(col) - F.col("exact_rows")) * F.lit(1_000_000),
            F.greatest(F.col("exact_rows"), F.lit(1)),
        ).cast("long")

    return (
        est.select(
            "n_total",
            "n_time",
            "n_type",
            "hist_match_all",
            "est_tv",
            "exact_rows",
            est_avi.cast("long").alias("est_avi"),
            est_corr.cast("long").alias("est_corr"),
        )
        .select(
            "n_total",
            "n_time",
            "n_type",
            "exact_rows",
            "est_avi",
            "est_corr",
            err_ppm("est_avi").alias("err_avi_ppm"),
            err_ppm("est_corr").alias("err_corr_ppm"),
        )
    )


@register(
    oracle=with_traffic(f"""
, base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN in_time THEN 1 ELSE 0 END) AS BIGINT) AS n_time,
         CAST(SUM(CASE WHEN is_type THEN 1 ELSE 0 END) AS BIGINT) AS n_type,
         CAST(SUM(CASE WHEN in_time AND new_count BETWEEN {SEL_C1} AND {SEL_C2}
                       AND is_type THEN 1 ELSE 0 END) AS BIGINT) AS exact_rows
  FROM (SELECT new_count,
               epoch_us(ts) // 1000000 // 3600 >= {SEL_T1 // 3600}
                 AND epoch_us(ts) // 1000000 // 3600 < {SEL_T2 // 3600}
                 AS in_time,
               event_type IN ({_SEL_TYPES_SQL}) AS is_type
        FROM traffic)
),
{_HIST_CTES},
hm AS (
  SELECT CAST(SUM(CASE WHEN ov > 0 THEN n_rows * ov // (hi - lo + 1)
                  ELSE 0 END) AS BIGINT) AS hist_match_all
  FROM (SELECT *,
               GREATEST(0, LEAST({SEL_C2}, hi) - GREATEST({SEL_C1}, lo) + 1)
                 AS ov
        FROM hist)
),
{_ZSK_CELLS_SQL},
tv AS (
  SELECT CAST(SUM(CASE WHEN in_range AND ov > 0
                  THEN n * ov // (up - lo + 1) ELSE 0 END) AS BIGINT)
           AS est_tv
  FROM (SELECT *,
               GREATEST(0, LEAST({SEL_C2}, up) - GREATEST({SEL_C1}, lo) + 1)
                 AS ov
        FROM zbounds)
),
ests AS (
  SELECT b.n_total, b.n_time, b.n_type, b.exact_rows,
         CAST(((b.n_time * h.hist_match_all // GREATEST(b.n_total, 1))
               * b.n_type) // GREATEST(b.n_total, 1) AS BIGINT) AS est_avi,
         CAST((t.est_tv * b.n_type) // GREATEST(b.n_total, 1) AS BIGINT)
           AS est_corr
  FROM base b, hm h, tv t
)
SELECT n_total, n_time, n_type, exact_rows, est_avi, est_corr,
       CAST(ABS(est_avi - exact_rows) * 1000000
            // GREATEST(exact_rows, 1) AS BIGINT) AS err_avi_ppm,
       CAST(ABS(est_corr - exact_rows) * 1000000
            // GREATEST(exact_rows, 1) AS BIGINT) AS err_corr_ppm
FROM ests
"""),
)
def q_selectivity_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONJUNCTIVE-predicate selectivity under correlation — the honest
    next error source after the r12 single-predicate ladder: a 3-way
    conjunction (time range AND measure range AND traffic-class
    whitelist) estimated WITH the attribute-value-independence
    assumption (est_avi — each conjunct's marginal from its own
    single-column statistic, multiplied) and WITHOUT it for the
    time×value pair (est_corr — the joint read from the 2-D
    zone×measure sketch cells q_selectivity_zone_sketch persists, only
    the type attribute still composed multiplicatively), both against
    the exact witness in ONE row. AVI is the assumption every CBO
    defaults to and the one q_constraint_profile's discovered
    dependencies exist to flag: when a dependency/correlation holds
    between conjuncts, the product of marginals under-counts by up to
    the correlation strength, unboundedly at scale.

    Honest result on this corpus (pinned by test): time×value
    correlation is MILD here (the r12 zone-sketch row measured the
    same), so the estimators roughly tie — at sf0.01 est_avi errs
    22.7% and est_corr 25.8% (the correlation saved is about what the
    sketch's 25%-wide boundary buckets cost), exactly like the
    histogram/sketch tie on the single predicate. The planted-correlation test
    (tests/test_analytics.py::test_conjunction_corr_beats_avi_on_planted)
    is where the story bites: values concentrated inside the time
    window make sel_value ≈ sel_time, est_avi collapses to ~half the
    true count (err > 40%) while the 2-D cells keep est_corr within
    the sketch's boundary error (< 5%) — the unbounded-AVI-error
    regime a 100 TB planner meets on correlated columns (hour × load
    is THE canonical pair in traffic data).

    Scale shape: three map-side-combined stat passes over the fact
    (base counts + witness, equi-depth vf, 2-D cells) — at 100 TB all
    three are READS of stored ANALYZE artifacts (zone rows, histogram,
    per-zone cells) — then scalar algebra on broadcast one-row
    frames. No reference analog (SURVEY.md §2: the engine owns its
    statistics)."""
    return conj_sel_estimates(spark, traffic_history(spark, sf_dir))


# Equality-predicate selectivity: MCV list size for the point-lookup
# workload metric (PostgreSQL's most_common_vals, fleet-scaled).
EQ_MCV_K = 16


def equality_selectivity_profile(per_key: DataFrame) -> DataFrame:
    """One-row WORKLOAD-level error profile of two equality-predicate
    estimators over a per-key count frame (camera_id, c): for EVERY
    key, estimate |camera_id = key| with (a) the uniform rule n/ndv
    and (b) the MCV rule (exact stored count for the k most common
    values, uniform over the remaining tail), then aggregate
    |est − exact| across all keys — mae_*_ppm is the total absolute
    estimation error normalized by table size (the expected relative
    error of a uniformly-drawn point query), max_err_* the worst key.
    Factored from q_selectivity_equality so tests can feed a PLANTED
    skewed per-key frame."""
    pk = per_key.localCheckpoint(eager=False)  # stats AND per-key errors
    tot = pk.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
    )
    mcv = pk.orderBy(F.desc("c"), "camera_id").limit(EQ_MCV_K)
    ms = mcv.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("mass"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    from ..compat import idiv as div
    marked = (
        pk.join(
            F.broadcast(mcv.select("camera_id", F.lit(True).alias("in_mcv"))),
            "camera_id",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ms))
    )
    eu = div(F.col("n"), F.col("ndv"))
    em = F.when(F.col("in_mcv"), F.col("c")).otherwise(
        div(F.col("n") - F.col("mass"), F.greatest(F.col("ndv") - F.col("k"), F.lit(1)))
    )
    errs = marked.agg(
        F.max("n").alias("n_rows"),
        F.max("ndv").alias("ndv"),
        F.max("k").alias("mcv_k"),
        F.sum(F.abs(eu - F.col("c"))).cast("long").alias("sum_err_uniform"),
        F.max(F.abs(eu - F.col("c"))).cast("long").alias("max_err_uniform"),
        F.sum(F.abs(em - F.col("c"))).cast("long").alias("sum_err_mcv"),
        F.max(F.abs(em - F.col("c"))).cast("long").alias("max_err_mcv"),
    )
    return errs.select(
        "n_rows",
        "ndv",
        "mcv_k",
        "sum_err_uniform",
        div(F.col("sum_err_uniform") * F.lit(1_000_000), F.col("n_rows"))
        .cast("long")
        .alias("mae_uniform_ppm"),
        "max_err_uniform",
        "sum_err_mcv",
        div(F.col("sum_err_mcv") * F.lit(1_000_000), F.col("n_rows"))
        .cast("long")
        .alias("mae_mcv_ppm"),
        "max_err_mcv",
    )


# Shared by the full-build profile and its incremental-maintenance
# twin (q_mcv_merge): merged per-key counts equal the rebuilt ones
# exactly, so BOTH hash-check against this one text — the
# incremental-equals-rebuild theorem for the equality-stats family.
_EQ_SEL_ORACLE = with_traffic(f"""
, pk AS (
  SELECT camera_id, CAST(COUNT(*) AS BIGINT) AS c FROM traffic GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS ndv FROM pk
),
mcv AS (SELECT camera_id, c FROM pk ORDER BY c DESC, camera_id LIMIT {EQ_MCV_K}),
ms AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS mass,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM mcv
),
est AS (
  SELECT p.c,
         t.n // t.ndv AS eu,
         CASE WHEN m.camera_id IS NOT NULL THEN p.c
              ELSE (t.n - s.mass) // GREATEST(t.ndv - s.k, 1) END AS em,
         t.n, t.ndv, s.k
  FROM pk p LEFT JOIN mcv m USING (camera_id), tot t, ms s
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(MAX(ndv) AS BIGINT) AS ndv,
       CAST(MAX(k) AS BIGINT) AS mcv_k,
       CAST(SUM(ABS(eu - c)) AS BIGINT) AS sum_err_uniform,
       CAST(SUM(ABS(eu - c)) * 1000000 // MAX(n) AS BIGINT)
         AS mae_uniform_ppm,
       CAST(MAX(ABS(eu - c)) AS BIGINT) AS max_err_uniform,
       CAST(SUM(ABS(em - c)) AS BIGINT) AS sum_err_mcv,
       CAST(SUM(ABS(em - c)) * 1000000 // MAX(n) AS BIGINT) AS mae_mcv_ppm,
       CAST(MAX(ABS(em - c)) AS BIGINT) AS max_err_mcv
FROM est
""")


@register(oracle=_EQ_SEL_ORACLE)
def q_selectivity_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALITY-predicate selectivity — the rung the range-predicate
    ladder (zone uniform → histogram → zone sketch) cannot cover:
    equi-depth buckets over a hashed/unordered key say nothing about
    one key's frequency, so planners store an MCV list instead
    (PostgreSQL most_common_vals + uniform tail). Rather than probing
    one hand-picked value, this profiles the WHOLE point-lookup
    workload: every camera's |camera_id = x| estimated under the
    uniform rule and under the MCV rule, with the total absolute
    error normalized by table size (mae_*_ppm — the expected relative
    error of a uniformly-drawn point query) and the worst single key.

    Honest result on this near-uniform fleet (pinned by test): the
    MCV list buys almost nothing (both MAEs are small and close —
    same honest-tie discipline as q_selectivity_histogram's sketch
    column); the planted 512×-hot-key test pins the regime it exists
    for — uniform misses the hot key by ~the whole table while the
    MCV rule stores it exactly, collapsing both the max and the mean
    error. Together with q_join_size_histogram this is PostgreSQL's
    complete eqsel/eqjoinsel statistics story.

    Scale shape: ONE map-side-combined aggregation to the per-key
    frame (at 100 TB: a read of ANALYZE's stored output), a top-K off
    it, then one broadcast-marked pass over the key domain — never
    the fact."""
    per_key = traffic_history(spark, sf_dir).groupBy("camera_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return equality_selectivity_profile(per_key)


# t-closeness: a QI group whose sensitive-value distribution sits
# farther than t (in total variation distance) from the global
# distribution leaks, even when it passes k-anonymity and l-diversity.
T_CLOSE_PPM = 500_000  # t = 0.5
T_CLOSE_TOP = 20


@register(
    oracle=f"""
WITH qi AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS qi_hour,
         CAST(FLOOR(value / 50) AS BIGINT) AS qi_value_band,
         user_id
  FROM events WHERE user_id IS NOT NULL
),
gv AS (
  SELECT event_type, qi_hour, qi_value_band, user_id,
         CAST(COUNT(*) AS BIGINT) AS c_gv
  FROM qi GROUP BY 1, 2, 3, 4
),
v AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c_v FROM qi GROUP BY 1),
tot AS (SELECT CAST(SUM(c_v) AS BIGINT) AS n FROM v),
tvd AS (
  SELECT gv.event_type, gv.qi_hour, gv.qi_value_band,
         CAST(SUM(gv.c_gv) AS BIGINT) AS group_size,
         CAST(SUM(ABS(gv.c_gv * t.n - v.c_v * gs.group_size)
                  - v.c_v * gs.group_size) + gs.group_size * t.n AS BIGINT)
           AS tvd_num
  FROM gv
  JOIN v USING (user_id)
  JOIN (SELECT event_type, qi_hour, qi_value_band,
               CAST(SUM(c_gv) AS BIGINT) AS group_size
        FROM gv GROUP BY 1, 2, 3) gs
    USING (event_type, qi_hour, qi_value_band),
  tot t
  GROUP BY 1, 2, 3, gs.group_size, t.n
),
scored AS (
  -- halve by the group denominator BEFORE the ppm scale: tvd_num is
  -- bounded by 2·group_size·N, so tvd_num*1e6 would overflow int64
  -- once group_size·N passes ~4.6e12; the pre-division keeps the
  -- intermediate <= N and the scale safe to N ~ 9e12 rows
  SELECT event_type, qi_hour, qi_value_band, group_size,
         CAST((tvd_num // (2 * group_size)) * 1000000 // t.n AS BIGINT)
           AS tvd_ppm
  FROM tvd, tot t
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(COALESCE(SUM(CASE WHEN tvd_ppm > {T_CLOSE_PPM} THEN 1 END), 0)
           AS BIGINT) AS groups_at_risk
  FROM scored
)
SELECT s.event_type, s.qi_hour, s.qi_value_band, s.group_size, s.tvd_ppm,
       s.tvd_ppm > {T_CLOSE_PPM} AS exceeds_t,
       st.n_groups, st.groups_at_risk
FROM scored s, stats st
ORDER BY s.tvd_ppm DESC, s.event_type, s.qi_hour, s.qi_value_band
LIMIT {T_CLOSE_TOP}
""",
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the distribution-disclosure rung that
    completes this repo's anonymity triad (Li et al. 2007, after
    q_k_anonymity's group-size check and q_l_diversity's distinct-value
    check): a QI group can pass both and still leak when its sensitive
    distribution is SKEWED relative to the corpus (e.g. a group whose
    rows almost all belong to one user cohort). Reports the T_CLOSE_TOP
    farthest groups by total variation distance in exact integer ppm,
    the exceeds-t flag, and corpus-level exposure scalars.

    The TVD is computed in a closed form over PRESENT (group, value)
    pairs only: Σ_v |c_gv·N − c_v·n_g| over all v splits into the
    present pairs minus their absent-mass double count plus n_g·N (the
    absent values' total contribution — since Σ_v c_v = N), so the
    aggregation never materializes the QI-domain × sensitive-domain
    product that the textbook per-(group, value) formula implies. All
    arithmetic is int64 with the divisions last and mirrored exactly,
    so both engines hash-match; int64 bound: the halve-then-scale ppm
    keeps intermediates ≤ N·10⁶, safe to N ~ 9×10¹² rows (the naive
    tvd_num·10⁶ form overflows at group_size·N ~ 4.6×10¹²).

    Scale shape: two map-side-combined aggregations (present pairs,
    global value counts), one broadcast-scalar total, one grouped fold
    over the present-pair frame — work ∝ distinct (QI-tuple, value)
    pairs actually in the data, never the domain product; top-N plans
    as TakeOrderedAndProject."""
    from ..tables import load_table

    from ..compat import idiv as div
    qi = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("long").alias("qi_hour"),
            F.floor(F.col("value") / 50).cast("long").alias("qi_value_band"),
            "user_id",
        )
    )
    gv = qi.groupBy("event_type", "qi_hour", "qi_value_band", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c_gv")
    ).localCheckpoint(eager=False)  # feeds v-join AND the group sizes
    v = gv.groupBy("user_id").agg(F.sum("c_gv").cast("long").alias("c_v"))
    tot = v.agg(F.sum("c_v").cast("long").alias("n"))
    gs = gv.groupBy("event_type", "qi_hour", "qi_value_band").agg(
        F.sum("c_gv").cast("long").alias("group_size")
    )
    term = (
        F.abs(F.col("c_gv") * F.col("n") - F.col("c_v") * F.col("group_size"))
        - F.col("c_v") * F.col("group_size")
    )
    tvd = (
        gv.join(v, "user_id")
        .join(gs, ["event_type", "qi_hour", "qi_value_band"])
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type", "qi_hour", "qi_value_band", "group_size", "n")
        .agg(
            (F.sum(term) + F.max(F.col("group_size") * F.col("n")))
            .cast("long")
            .alias("tvd_num")
        )
    )
    # halve by the group denominator BEFORE the ppm scale (mirrors the
    # oracle): tvd_num <= 2·group_size·N, so the pre-division bounds
    # the scaled intermediate by N·1e6 — safe to N ~ 9e12 rows, where
    # the naive tvd_num·1e6 overflows at group_size·N ~ 4.6e12. Costs
    # at most 1 ulp of the halved numerator (≤ 1e6/N ppm).
    scored = tvd.select(
        "event_type",
        "qi_hour",
        "qi_value_band",
        "group_size",
        div(
            div(F.col("tvd_num"), F.lit(2) * F.col("group_size"))
            * F.lit(1_000_000),
            F.col("n"),
        )
        .cast("long")
        .alias("tvd_ppm"),
    ).localCheckpoint(eager=False)  # feeds stats AND the top-N
    stats = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.coalesce(
            F.sum(F.when(F.col("tvd_ppm") > T_CLOSE_PPM, 1)), F.lit(0)
        )
        .cast("long")
        .alias("groups_at_risk"),
    )
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(
            "event_type",
            "qi_hour",
            "qi_value_band",
            "group_size",
            "tvd_ppm",
            (F.col("tvd_ppm") > T_CLOSE_PPM).alias("exceeds_t"),
            "n_groups",
            "groups_at_risk",
        )
        .orderBy(
            F.desc("tvd_ppm"), "event_type", "qi_hour", "qi_value_band"
        )
        .limit(T_CLOSE_TOP)
    )


# Incremental equality-stats maintenance: rows in the delta id-slot
# play a late-arriving ingest batch (same fixture shape as the zone
# map's ZM_DELTA split — scattered across many existing keys, so the
# merge exercises real count combines).
EQ_DELTA_MOD = 20
EQ_DELTA_SLOT = 7


@register(oracle=_EQ_SEL_ORACLE)
def q_mcv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EQUALITY-stats refresh — the maintenance leg that
    completes the q_selectivity_equality family the way
    q_histogram_merge completed the histogram's: the MCV list itself
    doesn't merge (top-K of a union is not the union of top-Ks), but
    its SUFFICIENT STATISTIC — the per-key count frame — does (counts
    ADD), so a late ingest batch folds into the stored counts via one
    co-partitioned full-outer join and the MCV list + workload error
    profile re-derive from the merged frame. The oracle is the FULL
    REBUILD (q_selectivity_equality's own text), so the driver hash
    check IS the incremental-equals-rebuild theorem for this family.

    Scale shape: both groupBys hash-partition on camera_id, so the
    full-outer merge adds no exchange beyond the two key-domain-sized
    aggregation outputs (at 100 TB the base side is ANALYZE's STORED
    per-key frame, read not recomputed — only the delta batch scans);
    the profile then runs on the merged key-domain frame exactly as
    the full build does."""
    h = traffic_history(spark, sf_dir)
    base = (
        h.filter(F.col("id") % EQ_DELTA_MOD != EQ_DELTA_SLOT)
        .groupBy("camera_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    delta = (
        h.filter(F.col("id") % EQ_DELTA_MOD == EQ_DELTA_SLOT)
        .groupBy("camera_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cd"))
    )
    merged = base.join(delta, "camera_id", "full_outer").select(
        "camera_id",
        (F.coalesce(F.col("cb"), F.lit(0)) + F.coalesce(F.col("cd"), F.lit(0)))
        .cast("long")
        .alias("c"),
    )
    return equality_selectivity_profile(merged)
