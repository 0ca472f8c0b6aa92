"""Reshaping + semi-structured operators (SURVEY.md §2.8 F16, §2.1
S15).

The reference round-trips JSON documents with ``json.load``/``dump``
(``app/utils.py:390-441``) and ships a wide toll-gate CSV it would
need to unpivot to query (``scripts/syntetic.py``). Engine forms:
``get_json_object`` for path extraction inside whole-stage codegen,
and ``stack()`` for wide→long unpivot — both pure JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import md5_hash, md5_hash_sql
from ..registry import register
from ..tables import load_table

# ------------------------------------------------ F16: JSON extraction


@register(
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS k_avg
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
)
def q_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: JSON path extraction from the semi-structured props column,
    aggregated per event type. get_json_object runs JVM-side inside
    codegen — no parse UDF; the exact-integer sum divides to a
    deterministic double."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.filter(k.isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(k).cast("long").alias("k_sum"),
            F.count(F.lit(1)).alias("n"),
            (F.sum(k).cast("double") / F.count(F.lit(1))).alias("k_avg"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------- S15: wide→long stack

_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    oracle=" UNION ALL ".join(
        f"SELECT l_orderkey, l_linenumber, '{m}' AS measure, {m} AS value FROM lineitem"
        for m in _MEASURES
    )
    + " ORDER BY l_orderkey, l_linenumber, measure",
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: wide→long unpivot of the lineitem measures via stack() —
    the engine form of querying the reference's wide toll-gate CSV
    (scripts/syntetic.py:7-29). One projection, ZERO shuffles end to
    end; rows fan out 4× inside codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    stack_expr = "stack({n}, {args}) AS (measure, value)".format(
        n=len(_MEASURES),
        args=", ".join(f"'{m}', {m}" for m in _MEASURES),
    )
    # row-set semantics: no output sort — a global sort of the 4×
    # fan-out is the single most expensive node at scale and buys
    # nothing (order-insensitive compare)
    return li.selectExpr("l_orderkey", "l_linenumber", stack_expr)


# ------------------------------------- F16 modern path: VariantType


@register(
    oracle="""
SELECT event_type,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
       CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS k_present
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured props: parse the
    JSON ONCE into a binary variant (`parse_json`), then typed path
    reads (`try_variant_get`) — the open-format answer to re-parsing a
    JSON string per extracted field. At 100 TB the variant column is
    what you'd persist (shredded parquet), so every downstream path
    read skips the text parse entirely; here parse + read fuse into the
    same codegen stage. Same numeric results as the string-path twin
    (q_props_json_extract's family), so DuckDB's JSON functions remain
    the oracle."""
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.count("k").cast("long").alias("k_present"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------ Z-order layout key

_SPREAD_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_bits(c):
    """Interleave-spread a 16-bit value into the even bit positions of
    a 32-bit lane (the standard Morton magic-mask ladder)."""
    for shift, mask in _SPREAD_MASKS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def _spread_sql(expr: str) -> str:
    out = expr
    for shift, mask in _SPREAD_MASKS:
        out = f"(({out} | ({out} << {shift})) & {mask})"
    return out


ZORDER_LIMIT = 1000

_ZK_SQL = (
    "("
    + _spread_sql("(CAST(camera_id AS BIGINT) % 65536)")
    + " | ("
    + _spread_sql("((epoch_us(ts) // 1000000) // 3600 % 65536)")
    + " << 1))"
)


def zkey_col():
    """The Morton (camera, hour) clustering key — ONE definition shared
    by q_zorder_key and q_clustering_depth so the measured layout is
    always the shipped layout (must stay bit-identical to _ZK_SQL)."""
    from ..compat import epoch_s

    cam16 = (F.col("camera_id").cast("long") % 65536).cast("long")
    hour16 = (F.floor(epoch_s("ts") / 3600).cast("long") % 65536).cast("long")
    return _spread_bits(cam16).bitwiseOR(F.shiftleft(_spread_bits(hour16), 1))


def _zorder_oracle() -> str:
    from ..tables import with_traffic

    return with_traffic(f"""
SELECT id, camera_id,
       CAST((epoch_us(ts) // 1000000) // 3600 AS BIGINT) AS epoch_hour,
       CAST({_ZK_SQL} AS BIGINT) AS zkey
FROM traffic
ORDER BY zkey, id
LIMIT {ZORDER_LIMIT}
""")


@register(oracle=_zorder_oracle())
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (camera, hour): the two
    16-bit coordinates bit-interleave into one sort key, so a table
    REWRITTEN in zkey order gets parquet row-group min/max locality on
    BOTH the camera and the time axis at once — the data-layout move
    behind multi-dimensional data skipping (Delta/Iceberg OPTIMIZE
    ZORDER). Pure integer magic-mask ladders (identical cross-engine);
    the preview emits the first {ZORDER_LIMIT} rows of the would-be
    layout via TakeOrderedAndProject, never a global sort.
    """
    from ..compat import epoch_s
    from ..tables import traffic_history

    h = traffic_history(spark, sf_dir)
    return (
        h.select(
            "id",
            "camera_id",
            F.floor(epoch_s("ts") / 3600).cast("long").alias("epoch_hour"),
            zkey_col().cast("long").alias("zkey"),
        )
        .orderBy("zkey", "id")
        .limit(ZORDER_LIMIT)
    )


# Compaction planner: pack per-(day, camera) chunks into target-size
# output files. Row-size proxy: fixed overhead + payload lengths.
COMPACT_TARGET_BYTES = 4096


@register(
    oracle="""
WITH chunks AS (
  SELECT strftime(ts, '%Y-%m-%d') AS d,
         CAST(user_id AS VARCHAR) AS camera_id,
         CAST(SUM(24 + length(props) + length(CAST(user_id AS VARCHAR)))
              AS BIGINT) AS chunk_bytes
  FROM events GROUP BY 1, 2
),
packed AS (
  SELECT d, camera_id, chunk_bytes,
         COALESCE(SUM(chunk_bytes) OVER (
           PARTITION BY d ORDER BY CAST(camera_id AS BIGINT)
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM chunks
),
binned AS (
  SELECT d, camera_id, chunk_bytes,
         DENSE_RANK() OVER (PARTITION BY d ORDER BY cum_before // 4096) - 1
           AS bin_id
  FROM packed
)
SELECT d, camera_id, chunk_bytes,
       CAST(bin_id AS BIGINT) AS bin_id,
       CAST(MAX(bin_id + 1) OVER (PARTITION BY d) AS BIGINT) AS day_bins,
       CAST(SUM(chunk_bytes) OVER (PARTITION BY d) AS BIGINT) AS day_bytes
FROM binned
ORDER BY d, CAST(camera_id AS BIGINT)
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse OPTIMIZE step: a
    date-partitioned layout accumulates one small file per (day,
    camera) ingest; the planner assigns each chunk to a target-size
    output bin by greedy running-total packing (chunks sharing the
    same floor(EXCLUSIVE byte prefix / target) share a bin, in stable
    camera order; bin ids are then DENSE-ranked so a single chunk
    larger than the target can't leave holes in the id space and
    ``day_bins`` counts real bins). Emits the full assignment plus
    per-day bin and byte totals — the manifest a rewrite job would
    execute.

    Scale shape: one aggregation reduces the fact to |day × camera|
    chunk rows (map-side partial SUM of the per-row size proxy); the
    prefix sum windows over each DAY partition independently —
    bounded by the per-day chunk count (the file count, never the
    row count), so no global window and no skew: exactly the
    per-partition planning a real OPTIMIZE performs. The greedy
    exclusive-prefix rule is deterministic and engine-neutral
    (pure integer floors), so the DuckDB twin hash-matches."""
    e = load_table(spark, sf_dir, "events")
    chunks = (
        e.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.col("user_id").cast("string").alias("camera_id"),
            (
                F.lit(24)
                + F.length("props")
                + F.length(F.col("user_id").cast("string"))
            ).alias("row_bytes"),
        )
        .groupBy("d", "camera_id")
        .agg(F.sum("row_bytes").cast("long").alias("chunk_bytes"))
    )
    return pack_chunks_into_bins(chunks)


def pack_chunks_into_bins(chunks: DataFrame) -> DataFrame:
    """Greedy prefix packing of (d, camera_id, chunk_bytes) rows into
    COMPACT_TARGET_BYTES bins. Bin ids densify the floor of the
    exclusive prefix so oversized chunks (> 2× target) can't leave
    holes in the id space. All windows partition by day — bounded by
    the per-day file count.

    The dense ids come from a running count of floor CHANGES in the
    SAME camera order as the prefix sum (the previous row's floor is
    div(cum_before − lag(bytes), target), so the change indicator
    rides the first window pass and its cumulative sum reuses the
    existing sort) — equivalent to DENSE_RANK() OVER (ORDER BY
    bin_floor) because the exclusive prefix is monotone in camera
    order (chunk_bytes ≥ 24 > 0), but one in-partition sort cheaper
    (the dense_rank form re-sorted each day partition by bin_floor;
    that fix cost 0.97→1.28 s idle at sf0.1, this form wins it back)."""
    from pyspark.sql import Window

    # Materialize the numeric order key ONCE: re-deriving the cast in
    # each select makes Spark extract a fresh `_wN` sort attribute per
    # Window node and EnsureRequirements re-sorts between them.
    keyed = chunks.withColumn("_ck", F.col("camera_id").cast("long"))
    order = Window.partitionBy("d").orderBy("_ck")
    cum_before = F.coalesce(
        F.sum("chunk_bytes").over(
            order.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    floored = keyed.select(
        "d",
        "camera_id",
        "chunk_bytes",
        "_ck",
        F.call_function(
            "div", cum_before, F.lit(COMPACT_TARGET_BYTES)
        ).alias("bin_floor"),
        F.call_function(
            "div",
            cum_before - F.lag("chunk_bytes").over(order),
            F.lit(COMPACT_TARGET_BYTES),
        ).alias("prev_floor"),  # null on each day's first row
    )
    packed = floored.select(
        "d",
        "camera_id",
        "chunk_bytes",
        "_ck",
        F.sum(
            F.when(
                F.col("prev_floor").isNull()
                | (F.col("bin_floor") == F.col("prev_floor")),
                0,
            ).otherwise(1)
        )
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("bin_id"),
    )
    day = Window.partitionBy("d")
    return (
        packed.select(
            "d",
            "camera_id",
            "chunk_bytes",
            "_ck",
            F.col("bin_id").cast("long").alias("bin_id"),
            (F.max("bin_id").over(day) + 1).cast("long").alias("day_bins"),
            F.sum("chunk_bytes").over(day).cast("long").alias("day_bytes"),
        )
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
        .drop("_ck")
    )


# Clustering-depth probe: files per layout; probe = one camera lookup.
CLUSTER_FILES = 64


def _clustering_oracle() -> str:
    from ..tables import with_traffic

    n = CLUSTER_FILES
    return with_traffic(f"""
, base AS (
  SELECT CAST(camera_id AS BIGINT) AS cam, ts, id,
         CAST({_ZK_SQL} AS BIGINT) AS zkey
  FROM traffic
),
nat AS (
  SELECT cam, ((ROW_NUMBER() OVER (ORDER BY ts, id) - 1) * {n})
              // (SELECT COUNT(*) FROM base) AS f
  FROM base
),
zo AS (
  SELECT cam, ((ROW_NUMBER() OVER (ORDER BY zkey, id) - 1) * {n})
              // (SELECT COUNT(*) FROM base) AS f
  FROM base
),
files AS (
  SELECT 'ingest' AS layout, f, MIN(cam) AS mn, MAX(cam) AS mx
  FROM nat GROUP BY 2
  UNION ALL
  SELECT 'zorder' AS layout, f, MIN(cam) AS mn, MAX(cam) AS mx
  FROM zo GROUP BY 2
),
cams AS (SELECT DISTINCT CAST(camera_id AS BIGINT) AS cam FROM traffic),
scans AS (
  SELECT fl.layout, CAST(COUNT(*) AS BIGINT) AS files_scanned
  FROM cams c JOIN files fl ON c.cam BETWEEN fl.mn AND fl.mx
  GROUP BY 1
)
SELECT s.layout,
       CAST((SELECT COUNT(*) FROM cams) AS BIGINT) AS n_cameras,
       CAST({n} AS BIGINT) AS n_files,
       s.files_scanned,
       CAST(s.files_scanned * 1000000
            // ((SELECT COUNT(*) FROM cams) * {n}) AS BIGINT) AS scan_ppm
FROM scans s
ORDER BY layout
""")


@register(oracle=_clustering_oracle())
def q_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout clustering quality — the metric behind OPTIMIZE
    ZORDER's before/after report: cut the fact into CLUSTER_FILES
    equal files under (a) ingest order (ts, id) and (b) z-order
    (zkey, id), record each file's camera min/max (its zone-map row),
    and measure how many files a single-camera point lookup must scan
    under each layout (``scan_ppm`` = scanned/total in ppm). Ingest
    order interleaves every camera into every file (scan_ppm → 1e6);
    the z-order layout gives each camera range locality, so the SAME
    zone-map stats skip most files — connecting q_zorder_key (the
    layout key) to q_zone_map_stats (the skipping index) with the
    number that justifies the rewrite.

    Scale shape: file assignment uses compat.global_rank (range
    repartition + per-partition rank — never a data-sized single
    window); per-file stats are one hash aggregation at file grain;
    the probe joins the camera dimension against the 2×CLUSTER_FILES
    broadcast files frame (bounded non-equi join by construction)."""
    from ..compat import global_rank
    from ..tables import traffic_history

    h = traffic_history(spark, sf_dir)
    base = h.select(
        F.col("camera_id").cast("long").alias("cam"),
        "ts",
        "id",
        zkey_col().cast("long").alias("zkey"),
    )

    def layout_files(order_cols, name):
        ranked = global_rank(base, order_cols)
        return (
            ranked.select(
                "cam",
                F.call_function(
                    "div", (F.col("_rk") - 1) * CLUSTER_FILES, F.col("_n")
                ).alias("f"),
            )
            .groupBy("f")
            .agg(F.min("cam").alias("mn"), F.max("cam").alias("mx"))
            .select(F.lit(name).alias("layout"), "f", "mn", "mx")
        )

    files = layout_files(["ts", "id"], "ingest").unionByName(
        layout_files(["zkey", "id"], "zorder")
    )
    cams = base.select("cam").distinct()
    scans = (
        cams.join(
            F.broadcast(files),
            (F.col("cam") >= F.col("mn")) & (F.col("cam") <= F.col("mx")),
        )
        .groupBy("layout")
        .agg(F.count(F.lit(1)).cast("long").alias("files_scanned"))
    )
    stats = cams.agg(F.count(F.lit(1)).cast("long").alias("n_cameras"))
    return (
        scans.crossJoin(F.broadcast(stats))
        .select(
            "layout",
            "n_cameras",
            F.lit(CLUSTER_FILES).cast("long").alias("n_files"),
            "files_scanned",
            F.call_function(
                "div",
                F.col("files_scanned") * F.lit(1_000_000),
                F.col("n_cameras") * F.lit(CLUSTER_FILES),
            )
            .cast("long")
            .alias("scan_ppm"),
        )
        .orderBy("layout")
    )


def _bloom_skip_oracle() -> str:
    from ..tables import with_traffic
    from .scans import ZM_BLOOM_BITS

    n = CLUSTER_FILES
    h = md5_hash_sql("'zm#' || CAST(cam AS VARCHAR)", 15)
    bit = f"CAST({h} % {ZM_BLOOM_BITS} AS INT)"
    return with_traffic(f"""
, base AS (
  SELECT CAST(camera_id AS BIGINT) AS cam, id,
         {md5_hash_sql("'f#' || camera_id", 15)}
           % {n} AS bf
  FROM traffic
),
lay AS (
  SELECT 'bucket' AS layout, bf AS f, cam FROM base
  UNION ALL
  SELECT 'range' AS layout,
         ((ROW_NUMBER() OVER (ORDER BY cam, id) - 1) * {n})
           // (SELECT COUNT(*) FROM base) AS f,
         cam
  FROM base
),
files AS (
  SELECT layout, f, MIN(cam) AS mn, MAX(cam) AS mx,
         CAST(BIT_OR(1::BIGINT << {bit}) AS BIGINT) AS bloom
  FROM lay GROUP BY 1, 2
),
pairs AS (SELECT DISTINCT layout, f, cam FROM lay),
tp AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS true_pairs
       FROM pairs GROUP BY 1),
cams AS (SELECT DISTINCT cam FROM base),
scan AS (
  SELECT fl.layout, idx.idx,
         CAST(COUNT(*) AS BIGINT) AS scanned_pairs
  FROM cams c
  CROSS JOIN (SELECT unnest(['minmax', 'bloom']) AS idx) idx
  JOIN files fl
    ON CASE WHEN idx.idx = 'minmax' THEN c.cam BETWEEN fl.mn AND fl.mx
            ELSE ((fl.bloom >> {bit.replace("cam", "c.cam")}) & 1) = 1 END
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST((SELECT COUNT(*) FROM cams) AS BIGINT) AS n_cameras
)
SELECT s.layout, s.idx, CAST({n} AS BIGINT) AS n_files,
       t.true_pairs, s.scanned_pairs,
       CAST(s.scanned_pairs - t.true_pairs AS BIGINT) AS fp_pairs,
       CAST(s.scanned_pairs * 1000000 // (tot.n_cameras * {n}) AS BIGINT)
         AS scan_ppm,
       CAST((s.scanned_pairs - t.true_pairs) * 1000000
            // GREATEST(tot.n_cameras * {n} - t.true_pairs, 1) AS BIGINT)
         AS fp_ppm
FROM scan s JOIN tp t ON t.layout = s.layout, tot
ORDER BY s.layout, s.idx
""")


@register(oracle=_bloom_skip_oracle())
def q_bloom_skipping_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping INDEX × LAYOUT evaluation — the decision matrix a
    lakehouse table optimizer works from: q_clustering_depth showed
    min/max zone maps need range-clustered data; this measures what
    each index family actually skips, with FALSE-POSITIVE rates, on
    the two layouts a 100 TB table realistically has:

    - ``bucket`` (hash-bucketed by camera — Hive bucketing / liquid
      clustering): every camera lives in exactly ONE of the 64 files,
      but hash order destroys range locality, so each file's [min,max]
      camera span is a wide random interval and range stats degrade
      toward scanning everything as the fleet grows — while the
      per-file BLOOM fingerprint prunes to ~the true file plus a
      measured fp_ppm of collision false positives (62-bit filter
      holding |fleet|/64 cameras; measured 6× fewer scanned files
      than min/max at sf0.01, widening with fleet size).
    - ``range`` (files cut from the camera-sorted order — the layout
      OPTIMIZE/compaction produces for a single cluster key): each
      camera touches only its contiguous file(s), so min/max prunes
      near-perfectly and bloom merely matches it.

    The matrix is the lesson: min/max is a LAYOUT-dependent index
    (useless under hashing, perfect under range clustering) while
    bloom is layout-insensitive — which is why lake formats store
    both. Every cell is counted against the exact containment witness
    (true_pairs), same honesty discipline as the estimator ladder;
    q_clustering_depth covers the ingest-vs-zorder layout axis, this
    covers the index axis.

    Scale shape: per-file stats are ONE hash aggregation at file
    grain (count/min/max/bit_or all map-side partial — exactly the
    stats a lake writer computes per file on ingest); the probe is
    the camera dimension against a broadcast 2×64-row files frame
    (bounded non-equi join by construction); range-layout file
    assignment uses compat.global_rank, never a data-sized window."""
    from ..compat import global_rank
    from ..tables import traffic_history
    from .scans import zm_bloom_bit

    n = CLUSTER_FILES
    h = traffic_history(spark, sf_dir)
    base = h.select(
        F.col("camera_id").cast("long").alias("cam"),
        "id",
        F.pmod(
            md5_hash(F.concat(F.lit("f#"), F.col("camera_id")), 15), F.lit(n)
        ).alias("bf"),
    )
    rg = global_rank(base, ["cam", "id"]).select(
        F.lit("range").alias("layout"),
        F.call_function("div", (F.col("_rk") - 1) * n, F.col("_n")).alias("f"),
        "cam",
    )
    lay = base.select(
        F.lit("bucket").alias("layout"), F.col("bf").alias("f"), "cam"
    ).unionByName(rg)
    # ONE data-sized pass (r13-opt): min/max/bit_or are insensitive to
    # duplicate (f, cam) rows, true_pairs counts exactly the distinct
    # (layout, f, cam) tuples, and the probe's camera set is the
    # bucket layout's distinct cams (f = hash(cam) % n is a function
    # of cam, so distinct (f, cam) there IS distinct cam) — so the
    # distinct-tuple frame `g` (≈ 2x|fleet| rows) is the shared
    # sufficient statistic. The previous plan scanned `lay` three
    # times (files agg, true-pairs distinct, cams distinct).
    g = lay.distinct().localCheckpoint(eager=False)  # feeds files AND cams
    bloom_bit = zm_bloom_bit(F.col("cam").cast("string"))
    files = g.groupBy("layout", "f").agg(
        F.min("cam").alias("mn"),
        F.max("cam").alias("mx"),
        F.bit_or(F.call_function("shiftleft", F.lit(1).cast("long"), bloom_bit))
        .cast("long")
        .alias("bloom"),
        F.count(F.lit(1)).alias("n_cams_f"),
    )
    # per-layout true pairs roll up from the 2xCLUSTER_FILES files
    # frame — file-count-sized, never a second fact pass
    tp = files.groupBy("layout").agg(
        F.sum("n_cams_f").cast("long").alias("true_pairs")
    )
    cams = g.filter(F.col("layout") == "bucket").select("cam")
    # bounded: a 2-row literal index-kind dimension, never data-sized
    idx = cams.sparkSession.createDataFrame(
        [("minmax",), ("bloom",)], ["idx"]
    )
    hit = F.when(
        F.col("idx") == "minmax",
        (F.col("cam") >= F.col("mn")) & (F.col("cam") <= F.col("mx")),
    ).otherwise(
        F.call_function("shiftright", F.col("bloom"), bloom_bit).bitwiseAND(
            F.lit(1)
        )
        == 1
    )
    scan = (
        cams.crossJoin(F.broadcast(idx))
        .join(F.broadcast(files), hit)
        .groupBy("layout", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("scanned_pairs"))
    )
    tot = cams.agg(F.count(F.lit(1)).cast("long").alias("n_cameras"))
    from ..compat import idiv as div
    return (
        scan.join(F.broadcast(tp), "layout")
        .crossJoin(F.broadcast(tot))
        .select(
            "layout",
            "idx",
            F.lit(n).cast("long").alias("n_files"),
            "true_pairs",
            "scanned_pairs",
            (F.col("scanned_pairs") - F.col("true_pairs"))
            .cast("long")
            .alias("fp_pairs"),
            div(F.col("scanned_pairs") * F.lit(1_000_000), F.col("n_cameras") * n)
            .cast("long")
            .alias("scan_ppm"),
            div(
                (F.col("scanned_pairs") - F.col("true_pairs")) * F.lit(1_000_000),
                F.greatest(F.col("n_cameras") * n - F.col("true_pairs"), F.lit(1)),
            )
            .cast("long")
            .alias("fp_ppm"),
        )
        .orderBy("layout", "idx")
    )
