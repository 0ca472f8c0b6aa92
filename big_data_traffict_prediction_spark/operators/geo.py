"""Geospatial operators over the camera dimension.

The reference's cameras carry real lat/lng coordinates
(``data/cctv_config.json``, Bandung city; loaded at
``app/utils.py:386-394``) but the app never computes with them — they
go straight to the dashboard map. An analytics engine over the same
data model should answer the two geo questions a camera network asks:
"which cameras are near this one" (k-NN) and "where are cameras
concentrated" (grid density). Both are implemented here over a
DETERMINISTIC pseudo-coordinate assignment derived from the camera
key (the driver testdata has no coordinate column), with the exact
arithmetic twin in the DuckDB oracle.

Distance uses the squared planar (equirectangular) metric in degree
space — a polynomial over exact inputs, so both engines produce
bit-identical doubles. Haversine would be the production metric at
continental extents, but libm trig differs across engines at the ULP
level (not hash-safe) and at city scale (<0.1°) the planar ranking is
identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table, memo_on_input, with_traffic

# Pseudo-coordinates: a deterministic scatter inside a Bandung-sized
# bounding box (the reference's city), exact rationals of cam_key.
LAT0, LNG0 = -7.0, 107.55
_COORD_CTE = """
camera_geo AS (
  SELECT c_custkey AS cam_key,
         -7.0 + CAST(c_custkey * 37 % 1000 AS DOUBLE) / 10000 AS lat,
         107.55 + CAST(c_custkey * 73 % 1000 AS DOUBLE) / 10000 AS lng
  FROM customer WHERE c_custkey % 4 <> 0
)
""".strip()

K_NEIGHBORS = 3
CELL_DEG = 0.01  # ~1.1 km grid cell


def camera_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Camera-config dimension with deterministic pseudo lat/lng
    (same subset predicate as joins.camera_dim)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 != 0)
    return c.select(
        F.col("c_custkey").alias("cam_key"),
        (F.lit(LAT0) + (F.col("c_custkey") * 37 % 1000).cast("double") / 10000).alias("lat"),
        (F.lit(LNG0) + (F.col("c_custkey") * 73 % 1000).cast("double") / 10000).alias("lng"),
    )


def _neighbor_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAZY distinct-point frame of q_camera_neighbors (step 1): each
    point with its sorted camera keys, (K+1)-smallest prefix and grid
    cell — the plan assert targets this builder's pruned dim scan."""
    kp1 = K_NEIGHBORS + 1
    return (
        camera_geo(spark, sf_dir)
        .groupBy("lat", "lng")
        .agg(F.sort_array(F.collect_list("cam_key")).alias("keys_all"))
        .select(
            "lat",
            "lng",
            "keys_all",
            F.slice("keys_all", 1, kp1).alias("keys_top"),
            F.floor(F.col("lat") / CELL_DEG).cast("long").alias("ci"),
            F.floor(F.col("lng") / CELL_DEG).cast("long").alias("cj"),
        )
    )


@register(
    oracle=f"""
WITH {_COORD_CTE},
pairs AS (
  SELECT a.cam_key, b.cam_key AS neighbor_key,
         (a.lat - b.lat) * (a.lat - b.lat)
           + (a.lng - b.lng) * (a.lng - b.lng) AS d2
  FROM camera_geo a JOIN camera_geo b ON a.cam_key <> b.cam_key
  WHERE (a.lat - b.lat) * (a.lat - b.lat)
          + (a.lng - b.lng) * (a.lng - b.lng) <= {CELL_DEG} * {CELL_DEG}
),
ranked AS (
  SELECT cam_key, neighbor_key, d2,
         row_number() OVER (PARTITION BY cam_key ORDER BY d2, neighbor_key) AS rank
  FROM pairs
)
SELECT cam_key, neighbor_key, d2, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {K_NEIGHBORS}
ORDER BY cam_key, rank
""",
)
def q_camera_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius k-NN over the camera map: each camera's up-to-{K}
    nearest others WITHIN radius {CELL_DEG}° (≈1 km), ties broken by
    neighbor key. Radius semantics make the grid decomposition EXACT:
    every point within radius R of a camera lies in its 3×3
    neighborhood of R-sized cells, so candidates come from an
    equi-join on cell keys — sound AND complete, never a theta join.
    (Unbounded k-NN cannot be grid-blocked exactly: an isolated
    camera's 3rd neighbor may sit arbitrarily far; the first cut of
    this query was an all-pairs nested loop that scaled quadratically
    with the config — 158 s at sf0.1 — which is why the radius form
    is the right operator, matching how PostGIS/Sedona answer
    "nearby".)

    Shape — COINCIDENT-POINT COLLAPSE, the spatial-join move for
    snapped/repeated coordinates (grid-snapped GPS, geocoded
    addresses; here 11 250 cameras share 750 exact points at sf0.1):

    1. Collapse cameras to distinct points. All cameras at point p are
       EQUIDISTANT from everything, so they share one candidate list.
    2. Radius-join at POINT level via the 3×3 cell grid (pairs ∝
       points × local point density — the collapsed quantity).
    3. Per candidate point keep only its (K+1) smallest camera keys:
       within one point all cameras tie on d2 and rank by key, so the
       (K+2)-th smallest key can never reach any probe's top-(K+1).
    4. Per PROBE POINT rank candidates by (d2, key) and keep the
       first K+1 cameras: a probe camera's self-exclusion removes at
       most one, so its top-K is always inside that prefix.
    5. Expand back to cameras (≤ K+1 candidate rows each), drop
       self, final rank.

    The heavy sort runs on points × nearby candidate keys instead of
    cameras × nearby cameras (55× fewer rows at sf0.1: 0.2 M vs
    11.3 M). With all-unique coordinates the collapse degenerates to
    one camera per point and the plan is the classic grid-blocked
    radius join — never worse than cameras × local density, never
    cameras².
    """
    kp1 = K_NEIGHBORS + 1
    # 1. distinct points, each with its (K+1)-smallest camera keys and
    # every camera at the point (re-expanded in step 5).
    # pts feeds three consumers (probe, build, members): one eager
    # checkpoint runs the dim scan + point aggregate once (r13 opt
    # round; point-grain frame). The lazy builder is separate so the
    # pruned-scan plan shape stays assertable (tests/test_plans.py).
    pts = _neighbor_points(spark, sf_dir).localCheckpoint(eager=True)
    # 2. point-level radius join: probe points explode to their 3×3
    # cell neighborhood, equi-join the cell-keyed build side. The
    # p=q (d2=0) pair stays in — same-point cameras ARE candidates.
    offsets = F.explode(
        F.array(*[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                  for di in (-1, 0, 1) for dj in (-1, 0, 1)])
    )
    probe = pts.select(
        F.col("lat"), F.col("lng"), F.col("ci"), F.col("cj"), offsets.alias("o")
    ).select(
        "lat",
        "lng",
        (F.col("ci") + F.col("o.di")).alias("bi"),
        (F.col("cj") + F.col("o.dj")).alias("bj"),
    )
    build = pts.select(
        F.col("keys_top"),
        F.col("lat").alias("b_lat"),
        F.col("lng").alias("b_lng"),
        F.col("ci").alias("bi"),
        F.col("cj").alias("bj"),
    )
    d2 = (F.col("lat") - F.col("b_lat")) * (F.col("lat") - F.col("b_lat")) + (
        F.col("lng") - F.col("b_lng")
    ) * (F.col("lng") - F.col("b_lng"))
    # 3. expand only the candidate point's (K+1)-smallest keys.
    cand = (
        probe.join(build, ["bi", "bj"])
        .select("lat", "lng", d2.alias("d2"), F.col("keys_top"))
        .filter(F.col("d2") <= CELL_DEG * CELL_DEG)
        .select("lat", "lng", "d2", F.explode("keys_top").alias("neighbor_key"))
    )
    # 4. first K+1 candidate cameras per probe POINT (WindowGroupLimit
    # keeps this a streaming top-k, not a full sort).
    wp = Window.partitionBy("lat", "lng").orderBy("d2", "neighbor_key")
    top = (
        cand.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= kp1)
        .select("lat", "lng", "d2", "neighbor_key")
    )
    # 5. re-expand the point's cameras, drop self, final per-camera rank.
    members = pts.select("lat", "lng", F.explode("keys_all").alias("cam_key"))
    w = Window.partitionBy("cam_key").orderBy("d2", "neighbor_key")
    return (
        top.join(members, ["lat", "lng"])
        .filter(F.col("neighbor_key") != F.col("cam_key"))
        .select("cam_key", "neighbor_key", "d2")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= K_NEIGHBORS)
        # output-only sort dropped — data-sized output, order-insensitive gate (guide §2.4)
    )


@register(
    oracle=with_traffic(f"""
, totals AS (
  SELECT CAST(camera_id AS BIGINT) AS cam_key,
         CAST(SUM(new_count) AS BIGINT) AS cam_total
  FROM traffic GROUP BY 1
)
SELECT CAST(FLOOR(g.lat / {CELL_DEG}) AS BIGINT) AS cell_lat,
       CAST(FLOOR(g.lng / {CELL_DEG}) AS BIGINT) AS cell_lng,
       COUNT(*) AS n_cameras,
       CAST(COALESCE(SUM(t.cam_total), 0) AS BIGINT) AS cell_volume
FROM camera_geo g LEFT JOIN totals t ON t.cam_key = g.cam_key
GROUP BY 1, 2
ORDER BY cell_lat, cell_lng
""", extra_ctes=_COORD_CTE),
)
def q_geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell density map: cameras bucketed to a {CELL_DEG}° grid
    (the integer-cell geohash analog) with per-cell camera counts and
    total observed volume. This cell key is the blocking structure the
    k-NN query would join on at scale — here it also feeds the
    dashboard heat map directly.

    The fact table collapses to per-camera totals (one shuffle on the
    high-cardinality key) BEFORE joining the geo dimension, so the
    geo join and the cell aggregate both run dimension-sized. The
    per-camera totals GROW with the fleet, so no broadcast hint —
    both join sides are camera-dimension-sized and Catalyst/AQE picks
    broadcast only while the measured size allows it.
    """
    g = camera_geo(spark, sf_dir)
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("cam_key"))
        .agg(F.sum(F.floor("value").cast("long")).alias("cam_total"))
    )
    return (
        g.join(h, "cam_key", "left")
        .groupBy(
            F.floor(F.col("lat") / CELL_DEG).cast("long").alias("cell_lat"),
            F.floor(F.col("lng") / CELL_DEG).cast("long").alias("cell_lng"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cameras"),
            F.coalesce(F.sum("cam_total"), F.lit(0)).cast("long").alias("cell_volume"),
        )
        .orderBy("cell_lat", "cell_lng")
    )


# Incremental connectivity: a tighter radius than the kNN query so the
# map breaks into many zones, and a deterministic "today's deployment"
# slot of new cameras to fold in.
GEO_CC_R2 = 0.000009  # (0.003 deg)^2 ~ 330 m connectivity radius
GEO_CC_DELTA_MOD, GEO_CC_DELTA_SLOT = 10, 3


def radius_pairs(g: DataFrame, r2: float) -> DataFrame:
    """All camera pairs (a < b) within sqrt(r2) degrees — grid-blocked
    via the same coincident-point collapse as q_camera_neighbors: the
    radius join runs at POINT level (every point pair appears once:
    lexicographic point order keeps one side, the self-point pair
    comes only from its own (0,0) offset), then expands each surviving
    point pair's camera key lists. Pair volume ∝ points × local
    density, never cameras²."""
    pts = g.groupBy("lat", "lng").agg(
        F.sort_array(F.collect_list("cam_key")).alias("keys")
    ).select(
        "lat",
        "lng",
        "keys",
        F.floor(F.col("lat") / CELL_DEG).cast("long").alias("ci"),
        F.floor(F.col("lng") / CELL_DEG).cast("long").alias("cj"),
    )
    offsets = F.explode(
        F.array(*[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                  for di in (-1, 0, 1) for dj in (-1, 0, 1)])
    )
    probe = pts.select("lat", "lng", "keys", "ci", "cj", offsets.alias("o")).select(
        "lat",
        "lng",
        "keys",
        (F.col("ci") + F.col("o.di")).alias("bi"),
        (F.col("cj") + F.col("o.dj")).alias("bj"),
    )
    build = pts.select(
        F.col("lat").alias("b_lat"),
        F.col("lng").alias("b_lng"),
        F.col("keys").alias("b_keys"),
        F.col("ci").alias("bi"),
        F.col("cj").alias("bj"),
    )
    d2 = (F.col("lat") - F.col("b_lat")) * (F.col("lat") - F.col("b_lat")) + (
        F.col("lng") - F.col("b_lng")
    ) * (F.col("lng") - F.col("b_lng"))
    ppairs = (
        probe.join(build, ["bi", "bj"])
        .filter(d2 <= F.lit(r2))
        .filter(
            (F.col("lat") < F.col("b_lat"))
            | ((F.col("lat") == F.col("b_lat")) & (F.col("lng") <= F.col("b_lng")))
        )
    )
    same_pt = (F.col("lat") == F.col("b_lat")) & (F.col("lng") == F.col("b_lng"))
    # same-point pairs: i < j inside one key list; cross-point pairs:
    # full cross of the two lists, emitted id-ordered
    n = F.size("keys")
    within = F.flatten(
        F.transform(
            "keys",
            lambda a, i: F.transform(
                F.slice("keys", i + F.lit(2), n - i - F.lit(1)),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    across = F.flatten(
        F.transform(
            "keys",
            lambda a: F.transform(
                "b_keys",
                lambda b: F.struct(
                    F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
                ),
            ),
        )
    )
    return ppairs.select(
        F.explode(F.when(same_pt, within).otherwise(across)).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def _cc_delta_oracle() -> str:
    return f"""
WITH RECURSIVE {_COORD_CTE},
pairs AS (
  SELECT a.cam_key AS a, b.cam_key AS b
  FROM camera_geo a JOIN camera_geo b ON a.cam_key < b.cam_key
  WHERE (a.lat - b.lat) * (a.lat - b.lat)
          + (a.lng - b.lng) * (a.lng - b.lng) <= {GEO_CC_R2}
),
sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
lab AS (SELECT a AS cam_key, LEAST(a, MIN(b)) AS zone FROM reach GROUP BY a),
allc AS (
  SELECT g.cam_key, COALESCE(l.zone, g.cam_key) AS zone
  FROM camera_geo g LEFT JOIN lab l USING (cam_key)
),
sizes AS (SELECT zone, CAST(COUNT(*) AS BIGINT) AS n FROM allc GROUP BY 1)
SELECT c.cam_key, CAST(c.zone AS BIGINT) AS zone, s.n AS zone_size
FROM allc c JOIN sizes s USING (zone)
ORDER BY c.cam_key
"""


def cc_is_delta():
    """The deployment-slot predicate — ONE definition shared by the
    stored-side build and q_cc_delta so base/delta stay exact
    complements."""
    return F.col("cam_key") % GEO_CC_DELTA_MOD == GEO_CC_DELTA_SLOT


def cc_with_cells(df: DataFrame) -> DataFrame:
    """Attach the CELL_DEG grid-cell keys (ci, cj)."""
    return df.select(
        "*",
        F.floor(F.col("lat") / CELL_DEG).cast("long").alias("ci"),
        F.floor(F.col("lng") / CELL_DEG).cast("long").alias("cj"),
    )


def cc_offsets():
    """The 3x3 cell-neighborhood explode shared by every radius join."""
    return F.explode(
        F.array(*[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                  for di in (-1, 0, 1) for dj in (-1, 0, 1)])
    )


def cc_d2():
    """Squared planar distance between (lat, lng) and (b_lat, b_lng)."""
    return (F.col("lat") - F.col("b_lat")) * (F.col("lat") - F.col("b_lat")) + (
        F.col("lng") - F.col("b_lng")
    ) * (F.col("lng") - F.col("b_lng"))


def _build_base_zone_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL base-side CC at point grain -> (lat, lng, bzone). This is
    the nightly index-build job; q_cc_delta itself only READS its
    output (see stored_zone_labels)."""
    from ..functions.dedup import connected_components

    g = camera_geo(spark, sf_dir)
    gb = g.filter(~cc_is_delta())
    offsets = cc_offsets()
    d2 = cc_d2()
    bpts = cc_with_cells(
        gb.groupBy("lat", "lng").agg(F.min("cam_key").alias("pid"))
    ).localCheckpoint(eager=True)  # probe, build AND map
    bbuild = bpts.select(
        F.col("lat").alias("b_lat"),
        F.col("lng").alias("b_lng"),
        F.col("pid").alias("b_pid"),
        F.col("ci").alias("bi"),
        F.col("cj").alias("bj"),
    )
    bprobe = bpts.select("lat", "lng", "pid", "ci", "cj", offsets.alias("o")).select(
        "lat",
        "lng",
        "pid",
        (F.col("ci") + F.col("o.di")).alias("bi"),
        (F.col("cj") + F.col("o.dj")).alias("bj"),
    )
    bedges = (
        bprobe.join(bbuild, ["bi", "bj"])
        .filter(d2 <= F.lit(GEO_CC_R2))
        .filter(
            (F.col("lat") < F.col("b_lat"))
            | ((F.col("lat") == F.col("b_lat")) & (F.col("lng") < F.col("b_lng")))
        )
        .select(F.col("pid").alias("a"), F.col("b_pid").alias("b"))
    )
    sym_edges = (
        bedges.select(F.col("a").alias("d1"), F.col("b").alias("d2"))
        .union(bedges.select(F.col("b").alias("d1"), F.col("a").alias("d2")))
        .localCheckpoint(eager=True)
    )
    base_plabels = connected_components(sym_edges)
    return bpts.join(
        base_plabels.select(F.col("doc_id").alias("pid"), "label"),
        "pid",
        "left",
    ).select("lat", "lng", F.coalesce("label", F.col("pid")).alias("bzone"))


def stored_zone_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED zone-label table (point-grain base CC result): built
    once per Spark application and customer-file stamp
    (tables.memo_on_input), materialized, and READ thereafter — the
    stand-in for the production stored index that an incremental
    operator must consume instead of rebuilding (the same stored-side
    discipline as q_zone_map_merge / q_mv_refresh, here made literal
    because the base side is an ITERATIVE job, not a single
    aggregation: re-running CC per query would be exactly the
    O(history) work incremental maintenance exists to avoid). A
    rewritten customer table changes the stamp and rebuilds instead of
    serving stale labels. When the source has no local parquet (tests
    plant a synthetic camera_geo), every call builds."""
    return memo_on_input(
        "zone_labels",
        spark,
        sf_dir,
        ("customer",),
        lambda: _build_base_zone_labels(spark, sf_dir).localCheckpoint(eager=True),
    )


@register(oracle=_cc_delta_oracle())
def q_cc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CONNECTED COMPONENTS — graph maintenance in the same
    family as q_scd2_apply / q_mv_refresh / q_ann_ivf_delta: the stored
    connectivity zones of the camera map (components of the ~330 m
    radius graph) are updated with today's deployment (cameras in the
    delta slot) WITHOUT rerunning CC on the whole graph. New edges can
    only merge existing zones or attach new cameras, so the update
    runs CC on the QUOTIENT graph — delta edges with endpoints mapped
    through the stored labels — whose size is bounded by the delta and
    the zones it touches, never by the full graph. Min-id labels make
    the composition exact (min of zone-mins = the global min), so the
    FULL-REBUILD oracle's hash equality is the incremental-equals-
    rebuild theorem for graph connectivity.

    Scale shape — the base side READS the stored point-grain label
    table (see stored_zone_labels; points are the
    right stored grain because coincident cameras share a zone by
    construction, d2 = 0 < r², and min-camera-key point labels EQUAL
    camera-component minima — a 15× row reduction at sf0.1: 11 250
    cameras on 750 points). Camera-level pair expansion happens only
    on the delta side; the quotient CC's pointer-doubling rounds (see
    ``connected_components``) run on delta-sized frames — the ONLY CC
    in this query (pinned by test_cc_delta_runs_cc_only_on_quotient).
    Output is the camera-grain zone assignment with zone sizes."""
    from ..functions.dedup import connected_components

    g = camera_geo(spark, sf_dir)
    gb = g.filter(~cc_is_delta())
    gd = g.filter(cc_is_delta())

    def sym(p):
        return p.select(F.col("a").alias("d1"), F.col("b").alias("d2")).union(
            p.select(F.col("b").alias("d1"), F.col("a").alias("d2"))
        ).localCheckpoint(eager=True)

    offsets = cc_offsets()
    d2 = cc_d2()

    # --- stored side: READ the stored point-grain zone labels
    bmap = cc_with_cells(stored_zone_labels(spark, sf_dir))

    # --- delta edges at CAMERA grain: delta↔delta pairs plus each
    # delta camera's links into base POINT zones
    dd = radius_pairs(gd, GEO_CC_R2)
    dprobe = cc_with_cells(gd).select(
        "cam_key", "lat", "lng", "ci", "cj", offsets.alias("o")
    ).select(
        "cam_key",
        "lat",
        "lng",
        (F.col("ci") + F.col("o.di")).alias("bi"),
        (F.col("cj") + F.col("o.dj")).alias("bj"),
    )
    db = (
        dprobe.join(
            bmap.select(
                F.col("lat").alias("b_lat"),
                F.col("lng").alias("b_lng"),
                F.col("ci").alias("bi"),
                F.col("cj").alias("bj"),
                "bzone",
            ),
            ["bi", "bj"],
        )
        .filter(d2 <= F.lit(GEO_CC_R2))
        .select(F.col("cam_key").alias("qa"), F.col("bzone").alias("qb"))
    )
    qedges = (
        dd.select(F.col("a").alias("qa"), F.col("b").alias("qb"))
        .unionByName(db)
        .filter(F.col("qa") != F.col("qb"))
        .select(F.least("qa", "qb").alias("a"), F.greatest("qa", "qb").alias("b"))
        .distinct()
    )
    qlabels = connected_components(sym(qedges)).select(
        F.col("doc_id").alias("node"), F.col("label").alias("qzone")
    )

    # --- final camera-grain assignment
    base_final = gb.join(
        F.broadcast(bmap.select("lat", "lng", "bzone")), ["lat", "lng"]
    ).select("cam_key", F.col("bzone").alias("node"))
    delta_final = gd.select("cam_key", F.col("cam_key").alias("node"))
    final = (
        base_final.unionByName(delta_final)
        .join(F.broadcast(qlabels), "node", "left")
        .select(
            "cam_key",
            F.coalesce("qzone", F.col("node")).cast("long").alias("zone"),
        )
        .localCheckpoint(eager=True)  # camera-grain; feeds sizes AND output
    )
    sizes = final.groupBy("zone").agg(
        F.count(F.lit(1)).cast("long").alias("zone_size")
    )
    return (
        final.join(F.broadcast(sizes), "zone")
        .select("cam_key", "zone", "zone_size")
        .orderBy("cam_key")
    )
