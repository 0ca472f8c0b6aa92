"""Graph analytics over the part co-purchase graph — triangle census,
fixed-point PageRank, and k-core decomposition.

The graph: parts are nodes; an undirected edge connects two parts that
ever co-occur in one order's basket (distinct pairs, baskets capped at
1024 members exactly like q_part_affinity / the dedup LSH buckets).
Node and edge counts scale with SF — this is the data-proportional
entity graph a recommender or curriculum pipeline derives from 100 TB
of order facts, and both operators keep the heavy lifting on the
contracted graph, never the facts:

- **triangle census** (`q_graph_triangles`): the standard
  degree-ordered orientation bounds the wedge-join intermediate at
  O(m^1.5) regardless of hubs (each edge points from its lower-(deg,
  id) endpoint to the higher one, so oriented out-degree ≤ O(√m)) —
  the node-iterator shape every distributed triangle counter uses.
  Output is a single exact-integer summary row, so the DuckDB oracle
  (which can afford the naive a<b<c join at sf0.01) hash-matches
  without replicating the orientation trick.
- **PageRank** (`q_pagerank_parts`): PAGERANK_ITERS unrolled
  power-iteration rounds in pure int64 fixed-point — per-node
  contribution ``score // deg`` and damping ``(85·Σ) // 100`` are
  floor divisions of nonnegative integers, so every round is
  bit-identical in DuckDB's unrolled-CTE twin (the same discipline as
  compat.exact_ppm: never a float accumulation across engines). The
  iteration runs on the entity graph (|parts| rows), each round one
  key-partitioned join + aggregation.
- **k-core** (`q_kcore_parts`): decrement-propagation peeling at a
  percentile-derived threshold — the adjacency checkpoints once, each
  round touches only the node-sized degree frame plus the (shrinking,
  InSet-shippable) removed set, and the unrolled-CTE oracle stays in
  lockstep with the round cap.

Reference parity: the reference app has no graph operators — this is
north-star LLM-pipeline surface (dedup-cluster analysis, co-occurrence
centrality for sampling weights, dense-subgraph spam detection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import global_rank
from ..functions.dedup import MAX_BUCKET_EXPAND, bucket_pair_expand
from ..registry import register
from ..tables import load_table

BASKET_CAP = 1024  # == q_part_affinity's AFFINITY_MAX_BASKET / LSH cap
PAGERANK_ITERS = 5
PR_SCALE = 1_000_000  # initial score per node, exact integer units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio
PR_CHECKPOINT_EVERY = 10  # truncate score lineage every K rounds

# Shared DuckDB CTE: capped distinct baskets -> distinct undirected
# edges (u < v) -> symmetric adjacency + degrees.
_GRAPH_CTE = f"""
li AS (
  SELECT l_orderkey, l_partkey
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  QUALIFY row_number() OVER (
    PARTITION BY l_orderkey ORDER BY l_partkey
  ) <= {BASKET_CAP}
),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
),
sym AS (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
),
deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1
)
""".strip()


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v), basket-capped.

    Group-and-expand (one shuffle of the projected fact), identical
    semantics to the oracle CTE above and to q_part_affinity's pair
    builder: per-order distinct partkeys (collect_set — the
    distinct_members fast path, saving the standalone distinct's
    extra fact shuffle), smallest BASKET_CAP kept, in-row i<j
    expansion — fan-out bounded by basket size, not data."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = bucket_pair_expand(
        li,
        ("l_orderkey",),
        F.col("l_partkey"),
        lambda a, b: a < b,
        distinct_members=True,
    )
    return pairs.select(
        F.col("p.a").alias("u"), F.col("p.b").alias("v")
    ).distinct()


def _sym(edges: DataFrame) -> DataFrame:
    return edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


@register(
    oracle=f"""
WITH {_GRAPH_CTE},
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
),
wed AS (
  SELECT SUM(d * (d - 1) / 2) AS n_wedges FROM deg
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(wed.n_wedges AS BIGINT) AS n_wedges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       CAST(FLOOR(3.0 * tri.n_triangles * 1000000 / GREATEST(wed.n_wedges, 1))
            AS BIGINT) AS clustering_ppm
FROM tri, wed
""",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph: nodes, edges, wedges
    (length-2 paths, from degrees alone), triangles, and the global
    clustering coefficient 3·Δ/wedges as exact integer ppm.

    Scale shape: edges are oriented from the lower-(deg, id) endpoint
    to the higher one before the wedge self-join, so a hub of degree
    10^6 contributes O(√m) oriented out-edges instead of 10^12 wedge
    candidates — the intermediate is O(m^1.5) worst case, each stage a
    key-partitioned equi-join. The oracle counts the same triangles
    with the naive u<v<w join (orientation-invariant), so the hash
    check verifies the optimization changed nothing."""
    return triangle_census(copurchase_edges(spark, sf_dir))


def triangle_census(raw_edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle census over a (u, v) u<v edge frame.

    The edge frame checkpoints EAGERLY: it is referenced five times
    (degrees, both orientation joins, the closing-edge probe, the
    count) and a lazy checkpoint lets branches race the first
    materialization and silently re-run the basket-expansion pipeline
    (the k-core 3^n lesson; measured on q_dedup_clusters' union)."""
    edges = raw_edges.localCheckpoint(eager=True)
    deg = _sym(edges).groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # degree-ordered orientation: src = lower (d, node), dst = higher
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    # Edge-iterator with adjacency arrays instead of a wedge join:
    # Δ = Σ over oriented edges |N⁺(src) ∩ N⁺(dst)|. The wedge-join
    # form materializes every length-2 path (O(m^1.5) ROWS through a
    # shuffle) before the closing-edge probe; grouping the oriented
    # out-neighborhoods into sorted arrays keeps the same O(m^1.5)
    # WORK inside an in-row array_intersect — per-edge payload
    # bounded by the orientation's O(√m) out-degree cap, one shuffle
    # of |edges| rows, no wedge materialization. Measured 6.9 s →
    # 2.1 s at sf0.1, identical count. A dst without out-edges
    # contributes zero, so the inner join dropping it is exact.
    adj = oriented.groupBy(F.col("src").alias("node")).agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    a1 = adj.select(F.col("node").alias("src"), F.col("nbrs").alias("ns"))
    a2 = adj.select(F.col("node").alias("dst"), F.col("nbrs").alias("nd"))
    tri = (
        oriented.join(a1, "src")
        .join(a2, "dst")
        .select(F.size(F.array_intersect("ns", "nd")).cast("long").alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    counts = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.floor(
                3.0
                * F.col("n_triangles")
                * 1_000_000
                / F.greatest(F.col("n_wedges"), F.lit(1))
            )
            .cast("long")
            .alias("clustering_ppm"),
        )
    )


def _pagerank_oracle() -> str:
    """Unrolled power iteration: one CTE layer per round (recursive
    CTEs cannot aggregate per iteration), every step integer-exact."""
    base = f"({1_000_000 * PR_DAMP_DEN - PR_DAMP_NUM * PR_SCALE} // {PR_DAMP_DEN})"
    # (1-d)·SCALE as exact integer: (100·SCALE − 85·SCALE) // 100
    layers = ["s0 AS (SELECT node, CAST({s} AS BIGINT) AS score FROM deg)".format(s=PR_SCALE)]
    for k in range(PAGERANK_ITERS):
        layers.append(
            f"""s{k + 1} AS (
  SELECT d.node,
         CAST({base} + ({PR_DAMP_NUM} * COALESCE(agg.incoming, 0)) // {PR_DAMP_DEN}
              AS BIGINT) AS score
  FROM deg d
  LEFT JOIN (
    SELECT sym.v AS node, SUM(s.score // dd.d) AS incoming
    FROM sym
    JOIN s{k} s ON s.node = sym.u
    JOIN deg dd ON dd.node = sym.u
    GROUP BY sym.v
  ) agg ON agg.node = d.node
)"""
        )
    return f"""
WITH {_GRAPH_CTE},
{",".join(layers)}
SELECT node AS part, score
FROM s{PAGERANK_ITERS}
ORDER BY score DESC, part
LIMIT 20
"""


@register(oracle=_pagerank_oracle())
def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by fixed-point PageRank (d = 0.85,
    PAGERANK_ITERS power-iteration rounds) over the co-purchase
    graph — co-occurrence centrality, the sampling-weight /
    hub-product signal derived from order facts.

    Every arithmetic step is int64 floor division on nonnegative
    values (score//deg per node, (85·Σ)//100 damping), so the whole
    iteration is bit-identical to the oracle's unrolled-CTE twin — an
    exact cross-engine check of an iterative linear-algebra operator.
    Each round is one broadcast-free key-partitioned join (scores ⋈
    symmetric adjacency) + one aggregation over the ENTITY graph
    (|parts| rows, ∝ SF), never the facts; K rounds chain into a
    single lazy plan with one final action."""
    ranked = pagerank(copurchase_edges(spark, sf_dir), PAGERANK_ITERS)
    return (
        ranked.select(F.col("node").alias("part"), "score")
        .orderBy(F.desc("score"), F.asc("part"))
        .limit(20)
    )


KCORE_PCTL = 5  # K = the 5th-percentile initial degree (exact rank pick)
KCORE_MAX_ITERS = 20  # peel-round cap; raises rather than return partial
KCORE_COLLECT_CAP = 10_000  # max removed-set size shipped as an InSet


def kcore_edges(edges: DataFrame, k: int) -> DataFrame:
    """Iterative degree-prune to the k-core of a (u, v) u<v edge
    frame: each synchronous round drops every node whose CURRENT
    degree < k until a fixed point — the standard peeling algorithm,
    the third graph primitive (after triangles / PageRank)
    corpus-quality pipelines use for dense-subgraph spam detection.

    Scale shape — decrement propagation, not edge re-filtering: the
    adjacency checkpoints ONCE; each round works on the NODE-sized
    degree frame, joining the adjacency only against this round's
    (shrinking) removed set to decrement the survivors' degrees —
    with AQE on, that join broadcasts the removed side at runtime, so
    the edge set is scanned in place and never re-shuffled. Removing
    R and subtracting each survivor's edges-into-R is exactly
    recomputing degrees on the induced subgraph, so rounds are
    bit-identical to whole-graph peel layers (and to the oracle's
    unrolled CTE). The driver holds one scalar per round (the removed
    count — the convergence check); the degree frame localCheckpoints
    each round (same discipline as connected_components / pagerank,
    SCALE.md). Exhausting ``KCORE_MAX_ITERS`` rounds RAISES instead of
    emitting a partially-peeled graph; the cap is in lockstep with
    the oracle's unroll depth."""
    e = edges.localCheckpoint(eager=True)
    sym = _sym(e)
    alive = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    # +1: convergence on the last allowed round still needs one
    # (no-removal) round to be observed
    for _ in range(KCORE_MAX_ITERS + 1):
        removed = alive.filter(F.col("d") < k)
        n_removed = removed.count()
        if n_removed == 0:
            surv = alive.select("node")
            return (
                e.join(surv.select(F.col("node").alias("u")), "u", "left_semi")
                .join(surv.select(F.col("node").alias("v")), "v", "left_semi")
                .select("u", "v")
            )
        if n_removed <= KCORE_COLLECT_CAP:
            # peeling cascades shrink fast: past round 1 the removed
            # set is tens of nodes, so ship it as an InSet predicate
            # (explicitly capped — the PQ_TRAIN_CAP discipline, never
            # an unbounded collect) and turn the decrement join into a
            # filtered scan of the checkpointed adjacency: no shuffle
            # of the edge set, just a partial-agg of the hit rows
            ids = [r.node for r in removed.select("node").collect()]
            hit = sym.filter(F.col("u").isin(ids))
        else:
            hit = sym.join(removed.select(F.col("node").alias("u")), "u")
        dec = (
            hit.groupBy(F.col("v").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("ndec"))
        )
        alive = (
            alive.filter(F.col("d") >= k)
            .join(dec, "node", "left")
            .select(
                "node",
                (F.col("d") - F.coalesce("ndec", F.lit(0))).cast("long").alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"k-core peel did not converge in {KCORE_MAX_ITERS} rounds — "
        "unprecedented for the co-purchase graph (≤10 observed at "
        "bench SFs); raise KCORE_MAX_ITERS in lockstep with the "
        "oracle's unroll depth"
    )


def _kcore_oracle() -> str:
    """Unrolled peel: one CTE layer per round, KCORE_MAX_ITERS deep.
    The fixed point is idempotent, so extra layers are no-ops and the
    unrolled depth only needs to be ≥ the rounds Spark actually takes
    (Spark raises beyond the same cap, keeping the two in lockstep)."""
    layers = [
        "dk AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d, node) AS rn FROM deg)",
        f"""kth AS (
  SELECT d AS kval FROM dk
  WHERE rn = (SELECT COUNT(*) * {KCORE_PCTL} // 100 + 1 FROM deg)
)""",
        "e0 AS MATERIALIZED (SELECT u, v FROM edges)",
    ]
    for i in range(KCORE_MAX_ITERS):
        layers.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i})
  GROUP BY node
),
n{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= (SELECT kval FROM kth)),
e{i + 1} AS MATERIALIZED (
  SELECT u, v FROM e{i}
  WHERE u IN (SELECT node FROM n{i}) AND v IN (SELECT node FROM n{i})
)"""
        )
    return f"""
WITH {_GRAPH_CTE},
{",".join(layers)},
cd AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
  FROM (SELECT u AS node FROM e{KCORE_MAX_ITERS}
        UNION ALL SELECT v FROM e{KCORE_MAX_ITERS})
  GROUP BY node
)
SELECT node AS part, core_degree,
       (SELECT CAST(kval AS BIGINT) FROM kth) AS k_threshold,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cd) AS n_core
FROM cd
ORDER BY core_degree DESC, part
LIMIT 20
"""


@register(oracle=_kcore_oracle())
def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 members of the K-core of the co-purchase graph (K = the
    5th-percentile initial degree, an exact rank pick so the threshold
    scales with the corpus instead of going stale at a fixed constant),
    with each member's within-core degree plus the threshold and core
    size — the dense-subgraph signal corpus curation uses to flag
    template/spam clusters and recommenders use for stable co-purchase
    neighborhoods.

    The percentile pick uses compat.global_rank (range repartition +
    broadcast offsets — no data-sized single-partition window); K then
    travels to the peel loop as one driver scalar, the same footprint
    as connected_components' convergence counter. Exact integer
    output end-to-end, so the unrolled-CTE oracle hash-matches."""
    edges = copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg0 = (
        _sym(edges)
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ranked = global_rank(deg0, ["d", "node"])
    # bounded: the rank filter matches exactly ONE row — a single
    # scalar (the threshold K) reaches the driver, same footprint as
    # connected_components' convergence counter
    kval = (
        ranked.filter(
            F.col("_rk")
            == F.call_function("div", F.col("_n") * KCORE_PCTL, F.lit(100)) + 1
        )
        .select("d")
        .collect()[0][0]
    )
    core = kcore_edges(edges, int(kval))
    cd = (
        _sym(core)
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
    stats = cd.agg(F.count(F.lit(1)).cast("long").alias("n_core"))
    return (
        cd.crossJoin(F.broadcast(stats))
        .select(
            F.col("node").alias("part"),
            "core_degree",
            F.lit(int(kval)).cast("long").alias("k_threshold"),
            "n_core",
        )
        .orderBy(F.desc("core_degree"), F.asc("part"))
        .limit(20)
    )


def pagerank(raw_edges: DataFrame, iters: int) -> DataFrame:
    """Fixed-point PageRank over a (u, v) u<v undirected edge frame;
    returns (node, score) exact int64 after ``iters`` rounds.

    Lineage growth is bounded: each round chains one join + one agg
    onto the score frame, so at large ``iters`` the lazy plan (and
    optimizer time) would grow linearly — a lazy ``localCheckpoint``
    every PR_CHECKPOINT_EVERY rounds truncates it (values unchanged;
    pinned by tests/test_graph.py's cadence-equality test), keeping
    the per-round plan O(PR_CHECKPOINT_EVERY) whatever ``iters`` is.
    The edge frame itself checkpoints eagerly — sym references it
    twice and every round re-reads sym (the q_dedup_clusters union
    lesson)."""
    edges = raw_edges.localCheckpoint(eager=True)
    sym = _sym(edges)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    base = (1_000_000 * PR_DAMP_DEN - PR_DAMP_NUM * PR_SCALE) // PR_DAMP_DEN
    scores = deg.select("node", F.lit(PR_SCALE).cast("long").alias("score"))
    for i in range(iters):
        if i and i % PR_CHECKPOINT_EVERY == 0:
            scores = scores.localCheckpoint(eager=False)
        contrib = (
            scores.join(deg, "node")
            .select(
                F.col("node").alias("u"),
                F.call_function("div", F.col("score"), F.col("d")).alias("c"),
            )
            .join(sym, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("c").alias("incoming"))
        )
        scores = deg.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.call_function(
                    "div",
                    PR_DAMP_NUM * F.coalesce(F.col("incoming"), F.lit(0)),
                    F.lit(PR_DAMP_DEN),
                )
            )
            .cast("long")
            .alias("score"),
        )
    return scores


LPA_ITERS = 3  # synchronous rounds; oracle unrolls the same depth


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation: one CTE layer per
    round, each the same count-argmax with the deterministic
    (count DESC, label ASC) tie-break Spark applies."""
    layers = ["l0 AS (SELECT node, node AS lab FROM deg)"]
    for k in range(LPA_ITERS):
        layers.append(
            f"""l{k + 1} AS (
  SELECT node, lab FROM (
    SELECT s.u AS node, l.lab,
           ROW_NUMBER() OVER (
             PARTITION BY s.u ORDER BY COUNT(*) DESC, l.lab
           ) AS rn
    FROM sym s JOIN l{k} l ON l.node = s.v
    GROUP BY s.u, l.lab
  ) WHERE rn = 1
)"""
        )
    return f"""
WITH {_GRAPH_CTE},
{",".join(layers)},
comm AS (
  SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM l{LPA_ITERS} GROUP BY 1
)
SELECT community, n_members,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM comm) AS n_communities
FROM comm
ORDER BY n_members DESC, community
LIMIT 20
"""


@register(oracle=_lpa_oracle())
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007) over the co-purchase graph: every node
    starts as its own label; each round it adopts the most frequent
    label among its neighbors, ties to the smallest — the
    deterministic variant, so the unrolled-CTE oracle hash-matches
    an ITERATIVE mode-finding operator (PageRank checks sums, this
    checks argmax-with-tie-break). Communities = basket niches; the
    corpus-curation use is sampling-weight pools and topic balance.

    Scale shape: see ``_lpa_labels_lazy`` — dense part ids take the
    indexed path (per round: one broadcast label ARRAY + a zero-join,
    zero-shuffle HOF scan of the node-sized adjacency; the per-node
    argmax is an in-row run-length fold over the sorted neighbor
    labels, NOT a sort window). The final round's label scan is fused
    straight into the community aggregation — the per-node label
    frame is never materialized, only the |communities|-sized counts
    are (eagerly, so the adjacency cache drops before return). Top-20
    communities by size plan as TakeOrderedAndProject."""
    # Basket-union adjacency build: each basket row already carries
    # the full (capped, sorted-distinct) member set, so a node's
    # neighbor array is array_distinct(flatten(...)) of its baskets
    # minus itself — same two shuffles as the pair expansion but no
    # m²/2 pair-struct HOF and half the shuffled rows (measured ~1 s
    # off the build at sf0.1). Identical pair semantics: both derive
    # from the same slice(sort_array(collect_set), 1, cap) baskets.
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("l_partkey")), 1, MAX_BUCKET_EXPAND
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    adj = (
        baskets.select(F.explode("ms").alias("node"), "ms")
        .groupBy("node")
        .agg(
            F.array_remove(
                F.array_distinct(F.flatten(F.collect_list("ms"))),
                F.col("node").cast("long"),
            ).alias("nbrs")
        )
        .cache()
    )
    lab = _lpa_labels_lazy(adj, LPA_ITERS)
    comm = (
        lab.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .localCheckpoint(eager=True)  # |communities| rows
    )
    adj.unpersist()
    stats = comm.agg(F.count(F.lit(1)).cast("long").alias("n_communities"))
    return (
        comm.crossJoin(F.broadcast(stats))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(20)
    )


# Indexed-label fast path bound: the per-round label array is ONE row
# of |nodes| longs broadcast to every executor (~8 B/node → 256 MB at
# 2^25). Past the cap — or with non-contiguous node ids — the join
# path below takes over with identical semantics.
LPA_INDEX_CAP = 1 << 25


def lpa_labels(raw_edges: DataFrame, iters: int) -> DataFrame:
    """Synchronous LPA over a (u, v) u<v edge frame → (node, lab).

    Builds the per-node neighbor arrays (one shuffle — collect_set
    dedups and groups in a single hash aggregation) and hands off to
    ``_lpa_labels_lazy``; the final labels are materialized eagerly so
    the adjacency cache can be released before returning (a long
    driver session otherwise leaks one cached frame per call)."""
    edges = raw_edges.localCheckpoint(eager=True)
    adj = (
        _sym(edges)
        .groupBy(F.col("u").alias("node"))
        .agg(F.collect_set("v").alias("nbrs"))
        .cache()
    )
    lab = _lpa_labels_lazy(adj, iters).localCheckpoint(eager=True)
    adj.unpersist()
    return lab


def _lpa_labels_lazy(adj: DataFrame, iters: int) -> DataFrame:
    """LPA rounds over a cached (node, nbrs) adjacency frame,
    returned LAZY — the adjacency cache must stay live until the
    caller materializes (fusing a downstream aggregation into the
    final round's scan is the point: q_lpa_communities never
    materializes the per-node frame at all).

    Dispatch: contiguous node ids (the TPC-H part graph: partkeys are
    1..N dense) take the INDEXED path — each round broadcasts the
    label assignment as ONE array positioned by node id, so the
    neighbor-label lookup is an O(1) element_at inside a per-row HOF
    and a round is a single scan of the |nodes|-row adjacency with
    zero joins and zero shuffles (measured ~5× per round vs the
    broadcast-join form at sf0.1). Sparse ids or > LPA_INDEX_CAP
    nodes fall back to the join path: per round one broadcast label
    join into the exploded adjacency + two hash aggregations (the
    per-node argmax as ``max(struct(n, -lab))`` — count DESC, label
    ASC, window-free), with every aggregation eliding its Exchange
    under the adjacency's HashPartitioning(node)."""
    cnt, lo, hi = adj.agg(
        F.count(F.lit(1)), F.min("node"), F.max("node")
    ).first()
    if cnt and cnt <= LPA_INDEX_CAP and hi - lo + 1 == cnt:
        return _lpa_rounds_indexed(adj, int(lo), iters)
    return _lpa_rounds_join(adj, iters)


def _mode_smallest(sorted_labs):
    """Most frequent element of an ASC-sorted array, ties to the
    smallest value — one aggregate fold over the run-lengths (strict
    ``>`` keeps the earliest = smallest label on equal counts)."""
    return F.aggregate(
        sorted_labs,
        F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(None).cast("long").alias("best"),
            F.lit(0).alias("bestrun"),
        ),
        lambda st, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(st["prev"]), st["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.when(
                F.when(x.eqNullSafe(st["prev"]), st["run"] + 1).otherwise(F.lit(1))
                > st["bestrun"],
                x,
            )
            .otherwise(st["best"])
            .alias("best"),
            F.greatest(
                F.when(x.eqNullSafe(st["prev"]), st["run"] + 1).otherwise(F.lit(1)),
                st["bestrun"],
            ).alias("bestrun"),
        ),
        lambda st: st["best"],
    )


# Bound the lazy labarr chain's plan depth: every k intermediate
# rounds the ONE-ROW label array is checkpointed (a tiny job — the
# array is |nodes| longs) so per-execution plan/codegen stays flat
# while short chains (LPA_ITERS=3 → one intermediate round) run as a
# single fused job with zero driver sync points.
LPA_LABARR_CHECKPOINT_EVERY = 4


def _lpa_rounds_indexed(adj: DataFrame, lo: int, iters: int) -> DataFrame:
    """Indexed-label LPA rounds: node ids are contiguous from ``lo``,
    so round k's labels broadcast as one array with slot (node−lo+1).
    Round 1 needs no array at all: from the identity labelling every
    neighbor label is the (distinct) neighbor id, all counts are 1,
    and the tie-break picks array_min(nbrs). Returns LAZY — the final
    round is one HOF scan of the adjacency that downstream
    aggregations fuse into.

    Collect-free array handoff: intermediate rounds never materialize
    a per-node frame — round r's label ARRAY aggregates straight out
    of round (r−1)'s broadcast scan (one row of |nodes| longs), so
    the whole chain is broadcast-exchange children of the final scan
    with no node-sized checkpoints and no per-round driver jobs
    (measured ~25% off the rounds at sf0.1 vs the per-round eager
    node-frame checkpoints)."""
    if iters <= 0:
        return adj.select("node", F.col("node").alias("lab"))
    if iters == 1:
        return adj.select("node", F.array_min("nbrs").alias("lab"))
    # Round 1 never materializes: from the identity labelling every
    # neighbor label is the (distinct) neighbor id, so round-1 labels
    # are array_min(nbrs) per node and round 2's label ARRAY is built
    # straight from the adjacency.
    labarr = adj.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("node").alias("node"),
                        F.array_min("nbrs").alias("lab"),
                    )
                )
            ),
            lambda s: s["lab"],
        ).alias("labarr")
    )

    def mode_scan(la: DataFrame) -> DataFrame:
        return adj.crossJoin(F.broadcast(la)).select(
            "node",
            _mode_smallest(
                F.array_sort(
                    F.transform(
                        "nbrs",
                        lambda nb: F.element_at(
                            "labarr", (nb - F.lit(lo) + 1).cast("int")
                        ),
                    )
                )
            ).alias("lab"),
        )

    for r in range(2, iters):
        labarr = mode_scan(labarr).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("node", "lab"))),
                lambda s: s["lab"],
            ).alias("labarr")
        )
        if (r - 1) % LPA_LABARR_CHECKPOINT_EVERY == 0:
            labarr = labarr.localCheckpoint(eager=True)
    return mode_scan(labarr)


def _lpa_rounds_join(adj: DataFrame, iters: int) -> DataFrame:
    """Broadcast-join LPA rounds for sparse / oversized id spaces.

    The exploded adjacency inherits HashPartitioning(node) from the
    cached collect_set aggregation, so the per-round (node, label)
    count and the per-node argmax both elide their Exchanges. The
    label broadcast is node-sized (bounded like KCORE_COLLECT_CAP);
    past ~10^8 nodes drop the hint and the identical plan degrades
    to a co-partitioned join. Label lineage grows one join per
    round; the cadence checkpoint bounds plan depth like pagerank."""
    sym = adj.select(F.col("node").alias("u"), F.explode("nbrs").alias("v"))
    lab = adj.select("node", F.col("node").alias("lab"))
    for i in range(iters):
        if i and i % PR_CHECKPOINT_EVERY == 0:
            lab = lab.localCheckpoint(eager=False)
        lab = (
            sym.join(F.broadcast(lab.withColumnRenamed("node", "v")), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("node")
            .agg(F.max(F.struct(F.col("n"), (-F.col("lab")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("lab"))
        )
    return lab
