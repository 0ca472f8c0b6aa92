"""Similarity search over the ``embeddings`` table (array<float>, 64-d)
— north-star LLM-data-pipeline surface.

- **brute-force cosine top-k**: the correctness baseline. Dot products
  are computed in *fixed-point* (FLOOR(x·y·10^12) summed as BIGINT via
  zip_with + aggregate) so Spark and DuckDB produce bit-identical
  cosines — float summation order never matters.
- **embedding near-dup**: all-pairs cosine ≥ threshold — exact
  semantics, physically a blocked equi-join (B² skew-free cells), not
  a nested loop; still O(n²) work by definition.
- **IVF (inverted-file) ANN**: the 100 TB path — deterministic
  data-point-seeded coarse quantizer (k-means++ step-0), search only
  the query's nearest cells. Fixed-point dots end to end →
  hash-checked against a DuckDB oracle.
- **MLlib MinHashLSH**: library twin of functions/dedup's hand-rolled
  LSH; Spark-only.
- **Product quantization + exact re-rank**: the 100 TB storage answer
  (8-byte codes, ADC shortlist, faiss-style refine); recall-bounded
  against the brute force.

At scale the brute-force variant is a broadcast of the (small) query
set against a partitioned candidate table — no shuffle of candidates;
the per-query top-k is a ranking window partitioned by query id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import exact_ppm, let
from ..registry import register
from ..tables import load_table

DOT_SCALE = 1_000_000_000_000  # 1e12: products ≲ 1 → 64·1e12 ≪ int64 max
TOP_K = 5
# Fixed-size query batch: the QUERY_LIMIT lowest vec_ids (vec_id is dense
# 0..N-1 in the fixture). A CONSTANT batch — not a corpus-proportional
# subset like `vec_id % k` — so every driver-side structure keyed on the
# query set (PQ lookup tables, the brute-force block replication factor)
# stays O(1) as the candidate corpus scales 100×. That is the actual ANN
# contract: a small query batch scoring a huge corpus.
QUERY_LIMIT = 256
NEARDUP_COS = 0.45
NEARDUP_BLOCKS = 16  # blocked all-pairs: B² equi-join cells (see q_embedding_neardup)

# dot_fp(a, b) = Σ floor(a_i · b_i · 1e12)  (exact integers)
# cosine     = dot_fp / (sqrt(na_fp) · sqrt(nb_fp))   (scales cancel)


def _dot_fp(a: Column, b: Column) -> Column:
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * DOT_SCALE).cast("long"),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _norm_fp(a: Column) -> Column:
    return _dot_fp(a, a)


def _dot_fp_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, 64), i -> "
        f"CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * {DOT_SCALE}.0) AS BIGINT))) AS BIGINT)"
    )


_VECS_CTE = f"""
vecs AS (
  SELECT vec_id, label, embedding,
         {_dot_fp_sql("embedding", "embedding")} AS norm_fp
  FROM embeddings
)
""".strip()


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", "embedding", _norm_fp(F.col("embedding")).alias("norm_fp")
    )


def _cosine(dot_fp: Column, na_fp: Column, nb_fp: Column) -> Column:
    return dot_fp.cast("double") / (
        F.sqrt(na_fp.cast("double")) * F.sqrt(nb_fp.cast("double"))
    )


def _bruteforce_block_kernel(queries, cands):
    """Per-candidate-block exact kernel: every query × this block's
    candidates, emitting only each query's block-local top-K by
    (cosine DESC, neighbor_id ASC) — a safe partial selection, since
    the global top-K under a total order is a subset of the union of
    block top-Ks. Same bit-exact fixed-point arithmetic as
    `_neardup_cell_kernel`."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "neighbor_label": pd.Series(dtype="int32"),
            "cosine": pd.Series(dtype="float64"),
        }
    )
    if len(queries) == 0 or len(cands) == 0:
        return empty
    Q = np.stack(queries["embedding"].to_numpy()).astype(np.float64)
    C = np.stack(cands["embedding"].to_numpy()).astype(np.float64)
    qid = queries["vec_id"].to_numpy()
    cid = cands["vec_id"].to_numpy()
    clab = cands["label"].to_numpy()
    qden = np.sqrt(queries["norm_fp"].to_numpy().astype(np.float64))
    cden = np.sqrt(cands["norm_fp"].to_numpy().astype(np.float64))
    # Two stages, exactly like faiss refine — but here BOTH stages are
    # exact in the ranking sense:
    # 1) BLAS GEMM float cosines prescreen each query's candidates.
    #    The fixed-point cosine differs from the float cosine by
    #    < 64/(qden·cden) (the 64 per-term floors) plus f64 dot
    #    accumulation noise — both orders of magnitude below
    #    GEMM_MARGIN — so every candidate that can reach the exact
    #    top-K survives the float cut by construction.
    # 2) The O(queries·(K+ties)) survivor set re-scores with the exact
    #    fixed-point op and ranks under the real total order.
    # Work drops from queries×cands×64 floor-ops to one GEMM + a
    # sliver, without changing a single output bit.
    GEMM_MARGIN = 1e-6
    cosf = (Q @ C.T) * float(DOT_SCALE) / (qden[:, None] * cden[None, :])
    n = C.shape[0]
    o_qid, o_cid, o_lab, o_cos = [], [], [], []
    for i in range(Q.shape[0]):
        row = cosf[i]
        if n > TOP_K + 1:
            # K+1 keeps a full top-K even when the self-candidate
            # occupies one prescreen slot.
            kth = np.partition(row, n - (TOP_K + 1))[n - (TOP_K + 1)]
            sel = np.nonzero(row >= kth - GEMM_MARGIN)[0]
        else:
            sel = np.arange(n)
        sel = sel[cid[sel] != qid[i]]
        dots = (
            np.floor((Q[i][None, :] * C[sel]) * float(DOT_SCALE))
            .astype(np.int64)
            .sum(axis=1)
        )
        cos = dots.astype(np.float64) / (qden[i] * cden[sel])
        order = np.lexsort((cid[sel], -cos))[:TOP_K]
        o_qid.append(np.full(len(order), qid[i]))
        o_cid.append(cid[sel][order])
        o_lab.append(clab[sel][order])
        o_cos.append(cos[order])
    if not o_qid:
        return empty
    # ONE frame per block (256 per-query frames + concat measurably
    # dominated the kernel at small block sizes).
    return pd.DataFrame(
        {
            "query_id": np.concatenate(o_qid),
            "neighbor_id": np.concatenate(o_cid),
            "neighbor_label": np.concatenate(o_lab),
            "cosine": np.concatenate(o_cos),
        }
    )



@register(
    "q_ann_bruteforce",
    oracle=f"""
WITH {_VECS_CTE},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {_dot_fp_sql("q.embedding", "c.embedding")} AS dot_fp,
         q.norm_fp AS qn, c.norm_fp AS cn
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {QUERY_LIMIT}
),
ranked AS (
  SELECT query_id, neighbor_id, neighbor_label,
         CAST(dot_fp AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot_fp AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC,
                    neighbor_id
         ) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id, neighbor_label,
       ROUND(cosine, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {TOP_K}
ORDER BY query_id, rank
""",
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the query subset is replicated to every
    candidate block (candidates never move — the scan IS the
    partitioning), each block runs one vectorized exact kernel emitting
    its block-local top-K per query, and a final ranking window over
    the (blocks × queries × K)-row survivor set picks the global top-K.
    Exact — the recall baseline every ANN variant is judged against.
    Map-side partial selection means shuffle volume is ∝ queries·K·B,
    independent of candidate count."""
    B = NEARDUP_BLOCKS

    def side(filter_queries):
        blocks = spark.range(B).select(F.col("id").cast("int").alias("blk"))
        v = _vecs(spark, sf_dir)
        if filter_queries:
            return v.filter(F.col("vec_id") < QUERY_LIMIT).crossJoin(
                F.broadcast(blocks)
            )
        return v.withColumn("blk", (F.col("vec_id") % B).cast("int"))

    topk_per_block = (
        side(True)
        .groupby("blk")
        .cogroup(side(False).groupby("blk"))
        .applyInPandas(
            _bruteforce_block_kernel,
            "query_id long, neighbor_id long, neighbor_label int, cosine double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        topk_per_block.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def _neardup_cell_kernel(left, right):
    """Per-block-pair exact kernel: all (a, b) fixed-point cosines in
    vectorized numpy, emitting only v1 < v2 pairs above threshold.

    Bit-identical to the column-expression form: float32→float64 cast,
    (a_i·b_i)·1e12 product (same association order), floor, int64 sum,
    then double divide by √norms — every step an exactly-specified
    IEEE-754 op that numpy and the JVM round identically. Rounding to
    6 dp is deliberately NOT done here (numpy rounds half-to-even,
    Spark HALF_UP) — the caller rounds Spark-side. a-rows are chunked
    so the (chunk × nb × 64) product tensor stays ~10 MB regardless of
    cell size."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "v1": pd.Series(dtype="int64"),
            "v2": pd.Series(dtype="int64"),
            "label1": pd.Series(dtype="int32"),
            "label2": pd.Series(dtype="int32"),
            "cosine": pd.Series(dtype="float64"),
        }
    )
    if len(left) == 0 or len(right) == 0:
        return empty
    A = np.stack(left["embedding"].to_numpy()).astype(np.float64)
    Bm = np.stack(right["embedding"].to_numpy()).astype(np.float64)
    v1 = left["vec_id"].to_numpy()
    v2 = right["vec_id"].to_numpy()
    l1 = left["label"].to_numpy()
    l2 = right["label"].to_numpy()
    den2 = np.sqrt(right["norm_fp"].to_numpy().astype(np.float64))
    den1 = np.sqrt(left["norm_fp"].to_numpy().astype(np.float64))
    out = []
    chunk = max(1, (10 << 20) // (Bm.shape[0] * Bm.shape[1] * 8 + 1))
    for s in range(0, A.shape[0], chunk):
        Ac = A[s : s + chunk]
        dots = (
            np.floor((Ac[:, None, :] * Bm[None, :, :]) * float(DOT_SCALE))
            .astype(np.int64)
            .sum(axis=2)
        )
        cos = dots.astype(np.float64) / (den1[s : s + chunk, None] * den2[None, :])
        ii, jj = np.nonzero((v1[s : s + chunk, None] < v2[None, :]) & (cos >= NEARDUP_COS))
        if len(ii):
            out.append(
                pd.DataFrame(
                    {
                        "v1": v1[s + ii],
                        "v2": v2[jj],
                        "label1": l1[s + ii],
                        "label2": l2[jj],
                        "cosine": cos[ii, jj],
                    }
                )
            )
    return pd.concat(out, ignore_index=True) if out else empty


@register(
    "q_embedding_neardup",
    oracle=f"""
WITH {_VECS_CTE},
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label1, b.label AS label2,
         CAST({_dot_fp_sql("a.embedding", "b.embedding")} AS DOUBLE)
           / (sqrt(CAST(a.norm_fp AS DOUBLE)) * sqrt(CAST(b.norm_fp AS DOUBLE))) AS cosine
  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
)
SELECT v1, v2, label1, label2, ROUND(cosine, 6) AS cosine
FROM pairs WHERE cosine >= {NEARDUP_COS}
ORDER BY v1, v2
""",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.45), exact
    semantics via a BLOCKED all-pairs cogroup with a vectorized kernel.

    The naive ``a.join(b, v1 < v2)`` theta join plans as a
    BroadcastNestedLoopJoin: one unbounded task, driver-sized build
    side. Here each side is blocked by ``vec_id % NEARDUP_BLOCKS`` and
    replicated against a tiny broadcast block-pair table; each of the
    B² evenly-sized, skew-free (bi, bj) cells is evaluated by ONE
    Arrow-batched numpy kernel (`_neardup_cell_kernel`) — pairwise
    fixed-point dots as chunked tensor ops instead of 18M interpreted
    zip_with/aggregate evaluations (~6× faster at sf0.1, identical
    bits; see the kernel docstring for the IEEE argument). Total work
    is still O(n²) — inherent to exact threshold semantics (the
    qualifying pairs sit just above 0.45, so no probabilistic
    pre-filter has perfect recall); the 100 TB *approximate* paths are
    q_ann_ivf and q_dedup_simhash. This form exists so the exact
    oracle parallelizes with bounded per-task memory."""
    cells = _neardup_cells(spark, sf_dir)
    return (
        cells.select(
            "v1", "v2", "label1", "label2", F.round("cosine", 6).alias("cosine")
        ).orderBy("v1", "v2")
    )


def _neardup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered near-dup pairs (cos ≥ NEARDUP_COS, v1 < v2) via the
    blocked cogroup kernel — shared by q_embedding_neardup (pair list)
    and q_semantic_dedup (keep/drop list)."""
    B = NEARDUP_BLOCKS

    def side(on):  # fresh lineage per side: no self-join ambiguity
        # block-pair spine: all (bi, bj) combos; tiny → broadcast the fan-out
        pairs = spark.range(B * B).select(
            (F.col("id") / B).cast("int").alias("bi"),
            (F.col("id") % B).cast("int").alias("bj"),
        )
        return (
            _vecs(spark, sf_dir)
            .select(
                "vec_id", "label", "embedding", "norm_fp",
                (F.col("vec_id") % B).cast("int").alias("blk"),
            )
            .join(F.broadcast(pairs), F.col("blk") == F.col(on))
        )

    a, b = side("bi"), side("bj")
    return (
        a.groupby("bi", "bj")
        .cogroup(b.groupby("bi", "bj"))
        .applyInPandas(
            _neardup_cell_kernel,
            "v1 long, v2 long, label1 int, label2 int, cosine double",
        )
    )


@register(
    "q_semantic_dedup",
    oracle=f"""
WITH {_VECS_CTE},
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         CAST({_dot_fp_sql("a.embedding", "b.embedding")} AS DOUBLE)
           / (sqrt(CAST(a.norm_fp AS DOUBLE)) * sqrt(CAST(b.norm_fp AS DOUBLE))) AS cosine
  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
),
shadows AS (
  SELECT v2 AS vec_id, CAST(MIN(v1) AS BIGINT) AS shadowed_by
  FROM pairs WHERE cosine >= {NEARDUP_COS}
  GROUP BY v2
)
SELECT v.vec_id, v.label, s.shadowed_by IS NULL AS keep, s.shadowed_by
FROM vecs v LEFT JOIN shadows s USING (vec_id)
ORDER BY v.vec_id
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style keep/drop list: a vector is DROPPED when some
    smaller-id vector sits within cosine ≥ 0.45 (NEARDUP_COS) of it
    (`shadowed_by` = the smallest such neighbor — the representative a
    trainer keeps). Deterministic min-id tie-break, so the keep set is
    reproducible across runs and engines.

    Built on the same blocked exact-pair kernel as q_embedding_neardup
    (one extra groupBy(v2) min — work ∝ near-dup pairs); the shadow
    table is duplicate-sized, i.e. tiny relative to the corpus, so it
    re-joins the full vector set as a broadcast. At 100 TB the pair
    source swaps to the LSH/IVF candidate stream (q_dedup_simhash,
    q_ann_ivf), with this exact form as its verification oracle."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "label")
    shadows = (
        _neardup_cells(spark, sf_dir)
        .groupBy(F.col("v2").alias("vec_id"))
        .agg(F.min("v1").cast("long").alias("shadowed_by"))
    )
    return (
        vecs.join(F.broadcast(shadows), "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.col("shadowed_by").isNull().alias("keep"),
            "shadowed_by",
        )
        .orderBy("vec_id")
    )


IVF_CELLS = 8
IVF_PROBES = 2


def _ivf_centers_row(vecs: DataFrame) -> DataFrame:
    """ONE row holding the deterministic coarse quantizer: IVF_CELLS
    centers seeded from evenly-strided data points (k-means++ step-0,
    faiss's init). Broadcast so per-vector assignment is a
    shuffle-free HOF. Shared by q_ann_ivf and the IVF-PQ composition."""
    params = vecs.agg(
        F.greatest(F.floor((F.max("vec_id") + 1) / IVF_CELLS), F.lit(1))
        .cast("long")
        .alias("stride")
    )
    centers = (
        vecs.crossJoin(F.broadcast(params))
        .filter(
            (F.col("vec_id") % F.col("stride") == 0)
            & (F.col("vec_id") < F.col("stride") * IVF_CELLS)
        )
        .select(
            F.floor(F.col("vec_id") / F.col("stride")).cast("int").alias("cell"),
            F.col("embedding").alias("center"),
        )
    )
    return centers.agg(
        F.array_sort(F.collect_list(F.struct("cell", "center"))).alias("cs")
    )


def _ivf_scores() -> Column:
    """Per-row center scores over the broadcast `cs` column; struct
    (d, negcell) so lexicographic max/sort = dot DESC, cell ASC."""
    return F.transform(
        F.col("cs"),
        lambda c: F.struct(
            _dot_fp(F.col("embedding"), c["center"]).alias("d"),
            (-c["cell"]).alias("negcell"),
        ),
    )


def _ivf_cell() -> Column:
    """Assigned cell = argmax-dot center (expects the `scores` column)."""
    return (-F.array_max("scores")["negcell"]).cast("int")


def _ivf_probe_cells() -> Column:
    """The IVF_PROBES nearest cells of a query row (expects `scores`)."""
    return F.transform(
        F.slice(F.reverse(F.array_sort("scores")), 1, IVF_PROBES),
        lambda s: (-s["negcell"]).cast("int"),
    )


@register(
    "q_ann_ivf",
    oracle=f"""
WITH {_VECS_CTE},
params AS (
  SELECT GREATEST((MAX(vec_id) + 1) // {IVF_CELLS}, 1) AS stride FROM vecs
),
centers AS (
  SELECT CAST(v.vec_id // p.stride AS INT) AS cell, v.embedding AS center
  FROM vecs v, params p
  WHERE v.vec_id % p.stride = 0 AND v.vec_id < p.stride * {IVF_CELLS}
),
scored AS (
  SELECT v.vec_id, v.label, v.embedding, v.norm_fp, c.cell,
         {_dot_fp_sql("v.embedding", "c.center")} AS d
  FROM vecs v CROSS JOIN centers c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
  FROM scored
),
assigned AS (
  SELECT vec_id, label, embedding, norm_fp, cell FROM ranked WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, norm_fp AS qn, cell
  FROM ranked WHERE rn <= {IVF_PROBES} AND vec_id < {QUERY_LIMIT}
),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
         {_dot_fp_sql("p.q_emb", "a.embedding")} AS dot_fp,
         p.qn, a.norm_fp AS cn
  FROM probes p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.query_id
),
topk AS (
  SELECT query_id, neighbor_id, neighbor_label,
         CAST(dot_fp AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot_fp AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC,
                    neighbor_id
         ) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id, neighbor_label,
       ROUND(cosine, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM topk WHERE rn <= {TOP_K}
ORDER BY query_id, rank
""",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, the scale path: a DETERMINISTIC coarse quantizer —
    IVF_CELLS centers seeded from evenly-strided data points (the
    k-means++ step-0 bootstrap faiss uses before Lloyd iterations;
    at 100 TB the refinement pass is the q_embedding_centroids-style
    fixed-point mean, itself exactly reproducible). Candidates are
    assigned to their max-dot center and each query searches only its
    IVF_PROBES nearest cells — a cell-id equi-join replaces the
    all-pairs cross join.

    Assignment runs as an executor-local higher-order function over
    the broadcast 8-center array (no N×cells shuffle, no window over
    the corpus), so the plan is scan → project → broadcast-probe join:
    the exact shape that survives a 1000-executor 100 TB corpus.
    Fixed-point dots make assignment, probing, and ranking
    bit-identical in DuckDB — hash-checked against the oracle."""
    vecs = _vecs(spark, sf_dir)
    # one row holding all centers, broadcast: per-vector scoring is a
    # HOF over ≤ IVF_CELLS structs — executor-local, shuffle-free
    scored = vecs.crossJoin(F.broadcast(_ivf_centers_row(vecs))).withColumn(
        "scores", _ivf_scores()
    )
    assigned = scored.select(
        "vec_id",
        "label",
        "embedding",
        "norm_fp",
        _ivf_cell().alias("cell"),
    )
    probes = scored.filter(F.col("vec_id") < QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_fp").alias("qn"),
        F.explode(_ivf_probe_cells()).alias("cell"),
    )
    cand = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.col("norm_fp").alias("cn"),
        "cell",
    )
    pairs = F.broadcast(probes).join(cand, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _cosine(_dot_fp(F.col("q_emb"), F.col("c_emb")), F.col("qn"), F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", "neighbor_label", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


@register(
    "q_ann_ivf_delta",
    oracle=f"""
WITH {_VECS_CTE},
bounds AS (
  SELECT ((MAX(vec_id) + 1) * 4) // 5 AS split FROM vecs
),
params AS (
  SELECT split, GREATEST(split // {IVF_CELLS}, 1) AS stride FROM bounds
),
centers AS (
  SELECT CAST(v.vec_id // p.stride AS INT) AS cell, v.embedding AS center
  FROM vecs v, params p
  WHERE v.vec_id % p.stride = 0 AND v.vec_id < p.stride * {IVF_CELLS}
    AND v.vec_id < p.split
),
scored AS (
  SELECT v.vec_id, c.cell, {_dot_fp_sql("v.embedding", "c.center")} AS d
  FROM vecs v CROSS JOIN centers c
),
ranked AS (
  SELECT vec_id, cell, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
  FROM scored
),
assigned AS (
  SELECT r.cell, r.d, (r.vec_id >= p.split) AS is_delta
  FROM ranked r, params p WHERE rn = 1
),
cells AS (
  SELECT cell,
         CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS base_n,
         CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS delta_n,
         CAST(SUM(CASE WHEN is_delta THEN d ELSE 0 END) AS BIGINT)
           AS delta_fit_fp
  FROM assigned GROUP BY 1
),
tot AS (SELECT SUM(base_n + delta_n) AS n_all FROM cells)
SELECT cell, base_n, delta_n,
       CAST(base_n + delta_n AS BIGINT) AS total_n,
       CAST(((base_n + delta_n) * 1000000) // t.n_all AS BIGINT) AS share_ppm,
       delta_fit_fp
FROM cells, tot t
ORDER BY cell
""",
)
def q_ann_ivf_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index MAINTENANCE — the nightly companion to
    q_ann_ivf's full build (and the fourth leg of the maintenance
    family: index, dimension, aggregate, ANN): a delta batch of new
    vectors (the top 20% of the id space, standing in for today's
    embeddings) is absorbed into the STORED IVF index. The coarse
    quantizer is NOT retrained — centers derive from base-corpus seeds
    only — so the delta cost is one broadcast-HOF assignment pass over
    the new vectors; the base side is re-assigned only to reconstruct
    the stored posting-list sizes a real system would read back.

    Emits what the index maintainer monitors: per-cell posting sizes
    before/after (base_n, delta_n, total_n), the post-merge occupancy
    share (share_ppm — the rebalance trigger), and delta_fit_fp (the
    exact fixed-point sum of the new vectors' dots with their assigned
    centers — when new data drifts away from the old centroids this
    falls, which is the retrain signal; integer arithmetic, so it
    hash-checks instead of drifting like a float mean-cosine would).

    Scale shape: assignment is an executor-local HOF over the ONE-ROW
    broadcast center array (same as q_ann_ivf — no N×cells shuffle);
    the only aggregation is the |cells|-row conditional count; the
    occupancy share joins a one-row broadcast total. Zero
    non-broadcast joins, so the plan survives any corpus size."""
    vecs = _vecs(spark, sf_dir)
    # one row, referenced by the seed filter AND the delta flag —
    # checkpoint so the id-bound aggregation runs once, not per branch
    params = (
        vecs.agg(
            F.call_function(
                "div", (F.max("vec_id") + 1) * 4, F.lit(5)
            ).alias("split")
        )
        .select(
            "split",
            F.greatest(
                F.call_function("div", F.col("split"), F.lit(IVF_CELLS)),
                F.lit(1),
            ).alias("stride"),
        )
        .localCheckpoint(eager=True)
    )
    centers = (
        vecs.crossJoin(F.broadcast(params))
        .filter(
            (F.col("vec_id") % F.col("stride") == 0)
            & (F.col("vec_id") < F.col("stride") * IVF_CELLS)
            & (F.col("vec_id") < F.col("split"))
        )
        .select(
            F.floor(F.col("vec_id") / F.col("stride")).cast("int").alias("cell"),
            F.col("embedding").alias("center"),
        )
    )
    centers_row = centers.agg(
        F.array_sort(F.collect_list(F.struct("cell", "center"))).alias("cs")
    )
    best = F.array_max(
        F.transform(
            F.col("cs"),
            lambda c: F.struct(
                _dot_fp(F.col("embedding"), c["center"]).alias("d"),
                (-c["cell"]).alias("negcell"),
            ),
        )
    )
    assigned = (
        vecs.crossJoin(F.broadcast(centers_row))
        .crossJoin(F.broadcast(params.select("split")))
        .select(
            (-best["negcell"]).cast("int").alias("cell"),
            best["d"].alias("d"),
            (F.col("vec_id") >= F.col("split")).alias("is_delta"),
        )
    )
    is_d = F.col("is_delta").cast("long")
    # |cells| rows, read by the total AND the final select — eager
    # checkpoint so the corpus assignment pass runs exactly once
    cells = (
        assigned.groupBy("cell")
        .agg(
            F.sum(F.lit(1) - is_d).cast("long").alias("base_n"),
            F.sum(is_d).cast("long").alias("delta_n"),
            F.sum(F.when(F.col("is_delta"), F.col("d")).otherwise(0))
            .cast("long")
            .alias("delta_fit_fp"),
        )
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(F.sum(F.col("base_n") + F.col("delta_n")).alias("n_all"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "base_n",
            "delta_n",
            (F.col("base_n") + F.col("delta_n")).cast("long").alias("total_n"),
            exact_ppm(F.col("base_n") + F.col("delta_n"), F.col("n_all")).alias(
                "share_ppm"
            ),
            "delta_fit_fp",
        )
        .orderBy("cell")
    )


@register("q_dedup_minhash_mllib", oracle=None)
def q_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH twin of q_dedup_minhash_lsh: HashingTF over
    shingles → MinHashLSH.approxSimilarityJoin at Jaccard ≥ 0.5.
    Model-based hashes → Spark-only (rows-only driver check);
    tests assert it finds the same planted pairs as the hand-rolled
    LSH."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from .dedup import JACCARD_THRESHOLD, shingles

    sh = (
        shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("shingle_set"))
    )
    tf = HashingTF(
        inputCol="shingle_set", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(sh).filter(F.col("doc_id").isNotNull())
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1.0 - JACCARD_THRESHOLD, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            F.round(1.0 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
        .orderBy("d1", "d2")
    )


QUANT_LEVELS = 255


@register(
    "q_embedding_quantize",
    oracle=f"""
WITH m AS (
  SELECT vec_id,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(m.mn, 6) AS q_min,
       ROUND(m.mx, 6) AS q_max,
       array_to_string(list_transform(e.embedding, x ->
         CAST(FLOOR((CAST(x AS DOUBLE) - m.mn) * {QUANT_LEVELS}.0 / (m.mx - m.mn) + 0.5) AS INT)
       ), ',') AS q
FROM embeddings e JOIN m ON m.vec_id = e.vec_id
ORDER BY e.vec_id
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min/max int8-range quantization of the embedding
    column — the 4× storage-compression step before ANN indexing at
    100 TB. Pure per-row higher-order functions (array_min/max +
    transform): zero shuffles except the presentation sort. Rounding is
    FLOOR(x+0.5), exact on doubles, so both engines agree bit-for-bit
    (banker's-rounding `round` would not). The code vector is emitted
    as a comma-joined string (integers render identically in every
    engine) so the result schema is scalar-only — correctness harnesses
    that canonicalize by sorting raw cells cannot hash list cells."""
    e = load_table(spark, sf_dir, "embeddings")
    mn = F.array_min(F.col("embedding")).cast("double")
    mx = F.array_max(F.col("embedding")).cast("double")
    q = let(
        F.struct(mn.alias("mn"), mx.alias("mx")),
        lambda s: F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                (x.cast("double") - s["mn"]) * QUANT_LEVELS / (s["mx"] - s["mn"]) + 0.5
            ).cast("int"),
        ),
    )
    return e.select(
        "vec_id",
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
        F.concat_ws(",", q.cast("array<string>")).alias("q"),
    ).orderBy("vec_id")


# ------------------------------------------------ product quantization

PQ_SUBSPACES = 8  # 64-d → 8 subvectors of 8 dims
PQ_CODES = 64  # centroids per subspace → 6 bits/code
PQ_SHORTLIST = 50  # ADC shortlist size before the exact re-rank (10×TOP_K)
PQ_TRAIN_CAP = 4096  # codebook training sample bound (collect must not scale with corpus)
PQ_TRAIN_ITERS = 10
PQ_SEED = 7


def _pq_codebooks(vecs_np):
    """Per-subspace Lloyd k-means codebooks trained driver-side on the
    (sampled) vector matrix — the faiss shape: codebooks are model
    state learned on a sample, then broadcast. Deterministic: seeded
    init, fixed iteration count, ties to the lowest centroid id."""
    import numpy as np

    n, d = vecs_np.shape
    sub_d = d // PQ_SUBSPACES
    k_eff = min(PQ_CODES, n)  # degrade gracefully on tiny corpora
    rng = np.random.RandomState(PQ_SEED)
    books = []
    for m in range(PQ_SUBSPACES):
        X = vecs_np[:, m * sub_d : (m + 1) * sub_d]
        C = X[rng.choice(n, size=k_eff, replace=False)].copy()
        for _ in range(PQ_TRAIN_ITERS):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(k_eff):
                mask = assign == k
                if mask.any():
                    C[k] = X[mask].mean(axis=0)
        books.append(C)
    return books


@register("q_ann_pq", oracle=None)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the 100 TB STORAGE answer for vector
    search (faiss's PQ): each 64-d float vector compresses to 8
    6-bit codes (PQ_CODES=64 centroids per subspace; packed storage is
    6 bytes/vector vs 256 bytes of floats, a ~42x reduction — this
    demo keeps the codes as array<int> for plan readability and packs
    nothing) and queries score candidates through an
    asymmetric-distance lookup table (exact query subvector vs the
    candidate's centroid).

    Spark shape: codebooks are MODEL STATE trained driver-side on a
    bounded sample (PQ_TRAIN_CAP) and broadcast; candidate ENCODING is
    one Arrow-batched kernel over the candidate scan (runs once, never
    per query); SCORING is pure JVM — per-query LUTs (queries are a
    small set by construction) broadcast-join the codes and the ADC
    distance is a static 8-term element_at sum inside codegen. The
    candidate universe is every vector except the query itself — the
    SAME universe as q_ann_bruteforce, so recall compares like for
    like. Candidates never shuffle; per-query top-k is the same
    ranking window as q_ann_bruteforce. Model-based -> rows-only
    driver check; tests/test_llm_ops.py bounds recall vs the exact
    brute force."""
    import numpy as np
    import pandas as pd

    vecs = _vecs(spark, sf_dir)
    # L2-normalize everything: on the unit sphere ||a-b||^2 = 2-2cos,
    # so ADC's L2 ranking matches the brute-force cosine ranking.
    # Codebooks train on a BOUNDED deterministic sample (the PQ_TRAIN_CAP
    # lowest vec_ids) — at corpus scale the training collect must not
    # grow with the data; faiss trains the same way.
    sample = np.stack(
        [
            np.asarray(r.embedding, dtype=np.float64)
            for r in vecs.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(PQ_TRAIN_CAP)
            .collect()
        ]
    )
    sample = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    books = _pq_codebooks(sample)
    bbooks = spark.sparkContext.broadcast([b.tolist() for b in books])
    sub_d = sample.shape[1] // PQ_SUBSPACES

    cands = vecs.select("vec_id", "label", "embedding")

    def encode(batches):
        C = [np.asarray(b) for b in bbooks.value]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            X = X / np.linalg.norm(X, axis=1, keepdims=True)
            codes = np.empty((len(pdf), PQ_SUBSPACES), dtype=np.int32)
            for m in range(PQ_SUBSPACES):
                Xm = X[:, m * sub_d : (m + 1) * sub_d]
                d2 = ((Xm[:, None, :] - C[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "codes": list(codes),
                }
            )

    coded = cands.mapInPandas(
        encode, schema="vec_id long, label int, codes array<int>"
    )

    # Per-query ADC lookup tables: built EXECUTOR-SIDE by the same
    # Arrow-batched pattern as encoding — the query batch is a bounded
    # DataFrame (QUERY_LIMIT rows), the codebooks ride the existing
    # broadcast, and nothing funnels through the driver (the result is
    # a QUERY_LIMIT × (PQ_SUBSPACES·PQ_CODES doubles) table, broadcast
    # to the scoring join below).
    def build_luts(batches):
        C = [np.asarray(b) for b in bbooks.value]
        for pdf in batches:
            if not len(pdf):
                continue
            ids, tables = [], []
            for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
                q = np.asarray(emb, dtype=np.float64)
                q = q / np.linalg.norm(q)
                # Every subspace block is PQ_CODES wide even when the
                # codebook degraded to k_eff < PQ_CODES centroids (tiny
                # corpora): the unused tail pads with +inf, codes never
                # reference it, and the fixed m*PQ_CODES stride in the
                # scoring expression stays valid.
                blocks = []
                for m in range(PQ_SUBSPACES):
                    d2 = (
                        (q[m * sub_d : (m + 1) * sub_d][None, :] - C[m]) ** 2
                    ).sum(axis=1)
                    block = np.full(PQ_CODES, np.inf)
                    block[: d2.size] = d2
                    blocks.append(block)
                ids.append(vid)
                tables.append(np.concatenate(blocks).tolist())
            yield pd.DataFrame({"query_id": ids, "lut": tables})

    luts = (
        vecs.filter(F.col("vec_id") < QUERY_LIMIT)
        .select("vec_id", "embedding")
        .mapInPandas(build_luts, schema="query_id long, lut array<double>")
    )

    # ADC distance = sum over subspaces of lut[m*PQ_CODES + code_m]:
    # a static 8-term element_at sum, evaluated inside codegen.
    dist = None
    for m in range(PQ_SUBSPACES):
        term = F.element_at(
            "lut", F.col("codes")[m] + F.lit(m * PQ_CODES) + F.lit(1)
        )
        dist = term if dist is None else dist + term
    scored = (
        coded.crossJoin(F.broadcast(luts))
        .filter(F.col("vec_id") != F.col("query_id"))  # self is not a neighbor
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            dist.alias("adc_dist"),
        )
    )
    # Stage 2 — exact re-rank (faiss's "refine"): ADC keeps only a
    # PQ_SHORTLIST-deep shortlist per query (the lossy-but-cheap scan
    # over 8-byte codes), then the shortlist — queries × 50 rows,
    # independent of corpus size — re-scores with the exact
    # fixed-point cosine and the final top-k ranks on that.
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    shortlist = (
        scored.withColumn("srk", F.row_number().over(w_adc))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id", "neighbor_label", "adc_dist")
    )
    n_emb = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm_fp").alias("n_norm_fp"),
    )
    q_emb = vecs.filter(F.col("vec_id") < QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_fp").alias("q_norm_fp"),
    )
    exact = (
        shortlist.join(n_emb, "neighbor_id")
        .join(F.broadcast(q_emb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            "adc_dist",
            _cosine(
                _dot_fp(F.col("q_emb"), F.col("n_emb")),
                F.col("q_norm_fp"),
                F.col("n_norm_fp"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------- fixed-point PQ (oracleable)

PQF_SCALE = 1_000_000  # fixed-point image: floor(x * 1e6) per component
_PQF_SUB_D = 64 // PQ_SUBSPACES


def _pqf_fpv(col: Column) -> Column:
    """array<long> fixed-point image of a float vector — the same
    floor(x · scale) discipline as _dot_fp, applied per component so
    SQUARED DISTANCES become exact integer arithmetic both engines
    reproduce bit-for-bit."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * PQF_SCALE).cast("long")
    )


def _pqf_sub(a: Column, m: int) -> Column:
    return F.slice(a, m * _PQF_SUB_D + 1, _PQF_SUB_D)


def _pqf_d2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pqf_d2_sql(a: str, b: str, m: str) -> str:
    t = f"({a}[{m} * {_PQF_SUB_D} + i] - {b}[{m} * {_PQF_SUB_D} + i])"
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {_PQF_SUB_D}), "
        f"i -> {t} * {t})) AS BIGINT)"
    )


def _pqf_codebook_row(fp: DataFrame) -> DataFrame:
    """ONE row holding the deterministic sample codebook (the PQ_CODES
    lowest-vec_id fixed-point vectors, position = code ordinal) —
    broadcast so encoding/LUT building are shuffle-free HOFs. Shared
    by q_ann_pq_fixed and the IVF-PQ composition."""
    return (
        fp.filter(F.col("vec_id") < PQ_CODES)
        .select(F.col("vec_id").cast("int").alias("j"), "fpv")
        .agg(F.sort_array(F.collect_list(F.struct("j", "fpv"))).alias("cb"))
    )


def _pqf_codebook_np(fp: DataFrame) -> list:
    """Driver-side fixed-point codebook, list position = code ordinal
    (vec_id order — identical to _pqf_codebook_row's sort_array).
    BOUNDED collect: at most PQ_CODES (=64) rows by construction, the
    same bounded-model-state discipline as q_ann_pq's PQ_TRAIN_CAP
    sample — the codebook IS model state, and faiss holds it driver-
    side the same way."""
    rows = (
        fp.filter(F.col("vec_id") < PQ_CODES)
        .select(F.col("vec_id").cast("int").alias("j"), "fpv")
        .orderBy("j")
        .collect()
    )
    return [list(r.fpv) for r in rows]


def _pqf_codes_np(X, C):
    """(n, PQ_SUBSPACES) code matrix — the exact-int64 argmin of the
    fused-scoring kernel, bit-identical to the HOF form (_pqf_codes):
    the squares are bounded by SUB_D·(2·PQF_SCALE)² ≈ 3.2e13 ≪ 2^63 so
    numpy int64 arithmetic is exact, and np.argmin's first-minimum tie
    rule == array_min's lowest-ordinal rule."""
    import numpy as np

    codes = np.empty((X.shape[0], PQ_SUBSPACES), dtype=np.int64)
    for m in range(PQ_SUBSPACES):
        lo, hi = m * _PQF_SUB_D, (m + 1) * _PQF_SUB_D
        d = X[:, None, lo:hi] - C[None, :, lo:hi]
        codes[:, m] = (d * d).sum(axis=2).argmin(axis=1)
    return codes


_PQF_SCORE_SCHEMA = "query_id long, neighbor_id long, neighbor_label int, adc_dist long"


def _pqf_score_op(bC, bQ, has_cell: bool):
    """Fused encode + ADC scoring kernel (guide §4.2 — one Arrow pass
    instead of encode kernel → broadcast-LUT crossJoin → static HOF
    sum). ``bQ.value`` is the bounded query list
    [(query_id, query_fpv, probe_cells_or_None)]; each task builds the
    per-query LUTs once from the broadcast codebook (exact int64:
    every d² is ≤ SUB_D·(2·PQF_SCALE)² ≈ 3.2e13 and an ADC sum of
    PQ_SUBSPACES of them stays ≪ 2^63) and emits the (query,
    candidate) ADC rows for candidates in the query's probe set (all
    candidates when probes is None). Bit-identical to the HOF twin
    (_pqf_codes + _pqf_lut + _pqf_adc — kept as the executable spec,
    pinned by tests/test_llm_ops.py): same codes (shared argmin
    helper), same lut entries, same integer sums, same self-pair
    exclusion, and the empty-codebook degenerate case yields NULL
    adc_dist exactly like element_at over an empty lut. The HOF form
    cost ~2.5 s/run of Catalyst/codegen FIXED cost at any data size
    (512 nested aggregate lambdas in _pqf_lut alone); the kernel's
    plan is one MapInPandas node."""
    import numpy as np
    import pandas as pd

    def op(batches):
        C = Q = None
        for pdf in batches:
            if not len(pdf):
                continue
            if C is None:
                C = np.asarray(bC.value, dtype=np.int64)
                if C.size:
                    C = C.reshape(len(bC.value), -1)
                Q = []
                for qid, qfpv, probes in bQ.value:
                    lut = None
                    if C.size:
                        q = np.asarray(qfpv, dtype=np.int64)
                        lut = np.stack(
                            [
                                (
                                    (
                                        q[None, m * _PQF_SUB_D:(m + 1) * _PQF_SUB_D]
                                        - C[:, m * _PQF_SUB_D:(m + 1) * _PQF_SUB_D]
                                    )
                                    ** 2
                                ).sum(axis=1)
                                for m in range(PQ_SUBSPACES)
                            ]
                        )
                    pr = None if probes is None else np.asarray(probes, dtype=np.int64)
                    Q.append((qid, lut, pr))
            vid = pdf["vec_id"].to_numpy()
            lab = pdf["label"].to_numpy()
            cell = pdf["cell"].to_numpy() if has_cell else None
            codes = None
            if C.size:
                X = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["fpv"]])
                codes = _pqf_codes_np(X, C)
            sub = np.arange(PQ_SUBSPACES)
            outs = []
            for qid, lut, probes in Q:
                mask = vid != qid
                if probes is not None:
                    mask &= np.isin(cell, probes)
                n = int(mask.sum())
                if not n:
                    continue
                adc = (
                    pd.array([None] * n, dtype="Int64")
                    if lut is None
                    else lut[sub[None, :], codes[mask]].sum(axis=1)
                )
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(n, qid, dtype=np.int64),
                            "neighbor_id": vid[mask],
                            "neighbor_label": lab[mask],
                            "adc_dist": adc,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return op


def _pqf_score(
    spark: SparkSession, fp: DataFrame, cand: DataFrame, qrows: list
) -> DataFrame:
    """ADC-score `cand` (vec_id, label[, cell], fpv) against the
    bounded codebook from `fp` for the bounded query list `qrows`
    ([(query_id, fpv, probe_cells_or_None)], ≤ QUERY_LIMIT entries —
    the same bounded-model-state collect discipline as the codebook)."""
    bC = spark.sparkContext.broadcast(_pqf_codebook_np(fp))
    bQ = spark.sparkContext.broadcast(qrows)
    return cand.mapInPandas(
        _pqf_score_op(bC, bQ, has_cell="cell" in cand.columns),
        schema=_PQF_SCORE_SCHEMA,
    )


def _pqf_code(m: int) -> Column:
    """Subspace-m code (codebook ordinal) of the row's `fpv` against
    the broadcast `cb` column: HOF argmin of exact integer d², ties to
    the lowest ordinal (lexicographic struct-min, both engines)."""
    return F.array_min(
        F.transform(
            F.col("cb"),
            lambda c, i: F.struct(
                _pqf_d2(_pqf_sub(F.col("fpv"), m), _pqf_sub(c["fpv"], m)).alias("d"),
                i.cast("int").alias("p"),
            ),
        )
    )["p"]


def _pqf_codes() -> Column:
    return F.array(*[_pqf_code(m) for m in range(PQ_SUBSPACES)])


def _pqf_lut() -> Column:
    """Per-query flattened ADC lookup table: d²(query_sub_m, code_sub_m)
    for every (m, code) pair, over the broadcast `cb` column.

    `m` binds via an inner function, NOT a lambda default parameter —
    F.transform counts parameters, so `lambda c, _m=m:` becomes the
    two-arg (element, index) form and the array INDEX silently
    overwrites the bound subspace."""

    def block(m: int) -> Column:
        return F.transform(
            F.col("cb"),
            lambda c: _pqf_d2(_pqf_sub(F.col("fpv"), m), _pqf_sub(c["fpv"], m)),
        )

    return F.flatten(F.array(*[block(m) for m in range(PQ_SUBSPACES)]))


def _pqf_adc() -> Column:
    """Static PQ_SUBSPACES-term ADC distance: element_at the per-query
    `lut` by the candidate's `codes` ordinals. The per-subspace block
    stride is DERIVED from the lut length (|codebook| entries per
    block), not assumed to be PQ_CODES — a sparse vec_id space yields
    a smaller codebook, and a fixed stride would silently read the
    wrong block while the ordinal-join oracle stayed correct."""
    stride = (F.size(F.col("lut")) / F.lit(PQ_SUBSPACES)).cast("int")
    adc = None
    for m in range(PQ_SUBSPACES):
        term = F.element_at(
            "lut", F.col("codes")[m] + stride * F.lit(m) + F.lit(1)
        )
        adc = term if adc is None else adc + term
    return adc


@register(
    "q_ann_pq_fixed",
    oracle=f"""
WITH {_VECS_CTE},
fp AS (
  SELECT vec_id, label, embedding, norm_fp,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {PQF_SCALE}.0) AS BIGINT)) AS fpv
  FROM vecs
),
cb AS (
  SELECT vec_id AS j,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS p,
         fpv
  FROM fp WHERE vec_id < {PQ_CODES}
),
codes AS (
  SELECT f.vec_id, g.m,
         MIN({{'d': {_pqf_d2_sql('f.fpv', 'c.fpv', 'g.m')}, 'p': c.p}}) AS mc
  FROM fp f, cb c,
       (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1})) AS m) g
  GROUP BY 1, 2
),
adc AS (
  SELECT q.vec_id AS query_id, k.vec_id AS neighbor_id,
         CAST(SUM({_pqf_d2_sql('q.fpv', 'c.fpv', 'k.m')}) AS BIGINT)
           AS adc_dist
  FROM (SELECT vec_id, fpv FROM fp WHERE vec_id < {QUERY_LIMIT}) q,
       codes k JOIN cb c ON c.p = k.mc.p
  WHERE k.vec_id <> q.vec_id
  GROUP BY 1, 2
),
sl AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS srk
  FROM adc
),
ex AS (
  SELECT s.query_id, s.neighbor_id, c.label AS neighbor_label,
         CAST({_dot_fp_sql("q.embedding", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.norm_fp AS DOUBLE)) * sqrt(CAST(c.norm_fp AS DOUBLE)))
           AS cosine
  FROM sl s
  JOIN fp c ON c.vec_id = s.neighbor_id
  JOIN fp q ON q.vec_id = s.query_id
  WHERE s.srk <= {PQ_SHORTLIST}
),
ranked AS (
  SELECT query_id, neighbor_id, neighbor_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM ex
)
SELECT query_id, neighbor_id, neighbor_label,
       ROUND(cosine, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {TOP_K}
ORDER BY query_id, rank
""",
)
def q_ann_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with a DETERMINISTIC FIXED-POINT codebook —
    the oracleable twin of q_ann_pq: same two-stage plan (ADC shortlist
    over compressed codes → exact fixed-point cosine re-rank), but the
    codebook is the PQ_CODES lowest-vec_id vectors' subvectors (a
    sample codebook — k-means iteration zero, faiss's own init) held in
    fixed-point (floor(x·1e6) per component), so code assignment and
    ADC distances are exact INTEGER arithmetic both engines replicate
    bit-for-bit and the driver hash check covers the full PQ pipeline
    end to end (q_ann_pq stays registered as the trained-float-kmeans
    variant whose model step no SQL engine can mirror — that pair is
    the documented trade: training quality vs provable reproducibility).

    Codes are codebook ORDINALS (position in vec_id order, not raw
    ids), so nothing assumes dense vec_ids; ties in code assignment
    break to the lowest ordinal in both engines (lexicographic
    struct-min — Spark array_min == DuckDB MIN({{'d',...,'p'...}})).

    Spark shape: the codebook is bounded MODEL STATE (≤ PQ_CODES = 64
    rows) collected once and broadcast — the same discipline as
    q_ann_pq's PQ_TRAIN_CAP training sample; candidate ENCODING is one
    Arrow-batched exact-int64 kernel over the candidate scan (zero
    shuffle — candidates never move; the r13 optimization round
    replaced the per-candidate HOF argmin, whose interpreted lambda
    evaluation cost ~1 ms/row outside whole-stage codegen, with the
    vectorized kernel at identical bits — see _pqf_codes_np);
    per-query ADC lookup tables stay in-row JVM HOFs over the bounded
    query batch; SCORING is the same static 8-term element_at sum as
    q_ann_pq; the shortlist and exact re-rank reuse the brute-force
    cosine machinery. At 100 TB the candidate side is a scan of stored
    codes (6 bits × 8 per vector), queries broadcast, and the only
    shuffle is the per-query top-k window over queries × PQ_SHORTLIST
    survivor rows."""
    fp = (
        _vecs(spark, sf_dir)
        .select(
            "vec_id", "label", "embedding", "norm_fp",
            _pqf_fpv(F.col("embedding")).alias("fpv"),
        )
        # four consumers (codebook collect, encode, LUTs, exact
        # re-rank) — materialize the scan + fixed-point image once
        .localCheckpoint(eager=True)
    )
    # Fused encode + ADC kernel over the candidate scan (r13 opt round,
    # stage 2): the previous shape — encode kernel, then a broadcast
    # LUT crossJoin whose _pqf_lut column is 512 nested aggregate
    # lambdas, then the static _pqf_adc sum — was ~90% per-execution
    # Catalyst/codegen FIXED cost (measured flat 3.3-3.6 s from sf0.01
    # to sf0.1). Queries are a bounded collect (vec_id < QUERY_LIMIT,
    # same discipline as the codebook); the HOF twin is kept below as
    # the executable spec, bit-identity pinned by test.
    qrows = [
        (r.vec_id, list(r.fpv), None)
        for r in fp.filter(F.col("vec_id") < QUERY_LIMIT)
        .select("vec_id", "fpv")
        .collect()
    ]
    scored = _pqf_score(spark, fp, fp.select("vec_id", "label", "fpv"), qrows)
    return _pqf_shortlist_rerank(scored, fp)


def _pqf_shortlist_rerank(scored: DataFrame, fp: DataFrame) -> DataFrame:
    """ADC shortlist (top PQ_SHORTLIST by compressed distance) → exact
    fixed-point cosine re-rank → top TOP_K. Shared by q_ann_pq_fixed
    and the IVF-PQ composition; `scored` carries (query_id,
    neighbor_id, neighbor_label, adc_dist)."""
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    shortlist = (
        scored.withColumn("srk", F.row_number().over(w_adc))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id", "neighbor_label")
    )
    n_emb = fp.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm_fp").alias("n_norm_fp"),
    )
    q_emb = fp.filter(F.col("vec_id") < QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_fp").alias("q_norm_fp"),
    )
    exact = (
        shortlist.join(n_emb, "neighbor_id")
        .join(F.broadcast(q_emb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            _cosine(
                _dot_fp(F.col("q_emb"), F.col("n_emb")),
                F.col("q_norm_fp"),
                F.col("n_norm_fp"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


@register(
    "q_ann_ivf_pq_fixed",
    oracle=f"""
WITH {_VECS_CTE},
fp AS (
  SELECT vec_id, label, embedding, norm_fp,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {PQF_SCALE}.0) AS BIGINT)) AS fpv
  FROM vecs
),
params AS (
  SELECT GREATEST((MAX(vec_id) + 1) // {IVF_CELLS}, 1) AS stride FROM vecs
),
centers AS (
  SELECT CAST(v.vec_id // p.stride AS INT) AS cell, v.embedding AS center
  FROM vecs v, params p
  WHERE v.vec_id % p.stride = 0 AND v.vec_id < p.stride * {IVF_CELLS}
),
cscored AS (
  SELECT v.vec_id, c.cell,
         {_dot_fp_sql("v.embedding", "c.center")} AS d
  FROM vecs v CROSS JOIN centers c
),
cranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
  FROM cscored
),
assigned AS (SELECT vec_id, cell FROM cranked WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cell
  FROM cranked WHERE rn <= {IVF_PROBES} AND vec_id < {QUERY_LIMIT}
),
cb AS (
  SELECT vec_id AS j,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS p,
         fpv
  FROM fp WHERE vec_id < {PQ_CODES}
),
codes AS (
  SELECT f.vec_id, g.m,
         MIN({{'d': {_pqf_d2_sql('f.fpv', 'c.fpv', 'g.m')}, 'p': c.p}}) AS mc
  FROM fp f, cb c,
       (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1})) AS m) g
  GROUP BY 1, 2
),
adc AS (
  SELECT p.query_id, k.vec_id AS neighbor_id,
         CAST(SUM({_pqf_d2_sql('q.fpv', 'c.fpv', 'k.m')}) AS BIGINT)
           AS adc_dist
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN cb c ON c.p = k.mc.p
  JOIN fp q ON q.vec_id = p.query_id
  WHERE k.vec_id <> p.query_id
  GROUP BY 1, 2
),
sl AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS srk
  FROM adc
),
ex AS (
  SELECT s.query_id, s.neighbor_id, c.label AS neighbor_label,
         CAST({_dot_fp_sql("q.embedding", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.norm_fp AS DOUBLE)) * sqrt(CAST(c.norm_fp AS DOUBLE)))
           AS cosine
  FROM sl s
  JOIN fp c ON c.vec_id = s.neighbor_id
  JOIN fp q ON q.vec_id = s.query_id
  WHERE s.srk <= {PQ_SHORTLIST}
),
ranked AS (
  SELECT query_id, neighbor_id, neighbor_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM ex
)
SELECT query_id, neighbor_id, neighbor_label,
       ROUND(cosine, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {TOP_K}
ORDER BY query_id, rank
""",
)
def q_ann_ivf_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the billion-scale ANN architecture (faiss
    IVFPQ): the coarse quantizer PARTITIONS the corpus so a query
    touches only IVF_PROBES of IVF_CELLS inverted lists, and product
    quantization COMPRESSES what it touches so the touched bytes are
    codes, not vectors. Both stages are this repo's deterministic
    oracleable variants (strided-seed centers from q_ann_ivf, the
    fixed-point sample codebook from q_ann_pq_fixed; codes on raw
    vectors, i.e. faiss's by_residual=False mode — residual encoding
    needs per-cell codebook arithmetic the exact-integer image cannot
    mirror without per-cell LUT tables), so the ENTIRE composed
    pipeline hash-checks end to end: assignment, probing, encoding,
    ADC shortlist, exact re-rank.

    What the composition buys over its parents (pinned by test): the
    ADC scoring universe shrinks from every coded vector
    (q_ann_pq_fixed) to the probed cells' posting lists — at 100 TB
    the difference between scanning the full code table and reading
    probes/cells of it — while recall vs the brute-force baseline
    stays within the shortlist's reach because the exact re-rank
    repairs ADC quantization error inside the probed universe.

    Spark shape: the coarse quantizer rides a broadcast one-row frame
    (centers) and assignment is a per-row HOF; the PQ codebook is the
    bounded broadcast model state of q_ann_pq_fixed, and encoding is
    the same Arrow-batched exact-int64 kernel (candidates never
    shuffle; the r13 optimization round swapped the interpreted HOF
    argmin for the kernel at identical bits and checkpointed the
    twice-referenced scored frame); the probe is a cell-id equi-join
    of the broadcast query batch against the coded posting lists; the
    only data-sized shuffle is the per-query shortlist window over
    probed survivors."""
    vecs = _vecs(spark, sf_dir)
    fp = (
        vecs.select(
            "vec_id", "label", "embedding", "norm_fp",
            _pqf_fpv(F.col("embedding")).alias("fpv"),
        )
        .localCheckpoint(eager=True)
    )
    # two consumers (coded, probe_luts) of the center-scored frame —
    # materialize so the per-row center scoring runs once
    scored = (
        fp.crossJoin(F.broadcast(_ivf_centers_row(fp)))
        .withColumn("scores", _ivf_scores())
        .localCheckpoint(eager=True)
    )
    # Fused encode + probe-filtered ADC kernel (r13 opt round, stage
    # 2 — same rationale as q_ann_pq_fixed): per-query probe cells ride
    # the bounded query collect instead of a broadcast LUT join whose
    # _pqf_lut column dominated the run as Catalyst/codegen fixed cost.
    # Cell assignment stays a JVM HOF over the checkpointed
    # center-scored frame (it runs once and its tree is small).
    qrows = [
        (r.vec_id, list(r.fpv), list(r.probes))
        for r in scored.filter(F.col("vec_id") < QUERY_LIMIT)
        .select("vec_id", "fpv", _ivf_probe_cells().alias("probes"))
        .collect()
    ]
    cand = scored.select("vec_id", "label", _ivf_cell().alias("cell"), "fpv")
    pairs = _pqf_score(spark, fp, cand, qrows)
    return _pqf_shortlist_rerank(pairs, fp)


# ------------------------------------------------- label centroids

CENTROID_SCALE = 1_000_000


@register(
    "q_embedding_centroids",
    oracle=f"""
WITH ex AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT) AS v
  FROM embeddings
),
comp AS (
  SELECT label, pos, SUM(v) AS s, COUNT(*) AS n
  FROM ex GROUP BY 1, 2
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       array_to_string(
         list(CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY pos), ','
       ) AS centroid_fp
FROM comp
GROUP BY label
ORDER BY label
""",
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids) — the aggregation
    behind semantic clustering, IVF coarse training, and
    label-prototype classification over the corpus. Mean of float
    vectors is partition-order-dependent in raw doubles, so each
    component goes through the fixed-point image first (compat rules):
    the sums are exact BIGINTs and the single final division is
    bit-reproducible.

    Shape: posexplode to (label, pos) — 64× row fan-out but the
    shuffle key (label, pos) is uniformly distributed and the partial
    aggregation combines map-side, so the exchange carries one row per
    (label, pos) per task, NOT the fan-out. Reassembly is a dim-sized
    (labels × 64) collect_list.

    The centroid is emitted as a comma-joined string of the exact
    fixed-point components (units of 1/CENTROID_SCALE): integers render
    identically in every engine, and the scalar-only schema keeps
    raw-cell-sorting correctness harnesses from choking on list cells.
    Divide each component by CENTROID_SCALE to recover the float mean."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        "pos",
        F.floor(F.col("x").cast("double") * CENTROID_SCALE).cast("long").alias("v"),
    )
    comp = ex.groupBy("label", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # Floor-divide in fixed-point and STAY there: the mean is an exact
    # BIGINT, so there is no round() whose half-way tie-breaking differs
    # between engines (Spark HALF_UP vs DuckDB — observed divergence at
    # the 6th decimal) and no double-to-string formatting divergence in
    # the serialized output. floor(s/n) is exact: the true quotient is
    # ≥ 1/n away from any other integer, far beyond double ULP here.
    mean_fp = F.floor(F.col("s") / F.col("n")).cast("long")
    return (
        comp.select("label", "pos", "n", mean_fp.alias("m"))
        .groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vectors"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda t: t["m"].cast("string"),
                ),
            ).alias("centroid_fp"),
        )
        .orderBy("label")
    )


# ------------------------------------------- centroid-distance outliers

OUTLIER_TOP_K = 3


@register(
    "q_embedding_outliers",
    oracle=f"""
WITH ex AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT) AS v,
         vec_id
  FROM embeddings
),
comp AS (
  SELECT label, pos,
         CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM ex GROUP BY 1, 2
),
dist AS (
  SELECT e.vec_id, e.label,
         CAST(SUM((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS dist2_fp
  FROM ex e JOIN comp c ON c.label = e.label AND c.pos = e.pos
  GROUP BY 1, 2
),
med AS (
  SELECT vec_id, label, dist2_fp,
         row_number() OVER (PARTITION BY label ORDER BY dist2_fp, vec_id) AS rn,
         row_number() OVER (PARTITION BY label ORDER BY dist2_fp DESC, vec_id) AS rn_desc,
         COUNT(*) OVER (PARTITION BY label) AS cnt
  FROM dist
),
m2 AS (
  SELECT label, dist2_fp AS med_fp
  FROM med WHERE rn = CAST(CEIL(cnt / 2.0) AS BIGINT)
)
SELECT d.vec_id, d.label, d.dist2_fp, m.med_fp,
       CAST(FLOOR(CAST(d.dist2_fp AS DOUBLE) * 1000000 / m.med_fp) AS BIGINT) AS ratio_ppm
FROM med d JOIN m2 m ON m.label = d.label
WHERE d.rn_desc <= {OUTLIER_TOP_K}
ORDER BY d.label, d.dist2_fp DESC, d.vec_id
""",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel/outlier detection: the {OUTLIER_TOP_K} vectors per
    label FARTHEST from their own label centroid, with their distance
    as a ratio to the label's median — the embedding-space
    data-cleaning screen run before training on labeled corpora
    (rank-based rather than a fixed factor: isotropic synthetic
    embeddings concentrate so tightly that no factor threshold fires,
    and real screens cut a top fraction anyway). EVERYTHING is exact integer:
    fixed-point components, floor-divided centroid, integer squared
    distances, and a lower-middle-element median (rank-picked, never
    an accumulated average) — so the flagged set is bit-deterministic
    at any partitioning.

    Shape: the (label, pos) centroid aggregate (one shuffle, map-side
    combined) re-joins the exploded vectors on the same (label, pos)
    key; the per-vector distance aggregate and the median window both
    run on label — one hash family, dimension-bounded windows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.floor(F.col("x").cast("double") * CENTROID_SCALE).cast("long").alias("v"),
    )
    comp = ex.groupBy("label", "pos").agg(
        F.floor(F.sum("v") / F.count(F.lit(1))).cast("long").alias("c")
    )
    dist = (
        ex.join(F.broadcast(comp), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).cast("long").alias("dist2_fp"))
    )
    w = Window.partitionBy("label").orderBy("dist2_fp", "vec_id")
    w_desc = Window.partitionBy("label").orderBy(F.desc("dist2_fp"), "vec_id")
    wc = Window.partitionBy("label")
    med = dist.select(
        "vec_id",
        "label",
        "dist2_fp",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(w_desc).alias("rn_desc"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    # lower-middle pick for odd counts, lower of the two middles for
    # even (rank ⌈cnt/2⌉) — an ELEMENT of the set, never an average
    m2 = (
        med.filter(F.col("rn") == F.ceil(F.col("cnt") / 2))
        .select("label", F.col("dist2_fp").alias("med_fp"))
    )
    return (
        med.filter(F.col("rn_desc") <= OUTLIER_TOP_K)
        .join(F.broadcast(m2), "label")
        .select(
            "vec_id",
            "label",
            "dist2_fp",
            "med_fp",
            F.floor(F.col("dist2_fp").cast("double") * 1_000_000 / F.col("med_fp"))
            .cast("long")
            .alias("ratio_ppm"),
        )
        .orderBy("label", F.desc("dist2_fp"), "vec_id")
    )


# --------------------------------------------------- SRP-LSH (signed
# random projection) ANN — the TRAINING-FREE scale path: IVF needs a
# quantizer fit and PQ a codebook; SRP needs only SRP_NBITS fixed
# hyperplanes, so it is the variant that works on day zero of a new
# embedding space (and the classic cosine-LSH of Charikar 2002).
SRP_TABLES = 8  # hash tables (bands)
SRP_BAND_BITS = 6  # bits per table
SRP_NBITS = SRP_TABLES * SRP_BAND_BITS  # 48 hyperplanes


def _srp_planes() -> list[list[int]]:
    """SRP_NBITS Rademacher (±1) hyperplanes over the 64 dims,
    derived from md5 of fixed strings — deterministic CONSTANTS, so
    both engines inline the identical literal table and no per-row
    hashing happens anywhere (unlike minhash, the random tape here is
    O(bits·dims), not O(corpus))."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"srp-{b}-{d}".encode()).digest()[0] & 1 else -1
            for d in range(64)
        ]
        for b in range(SRP_NBITS)
    ]


_SRP_PLANES = _srp_planes()
# compact in-plan encoding: one '+'/'-' char per component (see the
# plan-size note in q_ann_srp_lsh)
_SRP_PLANE_STRS = [
    "".join("+" if v == 1 else "-" for v in row) for row in _SRP_PLANES
]


def _srp_oracle() -> str:
    planes_rows = ",\n    ".join(
        f"({b}, {row})" for b, row in enumerate(_SRP_PLANES)
    )
    return f"""
WITH {_VECS_CTE},
tfp AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {DOT_SCALE}.0) AS BIGINT)) AS t
  FROM vecs
),
planes(b, r) AS (VALUES
    {planes_rows}
),
bits AS (
  SELECT vec_id, b,
         CASE WHEN CAST(list_sum(list_transform(generate_series(1, 64),
                i -> t[i] * r[i])) AS BIGINT) >= 0 THEN 1 ELSE 0 END AS bit
  FROM tfp CROSS JOIN planes
),
bitsl AS (
  SELECT vec_id, list(bit ORDER BY b) AS bits FROM bits GROUP BY vec_id
),
bands AS (
  SELECT vec_id, j.j AS band,
         CAST(list_reduce(bits[j.j * {SRP_BAND_BITS} + 1 : (j.j + 1) * {SRP_BAND_BITS}],
              (acc, x) -> acc * 2 + x) AS BIGINT) AS val
  FROM bitsl CROSS JOIN (SELECT unnest(generate_series(0, {SRP_TABLES - 1})) AS j) j
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bands q
  JOIN bands c ON c.band = q.band AND c.val = q.val
  WHERE q.vec_id < {QUERY_LIMIT} AND c.vec_id <> q.vec_id
),
pairs AS (
  SELECT cd.query_id, cd.neighbor_id, v2.label AS neighbor_label,
         {_dot_fp_sql("v1.embedding", "v2.embedding")} AS dot_fp,
         v1.norm_fp AS qn, v2.norm_fp AS cn
  FROM cand cd
  JOIN vecs v1 ON v1.vec_id = cd.query_id
  JOIN vecs v2 ON v2.vec_id = cd.neighbor_id
),
topk AS (
  SELECT query_id, neighbor_id, neighbor_label,
         CAST(dot_fp AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(dot_fp AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) DESC,
                    neighbor_id
         ) AS rn
  FROM pairs
)
SELECT query_id, neighbor_id, neighbor_label,
       ROUND(cosine, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM topk WHERE rn <= {TOP_K}
ORDER BY query_id, rank
"""


@register("q_ann_srp_lsh", oracle=_srp_oracle())
def q_ann_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN by signed-random-projection LSH (cosine LSH, Charikar
    2002): SRP_NBITS fixed Rademacher hyperplanes → per-vector sign
    bits → SRP_TABLES band keys; candidates are vectors sharing ANY
    band with the query, re-ranked by exact fixed-point cosine.
    Completes the ANN family as the TRAINING-FREE bucketed path
    (brute force = exact baseline, IVF = trained quantizer, PQ =
    compressed storage, SRP = zero-state hashing).

    Scale shape: the signature stage is a pure per-row map (the
    hyperplanes are compile-time literals broadcast inside the plan —
    no random tape to ship, no per-row md5); the bands frame carries
    only (vec_id, band, val); the query side of the band join is
    QUERY_LIMIT·SRP_TABLES rows → broadcast, so the corpus never
    shuffles — scan → hash-probe → per-query top-K window over
    candidates ∝ true collisions. Bit-identical across engines
    because the sign test runs on per-element fixed-point integers
    (floor(x·1e12)) — float dot signs near zero would be
    summation-order-dependent; int64 sums are not.

    Plan-size note: the hyperplanes enter the plan as 48 compact
    sign STRINGS decoded by a HOF on a broadcast one-row frame — an
    early draft inlined 48×64 = 3072 integer Literal nodes and paid
    ~3.3 s of fixed per-execution plan/codegen cost (flat across a
    10× data scale-up — the simhash giant-HOF lesson, SCALE.md);
    string-encoding shrinks the tree ~60× at zero semantic change
    (the decoded values are the same _SRP_PLANES the oracle
    inlines)."""
    vecs = _vecs(spark, sf_dir)
    planes_row = spark.range(1).select(
        F.transform(
            F.array(*[F.lit(s) for s in _SRP_PLANE_STRS]),
            lambda s: F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: F.when(
                    F.substr(s, i, F.lit(1)) == "+", F.lit(1).cast("long")
                ).otherwise(F.lit(-1).cast("long")),
            ),
        ).alias("planes")
    )
    tfp = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * DOT_SCALE).cast("long"),
    )
    bits = let(
        tfp,
        lambda t: F.transform(
            F.col("planes"),
            lambda p: F.aggregate(
                F.zip_with(t, p, lambda a, r: a * r),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            >= 0,
        ),
    )
    bands_arr = let(
        bits,
        lambda bs: F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"),
                    F.aggregate(
                        F.slice(bs, j * SRP_BAND_BITS + 1, SRP_BAND_BITS),
                        F.lit(0).cast("long"),
                        lambda acc, bt: acc * 2
                        + F.when(bt, F.lit(1)).otherwise(F.lit(0)),
                    ).alias("val"),
                )
                for j in range(SRP_TABLES)
            ]
        ),
    )
    bands = (
        vecs.crossJoin(F.broadcast(planes_row))
        .select("vec_id", F.explode(bands_arr).alias("bv"))
        .select("vec_id", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
        # referenced on BOTH sides of the candidate self-join: the
        # checkpoint must be EAGER or each branch evaluates the
        # signature pipeline once (tiny frame: SRP_TABLES rows per
        # vector, three small ints each)
        .localCheckpoint(eager=True)
    )
    qb = bands.filter(F.col("vec_id") < QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"), "band", "val"
    )
    cand = (
        F.broadcast(qb)
        .join(bands, ["band", "val"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q_side = vecs.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm_fp").alias("qn"),
    )
    c_side = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.col("norm_fp").alias("cn"),
    )
    pairs = cand.join(F.broadcast(q_side), "query_id").join(c_side, "neighbor_id")
    cos = _cosine(_dot_fp(F.col("q_emb"), F.col("c_emb")), F.col("qn"), F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", "neighbor_label", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# Johnson-Lindenstrauss random projection: 64 -> JL_DIM dims via a
# deterministic Rademacher (+/-1) matrix. Component fixed-point scale
# chosen so every squared distance stays exact int64 (|x| < 1 ->
# t <= 1e6, proj <= 64e6, proj-diff^2 * JL_DIM <= ~7e16).
JL_DIM = 16
JL_COMP_SCALE = 1_000_000


def _jl_planes() -> list[list[int]]:
    """JL_DIM Rademacher rows over the 64 dims from md5 of fixed
    strings — deterministic constants, same discipline as
    ``_srp_planes`` (the random tape is O(k·d), never O(corpus))."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl-{j}-{d}".encode()).digest()[0] & 1 else -1
            for d in range(64)
        ]
        for j in range(JL_DIM)
    ]


_JL_PLANES = _jl_planes()
_JL_PLANE_STRS = [
    "".join("+" if v == 1 else "-" for v in row) for row in _JL_PLANES
]


def _jl_oracle() -> str:
    planes_rows = ",\n    ".join(
        f"({j}, {row})" for j, row in enumerate(_JL_PLANES)
    )
    return f"""
WITH tfp AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {JL_COMP_SCALE}.0) AS BIGINT)) AS t
  FROM embeddings
),
planes(j, r) AS (VALUES
    {planes_rows}
),
proj AS (
  SELECT vec_id, t,
         list(CAST(y AS BIGINT) ORDER BY j) AS y
  FROM (
    SELECT vec_id, t, j,
           list_sum(list_transform(generate_series(1, 64), i -> t[i] * r[i])) AS y
    FROM tfp CROSS JOIN planes
  ) GROUP BY vec_id, t
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> (a.t[i] - b.t[i]) * (a.t[i] - b.t[i]))) AS BIGINT) AS d2_orig_fp,
         CAST(list_sum(list_transform(generate_series(1, {JL_DIM}),
              j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))) AS BIGINT) AS d2_proj_fp
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
)
SELECT vec_a, vec_b, d2_orig_fp, d2_proj_fp,
       CAST(FLOOR(CAST(d2_proj_fp AS DOUBLE) * 1000000.0
            / CAST({JL_DIM} AS DOUBLE) / CAST(d2_orig_fp AS DOUBLE)) AS BIGINT)
         AS ratio_ppm
FROM pairs
WHERE d2_orig_fp > 0
ORDER BY vec_a
"""


@register("q_embedding_jl_project", oracle=_jl_oracle())
def q_embedding_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection with its distortion
    audit — the embedding-compression step a 100 TB ANN pipeline runs
    before indexing (project once, search in k ≪ d dims): each vector
    is projected 64 → JL_DIM dims through a deterministic Rademacher
    matrix in exact component fixed-point, and disjoint consecutive
    pairs report squared distance before vs after as an exact-integer
    pair audit (ratio_ppm ≈ 1e6·‖R(a−b)‖²/(k·‖a−b‖²), whose
    concentration around 1e6 IS the JL lemma; the distortion bound is
    pinned by test). All arithmetic to the two d2 columns is exact
    int64, so the DuckDB twin hash-matches; only the final ratio
    divides — as double in an identical expression shape on both
    engines.

    Scale shape: the projection is a zero-shuffle per-row HOF over
    the broadcast k×d sign matrix (compact '+/-' strings, the SRP
    plan-size lesson); the audit joins vec 2i with 2i+1 — a
    key-partitioned join of two half-corpus projections, no window
    over the corpus, no all-pairs."""
    planes = F.array(*[F.lit(s) for s in _JL_PLANE_STRS])
    t = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(float(JL_COMP_SCALE))).cast(
            "long"
        ),
    )
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", t.alias("t")
    )
    y = F.transform(
        planes,
        lambda p: F.aggregate(
            F.sequence(F.lit(1), F.lit(64)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.element_at("t", i)
            * F.when(F.substring(p, i, F.lit(1)) == "+", 1).otherwise(-1),
        ),
    )
    proj = base.select("vec_id", "t", y.alias("y"))
    a = proj.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("vec_a"),
        F.col("t").alias("ta"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("vec_a"),
        F.col("vec_id").alias("vec_b"),
        F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    )
    sq = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda p, q: (p - q) * (p - q)),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    pairs = a.join(b, "vec_a").select(
        "vec_a",
        "vec_b",
        sq(F.col("ta"), F.col("tb")).alias("d2_orig_fp"),
        sq(F.col("ya"), F.col("yb")).alias("d2_proj_fp"),
    )
    ratio = F.floor(
        F.col("d2_proj_fp").cast("double")
        * F.lit(1_000_000.0)
        / F.lit(float(JL_DIM))
        / F.col("d2_orig_fp").cast("double")
    ).cast("long")
    return (
        pairs.filter(F.col("d2_orig_fp") > 0)
        .select("vec_a", "vec_b", "d2_orig_fp", "d2_proj_fp", ratio.alias("ratio_ppm"))
        .orderBy("vec_a")
    )


def _ann_recall_oracle() -> str:
    """Compose the two REGISTERED oracles verbatim (nested WITH in
    derived tables), so the eval judges exactly the shipped queries."""
    from ..registry import _REGISTRY

    bf = _REGISTRY["q_ann_bruteforce"].oracle
    ivf = _REGISTRY["q_ann_ivf"].oracle
    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({bf})),
ivf AS (SELECT query_id, neighbor_id FROM ({ivf})),
hits AS (
  SELECT b.query_id, COUNT(*) AS n_hits
  FROM bf b JOIN ivf i USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(MAX(h.n_hits), 0) * 1000000 // {TOP_K} AS BIGINT)
         AS recall_ppm
FROM bf b LEFT JOIN hits h ON h.query_id = b.query_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


@register("q_ann_recall_eval", oracle=None)  # oracle bound after both deps
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY EVAL — the third leg of the ANN family (build:
    q_ann_ivf, maintain: q_ann_ivf_delta, evaluate: this): per query,
    recall@{TOP_K} of the IVF index against the exact brute-force
    baseline, computed by running BOTH registered pipelines and
    intersecting their top-K sets — the measurement that decides
    IVF_PROBES / IVF_CELLS before anyone trusts the index. Exact ppm
    integers; the oracle composes the two registered oracle texts
    verbatim, so the driver hash pins the eval AND both underlying
    pipelines in one check.

    Scale shape: inherits each pipeline's audited plan; the eval
    itself is a (queries × K)-row equi-join + count — negligible next
    to either side. At 100 TB the baseline runs on a sampled query
    set (QUERY_LIMIT here), which is exactly how production recall
    monitoring works.

    One pass per pipeline (r14, guide §1.2/§2.4): n_exact and n_hits
    come from ONE aggregation over bf left-broadcast-joined to the
    (queries × K)-row IVF set — the r13 shape referenced bf twice
    (hits join + n_exact groupBy), so the whole brute-force cogroup
    kernel ran twice per execution (no ReusedExchange fired; verified
    in the executed plan). A checkpoint of bf measured 20-30% SLOWER
    locally (materialization barrier vs overlapped copies — the
    q_part_affinity lesson), but the join-then-aggregate rewrite is
    strictly less work: kernel passes 2 → 1 with no barrier, local
    A/B ~10% faster in every interleaved round. Equivalence: ivf's
    (query_id, neighbor_id) is unique, so the left join keeps every
    bf row exactly once — count(*) is n_exact, matched rows are
    n_hits. The broadcast side is bounded by QUERY_LIMIT × TOP_K."""
    bf = q_ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = q_ann_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        bf.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            exact_ppm(F.col("n_hits"), F.lit(TOP_K)).alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


# bind after both dependency oracles exist in the registry
from dataclasses import replace as _dc_replace  # noqa: E402

from ..registry import _REGISTRY as _SIM_REG  # noqa: E402

_SIM_REG["q_ann_recall_eval"] = _dc_replace(
    _SIM_REG["q_ann_recall_eval"], oracle=_ann_recall_oracle()
)


# ------------------------------------------------ fixed-point k-means

KM_K = 8  # clusters (strided seeds, same bootstrap as the IVF cells)


def _km_d2_sql(a: str, b: str) -> str:
    t = f"({a}[i] - {b}[i])"
    return (
        f"CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> {t} * {t})) AS BIGINT)"
    )


def _km_seed_centers(fp: DataFrame) -> DataFrame:
    """ONE row holding the KM_K strided-seed centers of a (vec_id, fpv)
    frame — k-means++ step-0, same bootstrap as the IVF cells."""
    params = fp.agg(
        F.greatest(F.floor((F.max("vec_id") + 1) / KM_K), F.lit(1))
        .cast("long")
        .alias("stride")
    )
    return (
        fp.crossJoin(F.broadcast(params))
        .filter(
            (F.col("vec_id") % F.col("stride") == 0)
            & (F.col("vec_id") < F.col("stride") * KM_K)
        )
        .select(
            F.floor(F.col("vec_id") / F.col("stride")).cast("int").alias("cell"),
            "fpv",
        )
        .agg(F.array_sort(F.collect_list(F.struct("cell", "fpv"))).alias("cs"))
    )


def _km_assign(fp: DataFrame, centers_row: DataFrame) -> DataFrame:
    """(vec_id, fpv, cell, d2): each vector assigned to its min-d²
    center by a per-row HOF argmin over the broadcast center array —
    zero shuffle, the corpus never moves."""
    scores = F.transform(
        F.col("cs"),
        lambda c: F.struct(
            _pqf_d2(F.col("fpv"), c["fpv"]).alias("d"),
            c["cell"].alias("p"),
        ),
    )
    best = F.array_min(scores)
    return fp.crossJoin(F.broadcast(centers_row)).select(
        "vec_id", "fpv", best["p"].alias("cell"), best["d"].alias("d2")
    )


def _km_update_centers(assigned: DataFrame) -> DataFrame:
    """ONE row of per-cluster exact fixed-point mean centers (the Lloyd
    update): posexplode to (cell, pos) partials — a K×64-row exchange
    regardless of corpus size — then floor-divide and reassemble."""
    comp = (
        assigned.select("cell", F.posexplode("fpv").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("m"))
    )
    return (
        comp.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda t: t["m"],
            ).alias("fpv")
        )
        .agg(F.array_sort(F.collect_list(F.struct("cell", "fpv"))).alias("cs"))
    )


@register(
    "q_embedding_kmeans",
    oracle=f"""
WITH {_VECS_CTE},
fp AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {PQF_SCALE}.0) AS BIGINT)) AS fpv
  FROM vecs
),
params AS (
  SELECT GREATEST((MAX(vec_id) + 1) // {KM_K}, 1) AS stride FROM fp
),
c0 AS (
  SELECT CAST(v.vec_id // p.stride AS INT) AS cell, v.fpv
  FROM fp v, params p
  WHERE v.vec_id % p.stride = 0 AND v.vec_id < p.stride * {KM_K}
),
a0 AS (
  SELECT f.vec_id,
         MIN({{'d': {_km_d2_sql('f.fpv', 'c.fpv')}, 'p': c.cell}}) AS mc
  FROM fp f, c0 c GROUP BY 1
),
ex AS (
  SELECT a.mc.p AS cell,
         generate_subscripts(f.fpv, 1) AS pos,
         unnest(f.fpv) AS x
  FROM a0 a JOIN fp f USING (vec_id)
),
comp AS (
  SELECT cell, pos,
         CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM ex GROUP BY 1, 2
),
c1 AS (SELECT cell, list(m ORDER BY pos) AS fpv FROM comp GROUP BY 1),
a1 AS (
  SELECT f.vec_id,
         MIN({{'d': {_km_d2_sql('f.fpv', 'c.fpv')}, 'p': c.cell}}) AS mc
  FROM fp f, c1 c GROUP BY 1
),
n0 AS (SELECT mc.p AS cluster, CAST(COUNT(*) AS BIGINT) AS n_seed
       FROM a0 GROUP BY 1),
n1 AS (
  SELECT mc.p AS cluster, CAST(COUNT(*) AS BIGINT) AS n_refined,
         CAST(SUM(mc.d) AS BIGINT) AS sd
  FROM a1 GROUP BY 1
)
SELECT n1.cluster,
       CAST(COALESCE(n0.n_seed, 0) AS BIGINT) AS n_seed,
       n1.n_refined,
       CAST(n1.sd // n1.n_refined AS BIGINT) AS mean_d2
FROM n1 LEFT JOIN n0 USING (cluster)
ORDER BY n1.cluster
""",
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point k-means over the embedding corpus — the clustering
    pass behind data-mixture curation, IVF training, and SemDeDup-style
    semantic bucketing, run as real Lloyd iteration made exactly
    reproducible: strided-seed centers (the same k-means++ step-0
    bootstrap as q_ann_ivf), one assignment pass, one exact-integer
    centroid update (the q_embedding_centroids fixed-point mean), one
    re-assignment — every distance an exact int64 d², so both engines
    replicate the full two-round trajectory bit for bit and the driver
    hash pins it end to end (MLlib's float k-means stays the
    non-oracleable production alternative, same trade as
    q_ann_pq/q_ann_pq_fixed). Output is the per-cluster movement
    story: seed-assignment size, refined size, and mean d² inertia
    after the update — the numbers a curator reads to pick k.

    Scale shape: each assignment is a per-row HOF argmin over the
    broadcast K-center array (zero shuffle — the corpus never moves);
    the centroid update is the posexplode (cell, pos) partial-agg
    pattern whose exchange is K×64 rows regardless of corpus size;
    per-round work is one corpus scan — the canonical distributed
    Lloyd shape. Int64 bound: per-vector d² ≤ 64·(range·10⁶)², so
    cluster sums stay far inside int64 at any tested SF."""
    fp = _vecs(spark, sf_dir).select(
        "vec_id", _pqf_fpv(F.col("embedding")).alias("fpv")
    )
    a0 = _km_assign(fp, _km_seed_centers(fp))
    a1 = _km_assign(fp, _km_update_centers(a0))
    n0 = a0.groupBy(F.col("cell").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_seed")
    )
    n1 = a1.groupBy(F.col("cell").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_refined"),
        F.sum("d2").cast("long").alias("sd"),
    )
    return (
        n1.join(F.broadcast(n0), "cluster", "left")
        .select(
            "cluster",
            F.coalesce(F.col("n_seed"), F.lit(0)).cast("long").alias("n_seed"),
            "n_refined",
            F.call_function("div", F.col("sd"), F.col("n_refined"))
            .cast("long")
            .alias("mean_d2"),
        )
        .orderBy("cluster")
    )
