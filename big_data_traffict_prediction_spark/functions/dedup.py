"""Deduplication operators over ``documents`` (north-star LLM-data
pipeline; BASELINE.json).

Four tiers, each the standard shape for its scale:

- **exact**: hash-groupBy on normalized text — one shuffle on the
  fingerprint, trivially 100 TB-safe.
- **n-gram Jaccard**: shingle explode + equi-join on shingle — exact
  pairwise similarity, but candidate generation is the quadratic
  bottleneck at scale; kept as the verification oracle.
- **MinHash + LSH**: 16 minhashes → 4 bands × 4 rows → candidates are
  only pairs sharing a band signature; THE scale path (candidates
  ∝ near-dups, not n²). Fully oracle-checked because both engines
  share the same 40-bit md5-derived hash (``compat.md5_hash`` with 10
  hex digits; 40 bits keeps the h1 + seed·h2 double-hash inside int64).
- **SimHash**: 32-bit signatures + top-16-bit banding + hamming≤k —
  the other classic near-dup family.

MLlib's MinHashLSH variant lives in similarity.py (Spark-only,
model-based). Everything here is pure DataFrame ops — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import exact_ppm, global_rank, let, md5_hash, md5_hash_sql
from ..registry import register
from ..session import shuffle_partitions_at_most
from ..tables import load_table, spread_documents
from .text import NORM_SQL, norm_col

JACCARD_THRESHOLD = 0.5
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SIMHASH_BITS = 32
SIMHASH_BUCKET_SHIFT = 16  # band on the top 16 bits
HAMMING_MAX = 3
# Group-and-expand bucket bound: a band bucket contributes pairs only
# among its first MAX_BUCKET_EXPAND members (sorted for determinism).
# A hot bucket is, in real corpora, an exact-duplicate cluster — that
# case belongs to q_dedup_exact's one-shuffle path; capping here bounds
# the single-task O(m²) pair fan-out that AQE cannot skew-split.
# Test SFs never approach the cap, so oracles stay exact.
MAX_BUCKET_EXPAND = 1024


def bucket_pair_expand(df, bucket_cols, member_col, lt, distinct_members=False):
    """THE capped group-and-expand pair emitter, shared by the LSH,
    simhash and perceptual-hash dedups: group by the bucket key(s),
    collect members sorted + capped at MAX_BUCKET_EXPAND, expand the
    ordered i<j pairs in-row. Returns (bucket_cols..., p) where
    p = struct<a, b> of member values and ``lt(a, b)`` is the ordering
    predicate. One definition so the cap / tie-break / pair-dedup
    semantics cannot drift between the three.

    ``distinct_members=True`` swaps collect_list for collect_set —
    bit-identical to a pre-``.distinct()`` on (bucket, member) (the
    set is sorted before the cap, so the capped slice sees exactly
    the distinct sorted members) but ONE shuffle instead of two; the
    co-purchase edge builder uses it to drop its standalone distinct
    over the fact projection."""
    agg = (
        F.collect_set(member_col) if distinct_members else F.collect_list(member_col)
    )
    members = df.groupBy(*bucket_cols).agg(
        F.slice(F.sort_array(agg), 1, MAX_BUCKET_EXPAND).alias("ms")
    )
    # singleton buckets (the overwhelming majority under a 16-bit LSH
    # key) cannot emit a pair — drop them BEFORE the m² struct
    # expansion so the nested-transform HOF and explode run only on
    # real collision groups (~14% off q_dedup_simhash end-to-end in a
    # same-session A/B at sf0.1; pure win, never changes the pair set)
    members = members.filter(F.size("ms") >= 2)
    # Triangle expansion: element i pairs only with the slice AFTER it,
    # so m·(m−1)/2 structs are built instead of m² (the members list is
    # sorted, and every caller's ``lt`` agrees with that sort order).
    # The lt filter stays as the tie/contract guard — it is ~all-true
    # and cheap, while the halved struct generation is the win.
    n = F.size("ms")
    pairs = F.filter(
        F.flatten(
            F.transform(
                "ms",
                lambda a, i: F.transform(
                    F.slice("ms", i + F.lit(2), n - i - F.lit(1)),
                    lambda b: F.struct(a.alias("a"), b.alias("b")),
                ),
            )
        ),
        lambda pr: lt(pr["a"], pr["b"]),
    )
    return members.select(*bucket_cols, F.explode(pairs).alias("p"))

# ---------------------------------------------------------------- shared

_SHINGLE_CTE = f"""
tok AS (
  SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, len(toks) - 2),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM tok
  WHERE len(toks) >= 3
),
cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
)
""".strip()


def _shingle_expr():
    """array_distinct of word 3-grams over the bound ``toks`` column."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("toks", i),
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
            ),
        )
    )


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_documents(spark, sf_dir)  # ~16 md5s per shingle downstream
    toks = F.split(norm_col(), " ")
    return d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 3)


def shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word 3-grams of
    normalized text, un-exploded. Signature computations stay per-row
    (zero shuffles); only ops that genuinely need one row per shingle
    explode this."""
    return _tokenized(spark, sf_dir).select(
        "doc_id", _shingle_expr().alias("shingles")
    )


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — exploded form, for pairwise-intersection joins.

    The generator child is the shingle EXPRESSION, not a projected
    attribute: ``InferFiltersFromGenerate`` only fires on attribute
    children, and when it fires here the inferred
    ``size(...)>0 AND isnotnull(...)`` filter — carrying the whole
    normalize+split+transform pipeline — gets pushed below the
    repartition into the (single-split) scan task, serializing ~7
    re-evaluations of the regex per row onto one core (measured 35×
    slower at sf0.1). Exploding the expression directly keeps the heavy
    compute above the shuffle, parallel, computed once."""
    return _tokenized(spark, sf_dir).select(
        "doc_id", F.explode(_shingle_expr()).alias("shingle")
    )


def _pair_jaccard(sh: DataFrame) -> DataFrame:
    """All pairs sharing ≥1 shingle with exact jaccard (d1 < d2)."""
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    c1 = cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    c2 = cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(c1, "d1")
        .join(c2, "d2")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"),
        )
    )


def threshold_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with Jaccard ≥ JACCARD_THRESHOLD — EXACT, via frequency-ordered
    prefix filtering (SSJoin / PPJoin, Chaudhuri 2006 / Bayardo 2007).

    The naive shingle equi-join (`_pair_jaccard`) explodes on hot
    shingles: a stopword 3-gram shared by m docs contributes m² join
    rows, the quadratic bottleneck at corpus scale. Prefix filtering is
    the standard exact fix: order every doc's shingles by ascending
    global document frequency (ties broken by the shingle string — any
    total order shared by all docs works), and emit only each doc's
    first |x| - ⌈t·|x|⌉ + 1 shingles as candidate keys. If
    J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so the two prefixes must
    share ≥1 element — no pair is lost. Hot shingles are by definition
    high-frequency, so they sort to the suffixes and never generate
    candidates; candidate volume tracks true near-dups, not n².

    A length filter (t·|B| ≤ |A| ≤ |B|/t, necessary for J ≥ t) prunes
    the candidate join further. Survivors are verified with exact
    per-pair `array_intersect` on the full shingle arrays — work ∝
    candidates. Three shuffles total (freq agg, per-doc window, prefix
    equi-join), all on keys whose cardinality grows linearly with the
    corpus.

    The candidate stage runs on int64 ``xxhash64(shingle)`` keys
    (r14, guide §2.3/§3 — shuffle narrow keys, not payloads): the
    freq aggregation, the rank window and the prefix self-join all
    move 8-byte longs instead of ~24-byte shingle strings. Still
    EXACT: order every doc's (distinct) shingles by
    (df(xxhash64(s)), xxhash64(s)) — the classic theorem only needs
    SOME total order shared by all docs, and the per-doc row_number
    tie-break is arbitrary only between rows carrying the IDENTICAL
    hash, so the kept per-doc HASH set is tie-break-invariant. Under
    any consistent completion of that order the string prefixes of a
    true pair share a shingle s*, hence both kept hash sets contain
    xxhash64(s*) and the join on h emits the pair. Hash collisions
    across docs only ADD candidates, which the exact string-array
    verification below removes; n stays the doc's shingle-set size,
    exactly the theorem's n. Local A/B: candidate stage 1.52 vs
    1.55 s at sf0.1 (neutral — the freq side broadcasts at this SF);
    the narrow-key shuffle is the 100 TB win where the joins go
    sort-merge. (Hashing INSIDE the shingle HOF instead of after the
    explode re-triggers the InferFiltersFromGenerate push-down trap
    and flips the freq join's build side — measured 2-5× slower.)"""
    from pyspark.sql import Window

    arrs = shingle_arrays(spark, sf_dir)
    # hash AFTER the explode (shingles() dodges the
    # InferFiltersFromGenerate trap; hashing inside the shingle HOF
    # re-triggers it and measured 5× slower — r14 A/B)
    sh = shingles(spark, sf_dir).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    by_doc = Window.partitionBy("doc_id")
    prefix_len = F.col("n") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n")) + 1
    # The prefix index feeds both sides of the candidate self-join and
    # is recomputed per branch — deliberately: a localCheckpoint here
    # pins the AQE-coalesced (tiny) partitioning and strangles the
    # downstream join's parallelism (measured 1.7× slower at sf0.1).
    # Recompute-over-materialize is the right Spark trade for a cheap
    # linear pipeline feeding a wide join.
    ranked = (
        sh.join(freq, "h")
        .withColumn("n", F.count(F.lit(1)).over(by_doc))
        .withColumn("rk", F.row_number().over(by_doc.orderBy("df", "h")))
        .filter(F.col("rk") <= prefix_len)
        .select("doc_id", "h", "n")
    )
    a = ranked.select(F.col("doc_id").alias("d1"), "h", F.col("n").alias("na"))
    b = ranked.select(F.col("doc_id").alias("d2"), "h", F.col("n").alias("nb"))
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("d1") < F.col("d2"))
            & (F.col("na") >= JACCARD_THRESHOLD * F.col("nb"))
            & (F.col("nb") >= JACCARD_THRESHOLD * F.col("na"))
        )
        .select("d1", "d2")
        .distinct()
    )
    s1 = arrs.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    s2 = arrs.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2")).cast("long")
    verified = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            n_common.alias("n_common"),
            F.size("sh1").cast("long").alias("n1"),
            F.size("sh2").cast("long").alias("n2"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified


# ---------------------------------------------------------------- exact


@register(
    oracle=f"""
SELECT fingerprint, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       COUNT(*) > 1 AS has_duplicates
FROM (SELECT doc_id, md5({NORM_SQL}) AS fingerprint FROM documents)
GROUP BY fingerprint
ORDER BY fingerprint
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: groupBy(md5(norm)) keeping the smallest doc_id —
    one hash shuffle; partial aggregation dedups map-side first."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(norm_col()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            (F.count(F.lit(1)) > 1).alias("has_duplicates"),
        )
        .orderBy("fingerprint")
    )


# ------------------------------------------------------- n-gram jaccard


@register(
    oracle=f"""
WITH {_SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.d1, p.d2, p.n_common, c1.n AS n1, c2.n AS n2,
       ROUND(CAST(p.n_common AS DOUBLE) / CAST(c1.n + c2.n - p.n_common AS DOUBLE), 6) AS jaccard
FROM pairs p
JOIN cnt c1 ON c1.doc_id = p.d1
JOIN cnt c2 ON c2.doc_id = p.d2
WHERE CAST(p.n_common AS DOUBLE) / CAST(c1.n + c2.n - p.n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with exact 3-gram Jaccard ≥ 0.5, computed with
    frequency-ordered prefix filtering (`threshold_jaccard_pairs`) —
    exact semantics with candidate volume ∝ near-dups instead of the
    naive shingle equi-join's hot-shingle n² fan-out. The naive join
    (`_pair_jaccard`) is retained as the in-repo verification twin
    (tests pin set-equality) and the DuckDB oracle uses it too."""
    pj = threshold_jaccard_pairs(spark, sf_dir)
    # Pair-SET semantics: no final global sort — at corpus scale an
    # orderBy over the pair list is a pointless range-exchange+sort of
    # the whole output (the driver gate and all tests compare
    # order-insensitively).
    return pj.select(
        "d1", "d2", "n_common", "n1", "n2", F.round("jaccard", 6).alias("jaccard")
    )


# ------------------------------------------------- sorted neighborhood

SND_KEY_LEN = 24  # blocking key: first chars of the normalized text
SND_WINDOW = 4  # compare each doc with the next SND_WINDOW-1 by key order


@register(
    oracle=f"""
WITH tokarr AS (
  SELECT doc_id,
         SUBSTRING({NORM_SQL}, 1, {SND_KEY_LEN}) AS snd_key,
         string_split({NORM_SQL}, ' ') AS toks
  FROM documents
),
ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY snd_key, doc_id) AS rk
  FROM tokarr
),
cand AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS d1,
         GREATEST(a.doc_id, b.doc_id) AS d2,
         CAST(b.rk - a.rk AS BIGINT) AS rank_gap
  FROM ranked a
  JOIN ranked b ON b.rk > a.rk AND b.rk <= a.rk + {SND_WINDOW - 1}
),
sharr AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(toks) - 2),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM tokarr WHERE len(toks) >= 3
)
SELECT c.d1, c.d2, c.rank_gap,
       CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_common,
       ROUND(CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
             / CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))
                    AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN sharr s1 ON s1.doc_id = c.d1
JOIN sharr s2 ON s2.doc_id = c.d2
WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
      / CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))
             AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
""",
)
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup — the classic SORT-based blocking
    family (Hernández-Stolfo merge/purge) the hash-based families
    (LSH bands, simhash buckets) don't cover: sort the corpus by a
    blocking key (first SND_KEY_LEN chars of the normalized text),
    verify exact 3-gram Jaccard only between docs within SND_WINDOW
    positions of each other — candidate volume is a FIXED (w−1)·n,
    independent of key-collision skew, which is the method's whole
    appeal when a hot hash bucket would explode.

    Scale shape: the global sort order comes from ``compat.global_rank``
    (range repartition + broadcast offsets — never a single-partition
    window), and the window pairing is (w−1) rank equi-joins, each a
    key-partitioned hash join on a dense integer. Shingle verification
    is an in-row array intersection on the (w−1)·n candidate pairs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(norm_col(), 1, SND_KEY_LEN).alias("snd_key")
    )
    ranked = global_rank(d, ["snd_key", "doc_id"]).select(
        "doc_id", F.col("_rk").alias("rk")
    )
    right = ranked.select(F.col("doc_id").alias("db"), F.col("rk").alias("rkb"))
    cands = None
    for delta in range(1, SND_WINDOW):
        c = (
            ranked.withColumn("rkb", F.col("rk") + delta)
            .join(right, "rkb")
            .select(
                F.least("doc_id", "db").alias("d1"),
                F.greatest("doc_id", "db").alias("d2"),
                F.lit(delta).cast("long").alias("rank_gap"),
            )
        )
        cands = c if cands is None else cands.unionAll(c)
    # No emptiness filter needed: _tokenized keeps only len(toks) >= 3,
    # which guarantees >= 1 shingle — and a filter on size(shingles)
    # would re-inline the whole shingle HOF into the pushed-down
    # predicate (CollapseProject), measured 28× slower (see SCALE.md
    # expression-reuse rule).
    sh = shingle_arrays(spark, sf_dir)
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jaccard = n_common.cast("double") / (
        F.size("sh1") + F.size("sh2") - n_common
    ).cast("double")
    return (
        cands.join(s1, "d1")
        .join(s2, "d2")
        # threshold on the RAW ratio (like the ngram twin and the
        # DuckDB oracle); rounding is output-formatting only
        .filter(jaccard >= JACCARD_THRESHOLD)
        .select(
            "d1",
            "d2",
            "rank_gap",
            n_common.cast("long").alias("n_common"),
            F.round(jaccard, 6).alias("jaccard"),
        )
        # pair-set semantics: no global output sort (see ngram twin)
    )


# --------------------------------------------------------- minhash + lsh


# Prime modulus for the double-hash family (2^40 + 15). WITHOUT the
# mod, min(h1 + s·h2) is monotone in h2 once s ≥ 1, so every slot
# tends to elect the same min-h2 shingle — slots correlate and the
# Jaccard estimator reads ~1 for pairs that merely share that one
# shingle (caught by test_minhash_estimate_is_calibrated, mean |err|
# 0.61 before, ~0.05 after). The mod wraps h1 + s·h2 (≤ 2^44) around
# the prime 16–64×, restoring per-slot independence; values stay
# nonneg so `%` is identical in Spark and DuckDB.
MINHASH_P = 1_099_511_627_791


def minhash_signatures(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """(doc_id, mh: array<long>[NUM_HASHES]) — mh[s] = min over
    shingles of (h1 + s*h2) mod MINHASH_P, the classic double-hashing
    construction (one md5 pair per shingle instead of NUM_HASHES md5s
    — ~8× less hash compute and an ~NUM_HASHES× smaller codegen
    expression; the prime mod keeps the slots independent, see
    MINHASH_P).

    Computed entirely per-row with higher-order functions (transform +
    array_min): no seed cross-join, no 16× row blow-up, no shuffle —
    at 100 TB the signature stage is a pure map over the scan.

    ``sh`` lets a caller that ALSO consumes the shingle arrays (the
    LSH verify step) pass one materialized frame instead of paying the
    tokenize+shingle pass once per consumer."""
    if sh is None:
        sh = shingle_arrays(spark, sf_dir)
    hpairs = F.transform(
        "shingles",
        lambda x: F.struct(
            md5_hash(x, 10).alias("h1"),
            md5_hash(F.concat(F.lit("#"), x), 10).alias("h2"),
        ),
    )
    mh = let(
        hpairs,
        lambda hp: F.transform(
            F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
            lambda s: F.array_min(
                F.transform(
                    hp,
                    lambda p: (p["h1"] + s.cast("long") * p["h2"])
                    % F.lit(MINHASH_P),
                )
            ),
        ),
    )
    return sh.select("doc_id", mh.alias("mh"))


def lsh_band_keys(mh: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): concat each band's row minhashes.
    One row per (doc, band) — a NUM_BANDS× fan-out of tiny rows, the
    input to the band-bucket self-join. The signature vector is
    let-bound so its 16 references don't re-evaluate the 16-hash
    transform 16× (compat.let)."""
    bands = let(
        F.col("mh"),
        lambda m: F.transform(
            F.sequence(F.lit(0), F.lit(NUM_BANDS - 1)),
            lambda b: F.struct(
                b.cast("long").alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.element_at(m, b * ROWS_PER_BAND + r + 1).cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("band_key"),
            ),
        ),
    )
    return (
        mh.select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    )


_MINHASH_CTE = f"""
seeds AS (
  SELECT CAST(unnest(generate_series(0, {NUM_HASHES - 1})) AS BIGINT) AS seed
),
shh AS (
  SELECT doc_id,
         {md5_hash_sql("shingle", 10)} AS h1,
         {md5_hash_sql("'#' || shingle", 10)} AS h2
  FROM sh
),
mh AS (
  SELECT doc_id, seed, MIN((h1 + seed * h2) % {MINHASH_P}) AS mh
  FROM shh CROSS JOIN seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {ROWS_PER_BAND} AS band,
         {" || '-' || ".join(f"CAST(MAX(CASE WHEN seed % {ROWS_PER_BAND} = {r} THEN mh END) AS VARCHAR)" for r in range(ROWS_PER_BAND))} AS band_key
  FROM mh
  GROUP BY doc_id, seed // {ROWS_PER_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
""".strip()


@register(
    oracle=f"""
WITH {_SHINGLE_CTE},
{_MINHASH_CTE},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.d1, c.d2,
       ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
           / CAST(c1.n + c2.n - COALESCE(i.n_common, 0) AS DOUBLE), 6) AS jaccard,
       CAST(COALESCE(i.n_common, 0) AS DOUBLE)
           / CAST(c1.n + c2.n - COALESCE(i.n_common, 0) AS DOUBLE) >= {JACCARD_THRESHOLD} AS is_duplicate
FROM cand c
LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
JOIN cnt c1 ON c1.doc_id = c.d1
JOIN cnt c2 ON c2.doc_id = c.d2
ORDER BY c.d1, c.d2
""",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, the 100 TB dedup path:
    shingle→16 minhashes→4 bands; only band-collision pairs are
    candidates, then exact Jaccard verifies each candidate. Candidate
    volume scales with true near-dups, not n². Same hash on both
    engines → fully oracle-checked (rare for LSH).

    The shingle-array frame feeds three consumers (the signature map
    and both verify sides): one LAZY localCheckpoint runs the
    tokenize+shingle pass once. Safe against the pinned-partitioning
    trap documented on threshold_jaccard_pairs' ranked frame: the
    checkpoint materializes the pre-AQE repartition(defaultParallelism)
    layout, not an AQE-coalesced one. Lazy, not eager (r14): the r13
    eager barrier cost a full extra stop on a cold JVM (driver PERF
    read it 15% slower) while a lazy mark gets the same single-pass
    plan — the checkpoint RDD is one object, so the three consuming
    subtrees share its stages within the one action — without the
    up-front materialization job (r14 interleaved A/B: lazy ≤ eager
    in every round, medians 1.37 vs 1.46 s under matched ambient)."""
    sh = shingle_arrays(spark, sf_dir).localCheckpoint(eager=False)
    bands = lsh_band_keys(minhash_signatures(spark, sf_dir, sh=sh))
    # Group-and-expand instead of a band self-join: the join would
    # recompute the 16-hash signature pipeline on both branches (plus
    # once more per branch in the pushed isnotnull join-key filters).
    # One grouping computes it once; bucket member lists are small by
    # LSH construction, so the in-bucket pair expansion is cheap.
    cand = (
        bucket_pair_expand(
            bands, ("band", "band_key"), F.col("doc_id"), lambda a, b: a < b
        )
        .select(F.col("p.a").alias("d1"), F.col("p.b").alias("d2"))
        .distinct()
    )
    # Exact-Jaccard verification restricted to CANDIDATES (not the full
    # pairwise shingle join): join each side's shingle array onto the
    # pair, intersect per-row. Work ∝ candidates, never n².
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jaccard = n_common.cast("double") / (
        F.size("sh1") + F.size("sh2") - n_common
    ).cast("double")
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            F.round(jaccard, 6).alias("jaccard"),
            (jaccard >= JACCARD_THRESHOLD).alias("is_duplicate"),
        )  # pair-set semantics: no global output sort (see ngram twin)
    )


@register(
    oracle=f"""
WITH {_SHINGLE_CTE},
{_MINHASH_CTE},
match AS (
  SELECT c.d1, c.d2,
         CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match_slots
  FROM cand c
  JOIN mh a ON a.doc_id = c.d1
  JOIN mh b ON b.doc_id = c.d2 AND b.seed = a.seed
  GROUP BY 1, 2
),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT m.d1, m.d2, m.n_match_slots,
         m.n_match_slots * 1000000 // {NUM_HASHES} AS est_ppm,
         CAST(COALESCE(i.n_common, 0) AS BIGINT) * 1000000
           // (c1.n + c2.n - COALESCE(i.n_common, 0)) AS jaccard_ppm
  FROM match m
  LEFT JOIN inter i ON i.d1 = m.d1 AND i.d2 = m.d2
  JOIN cnt c1 ON c1.doc_id = m.d1
  JOIN cnt c2 ON c2.doc_id = m.d2
)
SELECT d1, d2, n_match_slots,
       CAST(est_ppm AS BIGINT) AS est_ppm,
       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm,
       CAST(ABS(est_ppm - jaccard_ppm) AS BIGINT) AS abs_err_ppm
FROM scored
ORDER BY d1, d2
""",
)
def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching signature slots / NUM_HASHES) next to
    the EXACT Jaccard and their absolute error — the quality gauge a
    pipeline consults before trusting sketch-only dedup at a new
    corpus mix. Exact integer ppm end-to-end (floor divisions of
    nonnegative ints), so the cross-engine hash check covers the
    estimator itself — rare for a sketch, possible here because both
    engines compute identical md5-derived minhashes."""
    sig = minhash_signatures(spark, sf_dir)
    sh = shingle_arrays(spark, sf_dir)
    cand = (
        bucket_pair_expand(
            lsh_band_keys(sig), ("band", "band_key"), F.col("doc_id"),
            lambda a, b: a < b,
        )
        .select(F.col("p.a").alias("d1"), F.col("p.b").alias("d2"))
        .distinct()
    )
    m1 = sig.select(F.col("doc_id").alias("d1"), F.col("mh").alias("mh1"))
    m2 = sig.select(F.col("doc_id").alias("d2"), F.col("mh").alias("mh2"))
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    n_match = F.size(
        F.filter(F.zip_with("mh1", "mh2", lambda x, y: x == y), lambda t: t)
    ).cast("long")
    n_common = F.size(F.array_intersect("sh1", "sh2")).cast("long")
    union = F.size("sh1") + F.size("sh2") - n_common
    est_ppm = F.call_function("div", n_match * 1_000_000, F.lit(NUM_HASHES))
    jac_ppm = F.call_function("div", n_common * 1_000_000, union.cast("long"))
    return (
        cand.join(m1, "d1")
        .join(m2, "d2")
        .join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            n_match.alias("n_match_slots"),
            est_ppm.alias("est_ppm"),
            jac_ppm.alias("jaccard_ppm"),
            F.abs(est_ppm - jac_ppm).alias("abs_err_ppm"),
        )  # pair-set semantics: no global output sort (see ngram twin)
    )


@register(
    oracle=f"""
WITH {_SHINGLE_CTE},
{_MINHASH_CTE.replace("cand AS (", "cand0 AS (")},
cand AS (
  SELECT a.doc_id AS d_old, b.doc_id AS d_new
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
),
inter AS (
  SELECT a.doc_id AS d_old, b.doc_id AS d_new, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
)
SELECT c.d_new, c.d_old,
       ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
           / CAST(c1.n + c2.n - COALESCE(i.n_common, 0) AS DOUBLE), 6) AS jaccard,
       CAST(COALESCE(i.n_common, 0) AS DOUBLE)
           / CAST(c1.n + c2.n - COALESCE(i.n_common, 0) AS DOUBLE)
           >= {JACCARD_THRESHOLD} AS is_duplicate
FROM cand c
LEFT JOIN inter i ON i.d_old = c.d_old AND i.d_new = c.d_new
JOIN cnt c1 ON c1.doc_id = c.d_old
JOIN cnt c2 ON c2.doc_id = c.d_new
ORDER BY c.d_new, c.d_old
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the continual-pretraining shape:
    check a NEW batch (odd doc_ids, standing in for today's crawl)
    against the EXISTING corpus (even doc_ids) without ever joining
    batch × corpus. Both sides share one LSH banding pass
    (signatures computed ONCE via group-and-expand, exactly like
    q_dedup_minhash_lsh); only cross-parity band collisions become
    candidates, then exact Jaccard verifies each. At 100 TB the
    corpus side's band keys are a precomputed index the daily batch
    probes — candidate volume ∝ true near-dups in the batch, never
    |batch|·|corpus|."""
    sh = shingle_arrays(spark, sf_dir)
    bands = lsh_band_keys(minhash_signatures(spark, sf_dir))
    is_corpus = F.col("doc_id") % 2 == 0
    pairs = bucket_pair_expand(
        bands, ("band", "band_key"), F.col("doc_id"), lambda a, b: a < b
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    # keep only cross-parity collisions; label corpus/batch sides
    cross = pairs.filter((F.col("a") % 2) != (F.col("b") % 2)).select(
        F.when(F.col("a") % 2 == 0, F.col("a")).otherwise(F.col("b")).alias("d_old"),
        F.when(F.col("a") % 2 == 1, F.col("a")).otherwise(F.col("b")).alias("d_new"),
    )
    cand = cross.distinct()
    s1 = sh.select(F.col("doc_id").alias("d_old"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("d_new"), F.col("shingles").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jaccard = n_common.cast("double") / (
        F.size("sh1") + F.size("sh2") - n_common
    ).cast("double")
    return (
        cand.join(s1, "d_old")
        .join(s2, "d_new")
        .select(
            "d_new",
            "d_old",
            F.round(jaccard, 6).alias("jaccard"),
            (jaccard >= JACCARD_THRESHOLD).alias("is_duplicate"),
        )  # pair-set semantics: no global output sort (see ngram twin)
    )


# --------------------------------------------------------------- simhash

_SIMHASH_CTE = f"""
tok2 AS (
  SELECT doc_id, unnest(list_distinct(string_split({NORM_SQL}, ' '))) AS w
  FROM documents
),
hw AS (
  SELECT doc_id, {md5_hash_sql("w", 15)} AS h FROM tok2
),
bits AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hw CROSS JOIN (
    SELECT CAST(unnest(generate_series(0, {SIMHASH_BITS - 1})) AS BIGINT) AS bit
  ) b
  GROUP BY doc_id, b.bit
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits
  GROUP BY doc_id
)
""".strip()


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — bit-vote SimHash computed per-row with
    higher-order functions: hash each distinct word once, then fold the
    hash array into a 32-slot majority-vote count array in one pass.
    No word explode, no bit cross-join, ZERO shuffles — a pure map
    over the documents scan at any scale."""
    d = spread_documents(spark, sf_dir)  # one md5 per distinct word
    hashes = F.transform(
        F.array_distinct(F.split(norm_col(), " ")), lambda w: md5_hash(w, 15)
    )

    # Single-pass bit-vote: ONE aggregate folds the hash array into a
    # 32-slot count array (zip_with against a bit-index sequence; the
    # runtime shift amount needs call_function("shiftright", h, b) —
    # the Python F.shiftright only takes literal shift counts), then a
    # second small fold turns majority counts into the signature. Bit b
    # is set iff a majority of word hashes carry it: 2·count > n (ties
    # → 0). Same value as the old per-bit filter formulation, but the
    # expression tree is 3 lambdas instead of 32 filter passes —
    # per-query plan construction + Catalyst optimization of the giant
    # tree dominated the old runtime (~0.6 s fixed per execution,
    # measured r9: data work at sf0.1 is only ~0.04 s), so shrinking
    # the tree, not the per-row work, is the 2× win. The md5s still
    # run ONCE: `let` binds the hash array before both folds.
    bitseq = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))

    def simhash_of(hs):
        n = F.size(hs)
        counts = F.aggregate(
            hs,
            F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
            lambda acc, h: F.zip_with(
                acc,
                bitseq,
                lambda c, b: c
                + F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)),
            ),
        )
        return F.aggregate(
            F.zip_with(
                counts,
                bitseq,
                lambda c, b: F.when(
                    c * 2 > n,
                    F.call_function("shiftleft", F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )

    simhash = let(hashes, simhash_of)
    return d.select("doc_id", simhash.alias("simhash"))


@register(
    oracle=f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash, simhash >> {SIMHASH_BUCKET_SHIFT} AS bucket
FROM sig ORDER BY doc_id
""",
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash signature (32-bit, bit-vote construction)
    + its top-16-bit LSH bucket."""
    return (
        simhash_signatures(spark, sf_dir)
        .select(
            "doc_id",
            "simhash",
            F.expr(f"simhash >> {SIMHASH_BUCKET_SHIFT}").alias("bucket"),
        )
        .orderBy("doc_id")
    )


@register(
    oracle=f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS d1, b.doc_id AS d2,
       a.simhash AS simhash1, b.simhash AS simhash2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a
JOIN sig b ON a.simhash >> {SIMHASH_BUCKET_SHIFT} = b.simhash >> {SIMHASH_BUCKET_SHIFT}
          AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
ORDER BY d1, d2
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: bucket on the top SIMHASH_BUCKET_SHIFT
    (=16) bits of the 32-bit signature (the scale move — no all-pairs),
    then hamming ≤ 3 filter via bit_count(xor)."""
    # Group-and-expand instead of a self-join: a self-join would
    # compute the signature expression once per branch AND once more in
    # each branch's pushed-down isnotnull join-key filter. Grouping by
    # bucket computes signatures ONCE; the (small) bucket member lists
    # expand to i<j pairs inside a higher-order function.
    sig = simhash_signatures(spark, sf_dir).withColumn(
        "bucket", F.expr(f"simhash >> {SIMHASH_BUCKET_SHIFT}")
    )
    exploded = bucket_pair_expand(
        sig,
        ("bucket",),
        F.struct("doc_id", "simhash"),
        lambda a, b: a["doc_id"] < b["doc_id"],
    )
    hamming = F.bit_count(
        F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash"))
    ).cast("long")
    return (
        exploded.select(
            F.col("p.a.doc_id").alias("d1"),
            F.col("p.b.doc_id").alias("d2"),
            F.col("p.a.simhash").alias("simhash1"),
            F.col("p.b.simhash").alias("simhash2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        # pair-set semantics: no global output sort — saves a full
        # range-exchange + sort of the (large) pair list; the driver
        # compare and tests are order-insensitive
    )


# ------------------------------------------------- near-dup clustering

CLUSTER_MAX_ITERS = 20

# Target edges per shuffle partition inside the CC rounds — the
# input-size-adaptive partitioning rule (see connected_components
# docstring). 500k × ~16 B/edge ≈ 8 MB of shuffle per partition; on a
# production session the cap is bounded above by the session's own
# shuffle-partition setting.
CC_EDGES_PER_PARTITION = 500000


def connected_components(sym: DataFrame) -> DataFrame:
    """Min-label connected components with pointer-doubling shortcuts
    over a SYMMETRIC edge frame (d1, d2) — returns (doc_id, label).

    Each round every vertex takes the min of (its label, its
    neighbors' labels) — the "hooking" step — and then shortcuts
    through its own label: label(v) := min(label(v), label(label(v)))
    (Shiloach-Vishkin-style pointer doubling). Hooking alone converges
    in O(diameter) rounds, which a 20-round cap cannot bound for
    adversarial graphs (a 200-node path has diameter 199); the
    shortcut halves pointer chains every round, so rounds are
    O(log diameter) — a path of 2^20 nodes converges inside the cap.
    Correctness is carried by the hooking fixed point alone (at
    convergence every edge has equal labels ⇒ each component is
    uniformly labeled with its min id); the shortcut only accelerates,
    since label values are always ids of same-component vertices.

    The driver loop holds only ONE scalar per round (the changed-label
    count); labels are localCheckpoint()ed each round so lineage stays
    flat. Exhausting CLUSTER_MAX_ITERS without convergence raises
    rather than returning silently-wrong partial labels (see
    SCALE.md §dedup-clustering; unreachable for any graph with
    diameter < 2^CLUSTER_MAX_ITERS).

    Shuffle partitions for the loop are sized to the EDGE COUNT, not
    the session's core-count default: every round schedules ~2 join
    jobs whose per-partition state-less fixed cost (task scheduling,
    shuffle block bookkeeping) dominates when the near-dup edge frame
    is orders of magnitude smaller than the corpus — the same
    size-the-partitions-to-the-data rule as the streaming state
    stores. Callers pass a checkpointed ``sym`` (all three call sites
    do), so the sizing count() is a cheap in-memory scan; the target
    rows/partition is ``CC_EDGES_PER_PARTITION`` and, through
    ``session.shuffle_partitions_at_most``, the cap never EXCEEDS the
    session value, so a cluster session sized for petabyte shuffles
    keeps its parallelism. Labels are bounded by edges (only endpoint
    vertices are labeled), so one target serves both frames. The cap
    is session-global for the loop's duration: a query planned
    concurrently on this session sees the reduced partition count, and
    every other capped section (a stream start, another CC loop)
    waits for the loop to end."""
    n_edges = sym.count()
    with shuffle_partitions_at_most(
        sym.sparkSession, -(-n_edges // CC_EDGES_PER_PARTITION)
    ):
        return _cc_loop(sym)


def _cc_loop(sym: DataFrame) -> DataFrame:
    """The pointer-doubling rounds of ``connected_components`` (runs
    under its edge-sized shuffle-partition cap)."""
    labels = (
        sym.select(F.col("d1").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CLUSTER_MAX_ITERS):
        neighbor_min = (
            sym.join(labels, sym.d2 == labels.doc_id)
            .groupBy(F.col("d1").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        hooked = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                "hook"
            ),
        )
        # pointer doubling: follow the hooked label one more step —
        # every label value is itself a doc_id key in `hooked`
        via = hooked.select(
            F.col("doc_id").alias("via_id"), F.col("hook").alias("via_label")
        )
        new_labels = (
            hooked.join(via, hooked.hook == via.via_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("hook"), F.coalesce("via_label", F.col("hook"))
                ).alias("label"),
                "old_label",
            )
            .withColumn("changed", F.col("label") < F.col("old_label"))
            .drop("old_label")
            .localCheckpoint(eager=True)
        )
        n_changed = new_labels.filter("changed").count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CLUSTER_MAX_ITERS} "
            "rounds — graph diameter exceeds 2^cap, which no near-dup "
            "corpus should reach (see SCALE.md)"
        )
    return labels


@register(
    oracle=f"""
WITH RECURSIVE {_SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT p.d1, p.d2
  FROM pairs p
  JOIN cnt c1 ON c1.doc_id = p.d1
  JOIN cnt c2 ON c2.doc_id = p.d2
  WHERE CAST(p.n_common AS DOUBLE) / CAST(c1.n + c2.n - p.n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT d1 AS a, d2 AS b FROM edges
  UNION
  SELECT d2 AS a, d1 AS b FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
FROM reach
GROUP BY a
ORDER BY doc_id
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph (3-gram Jaccard ≥
    0.5 edges): every doc in a duplicate cluster labeled with its
    cluster's minimum doc_id — the keep-one/purge-rest step of a real
    dedup pipeline. Algorithm + scale bound: see
    ``connected_components`` (O(log diameter) rounds via pointer
    doubling; at 100 TB the edge list is the LSH candidate output, so
    work ∝ near-dups, and the per-round cost is two key-partitioned
    joins + one aggregation).

    DuckDB oracle: recursive-CTE transitive closure with min-reachable
    labels — an exact cross-engine check of an iterative graph
    algorithm."""
    # checkpoint the DIRECTED pairs FIRST: the symmetrizing union
    # references them twice, and without this the whole LSH+verify
    # pair pipeline evaluates once per branch (measured: the second
    # evaluation cost ~2.6 s warm at sf0.1 — the k-core lazy-reference
    # lesson applied one level further down)
    edges = (
        threshold_jaccard_pairs(spark, sf_dir)
        .select("d1", "d2")
        .localCheckpoint(eager=True)
    )
    sym = edges.union(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).localCheckpoint(eager=True)
    labels = connected_components(sym)
    return labels.select("doc_id", F.col("label").alias("cluster_id")).orderBy(
        "doc_id"
    )


# -------------------------------------------- edit-distance verification

LEV_RATIO_MAX = 0.3  # pairs within 30% relative edit distance are dups


@register(
    oracle=f"""
WITH {_SIMHASH_CTE},
cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM sig a
  JOIN sig b ON a.simhash >> {SIMHASH_BUCKET_SHIFT} = b.simhash >> {SIMHASH_BUCKET_SHIFT}
            AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
),
norm AS (
  SELECT doc_id, {NORM_SQL} AS n FROM documents
)
SELECT c.d1, c.d2,
       CAST(levenshtein(n1.n, n2.n) AS BIGINT) AS lev,
       ROUND(CAST(levenshtein(n1.n, n2.n) AS DOUBLE)
             / greatest(length(n1.n), length(n2.n)), 6) AS edit_ratio,
       CAST(levenshtein(n1.n, n2.n) AS DOUBLE)
             / greatest(length(n1.n), length(n2.n)) <= {LEV_RATIO_MAX} AS is_duplicate
FROM cand c
JOIN norm n1 ON n1.doc_id = c.d1
JOIN norm n2 ON n2.doc_id = c.d2
ORDER BY c.d1, c.d2
""",
)
def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification as a CASCADE: the cheap
    filters run first (simhash bucket equi-candidates, then the
    bit_count hamming gate — both from q_dedup_simhash's plan), and
    only the surviving pairs pay the O(len²)-per-pair ``levenshtein``
    — the standard cheap-sieve→expensive-verify shape for metrics too
    costly to run on raw candidate sets. Work ∝ hamming-confirmed
    near-dups, never n²; the text join is two hash joins keyed on
    doc_id. The relative edit ratio (lev / max len) ≤ {LEV_RATIO_MAX}
    makes the final call."""
    cand = q_dedup_simhash(spark, sf_dir).select("d1", "d2")
    norm = load_table(spark, sf_dir, "documents").select(
        "doc_id", norm_col().alias("n")
    )
    lev = F.levenshtein("n1", "n2").cast("long")
    ratio = lev.cast("double") / F.greatest(F.length("n1"), F.length("n2"))
    return (
        cand.join(norm.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(norm.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1",
            "d2",
            lev.alias("lev"),
            F.round(ratio, 6).alias("edit_ratio"),
            (ratio <= LEV_RATIO_MAX).alias("is_duplicate"),
        )
        .orderBy("d1", "d2")
    )


@register(
    oracle=f"""
WITH fp AS (
  SELECT doc_id, source, md5({NORM_SQL}) AS fingerprint FROM documents
),
by_fp AS (
  SELECT fingerprint,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM fp GROUP BY fingerprint
),
per_source AS (
  SELECT f.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN b.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS cross_dup_docs
  FROM fp f JOIN by_fp b ON b.fingerprint = f.fingerprint
  GROUP BY f.source
)
SELECT source, n_docs, cross_dup_docs,
       CAST(cross_dup_docs * 1000000 // n_docs AS BIGINT) AS cross_dup_ppm
FROM per_source
ORDER BY source
""",
)
def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-source duplication: per feed, how many of its documents
    also appear verbatim in ANOTHER feed — the syndication/mirror-site
    contamination measure (within-source dup rate is
    q_dup_rate_by_source; a doc can be unique inside its feed yet
    syndicated everywhere). One fingerprint shuffle builds the
    per-fingerprint source spread; the per-source rollup joins the
    doc stream back on the same fingerprint key (one hash family —
    text never moves twice). Ratio as exact ppm.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", F.md5(norm_col()).alias("fingerprint"))
    by_fp = fp.groupBy("fingerprint").agg(
        F.countDistinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_docs_fp"),
    )
    per_source = (
        fp.join(by_fp, "fingerprint")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
            .cast("long")
            .alias("cross_dup_docs"),
        )
    )
    return per_source.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "cross_dup_docs",
        exact_ppm(F.col("cross_dup_docs"), F.col("n_docs"))
        .cast("long")
        .alias("cross_dup_ppm"),
    ).orderBy("source")


def _dedup_recall_oracle() -> str:
    """Compose the exact-pair and LSH oracles verbatim, so one driver
    hash pins the eval and both underlying pipelines."""
    from ..registry import _REGISTRY

    exact = _REGISTRY["q_dedup_ngram_jaccard"].oracle
    lsh = _REGISTRY["q_dedup_minhash_lsh"].oracle
    return f"""
WITH truth AS (SELECT d1, d2 FROM ({exact})),
cand AS (SELECT d1, d2, is_duplicate FROM ({lsh}))
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT COUNT(*) FROM cand WHERE is_duplicate) AS BIGINT)
         AS n_verified,
       CAST((SELECT COUNT(*) FROM cand WHERE is_duplicate) * 1000000
            // GREATEST((SELECT COUNT(*) FROM truth), 1) AS BIGINT)
         AS recall_ppm,
       CAST((SELECT COUNT(*) FROM cand WHERE is_duplicate) * 1000000
            // GREATEST((SELECT COUNT(*) FROM cand), 1) AS BIGINT)
         AS precision_ppm
"""


@register(oracle=None)  # bound below
def q_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QUALITY EVAL — the eval leg of the dedup family (exact
    truth: q_dedup_ngram_jaccard; scale path: q_dedup_minhash_lsh):
    how much of the exact near-dup pair set does 16-hash/4-band LSH
    surface (candidate recall — banding's miss rate is the quantity a
    corpus curator must bound before trusting the scale path), and how
    selective are the bands (candidate precision — verified / raised)?
    A verified candidate IS a true pair (candidates are exact-Jaccard
    verified), so recall needs only the two counts. One summary row,
    exact ppm integers; the oracle composes both registered oracle
    texts verbatim.

    Scale shape: inherits both pipelines' audited candidate-bounded
    plans; the eval adds three global counts. At 100 TB the exact side
    runs on a document sample — production LSH recall monitoring."""
    from ..compat import exact_ppm

    truth_n = q_dedup_ngram_jaccard(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    cand = q_dedup_minhash_lsh(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_cand"),
        # coalesce: SUM over zero rows is NULL, the oracle's COUNT is 0
        F.coalesce(F.sum(F.col("is_duplicate").cast("long")), F.lit(0))
        .cast("long")
        .alias("n_verified"),
    )
    return truth_n.crossJoin(F.broadcast(cand)).select(
        "n_true",
        "n_cand",
        "n_verified",
        exact_ppm(
            F.col("n_verified"), F.greatest(F.col("n_true"), F.lit(1))
        ).alias("recall_ppm"),
        exact_ppm(
            F.col("n_verified"), F.greatest(F.col("n_cand"), F.lit(1))
        ).alias("precision_ppm"),
    )


from dataclasses import replace as _dc_replace  # noqa: E402

from ..registry import _REGISTRY as _DEDUP_REG  # noqa: E402

_DEDUP_REG["q_dedup_recall_eval"] = _dc_replace(
    _DEDUP_REG["q_dedup_recall_eval"], oracle=_dedup_recall_oracle()
)
