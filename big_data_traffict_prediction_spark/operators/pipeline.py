"""End-to-end training-data pipeline operators (north-star surface).

``q_corpus_select`` is the capstone composition: quality scoring +
language filter + exact-dedup keep-rule in ONE declarative plan — the
shape of a pre-training corpus selection job. At 100 TB each stage is
a map or a single hash shuffle (the fingerprint groupBy); nothing
collects to the driver.

``q_approx_distinct`` and ``q_stratified_sample`` are the
cardinality/sampling tools of the same pipeline family: a KMV
(bottom-k) sketch for dashboard-grade counts without a full distinct
shuffle, deterministic hash-threshold sampling for reproducible
stratified subsets. Both run on exact integer hash arithmetic, so —
unlike HLL registers or RNG-based sampleBy — they are bit-reproducible
across engines and hash-checked against the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import constant_key, dow0, global_rank, md5_hash, md5_hash_sql
from ..registry import register
from ..tables import load_table
from ..functions.text import EN_MARKERS, NORM_SQL, _in_list_sql, norm_col

QUALITY_MIN = 0.45
CORPUS_LANG = "en"


def quality_score_col() -> F.Column:
    """THE corpus quality score (length / punctuation / stopword mix).
    q_corpus_select, q_quality_percentile_filter and
    q_training_manifest all call this one definition."""
    tokens = F.split(norm_col(), " ")
    n_words = F.size(tokens).cast("long")
    n_chars_norm = F.length(norm_col()).cast("long")
    punct = F.size(F.regexp_extract_all(norm_col(), F.lit(r"[^a-z0-9 ]"), 0)).cast(
        "long"
    )
    stops = F.size(F.filter(tokens, lambda w: w.isin(*EN_MARKERS))).cast("long")
    return (
        0.4 * F.least(F.lit(1.0), n_words.cast("double") / 100.0)
        + 0.3 * (1.0 - punct.cast("double") / n_chars_norm.cast("double"))
        + 0.3 * (stops.cast("double") / n_words.cast("double"))
    )


# SQL twin: the m-CTE body (raw counts) and the score expression over it.
QUALITY_M_SQL = f"""SELECT doc_id, source, lang,
         CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT) AS n_words,
         CAST(length({NORM_SQL}) AS BIGINT) AS n_chars_norm,
         CAST(len(regexp_extract_all({NORM_SQL}, '[^a-z0-9 ]')) AS BIGINT) AS punct_chars,
         CAST(len(list_filter(string_split({NORM_SQL}, ' '),
              w -> list_contains({_in_list_sql(EN_MARKERS)}, w))) AS BIGINT) AS stop_words,
         md5({NORM_SQL}) AS fingerprint
  FROM documents"""

QUALITY_SCORE_SQL = """0.4 * LEAST(1.0, CAST(n_words AS DOUBLE) / 100.0)
           + 0.3 * (1.0 - CAST(punct_chars AS DOUBLE) / CAST(n_chars_norm AS DOUBLE))
           + 0.3 * (CAST(stop_words AS DOUBLE) / CAST(n_words AS DOUBLE))"""


@register(
    oracle=f"""
WITH m AS (
  {QUALITY_M_SQL}
), scored AS (
  SELECT doc_id, lang, n_words, fingerprint,
         {QUALITY_SCORE_SQL} AS quality_score
  FROM m
), keep AS (
  SELECT fingerprint, MIN(doc_id) AS keep_doc_id
  FROM scored GROUP BY fingerprint
)
SELECT s.doc_id, s.lang, s.n_words,
       ROUND(s.quality_score, 6) AS quality_score
FROM scored s
JOIN keep k ON k.fingerprint = s.fingerprint AND k.keep_doc_id = s.doc_id
WHERE s.lang = '{CORPUS_LANG}' AND s.quality_score >= {QUALITY_MIN}
ORDER BY s.doc_id
""",
)
def q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus selection: language filter + quality threshold +
    exact-dedup keep-rule composed into one plan. The dedup keep is
    ``row_number() = 1`` over a FINGERPRINT-PARTITIONED window: all
    text-derived columns (score, fingerprint, word count) are computed
    map-side, so the single shuffle carries five small columns — never
    text — and the documents scan runs ONCE. (The earlier
    groupBy(fingerprint).min + self-join form re-scanned the corpus
    and re-ran the normalize/regex pipeline on the keep branch, and
    shuffled both branches; measured 2× slower at sf0.1.) The window
    partitions on the high-cardinality fingerprint; a hot fingerprint
    is one exact-dup cluster, and its partition cost is a streaming
    row_number after the sort, not a pair expansion."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.split(norm_col(), " ")).cast("long").alias("n_words"),
        F.md5(norm_col()).alias("fingerprint"),
        quality_score_col().alias("quality_score"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("lang") == CORPUS_LANG)
            & (F.col("quality_score") >= QUALITY_MIN)
        )
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.round("quality_score", 6).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


# KMV (k-minimum-values / bottom-k) cardinality sketch over a
# deterministic multiplicative hash — unlike HyperLogLog (whose
# register layout is engine-private) the whole sketch is exact integer
# arithmetic both engines reproduce bit-for-bit. Hash: glibc LCG
# constants (public), range [0, 2^31); (x mod M) first keeps every
# intermediate below 2^62 — no int64 overflow at any id magnitude.
KMV_K = 1024
HASH_M = 2**31
HASH_A = 1103515245
HASH_C = 12345


# ONE hash definition, two renditions that must stay in lock-step:
# the Spark Column expression and its SQL twin. KMV and the stratified
# sampler differ only in the additive constant (the sampler's "seed").
def _mul_hash(col: F.Column, add: int) -> F.Column:
    return F.pmod(
        F.pmod(col, F.lit(HASH_M)) * F.lit(HASH_A) + F.lit(add), F.lit(HASH_M)
    )


def _mul_hash_sql(col: str, add: int) -> str:
    # pmod-equivalent on purpose: Spark's pmod is always non-negative
    # while SQL % follows the dividend's sign, so each % is folded back
    # into [0, M) — the two renditions agree for NEGATIVE ids too, not
    # just the testdata's non-negative ones.
    inner = f"(({col} % {HASH_M}) + {HASH_M}) % {HASH_M}"
    return f"((({inner} * {HASH_A} + {add}) % {HASH_M}) + {HASH_M}) % {HASH_M}"


def _kmv_estimate(df: DataFrame, col: str) -> DataFrame:
    """Bottom-KMV_K distinct hashes → (n_kept, h_k). Estimate is the
    standard (k-1)·M / h_(k); below k distinct values the sketch holds
    the whole (hashed) value set, so the count itself is the answer."""
    bottom = (
        df.select(_mul_hash(F.col(col), HASH_C).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )
    return bottom.agg(
        F.when(
            F.count(F.lit(1)) < KMV_K, F.count(F.lit(1))
        )
        .otherwise(
            F.call_function("div", F.lit((KMV_K - 1) * HASH_M), F.max("h"))
        )
        .alias(f"{col}_kmv")
    )


def _kmv_sql(col: str) -> str:
    h = _mul_hash_sql(col, HASH_C)
    return f"""(
  SELECT CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS BIGINT)
              ELSE CAST({(KMV_K - 1) * HASH_M} // MAX(h) AS BIGINT) END
  FROM (SELECT h FROM (SELECT DISTINCT {h} AS h FROM events)
        ORDER BY h LIMIT {KMV_K})
)"""


@register(
    oracle=f"""
SELECT {_kmv_sql("user_id")} AS user_id_kmv,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       {_kmv_sql("event_id")} AS event_id_kmv,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
""",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counts via a KMV (bottom-k) sketch next to
    the exact count — the cardinality tool for 100 TB dashboards where
    an exact distinct shuffle is not worth it. The k smallest distinct
    hash values flow as TakeOrderedAndProject (per-partition bottom-k,
    then a k-row merge — never a full sort); estimate = (k−1)·M / h_(k).
    Deterministic integer hashing makes the sketch itself oracle-able
    cross-engine, unlike approx_count_distinct's HLL registers. At 100 TB
    a pre-filter h < t·M (t from a cheap upstream count) would bound the
    distinct shuffle to the sketch's survivors; at any size the answer
    is identical."""
    e = load_table(spark, sf_dir, "events")
    users = _kmv_estimate(e, "user_id")
    events_ = _kmv_estimate(e, "event_id")
    exact = e.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        users.crossJoin(events_)
        .crossJoin(exact)
        .select("user_id_kmv", "exact_users", "event_id_kmv", "n_rows")
    )


# HyperLogLog with ENGINE-NEUTRAL registers — the mergeable cardinality
# sketch actually used at 100 TB, rebuilt so the register layout is
# deterministic integer arithmetic both engines reproduce bit-for-bit
# (approx_count_distinct's HLL++ registers are JVM-private and can only
# ever be rows-only; this one is fully oracle-checked).
#
# Layout: 40-bit md5 hash → top HLL_P bits pick one of HLL_M registers,
# the low HLL_W bits w give the rank as 1 + count-trailing-zeros(w)
# (the Flajolet–Martin ρ on the low-order side — trailing zeros of
# uniform bits are geometric exactly like leading zeros, and
# `1 + bit_count((w & -w) - 1)` stays in pure int64 where a log2-based
# leading-zero count would drag in floats). w == 0 caps the rank at
# HLL_W + 1. The estimator keeps every step integral: with
# denom = Σ_j 2^(HLL_W+1-M[j])  (empty registers contribute 2^(HLL_W+1))
# the raw HLL estimate α·m²/Σ2^(−M[j]) becomes
# HLL_NUMER // (1000 · denom), where HLL_NUMER = ⌊α_m·m²·1000⌋·2^(HLL_W+1)
# precomputed in Python (~1e17, inside int64; denom ≤ m·2^(HLL_W+1) ≈
# 2^41, ×1000 still inside int64). Identical floor steps on both
# engines → hash-equal estimates.
HLL_P = 6
HLL_M = 1 << HLL_P  # 64 registers
HLL_W = 40 - HLL_P  # 34 rank bits
HLL_MAX_RANK = HLL_W + 1  # 35: rank when the low word is all zeros
_HLL_ALPHA1000 = int(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * 1000)
HLL_NUMER = _HLL_ALPHA1000 * (1 << HLL_MAX_RANK)
_HLL_WMOD = 1 << HLL_W  # bucket = h // _HLL_WMOD, w = h % _HLL_WMOD

# Small-range correction (the published HLL algorithm, Flajolet et al.
# 2007 Fig. 3): when the raw estimate is ≤ 2.5·m and some registers
# are still zero, linear counting m·ln(m/V) is the better estimator
# (raw HLL reads ~3.5× high at n ≪ m — caught by the calibration
# test). ln would be a cross-engine float; V only takes HLL_M values,
# so the whole correction is a CASE lookup of integer literals
# precomputed here — both engines evaluate the identical table.
_HLL_LC = {v: round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)}
_HLL_RAW_CUTOFF = 5 * HLL_M // 2  # 2.5·m, integral for m a power of two


def _hll_final_sql(raw: str, v: str) -> str:
    """One shared SQL rendition of the estimator's range dispatch —
    F.expr()'d on the Spark side and inlined in the oracle, so the
    two engines cannot drift."""
    whens = " ".join(f"WHEN {k} THEN {est}" for k, est in _HLL_LC.items())
    return (
        f"CAST(CASE WHEN {v} > 0 AND {raw} <= {_HLL_RAW_CUTOFF} "
        f"THEN (CASE {v} {whens} END) ELSE {raw} END AS BIGINT)"
    )


def hll_bucket_col(h: Column) -> Column:
    """HLL register bucket of a hash column: its top HLL_P bits."""
    return F.call_function("div", h, F.lit(_HLL_WMOD))


def hll_rank_col(h: Column) -> Column:
    """HLL register rank of a hash column (NULL-safe: NULL hash →
    NULL rank, which max() then ignores)."""
    w = h % F.lit(_HLL_WMOD)
    return (
        F.when(w == 0, F.lit(HLL_MAX_RANK))
        .otherwise(F.lit(1) + F.bit_count(w.bitwiseAND(-w) - 1))
        .cast("int")
    )


# The SQL rendition of hll_bucket_col and hll_rank_col over a hash
# column `h`, and of _hll_estimate's raw estimate and empty-register
# count over one group of (bucket, reg) rows.
_HLL_CELL_SQL = f"""h // {_HLL_WMOD} AS bucket,
         CASE WHEN h % {_HLL_WMOD} = 0 THEN {HLL_MAX_RANK}
              ELSE 1 + bit_count(((h % {_HLL_WMOD}) & (-(h % {_HLL_WMOD}))) - 1)
         END AS rank"""
_HLL_RAW_SQL = f"""{HLL_NUMER} // (1000 * (CAST(SUM(1::BIGINT << ({HLL_MAX_RANK} - reg)) AS BIGINT)
             + ({HLL_M} - COUNT(*)) * {1 << HLL_MAX_RANK}))"""
_HLL_V_SQL = f"{HLL_M} - COUNT(*)"


def _hll_registers(e: DataFrame, grp: F.Column) -> DataFrame:
    """(grp, bucket, reg): max rank per (group, register bucket).

    One groupBy with map-side partial max — at 100 TB the register
    build is a pure scan + combine down to |groups|·HLL_M tiny rows;
    every downstream step (estimate, merge) runs on registers only."""
    h = md5_hash(F.concat(F.lit("hll#"), F.col("user_id").cast("string")), 10)
    hb = e.filter(F.col("user_id").isNotNull()).select(
        grp.alias("grp"),
        "user_id",
        h.alias("h"),
    )
    return (
        hb.select(
            "grp",
            hll_bucket_col(F.col("h")).alias("bucket"),
            hll_rank_col(F.col("h")).alias("rank"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def _hll_estimate(regs: DataFrame) -> DataFrame:
    """(grp, hll_users) from a register frame — pure int64 floor math,
    with the table-driven linear-counting dispatch for the small
    range (see _HLL_LC)."""
    denom = F.sum(
        F.expr(f"shiftleft(cast(1 as bigint), {HLL_MAX_RANK} - reg)")
    ) + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << HLL_MAX_RANK)
    return (
        regs.groupBy("grp")
        .agg(
            denom.alias("_d"),
            (F.lit(HLL_M) - F.count(F.lit(1))).alias("_v"),
        )
        .select(
            "grp",
            F.call_function(
                "div", F.lit(HLL_NUMER), F.lit(1000) * F.col("_d")
            ).alias("_raw"),
            "_v",
        )
        .select("grp", F.expr(_hll_final_sql("_raw", "_v")).alias("hll_users"))
    )


_HLL_H_SQL = md5_hash_sql("'hll#' || CAST(user_id AS VARCHAR)", 10)


@register(
    oracle=f"""
WITH base AS (
  SELECT event_type, user_id, {_HLL_H_SQL} AS h
  FROM events WHERE user_id IS NOT NULL
),
hb AS (
  SELECT event_type AS grp, {_HLL_CELL_SQL}
  FROM base
),
regs AS (
  SELECT grp, bucket, MAX(rank) AS reg FROM hb GROUP BY 1, 2
),
allregs AS (
  SELECT grp, bucket, reg FROM regs
  UNION ALL
  SELECT '__all__' AS grp, bucket, MAX(reg) AS reg FROM regs GROUP BY 2
),
est0 AS (
  SELECT grp,
         {_HLL_RAW_SQL} AS raw,
         {_HLL_V_SQL} AS v
  FROM allregs GROUP BY 1
),
est AS (
  -- the SAME range dispatch the Spark side F.expr()s
  -- (_hll_final_sql): the raw-only form silently diverged from the
  -- engine in the linear-counting range (caught at sf0.001 this
  -- round; sf0.01+ sits in the raw range so earlier draws agreed)
  SELECT grp, {_hll_final_sql("raw", "v")} AS hll_users FROM est0
),
exact AS (
  SELECT event_type AS grp, COUNT(DISTINCT user_id) AS exact_users
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
  UNION ALL
  SELECT '__all__' AS grp, COUNT(DISTINCT user_id) AS exact_users
  FROM events WHERE user_id IS NOT NULL
)
SELECT e.grp, CAST(e.hll_users AS BIGINT) AS hll_users,
       CAST(x.exact_users AS BIGINT) AS exact_users,
       CAST(ABS(e.hll_users - x.exact_users) * 1000000 // x.exact_users AS BIGINT)
         AS err_ppm
FROM est e JOIN exact x ON x.grp = e.grp
ORDER BY e.grp
""",
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimates per event type PLUS the
    register-wise-max MERGE of all per-type sketches ('__all__' row) —
    the estimate/merge/verify loop of a 100 TB cardinality dashboard.
    The merged row is the point: sketch union is a 64-row max, no
    rescan of the facts, and because user populations OVERLAP across
    event types the union estimate is far below the sum of the parts —
    exactly what registers-as-state buys over per-group counts.
    err_ppm pins the estimator against the exact distinct (≈ ±13%
    typical at m=64) so the oracle checks calibration, not just code."""
    e = load_table(spark, sf_dir, "events")
    # register frame is (types × 64) rows but fed two consumers (the
    # per-type estimates and the register-wise merge): eager checkpoint
    # runs the fact pass once (r13 opt round)
    regs = _hll_registers(e, F.col("event_type")).localCheckpoint(eager=True)
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .select(F.lit("__all__").alias("grp"), "bucket", "reg")
    )
    est = _hll_estimate(regs.unionByName(merged))
    base = e.filter(F.col("user_id").isNotNull())
    # per-type exact AND the '__all__' exact in ONE fact pass: rollup
    # gives the per-type groups plus the grand total; grouping() maps
    # the total row (not a NULL type value) to '__all__' (r13 opt
    # round — was two separate countDistinct scans)
    exact = base.rollup("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.grouping("event_type").alias("_g"),
    ).select(
        F.when(F.col("_g") == 1, F.lit("__all__"))
        .otherwise(F.col("event_type"))
        .alias("grp"),
        "exact_users",
    )
    err = F.call_function(
        "div",
        F.abs(F.col("hll_users") - F.col("exact_users")) * F.lit(1_000_000),
        F.col("exact_users"),
    )
    return (
        est.join(exact, "grp")
        .select("grp", "hll_users", "exact_users", err.alias("err_ppm"))
        .orderBy("grp")
    )


SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "es": 0.25}
SAMPLE_SEED = 42
# Per-stratum integer thresholds over the hash range: keep a doc iff
# hash(doc_id) < frac · M. Deterministic (the "seed" offsets the hash),
# reproducible across runs/engines, and a pure map-side filter.
SAMPLE_THRESHOLDS = {
    lang: int(frac * HASH_M) for lang, frac in SAMPLE_FRACTIONS.items()
}


@register(
    oracle=f"""
WITH th(lang, threshold) AS (VALUES {", ".join(
        f"('{lang}', {t})" for lang, t in sorted(SAMPLE_THRESHOLDS.items())
    )}),
scored AS (
  SELECT d.lang,
         ({_mul_hash_sql("d.doc_id", SAMPLE_SEED)}
            < COALESCE(th.threshold, 0)) AS keep
  FROM documents d LEFT JOIN th ON d.lang = th.lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS achieved_ppm
FROM scored GROUP BY lang ORDER BY lang
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: a doc is kept iff
    its seeded multiplicative hash lands below the stratum's threshold
    (frac · M) — the reproducible data-selection primitive for mixture
    tuning. Unlike ``sampleBy`` (partition-order-dependent RNG), hash
    membership is a property of the ROW, so the sample is stable under
    repartitioning, retries, and engine changes — what a training-data
    pipeline actually needs for auditable subsets — and the whole
    selection is one map-side filter against a broadcast threshold map
    (no shuffle before the per-stratum tally). Rates ship as exact ppm
    integers so both engines hash-match."""
    d = load_table(spark, sf_dir, "documents")
    th = F.create_map(
        *[x for lang, t in sorted(SAMPLE_THRESHOLDS.items()) for x in (F.lit(lang), F.lit(t))]
    )
    scored = d.select(
        "lang",
        (
            _mul_hash(F.col("doc_id"), SAMPLE_SEED)
            < F.coalesce(th[F.col("lang")], F.lit(0))
        ).alias("keep"),
    )
    n_sampled = F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long")
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            n_sampled.alias("n_sampled"),
        )
        .select(
            "lang",
            "n_total",
            "n_sampled",
            F.call_function(
                "div", F.col("n_sampled") * F.lit(1_000_000), F.col("n_total")
            ).alias("achieved_ppm"),
        )
        .orderBy("lang")
    )


@register(
    oracle=f"""
WITH t AS (
  SELECT lang, CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), g AS (
  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM t GROUP BY lang
)
SELECT lang, n_docs, total_tokens,
       ROUND(CAST(total_tokens AS DOUBLE) / SUM(CAST(total_tokens AS DOUBLE)) OVER (), 6) AS token_share
FROM g
ORDER BY lang
""",
)
def q_lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture statistics: per-language doc and (whitespace)
    token totals with each language's share of the total token budget —
    the numbers a data-mixture tuner actually reads. One grouped agg
    + a broadcast grand-total scalar; nothing but the tiny aggregate
    ever moves."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("lang", F.size(F.split(norm_col(), " ")).cast("long").alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    # broadcast-scalar total instead of an empty-partition window:
    # same exact value (integer-valued double sum < 2^53), no
    # single-partition WindowExec move, no log warning
    grand = g.agg(F.sum(F.col("total_tokens").cast("double")).alias("grand"))
    return (
        g.crossJoin(F.broadcast(grand))
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("grand"), 6
            ).alias("token_share"),
        )
        .orderBy("lang")
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel_counts(e: DataFrame) -> DataFrame:
    """Per-stage funnel user counts over an events frame — the
    one-pass form of the chained time-conditioned joins (r13 opt
    round: the join chain re-planned each stage's predecessors, 6
    fact scans + 3 join shuffle families for three counts; this is 1
    scan + 1 user-keyed window family + 1 aggregation).

    Running-min windows reproduce the join semantics exactly:
    - t1r = min view ts so far; a click qualifies iff ts > t1r —
      equivalent to ts > t1 (the GLOBAL first view): the global first
      view sorts before any strictly-later click, and an equal-ts view
      fails the strict > either way.
    - t2r = min qualifying-click ts so far; a purchase qualifies iff
      ts > t2r, same argument one stage up.
    - The join chain silently drops NULL user_ids past stage 1 (NULL
      never equi-joins) while the view count keeps the NULL group.
      NULL-user rows are split out BEFORE the window (r14, r13
      ADVICE + guide §2.5 — the NULL group is the classic hot window
      partition: every anonymous event lands in one task): they can
      only ever contribute a single view-existence flag to stage 1,
      computed as a map-side-combined aggregate and added back to n1.
    Tie/NULL/out-of-order semantics are pinned by
    tests/test_analytics.py::test_funnel_one_pass_matches_join_semantics."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # non-stage event types cannot affect any count (the windows read
    # only view/click, the flags only the three stages) — filter them
    # before the user-keyed window shuffle
    e = e.filter(F.col("event_type").isin(*FUNNEL_STAGES))
    # window pipeline over NON-NULL users only; the previous in-row
    # isNotNull() guards on qc/a3 are subsumed by the split
    s1 = (
        e.filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_type")
        .withColumn(
            "t1r",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
    )
    s2 = s1.withColumn(
        "qc",
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1r")),
            F.col("ts"),
        ),
    )
    s3 = s2.withColumn("t2r", F.min("qc").over(w))
    per_user = s3.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("a1"),
        F.max(F.col("qc").isNotNull().cast("int")).alias("a2"),
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2r"))).cast(
                "int"
            )
        ).alias("a3"),
    )
    # the NULL group's only possible contribution: +1 to the stage-1
    # count when any NULL-user view exists (GROUP BY keeps NULL as one
    # group; stages 2-3 need the equi-join that NULL never passes) —
    # one global max, collapsed map-side, no hot window partition
    null_a1 = e.filter(F.col("user_id").isNull()).agg(
        F.coalesce(
            F.max((F.col("event_type") == "view").cast("long")), F.lit(0)
        ).alias("null_a1")
    )
    # coalesce: SUM over an empty per_user frame is NULL where the
    # chained-join form (and the oracle's COUNT) yields 0
    tot = (
        per_user.agg(
            F.coalesce(F.sum("a1"), F.lit(0)).alias("nn1"),
            F.coalesce(F.sum("a2"), F.lit(0)).alias("n2"),
            F.coalesce(F.sum("a3"), F.lit(0)).alias("n3"),
        )
        .crossJoin(F.broadcast(null_a1))
        .select((F.col("nn1") + F.col("null_a1")).alias("n1"), "n2", "n3")
    )
    return (
        tot.select(
            F.expr(
                "stack(3, 'view', CAST(1 AS BIGINT), n1,"
                " 'click', CAST(2 AS BIGINT), n2,"
                " 'purchase', CAST(3 AS BIGINT), n3) AS (stage, stage_no, n_users)"
            )
        )
        .select("stage", "stage_no", F.col("n_users").cast("long").alias("n_users"))
        .orderBy("stage_no")
    )


@register(
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT stage, stage_no, n_users FROM (
  SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_no, COUNT(*) AS n_users FROM v
  UNION ALL
  SELECT 'click', 2, COUNT(*) FROM c
  UNION ALL
  SELECT 'purchase', 3, COUNT(*) FROM p
) ORDER BY stage_no
""",
)
def q_funnel_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: users whose earliest 'view' is followed by a
    later 'click', followed by a later 'purchase' — the event-sequence
    pattern (MATCH_RECOGNIZE territory). One fact pass: user-keyed
    running-min windows mark each row's stage qualification and a
    single aggregation counts survivors (see funnel_counts for the
    equivalence argument vs the chained-join form the oracle keeps)."""
    return funnel_counts(load_table(spark, sf_dir, "events"))


from ..functions.curation import (  # noqa: E402  (shared stage logic)
    MIX_KEY_SQL,
    MIX_RATE_SCALE,
    MIX_RATES_SQL,
    PACK_BUDGET,
    mixture_key,
    mixture_rates,
    pack_positions,
)

_MANIFEST_ORACLE = f"""
WITH m AS (
  {QUALITY_M_SQL}
), scored AS (
  SELECT doc_id, source, lang, n_words AS n_tokens, fingerprint,
         {QUALITY_SCORE_SQL} AS quality_score
  FROM m
), keep AS (
  SELECT fingerprint, MIN(doc_id) AS keep_doc_id FROM scored GROUP BY fingerprint
), surv AS (
  SELECT s.doc_id, s.source, s.n_tokens
  FROM scored s
  JOIN keep k ON k.fingerprint = s.fingerprint AND k.keep_doc_id = s.doc_id
  WHERE s.lang = '{CORPUS_LANG}' AND s.quality_score >= {QUALITY_MIN}
), src AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM surv GROUP BY source
), {MIX_RATES_SQL.replace("{SRC}", "src")}, sel AS (
  SELECT s.doc_id, s.source, s.n_tokens, r.rate_ppm
  FROM surv s JOIN r USING (source)
  WHERE {MIX_KEY_SQL.replace("{D}", "s")} % {MIX_RATE_SCALE} < r.rate_ppm
), packed AS (
  SELECT doc_id, source, n_tokens, rate_ppm,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM sel
)
SELECT doc_id, source, n_tokens, rate_ppm,
       CAST(tokens_before // {PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(tokens_before % {PACK_BUDGET} AS BIGINT) AS seq_offset
FROM packed
ORDER BY source, doc_id
"""


@register(oracle=_MANIFEST_ORACLE)
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training data pipeline as ONE declarative plan:
    exact-dedup keep-rule → language + quality filter → temperature
    mixture sampling over the SURVIVING per-source token mass →
    deterministic hash selection → sequence packing. The output is a
    training manifest: which documents go into which fixed-budget
    sequence, at which offset, and under which source sampling rate.

    Every stage reuses an already-oracled operator's exact formula
    (q_corpus_select scoring, q_dedup_exact keep, q_mixture_sample
    rates, q_pack_sequences window), so this is the integration proof
    that the pieces compose. Shuffle budget at 100 TB: fingerprint
    groupBy (1), dimension-sized source aggregate + broadcast rates
    (facts never move), packing window (1) — three key families total,
    no driver-side step anywhere."""
    d = load_table(spark, sf_dir, "documents")
    # scored feeds BOTH sides of the keep self-join (plus, through
    # surv, the source aggregate): one eager checkpoint runs the
    # normalize+quality scoring pass once instead of once per consumer
    # (r13 opt round — same doc-grain materialization rule as
    # q_dedup_minhash_lsh; interleaved A/B at sf0.1: 2.4-3.8 →
    # 1.9-2.2 s under matched ambient).
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(norm_col(), " ")).cast("long").alias("n_tokens"),
        F.md5(norm_col()).alias("fingerprint"),
        quality_score_col().alias("quality_score"),
    ).localCheckpoint(eager=True)
    keep = (
        scored.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .withColumnRenamed("fingerprint", "keep_fp")
    )
    surv = (
        scored.join(
            keep,
            (F.col("fingerprint") == F.col("keep_fp"))
            & (F.col("doc_id") == F.col("keep_doc_id")),
        )
        .filter(
            (F.col("lang") == CORPUS_LANG) & (F.col("quality_score") >= QUALITY_MIN)
        )
        .select("doc_id", "source", "n_tokens")
    )
    src = surv.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("src_tokens"))
    r = mixture_rates(src)
    sel = surv.join(F.broadcast(r), "source").filter(
        mixture_key() % MIX_RATE_SCALE < F.col("rate_ppm")
    )
    return (
        pack_positions(sel)
        .select("doc_id", "source", "n_tokens", "rate_ppm", "seq_id", "seq_offset")
        .orderBy("source", "doc_id")
    )


QUALITY_PCT = 0.25  # drop the bottom quartile by quality score


_QUALITY_CTES = f"""
WITH m AS (
  {QUALITY_M_SQL}
), scored AS (
  SELECT doc_id, source, n_words AS n_tokens,
         {QUALITY_SCORE_SQL} AS quality_score
  FROM m
), thr AS (
  SELECT ROUND(quantile_cont(quality_score, {QUALITY_PCT}), 6) AS p_low FROM scored
)
"""


@register(
    oracle=_QUALITY_CTES
    + """
SELECT s.doc_id, s.source, s.n_tokens,
       ROUND(s.quality_score, 6) AS quality_score, t.p_low
FROM scored s, thr t
WHERE s.quality_score >= t.p_low
ORDER BY s.doc_id
""",
)
def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering against a GLOBAL percentile instead of a fixed
    threshold (the corpus-adaptive form real pipelines use: drop the
    bottom quartile wherever the quartile lands).

    100 TB plan: Spark's exact ``percentile`` aggregate buffers every
    distinct value in ONE task — corpus-sized state. Instead the two
    order statistics the interpolated quantile needs (the elements at
    ranks ``floor((n-1)p)`` and ``ceil((n-1)p)``) come from
    ``compat.global_rank``: a distributed range sort ranks the scores
    across range partitions in parallel, the two bracketing rows are
    filtered out by rank, and one 2-row aggregate interpolates —
    exactly Spark's/DuckDB's ``quantile_cont`` arithmetic with no
    unbounded buffer anywhere. The threshold then broadcasts back as a
    one-row cross join — the q15/q11 scalar pattern; facts never
    shuffle for the filter itself.

    Cross-engine exactness: linear interpolation over the same two
    score doubles; the threshold is rounded to 6 places in BOTH
    engines before the comparison so the boundary decision can't
    diverge."""
    d = load_table(spark, sf_dir, "documents")
    # Narrow scored projection materialized ONCE (lazy localCheckpoint,
    # 4 scalar columns — text never persists): the threshold branch and
    # the final filter branch otherwise each re-run the regex scoring
    # over the full corpus.
    scored = d.select(
        "doc_id",
        "source",
        F.size(F.split(norm_col(), " ")).cast("long").alias("n_tokens"),
        quality_score_col().alias("quality_score"),
    ).localCheckpoint(eager=False)
    ranked = global_rank(
        scored.select("quality_score", "doc_id"), ["quality_score", "doc_id"]
    )
    idx = (F.col("_n") - 1) * F.lit(QUALITY_PCT)
    lo_rk = F.floor(idx) + 1
    hi_rk = F.least(F.floor(idx) + 2, F.col("_n"))
    bracket = ranked.filter((F.col("_rk") == lo_rk) | (F.col("_rk") == hi_rk))
    frac = idx - F.floor(idx)
    thr = bracket.agg(
        F.round(
            F.min(F.when(F.col("_rk") == lo_rk, F.col("quality_score")))
            + F.max(frac)
            * (
                F.min(F.when(F.col("_rk") == hi_rk, F.col("quality_score")))
                - F.min(F.when(F.col("_rk") == lo_rk, F.col("quality_score")))
            ),
            6,
        ).alias("p_low")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_score") >= F.col("p_low"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round("quality_score", 6).alias("quality_score"),
            "p_low",
        )
        .orderBy("doc_id")
    )


RESERVOIR_K = 100


@register(
    oracle=f"""
WITH h AS (
  SELECT doc_id, source, n_chars,
         {md5_hash_sql("'rsv#' || CAST(doc_id AS VARCHAR)", 15)}
           AS sort_key
  FROM documents
),
r AS (
  SELECT *, row_number() OVER (ORDER BY sort_key, doc_id) AS rk FROM h
)
SELECT doc_id, source, n_chars, sort_key
FROM r WHERE rk <= {RESERVOIR_K}
ORDER BY sort_key, doc_id
""",
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-sample: rank every document by a salted
    md5 of its id and keep the K smallest — the distributed, RERUNNABLE
    replacement for reservoir sampling (same marginal uniformity; the
    hash is the random tape, so the sample is identical across
    engines, partitionings and reruns — q_stratified_sample's seeded
    RNG twin can only be rows-only). orderBy+limit plans as
    TakeOrderedAndProject: per-partition top-K heaps + a K-row driver
    merge, never a global sort — the selection cost is O(corpus) map
    work regardless of K.
    """
    h = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        md5_hash(F.concat(F.lit("rsv#"), F.col("doc_id").cast("string")), 15).alias(
            "sort_key"
        ),
    )
    return h.orderBy("sort_key", "doc_id").limit(RESERVOIR_K)


# Priority sampling (Duffield-Lund-Thorup 2007): weighted sampling
# without replacement with an unbiased Horvitz-Thompson total
# estimator — THE one-pass distributed answer to "sample documents
# proportional to token budget". priority_i = w_i / u_i with u_i
# uniform; here u_i = (h_i + 1) / 2^40 from the salted-md5 tape, so
# priority = (w_i << 40) // (h_i + 1) is EXACT int64 (w ≤ ~10^4 chars
# → w·2^40 ≤ ~10^16) and the whole sample + estimator is
# bit-reproducible across engines, reruns, and partitionings.
PRIORITY_K = 200
PRIORITY_SCALE = 1 << 40  # matches the 40-bit hash range


def _priority_top(spark: SparkSession, sf_dir: str):
    """LAZY top-(K+1) priority selection (q_weighted_sample's
    selection stage): plans as TakeOrderedAndProject — per-partition
    heaps + a (K+1)-row merge, never a global corpus sort (the plan
    assert targets this frame)."""
    from pyspark.sql import Window

    keyed = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("weight"),
        F.call_function(
            "div",
            F.col("n_chars") * F.lit(PRIORITY_SCALE),
            md5_hash(F.concat(F.lit("ws#"), F.col("doc_id").cast("string")), 10) + 1,
        ).alias("priority"),
    )
    return (
        keyed.orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(PRIORITY_K + 1)
        .withColumn(
            "rk",
            F.row_number().over(
                # bounded: K+1 rows total, never data-sized — the
                # single partition is correct by design (constant_key)
                Window.partitionBy(constant_key(F.col("doc_id"))).orderBy(
                    F.desc("priority"), F.asc("doc_id")
                )
            ),
        )
    )


@register(
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, n_chars AS weight,
         (n_chars * {PRIORITY_SCALE})
           // ({md5_hash_sql("'ws#' || CAST(doc_id AS VARCHAR)", 10)} + 1)
           AS priority
  FROM documents
),
topk1 AS (
  SELECT doc_id, weight, priority,
         ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rk
  FROM keyed
  QUALIFY rk <= {PRIORITY_K + 1}
),
tau AS (
  SELECT COALESCE(MAX(CASE WHEN rk = {PRIORITY_K + 1} THEN priority END), 0) AS t
  FROM topk1
),
est AS (
  SELECT CAST(SUM(GREATEST(s.weight, tau.t)) AS BIGINT) AS est_total
  FROM topk1 s, tau WHERE s.rk <= {PRIORITY_K}
),
exact AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) AS exact_total FROM documents
)
SELECT s.doc_id, s.weight, s.priority,
       e.est_total, x.exact_total,
       CAST(ABS(e.est_total - x.exact_total) * 1000000 // x.exact_total AS BIGINT)
         AS err_ppm
FROM topk1 s, est e, exact x
WHERE s.rk <= {PRIORITY_K}
ORDER BY s.doc_id
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample of PRIORITY_K documents (weight =
    n_chars, the token-budget proxy) by deterministic priority
    sampling, with the Horvitz-Thompson estimate of the TOTAL corpus
    weight carried on every row next to the exact total (err_ppm —
    the oracle checks the estimator's calibration, not just the
    selection). Priorities come from the salted-md5 random tape like
    q_reservoir_sample, so the sample is identical across engines and
    reruns; every estimator step is exact integer arithmetic
    (Σ max(w_i, τ) with τ the (K+1)-th priority, both in weight
    units — bounded by (K+1)·max_priority ≪ int64).

    Scale shape: the top-(K+1) selection plans as
    TakeOrderedAndProject (per-partition heaps + a (K+1)-row driver
    merge — no global sort); τ and the HT sum are computed on the
    K-row frame; the exact total is one map-side-combined aggregate.
    The 100 TB use: build a training mixture where P(doc) ∝ tokens
    without ever materializing per-doc inclusion draws."""
    # (K+1)-row frame, two consumers (τ and the sample): eager
    # checkpoint runs the TakeOrdered corpus pass once (r13 opt; the
    # lazy builder stays separate so the TakeOrderedAndProject plan
    # shape remains assertable — tests/test_plans.py)
    top = _priority_top(spark, sf_dir).localCheckpoint(eager=True)
    tau = top.agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == PRIORITY_K + 1, F.col("priority"))),
            F.lit(0),
        ).alias("t")
    )
    sample = top.filter(F.col("rk") <= PRIORITY_K)
    est = (
        sample.crossJoin(F.broadcast(tau))
        .agg(
            # τ = (K+1)-th priority is already in weight units
            # (priority = w·2^40/(h+1) = w/u), so the HT term is
            # max(w_i, τ) directly — no PRIORITY_SCALE rescaling.
            F.sum(F.greatest(F.col("weight").cast("long"), F.col("t")))
            .cast("long")
            .alias("est_total")
        )
    )
    exact = load_table(spark, sf_dir, "documents").agg(
        F.sum("n_chars").cast("long").alias("exact_total")
    )
    err = F.call_function(
        "div",
        F.abs(F.col("est_total") - F.col("exact_total")) * F.lit(1_000_000),
        F.col("exact_total"),
    )
    return (
        sample.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(exact))
        .select(
            "doc_id",
            "weight",
            "priority",
            "est_total",
            "exact_total",
            err.alias("err_ppm"),
        )
        .orderBy("doc_id")
    )


# KMV set algebra (Beyer et al. 2007 "distinct-value synopses"):
# bottom-k sketches support UNION (k smallest of the merged sketch)
# and INTERSECTION (the k-min coincidence estimator rho = |U ∩ S_A ∩
# S_B| / |U|) — the piece HLL registers cannot give you. Same
# deterministic integer hash as q_approx_distinct, so the estimates
# AND their calibration errors are bit-reproducible cross-engine.
OVERLAP_K = 256
OVERLAP_A = "view"
OVERLAP_B = "click"


def _kmv_sketch(e: DataFrame, etype: str) -> DataFrame:
    """Bottom-OVERLAP_K distinct hashes of one event type's users."""
    return (
        e.filter(F.col("event_type") == etype)
        .select(_mul_hash(F.col("user_id"), HASH_C).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(OVERLAP_K)
    )


@register(
    oracle=f"""
WITH ha AS (
  SELECT DISTINCT {_mul_hash_sql("user_id", HASH_C)} AS h
  FROM events WHERE event_type = '{OVERLAP_A}' AND user_id IS NOT NULL
  ORDER BY h LIMIT {OVERLAP_K}
),
hb AS (
  SELECT DISTINCT {_mul_hash_sql("user_id", HASH_C)} AS h
  FROM events WHERE event_type = '{OVERLAP_B}' AND user_id IS NOT NULL
  ORDER BY h LIMIT {OVERLAP_K}
),
u AS (
  SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
  ORDER BY h LIMIT {OVERLAP_K}
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_u, MAX(h) AS h_k,
         CAST(SUM(CASE WHEN h IN (SELECT h FROM ha)
                        AND h IN (SELECT h FROM hb) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both
  FROM u
),
est AS (
  SELECT CASE WHEN n_u < {OVERLAP_K} THEN n_u
              ELSE CAST({(OVERLAP_K - 1) * HASH_M} // h_k AS BIGINT) END AS union_est,
         n_both * 1000000 // n_u AS jaccard_est_ppm
  FROM stats
),
xa AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = '{OVERLAP_A}' AND user_id IS NOT NULL
),
xb AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = '{OVERLAP_B}' AND user_id IS NOT NULL
),
exact AS (
  SELECT CAST((SELECT COUNT(*) FROM xa) AS BIGINT) AS n_a,
         CAST((SELECT COUNT(*) FROM xb) AS BIGINT) AS n_b,
         CAST((SELECT COUNT(*) FROM xa JOIN xb USING (user_id)) AS BIGINT) AS inter_exact,
         CAST((SELECT COUNT(*) FROM (SELECT user_id FROM xa UNION SELECT user_id FROM xb)) AS BIGINT) AS union_exact
)
SELECT x.n_a, x.n_b,
       CAST(e.union_est AS BIGINT) AS union_est, x.union_exact,
       CAST(e.jaccard_est_ppm AS BIGINT) AS jaccard_est_ppm,
       CAST(x.inter_exact * 1000000 // x.union_exact AS BIGINT) AS jaccard_exact_ppm,
       CAST(e.jaccard_est_ppm * e.union_est // 1000000 AS BIGINT) AS inter_est,
       x.inter_exact
FROM est e, exact x
""",
)
def q_set_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from BOTTOM-K SKETCHES ONLY (Beyer
    et al. 2007): the k smallest distinct user-hashes per event type
    give union cardinality ((k−1)·M / h_(k) on the merged sketch) AND
    Jaccard / intersection (the coincidence ratio |U ∩ S_A ∩ S_B| /
    |U|) — the set-algebra piece HLL registers cannot express, and
    the reason ad-tech overlap dashboards ship KMV/theta sketches.
    Estimates sit next to their exact twins, so the oracle pins
    calibration, not just plumbing.

    Scale shape: each sketch is a distinct → per-partition bottom-k →
    k-row merge (TakeOrderedAndProject — the corpus never globally
    sorts); every downstream step (union merge, coincidence count,
    estimators) runs on ≤ 3k rows of BIGINTs. At 100 TB the sketches
    are what you'd persist per segment and intersect combinatorially
    at query time — 2 KB of state per audience."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # The sketches and their merge are ≤ OVERLAP_K rows but were
    # re-planned by every downstream reference (the un-materialized
    # form re-scanned the fact table 8× for this half alone — r13 opt
    # round); eager k-row checkpoints run each sketch build once.
    ha = _kmv_sketch(e, OVERLAP_A).localCheckpoint(eager=True)
    hb = _kmv_sketch(e, OVERLAP_B).localCheckpoint(eager=True)
    u = (
        ha.union(hb)
        .distinct()
        .orderBy("h")
        .limit(OVERLAP_K)
        .localCheckpoint(eager=True)
    )
    stats = (
        u.join(ha.select(F.col("h").alias("h")), "h", "left_semi")
        .join(hb, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .crossJoin(
            F.broadcast(
                u.agg(
                    F.count(F.lit(1)).cast("long").alias("n_u"),
                    F.max("h").alias("h_k"),
                )
            )
        )
    )
    est = stats.select(
        F.when(F.col("n_u") < OVERLAP_K, F.col("n_u"))
        .otherwise(
            F.call_function("div", F.lit((OVERLAP_K - 1) * HASH_M), F.col("h_k"))
        )
        .cast("long")
        .alias("union_est"),
        F.call_function("div", F.col("n_both") * F.lit(1_000_000), F.col("n_u"))
        .alias("jaccard_est_ppm"),
    )
    # Exact witness in ONE fact pass (r13 opt round): the four counts
    # (|A|, |B|, |A∩B|, |A∪B|) are all functions of the per-user
    # membership flags, so one groupBy(user_id) with two bool flags
    # replaces two distincts + an equi-join + a union-distinct (4 fact
    # scans and 4 shuffles → 1 scan, 1 map-side-combined shuffle).
    # Equivalence: the type filter keeps exactly the A∪B users, so
    # count(*) of the flag frame IS |A∪B|, sum(a) is |A| (a user's
    # max-flag = membership), and sum(a·b) is |A∩B|.
    flags = (
        e.filter(F.col("event_type").isin(OVERLAP_A, OVERLAP_B))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == OVERLAP_A).cast("int")).alias("a"),
            F.max((F.col("event_type") == OVERLAP_B).cast("int")).alias("b"),
        )
    )
    # coalesce: SUM over an empty flag frame is NULL where the replaced
    # COUNT-based form (and the oracle) yields 0
    exact = flags.agg(
        F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("b"), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.col("a") * F.col("b")), F.lit(0))
        .cast("long")
        .alias("inter_exact"),
        F.count(F.lit(1)).cast("long").alias("union_exact"),
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_a",
        "n_b",
        "union_est",
        "union_exact",
        "jaccard_est_ppm",
        F.call_function(
            "div", F.col("inter_exact") * F.lit(1_000_000), F.col("union_exact")
        ).alias("jaccard_exact_ppm"),
        F.call_function(
            "div", F.col("jaccard_est_ppm") * F.col("union_est"), F.lit(1_000_000)
        ).alias("inter_est"),
        "inter_exact",
    )


HLL_ROLL_DAYS = 7  # trailing window width for the sketch rollup


@register(
    oracle=f"""
WITH base AS (
  SELECT CAST(ts AS DATE) AS d, user_id, {_HLL_H_SQL} AS h
  FROM events WHERE user_id IS NOT NULL
),
hb AS (
  SELECT d AS grp, {_HLL_CELL_SQL}
  FROM base
),
regs AS (
  SELECT grp, bucket, MAX(rank) AS reg FROM hb GROUP BY 1, 2
),
days AS (SELECT DISTINCT grp AS day FROM regs),
win AS (
  SELECT dd.day, r.bucket, MAX(r.reg) AS reg
  FROM days dd JOIN regs r ON r.grp BETWEEN dd.day - {HLL_ROLL_DAYS - 1} AND dd.day
  GROUP BY 1, 2
),
est0 AS (
  SELECT day,
         {_HLL_RAW_SQL} AS raw,
         {_HLL_V_SQL} AS v
  FROM win GROUP BY 1
),
est AS (SELECT day, {_hll_final_sql("raw", "v")} AS hll_users_7d FROM est0),
exact AS (
  SELECT dd.day, CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS exact_users_7d
  FROM days dd JOIN base b ON b.d BETWEEN dd.day - {HLL_ROLL_DAYS - 1} AND dd.day
  GROUP BY 1
)
SELECT strftime(e.day, '%Y-%m-%d') AS day,
       e.hll_users_7d, x.exact_users_7d,
       CAST(ABS(e.hll_users_7d - x.exact_users_7d) * 1000000 // x.exact_users_7d
            AS BIGINT) AS err_ppm
FROM est e JOIN exact x ON x.day = e.day
ORDER BY day
""",
)
def q_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day FROM DAILY SKETCHES
    ALONE: one register build per (day, bucket), then each day's
    window estimate is a register-wise max over its trailing 7 days —
    the facts are scanned ONCE however many windows they appear in.
    This is why mergeable sketches exist: the exact twin (computed
    alongside for the calibration check) must re-touch every (day,
    user) pair per window, 7× the distinct work, and at 100 TB the
    sketch path aggregates 64 ints/day while the exact path
    re-shuffles the week.

    Scale shape: the register build is the q_hll_distinct map-side
    combine; the window merge joins the CALENDAR-sized day spine
    against 64·days register rows (both tiny forever); the only
    data-sized work is the one base scan. Deterministic end to end —
    same hash, same floor estimator, same LC dispatch — so the whole
    rollup hash-matches DuckDB."""
    e = load_table(spark, sf_dir, "events")
    # (days × 64)-row register frame, two consumers (day spine + the
    # window merge): eager checkpoint runs the fact pass once (r13 opt
    # round)
    regs = _hll_registers(e, F.to_date("ts")).localCheckpoint(eager=True)
    days = regs.select(F.col("grp").alias("day")).distinct()
    win = (
        F.broadcast(days)
        .join(
            regs,
            (F.col("grp") >= F.date_sub(F.col("day"), HLL_ROLL_DAYS - 1))
            & (F.col("grp") <= F.col("day")),
        )
        .groupBy("day", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    est = _hll_estimate(win.select(F.col("day").alias("grp"), "bucket", "reg"))
    du = (
        e.filter(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
    )
    exact = (
        F.broadcast(days)
        .join(
            du,
            (F.col("d") >= F.date_sub(F.col("day"), HLL_ROLL_DAYS - 1))
            & (F.col("d") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    err = F.call_function(
        "div",
        F.abs(F.col("hll_users_7d") - F.col("exact_users_7d")) * F.lit(1_000_000),
        F.col("exact_users_7d"),
    )
    return (
        est.select(F.col("grp").alias("day"), F.col("hll_users").alias("hll_users_7d"))
        .join(exact, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "hll_users_7d",
            "exact_users_7d",
            err.alias("err_ppm"),
        )
        .orderBy("day")
    )


# DDSketch-style mergeable quantiles: log2 octaves split into 4 linear
# sub-buckets -> relative error <= 1/4, pure integer arithmetic.
DDS_QS = (50, 90, 99)

_DDS_BUCKET_SQL = """CASE WHEN x <= 3 THEN x
         ELSE 4 * (length(bin(x)) - 1)
              + (x - (1 << (length(bin(x)) - 1)))
                // (1 << (length(bin(x)) - 3)) END"""
_DDS_UPPER_SQL = """CASE WHEN bucket <= 3 THEN bucket
         ELSE (1 << (bucket // 4))
              + ((bucket % 4) + 1) * (1 << (bucket // 4 - 2)) - 1 END"""


def _dds_oracle() -> str:
    from ..tables import with_traffic

    picks = ",\n       ".join(
        f"CAST(MIN(CASE WHEN cum >= (n * {q} + 99) // 100 THEN upper END)"
        f" AS BIGINT) AS p{q}_est"
        for q in DDS_QS
    )
    return with_traffic(f"""
, bk AS (
  SELECT camera_id, {_DDS_BUCKET_SQL} AS bucket
  FROM (SELECT camera_id, new_count AS x FROM traffic)
),
bc AS (
  SELECT camera_id, bucket, COUNT(*) AS c FROM bk GROUP BY 1, 2
),
cum AS (
  SELECT camera_id, bucket, {_DDS_UPPER_SQL} AS upper,
         SUM(c) OVER (PARTITION BY camera_id ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY camera_id) AS n
  FROM bc
)
SELECT camera_id, CAST(MAX(n) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       {picks}
FROM cum GROUP BY camera_id
ORDER BY camera_id
""")


def dds_bucket(x):
    """Sketch bucket of a non-negative integer column: exact buckets
    0..3 for x <= 3, then octave*4 + linear quarter-slot. Shared by
    the query and the mergeability test."""
    blen = F.length(F.bin(x))
    o = (blen - 1).cast("int")
    lo = F.call_function("shiftleft", F.lit(1).cast("long"), o)
    width = F.call_function("shiftleft", F.lit(1).cast("long"), (o - 2).cast("int"))
    return (
        F.when(x <= 3, x.cast("long"))
        .otherwise(4 * o.cast("long") + F.call_function("div", x - lo, width))
        .cast("long")
    )


def dds_upper(bucket):
    """Inclusive upper bound of a sketch bucket (the quantile answer)."""
    o = F.call_function("div", bucket, F.lit(4)).cast("int")
    s = F.pmod(bucket, F.lit(4))
    lo = F.call_function("shiftleft", F.lit(1).cast("long"), o)
    width = F.call_function("shiftleft", F.lit(1).cast("long"), (o - 2).cast("int"))
    return F.when(bucket <= 3, bucket).otherwise(lo + (s + 1) * width - 1).cast("long")


@register(oracle=_dds_oracle())
def q_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantiles — the DDSketch idea (Masson et al., VLDB
    2019) in its integer-exact form: values land in log2 octaves split
    into 4 linear sub-buckets, so every per-camera distribution
    compresses to a few dozen (bucket, count) pairs whose counts ADD —
    the property the exact percentile (q_approx_quantile's
    inverse-CDF) fundamentally lacks, and the reason real 100 TB
    systems persist quantile sketches per partition and merge at read
    time. The quantile answer is the bucket upper bound at the
    ceil(q·n) cumulative rank: always >= the exact percentile and
    within +25% of it (buckets 0..3 are exact) — both bounds pinned
    against percentile_disc by test, and the mergeability law
    sketch(A ∪ B) = sketch(A) + sketch(B) is pinned exactly.

    Scale shape: ONE map-side-combined aggregation to |cameras × ~48
    buckets| rows; the cumulative pass windows over each camera's
    bucket list (bounded by 4·log2(max), never by row count). Pure
    integer bit-length arithmetic — no log() floats — so the sketch
    hash-matches DuckDB bit for bit."""
    from ..tables import traffic_history

    h = traffic_history(spark, sf_dir)
    from pyspark.sql import Window

    bc = (
        h.select("camera_id", dds_bucket(F.col("new_count")).alias("bucket"))
        .groupBy("camera_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("camera_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("camera_id")
    cum = bc.select(
        "camera_id",
        dds_upper(F.col("bucket")).alias("upper"),
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.call_function(
                    "div", F.col("n") * q + 99, F.lit(100)
                ),
                F.col("upper"),
            )
        )
        .cast("long")
        .alias(f"p{q}_est")
        for q in DDS_QS
    ]
    return (
        cum.groupBy("camera_id")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            *picks,
        )
        .orderBy("camera_id")
    )


# ANALYZE TABLE: canonical string image per profiled column. Integer
# images are SIGN-SPLIT so lexicographic MIN/MAX equals numeric order
# over the full int64 domain: '1' + zero-padded magnitude for x >= 0,
# '0' + zero-padded (x + 2^63) for x < 0. The bias is computed as
# x & MAX_LONG — the two's-complement identity (clears the sign bit,
# equals x + 2^63 for negative x) — because Spark's ANSI mode hoists
# branch arithmetic out of CASE and an explicit add overflows; AND
# never can. The double measure goes through the exact fixed-point
# image first.
_MAXLONG = (1 << 63) - 1


def _canon_int_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} IS NULL THEN NULL"
        f" WHEN {col} < 0 THEN '0' || lpad(CAST(({col}) & {_MAXLONG}"
        f" AS VARCHAR), 19, '0')"
        f" ELSE '1' || lpad(CAST({col} AS VARCHAR), 19, '0') END"
    )


_ANALYZE_COLS_SQL = {
    "event_id": _canon_int_sql("event_id"),
    "ts": "strftime(ts, '%Y-%m-%d %H:%M:%S')",
    "user_id": _canon_int_sql("user_id"),
    "event_type": "event_type",
    "value": _canon_int_sql("CAST(FLOOR(value * 10000) AS BIGINT)"),
    "props": "props",
}

_ANALYZE_H_SQL = md5_hash_sql("'ant#' || val", 10)


def _analyze_stack_sql(cols: dict[str, str], source: str) -> str:
    """The UNION-ALL column stack of an ANALYZE oracle: one (col, val)
    arm per profiled column. Shared with q_stream_analyze, which
    stacks traffic columns instead of events."""
    return "\n  UNION ALL\n".join(
        f"  SELECT '{c}' AS col, {expr} AS val FROM {source}"
        for c, expr in cols.items()
    )


def _analyze_oracle() -> str:
    return f"""
WITH base AS (
{_analyze_stack_sql(_ANALYZE_COLS_SQL, "events")}
){ANALYZE_TAIL_SQL}"""


# Everything after the column stack — profile, HLL registers, estimate,
# final SELECT — is source-agnostic (reads only `base`), so the batch
# events ANALYZE and the streaming traffic twin share it verbatim.
ANALYZE_TAIL_SQL = f""",
prof AS (
  SELECT col, COUNT(*) AS n_rows,
         SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS n_null,
         COUNT(DISTINCT val) AS ndv_exact,
         MIN(val) AS min_val, MAX(val) AS max_val
  FROM base GROUP BY 1
),
hb AS (
  SELECT col AS grp, {_HLL_CELL_SQL}
  FROM (SELECT col, {_ANALYZE_H_SQL} AS h FROM base WHERE val IS NOT NULL)
),
regs AS (
  SELECT grp, bucket, MAX(rank) AS reg FROM hb GROUP BY 1, 2
),
est AS (
  SELECT grp,
         {_HLL_RAW_SQL} AS _raw,
         {_HLL_V_SQL} AS _v
  FROM regs GROUP BY 1
)
SELECT p.col AS col_name, CAST(p.n_rows AS BIGINT) AS n_rows,
       CAST(p.n_null AS BIGINT) AS n_null,
       CAST(p.ndv_exact AS BIGINT) AS ndv_exact,
       {_hll_final_sql("e._raw", "e._v")} AS ndv_hll,
       p.min_val, p.max_val
FROM prof p JOIN est e ON e.grp = p.col
ORDER BY col_name
"""


def canon_int_col(x: Column) -> Column:
    """Spark twin of _canon_int_sql: sign-split zero-padded string
    image whose lexicographic order IS numeric order (see the module
    comment above _MAXLONG for the overflow-free sign bias)."""
    x = x.cast("long")
    return F.when(x.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(
            x < 0,
            F.concat(
                F.lit("0"),
                F.lpad(x.bitwiseAND(F.lit(_MAXLONG)).cast("string"), 19, "0"),
            ),
        ).otherwise(F.concat(F.lit("1"), F.lpad(x.cast("string"), 19, "0")))
    )


def analyze_stack(df: DataFrame, canon: dict[str, Column]) -> DataFrame:
    """(col, val) stack of the canonical column images — the Spark twin
    of _analyze_stack_sql, shared with the streaming ANALYZE twin."""
    return df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col"), v.alias("val"))
                    for c, v in canon.items()
                ]
            )
        ).alias("p")
    ).select("p.col", "p.val")


def analyze_hash_col() -> Column:
    """The salted 40-bit hash `h` of the stacked `val` column;
    _ANALYZE_H_SQL is the same compat.md5_hash pair's SQL side."""
    return md5_hash(F.concat(F.lit("ant#"), F.col("val")), 10).alias("h")


@register(oracle=_analyze_oracle())
def q_analyze_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE — the cost-based-optimizer statistics pass every
    warehouse runs before planning: per column, the row count, null
    count, exact NDV, a MERGEABLE HLL NDV estimate (the one a 100 TB
    system actually persists — the exact COUNT(DISTINCT) rides along
    as the calibration witness, same discipline as q_hll_distinct),
    and min/max over a canonical string image (integers sign-split +
    zero-padded so lexicographic order IS numeric order over the full
    signed domain; the double measure goes through the exact
    fixed-point image first — no float rendering in any hashed cell).

    Scale shape (r13 single-pass rewrite): the column stack explodes
    each row into |columns| (col, val) pairs — the standard ANALYZE
    trade — then ONE map-side-combined aggregation reduces the stack
    to its value-frequency sufficient statistic (col, distinct val,
    count): every kept statistic is a function of that frame (n_rows =
    Σcount, null count, exact NDV = row count, min/max, and the HLL
    hash — a function of val alone — evaluates on ~NDV distinct rows
    instead of every stacked row). The previous dual-branch plan
    scanned + exploded the table twice (once per statistic family) and
    sort-aggregated the full stack for countDistinct; this shape is
    one scan, one data-sized exchange, and a register-grain rollup.
    Per-column sketches persist and merge by register max as
    partitions are appended, so the nightly stats refresh is
    incremental exactly like q_zone_map_merge."""
    e = load_table(spark, sf_dir, "events")
    canon = {
        "event_id": canon_int_col(F.col("event_id")),
        "ts": F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        "user_id": canon_int_col(F.col("user_id")),
        "event_type": F.col("event_type"),
        "value": canon_int_col(F.floor(F.col("value") * 10000)),
        "props": F.col("props"),
    }
    base = analyze_stack(e, canon)
    vf = base.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    # NULL val → NULL hash → bucket −1 (its own register-frame row, so
    # null counts ride the same rollup; regs below excludes it)
    hashed = vf.select("col", "val", "c", analyze_hash_col()).select(
        "col",
        "val",
        "c",
        F.coalesce(hll_bucket_col(F.col("h")), F.lit(-1)).alias("bucket"),
        hll_rank_col(F.col("h")).alias("rank"),
    )
    g2 = (
        hashed.groupBy("col", "bucket")
        .agg(
            F.sum("c").alias("n"),
            F.sum(
                F.when(F.col("val").isNull(), F.col("c")).otherwise(F.lit(0))
            ).alias("nn"),
            F.count("val").alias("ndv_b"),
            F.min("val").alias("minv"),
            F.max("val").alias("maxv"),
            F.max("rank").alias("reg"),
        )
        # |cols|·(HLL_M+1) rows, referenced by prof AND regs — eager
        # checkpoint so the scan/stack/dedup pipeline runs once
        .localCheckpoint(eager=True)
    )
    prof = g2.groupBy("col").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum("nn").cast("long").alias("n_null"),
        F.sum("ndv_b").cast("long").alias("ndv_exact"),
        F.min("minv").alias("min_val"),
        F.max("maxv").alias("max_val"),
    )
    regs = g2.filter(F.col("bucket") >= 0).select(
        F.col("col").alias("grp"), "bucket", "reg"
    )
    est = _hll_estimate(regs).select(
        F.col("grp").alias("col"), F.col("hll_users").alias("ndv_hll")
    )
    return (
        prof.join(est, "col")
        .select(
            F.col("col").alias("col_name"),
            "n_rows",
            "n_null",
            "ndv_exact",
            F.col("ndv_hll").cast("long").alias("ndv_hll"),
            "min_val",
            "max_val",
        )
        .orderBy("col_name")
    )


# Constraint discovery candidates: uniqueness of the surrogate key, a
# dependency that genuinely HOLDS (calendar: day determines weekday)
# and one that genuinely fails (a user emits many event types).
# Discovery REPORTS violation rates either way — the profiler's job is
# measurement, not assertion.


@register(
    oracle=f"""
WITH ek AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating
  FROM (SELECT event_id, COUNT(*) AS c FROM events
        WHERE event_id IS NOT NULL GROUP BY 1)
),
ug AS (
  SELECT user_id,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS d_type
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
us AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN d_type > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_type
  FROM ug
),
dg AS (
  SELECT strftime(ts, '%Y-%m-%d') AS d,
         CAST(COUNT(DISTINCT dayofweek(ts)) AS BIGINT) AS d_dow
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
ds AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN d_dow > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_dow
  FROM dg
)
SELECT * FROM (
  SELECT 'unique' AS kind, 'event_id' AS lhs, '' AS rhs,
         ek.n_groups, ek.violating,
         CAST(ek.violating * 1000000 // GREATEST(ek.n_groups, 1) AS BIGINT)
           AS violation_ppm,
         ek.violating = 0 AS holds
  FROM ek
  UNION ALL
  SELECT 'fd', 'user_id', 'event_type', us.n_groups, us.v_type,
         CAST(us.v_type * 1000000 // GREATEST(us.n_groups, 1) AS BIGINT),
         us.v_type = 0
  FROM us
  UNION ALL
  SELECT 'fd', 'day', 'dow', ds.n_groups, ds.v_dow,
         CAST(ds.v_dow * 1000000 // GREATEST(ds.n_groups, 1) AS BIGINT),
         ds.v_dow = 0
  FROM ds
)
ORDER BY kind, lhs, rhs
""",
)
def q_constraint_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRAINT DISCOVERY — the inference pass next to
    q_analyze_table's column stats: instead of asserting declared
    constraints, profile the data for candidate UNIQUE keys and
    functional dependencies and report each candidate's violation
    rate (a constraint "holds" only when zero left-hand-side groups
    violate it). This is the profiling feature schema-inference and
    CBO layers actually consume: a discovered key unlocks
    distinct-elimination and join-cardinality bounds, a discovered FD
    licenses GROUP BY reduction — and a NEAR-dependency's
    violation_ppm is the data-quality signal (here user_id → event_type
    violates in every group — "not a dependency" — while day → dow
    holds exactly: a real discovered calendar FD; a key candidate at
    3 ppm would say "duplicate ingestion, investigate").
    NULL left-hand sides are excluded per SQL FD semantics.

    Scale shape: ONE hash aggregation per distinct LHS (same-LHS
    candidates would fuse into one groupBy with several
    COUNT(DISTINCT)s — the standard expand + two-phase partial
    aggregation); every output is a constant-width frame. At 100 TB
    the documented high-cardinality swap is the HLL register family
    (ndv-per-group sketches) at the same plan shape."""
    e = load_table(spark, sf_dir, "events")

    ek = (
        e.filter(F.col("event_id").isNotNull())
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("c") > 1).cast("long")).cast("long").alias("violating"),
        )
    )
    us = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("d_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("d_type") > 1).cast("long")).cast("long").alias("v_type"),
        )
    )
    ds = (
        e.filter(F.col("ts").isNotNull())
        .select(F.date_format("ts", "yyyy-MM-dd").alias("d"), dow0("ts").alias("dw"))
        .groupBy("d")
        .agg(F.countDistinct("dw").alias("d_dow"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("d_dow") > 1).cast("long")).cast("long").alias("v_dow"),
        )
    )

    def row(src, kind, lhs, rhs, violating_col):
        ppm = F.call_function(
            "div",
            F.col(violating_col) * F.lit(1_000_000),
            F.greatest(F.col("n_groups"), F.lit(1)),
        )
        return src.select(
            F.lit(kind).alias("kind"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            F.col("n_groups"),
            F.col(violating_col).alias("violating"),
            ppm.cast("long").alias("violation_ppm"),
            (F.col(violating_col) == 0).alias("holds"),
        )

    return (
        row(ek, "unique", "event_id", "", "violating")
        .unionByName(row(us, "fd", "user_id", "event_type", "v_type"))
        .unionByName(row(ds, "fd", "day", "dow", "v_dow"))
        .orderBy("kind", "lhs", "rhs")
    )


# Sampled ANALYZE: deterministic Bernoulli sample by row-id hash. 10%
# at test scale so the sf0.01 sample (~1k rows) has √m concentration
# tight enough to pin by test; at 100 TB the same knob goes to 0.1-1%.
SMP_MOD = 1000
SMP_PERMILLE = 100  # rows with hash % SMP_MOD < 100 → 10% sample

_SMP_H_SQL = md5_hash_sql("'smp#' || CAST(event_id AS VARCHAR)", 15) + f" % {SMP_MOD}"


@register(
    oracle=f"""
WITH pu AS (
  SELECT user_id, COUNT(*) AS cnt,
         SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS cents
  FROM events
  WHERE {_SMP_H_SQL} < {SMP_PERMILLE}
  GROUP BY 1
),
smp AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS sample_rows,
         CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sample_cents,
         CAST(COUNT(user_id) AS BIGINT) AS d_obs,
         CAST(COALESCE(SUM(CASE WHEN user_id IS NOT NULL AND cnt = 1
                                THEN 1 END), 0) AS BIGINT) AS f1,
         CAST(COALESCE(SUM(CASE WHEN user_id IS NOT NULL AND cnt = 2
                                THEN 1 END), 0) AS BIGINT) AS f2
  FROM pu
),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
           AS sum_exact_cents,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv_exact
  FROM events
),
est AS (
  SELECT s.sample_rows,
         CAST(s.sample_rows * {SMP_MOD} // {SMP_PERMILLE} AS BIGINT) AS n_est,
         CAST(s.sample_cents * {SMP_MOD} // {SMP_PERMILLE} AS BIGINT)
           AS sum_est_cents,
         CAST(s.d_obs + s.f1 * (s.f1 - 1) // (2 * (s.f2 + 1)) AS BIGINT)
           AS ndv_chao,
         x.n_exact, x.sum_exact_cents, x.ndv_exact
  FROM smp s, ex x
)
SELECT n_exact, n_est,
       CAST(ABS(n_est - n_exact) * 1000000 // GREATEST(n_exact, 1) AS BIGINT)
         AS err_rows_ppm,
       sum_exact_cents, sum_est_cents,
       CAST(ABS(sum_est_cents - sum_exact_cents) * 1000000
            // GREATEST(ABS(sum_exact_cents), 1) AS BIGINT) AS err_sum_ppm,
       ndv_exact, ndv_chao,
       CAST(ABS(ndv_chao - ndv_exact) * 1000000 // GREATEST(ndv_exact, 1)
         AS BIGINT) AS err_ndv_ppm,
       sample_rows
FROM est
""",
)
def q_analyze_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED ANALYZE — the statistics pass as a 100 TB system must
    actually run it: a deterministic 10% Bernoulli sample (row-id hash
    threshold, so the sample is reproducible, pushes down to the scan
    as an ordinary predicate, and needs no shuffle or reservoir state)
    scaled up to table statistics, next to the exact witnesses and an
    err_ppm per statistic — the same honest-comparison discipline as
    the selectivity/join-size estimator rungs.

    Three statistics, three honesty grades (pinned by test at sf0.01):
    row count and fixed-point SUM inflate by 1/q and land within a few
    percent at the test sample size (Bernoulli sampling is unbiased
    with √m concentration for linear statistics); NDV is the famous
    hard case — a scaled-up
    distinct count has no unbiased sample estimator (Charikar et al.'s
    lower bound), so this uses the Chao1 bias-corrected estimator
    d_obs + f1(f1−1)/(2(f2+1)) from the sample's singleton/doubleton
    counts, integer-exact in both engines, and reports its real error
    instead of pretending linear scaling works.

    Scale shape: ONE sample-selectivity scan aggregated in two map-side-
    combined levels (per-user counts → frequency-of-frequency row);
    the exact witnesses are test-scale calibration only — at 100 TB
    the sample pass is the whole cost, which is exactly why warehouses
    ANALYZE from samples. Extends q_analyze_table (full-scan NDV/HLL
    stats) with the sampling leg of the stats ladder."""
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 10000).cast("long")
    smp_hash = F.pmod(
        md5_hash(F.concat(F.lit("smp#"), F.col("event_id").cast("string")), 15),
        F.lit(SMP_MOD),
    )
    pu = (
        e.filter(smp_hash < SMP_PERMILLE)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(cents).alias("cents"))
    )
    nn = F.col("user_id").isNotNull()
    smp = pu.agg(
        F.sum("cnt").cast("long").alias("sample_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("sample_cents"),
        F.count("user_id").cast("long").alias("d_obs"),
        F.coalesce(F.sum((nn & (F.col("cnt") == 1)).cast("long")), F.lit(0))
        .cast("long")
        .alias("f1"),
        F.coalesce(F.sum((nn & (F.col("cnt") == 2)).cast("long")), F.lit(0))
        .cast("long")
        .alias("f2"),
    )
    ex = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(cents).cast("long").alias("sum_exact_cents"),
        F.countDistinct("user_id").cast("long").alias("ndv_exact"),
    )
    from ..compat import idiv as div
    est = smp.crossJoin(F.broadcast(ex)).select(
        "sample_rows",
        div(F.col("sample_rows") * F.lit(SMP_MOD), F.lit(SMP_PERMILLE))
        .cast("long")
        .alias("n_est"),
        div(F.col("sample_cents") * F.lit(SMP_MOD), F.lit(SMP_PERMILLE))
        .cast("long")
        .alias("sum_est_cents"),
        (
            F.col("d_obs")
            + div(
                F.col("f1") * (F.col("f1") - F.lit(1)),
                F.lit(2) * (F.col("f2") + F.lit(1)),
            )
        )
        .cast("long")
        .alias("ndv_chao"),
        "n_exact",
        "sum_exact_cents",
        "ndv_exact",
    )

    def err_ppm(est_col: str, exact_col: str, tag: str):
        return (
            div(
                F.abs(F.col(est_col) - F.col(exact_col)) * F.lit(1_000_000),
                F.greatest(F.abs(F.col(exact_col)), F.lit(1)),
            )
            .cast("long")
            .alias(f"err_{tag}_ppm")
        )

    return est.select(
        "n_exact",
        "n_est",
        err_ppm("n_est", "n_exact", "rows"),
        "sum_exact_cents",
        "sum_est_cents",
        err_ppm("sum_est_cents", "sum_exact_cents", "sum"),
        "ndv_exact",
        "ndv_chao",
        err_ppm("ndv_chao", "ndv_exact", "ndv"),
        "sample_rows",
    )
