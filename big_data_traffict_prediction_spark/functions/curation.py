"""Corpus-curation operators: repetition scoring, train/eval
contamination checking, and token-budget chunking over ``documents``.

These extend the LLM-data-pipeline surface (quality filtering in
``text.py``, dedup in ``dedup.py``) with the three other operators a
pre-training pipeline runs on every shard: drop pathologically
repetitive documents (Gopher-style repetition signals), quarantine
documents that overlap an evaluation benchmark (n-gram contamination),
and split what remains into overlapping token-budget chunks.

All three are linear, shuffle-light shapes:

- repetition: pure per-row higher-order functions — zero shuffle
  besides the final sort;
- contamination: the benchmark n-gram set is DIMENSION-sized (the
  eval suite, not the corpus) → distinct-gram build shuffles only the
  benchmark slice, then the corpus side probes it via a broadcast-able
  equi-join on a 60-bit gram hash (a few bytes per gram — text never
  shuffles);
- chunking: a generator expression per row (no joins at all); chunk
  ids derive from the stride arithmetic so no window function is
  needed.

Ratios divide exact integer counts, so every score is bit-identical
across engines and across cluster re-partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import let, md5_hash, md5_hash_sql
from ..registry import register
from ..tables import load_table, spread_documents
from .text import NORM_SQL, norm_col

# --- repetition ---------------------------------------------------------

TRI = 3  # word n-gram order for the duplicate-n-gram signal


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split({NORM_SQL}, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id, source,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CASE WHEN len(toks) >= {TRI} THEN
           CAST(len(list_distinct(list_transform(
             generate_series(1, len(toks) - {TRI - 1}),
             i -> array_to_string(toks[i:i+{TRI - 1}], ' ')))) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS n_distinct_tri,
         CAST(GREATEST(len(toks) - {TRI - 1}, 0) AS BIGINT) AS n_tri
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_token_ratio,
       CASE WHEN n_tri > 0
            THEN 1.0 - CAST(n_distinct_tri AS DOUBLE) / CAST(n_tri AS DOUBLE)
            ELSE 0.0 END AS dup_trigram_frac,
       (CASE WHEN n_tri > 0
             THEN 1.0 - CAST(n_distinct_tri AS DOUBLE) / CAST(n_tri AS DOUBLE)
             ELSE 0.0 END) > 0.2
         OR (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) < 0.3
         AS is_repetitive
FROM m
ORDER BY doc_id
""",
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: distinct-token ratio and the
    duplicate word-trigram fraction, composed into an ``is_repetitive``
    flag.

    Zero-shuffle shape: the token array binds ONCE via ``compat.let``
    (Catalyst's CollapseProject would otherwise re-evaluate the
    normalize+split pipeline at every reference), and the trigram list
    is built by an in-row higher-order ``transform`` over a 1-based
    index sequence — guarded to the empty array below {TRI} tokens
    because Spark's ``sequence(1, n)`` DESCENDS when n < 1."""
    d = spread_documents(spark, sf_dir)

    def stats(toks):
        n = F.size(toks)
        tri = F.when(
            n >= TRI,
            F.transform(
                F.sequence(F.lit(1), n - (TRI - 1)),
                lambda i: F.array_join(F.slice(toks, i, TRI), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            F.size(F.array_distinct(tri)).cast("long").alias("n_distinct_tri"),
            F.greatest(n - (TRI - 1), F.lit(0)).cast("long").alias("n_tri"),
        )

    m = d.select(
        "doc_id", "source", let(F.split(norm_col(), " "), stats).alias("s")
    ).select("doc_id", "source", "s.*")

    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    dup_tri = F.when(
        F.col("n_tri") > 0,
        1.0 - F.col("n_distinct_tri").cast("double") / F.col("n_tri").cast("double"),
    ).otherwise(F.lit(0.0))
    return m.select(
        "doc_id",
        "source",
        "n_tokens",
        distinct_ratio.alias("distinct_token_ratio"),
        dup_tri.alias("dup_trigram_frac"),
        ((dup_tri > 0.2) | (distinct_ratio < 0.3)).alias("is_repetitive"),
    ).orderBy("doc_id")


# --- contamination ------------------------------------------------------

# The "benchmark" is the documents of these sources — stand-in for an
# eval suite. Membership n-grams are checked against every OTHER doc.
BENCH_SOURCES = ("src0", "src1")
CONTAM_N = 4  # word n-gram order; 4 gives real overlap in the testdata

_BENCH_IN = ", ".join(f"'{s}'" for s in BENCH_SOURCES)


def _grams_sql(n: int) -> str:
    """DuckDB n-gram list over ``toks`` (1-based inclusive slices)."""
    return (
        f"list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )


def _gram_rows(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(doc_id, source, gram_h): one row per n-gram occurrence, hashed
    to 60 bits so the join shuffles a few bytes per gram, never text.

    The generator child is the full gram EXPRESSION — see
    ``dedup.shingles`` for why handing ``explode`` a projected
    attribute of this pipeline would serialize it below the shuffle."""
    d = spread_documents(spark, sf_dir)  # one md5 per gram
    toks = F.split(norm_col(), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # greatest(...,1) keeps sequence() ascending; a doc shorter than n
    # tokens emits its whole text once as the only (under-length) gram,
    # which can never match a true n-gram of a longer doc — harmless —
    # and matching the oracle's empty list would need a per-row CASE;
    # instead both engines drop under-length docs by the n_grams > 0
    # filter below.
    return d.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_toks"),
        F.explode(grams).alias("gram"),
    ).filter(F.col("n_toks") >= n).select(
        "doc_id", "source", md5_hash(F.col("gram"), 15).alias("gram_h")
    )


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split({NORM_SQL}, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, source,
         {md5_hash_sql("gram", 15)} AS gram_h
  FROM (SELECT doc_id, source, unnest({_grams_sql(CONTAM_N)}) AS gram
        FROM t WHERE len(toks) >= {CONTAM_N})
), bench AS (
  SELECT DISTINCT gram_h FROM g WHERE source IN ({_BENCH_IN})
), tot AS (
  SELECT doc_id, source,
         CAST(len(toks) - {CONTAM_N - 1} AS BIGINT) AS n_grams
  FROM t
  WHERE source NOT IN ({_BENCH_IN}) AND len(toks) >= {CONTAM_N}
), hits AS (
  SELECT g.doc_id, CAST(COUNT(DISTINCT g.gram_h) AS BIGINT) AS overlap_grams
  FROM g JOIN bench USING (gram_h)
  WHERE g.source NOT IN ({_BENCH_IN})
  GROUP BY g.doc_id
)
SELECT tot.doc_id, tot.source, tot.n_grams,
       COALESCE(hits.overlap_grams, 0) AS overlap_grams,
       CAST(COALESCE(hits.overlap_grams, 0) AS DOUBLE)
         / CAST(tot.n_grams AS DOUBLE) AS contam_rate,
       COALESCE(hits.overlap_grams, 0) > 0 AS is_contaminated
FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
ORDER BY tot.doc_id
""",
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: flag every corpus document sharing a
    word {CONTAM_N}-gram with the benchmark slice (sources
    {BENCH_SOURCES}).

    100 TB shape: the benchmark gram set is eval-suite-sized, not
    corpus-sized — its distinct build is a small shuffle and the
    corpus side probes it with a broadcast-able equi-join on the
    60-bit gram hash. The corpus grams are produced map-side and
    reduced per (doc, gram) only for matches, so work scales with
    corpus size + overlap, never pairs of documents."""
    g = _gram_rows(spark, sf_dir, CONTAM_N)
    is_bench = F.col("source").isin(*BENCH_SOURCES)
    bench = g.filter(is_bench).select("gram_h").distinct()
    corpus = g.filter(~is_bench)
    hits = (
        corpus.join(F.broadcast(bench), "gram_h")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram_h").alias("overlap_grams"))
    )
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(norm_col(), " ")
    tot = d.select(
        "doc_id", "source", (F.size(toks) - (CONTAM_N - 1)).cast("long").alias("n_grams")
    ).filter(~is_bench & (F.col("n_grams") >= 1))
    overlap = F.coalesce(F.col("overlap_grams"), F.lit(0).cast("long"))
    return (
        tot.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_grams",
            overlap.alias("overlap_grams"),
            (overlap.cast("double") / F.col("n_grams").cast("double")).alias(
                "contam_rate"
            ),
            (overlap > 0).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


# --- chunking -----------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS start,
         unnest(list_transform(
           generate_series(1, len(toks), {CHUNK_STRIDE}),
           s -> array_to_string(toks[s:s+{CHUNK_TOKENS - 1}], ' '))) AS chunk_text
  FROM t
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS chunk_tokens,
       md5(chunk_text) AS chunk_md5
FROM c
ORDER BY doc_id, chunk_id
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking: overlapping {CHUNK_TOKENS}-token windows
    every {CHUNK_STRIDE} tokens (the tokenize-for-training shape).

    Pure generator expression — ``posexplode`` over an in-row
    ``transform`` of the stride sequence; chunk ids fall out of the
    generator position, so there is no window function and no shuffle
    except the final sort. Chunks are emitted as md5 fingerprints to
    keep the result narrow; the text itself never leaves the row."""
    d = spread_documents(spark, sf_dir)

    def chunks(toks):
        return F.transform(
            F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE)),
            lambda s: F.array_join(F.slice(toks, s, CHUNK_TOKENS), " "),
        )

    c = d.select(
        "doc_id",
        F.posexplode(chunks(F.split(norm_col(), " "))).alias("pos", "chunk_text"),
    )
    return c.select(
        "doc_id",
        F.col("pos").cast("long").alias("chunk_id"),
        F.size(F.split("chunk_text", " ")).cast("long").alias("chunk_tokens"),
        F.md5("chunk_text").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


# --- corpus diagnostics -------------------------------------------------

TOP_NGRAMS = 20


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
), g AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS bigram,
         doc_id
  FROM t WHERE len(toks) >= 2
)
SELECT bigram,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g
GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT {TOP_NGRAMS}
""",
)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-{TOP_NGRAMS} bigrams by occurrence (with
    document frequency) — the what-is-in-this-corpus glance every
    curation run starts with.

    ONE shuffle on the bigram key with map-side partial aggregation;
    the final top-k is ``TakeOrderedAndProject`` (per-partition heap +
    driver merge of {TOP_NGRAMS} rows), never a global sort.
    Deterministic tie-break on the bigram text."""
    d = spread_documents(spark, sf_dir)
    toks = F.split(norm_col(), " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    g = d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.explode(bigrams).alias("bigram"),
    ).filter(F.col("n_toks") >= 2)
    return (
        g.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(TOP_NGRAMS)
    )


@register(
    oracle=f"""
WITH fp AS (
  SELECT doc_id, source, md5({NORM_SQL}) AS fingerprint FROM documents
), keep AS (
  SELECT fingerprint, MIN(doc_id) AS keep_doc_id FROM fp GROUP BY fingerprint
)
SELECT fp.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN fp.doc_id <> k.keep_doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(SUM(CASE WHEN fp.doc_id <> k.keep_doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM fp JOIN keep k USING (fingerprint)
GROUP BY fp.source
ORDER BY fp.source
""",
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate: which ingestion feeds are
    polluting the corpus — the diagnostic that decides WHERE to point
    the dedup pipeline.

    Same one-fingerprint-shuffle shape as q_dedup_exact, then the
    keep-min winner joins back on the fingerprint (both sides already
    hash-partitioned on it — no extra exchange family) and collapses
    to a per-source rate. Rates divide exact integers."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", F.md5(norm_col()).alias("fingerprint"))
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_doc_id"))
    is_dup = (F.col("doc_id") != F.col("keep_doc_id")).cast("long")
    return (
        fp.join(keep, "fingerprint")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dup).alias("n_dups"),
            (F.sum(is_dup).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


# --- sequence packing ---------------------------------------------------

PACK_BUDGET = 128  # tokens per packed training sequence


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(tokens_before // {PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(tokens_before % {PACK_BUDGET} AS BIGINT) AS seq_offset
FROM c
ORDER BY source, doc_id
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign every document a position in a stream
    of fixed-budget training sequences — the concat-then-chunk packing
    LLM pre-training uses (documents are concatenated in a stable
    order per source, the stream is cut every PACK_BUDGET tokens;
    seq_id/seq_offset say which cut a document starts in and where).

    One window pass: a running token total per source (ROWS UNBOUNDED
    PRECEDING → 1 PRECEDING, exact integers), then the sequence id and
    offset are pure div/mod arithmetic — no second shuffle, no join.
    At 100 TB a single per-source partition would be both skewed and
    unboundedly large; production packs per (source, shard) with
    shard = doc_id bucket, which keeps this exact plan shape and makes
    the window partition count scale with the corpus. The per-source
    form here mirrors the single-stream semantics the oracle can
    express."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(norm_col(), " ")).cast("long").alias("n_tokens"),
    )
    return (
        pack_positions(t)
        .select("doc_id", "source", "n_tokens", "seq_id", "seq_offset")
        .orderBy("source", "doc_id")
    )


# --- temperature mixture sampling ---------------------------------------

MIX_ALPHA_NUM, MIX_ALPHA_DEN = 1, 2  # temperature α = 0.5 (sqrt scaling)
MIX_BUDGET_PCT = 30  # sample ≈30% of the corpus tokens
MIX_RATE_SCALE = 1_000_000  # rates as exact ppm integers


def mixture_rates(src: DataFrame) -> DataFrame:
    """(source, src_tokens) → (source, rate_ppm): temperature-α keep
    rates scaled to the MIX_BUDGET_PCT token budget. THE mixture-rate
    formula — q_mixture_sample and q_training_manifest both call this,
    so the two can never drift.

    The α-mass is summed as FIXED-POINT integers (floor(√tokens · 1e6)
    per source), never raw doubles: a double sum's value depends on
    accumulation order, which differs between Spark's partial
    aggregation and DuckDB (and between repartitionings), and a 1-ulp
    wobble through floor() at ppm precision would flip boundary
    documents. Integer sums are order-free; the final rate expression
    is one fixed-order double chain over integer inputs."""
    sqrt_fp = F.floor(F.sqrt(F.col("src_tokens").cast("double")) * 1_000_000).cast(
        "long"
    )
    with_fp = src.withColumn("sqrt_fp", sqrt_fp)
    g = with_fp.agg(
        F.sum("src_tokens").cast("long").alias("all_tokens"),
        F.sum("sqrt_fp").cast("long").alias("alpha_mass_fp"),
    )
    rate = F.floor(
        MIX_RATE_SCALE
        * F.least(
            F.lit(1.0),
            (MIX_BUDGET_PCT / F.lit(100.0))
            * F.col("all_tokens").cast("double")
            * F.col("sqrt_fp").cast("double")
            / F.col("alpha_mass_fp").cast("double")
            / F.col("src_tokens").cast("double"),
        )
    ).cast("long")
    return (
        with_fp.crossJoin(F.broadcast(g))
        .select("source", rate.alias("rate_ppm"))
    )


def mixture_key() -> F.Column:
    """Deterministic per-document selection key (md5-based, no RNG)."""
    return md5_hash(F.concat(F.lit("mix#"), F.col("doc_id").cast("string")), 15)


# SQL twin of mixture_rates(): CTEs g + r over a source-tokens CTE
# named {SRC}; substitute the name with .replace("{SRC}", ...).
MIX_RATES_SQL = f"""gfp AS (
  SELECT source, src_tokens,
         CAST(FLOOR(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sqrt_fp
  FROM {{SRC}}
), g AS (
  SELECT CAST(SUM(src_tokens) AS BIGINT) AS all_tokens,
         CAST(SUM(sqrt_fp) AS BIGINT) AS alpha_mass_fp
  FROM gfp
), r AS (
  SELECT source,
         CAST(FLOOR({MIX_RATE_SCALE} * LEAST(1.0,
           ({MIX_BUDGET_PCT} / 100.0) * CAST(all_tokens AS DOUBLE)
             * CAST(sqrt_fp AS DOUBLE)
             / CAST(alpha_mass_fp AS DOUBLE)
             / CAST(src_tokens AS DOUBLE))) AS BIGINT) AS rate_ppm
  FROM gfp, g
)"""

MIX_KEY_SQL = md5_hash_sql("'mix#' || CAST({D}.doc_id AS VARCHAR)", 15)


def pack_positions(df: DataFrame) -> DataFrame:
    """Append (seq_id, seq_offset) to a (doc_id, source, n_tokens, ...)
    frame: the concat-then-chunk packing window. THE packing formula —
    q_pack_sequences and q_training_manifest both call this."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return (
        df.withColumn("tokens_before", before)
        .withColumn(
            "seq_id", F.expr(f"tokens_before div {PACK_BUDGET}").cast("long")
        )
        .withColumn("seq_offset", (F.col("tokens_before") % PACK_BUDGET).cast("long"))
        .drop("tokens_before")
    )


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM t GROUP BY source
), {MIX_RATES_SQL.replace("{SRC}", "s")}
SELECT t.doc_id, t.source, t.n_tokens, r.rate_ppm
FROM t JOIN r USING (source)
WHERE {MIX_KEY_SQL.replace("{D}", "t")} % {MIX_RATE_SCALE}
      < r.rate_ppm
ORDER BY t.doc_id
""",
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture sampling (the data-mixing step
    of a pre-training pipeline): per-source keep rates ∝
    tokens^α / Σ tokens^α with α = 0.5 (up-samples small sources,
    down-samples dominant ones) scaled to a 30%-of-corpus token
    budget, then DETERMINISTIC per-document selection — keep iff
    md5-hash(doc_id) mod 1e6 < rate_ppm. No RNG: the sample is
    reproducible across runs, engines and repartitionings (the reason
    production pipelines hash-sample instead of rand()).

    Shape: one token-count aggregate per source (dimension-sized), a
    one-row scalar (total + α-mass) crossJoin-broadcast over it, and
    the per-source ppm rates broadcast back onto the corpus scan —
    facts shuffle zero times; selection is a pure filter. rate_ppm is
    floored to an exact integer so the cross-engine comparison is
    bit-stable."""
    d = load_table(spark, sf_dir, "documents")
    # t feeds the per-source aggregate AND the selection join: one
    # eager checkpoint runs the normalize+tokenize pass once (r13 opt
    # round; doc-grain frame, same rule as q_training_manifest)
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(norm_col(), " ")).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    s = t.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("src_tokens"))
    r = mixture_rates(s)
    return (
        t.join(F.broadcast(r), "source")
        .filter(mixture_key() % MIX_RATE_SCALE < F.col("rate_ppm"))
        .select("doc_id", "source", "n_tokens", "rate_ppm")
        .orderBy("doc_id")
    )
