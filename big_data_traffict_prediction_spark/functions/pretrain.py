"""Pretraining-corpus curation operators: span-level duplicate
detection, per-source domain capping, and corpus-level bigram
familiarity scoring over ``documents``.

These complete the LLM-data-pipeline surface (doc-level dedup in
``dedup.py``, quality/lang in ``text.py``, repetition/contamination in
``curation.py``) with three steps published pipelines run between
doc-dedup and tokenization:

- **substring dedup** (fixed-window exact form of Lee et al. 2022,
  "Deduplicating Training Data Makes Language Models Better"): find
  character spans shared verbatim across documents — doc-level dedup
  misses boilerplate repeated inside otherwise-distinct pages;
- **domain capping** (RefinedWeb/Pile-style): bound any one source's
  contribution by keeping only its top-K docs by quality;
- **bigram familiarity** (count-based stand-in for CCNet's LM
  perplexity filter, Wenzek et al. 2020): score each document by how
  common its word bigrams are corpus-wide. Integer document
  frequencies replace float log-probs so the score is bit-exact
  across engines and re-partitionings.

100 TB shapes: spans/bigrams shuffle as 8-byte hashes (never text);
one explicit repartition on the hash feeds BOTH the per-(hash,doc)
aggregate and the document-frequency window without further
exchanges (hash-partitioning on ``h`` satisfies the clustering
requirement of the finer ``(h, doc_id)`` grouping); the final
per-document rollup runs on the reduced set. Domain capping is one
window pass partitioned by source — skew-safe because rank truncation
is per-partition state of one counter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import let, md5_hash, md5_hash_sql
from ..registry import register
from ..tables import load_table
from .text import NORM_SQL, norm_col

# --- shared span machinery ---------------------------------------------

SPAN_W = 64  # characters per window (≈ the 50-token windows of Lee et al., scaled to chars)
SPAN_STRIDE = 16  # window stride; 4× overlap keeps recall high at 1/16 the rows of stride-1


def _per_hash_doc_counts(spans: DataFrame) -> DataFrame:
    """(doc_id, h) span stream → per-(h, doc) multiplicity + the
    number of distinct docs containing h (its document frequency).

    ONE shuffle: the explicit ``repartition(h)`` satisfies both the
    ``(h, doc_id)`` grouping (h is a subset of the grouping keys) and
    the ``PARTITION BY h`` window, so neither adds an Exchange.
    """
    return (
        spans.repartition(F.col("h"))
        .groupBy("h", "doc_id")
        .agg(F.count("*").alias("cnt"))
        .withColumn("docs_with", F.count("*").over(Window.partitionBy("h")))
    )


# --- substring (span-level) dedup --------------------------------------


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, {NORM_SQL} AS norm FROM documents
), s AS (
  SELECT doc_id, {md5_hash_sql(f"substr(norm, CAST(i AS INT), {SPAN_W})", 15)} AS h
  FROM t, unnest(generate_series(1, greatest(length(norm) - {SPAN_W - 1}, 1), {SPAN_STRIDE})) AS u(i)
), hd AS (
  SELECT h, doc_id, count(*) AS cnt FROM s GROUP BY h, doc_id
), hw AS (
  SELECT doc_id, cnt, count(*) OVER (PARTITION BY h) AS docs_with FROM hd
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN docs_with > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(sum(CASE WHEN docs_with > 1 THEN cnt ELSE 0 END) AS DOUBLE)
         / CAST(sum(cnt) AS DOUBLE) AS dup_frac
FROM hw GROUP BY doc_id ORDER BY doc_id
""",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate detection: fraction of each document's
    64-char windows (stride 16) that appear verbatim in ≥2 documents.

    Doc-level dedup (``q_dedup_exact``/MinHash) cannot see boilerplate
    shared *inside* otherwise-distinct documents; this is the exact
    fixed-window form of suffix-array substring dedup (Lee et al.
    2022). No reference analog — LLM-pipeline surface (BASELINE.json).

    Scale: windows shuffle as 60-bit hashes (8 bytes vs 64 text
    bytes); a single repartition on the hash serves the multiplicity
    aggregate AND the document-frequency window (see
    ``_per_hash_doc_counts``); the per-document rollup shuffles only
    the reduced (h, doc) set. Collision odds at 2^60 are ~1e-18 per
    pair — and the DuckDB oracle computes the identical hash, so the
    check is exact either way.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", norm_col().alias("norm")
    )
    spans = docs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("norm") - (SPAN_W - 1), F.lit(1)),
                F.lit(SPAN_STRIDE),
            )
        ).alias("pos"),
        "norm",
    ).select(
        "doc_id",
        md5_hash(F.substring(F.col("norm"), F.col("pos"), SPAN_W), 15).alias("h"),
    )
    hd = _per_hash_doc_counts(spans)
    dup_cnt = F.sum(F.when(F.col("docs_with") > 1, F.col("cnt")).otherwise(F.lit(0)))
    return (
        hd.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_spans"),
            dup_cnt.alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"),
        )
        .orderBy("doc_id")
    )


# --- bigram familiarity (count-based CCNet-style filter) ----------------


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         {md5_hash_sql("toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]", 15)} AS h
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), hd AS (
  SELECT h, doc_id, count(*) AS cnt FROM g GROUP BY h, doc_id
), hw AS (
  SELECT doc_id, cnt, count(*) OVER (PARTITION BY h) AS docs_with FROM hd
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN docs_with >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_familiar,
       CAST(sum(CASE WHEN docs_with >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
         / CAST(sum(cnt) AS DOUBLE) AS familiar_frac,
       CAST(sum(docs_with * cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS avg_doc_freq
FROM hw GROUP BY doc_id ORDER BY doc_id
""",
)
def q_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level familiarity score per document: the fraction of
    its word bigrams that occur in ≥2 documents, and the mean document
    frequency of its bigrams.

    This is the count-based analog of CCNet's LM-perplexity quality
    filter (Wenzek et al. 2020): rare-bigram-heavy documents (noise,
    gibberish) score low. Integer document frequencies make the score
    bit-exact where a float log-prob sum would not be.

    Scale: same one-repartition hash machinery as
    ``q_substring_dedup`` — bigrams move as 60-bit hashes, the
    corpus-wide document-frequency table is never materialized
    driver-side, and no broadcast is assumed (at 100 TB the bigram
    vocabulary is NOT dimension-sized; the equi-partitioned window is
    the honest shape).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_col(), " ").alias("toks")
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                let(
                    F.col("toks"),
                    lambda t: F.transform(
                        F.sequence(F.lit(1), F.size(t) - 1),
                        lambda i: md5_hash(
                            F.concat_ws(
                                " ", F.element_at(t, i), F.element_at(t, i + 1)
                            ),
                            15,
                        ),
                    ),
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("h"),
    )
    hd = _per_hash_doc_counts(grams)
    fam_cnt = F.sum(F.when(F.col("docs_with") >= 2, F.col("cnt")).otherwise(F.lit(0)))
    return (
        hd.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            fam_cnt.alias("n_familiar"),
            F.sum(F.col("docs_with") * F.col("cnt")).alias("_wdf"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_familiar",
            (F.col("n_familiar").cast("double") / F.col("n_bigrams").cast("double")).alias(
                "familiar_frac"
            ),
            (F.col("_wdf").cast("double") / F.col("n_bigrams").cast("double")).alias(
                "avg_doc_freq"
            ),
        )
        .orderBy("doc_id")
    )


# --- domain capping -----------------------------------------------------

DOMAIN_CAP = 10  # keep at most this many docs per source


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split({NORM_SQL}, ' ') AS toks FROM documents
), q AS (
  SELECT doc_id, source,
         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS quality
  FROM t
), r AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
  FROM q
)
SELECT doc_id, source, quality, rk
FROM r WHERE rk <= {DOMAIN_CAP}
ORDER BY source, rk
""",
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: keep each source's top-{DOMAIN_CAP} documents by
    quality (distinct-token ratio), ranked deterministically.

    Published pipelines bound any one domain's share of the training
    mix (RefinedWeb per-domain caps, the Pile's source weights) so a
    single crawler-friendly site cannot dominate. No reference analog
    — LLM-pipeline surface.

    Scale: one window pass partitioned by source. A pathologically hot
    source makes one partition large, but rank truncation needs only a
    running counter per partition (no buffering beyond the sort), and
    the quality score is computed BEFORE the shuffle so only
    (doc_id, source, double) rows move — never text.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        let(
            F.split(norm_col(), " "),
            lambda t: F.size(F.array_distinct(t)).cast("double")
            / F.size(t).cast("double"),
        ).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= DOMAIN_CAP)
        .orderBy("source", "rk")
    )
