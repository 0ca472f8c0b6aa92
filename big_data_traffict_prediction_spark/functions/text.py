"""Text analysis operators over the ``documents`` table — the
LLM-data-pipeline surface (BASELINE.json north star; no analog in the
reference, which the profile classifier F15/§2.10 gestures at).

All string work stays JVM-side (built-in regexp/split/length) — no
Python UDFs in any hot path. Ratios divide exact integers so results
are reproducible across engines.

Shared normalization (`NORM`): lower + collapse whitespace + trim —
one definition, used by every text/dedup query on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import exact_ppm, global_rank, let, md5_hash, md5_hash_sql
from ..registry import register
from ..tables import load_table, spread_documents

# --- shared expressions (Spark + DuckDB twins side by side) -------------

NORM_SQL = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"


def norm_col() -> Column:
    return F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))


EN_MARKERS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
DE_MARKERS = ("der", "die", "das", "und", "ist", "ein", "nicht", "mit")
ES_MARKERS = ("el", "la", "los", "de", "y", "es", "un", "una")

TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9 ]"


def _in_list_sql(lst: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in lst) + "]"


def _marker_count(tokens: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda w: w.isin(*markers))).cast("long")


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {NORM_SQL} AS norm FROM documents
), m AS (
  SELECT doc_id, lang, norm,
         CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
         CAST(length(norm) AS BIGINT) AS n_chars_norm,
         CAST(length(regexp_replace(norm, '[^a-z0-9]', '', 'g')) AS BIGINT) AS alnum_chars,
         CAST(len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS BIGINT) AS punct_chars,
         CAST(len(list_filter(string_split(norm, ' '),
              w -> list_contains({_in_list_sql(EN_MARKERS)}, w))) AS BIGINT) AS stop_words
  FROM t
)
SELECT doc_id, lang, n_words, n_chars_norm,
       CAST(alnum_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_word_len,
       CAST(punct_chars AS DOUBLE) / CAST(n_chars_norm AS DOUBLE) AS punct_ratio,
       CAST(stop_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS stopword_ratio,
       0.4 * LEAST(1.0, CAST(n_words AS DOUBLE) / 100.0)
         + 0.3 * (1.0 - CAST(punct_chars AS DOUBLE) / CAST(n_chars_norm AS DOUBLE))
         + 0.3 * (CAST(stop_words AS DOUBLE) / CAST(n_words AS DOUBLE)) AS quality_score
FROM m
ORDER BY doc_id
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / punctuation / stopword
    signals composed into one score — the standard pre-training
    quality-filter shape, all in whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", norm_col().alias("norm"))
    tokens = F.split("norm", " ")
    m = t.select(
        "doc_id",
        "lang",
        F.size(tokens).cast("long").alias("n_words"),
        F.length("norm").cast("long").alias("n_chars_norm"),
        F.length(F.regexp_replace("norm", "[^a-z0-9]", "")).cast("long").alias("alnum_chars"),
        F.size(F.regexp_extract_all("norm", F.lit(r"[^a-z0-9 ]"), 0)).cast("long").alias("punct_chars"),
        _marker_count(tokens, EN_MARKERS).alias("stop_words"),
    )
    n_words = F.col("n_words").cast("double")
    punct_ratio = F.col("punct_chars").cast("double") / F.col("n_chars_norm").cast("double")
    stop_ratio = F.col("stop_words").cast("double") / n_words
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "n_chars_norm",
        (F.col("alnum_chars").cast("double") / n_words).alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (
            0.4 * F.least(F.lit(1.0), n_words / 100.0)
            + 0.3 * (1.0 - punct_ratio)
            + 0.3 * stop_ratio
        ).alias("quality_score"),
    ).orderBy("doc_id")


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, string_split({NORM_SQL}, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(len(list_filter(toks, w -> list_contains({_in_list_sql(EN_MARKERS)}, w))) AS BIGINT) AS en_hits,
         CAST(len(list_filter(toks, w -> list_contains({_in_list_sql(DE_MARKERS)}, w))) AS BIGINT) AS de_hits,
         CAST(len(list_filter(toks, w -> list_contains({_in_list_sql(ES_MARKERS)}, w))) AS BIGINT) AS es_hits
  FROM t
)
SELECT doc_id, lang, n_words, en_hits, de_hits, es_hits,
       CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
            WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
            WHEN es_hits > 0 THEN 'es'
            ELSE 'und' END AS guessed_lang,
       (CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
             WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
             WHEN es_hits > 0 THEN 'es'
             ELSE 'und' END) = lang AS matches_label
FROM s
ORDER BY doc_id
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via marker-word (n-gram) heuristic: per-language
    hit counts → argmax ladder. Tiny marker dims live in the
    expression itself — nothing shuffles but the final sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(norm_col(), " ")
    s = d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_words"),
        _marker_count(toks, EN_MARKERS).alias("en_hits"),
        _marker_count(toks, DE_MARKERS).alias("de_hits"),
        _marker_count(toks, ES_MARKERS).alias("es_hits"),
    )
    en, de, es = F.col("en_hits"), F.col("de_hits"), F.col("es_hits")
    guessed = (
        F.when((en >= de) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= es) & (de > 0), F.lit("de"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )
    return s.select(
        "doc_id",
        "lang",
        "n_words",
        "en_hits",
        "de_hits",
        "es_hits",
        guessed.alias("guessed_lang"),
        (guessed == F.col("lang")).alias("matches_label"),
    ).orderBy("doc_id")


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, {NORM_SQL} AS norm, n_chars FROM documents
)
SELECT doc_id, n_chars,
       CAST(len(string_split(norm, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(norm, '{TOKEN_RE}')) AS BIGINT) AS bpe_ish_tokens,
       CAST(length(norm) AS DOUBLE)
         / CAST(len(regexp_extract_all(norm, '{TOKEN_RE}')) AS DOUBLE) AS chars_per_token
FROM t
ORDER BY doc_id
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (alpha runs / digit runs / single punctuation), plus
    chars-per-token — the budget metric of every corpus pipeline."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", norm_col().alias("norm"), "n_chars")
    bpe = F.size(F.regexp_extract_all("norm", F.lit(TOKEN_RE), 0)).cast("long")
    return t.select(
        "doc_id",
        "n_chars",
        F.size(F.split("norm", " ")).cast("long").alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        (F.length("norm").cast("double") / bpe.cast("double")).alias("chars_per_token"),
    ).orderBy("doc_id")


@register(
    oracle=f"""
SELECT doc_id,
       md5({NORM_SQL}) AS fingerprint,
       {md5_hash_sql(NORM_SQL, 15)} AS fingerprint60
FROM documents
ORDER BY doc_id
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined document fingerprint: md5 of the normalized
    text, plus the 60-bit integer form used as a shuffle/dedup key."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(norm_col()).alias("fingerprint"),
        md5_hash(norm_col(), 15).alias("fingerprint60"),
    ).orderBy("doc_id")


WINNOW_K = 8  # k-gram length in characters
WINNOW_W = 4  # winnowing window over consecutive k-gram hashes


@register(
    oracle=f"""
WITH t AS (
  SELECT doc_id, {NORM_SQL} AS norm FROM documents
), g AS (
  SELECT doc_id,
         length(norm) - {WINNOW_K - 1} AS n_grams,
         list_transform(
           generate_series(1, greatest(length(norm) - {WINNOW_K - 1}, 0)),
           i -> {md5_hash_sql(f"substring(norm, i, {WINNOW_K})", 15)}
         ) AS hs
  FROM t
), w AS (
  SELECT doc_id, n_grams,
         list_distinct(list_transform(
           generate_series(1, greatest(n_grams - {WINNOW_W - 1}, 1)),
           j -> list_min(hs[j:j+{WINNOW_W - 1}])
         )) AS fps
  FROM g WHERE n_grams >= 1
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(fps) AS BIGINT) AS n_fp,
       CAST(list_min(fps) AS BIGINT) AS min_fp,
       CAST(list_reduce(fps, (a, b) -> xor(a, b)) AS BIGINT) AS fp_xor
FROM w ORDER BY doc_id
""",
)
def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling k-gram fingerprint (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS scheme): hash every {WINNOW_K}-char gram of
    the normalized text, then keep the minimum hash of each window of
    {WINNOW_W} consecutive gram hashes. The selected set is the
    position-robust document signature behind plagiarism/substring
    detection — any shared substring of length ≥ K+W-1 guarantees a
    shared fingerprint, unlike whole-doc hashing (q_doc_fingerprint)
    or fixed chunking (q_substring_dedup), which both miss shifted
    copies.

    Scale shape: everything is per-row higher-order functions in one
    codegen projection (transform → slice/array_min → array_distinct →
    xor fold) — ZERO shuffles except the presentation sort, so it
    scans at I/O speed on any corpus. The emitted row is the compact
    per-doc summary (set size, min, xor checksum), exact in both
    engines via the shared 60-bit md5 hash (compat.md5_hash — the
    same definition the dedup family shuffles on).
    """
    d = spread_documents(spark, sf_dir)  # one md5 per character of text
    base = (
        d.select("doc_id", norm_col().alias("norm"))
        .withColumn("n_grams", (F.length("norm") - (WINNOW_K - 1)).cast("int"))
        .filter(F.col("n_grams") >= 1)
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.col("n_grams")),
        lambda i: md5_hash(F.substring("norm", i, WINNOW_K), 15),
    )

    # Both array expressions go through compat.let: an expression inside
    # a lambda body that does not depend on the lambda variable is NOT
    # loop-invariant-hoisted by Catalyst — slice(hs_expr, j, W) would
    # re-evaluate the whole md5 gram array PER WINDOW, turning the scan
    # O(n_grams²) (measured: 100 s vs 6 s at sf0.01).
    def summary(h):
        wins = F.sequence(
            F.lit(1), F.greatest(F.col("n_grams") - (WINNOW_W - 1), F.lit(1))
        )
        fps = F.array_distinct(
            F.transform(wins, lambda j: F.array_min(F.slice(h, j, WINNOW_W)))
        )
        return let(
            fps,
            lambda fp: F.struct(
                F.size(fp).cast("long").alias("n_fp"),
                F.array_min(fp).alias("min_fp"),
                F.aggregate(
                    fp, F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
                ).alias("fp_xor"),
            ),
        )

    return (
        base.select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            let(hs, summary).alias("s"),
        )
        .select("doc_id", "n_grams", "s.*")
        .orderBy("doc_id")
    )


# Camera-profile classifier analog (reference app/utils.py:16-30 maps
# name keywords → EXTREME/HEAVY/ARTERIAL/RESIDENTIAL/DEFAULT); part
# names carry the keyword vocabulary in testdata.
@register(
    oracle="""
SELECT p_partkey,
       p_name,
       CASE WHEN contains(lower(p_name), 'red') THEN 'EXTREME'
            WHEN contains(lower(p_name), 'hot') THEN 'HEAVY'
            WHEN contains(lower(p_name), 'blue') THEN 'ARTERIAL'
            WHEN contains(lower(p_name), 'small') THEN 'RESIDENTIAL'
            ELSE 'DEFAULT' END AS profile
FROM part
ORDER BY p_partkey
""",
)
def q_part_keyword_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/§2.10: keyword-ladder profile classifier (lower + contains
    CASE ladder), the reference's camera-profile classing."""
    p = load_table(spark, sf_dir, "part")
    low = F.lower("p_name")
    return p.select(
        "p_partkey",
        "p_name",
        F.when(low.contains("red"), F.lit("EXTREME"))
        .when(low.contains("hot"), F.lit("HEAVY"))
        .when(low.contains("blue"), F.lit("ARTERIAL"))
        .when(low.contains("small"), F.lit("RESIDENTIAL"))
        .otherwise(F.lit("DEFAULT"))
        .alias("profile"),
    ).orderBy("p_partkey")


# ------------------------------------------------------------ tf-idf

TFIDF_TOP = 3


@register(
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS score,
         ROW_NUMBER() OVER (
           PARTITION BY t.doc_id
           ORDER BY CAST(t.tf * n.n_docs AS DOUBLE) / d.df DESC, t.term
         ) AS rnk
  FROM tf t JOIN df d USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, ROUND(score, 6) AS score, CAST(rnk AS BIGINT) AS rnk
FROM scored WHERE rnk <= {TFIDF_TOP}
ORDER BY doc_id, rnk
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOP} characteristic terms by a TF-IDF
    score.

    The idf factor is the RAW rarity ratio n_docs/df, not log(n/df):
    tf·n_docs is an exact integer and one IEEE division is
    correctly-rounded in every engine, so the score (and therefore the
    ranking) is bit-reproducible cross-engine — a transcendental log
    can differ in the last ulp between libm implementations, and two
    mathematically-equal scores computed through different ln() calls
    could then rank differently on each engine. Ranking is unchanged
    for any monotone idf when comparing equal-tf terms, and the raw
    ratio is the standard determinism trade.

    Shape: the tf aggregate shuffles on (doc, term); df on term; the
    df→tf join broadcasts the (distinct-term, df) side when small or
    shuffles on term — both linear in corpus size. The n_docs scalar
    joins as a broadcast literal."""
    d = load_table(spark, sf_dir, "documents")
    tok = _tokenized_docs(spark, sf_dir)
    # df derives FROM tf (one row per (doc, term) ⇒ count per term IS
    # the distinct-doc frequency): one tokenize+explode pass instead of
    # two, and the df aggregation runs over the much smaller tf frame —
    # which the checkpoint materializes once for its two consumers
    # (r13 opt round).
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select(
            "doc_id", "term", "tf", "df",
            F.round("score", 6).alias("score"), "rnk",
        )
        .orderBy("doc_id", "rnk")
    )


def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term): one row per whitespace token occurrence of the
    normalized text. The generator child is kept an expression (not a
    projected attribute) — see functions/dedup.shingles for why."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(F.split(norm_col(), " ")).alias("term")
    )


POSTINGS_CAP = 10


@register(
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS term
  FROM documents
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id))[1:{POSTINGS_CAP}], ',') AS postings_head
FROM tok
GROUP BY term
ORDER BY term
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + the first
    {POSTINGS_CAP} postings (sorted doc_ids, comma-joined — a string so
    the cross-engine hash compare is representation-stable). ONE
    shuffle on term with map-side partial aggregation; posting lists
    are capped so no single hot term materializes an unbounded array
    (the full index write would keep postings bucketed by term
    instead)."""
    tok = _tokenized_docs(spark, sf_dir).distinct()
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, POSTINGS_CAP),
                ",",
            ).alias("postings_head"),
        )
        .orderBy("term")
    )


# ----------------------------------------------------------- BM25 search

BM25_TERMS = ("spark", "join", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10


def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(toks, w -> w = '{t}')) AS BIGINT) AS tf_{t}"
        for t in BM25_TERMS
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in BM25_TERMS
    )
    # Exactly the Spark expression tree: idf * tf * (k1+1) / (tf + k1*(1-b+b*dl/avgdl)).
    term_scores = "\n       + ".join(
        f"(CAST(s.n_docs AS DOUBLE) - s.df_{t} + 0.5) / (s.df_{t} + 0.5)"
        f" * b.tf_{t} * ({BM25_K1} + 1.0)"
        f" / (b.tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}"
        f" * (CAST(b.dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))"
        for t in BM25_TERMS
    )
    tf_list = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    tf_sum = " + ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents)
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         {df_cols}
  FROM base
)
SELECT doc_id, dl, {tf_list}, ROUND(score, 6) AS bm25
FROM (
  SELECT b.doc_id, b.dl, {tf_list},
         {term_scores} AS score
  FROM base b CROSS JOIN s
)
WHERE {tf_sum} > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP}
"""


@register(oracle=_bm25_oracle())
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOP} retrieval for a fixed {BM25_TERMS} query —
    the ranked-search primitive over the corpus, composed shuffle-free:
    per-term tf and doclen are in-row array ops over the let-bound
    token array (no explode, no (doc,term) shuffle — the query term
    set is tiny and fixed, so tf-per-term is a column, not a row); the
    corpus stats (N, Σdl, per-term df) are ONE scalar-aggregate row
    broadcast back; the top-k is a TakeOrderedAndProject. At 100 TB
    the only non-map work is the one-row stats aggregate and the final
    top-k — this is the right shape wherever the query set is small
    (classic search serving); a large query WORKLOAD would batch
    through the (doc,term) explode instead (q_tfidf_top_terms shape).

    The idf is the RAW rarity ratio (N-df+0.5)/(df+0.5), not its log:
    same determinism trade as q_tfidf_top_terms — every factor is then
    integers through correctly-rounded IEEE ops written in the
    identical association order in both engines, so scores (and the
    top-k cut) are bit-reproducible; a libm log could diverge in the
    last ulp and flip a rank."""
    from ..compat import let

    def _tf(ts: F.Column, term: str) -> F.Column:
        # NB: a one-arg lambda is required — F.filter treats a second
        # lambda parameter (even a defaulted one) as the array index.
        return F.size(F.filter(ts, lambda w: w == term)).cast("long")

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        let(
            F.split(norm_col(), " "),
            lambda ts: F.struct(
                F.size(ts).cast("long").alias("dl"),
                *[_tf(ts, t).alias(f"tf_{t}") for t in BM25_TERMS],
            ),
        ).alias("s"),
    ).select("doc_id", "s.*")
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )

    def term_score(t: str) -> F.Column:
        n = F.col("n_docs").cast("double")
        df = F.col(f"df_{t}")
        tf = F.col(f"tf_{t}")
        avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
        idf = (n - df + 0.5) / (df + 0.5)
        return (
            idf
            * tf
            * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (F.col("dl").cast("double") / avgdl)))
        )

    score = term_score(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        score = score + term_score(t)
    matched = F.lit(0)
    for t in BM25_TERMS:
        matched = matched + F.col(f"tf_{t}")
    return (
        base.crossJoin(F.broadcast(stats))
        .withColumn("score", score)
        .filter(matched > 0)
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP)
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in BM25_TERMS],
            F.round("score", 6).alias("bm25"),
        )
    )


VOCAB_COVERAGE_PCT = 90


@register(
    oracle=f"""
WITH t AS (
  SELECT string_split({NORM_SQL}, ' ') AS toks FROM documents
),
cnt AS (
  SELECT token, COUNT(*) AS n
  FROM (SELECT unnest(toks) AS token FROM t) GROUP BY 1
),
ranked AS (
  SELECT token, CAST(n AS BIGINT) AS n,
         row_number() OVER (ORDER BY n DESC, token) AS rank,
         SUM(n) OVER (ORDER BY n DESC, token
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER () AS total
  FROM cnt
)
SELECT CAST(rank AS INT) AS rank, token, n,
       CAST(cum AS BIGINT) AS cum_tokens,
       CAST(cum * 100 // total AS BIGINT) AS coverage_pct
FROM ranked
WHERE (cum - n) * 100 < total * {VOCAB_COVERAGE_PCT}
ORDER BY rank
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary builder: corpus tokens by descending
    frequency with running coverage, truncated to the prefix that
    reaches {VOCAB_COVERAGE_PCT}% of the token mass (the standard
    vocab-size-vs-coverage decision for a word-level tokenizer; the
    truncation predicate ``(cum - n)·100 < total·pct`` keeps exactly
    the rows whose PRECEDING mass is still short of the target, in
    exact integer math — no percentage double anywhere).

    One (token) count shuffle — tokens move as grouped counts, not
    text occurrences (map-side combine). The VOCABULARY itself grows
    with the corpus (billions of distinct tokens at 100 TB), so the
    rank + running-coverage pass is ``compat.global_rank`` with its
    distributed prefix sum (range sort → parallel per-partition
    rank/cumsum → broadcast cluster-width offsets) — never a
    single-partition global window; coverage is exact integer ``div``.
    """
    t = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(norm_col(), " ")).alias("token")
    )
    cnt = t.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    ranked = global_rank(cnt, [F.desc("n"), F.asc("token")], sum_col="n")
    return (
        ranked.filter(
            (F.col("_cum") - F.col("n")) * 100 < F.col("_tot") * VOCAB_COVERAGE_PCT
        )
        .select(
            F.col("_rk").cast("int").alias("rank"),
            "token",
            F.col("n").cast("long").alias("n"),
            F.col("_cum").cast("long").alias("cum_tokens"),
            exact_ppm(F.col("_cum"), F.col("_tot"), scale=100)
            .cast("long")
            .alias("coverage_pct"),
        )
        .orderBy("rank")
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


@register(
    oracle=f"""
WITH t AS (
  SELECT string_split({NORM_SQL}, ' ') AS toks FROM documents
),
uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(toks) AS token FROM t) GROUP BY 1
),
big AS (
  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM (
    SELECT unnest(toks[1:len(toks)-1]) AS ta,
           unnest(toks[2:len(toks)]) AS tb
    FROM t WHERE len(toks) >= 2
  ) GROUP BY 1, 2
),
tot AS (
  SELECT (SELECT SUM(n) FROM uni) AS n_tok,
         (SELECT SUM(n_ab) FROM big) AS n_big
),
scored AS (
  SELECT b.ta, b.tb, b.n_ab,
         (CAST(b.n_ab AS DOUBLE) * t.n_tok * t.n_tok)
           / (CAST(t.n_big AS DOUBLE) * ua.n * ub.n) AS lift
  FROM big b
  JOIN uni ua ON ua.token = b.ta
  JOIN uni ub ON ub.token = b.tb
  CROSS JOIN tot t
  WHERE b.n_ab >= {PMI_MIN_COUNT}
)
SELECT ta, tb, n_ab, lift
FROM scored
ORDER BY lift DESC, ta, tb
LIMIT {PMI_TOP_K}
""",
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: adjacent token pairs ranked by PMI lift
    p(ab)/(p(a)p(b)) — the association statistic behind phrase mining
    and tokenizer-merge candidates (a high-lift bigram is a BPE merge
    waiting to happen). The ranking uses the LIFT ratio rather than
    log-PMI: log() is libm and differs across engines at the ULP
    level, while the ratio is one fixed chain of exact-rounded double
    ops over exact integer counts — identical bits on both engines
    (and log is monotone, so the ranking is the same statistic).

    Two count shuffles (unigrams, bigrams — both move as grouped
    counts, map-side combined); the corpus totals are a one-row
    crossJoin broadcast. The unigram tables are VOCABULARY-sized
    (grows with the corpus), so they join the bigram side as plain
    hash joins on the token key — never a forced broadcast; top-k is
    TakeOrderedAndProject.
    """
    t = load_table(spark, sf_dir, "documents").select(
        F.split(norm_col(), " ").alias("toks")
    )
    # uni feeds three consumers (totals + both join sides) and big two
    # (totals + scoring): eager checkpoints of the vocabulary-sized
    # count frames run each tokenize+explode+count pass once instead of
    # once per consumer — 5 document scans → 2 (r13 opt round).
    uni = (
        t.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    big = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, F.size("toks") - 1).alias("ta"),
                    F.slice("toks", 2, F.size("toks") - 1).alias("tb"),
                )
            ).alias("p")
        )
        .select(F.col("p.ta").alias("ta"), F.col("p.tb").alias("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .localCheckpoint(eager=True)
    )
    tot = uni.agg(F.sum("n").alias("n_tok")).crossJoin(
        big.agg(F.sum("n_ab").alias("n_big"))
    )
    ua = uni.select(F.col("token").alias("ta"), F.col("n").alias("na"))
    ub = uni.select(F.col("token").alias("tb"), F.col("n").alias("nb"))
    scored = (
        big.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .join(ua, "ta")
        .join(ub, "tb")
        .crossJoin(F.broadcast(tot))
        .select(
            "ta",
            "tb",
            F.col("n_ab").cast("long").alias("n_ab"),
            (
                F.col("n_ab").cast("double") * F.col("n_tok") * F.col("n_tok")
                / (F.col("n_big").cast("double") * F.col("na") * F.col("nb"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "ta", "tb").limit(PMI_TOP_K)
