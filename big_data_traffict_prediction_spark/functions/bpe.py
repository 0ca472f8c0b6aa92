"""Distributed BPE-merge trainer — the tokenizer-prep operator of an
LLM data pipeline (Sennrich et al. 2016): learn the top-K byte-pair
merge rules from corpus word frequencies.

Scale shape: after ONE corpus-sized word count (exploded words →
groupBy, map-side combined), every round works on the VOCABULARY
(word, count, token-array) frame — pair counting is a per-row HOF
expansion + one vocabulary-sized aggregation, the winning pair is a
single driver scalar (top-1), and the merge applies per-row with
higher-order functions (no explode, no shuffle). K rounds = K bounded
aggregations; the corpus is never touched again. The vocabulary frame
localCheckpoints each round (same lineage discipline as
connected_components / pagerank, SCALE.md).

Greedy-left merge semantics (the reference BPE behavior): scanning a
word left to right, an occurrence merges iff the previous token was
not itself just merged — i.e. within a run of consecutive match
positions only every other one merges. Both engines implement exactly
this: Spark as a per-row fold (keep m iff m ≠ last_kept + 1), the
DuckDB oracle as run-grouping window SQL; equality is pinned by a
pure-Python reference in tests/test_bpe.py.

Reference parity: the reference app has no tokenizer surface — this is
north-star LLM-pipeline coverage next to token counting
(functions/text.py) and sequence packing (functions/curation.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .text import NORM_SQL, norm_col

BPE_MERGES = 8


def word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt, t: array<string> of characters) — corpus word
    frequencies with each word split into single-character tokens.
    The only corpus-sized stage of the trainer."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(norm_col(), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.call_function("substr", F.col("word"), i, F.lit(1)),
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select("word", "cnt", chars.alias("t"))
    )


def _pair_positions(a, b):
    """Per-row match positions: 1-based i with t[i]=a and t[i+1]=b."""
    return F.when(
        F.size("t") >= 2,
        F.filter(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: (F.element_at("t", i) == a)
            & (F.element_at("t", i + 1) == b),
        ),
    ).otherwise(F.array().cast("array<integer>"))


def _greedy_kept(ms):
    """Greedy-left selection over sorted match positions: keep m iff
    m ≠ last_kept + 1 (consecutive matches exist only when the merge
    pair is a self-pair, e.g. 'aa' in 'aaaa')."""
    init = F.struct(
        F.lit(-10).cast("integer").alias("last"),
        F.array().cast("array<integer>").alias("ks"),
    )
    return F.aggregate(
        ms,
        init,
        lambda acc, m: F.struct(
            F.when(m == acc["last"] + 1, acc["last"]).otherwise(m).alias("last"),
            F.when(m == acc["last"] + 1, acc["ks"])
            .otherwise(F.array_append(acc["ks"], m))
            .alias("ks"),
        ),
        lambda acc: acc["ks"],
    )


def bpe_merge_table(vocab: DataFrame, k: int) -> list[tuple[int, str, str, int]]:
    """Learn ``k`` merge rules from a (word, cnt, t) vocabulary frame;
    returns [(step, left_token, right_token, pair_count), ...]."""
    merges, _ = bpe_train(vocab, k)
    return merges


def bpe_train(
    vocab: DataFrame, k: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``k`` merge rules AND return the fully-merged vocabulary
    frame (word, cnt, t) — the tokenizer: a word's BPE tokens under
    the learned rules are exactly its final ``t`` array."""
    v = vocab.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, k + 1):
        pair_idx = F.when(
            F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
        ).otherwise(F.array().cast("array<integer>"))
        best = (
            v.select("cnt", "t", F.explode(pair_idx).alias("i"))
            .select(
                F.element_at("t", F.col("i")).alias("a"),
                F.element_at("t", F.col("i") + 1).alias("b"),
                "cnt",
            )
            .groupBy("a", "b")
            .agg(F.sum("cnt").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            # bounded: top-1 pair — ONE row reaches the driver per round
            .collect()
        )
        if not best:
            break
        a, b, n = best[0].a, best[0].b, int(best[0].n)
        merges.append((step, a, b, n))
        al, bl = F.lit(a), F.lit(b)
        v = (
            v.select(
                "word", "cnt", "t",
                _greedy_kept(_pair_positions(al, bl)).alias("ks"),
            )
            .select(
                "word",
                "cnt",
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t")),
                        lambda i: F.when(
                            F.array_contains("ks", i), F.concat(al, bl)
                        )
                        .when(F.array_contains("ks", i - 1), F.lit(None))
                        .otherwise(F.element_at("t", i)),
                    ),
                    lambda x: x.isNotNull(),
                ).alias("t"),
            )
            .localCheckpoint(eager=True)
        )
    return merges, v


def _bpe_cte() -> str:
    """Unrolled trainer body: 5 MATERIALIZED CTE layers per merge
    round (pair counts → top-1 → match positions → greedy-left kept
    set via run-grouping windows → rebuilt vocabulary)."""
    layers = [
        f"""v0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
         list_transform(range(1, length(word) + 1),
                        i -> substr(word, CAST(i AS INT), 1)) AS t
  FROM (SELECT unnest(string_split({NORM_SQL}, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)"""
    ]
    for r in range(1, BPE_MERGES + 1):
        p = r - 1
        layers.append(
            f"""pc{r} AS MATERIALIZED (
  SELECT t[i] AS a, t[i + 1] AS b, SUM(cnt) AS n
  FROM v{p}, unnest(range(1, len(t))) AS u(i)
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT a, b, CAST(n AS BIGINT) AS n FROM pc{r} ORDER BY n DESC, a, b LIMIT 1
),
m{r} AS MATERIALIZED (
  SELECT v.word, u.i
  FROM v{p} v, best{r} bb, unnest(range(1, len(v.t))) AS u(i)
  WHERE v.t[i] = bb.a AND v.t[i + 1] = bb.b
),
k{r} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i, i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS run_id
    FROM m{r}
  )
  QUALIFY (i - MIN(i) OVER (PARTITION BY word, run_id)) % 2 = 0
),
v{r} AS MATERIALIZED (
  SELECT v.word, v.cnt,
    list_filter(
      list_transform(range(1, len(v.t) + 1),
        i -> CASE WHEN list_contains(kl.ks, i) THEN bb.a || bb.b
                  WHEN list_contains(kl.ks, i - 1) THEN NULL
                  ELSE v.t[i] END),
      x -> x IS NOT NULL) AS t
  FROM v{p} v
  LEFT JOIN (SELECT word, list(i) AS ks FROM k{r} GROUP BY word) kl USING (word)
  CROSS JOIN best{r} bb
)"""
        )
    return "WITH " + ",\n".join(layers)


def _bpe_oracle() -> str:
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS step, a AS left_token, b AS right_token,"
        f" n AS pair_count FROM best{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return _bpe_cte() + f"\nSELECT * FROM (\n{steps}\n) ORDER BY step"


def _bpe_tokenize_oracle() -> str:
    return (
        _bpe_cte()
        + f"""
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
       CAST(SUM(len(v.t)) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS word
      FROM documents) d
JOIN v{BPE_MERGES} v USING (word)
WHERE d.word <> ''
GROUP BY d.doc_id
ORDER BY d.doc_id
"""
    )


@register(oracle=_bpe_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE_MERGES byte-pair merge rules learned from the
    corpus: (step, left_token, right_token, pair_count). Later rules
    compose earlier ones (e.g. 'm' + 'er'), so the rows pin the whole
    iterative trainer, not just independent pair counts."""
    merges = bpe_merge_table(word_vocab(spark, sf_dir), BPE_MERGES)
    # bounded: exactly BPE_MERGES learned rules re-enter as a frame
    return spark.createDataFrame(
        merges, "step long, left_token string, right_token string, pair_count long"
    ).orderBy("step")


@register(oracle=_bpe_tokenize_oracle())
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus under the learned BPE rules: per document
    the word, character, and BPE-token counts — the budget numbers a
    training pipeline derives before packing sequences. Tokenization
    is word-level (the trainer never merges across words), so each
    DISTINCT word is tokenized once on the vocabulary frame and
    documents just sum their words' token counts through one join —
    at 100 TB the tokenizer output is a vocabulary-sized dimension,
    not a per-token corpus expansion."""
    _, v = bpe_train(word_vocab(spark, sf_dir), BPE_MERGES)
    toks = v.select(
        "word",
        F.size("t").cast("long").alias("n_tok"),
        F.length("word").cast("long").alias("n_chars_w"),
    )
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select("doc_id", F.explode(F.split(norm_col(), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.join(toks, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_chars_w").cast("long").alias("n_chars"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )
