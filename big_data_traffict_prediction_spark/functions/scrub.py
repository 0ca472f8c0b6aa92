"""PII scrubbing — the redaction stage of a pre-training curation
pipeline (emails / IPv4 addresses / phone numbers → typed placeholder
tokens, with per-category match counts).

The reference has no PII handling (its corpus is camera telemetry);
this is part of the beyond-reference LLM-data-pipeline surface, same
family as functions/curation.py. The synthetic documents corpus
contains no real PII, so the query PLANTS deterministic PII spans
derived from doc_id (varied per doc via doc_id modulus so the counts
exercise 0-match and 1-match paths) and then scrubs them — both
engines build the identical augmented string, so the oracle checks
the regex/replacement semantics themselves, not the fixture.

Scale: pure per-row regexp work inside whole-stage codegen — zero
shuffles except the final presentation sort; at 100 TB this is a map
over the documents scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

# One pattern string per category, shared verbatim by both engines
# (Java regex and RE2 agree on this subset: classes, bounded repeats,
# word boundaries, alternation-free groups).
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"
PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"

# Redaction order matters and is pinned: emails first (they embed
# digits), then IPs, then phones.
_REDACTIONS = (
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
)


def _augmented_sql() -> str:
    """DuckDB expression planting deterministic PII spans into text."""
    return """text
      || CASE WHEN doc_id % 3 > 0
              THEN ' contact user' || doc_id || '@example.com' ELSE '' END
      || CASE WHEN doc_id % 2 = 0
              THEN ' from 10.' || (doc_id % 256) || '.0.7' ELSE '' END
      || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"""


def _augmented_col() -> F.Column:
    """Spark twin of :func:`_augmented_sql` (identical string)."""
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 > 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" from 10."), F.col("doc_id") % 256, F.lit(".0.7")),
        ).otherwise(F.lit("")),
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )


@register(
    oracle=f"""
WITH aug AS (
  SELECT doc_id, {_augmented_sql()} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{IPV4_RE}', '<IP>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
             '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{IPV4_RE}', '<IP>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
FROM aug
ORDER BY doc_id
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-category counts: plant deterministic
    email/IP/phone spans (fixture-in-query — see module docstring),
    count each category's matches, then chain the three
    ``regexp_replace`` passes in pinned order and fingerprint the
    scrubbed output. Everything is per-row codegen; the md5 of the
    redacted string makes the oracle sensitive to WHERE the
    replacements landed, not just how many."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select("doc_id", _augmented_col().alias("t"))
    redacted = F.col("t")
    for pat, repl in _REDACTIONS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(IPV4_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all("t", F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
        F.length(redacted).cast("long").alias("redacted_len"),
    ).orderBy("doc_id")
