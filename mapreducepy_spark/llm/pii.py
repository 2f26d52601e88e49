"""PII detection / redaction census — the scrub stage of a
training-data pipeline, oracle-checkable by construction.

The fixtures' synthetic text contains no PII, so the operator would
be an all-zeros demo on raw documents. Instead both engines DECORATE
the corpus with the same deterministic injection expression (the
multimodal payload-minting precedent: derive the payload from a
doc_id rule inside the query, no fixture file needed) — every
``doc_id % 4 == 0`` doc gains an email, ``% 4 == 1`` a phone,
``% 4 == 2`` an IP, ``% 4 == 3`` stays clean — and then the DETECTOR
(regex census + redaction, which never sees the rule) must find
exactly what the rule planted. The oracle predicts the censuses from
the same decorated view, so a detector regression (pattern drift,
engine regex-dialect divergence, redaction miscount) breaks the hash.

Regex dialect note: Spark compiles Java regex, DuckDB compiles RE2 —
the patterns below deliberately use only the common subset
(character classes, +, {n}, literal dots escaped) so both engines
match identical spans. Lookarounds/backrefs would NOT port.

Scale: pure narrow map — per-row regexp_count/replace inside
whole-stage codegen, one small aggregation on the source key. At
100 TB the scrub is embarrassingly parallel and the census shuffle
is |sources| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

# Injection rule (both engines compute this identically): decimal
# doc_id renders the same on both, so the planted strings are
# byte-identical.
_INJECT_SQL = """
CASE doc_id % 4
    WHEN 0 THEN text || ' contact user' || CAST(doc_id AS STRING)
                || '@example.com now'
    WHEN 1 THEN text || ' call +1-555-' || CAST(1000 + doc_id % 9000 AS STRING)
                || ' today'
    WHEN 2 THEN text || ' from 10.' || CAST(doc_id % 256 AS STRING)
                || '.0.1 logged'
    ELSE text
END
"""

# Detector patterns — common Java-regex/RE2 subset only.
_RE_EMAIL = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_RE_PHONE = "\\+1-555-[0-9]{4}"
_RE_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_ORACLE_TEXT_PII_CENSUS = f"""
WITH decorated AS (
    SELECT doc_id, source,
           {_INJECT_SQL} AS text2
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
scrubbed AS (
    SELECT doc_id, source, text2,
           CAST(len(regexp_extract_all(text2, '{_RE_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text2, '{_RE_PHONE}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all(text2, '{_RE_IP}')) AS BIGINT)
               AS n_ips,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text2, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                   '{_RE_PHONE}', '<PHONE>', 'g'),
               '{_RE_IP}', '<IP>', 'g') AS redacted
    FROM decorated
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_emails + n_phones + n_ips > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS n_emails,
       CAST(SUM(n_phones) AS BIGINT) AS n_phones,
       CAST(SUM(n_ips) AS BIGINT) AS n_ips,
       CAST(SUM(CAST(len(text2) AS BIGINT)
                - CAST(len(redacted) AS BIGINT)) AS BIGINT)
           AS chars_delta
FROM scrubbed
GROUP BY source
"""


@register(
    "text_pii_census", _ORACLE_TEXT_PII_CENSUS,
    tags=("llm", "text", "pii"),
)
def text_pii_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII census + redaction accounting over the
    rule-decorated corpus: how many emails/phones/IPs the detector
    finds, how many docs carry any PII, and the exact character
    delta the redaction produced (``<EMAIL>``/``<PHONE>``/``<IP>``
    placeholders) — the scrub report a pipeline files before
    releasing a corpus. ``chars_delta`` cross-checks the counts: a
    detector that counts a span but fails to redact it (or redacts
    more than it counted) breaks the reconciliation.

    NULL doc_id / NULL text rows are excluded by contract (they are
    quarantine rows; the injection rule needs a doc_id).
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    decorated = docs.select(
        "doc_id", "source", F.expr(_INJECT_SQL).alias("text2")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text2"), _RE_EMAIL, "<EMAIL>"),
            _RE_PHONE, "<PHONE>",
        ),
        _RE_IP, "<IP>",
    )
    scrubbed = decorated.select(
        "source",
        F.regexp_count("text2", F.lit(_RE_EMAIL)).alias("n_emails"),
        F.regexp_count("text2", F.lit(_RE_PHONE)).alias("n_phones"),
        F.regexp_count("text2", F.lit(_RE_IP)).alias("n_ips"),
        (
            F.length("text2").cast("bigint")
            - F.length(redacted).cast("bigint")
        ).alias("delta"),
    )
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(
                F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0, 1
            ).otherwise(0)
        ).cast("bigint").alias("n_docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        F.sum("n_ips").cast("bigint").alias("n_ips"),
        F.sum("delta").cast("bigint").alias("chars_delta"),
    )


_ORACLE_TEXT_REDACT = f"""
WITH decorated AS (
    SELECT doc_id, source,
           {_INJECT_SQL} AS text2
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
scrubbed AS (
    SELECT doc_id, source, text2,
           CAST(len(regexp_extract_all(text2, '{_RE_EMAIL}')) AS BIGINT)
               + CAST(len(regexp_extract_all(text2, '{_RE_PHONE}')) AS BIGINT)
               + CAST(len(regexp_extract_all(text2, '{_RE_IP}')) AS BIGINT)
               AS n_spans,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text2, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                   '{_RE_PHONE}', '<PHONE>', 'g'),
               '{_RE_IP}', '<IP>', 'g') AS redacted
    FROM decorated
)
SELECT doc_id, source, n_spans,
       CAST(len(text2) AS BIGINT) AS len_before,
       CAST(len(redacted) AS BIGINT) AS len_after,
       md5(redacted) AS redact_fp
FROM scrubbed
"""


@register(
    "text_redact", _ORACLE_TEXT_REDACT,
    tags=("llm", "text", "pii"),
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII REDACTION — the action half of the
    census→action pair (``text_pii_census`` counts; this key
    actually masks). Every surviving document comes back with its
    detected span count, before/after lengths, and the md5
    fingerprint of the REDACTED text — the fingerprint certifies the
    masked bytes themselves, not just their length: an engine whose
    replace chain produced different bytes (order of the three
    passes matters — a redacted <IP> placeholder must not be
    re-matched by the email pass, which is why the chain runs
    email→phone→IP on both sides) breaks the hash. Clean docs
    (``doc_id % 4 == 3``) flow through with n_spans = 0 and the
    fingerprint of their unmodified text — proving the scrubber is
    the identity off PII.

    Scale: pure narrow map — regexp_count/replace/md5 inside
    whole-stage codegen, ZERO shuffles (no aggregate, no join; the
    plan has no Exchange at all, pinned in tests/test_plans.py). At
    100 TB this is the embarrassingly-parallel scrub pass writ
    exact.

    NULL doc_id / NULL text rows are excluded by contract (same as
    the census: quarantine rows; the injection rule needs a doc_id).
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    decorated = docs.select(
        "doc_id", "source", F.expr(_INJECT_SQL).alias("text2")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text2"), _RE_EMAIL, "<EMAIL>"),
            _RE_PHONE, "<PHONE>",
        ),
        _RE_IP, "<IP>",
    )
    return decorated.select(
        "doc_id",
        "source",
        (
            F.regexp_count("text2", F.lit(_RE_EMAIL))
            + F.regexp_count("text2", F.lit(_RE_PHONE))
            + F.regexp_count("text2", F.lit(_RE_IP))
        ).cast("bigint").alias("n_spans"),
        F.length("text2").cast("bigint").alias("len_before"),
        F.length(redacted).cast("bigint").alias("len_after"),
        F.md5(redacted.cast("binary")).alias("redact_fp"),
    )
