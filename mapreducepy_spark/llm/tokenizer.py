"""Tokenizer-training building blocks (SURVEY.md §2.10, LLM family).

BPE training's inner loop — "count every adjacent symbol pair,
weighted by word frequency" — is the canonical example of an
operation that looks corpus-sized but is actually VOCABULARY-sized:
the corpus is touched exactly once (a whitespace wordcount), and all
pair expansion happens over the distinct-word table, whose size is
bounded by the vocabulary, not the token count. At 100 TB of text
the wordcount is the only heavy stage, and it is the most
combiner-friendly aggregation there is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register

# Top-K adjacent pairs reported (the first K BPE merge candidates).
_TOP_PAIRS = 30

_ORACLE_TEXT_BPE_PAIRS = f"""
WITH words AS (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        AS w
    FROM documents
    WHERE text IS NOT NULL
),
wc AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w
),
pairs AS (
    SELECT substr(w, CAST(i.i AS INT), 2) AS pair, c
    FROM wc
    CROSS JOIN unnest(generate_series(1, length(w) - 1)) AS i(i)
    WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(c) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT {_TOP_PAIRS}
"""


@register(
    "text_bpe_pairs", _ORACLE_TEXT_BPE_PAIRS, tags=("llm", "text")
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step: corpus-wide counts of every adjacent
    character pair inside whitespace words, weighted by word
    frequency — the statistic a BPE tokenizer trainer maximizes when
    choosing its next merge. Top-K pairs, count-desc (pair-asc tie
    break).

    Scale: the ONLY corpus-sized stage is the whitespace wordcount
    (explode + groupBy with map-side combine — duplicate words
    collapse before the shuffle). The character-pair expansion
    (``transform(sequence(...))`` + explode) runs over the DISTINCT
    word table — vocabulary-sized, orders of magnitude smaller than
    the corpus and roughly constant once the vocabulary saturates —
    and the final pair table (≤ charset² rows after combine) takes a
    TakeOrdered top-K, never a global sort. No Python worker; every
    expression is codegen'd.

    Hash parity: pure integer counts; ``substring``/``substr`` are
    both 1-based and character-counting (not bytes) on the two
    engines; a 1-char word generates an empty pair sequence on both
    (``sequence(1, 0)`` / ``generate_series(1, 0)`` are empty); NULL
    text tokenizes to no words on both (explode of NULL vs unnest of
    NULL).
    """
    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pairs = F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
    return (
        wc.filter(F.length("w") >= 2)
        .select(F.explode(pairs).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(_TOP_PAIRS)
    )
