"""ORC corpus ingestion (SURVEY.md §2.1 S-family — the last of the
columnar formats a lake realistically lands: parquet, JSONL, CSV,
Kafka-shape JSON, now ORC).

The fixture is minted DRIVER-SIDE by pyarrow's ORC writer — a second,
independent implementation of the format — and read back by Spark's
native ORC reader, so a hash-green census certifies cross-writer
interoperability, not just Spark round-tripping its own output. The
census re-derives every measure from the payload itself (length of
the text actually stored, not the precomputed n_chars column), so a
single corrupted/truncated string surfaces as a hash mismatch.

Scale: ORC scans get the same vectorized reader + predicate pushdown
machinery as parquet in Spark (``spark.sql.orc.impl=native``); the
census is one map-side-combining aggregation, |langs|·|sources| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session_cache import derived_fixture


def ensure_orc_fixture(sf_dir: str) -> str:
    """Write the ORC twin of ``{sf_dir}/documents.parquet`` and
    return its path. Derivation is 1:1 (same rows, same column
    order, no synthesized data); the writer is pyarrow's ORC
    implementation, deliberately NOT Spark's, so the read path is
    exercised against a foreign writer. Written once per source
    content (``session_cache.derived_fixture``).
    """
    import pyarrow.orc as orc
    import pyarrow.parquet as pq

    src = f"{sf_dir}/documents.parquet"
    return derived_fixture(
        src, "documents.orc", lambda tmp: orc.write_table(pq.read_table(src), tmp)
    )


_ORACLE_ORC_CENSUS = """
SELECT lang,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS n_len_consistent,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY lang, source
"""


@register("orc_census", _ORACLE_ORC_CENSUS, tags=("source", "orc"))
def orc_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the pyarrow-written ORC corpus with Spark's native ORC
    reader and census it per (lang, source): doc count, total
    payload characters (recomputed from the stored text, NOT the
    n_chars column), how many rows' stored length agrees with their
    n_chars metadata, and the doc_id range. The oracle derives the
    identical numbers from the parquet original — a hash-green row
    therefore proves the ORC write+read preserved every row, every
    string byte-length, and both integer columns.
    """
    path = ensure_orc_fixture(sf_dir)
    docs = spark.read.orc(path)
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum(
            F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_len_consistent"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )
