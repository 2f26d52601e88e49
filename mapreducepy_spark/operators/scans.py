"""Scans / sources (SURVEY.md §2.1).

MapReduce origin: the input reader / record iterator — here a
DataSource-V2 parquet scan. The interesting property at 100 TB is
that projection and predicates REACH the scan: ``.select`` becomes
``ReadSchema`` (column pruning) and ``.filter`` becomes
``PushedFilters`` (row-group skipping via parquet min/max stats), so
a 2-column projection reads 2 columns, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..rounding import dround
from ..session_cache import derived_fixture

_ORACLE_SCAN_PROJECT = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F'
"""


@register("scan_project", _ORACLE_SCAN_PROJECT, tags=("scan",))
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — projection + pushed filter.

    Scale: filter on ``o_orderstatus`` and the 3-column projection
    both push into the parquet scan; no shuffle at all.
    """
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_ORACLE_SCAN_COUNT = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
"""


@register("scan_count", _ORACLE_SCAN_COUNT, tags=("scan",))
def scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — full-scan count.

    Scale: parquet row-group metadata answers this without reading
    data pages; the aggregation is a partial count per partition +
    a single final combine (the MapReduce combiner, built in).
    """
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


_ORACLE_JSON_EXTRACT = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
"""


@register("json_extract", _ORACLE_JSON_EXTRACT, tags=("scan", "json"))
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — parse a JSON-string column (``events.props``).

    Uses ``get_json_object`` (codegen'd JsonPath, JVM-side — no
    Python). For a fixed schema at scale, ``from_json`` with an
    explicit ``StructType`` is the bulk path; this op keeps the
    dynamic-path form the fixtures exercise.
    """
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return (
        ev.select(
            "event_id",
            k.alias("k_str"),
            k.cast("bigint").alias("k_int"),
        )
        .filter(F.col("k_str").isNotNull())
    )


_ORACLE_SCAN_PROFILE = """
SELECT col, n_rows, n_nulls, n_distinct, min_val, max_val, avg_val
FROM (
    SELECT 'l_quantity' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val,
           (floor((AVG(l_quantity)) * 10000.0 + 0.5) / 10000.0) AS avg_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           MIN(l_extendedprice), MAX(l_extendedprice),
           (floor((AVG(l_extendedprice)) * 10000.0 + 0.5) / 10000.0)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           MIN(l_discount), MAX(l_discount),
           (floor((AVG(l_discount)) * 10000.0 + 0.5) / 10000.0)
    FROM lineitem
)
"""


@register("scan_profile", _ORACLE_SCAN_PROFILE, tags=("scan", "profile"))
def scan_profile(
    spark: SparkSession, sf_dir: str, *, exact: bool = True
) -> DataFrame:
    """Column profiling (rows / nulls / distincts / min / max / mean
    per column) — the first job any ingestion pipeline runs on a new
    dataset, and the statistics CBO-style optimizers feed on.

    Scale: the 100 TB path is ``exact=False`` — ALL columns profile
    in ONE aggregation over ONE scan, with ``approx_count_distinct``
    (HyperLogLog++) keeping the per-column distinct state at
    KB-sized sketches that merge map-side instead of shuffling every
    distinct value (three exact distincts over a 100 TB table would
    each shuffle the full distinct domain).
    tests/test_plans.py pins that the approx plan really swaps the
    aggregate (no ``count(distinct``) and stays one-scan.

    The EXACT path (the registered oracle key — DuckDB parity needs
    the true values) runs each distinct count as its OWN single-
    column aggregation branch instead of Catalyst's multi-distinct
    Expand rewrite (r13 optimization round): Expand replicated every
    row 4× through one hash aggregate keyed on (value, gid) — at the
    fixture's single-row-group scan that is 2.4 M rows through ONE
    task — while the branches are narrower, hash smaller per-column
    maps, and execute CONCURRENTLY (interleaved min-of-5 at sf0.1:
    1.87 → 0.95 s, identical values). The byte-cost claim is scoped
    to COLUMNAR sources (ADVICE r13): with parquet column pruning
    each branch reads only its own column, so total bytes stay ~the
    single-scan plan's; a row-oriented source would pay ~4× the I/O
    in exact mode — there, keep the Expand form or (better) profile
    with the HLL path. The distinct-domain shuffles dominate either
    way, and the exact mode is the audit path, not the 100 TB
    default.
    """
    li = load(spark, sf_dir, "lineitem")
    cols = ("l_quantity", "l_extendedprice", "l_discount")
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            dround(F.avg(c), 4).alias(f"{c}__avg"),
        ]
        if not exact:
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__distinct"))
    wide = li.agg(*aggs)
    if exact:
        for c in cols:
            dc = li.agg(F.countDistinct(c).alias(f"{c}__distinct"))
            wide = wide.crossJoin(F.broadcast(dc))
    unpivoted = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
                F.col(f"{c}__avg").alias("avg_val"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(unpivoted).alias("p")).select("p.*")


# --- hive-partitioned layout: partition PRUNING (not just pushdown) --

def ensure_partitioned_fixture(sf_dir: str) -> str:
    """Write the lang-partitioned (hive-layout) twin of
    ``{sf_dir}/documents.parquet`` and return its directory. Minted
    driver-side by pyarrow's dataset writer (a foreign writer, like
    the ORC fixture, so Spark's partition discovery is exercised
    against a layout it didn't produce), once per source content
    (``session_cache.derived_fixture``).
    """
    import os

    import pyarrow.parquet as pq

    src = f"{sf_dir}/documents.parquet"

    def write(tmp: str) -> None:
        # pre-create tmp: write_to_dataset creates no directory at all
        # for a 0-row table (the empty-tables sweep), and the rename
        # must still install an (empty) layout
        os.makedirs(tmp)
        pq.write_to_dataset(
            pq.read_table(src),
            root_path=tmp,
            partition_cols=["lang"],
            basename_template="part-{i}.parquet",
        )

    return derived_fixture(src, "documents_by_lang", write)


_ORACLE_SCAN_PARTITION_PRUNE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
WHERE lang = 'en'
GROUP BY source
"""


@register(
    "scan_partition_prune", _ORACLE_SCAN_PARTITION_PRUNE,
    tags=("scan", "partition"),
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition PRUNING — the other scan-side lever next to
    ``PushedFilters``: the corpus is laid out hive-partitioned by
    ``lang`` (the standard 100 TB landing-zone layout: partition by
    the coarse high-selectivity column, row-group stats handle the
    rest), and a ``lang = 'en'`` census must plan as
    ``PartitionFilters`` — directories for the other languages are
    never LISTED, let alone read, which no row-group statistic can
    do. The oracle derives the identical census from the flat
    parquet original, so a hash-green row also certifies Spark's
    partition discovery over a pyarrow-written hive layout
    (cross-writer, like the ORC key).

    Scale: at 100 TB the pruned scan is |one partition| instead of
    |corpus| — the single biggest constant factor available to any
    query with a partition-aligned predicate; the census itself is
    one map-side-combining aggregate, |sources| rows.

    Hash parity: integer counts/sums of stored byte-lengths only.
    """
    path = ensure_partitioned_fixture(sf_dir)
    # explicit schema: an all-empty layout (0-row source) has no
    # files to infer from, and partition discovery still needs lang
    docs = spark.read.schema(
        "doc_id bigint, text string, source string, n_chars bigint, "
        "lang string"
    ).parquet(path)
    return (
        docs.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
    )


# --- schema evolution: mergeSchema over heterogeneous part files -----

def ensure_evolved_fixture(sf_dir: str) -> str:
    """Write the schema-evolution twin of documents: part-0 carries
    the ORIGINAL five columns (even doc_ids), part-1 adds a sixth
    ``quality_u`` column (odd doc_ids; value = (doc_id % 100)·10⁴ —
    deterministic so the oracle can re-derive it). Both parts are
    pyarrow-written (foreign writer), once per source content
    (``session_cache.derived_fixture``)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = f"{sf_dir}/documents.parquet"

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        t = pq.read_table(src)
        ids = t["doc_id"].to_pandas()  # Int64-capable; NULLs -> NaN
        # NULL doc_ids go to the OLD-schema part (mod NULL = NULL is
        # never 1) — quarantine rows never gain new columns.
        # abs() before %: Python modulo follows the divisor's sign,
        # SQL modulo the dividend's, so a negative doc_id would be
        # routed/valued differently than the oracle re-derives
        # (ADVICE r8); abs makes the rule sign-stable and matches the
        # oracle's abs() exactly.
        odd_mask = pa.array(
            [(v is not None and not pd.isna(v) and abs(int(v)) % 2 == 1)
             for v in ids],
            type=pa.bool_(),
        )
        pq.write_table(
            t.filter(pc.invert(odd_mask)), f"{tmp}/part-0.parquet"
        )
        new = t.filter(odd_mask)
        quality_u = pa.array(
            [abs(int(v)) % 100 * 10_000 for v in new["doc_id"].to_pandas()],
            type=pa.int64(),
        )
        new = new.append_column("quality_u", quality_u)
        pq.write_table(new, f"{tmp}/part-1.parquet")

    return derived_fixture(src, "documents_evolved", write)


_ORACLE_SCAN_SCHEMA_MERGE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN abs(doc_id) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_quality,
       CAST(SUM(CASE WHEN abs(doc_id) % 2 = 1 THEN (abs(doc_id) % 100) * 10000
                     ELSE 0 END) AS BIGINT) AS sum_quality_u
FROM documents
GROUP BY lang
"""


@register(
    "scan_schema_merge", _ORACLE_SCAN_SCHEMA_MERGE,
    tags=("scan", "schema"),
)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across part files: the corpus lands as one
    old-schema part and one part carrying an ADDED column, and the
    read must unify them (``mergeSchema``) with NULL-fill for the
    old rows — the lake reality every long-lived dataset hits the
    day a column is added. The census counts non-NULL occurrences
    and sums the new column per language; the oracle re-derives both
    from the construction rule over the FLAT original, so a green
    hash proves the merged read dropped no row, invented no value,
    and NULL-filled exactly the old part.

    Scale: ``mergeSchema`` reconciles FOOTERS at planning time (cost
    ~ #files, not bytes — at 100 TB prefer an explicit contract
    schema on the reader, which skips footer reconciliation
    entirely; both paths NULL-fill identically, and this key pins
    that semantic). The census is one map-side-combining aggregate.
    """
    path = ensure_evolved_fixture(sf_dir)
    docs = spark.read.option("mergeSchema", "true").parquet(path)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("quality_u").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_with_quality"),
        F.sum(F.coalesce(F.col("quality_u"), F.lit(0)))
        .cast("bigint")
        .alias("sum_quality_u"),
    )


# --- Z-order clustering card (the data-skipping layout gauge) --------

# 8 bits per dimension -> 16-bit Morton code, bucketed by the top
# nibble-pair (z div 1024 = 64 buckets). The claim a lakehouse
# OPTIMIZE-ZORDER job certifies before rewriting 100 TB: interleaved
# bits bound the per-file value RANGE of BOTH dimensions (each
# z-bucket spans ~1/sqrt(buckets) of each axis), so min/max footer
# stats can skip files for predicates on EITHER column — a
# single-column sort bounds one axis and leaves the other unsorted.
_Z_BITS = 8
_Z_BUCKET_SHIFT = 10  # 16-bit z -> 64 buckets

_Z_EPOCH = "1995-01-01"


def _z_interleave_sql(a: str, b: str) -> str:
    """Portable Morton interleave: bit i of ``a`` lands at 2i, bit i
    of ``b`` at 2i+1 — arithmetic only (// % *), identical text on
    Spark SQL and DuckDB."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({a} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({b} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ORACLE_SCAN_ZORDER = f"""
WITH dims AS (
    -- abs() before %: keeps both dimension bytes NON-NEGATIVE, which
    -- the interleave arithmetic requires — DuckDB's // is floor
    -- division while Spark's div truncates toward zero, so a
    -- negative custkey or a pre-epoch date would interleave
    -- differently per engine (the ADVICE r8 sign-stability rule).
    -- floor + CAST TO BIGINT: an ingestion-reachable DOUBLE-typed
    -- key column (a parquet written from pandas with NULLs) would
    -- otherwise keep the dims DOUBLE, where DuckDB's // is NOT
    -- floor division and the interleave silently mis-bits (found by
    -- the adversarial TPC-H sweep).
    SELECT CAST(floor(abs(o_custkey)) % 256 AS BIGINT) AS cust8,
           CAST(abs(date_diff('day', DATE '{_Z_EPOCH}', o_orderdate)) % 256
                AS BIGINT) AS day8
    FROM orders
    WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
z AS (
    SELECT cust8, day8,
           ({_z_interleave_sql("cust8", "day8")}) AS zval
    FROM dims
)
SELECT CAST(zval // {1 << _Z_BUCKET_SHIFT} AS BIGINT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(cust8) - MIN(cust8) AS BIGINT) AS cust_span,
       CAST(MAX(day8) - MIN(day8) AS BIGINT) AS day_span
FROM z
GROUP BY 1
"""


@register("scan_zorder_stats", _ORACLE_SCAN_ZORDER, tags=("scan", "layout"))
def scan_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-curve) clustering card: interleave 8 bits of
    the customer key with 8 bits of the order date, bucket rows by
    the code's top bits (one bucket ≈ one file of an
    OPTIMIZE-ZORDER rewrite), and report each bucket's row count and
    per-dimension value SPAN. Small spans on BOTH axes are the
    measurable data-skipping property (min/max footer stats can
    prune on either predicate column); a bucket whose span is the
    full 0-255 axis is a bucket no scan can skip. This key computes
    the layout gauge — the actual rewrite is
    ``repartitionByRange(zval)`` + write, same expression.

    Scale: the Morton code is pure integer arithmetic (codegen'd,
    no UDF), the census ONE map-side-combining aggregation over 64
    buckets. Exact ints end-to-end — no float anywhere.

    The interleave is emitted by ``_z_interleave_sql`` as
    arithmetic (// % *) so Spark and DuckDB evaluate the identical
    expression; Spark's `//` is injected via `div` rewrite below.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    # abs() + floor before %: see the oracle comment — non-negative
    # BIGINT operands make Spark `div` and DuckDB `//` identical (and
    # a DOUBLE-typed key column floors the same on both engines —
    # CAST(DOUBLE AS BIGINT) alone truncates on Spark but ROUNDS on
    # DuckDB)
    cust8 = (F.floor(F.abs(F.col("o_custkey"))) % 256).cast("long")
    day8 = (
        F.abs(
            F.datediff(F.col("o_orderdate"), F.lit(_Z_EPOCH).cast("date"))
        )
        % 256
    ).cast("long")
    d = o.select(cust8.alias("cust8"), day8.alias("day8"))
    # Spark SQL has no `//`; express the same arithmetic with `div`
    z_expr = _z_interleave_sql("cust8", "day8").replace("//", "div")
    z = d.withColumn("zval", F.expr(z_expr))
    return (
        z.groupBy(
            F.expr(f"zval div {1 << _Z_BUCKET_SHIFT}")
            .cast("bigint")
            .alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.max("cust8") - F.min("cust8")).cast("bigint").alias("cust_span"),
            (F.max("day8") - F.min("day8")).cast("bigint").alias("day_span"),
        )
    )


# --- small-files compaction planner (the classic 100 TB ETL chore) ---

# Target compacted-file size. 64 KiB against the fixtures' n_chars
# sizes yields multiple bins per source at every SF (a production run
# sets this to 128 MB–1 GB); the PLAN is layout-independent either way.
_COMPACT_TARGET_BYTES = 65_536

_ORACLE_COMPACTION_PLAN = f"""
WITH census AS (
    SELECT source, doc_id, n_chars,
           COALESCE(SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY n_chars DESC NULLS LAST, doc_id ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM documents
)
SELECT source,
       CAST(FLOOR(cum_before / {float(_COMPACT_TARGET_BYTES)}) AS BIGINT)
           AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS bytes
FROM census
GROUP BY source, bin_id
"""


@register(
    "compaction_plan", _ORACLE_COMPACTION_PLAN, tags=("scan", "layout", "etl")
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: bin-pack a file-size census
    into target-sized output files, one plan row per (source
    directory, output bin). The census here is the ``documents``
    table standing in for a file listing (file_id = doc_id, size =
    n_chars) — the planner's algebra is what the key certifies.

    Packing rule: deterministic CUMULATIVE next-fit over the census
    sorted (size DESC, id ASC) per directory — bin = floor(running
    bytes BEFORE this file / target). This is exactly how Spark's own
    file-coalescing sizes scan partitions (maxPartitionBytes over a
    sorted listing); the plan is a pure window function (no
    sequential driver loop, unlike true first-fit-decreasing bin
    packing, whose marginal packing gain doesn't buy back losing the
    one-pass distributed form). The load guarantee is CUMULATIVE, not
    per-bin: bytes through every non-last bin b reach (b+1)·target
    (a bin following a multi-target oversize file can individually
    run short, and ids can skip — the oversize file already carries
    that span's bytes; property-pinned by hypothesis in
    tests/test_round14_refs.py after random censuses falsified the
    naive every-middle-bin-full claim).

    Scale: the census is METADATA — one row per file, millions of
    rows for a 100 TB lake, not billions; one window shuffle on the
    directory key + a map-side-combined aggregate. The compaction
    EXECUTION this plan drives then reads each bin's files in one
    task — the plan is what makes that read sequential and balanced.

    Hash parity: all-integer sizes and counts; the window order is
    pinned with explicit NULLS LAST / NULLS FIRST on both engines
    (Spark and DuckDB default NULL placement differs). Ties in
    (n_chars, doc_id) are identical rows, so any tiebreak yields the
    same cumulative sums; NULL n_chars contributes nothing to either
    engine's SUM; NULL source packs as its own directory group.
    """
    w = (
        Window.partitionBy("source")
        .orderBy(
            F.col("n_chars").desc_nulls_last(),
            F.col("doc_id").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    census = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("cum_before"),
    )
    return census.groupBy(
        "source",
        F.floor(
            F.col("cum_before") / F.lit(float(_COMPACT_TARGET_BYTES))
        )
        .cast("bigint")
        .alias("bin_id"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("bytes"),
    )
