"""Aggregation (SURVEY.md §2.4).

MapReduce origin: ``reducer(k, values)``; the combiner is Spark's
built-in partial aggregation (``HashAggregateExec`` partial → final),
so map-side combine needs no engine code. The inverted index (A7) is
the canonical MapReduce example, re-expressed as explode + groupBy.

Float discipline (FIXTURES.md): all money/quantity columns are
doubles; aggregate results are ROUNDed identically on the Spark and
oracle sides so partial-aggregation order cannot flip low bits of the
value hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..rounding import dround, dround_sql

_ORACLE_AGG_GROUP = """
SELECT l_returnflag,
       l_linestatus,
       (floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty,
       (floor((SUM(l_extendedprice)) * 100.0 + 0.5) / 100.0) AS sum_base_price,
       (floor((SUM(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0) AS sum_disc_price,
       (floor((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0) AS sum_charge,
       (floor((AVG(l_quantity)) * 10000.0 + 0.5) / 10000.0) AS avg_qty,
       (floor((AVG(l_extendedprice)) * 10000.0 + 0.5) / 10000.0) AS avg_price,
       (floor((AVG(l_discount)) * 1000000.0 + 0.5) / 1000000.0) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_group", _ORACLE_AGG_GROUP, tags=("agg", "flagship"))
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — the flagship: TPC-H-Q1-shaped pricing summary.

    Scale: filter pushes to the scan; the groupBy key has tiny
    cardinality (≤6 groups), so partial aggregation collapses each
    input partition to ≤6 rows before the single cheap shuffle.
    This plan is shuffle-volume-optimal at any scale factor.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            dround(F.sum(disc_price), 2).alias("sum_disc_price"),
            dround(F.sum(charge), 2).alias("sum_charge"),
            dround(F.avg("l_quantity"), 4).alias("avg_qty"),
            dround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            dround(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_ORACLE_AGG_COUNT_DISTINCT = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_count_distinct", _ORACLE_AGG_COUNT_DISTINCT, tags=("agg",))
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — exact distinct count per group.

    Scale: Catalyst expands this to a two-phase aggregate (distinct
    expand → final), shuffling (priority, custkey) pairs — i.e. the
    shuffle carries distinct pairs, not raw rows. For very hot keys,
    A3's HLL sketch is the cheap alternative.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register("agg_approx_distinct", None, tags=("agg", "approx"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — approximate distinct count (HyperLogLog++).

    No oracle (approx ≠ exact) → driver records a rows-only check.

    Scale: THE 100 TB cardinality operator — fixed-size sketch per
    group merged map-side; shuffle volume is O(groups × sketch),
    independent of row count.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_ORACLE_AGG_HAVING = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       (floor((SUM(o_totalprice)) * 100.0 + 0.5) / 100.0) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12 AND SUM(o_totalprice) > 100000
"""


@register("agg_having", _ORACLE_AGG_HAVING, tags=("agg",))
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — post-aggregation filter (HAVING).

    Scale: the HAVING predicate runs on aggregated rows (cheap); the
    un-rounded SUM is used in the predicate exactly as SQL HAVING
    does, rounding applies only to the output column.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_total"),
        )
        .filter((F.col("n_orders") >= 12) & (F.col("_total") > 100000))
        .select(
            "o_custkey",
            "n_orders",
            dround("_total", 2).alias("total_spent"),
        )
    )


_ORACLE_AGG_ROLLUP = """
SELECT l_returnflag,
       l_linestatus,
       (floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("agg_rollup", _ORACLE_AGG_ROLLUP, tags=("agg",))
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — hierarchical totals (ROLLUP).

    Scale: Spark plans this as an Expand (3 grouping sets) over the
    scan; partial aggregation still applies per set.

    Known engine gap (asserted in tests/test_null_sweep.py): on an
    EMPTY input the SQL standard (and DuckDB) still emit the
    grand-total grouping-set row; Spark's rollup() emits zero rows.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_ORACLE_AGG_CUBE = """
SELECT l_returnflag,
       l_linestatus,
       (floor((SUM(l_extendedprice)) * 100.0 + 0.5) / 100.0) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_cube", _ORACLE_AGG_CUBE, tags=("agg",))
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — multi-dimensional totals (CUBE: all 4 grouping sets).
    Empty-input grand-total gap vs the standard: see agg_rollup."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dround(F.sum("l_extendedprice"), 2).alias("sum_price")
    )


_ORACLE_AGG_GROUPING_SETS = """
SELECT l_returnflag,
       l_linestatus,
       (floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_sets", _ORACLE_AGG_GROUPING_SETS, tags=("agg",))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — explicit GROUPING SETS (per-flag, per-status, grand total
    — the sets ROLLUP/CUBE can't express à la carte).

    Scale: same Expand-based plan as rollup/cube — one scan, one
    shuffle; each row is replicated once per set, partial aggregation
    still applies before the exchange. Empty-input grand-total gap
    vs the standard: see agg_rollup.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_ORACLE_AGG_PIVOT = """
SELECT l_returnflag,
       (floor((SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END)) * 100.0 + 0.5) / 100.0) AS qty_open,
       (floor((SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END)) * 100.0 + 0.5) / 100.0) AS qty_fulfilled
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_pivot", _ORACLE_AGG_PIVOT, tags=("agg", "pivot"))
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide reshape: one column per pivoted l_linestatus value.

    The pivot values are declared explicitly — at scale this skips
    the extra distinct-collect job Spark otherwise runs to discover
    them, and pins the output schema (a moving schema is operationally
    worse than the job failing on an unexpected value).
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            dround("O", 2).alias("qty_open"),
            dround("F", 2).alias("qty_fulfilled"),
        )
    )


_ORACLE_AGG_STATS = """
SELECT l_returnflag,
       (floor((stddev_samp(l_quantity)) * 1000000.0 + 0.5) / 1000000.0) AS sd_qty,
       (floor((var_samp(l_extendedprice)) * 10000.0 + 0.5) / 10000.0) AS var_price,
       (floor((corr(l_quantity, l_extendedprice)) * 1000000.0 + 0.5) / 1000000.0) AS corr_qty_price,
       (floor((quantile_cont(l_discount, 0.5)) * 1000000.0 + 0.5) / 1000000.0) AS median_disc
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_stats", _ORACLE_AGG_STATS, tags=("agg", "stats"))
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — statistical aggregates (stddev/variance/corr/percentile).

    ``percentile`` is the EXACT interpolating form (matches DuckDB's
    ``quantile_cont``); at 100 TB you would switch to
    ``percentile_approx`` (fixed-size sketch) — exact percentile
    requires a sort of each group.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dround(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        dround(F.var_samp("l_extendedprice"), 4).alias("var_price"),
        dround(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        dround(F.percentile("l_discount", 0.5), 6).alias("median_disc"),
    )


_ORACLE_AGG_COLLECT = """
SELECT w AS word,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_ids,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents
)
WHERE w <> ''
GROUP BY w
"""


@register("agg_collect", _ORACLE_AGG_COLLECT, tags=("agg", "collect"))
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — inverted index (word → sorted posting list), the canonical
    MapReduce example.

    Determinism: ``collect_set`` order is nondeterministic, so the
    posting list is ``sort_array``-ed before serialization
    (SURVEY.md §4.3 item 3). Output is a comma-joined string so the
    oracle hash sees a stable scalar, not a nested array.

    Scale: explode multiplies rows by tokens/doc; the groupBy
    shuffles (word, doc_id) pairs after map-side distinct. Posting
    lists for stop-word-like tokens are the skew risk — AQE skew
    handling plus (at real scale) a doc-frequency cap before collect.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    # n_docs derives from the collected set itself (size after
    # dedup) — a countDistinct beside collect_set would plan a
    # distinct-aggregate Expand, doubling the rows through the hash
    # aggregate for a number the set already knows.
    return (
        words.groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("__docs"))
        .select(
            "word",
            F.array_join(
                F.transform("__docs", lambda x: x.cast("string")), ","
            ).alias("doc_ids"),
            F.size("__docs").cast("bigint").alias("n_docs"),
        )
    )


# The struct carries a never-NULL idn flag ahead of the nullable id
# (the events_ohlc rule, ADVICE r4): two rows tied on ts where one
# id is NULL would otherwise be decided on the NULL field itself,
# where Spark orders NULL struct fields first and DuckDB last. The
# struct's FIRST field ts is nullable too (reachable via read_jsonl;
# the NULL-ts carve-out covers only the temporal family) — instead
# of a tsn flag, NULL-ts rows are excluded from the argmin/argmax
# PICK entirely (an event without a time cannot be first or last;
# MIN/MAX skip the CASE's NULLs identically on both engines) while
# n_events still counts every row.
_ORACLE_AGG_MINMAX_BY = """
SELECT event_type,
       CAST((MIN(CASE WHEN ts IS NOT NULL THEN
                 struct_pack(ts := ts,
                             idn := CAST(event_id IS NULL AS INT),
                             id := event_id) END)).id AS BIGINT)
           AS first_event_id,
       CAST((MAX(CASE WHEN ts IS NOT NULL THEN
                 struct_pack(ts := ts,
                             idn := CAST(event_id IS NULL AS INT),
                             id := event_id) END)).id AS BIGINT)
           AS last_event_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@register("agg_minmax_by", _ORACLE_AGG_MINMAX_BY, tags=("agg", "argmax"))
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates: the id of each type's earliest and
    latest event in ONE aggregation pass — no self-join back to the
    table, no window sort (the two classic slower formulations).

    Determinism under ties, by construction: the aggregate is
    MIN/MAX over the lexicographic (ts, idn, event_id) order —
    both engines order structs field-wise, and the never-NULL idn
    flag ahead of the nullable id keeps a NULL id from being the
    deciding field (Spark orders NULL struct fields first, DuckDB
    last) — so equal timestamps resolve deterministically instead
    of engine-arbitrary ``min_by``/``arg_min`` picks. (The
    adversarial events sweep produced exactly such ties — first an
    equal-ts pair, then in round 5 a NULL-id-at-equal-ts pair —
    and both plain formulations diverged.)
    NULL-ts rows count toward ``n_events`` but are excluded from
    the first/last pick (both engines' MIN/MAX skip NULLs, so the
    exclusion is symmetric by construction; a tsn flag would
    instead crown a time-less event "last", which is nonsense).
    """
    e = load(spark, sf_dir, "events")
    pair = F.when(
        F.col("ts").isNotNull(),
        F.struct(
            F.col("ts"),
            F.col("event_id").isNull().cast("int").alias("idn"),
            F.col("event_id").alias("id"),
        ),
    )
    return e.groupBy("event_type").agg(
        F.min(pair).getField("id").cast("bigint").alias("first_event_id"),
        F.max(pair).getField("id").cast("bigint").alias("last_event_id"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- exact discrete quantiles --------------------------------------

# Discrete (type-1) quantile: the element at row_number ceil(p·n) of
# the value-sorted group. Row numbers among equal values are
# engine-arbitrary, but the VALUE at any rank is not, and only the
# value is emitted — so the result is exact on both engines with no
# float interpolation to disagree about. ceil(p·n) itself is an
# IEEE-double multiply + ceil, identical everywhere.
_ORACLE_AGG_QUANTILE_DISC = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
)
SELECT l_returnflag,
       MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                THEN l_extendedprice END) AS p50_price,
       MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                THEN l_extendedprice END) AS p95_price,
       CAST(MAX(n) AS BIGINT) AS n_rows
FROM ranked
GROUP BY l_returnflag
"""


@register("agg_quantile_disc", _ORACLE_AGG_QUANTILE_DISC, tags=("agg", "quantile"))
def agg_quantile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete per-group quantiles (p50/p95) as a rank pick:
    sort each group once, keep the values at ranks ceil(p·n). No
    interpolation ⇒ the emitted numbers are actual data values,
    bit-identical across engines (continuous-quantile interpolation
    formulas are not portable).

    Scale: ONE shuffle on the group key, then a per-group sort —
    exactly what any exact quantile costs. At 100 TB with many groups
    this parallelizes per group; for global quantiles or looser
    accuracy switch to ``approx_percentile`` (t-digest, one combiner
    pass, no sort) — same query shape, approximate answer.
    """
    from pyspark.sql.window import Window

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        # quantiles are over OBSERVED values: NULL measures are
        # excluded on both engines (DuckDB's own quantile_* functions
        # skip NULLs; leaving them in also hits the engine-default
        # NULL-ordering divergence the TPC-H adversarial sweep found
        # — Spark ranks NULLS FIRST, DuckDB NULLS LAST)
        .filter(F.col("l_extendedprice").isNotNull())
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    pick = lambda p: F.max(  # noqa: E731 — local rank-pick helper
        F.when(
            F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
            F.col("l_extendedprice"),
        )
    )
    return ranked.groupBy("l_returnflag").agg(
        pick(0.50).alias("p50_price"),
        pick(0.95).alias("p95_price"),
        F.max("n").alias("n_rows"),
    )


# --- exact continuous (interpolated) quantiles ----------------------

# Type-7 (numpy/R default) interpolation, but NOT via each engine's
# quantile_cont/percentile builtin (their internal formulas differ —
# the very divergence agg_quantile_disc's docstring warns about).
# Instead BOTH engines run the same explicit algebra: rank-pick the
# two bracketing sorted values lo = v[floor(h)], hi = v[floor(h)+1]
# with h = (n-1)·p + 1, then lo + (h − floor(h))·(hi − lo). Every
# term is either a data value or an IEEE-double op on identical
# inputs, so the interpolated result is bit-identical by
# construction; a 1e-6 round guards the transport.
def _quantile_cont_sql(p: float) -> tuple[str, str, str]:
    h = f"(CAST(n - 1 AS DOUBLE) * {p} + 1.0)"
    lo_rank = f"CAST(floor({h}) AS BIGINT)"
    lo = (
        f"MAX(CASE WHEN rn = {lo_rank} THEN l_extendedprice END)"
    )
    hi = (
        f"MAX(CASE WHEN rn = {lo_rank} + 1 THEN l_extendedprice END)"
    )
    frac = f"MAX({h} - floor({h}))"
    return lo, hi, frac


_QC_TERMS = {
    f"p{int(p * 100)}": _quantile_cont_sql(p) for p in (0.5, 0.95)
}

_ORACLE_AGG_QUANTILE_CONT = f"""
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
),
picks AS (
    SELECT l_returnflag,
{",".join(
    f"           {lo} AS lo_{k}, {hi} AS hi_{k}, {frac} AS f_{k}"
    for k, (lo, hi, frac) in _QC_TERMS.items()
)},
           CAST(MAX(n) AS BIGINT) AS n_rows
    FROM ranked
    GROUP BY l_returnflag
)
SELECT l_returnflag,
{",".join(
    f"       (floor((lo_{k} + f_{k} * (COALESCE(hi_{k}, lo_{k}) - lo_{k}))"
    f" * 1000000.0 + 0.5) / 1000000.0) AS {k}_price"
    for k in _QC_TERMS
)},
       n_rows
FROM picks
"""


@register(
    "agg_quantile_cont", _ORACLE_AGG_QUANTILE_CONT, tags=("agg", "quantile")
)
def agg_quantile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous per-group quantiles (p50/p95), type-7
    interpolation — the companion to ``agg_quantile_disc``. The
    engine builtins (``percentile`` / ``quantile_cont``) are NOT
    used: their interpolation algebra differs between engines, so
    both sides rank-pick the two bracketing sorted values and
    interpolate with the same explicit IEEE-double formula
    (``lo + frac·(hi − lo)``, ``h = (n−1)·p + 1``).

    Scale: identical cost to the discrete key — ONE shuffle on the
    group key plus a per-group sort; at 100 TB swap in
    ``approx_percentile`` (t-digest sketch, no sort) where
    interpolated exactness isn't contractual.

    Hash parity: bracketing values are data; ``frac`` and the
    interpolation are the same double ops on identical inputs;
    rounded to 1e-6 on both sides.
    """
    from pyspark.sql.window import Window

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .filter(F.col("l_extendedprice").isNotNull())
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )

    def _interp(p: float) -> Column:
        h = (F.col("n") - 1).cast("double") * F.lit(p) + F.lit(1.0)
        lo_rank = F.floor(h).cast("long")
        lo = F.max(
            F.when(F.col("rn") == lo_rank, F.col("l_extendedprice"))
        )
        hi = F.max(
            F.when(F.col("rn") == lo_rank + 1, F.col("l_extendedprice"))
        )
        frac = F.max(h - F.floor(h))
        val = lo + frac * (F.coalesce(hi, lo) - lo)
        return F.floor(val * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return ranked.groupBy("l_returnflag").agg(
        _interp(0.50).alias("p50_price"),
        _interp(0.95).alias("p95_price"),
        F.max("n").cast("bigint").alias("n_rows"),
    )


# --- fixed-width histogram ------------------------------------------

_HIST_WIDTH = 20000.0

_ORACLE_AGG_HISTOGRAM = f"""
SELECT CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders
GROUP BY 1
"""


@register("agg_histogram", _ORACLE_AGG_HISTOGRAM, tags=("agg", "profile"))
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bin = floor(x/width),
    per-bin count and observed [lo, hi]. The data-profiling companion
    to ``scan_profile`` — distribution shape in one pass.

    Scale: floor-divide is a codegen'd narrow map; the groupBy
    partial-aggregates map-side, so the shuffle carries one row per
    (partition, bin) — bins are bounded (price range / width), making
    this O(bins) network traffic no matter how many input rows.
    """
    o = load(spark, sf_dir, "orders").select("o_totalprice")
    return (
        o.withColumn("bin", F.floor(F.col("o_totalprice") / _HIST_WIDTH))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .select("bin", "n", "lo", "hi")
    )


# --- weighted average ----------------------------------------------

_ORACLE_AGG_WEIGHTED_AVG = """
SELECT l_returnflag,
       (floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty,
       (floor((SUM(l_extendedprice * l_quantity) / SUM(l_quantity))
              * 1000000.0 + 0.5) / 1000000.0) AS wavg_price,
       (floor((SUM(l_discount * l_quantity) / SUM(l_quantity))
              * 1000000.0 + 0.5) / 1000000.0) AS wavg_discount
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_weighted_avg", _ORACLE_AGG_WEIGHTED_AVG, tags=("agg",))
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted averages per return flag — the aggregation
    SQL's plain AVG cannot express (weights live in a second column).

    Scale: a single hash aggregate; each weighted average is two
    partial-aggregable SUMs and one post-agg division, so map-side
    combine applies exactly as for plain sums — no second pass, no
    window.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        dround(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / F.sum("l_quantity"),
            6,
        ).alias("wavg_price"),
        dround(
            F.sum(F.col("l_discount") * F.col("l_quantity")) / F.sum("l_quantity"),
            6,
        ).alias("wavg_discount"),
    )


# --- per-group mode (most frequent value) --------------------------

_ORACLE_AGG_MODE = """
WITH counts AS (
    SELECT n.n_name, c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, c.c_mktsegment
),
ranked AS (
    SELECT n_name, c_mktsegment, n_customers,
           ROW_NUMBER() OVER (
               PARTITION BY n_name
               ORDER BY n_customers DESC, c_mktsegment ASC
           ) AS rn
    FROM counts
)
SELECT n_name, c_mktsegment AS mode_mktsegment, n_customers
FROM ranked WHERE rn = 1
"""


@register("agg_mode", _ORACLE_AGG_MODE, tags=("agg",))
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation modal market segment (most frequent value, ties
    broken by segment name so the answer is engine-independent —
    Spark's built-in ``mode()`` is explicitly non-deterministic on
    ties, which would break hash parity).

    Scale: count-then-rank: one hash aggregate down to
    |groups × distinct values| rows, then a window over that tiny
    table. The event stream is never windowed directly — the
    aggregate does the heavy lifting, the window only picks winners.
    """
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    counts = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("n_customers").desc(), F.col("c_mktsegment").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n_name", F.col("c_mktsegment").alias("mode_mktsegment"), "n_customers")
    )


# Per-supplier revenue sum(l_extendedprice * (1 - l_discount)) in
# exact BIGINT cents. Each line is price cents × (100 − discount
# percent), an integer in units of 1e-4, so the sum is the same in any
# order and any partitioning; a double sum is not, and its round to
# cents flips on the suppliers whose exact revenue ends in half a cent
# (3 of 1000 at sf0.1 over 16 part-files). Both rounds are the
# ``dround`` shape, exact here: price·100 and discount·100 sit within
# 1e-6 of integers, and e4/100 is within an ulp of k/100.
_DUCK_SUPPLIER_CENTS = """
    SELECT l_suppkey,
           CAST(floor(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                          * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
                      / 100.0 + 0.5) AS BIGINT) AS cents
    FROM lineitem
    GROUP BY l_suppkey
"""


def _supplier_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_suppkey, cents): the Spark side of ``_DUCK_SUPPLIER_CENTS``."""
    li = load(spark, sf_dir, "lineitem")
    price_cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
    pct_kept = 100 - F.floor(F.col("l_discount") * 100.0 + F.lit(0.5))
    return li.groupBy("l_suppkey").agg(
        F.floor(F.sum(price_cents * pct_kept) / 100.0 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    )


_ORACLE_AGG_PARETO = f"""
WITH rev AS ({_DUCK_SUPPLIER_CENTS}),
c AS (
    SELECT l_suppkey, cents,
           SUM(COALESCE(cents, 0)) OVER (
               ORDER BY cents DESC NULLS LAST, l_suppkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum_cents,
           SUM(COALESCE(cents, 0)) OVER () AS total_cents
    FROM rev
)
SELECT l_suppkey,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       (floor((CAST(cents AS DOUBLE) / total_cents) * 1000000.0 + 0.5)
        / 1000000.0) AS rev_share,
       (floor((CAST(cum_cents AS DOUBLE) / total_cents) * 1000000.0 + 0.5)
        / 1000000.0) AS cum_share,
       CAST((floor((CAST(cum_cents AS DOUBLE) / total_cents) * 1000000.0
                   + 0.5) / 1000000.0) <= 0.8 AS INT) AS in_top80
FROM c
"""


@register("agg_pareto", _ORACLE_AGG_PARETO, tags=("agg", "analytics"))
def agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) ledger per supplier: revenue,
    share of total, cumulative share in descending-revenue order, and
    the 80%-of-revenue membership flag — the skew profile that decides
    where salting / bucketing effort goes.

    Scale: the fact-table side is one combiner-friendly groupBy; the
    cumulative share then runs over the AGGREGATED supplier table as
    the DISTRIBUTED two-level prefix sum (``operators.prefix``, the
    ``range_partition_plan`` shape — value-range shards on the cents,
    shard-local windows in parallel, broadcast offsets), so no task
    ever sees the whole supplier frame at any cardinality.

    Hash parity: per-supplier revenue is summed in exact BIGINT
    CENTS (``_supplier_cents``) — integer addition is associative, so
    neither the scan's partitioning nor the two-level regrouping of
    the prefix sum can change a single cumulative value (a float
    running sum would be order- AND grouping-sensitive; the cents
    switch is what makes the distributed shape exact). The ordering
    ties on cents equal the old rounded-double ordering, and every
    share is the same integer ratio on both engines before the 1e-6
    grid.
    """
    from .prefix import with_global_prefix

    rev = _supplier_cents(spark, sf_dir).withColumn(
        "cents0", F.coalesce(F.col("cents"), F.lit(0))
    )
    c = with_global_prefix(
        rev,
        "cents",
        [F.col("cents").desc(), F.col("l_suppkey").asc()],
        descending=True,
        nulls_last=True,
        sums={"cum_before": "cents0"},
        total_sums={"total_cents": "cents0"},
    )
    cum_cents = F.col("cum_before") + F.col("cents0")
    cum_share = dround(
        cum_cents.cast("double") / F.col("total_cents"), 6
    )
    return c.select(
        "l_suppkey",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        dround(
            F.col("cents").cast("double") / F.col("total_cents"), 6
        ).alias("rev_share"),
        cum_share.alias("cum_share"),
        (cum_share <= 0.8).cast("int").alias("in_top80"),
    )


# --- Gini concentration coefficient ---------------------------------

_ORACLE_AGG_GINI = f"""
WITH rev AS (
    SELECT l_suppkey, CAST(cents AS DOUBLE) / 100.0 AS revenue
    FROM ({_DUCK_SUPPLIER_CENTS}) AS sc
),
r AS (
    SELECT n.n_name, rev.l_suppkey, rev.revenue,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY n.n_name
               ORDER BY rev.revenue ASC NULLS FIRST, rev.l_suppkey ASC
           ) AS BIGINT) AS rk
    FROM rev
    JOIN supplier s ON rev.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       {dround_sql('SUM(revenue)', 2)} AS total_revenue,
       CASE WHEN (CAST(COUNT(*) AS DOUBLE) * SUM(revenue)) <> 0 THEN
           {dround_sql(
               '(2.0 * SUM(rk * revenue))'
               ' / (CAST(COUNT(*) AS DOUBLE) * SUM(revenue))'
               ' - (CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))',
               6,
           )}
       END AS gini
FROM r
GROUP BY n_name
"""


@register("agg_gini", _ORACLE_AGG_GINI, tags=("agg", "skew"))
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of supplier revenue — the
    inequality summary that pairs with ``agg_pareto``'s cumulative
    ledger: pareto answers "which rows hold 80% of the mass", gini
    compresses the whole concentration curve into one number per
    group (0 = uniform, →1 = winner-take-all), the skew metric that
    decides where salting / bucketing effort goes.

    Uses the rank formulation G = 2·Σ i·xᵢ / (n·Σ xᵢ) − (n+1)/n over
    ascending-sorted values — one window + one aggregate, no O(n²)
    pairwise |xᵢ−xⱼ| sum.

    Scale: revenue is the same combiner-friendly fact-table groupBy
    as agg_pareto; supplier and nation are dimension broadcasts; the
    rank window partitions BY NATION over the aggregated supplier
    table (#suppliers rows), so the ordered window is bounded by
    dimension cardinality, never data volume.

    Hash parity: per-supplier revenue is exact cents FIRST (the
    agg_pareto rule); rank·revenue products are exact doubles; the
    final expression keeps the identical operation shape on both
    engines and rounds to 1e-6. (n+1)/n is cast to double explicitly
    — Spark and DuckDB `/` both promote integers to double, but the
    cast pins it.
    """
    from pyspark.sql.window import Window

    rev = _supplier_cents(spark, sf_dir).select(
        "l_suppkey", (F.col("cents").cast("double") / 100.0).alias("revenue")
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r = (
        rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .withColumn(
            "rk",
            F.row_number()
            .over(
                Window.partitionBy("n_name").orderBy(
                    F.col("revenue").asc(), F.col("l_suppkey").asc()
                )
            )
            .cast("bigint"),
        )
    )
    n = F.count(F.lit(1))
    # all-zero revenue in a group zeroes the denominator — ANSI
    # DIVIDE_BY_ZERO without the guard (the text_zipf rule); the
    # coefficient is undefined there, so both engines emit NULL
    denom = n.cast("double") * F.sum("revenue")
    return r.groupBy("n_name").agg(
        n.cast("bigint").alias("n_suppliers"),
        dround(F.sum("revenue"), 2).alias("total_revenue"),
        dround(
            F.when(
                denom != 0,
                (2.0 * F.sum(F.col("rk") * F.col("revenue"))) / denom
                - ((n + 1).cast("double") / n.cast("double")),
            ),
            6,
        ).alias("gini"),
    )


# --- order-count distribution (TPC-H Q13 shape) ---------------------

_ORACLE_AGG_COUNT_HISTOGRAM = """
WITH per_cust AS (
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey
     AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
"""


@register(
    "agg_count_histogram", _ORACLE_AGG_COUNT_HISTOGRAM, tags=("agg", "tpch")
)
def agg_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (the TPC-H Q13 shape): how
    many customers placed exactly k non-urgent orders, INCLUDING the
    zero-order customers a plain inner join would silently drop — the
    classic two-level aggregation over an outer join, and the shape
    behind every "events per entity, zeros included" product metric.

    The priority predicate lives on the orders side BEFORE the left
    join (equivalent to putting it in the ON clause): filtering after
    the join would turn matched-but-filtered customers into dropped
    rows instead of zero-count rows — the semantic trap this operator
    exists to demonstrate.

    Scale: the priority predicate reaches the orders parquet scan
    (PushedFilters — plan-asserted), and BOTH aggregations combine
    map-side before their Exchange (partial_count precedes the first
    shuffle — plan-asserted), so only (custkey, partial-count) rows
    ride the wire, never raw order rows. At fixture scale AQE
    broadcasts the filtered orders side; at 100 TB the join becomes a
    custkey-keyed sort-merge whose partitioning the per-customer
    count reuses. All-integer arithmetic — hash parity is exact.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


# --- join-key skew diagnostic ---------------------------------------

# How many of the heaviest keys to price separately: the keys a
# salting/AQE-skew decision actually cares about.
_SKEW_TOP_K = 10

_ORACLE_AGG_KEY_SKEW = f"""
WITH per_key AS (
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_custkey
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singleton_keys
    FROM per_key
),
topk AS (
    SELECT CAST(SUM(n) AS BIGINT) AS topk_rows
    FROM (
        SELECT n FROM per_key
        ORDER BY n DESC, o_custkey ASC NULLS FIRST LIMIT {_SKEW_TOP_K}
    )
)
SELECT t.n_keys, t.n_rows, t.max_key_rows, t.n_singleton_keys,
       k.topk_rows,
       CAST(floor(CAST(t.max_key_rows AS DOUBLE) / t.n_rows
                  * 1000000.0 + 0.5) AS BIGINT) AS max_share_ppm,
       CAST(floor(CAST(k.topk_rows AS DOUBLE) / t.n_rows
                  * 1000000.0 + 0.5) AS BIGINT) AS topk_share_ppm,
       (floor((CAST(t.max_key_rows AS DOUBLE)
               / (CAST(t.n_rows AS DOUBLE) / t.n_keys))
              * 10000.0 + 0.5) / 10000.0) AS max_vs_mean
FROM tot t, topk k
"""


@register(
    "agg_key_skew", _ORACLE_AGG_KEY_SKEW, tags=("agg", "diagnostic")
)
def agg_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew card for ``orders.o_custkey`` — the one-row
    gauge a pipeline reads BEFORE choosing between a plain shuffle
    join, AQE skew splitting, or ``salted_join``: key cardinality,
    the heaviest key's row share, the top-10 keys' combined share,
    singleton-key fraction, and max-vs-mean ratio. The decision
    input that ``join_skew_salted`` demonstrates the remedy for.

    Scale: one groupBy(key) with map-side combine is the only
    data-sized shuffle (the same pass any subsequent join would pay
    anyway); the distribution summary then aggregates one row per
    key, and the top-K is a TakeOrderedAndProject heap
    (plan-asserted) — the per-key table is never globally sorted.

    Hash parity: all-integer counts; the three ratios are
    exact-int-divided-once (ppm floors / dround), deterministic
    top-K tie-break on the key.
    """
    orders = load(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_singleton_keys"),
    )
    topk = (
        per_key.orderBy(F.col("n").desc(), F.col("o_custkey").asc())
        .limit(_SKEW_TOP_K)
        .agg(F.sum("n").cast("bigint").alias("topk_rows"))
    )
    return (
        tot.crossJoin(F.broadcast(topk))
        .select(
            "n_keys",
            "n_rows",
            "max_key_rows",
            "n_singleton_keys",
            "topk_rows",
            F.floor(
                F.col("max_key_rows").cast("double") / F.col("n_rows")
                * 1000000.0
                + 0.5
            ).cast("bigint").alias("max_share_ppm"),
            F.floor(
                F.col("topk_rows").cast("double") / F.col("n_rows")
                * 1000000.0
                + 0.5
            ).cast("bigint").alias("topk_share_ppm"),
            dround(
                F.col("max_key_rows").cast("double")
                / (F.col("n_rows").cast("double") / F.col("n_keys")),
                4,
            ).alias("max_vs_mean"),
        )
    )


# --- correlated scalar subquery (TPC-H Q17 shape) -------------------

_ORACLE_AGG_CORRELATED = """
WITH cut AS (
    SELECT l_partkey, 0.2 * AVG(l_quantity) AS cut_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_small_lines,
       (floor((SUM(l.l_extendedprice) / 7.0) * 100.0 + 0.5) / 100.0)
           AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN cut c ON c.l_partkey = l.l_partkey
WHERE l.l_quantity < c.cut_qty
GROUP BY p.p_brand
"""


@register(
    "agg_correlated_scalar", _ORACLE_AGG_CORRELATED, tags=("agg", "tpch")
)
def agg_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q17 shape — small-order revenue: lineitems whose
    quantity falls below 20% of their part's average, per brand. In
    SQL this is THE textbook correlated scalar subquery
    (``l_quantity < (SELECT 0.2*avg(l_quantity) … WHERE l2.l_partkey
    = l.l_partkey)``); Catalyst decorrelates it into exactly the
    aggregate-then-rejoin written here, so the DataFrame form IS the
    decorrelated plan — expressing it directly documents what the
    optimizer does and guarantees the single-pass shape (a
    per-row-subquery execution would be O(n) scans).

    Scale: one partkey-keyed aggregation (map-side combine) builds
    the threshold table, which re-joins lineitem on the SAME key —
    at scale both sides shuffle once on partkey and the aggregation
    output reuses the join partitioning; the part dimension
    broadcasts (plan-asserted). The final per-brand rollup shuffles
    a few aggregated rows.

    Hash parity: ``l_quantity`` is integral (checked: 0 fractional
    values in the fixtures), so the per-part SUM is exact in a
    double regardless of partial-aggregation order, AVG is
    exact-int-divided-once, and the 0.2× threshold compare is
    bit-deterministic cross-engine — no rounding needed BEFORE the
    compare; output money rounds 1e-2 as usual.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cut = li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("cut_qty")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .join(cut, "l_partkey")
        .filter(F.col("l_quantity") < F.col("cut_qty"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
            dround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )



# --- median absolute deviation (robust dispersion) --------------------

# MAD = median(|x - median(x)|) per group, both medians the explicit
# type-7 algebra (the agg_quantile_cont discipline — engine builtins
# interpolate differently). The inner median is 1e-6-rounded BEFORE
# the deviations so both engines subtract the identical double.

def _mad_median_sql(val: str, src: str) -> str:
    """One type-7 p50 pass as a DuckDB CTE pair body over ``src``
    (already filtered non-NULL), grouped by o_orderpriority."""
    h = "(CAST(n - 1 AS DOUBLE) * 0.5 + 1.0)"
    lo_rank = f"CAST(floor({h}) AS BIGINT)"
    return f"""
    SELECT o_orderpriority,
           (floor((MAX(CASE WHEN rn = {lo_rank} THEN {val} END)
                   + MAX({h} - floor({h}))
                     * (COALESCE(MAX(CASE WHEN rn = {lo_rank} + 1
                                          THEN {val} END),
                                 MAX(CASE WHEN rn = {lo_rank}
                                          THEN {val} END))
                        - MAX(CASE WHEN rn = {lo_rank} THEN {val} END)))
                  * 1000000.0 + 0.5) / 1000000.0) AS m,
           CAST(MAX(n) AS BIGINT) AS n_rows
    FROM (
        SELECT o_orderpriority, {val},
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY {val}) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM {src}
    )
    GROUP BY o_orderpriority
"""


_ORACLE_AGG_MAD = f"""
WITH base AS (
    SELECT o_orderpriority, o_totalprice
    FROM orders WHERE o_totalprice IS NOT NULL
),
med AS ({_mad_median_sql("o_totalprice", "base")}),
dev AS (
    SELECT b.o_orderpriority, abs(b.o_totalprice - m.m) AS d
    FROM base b
    JOIN med m ON b.o_orderpriority IS NOT DISTINCT FROM m.o_orderpriority
),
mad AS ({_mad_median_sql("d", "dev")})
SELECT m.o_orderpriority,
       m.n_rows,
       m.m AS median_price,
       a.m AS mad_price
FROM med m
JOIN mad a ON m.o_orderpriority IS NOT DISTINCT FROM a.o_orderpriority
"""


@register("agg_mad", _ORACLE_AGG_MAD, tags=("agg", "quantile", "robust"))
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of order totals per priority — the
    robust dispersion gauge (stddev is dominated by the tail a
    quality gate is trying to find; MAD isn't). Two type-7 median
    passes: the group median, then the median of |x − median|, the
    inner one 1e-6-rounded before the deviations so both engines
    subtract the identical double.

    Scale (r13 optimization round — guide §2.4 "window functions
    partitioned by the same key share one shuffle"): both median
    passes, the deviation projection and the final one-row-per-group
    cut are ALL keyed on ``o_orderpriority``, so the whole statistic
    runs after ONE exchange of the fact table: rank/count windows
    pick the type-7 median per group, the deviations are a pure
    per-row projection against the group's window-computed median
    (no broadcast-join round trip back onto the rows), the second
    rank window re-sorts WITHIN the same partitions, and the final
    groupBy reuses the partitioning (plan: 1 Exchange total, was
    2 exchanges + 2 groupBy round-trips + 2 joins —
    plans/r13/agg_mad_before.txt vs _after.txt). At 100 TB the same
    statistic runs on ``approx_percentile`` sketches where exactness
    isn't contractual — plan shape unchanged.

    Hash parity: the quantile_cont rank-pick algebra at p = 0.5 on
    both passes, with the inner median 1e-6-rounded through the
    IDENTICAL expression as before, so both engines subtract the
    identical double; NULL priorities form their own window
    partition, matching the null-safe joins this replaces.
    """
    from pyspark.sql.window import Window

    base = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .filter(F.col("o_totalprice").isNotNull())
    )

    wn = Window.partitionBy("o_orderpriority")

    def p50_cols(df: DataFrame, val: str, out: str) -> DataFrame:
        """Attach the group's type-7 median of ``val`` as column
        ``out`` (1e-6-rounded), via rank/pick windows — no shuffle
        beyond the group partitioning already in force."""
        w = Window.partitionBy("o_orderpriority").orderBy(val)
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(wn)
        )
        h = (F.col("n") - 1).cast("double") * F.lit(0.5) + F.lit(1.0)
        lo_rank = F.floor(h).cast("long")
        picked = ranked.withColumn(
            "lo", F.max(F.when(F.col("rn") == lo_rank, F.col(val))).over(wn)
        ).withColumn(
            "hi",
            F.max(F.when(F.col("rn") == lo_rank + 1, F.col(val))).over(wn),
        )
        frac = h - F.floor(h)
        m = F.col("lo") + frac * (
            F.coalesce(F.col("hi"), F.col("lo")) - F.col("lo")
        )
        return picked.withColumn(
            out,
            F.floor(m * F.lit(1_000_000.0) + F.lit(0.5))
            / F.lit(1_000_000.0),
        ).drop("rn", "lo", "hi")

    med = p50_cols(base, "o_totalprice", "m")
    dev = med.select(
        "o_orderpriority",
        "n",
        "m",
        F.abs(F.col("o_totalprice") - F.col("m")).alias("d"),
    )
    mad = p50_cols(dev, "d", "m2")
    return mad.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.max("m").alias("median_price"),
        F.max("m2").alias("mad_price"),
    )


# --- sketch-accuracy contract for approx_count_distinct ---------------

# The driver protocol cannot hash-match an approximate VALUE (the
# parked agg_approx_distinct lesson: engines' HLL sketches differ),
# but it CAN hash-match a BOUND: emit the exact distinct count plus a
# boolean asserting Spark's own HLL landed within the documented
# error envelope of that exact count. The oracle states the CONTRACT
# (exact count + literal TRUE): if the sketch ever drifts outside the
# envelope, the flag flips and the driver's hash mismatches — turning
# the sketch's accuracy into driver-checkable evidence instead of a
# pytest-only claim.
_ACD_RSD = 0.02          # requested relative standard deviation
_ACD_BOUND = 0.10        # acceptance envelope: 5 sigma of the rsd

_ORACLE_AGG_ACD_BOUND = f"""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_bound
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "agg_approx_distinct_bound", _ORACLE_AGG_ACD_BOUND,
    tags=("agg", "approx"),
)
def agg_approx_distinct_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL accuracy as a driver-checkable contract: per group, the
    EXACT distinct part count plus a flag asserting Spark's
    ``approx_count_distinct`` (rsd 2%) landed within 10% of it. The
    oracle pins (exact, TRUE) — the approximate value itself never
    crosses engines (their sketches legitimately differ; the parked
    ``agg_approx_distinct`` protocol finding), but the accuracy
    CLAIM does, so a sketch regression flips a hash instead of
    hiding in a rows-only check.

    Scale: this is the audit shape — exact countDistinct (one
    dedup shuffle) runs NEXT TO the sketch for the comparison, the
    same both-plans-by-definition cost as sim_ann_recall; a
    deployment runs the sketch alone (one map-side-combining pass,
    no dedup shuffle) once audited. HLL is deterministic for fixed
    data (hash-based, no RNG), so the flag is stable.
    """
    li = load(spark, sf_dir, "lineitem")
    # r13 optimization round: the sketch runs as its OWN branch, not
    # fused into the distinct aggregate — Catalyst plans a fused
    # (one distinct + one regular agg) as a partial aggregate KEYED
    # ON (group, distinct value), which materializes an HLL sketch
    # buffer per (returnflag, partkey) PAIR (~60k sketches at sf0.1)
    # only to merge them per group later. Split, the sketch pass
    # keeps one buffer per GROUP and combines map-side, the exact
    # branch is the plain dedup shuffle, and the two branches run
    # concurrently (interleaved min-of-5 at sf0.1: 1.57 → 0.59 s,
    # identical output). The group-count-sized sketch table
    # broadcasts back onto the exact side.
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("bigint").alias("exact_parts")
    )
    approx = li.groupBy(F.col("l_returnflag").alias("rf2")).agg(
        F.approx_count_distinct("l_partkey", _ACD_RSD).alias("approx")
    )
    agg = exact.join(
        F.broadcast(approx), exact.l_returnflag.eqNullSafe(F.col("rf2"))
    )
    err = F.abs(
        F.col("approx").cast("double") - F.col("exact_parts").cast("double")
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            err <= F.lit(_ACD_BOUND) * F.col("exact_parts").cast("double")
        ).alias("within_bound"),
    )


# --- higher moments: skewness / kurtosis -------------------------------

# The A6 completion: third and fourth standardized moments per group,
# computed from EXACT integer power sums so the result is summation-
# order-free (the embed-moments discipline). l_discount quantizes to
# centi-units <= 10, so Σq⁴ <= 1e4·|rows| stays exact in int64 up to
# ~9e14 rows — far beyond any SF. skew = m3/(m2·√m2): the √·mul form,
# NOT pow(m2, 1.5) — pow is libm and engines may differ in the last
# ulp; sqrt is IEEE-exact and the multiply is correctly rounded.

_ORACLE_AGG_MOMENTS = """
WITH q AS (
    SELECT l_returnflag,
           CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS q
    FROM lineitem WHERE l_discount IS NOT NULL
),
sums AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS BIGINT) AS s1,
           CAST(SUM(q*q) AS BIGINT) AS s2,
           CAST(SUM(q*q*q) AS BIGINT) AS s3,
           CAST(SUM(q*q*q*q) AS BIGINT) AS s4
    FROM q GROUP BY l_returnflag
),
mom AS (
    SELECT l_returnflag, n,
           CAST(s1 AS DOUBLE) / n AS mu,
           CAST(s2 AS DOUBLE) / n AS r2,
           CAST(s3 AS DOUBLE) / n AS r3,
           CAST(s4 AS DOUBLE) / n AS r4
    FROM sums
),
cm AS (
    SELECT l_returnflag, n, mu,
           r2 - mu * mu AS m2,
           r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
           r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
              - 3.0 * mu * mu * mu * mu AS m4
    FROM mom
)
SELECT l_returnflag, n,
       (floor((mu / 100.0) * 1000000.0 + 0.5) / 1000000.0) AS mean_disc,
       (floor(m2 * 1000000.0 + 0.5) / 1000000.0) AS m2_centi,
       (floor((m3 / NULLIF(m2 * sqrt(m2), 0.0)) * 1000000.0 + 0.5)
           / 1000000.0) AS skewness,
       (floor((m4 / NULLIF(m2 * m2, 0.0) - 3.0) * 1000000.0 + 0.5)
           / 1000000.0) AS excess_kurtosis
FROM cm
"""


@register("agg_moments", _ORACLE_AGG_MOMENTS, tags=("agg", "stats"))
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of the discount distribution per
    return flag — the distribution-shape card next to ``agg_stats``'
    spread measures (a quality gate reads skew/kurtosis to detect a
    clipped or bimodal metric before alerting on its mean). Engine
    builtins are NOT used (their correction conventions differ);
    both sides derive population moments from exact integer power
    sums with the identical raw→central algebra.

    Scale: ONE map-side-combining aggregation (five integer sums per
    group); the moment algebra runs on the |groups|-row result. The
    quantization bound is schema-level (centi-units ≤ 10 ⇒ Σq⁴
    exact past 9e14 rows), so the plan is exact at any fixture SF
    and documents its own overflow horizon.

    Hash parity: power sums are exact BIGINTs; mu/m2/m3/m4 and both
    ratios are identical IEEE expression shapes (√·mul, never
    pow(x, 1.5)); 1e-6 round guards transport. Zero-variance groups
    yield NULL skew/kurtosis via the NULLIF guard on both engines.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_discount").isNotNull()
    )
    q = F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    sums = li.select("l_returnflag", q.alias("q")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q"))
        .cast("bigint")
        .alias("s3"),
        F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q"))
        .cast("bigint")
        .alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    r2 = F.col("s2").cast("double") / F.col("n")
    r3 = F.col("s3").cast("double") / F.col("n")
    r4 = F.col("s4").cast("double") / F.col("n")
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu
    m4 = (
        r4
        - F.lit(4.0) * mu * r3
        + F.lit(6.0) * mu * mu * r2
        - F.lit(3.0) * mu * mu * mu * mu
    )
    rnd = lambda c: (  # noqa: E731
        F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)
    )
    denom_skew = F.nullif(m2 * F.sqrt(m2), F.lit(0.0))
    denom_kurt = F.nullif(m2 * m2, F.lit(0.0))
    return sums.select(
        "l_returnflag",
        "n",
        rnd(mu / F.lit(100.0)).alias("mean_disc"),
        rnd(m2).alias("m2_centi"),
        rnd(m3 / denom_skew).alias("skewness"),
        rnd(m4 / denom_kurt - F.lit(3.0)).alias("excess_kurtosis"),
    )


# --- quantile-sketch accuracy contract ------------------------------

# The t-digest/GK counterpart of agg_approx_distinct_bound: the
# quantile sketch every 100 TB deployment uses instead of a per-group
# sort, audited as a driver-checkable contract. The guarantee being
# certified is RANK error (approx_percentile with accuracy a has rank
# error <= 1/a), so the flag asks whether the sketch's pick lies
# between the exact (q − eps) and (q + eps) DISCRETE quantiles — the
# value-space image of a ±eps rank window. eps = 0.02 is a 20x
# envelope over the requested 1/1000 rank error (the _ACD_BOUND
# discipline: generous enough that sketch-merge nondeterminism can
# never flip the flag, tight enough that a broken sketch trips it).
# The approximate VALUE is never emitted — only the exact quantile
# and the claim cross engines, so partial-merge order cannot touch
# the hash.
_AQB_ACC = 1000
_AQB_EPS = 0.02

_ORACLE_AGG_AQB = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem WHERE l_extendedprice IS NOT NULL
)
SELECT l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       (floor((MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN l_extendedprice END)) * 1000000.0 + 0.5)
        / 1000000.0) AS exact_p50,
       TRUE AS within_bound
FROM ranked
GROUP BY l_returnflag
"""


@register(
    "agg_approx_quantile_bound", _ORACLE_AGG_AQB, tags=("agg", "approx")
)
def agg_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch accuracy as a driver-checkable contract: per
    group, the EXACT discrete median (lower-median rank pick —
    deterministic under ties because equal values at the boundary
    rank give the same pick regardless of tie order) plus a flag
    asserting ``percentile_approx`` (rank accuracy 1/1000) landed
    inside the exact ±2%-rank value envelope. The oracle pins
    (exact_p50, TRUE); the sketch value itself never crosses engines
    (GK-summary merge order is not contractual) — only the accuracy
    CLAIM does, the ``agg_approx_distinct_bound`` discipline.

    Scale: the audit shape — the exact side costs one group-keyed
    sort-window (same plan as ``agg_quantile_disc``); a deployment
    runs the sketch alone (ONE map-side-combining aggregation, no
    sort, constant memory per group), which is the entire point of
    auditing it once and trusting it at 100 TB.
    """
    from pyspark.sql.window import Window

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .filter(F.col("l_extendedprice").isNotNull())
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").asc()
    )
    wn = Window.partitionBy("l_returnflag")
    r = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    mid = F.ceil(F.lit(0.5) * F.col("n")).cast("long")
    lo = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.lit(0.5 - _AQB_EPS) * F.col("n")).cast("long"),
    )
    hi = F.least(
        F.col("n").cast("long"),
        F.ceil(F.lit(0.5 + _AQB_EPS) * F.col("n")).cast("long"),
    )
    agg = r.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        dround(
            F.max(F.when(F.col("rn") == mid, F.col("l_extendedprice"))), 6
        ).alias("exact_p50"),
        F.max(F.when(F.col("rn") == lo, F.col("l_extendedprice"))).alias(
            "lo_val"
        ),
        F.max(F.when(F.col("rn") == hi, F.col("l_extendedprice"))).alias(
            "hi_val"
        ),
        F.expr(
            f"percentile_approx(l_extendedprice, 0.5, {_AQB_ACC})"
        ).alias("approx"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_p50",
        (
            (F.col("approx") >= F.col("lo_val"))
            & (F.col("approx") <= F.col("hi_val"))
        ).alias("within_bound"),
    )


# --- incremental aggregate maintenance (delta merge, audited) --------

# Everything before the cutoff is the STANDING aggregate's base;
# everything else (including NULL-date late records) is tonight's
# delta. Mid-fixture date so both sides are populated at every SF.
_DELTA_CUTOFF = "1999-01-01"

_ORACLE_AGG_DELTA_MAINTENANCE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       TRUE AS merge_ok
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "agg_delta_maintenance", _ORACLE_AGG_DELTA_MAINTENANCE,
    tags=("agg", "incremental", "etl"),
)
def agg_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (materialized-view) aggregate maintenance, audited
    — the nightly-ETL capability: the standing per-priority order
    counts/revenue are maintained by MERGING the delta batch's
    partial aggregate into the base aggregate (full-outer on the
    group key, additive combine), never by recomputing 100 TB. The
    ``merge_ok`` flag certifies the merged result equals a direct
    full recompute — a THEOREM for additive metrics over a TOTAL
    base/delta split in exact integer cents (count and sum are
    commutative monoids; float sums would break the exact-equality
    pin, which is why revenue is BIGINT cents), pinned TRUE by the
    oracle exactly like the sketch-accuracy cards
    (``agg_approx_distinct_bound``): a maintenance-algebra drift
    flips the flag and the driver's hash mismatches.

    The split is TOTAL by construction: base = o_orderdate <
    {_DELTA_CUTOFF!r}, delta = everything else INCLUDING NULL dates
    (late-arriving unknown-date records belong to the current batch
    — the NOT(coalesce(<, false)) arm), so base ∪ delta = the table
    and the direct-recompute comparison is well-defined. The NULL
    sweep proves the arm live: dropping it (a delta filtered with
    ``>= cutoff``) desyncs both the hash and the flag.

    Scale: at deployment the base aggregate is a STORED table (group
    keys × metrics — KB for any realistic key space) and only the
    delta is scanned each night; here all three frames derive from
    one fixture scan so the oracle can audit the algebra. The merge
    itself is a full-outer join of two group-count-sized frames plus
    one comparison join — never fact-sized.

    Hash parity: all-integer outputs; the flag is an engine-side
    boolean the oracle pins as a literal; group keys are non-NULL in
    the fixture but a NULL priority would form its own group on both
    sides (null-safe merge keys internally).
    """
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    in_base = F.coalesce(
        F.col("o_orderdate") < F.lit(_DELTA_CUTOFF).cast("timestamp"),
        F.lit(False),
    )

    def part(df: DataFrame) -> DataFrame:
        # n_priced (count of non-NULL prices) travels with the sum so
        # the merge can tell "side absent / all prices NULL" (sum is
        # NULL, contributes nothing) apart from "no non-NULL price in
        # EITHER side" — where SQL's SUM semantics demand the merged
        # sum be NULL, not 0 (code review r11: an all-NULL-price
        # group hashed 0 while the oracle's SUM said NULL, and the
        # merge_ok comparison went NULL instead of TRUE).
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("cents"),
            F.count(cents).cast("bigint").alias("n_priced"),
        )

    base = part(o.filter(in_base))
    delta = part(o.filter(~in_base))
    merged_priced = F.coalesce(F.col("b.n_priced"), F.lit(0)) + F.coalesce(
        F.col("d.n_priced"), F.lit(0)
    )
    merged = (
        base.alias("b")
        .join(
            delta.alias("d"),
            F.col("b.o_orderpriority").eqNullSafe(
                F.col("d.o_orderpriority")
            ),
            "full_outer",
        )
        .select(
            F.coalesce(
                F.col("b.o_orderpriority"), F.col("d.o_orderpriority")
            ).alias("o_orderpriority"),
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).cast("bigint").alias("n_orders"),
            F.when(
                merged_priced > 0,
                F.coalesce(F.col("b.cents"), F.lit(0))
                + F.coalesce(F.col("d.cents"), F.lit(0)),
            ).cast("bigint").alias("revenue_cents"),
        )
    )
    direct = o.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_direct"),
        F.sum(cents).cast("bigint").alias("cents_direct"),
    )
    return (
        merged.join(
            direct,
            merged.o_orderpriority.eqNullSafe(direct.p),
            "left",
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "revenue_cents",
            (
                (F.col("n_orders") == F.col("n_direct"))
                # null-safe: an all-NULL-price group's sum is NULL on
                # BOTH sides, which is agreement, not unknown
                & F.col("revenue_cents").eqNullSafe(
                    F.col("cents_direct")
                )
            ).alias("merge_ok"),
        )
    )
