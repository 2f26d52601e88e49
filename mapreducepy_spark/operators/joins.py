"""Joins (SURVEY.md §2.3).

MapReduce origin: reduce-side join (tag records by source, shuffle on
key, pair in the reducer) → Spark shuffle join; map-side join
(replicated small table) → ``broadcast()`` hint. Spark picks the
strategy from size estimates; we hint explicitly where the dimension
side is provably small (region/nation/customer dims), because at
100 TB a mis-estimated sort-merge join on a broadcastable dim is the
single biggest avoidable shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from .. import warehouse as _wh
from ..io import load
from ..registry import register
from ..rounding import dround, dround_sql

_ORACLE_JOIN_INNER = """
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
"""


@register("join_inner", _ORACLE_JOIN_INNER, tags=("join",))
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — equi inner join (orders ⋈ customer).

    Scale: customer (filtered to one segment) is dimension-sized →
    broadcast hash join: zero shuffle of the orders fact side. The
    segment filter is applied BEFORE the broadcast so only the
    matching slice ships to executors.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


_ORACLE_JOIN_LEFT = """
SELECT c.c_custkey,
       c.c_mktsegment,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       (floor((COALESCE(SUM(o.o_totalprice), 0)) * 100.0 + 0.5) / 100.0) AS total_spent
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
"""


@register("join_left", _ORACLE_JOIN_LEFT, tags=("join",))
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — left outer join preserving customers with zero orders.

    Scale: left side is the dim here; at 100 TB the orders side would
    be pre-aggregated per custkey BEFORE the join (reduces join input
    from #orders to #customers) — which is exactly how this is
    written: aggregate-then-join would be the scale rewrite, but
    Catalyst cannot do it automatically for outer joins, so we keep
    join-then-aggregate at test scale and document the rewrite.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dround(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


_ORACLE_JOIN_MULTI = """
SELECT n.n_name AS nation,
       (floor((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5) / 100.0) AS revenue
FROM customer c
JOIN orders o    ON o.o_custkey = c.c_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
"""


@register("join_multi", _ORACLE_JOIN_MULTI, tags=("join", "flagship"))
def join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — TPC-H-Q5-shaped 6-table star join.

    Scale: region/nation/supplier broadcast (tiny dims); the only
    real shuffles are lineitem⋈orders and orders⋈customer on their
    join keys. AQE reorders/demotes as runtime sizes dictate. Date
    range pushes into the orders scan (partition pruning on a
    date-partitioned lake).
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_ORACLE_JOIN_SEMI = """
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
)
"""


@register("join_semi", _ORACLE_JOIN_SEMI, tags=("join",))
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4a — left-semi join (customers WITH a recent order).

    Scale: semi join ships only the join key of the probe side and
    short-circuits on first match — strictly cheaper than inner
    join + distinct.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


_ORACLE_JOIN_ANTI = """
SELECT c.c_custkey, c.c_acctbal
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
)
"""


@register("join_anti", _ORACLE_JOIN_ANTI, tags=("join",))
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4b — left-anti join (customers with NO orders)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


_ORACLE_JOIN_THETA_RANGE = """
SELECT s.s_suppkey,
       s.s_name,
       CAST(COUNT(c.c_custkey) AS BIGINT) AS n_richer_customers
FROM supplier s
LEFT JOIN customer c
  ON c.c_nationkey = s.s_nationkey AND c.c_acctbal > s.s_acctbal
GROUP BY s.s_suppkey, s.s_name
"""


@register("join_theta_range", _ORACLE_JOIN_THETA_RANGE, tags=("join", "theta"))
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — non-equi (range) join: per supplier, customers in the same
    nation with a larger account balance.

    Scale: the equi component (nationkey) makes this a hash join with
    the range predicate as a post-join filter — NOT a cartesian
    product. A pure theta join (no equi key) degrades to
    broadcast-nested-loop; always hunt for an equi/bucket component
    first (same trick the similarity ops use).
    """
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (c.c_nationkey == s.s_nationkey) & (c.c_acctbal > s.s_acctbal),
            "left",
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("c_custkey").alias("n_richer_customers"))
    )


# The as-of match is per event OCCURRENCE (physical row), not per
# event_id: the oracle partitions on a synthesized per-row id so
# duplicate event_ids — out of contract (dedup_events exists) but
# reachable — keep their multiplicity exactly as the Spark timeline
# does (each dup row matches independently and emits an identical
# output row). The rid assignment is arbitrary but each row's match
# depends only on (user_id, ts), so the result is deterministic.
_ORACLE_JOIN_ASOF = """
WITH e AS (
    SELECT event_id, user_id, ts,
           row_number() OVER (ORDER BY event_id, user_id, ts) AS rid
    FROM events
)
SELECT event_id, user_id, ts, o_orderkey, o_orderdate
FROM (
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
           ROW_NUMBER() OVER (
               PARTITION BY e.rid
               ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
           ) AS rn
    FROM e
    LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) t
WHERE rn = 1
"""


@register("join_asof", _ORACLE_JOIN_ASOF, tags=("join", "asof"))
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — as-of join: for each event, the latest order of the same
    user at-or-before the event time.

    Spark has no native ASOF JOIN (SURVEY.md §4.3 item 2). Round 1
    shipped equi-join + range predicate + ``row_number() == 1``,
    whose join output is each event × the user's FULL at-or-before
    order history — unbounded fan-out on long histories (VERDICT
    round-1 item #6). This formulation removes the join entirely:
    union events and orders into one per-user timeline, sort by time,
    and carry the latest order forward with a running ``max`` of
    ``struct(o_orderdate, o_orderkey)`` — the canonical distributed
    as-of:

    - ONE shuffle (window partitionBy user_id) and O(1) state per
      row; no join node, no per-event history fan-out;
    - orders sort before events at equal timestamps
      (``is_event`` asc), making the match inclusive (date ≤ ts);
    - the struct running-max is latest-date-then-highest-key —
      exactly the oracle's DESC/DESC tie-break;
    - ``max`` ignores nulls, so event rows (null ord) never pollute
      the carry, and users with no prior order yield nulls — the
      LEFT-join semantics.
    """
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    ev = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None)
        .cast("struct<o_orderdate:timestamp,o_orderkey:bigint>")
        .alias("ord"),
    )
    od = o.filter(
        # a NULL custkey can never equi-match any event under SQL
        # join semantics, but the window PARTITION BY groups NULL
        # keys into one partition — without this filter a NULL-key
        # order silently carries onto NULL-user events (found by the
        # multi-table adversarial sweep); NULL dates likewise cannot
        # satisfy date <= ts
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.struct("o_orderdate", "o_orderkey").alias("ord"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(od)
        .withColumn("best", F.max("ord").over(w))
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("best.o_orderkey").alias("o_orderkey"),
            F.col("best.o_orderdate").alias("o_orderdate"),
        )
    )


# Same per-occurrence rid discipline as _ORACLE_JOIN_ASOF; direction
# and tie-break mirrored (earliest at-or-after date, then SMALLEST
# orderkey — the min-struct carry's natural order).
_ORACLE_JOIN_ASOF_FORWARD = """
WITH e AS (
    SELECT event_id, user_id, ts,
           row_number() OVER (ORDER BY event_id, user_id, ts) AS rid
    FROM events
)
SELECT event_id, user_id, ts, o_orderkey, o_orderdate
FROM (
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
           ROW_NUMBER() OVER (
               PARTITION BY e.rid
               ORDER BY o.o_orderdate ASC NULLS LAST, o.o_orderkey ASC NULLS LAST
           ) AS rn
    FROM e
    LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
) t
WHERE rn = 1
"""


@register(
    "join_asof_forward", _ORACLE_JOIN_ASOF_FORWARD, tags=("join", "asof")
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6, forward direction — for each event, the EARLIEST order of
    the same user at-or-after the event time (pandas
    ``merge_asof(direction='forward')``; "the next shipment after
    the click"). Completes the as-of pair: ``join_asof`` looks back,
    this looks ahead.

    The mirrored union-timeline design — same single shuffle, no
    join node, O(1) carry state per row:

    - the carry is a running ``min`` of ``struct(o_orderdate,
      o_orderkey)`` over the FOLLOWING frame (currentRow →
      unboundedFollowing) — earliest date, then smallest key,
      exactly the oracle's ASC/ASC tie-break;
    - events sort BEFORE orders at equal timestamps
      (``is_event`` desc), so an order at exactly the event time is
      inside the event's forward frame — the match is inclusive
      (date ≥ ts);
    - ``min`` ignores nulls: event rows never pollute the carry and
      users with no later order yield nulls (LEFT-join semantics).
    """
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    ev = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None)
        .cast("struct<o_orderdate:timestamp,o_orderkey:bigint>")
        .alias("ord"),
    )
    od = o.filter(
        # the join_asof NULL-key rule: NULL custkey/orderdate can
        # never match under join semantics, but the window's
        # PARTITION BY would group NULL keys — filter them out
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.struct("o_orderdate", "o_orderkey").alias("ord"),
    )
    # t sorts NULLS LAST: a NULL-ts event must see an EMPTY forward
    # frame (its match is NULL — the oracle's `o_orderdate >= ts` is
    # never true for NULL ts). Spark's default asc() is nulls-FIRST,
    # which would seat NULL-ts events at the partition head and hand
    # them the user's earliest order — the join_asof_nearest NULL-ts
    # hazard (ADVICE r7), mirrored. With nulls-last they sit at the
    # tail where the only following rows are other event rows, whose
    # NULL ord the min-carry ignores.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc_nulls_last(), F.col("is_event").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        ev.unionByName(od)
        .withColumn("best", F.min("ord").over(w))
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("best.o_orderkey").alias("o_orderkey"),
            F.col("best.o_orderdate").alias("o_orderdate"),
        )
    )


_RANGE_US = 2_000_000  # |Δts| ≤ 2 s, in microseconds

_ORACLE_JOIN_RANGE_BINNED = f"""
SELECT a.event_id AS event_a,
       b.event_id AS event_b,
       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS delta_us
FROM events a
JOIN events b
  ON a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {_RANGE_US}
"""


@register("join_range_binned", _ORACLE_JOIN_RANGE_BINNED, tags=("join", "range"))
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range self-join (no equi key): all event pairs within 2 s
    of each other — executed as a BINNED equi-join, the standard
    interval-join rewrite Spark has no native operator for.

    Each row gets bin = ⌊t/Δ⌋; the probe side is exploded to
    {bin−1, bin, bin+1}, the build side keeps its own bin, and the
    join runs on bin equality with the exact |Δt| ≤ Δ predicate as a
    post-filter. Every qualifying pair lands in exactly ONE (probe
    replica, build) bin combination, so no dedup pass is needed.

    Scale: a naive formulation is a broadcast-nested-loop over n²
    pairs; the bin key turns it into a hash shuffle where each task
    sees only ~3 bins' worth of rows. Cost is O(n·k) with k = bin
    occupancy — tune Δ (or sub-bin) to bound k; skewed hot bins get
    the same salting treatment as any hot hash key.
    """
    e = load(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    bin_col = F.floor(F.col("us") / F.lit(_RANGE_US))
    probe = e.select(
        F.col("event_id").alias("event_a"),
        F.col("us").alias("us_a"),
        F.explode(
            F.array(bin_col - 1, bin_col, bin_col + 1)
        ).alias("bin"),
    )
    build = e.select(
        F.col("event_id").alias("event_b"),
        F.col("us").alias("us_b"),
        bin_col.alias("bin"),
    )
    return (
        probe.join(build, "bin")
        .filter(
            (F.col("event_a") < F.col("event_b"))
            & (F.abs(F.col("us_b") - F.col("us_a")) <= _RANGE_US)
        )
        .select(
            "event_a",
            "event_b",
            (F.col("us_b") - F.col("us_a")).alias("delta_us"),
        )
    )


_ORACLE_JOIN_FULL = """
SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
       COALESCE(cn.n_customers, 0) AS n_customers,
       COALESCE(sn.n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM customer GROUP BY c_nationkey) cn
FULL OUTER JOIN
     (SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM supplier GROUP BY s_nationkey) sn
  ON cn.nationkey = sn.nationkey
"""


@register("join_full", _ORACLE_JOIN_FULL, tags=("join",))
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 completion — FULL OUTER join: the reconciliation shape
    (every nation's customer and supplier counts, zero-filled on
    whichever side is absent).

    Scale: both inputs are pre-aggregated to one row per key before
    the join, so the full-outer shuffle carries counts, not rows —
    always aggregate-then-outer-join, never the reverse.
    """
    cn = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cn.join(sn, "nationkey", "full")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


# --- salted join (skew mitigation), oracle-proven -------------------

_ORACLE_JOIN_SKEW_SALTED = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       (floor((SUM(l.l_extendedprice)) * 100.0 + 0.5) / 100.0) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register("join_skew_salted", _ORACLE_JOIN_SKEW_SALTED, tags=("join", "skew"))
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``plans.skew.salted_join`` utility as a driver-checked
    query: lineitem (big, salted 8 ways) ⋈ orders (exploded 8×),
    aggregated per priority. The oracle is the PLAIN join — the gate
    proves salting is result-invariant, not just unit-tested so.

    Scale: this is the explicit fallback for a hot join key that
    AQE's skew splitter can't fix (shuffled-hash build-side
    replication, or aggregation skew). One hot orderkey's rows
    scatter over 8 tasks at the cost of an 8× replicated small side
    — the right trade exactly when one side is orders of magnitude
    smaller, which is the skew scenario.
    """
    from ..plans.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, o, li["l_orderkey"] == o["o_orderkey"], n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dround(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


_ORACLE_JOIN_NULL_SAFE = """
WITH a AS (
    SELECT NULLIF(o_orderkey % 5, 0) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (floor((SUM(o_totalprice)) * 100.0 + 0.5) / 100.0) AS sum_price
    FROM orders
    GROUP BY NULLIF(o_orderkey % 5, 0)
),
b AS (
    SELECT NULLIF(l_orderkey % 5, 0) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY NULLIF(l_orderkey % 5, 0)
)
SELECT a.grp, a.n_orders, a.sum_price, b.n_lines
FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
"""


@register("join_null_safe", _ORACLE_JOIN_NULL_SAFE, tags=("join",))
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (Spark ``<=>`` ≡ ANSI ``IS NOT
    DISTINCT FROM``): the NULL group on one side MATCHES the NULL
    group on the other — the semantic a plain equi-join silently
    drops (NULL = NULL is UNKNOWN), and exactly what joining two
    aggregates on a nullable dimension needs ("unattributed" rows
    must line up with "unattributed" rows). The nullable key is
    derived deterministically (``NULLIF(orderkey % 5, 0)``) so the
    oracle can predict the NULL bucket from construction.

    Scale: Catalyst extracts ``<=>`` as a first-class equi-join key
    (hash/sort-merge joinable, NULLs routed to one partition like
    any other key value — NOT a nested-loop residual), so the plan
    is identical in shape to a plain equi-join; both inputs are
    pre-aggregated to |groups| rows before the join. A skewed NULL
    bucket at scale is the join_skew_salted story, unchanged.

    Hash parity: counts are exact; money uses the cent-floor on both
    engines; the modulo-NULLIF key derivation is integer-exact.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    a = (
        o.groupBy(
            F.nullif(F.col("o_orderkey") % 5, F.lit(0)).alias("grp")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dround(F.sum("o_totalprice")).alias("sum_price"),
        )
    )
    b = (
        li.groupBy(
            F.nullif(F.col("l_orderkey") % 5, F.lit(0)).alias("grp2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    )
    return (
        a.join(b, a.grp.eqNullSafe(b.grp2))
        .select("grp", "n_orders", "sum_price", "n_lines")
    )


_ORACLE_JOIN_LATERAL = """
SELECT o.o_orderkey, o.o_orderdate,
       t.l_linenumber, t.l_extendedprice
FROM orders o,
LATERAL (
    SELECT l_linenumber, l_extendedprice
    FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_orderkey % 10 = 0
    ORDER BY l_extendedprice DESC, l_linenumber ASC
    LIMIT 2
) t
WHERE o.o_orderkey % 10 = 0
"""


@register("join_lateral_topk", _ORACLE_JOIN_LATERAL, tags=("join", "sql"))
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    spelling of top-k-per-group ("each order's 2 priciest lines"),
    and a DIALECT-PORTABLE key: the ONE SQL text is both the DuckDB
    oracle and what this builder hands to ``spark.sql`` (the sql.py
    §3.2 discipline — no second implementation to drift; hash parity
    is literal by construction, provided both engines decorrelate to
    the same answer, which the gate verifies).

    Scale: Catalyst decorrelates the lateral to an equi-join on
    ``l_orderkey`` plus a per-key row_number cut — the
    ``topk_per_group`` physical shape, NOT a nested loop re-running
    the subquery per outer row (plan-asserted: no
    BroadcastNestedLoopJoin/CartesianProduct). The (price,
    linenumber) order is total within an order, so LIMIT 2 is
    deterministic on both engines. The orderkey shard bounds the
    catalog key's output volume; it is repeated INSIDE the lateral
    (equivalent under the correlation equality) because neither
    engine infers derived predicates like ``key % 10 = 0`` across a
    join — without the copy the fact side scans whole (measured:
    the filter reached only the orders scan).
    """
    for t in ("orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_ORACLE_JOIN_LATERAL)


# --- interval × interval overlap join -------------------------------

_IVL_BIN_US = 3_600_000_000  # 1-hour bins, in microseconds
_IVL_US_PER_MIN = 60_000_000.0


def _intervals(spark: SparkSession, sf_dir: str, etype: str, pre: str):
    """Events of one type as [start, end) µs intervals — the payload
    ``value`` is the duration in minutes (2-decimal double, so
    value·6e7 is an integer-valued double below 2^53: the floor is
    exact and both engines agree bit-for-bit)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == etype)
    s = F.unix_micros("ts")
    return e.select(
        "user_id",
        s.alias(f"{pre}_s"),
        (
            s + F.floor(F.col("value") * F.lit(_IVL_US_PER_MIN)).cast("bigint")
        ).alias(f"{pre}_e"),
    )


_ORACLE_JOIN_INTERVAL_OVERLAP = """
WITH a AS (
    SELECT user_id, epoch_us(ts) AS a_s,
           epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS a_e
    FROM events WHERE event_type = 'view'
),
b AS (
    SELECT user_id, epoch_us(ts) AS b_s,
           epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS b_e
    FROM events WHERE event_type = 'purchase'
),
pairs AS (
    SELECT a.user_id,
           least(a.a_e, b.b_e) - greatest(a.a_s, b.b_s) AS ov_us
    FROM a JOIN b
      ON a.user_id = b.user_id
     AND a.a_s < b.b_e AND b.b_s < a.a_e
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       (floor(CAST(SUM(ov_us) AS DOUBLE) / 1000000.0 * 100.0 + 0.5)
        / 100.0) AS overlap_sec,
       (floor(CAST(MAX(ov_us) AS DOUBLE) / 1000000.0 * 100.0 + 0.5)
        / 100.0) AS max_overlap_sec
FROM pairs
GROUP BY user_id
"""


@register(
    "join_interval_overlap", _ORACLE_JOIN_INTERVAL_OVERLAP,
    tags=("join", "range"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join — the missing sibling of
    ``join_range_binned`` (point-vs-range): per user, every
    (view-interval, purchase-interval) pair that overlaps in time,
    rolled up to overlap count and total/max overlap seconds. Spark
    has no native interval join, so both sides are exploded to the
    1-hour bins they cover and joined on (user, bin) equality.

    The pair-dedup a naive binning needs is eliminated by the
    overlap-START-bin rule: an overlapping pair is emitted only from
    the bin containing ``greatest(a_s, b_s)`` — both intervals cover
    that instant, so both sides produce that bin, and exactly one bin
    satisfies the rule. No distinct pass, no wide pair shuffle.

    Scale: cost is O(rows · bins-per-interval) explode plus a hash
    join keyed (user, bin) — each task sees one bin's occupancy, never
    the n² pair space. Hot (user, bin) cells take the standard salt
    treatment; widen/narrow the bin to trade replica count against
    per-bin pair work (the join_range_binned tuning rule).

    Hash parity: starts/ends are exact integer µs (``unix_micros`` /
    ``epoch_us``, duration floor exact by construction); overlap sums
    are BIGINT µs, rounded to 2 decimals only after the division.
    """
    a = _intervals(spark, sf_dir, "view", "a")
    b = _intervals(spark, sf_dir, "purchase", "b")

    def _binned(df: DataFrame, pre: str) -> DataFrame:
        lo = F.floor(F.col(f"{pre}_s") / F.lit(_IVL_BIN_US))
        hi = F.floor(F.col(f"{pre}_e") / F.lit(_IVL_BIN_US))
        return df.withColumn("bin", F.explode(F.sequence(lo, hi)))

    ab = _binned(a, "a")
    bb = _binned(b, "b").withColumnRenamed("user_id", "b_user")
    ov_us = F.least("a_e", "b_e") - F.greatest("a_s", "b_s")
    start_bin = F.floor(F.greatest("a_s", "b_s") / F.lit(_IVL_BIN_US))
    pairs = (
        ab.join(
            bb,
            (ab.user_id == bb.b_user) & (ab.bin == bb.bin),
        )
        .filter(
            (F.col("a_s") < F.col("b_e"))
            & (F.col("b_s") < F.col("a_e"))
            & (ab.bin == start_bin)
        )
        .select("user_id", ov_us.alias("ov_us"))
    )
    sec2 = lambda c: (  # noqa: E731 — µs → 2-decimal seconds
        F.floor(c.cast("double") / 1e6 * 100.0 + F.lit(0.5)) / 100.0
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        sec2(F.sum("ov_us")).alias("overlap_sec"),
        sec2(F.max("ov_us")).alias("max_overlap_sec"),
    )


# --- nearest as-of: completes the backward/forward pair -------------

# Same per-occurrence rid discipline as _ORACLE_JOIN_ASOF. Nearest =
# minimal |order_date − event_ts| in exact integer µs; ties between
# a backward and a forward order at the same distance prefer the
# BACKWARD one (matching the builder's `back_diff <= fwd_diff` pick);
# ties within the backward side take the largest orderkey (the
# max-struct carry), within the forward side the smallest (min-struct).
_ORACLE_JOIN_ASOF_NEAREST = """
WITH e AS (
    SELECT event_id, user_id, ts,
           row_number() OVER (ORDER BY event_id, user_id, ts) AS rid
    FROM events
    WHERE ts IS NOT NULL
)
SELECT event_id, user_id, ts, o_orderkey, o_orderdate, diff_us
FROM (
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
           CAST(abs(epoch_us(e.ts) - epoch_us(o.o_orderdate))
                AS BIGINT) AS diff_us,
           ROW_NUMBER() OVER (
               PARTITION BY e.rid
               ORDER BY abs(epoch_us(e.ts) - epoch_us(o.o_orderdate))
                            ASC NULLS LAST,
                        CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1
                             END ASC NULLS LAST,
                        CASE WHEN o.o_orderdate <= e.ts
                             THEN -o.o_orderkey ELSE o.o_orderkey
                             END ASC NULLS LAST
           ) AS rn
    FROM e
    LEFT JOIN orders o ON e.user_id = o.o_custkey
) t
WHERE rn = 1
"""


@register(
    "join_asof_nearest", _ORACLE_JOIN_ASOF_NEAREST, tags=("join", "asof")
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6, nearest direction — for each event, the order of the same
    user closest in time on EITHER side (the sensor-fusion flavor of
    as-of). Completes the as-of triple: backward (``join_asof``),
    forward (``join_asof_forward``), nearest.

    Both directional carries ride ONE union timeline: the backward
    running ``max(struct)`` over (unbounded-preceding, current) and
    the forward running ``min(struct)`` over (current,
    unbounded-following) share the same partitioning AND sort, so
    Spark plans one exchange + one sort feeding two Window nodes —
    still no join, still O(1) state per row. The closer candidate
    wins in exact integer µs; equal distances prefer the backward
    order (so an order at exactly the event time — visible to both
    carries — resolves consistently).

    Edge pinned by the sort order: orders sort BEFORE events at equal
    t (``is_event`` asc), so an exact-tie order is inside the
    backward frame but NOT the forward one — harmless, because any
    forward candidate it could have been is a 0-distance tie the
    backward pick wins anyway.

    NULL-ts events are OUT of the nearest contract (both distances
    are NULL — "nearest" is undefined; ADVICE r7 showed the engines'
    NULL-t fallbacks diverge), matching the oracle's ``ts IS NOT
    NULL`` guard. The backward/forward variants keep their own
    documented NULL-ts behavior.
    """
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    ev = e.filter(F.col("ts").isNotNull()).select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None)
        .cast("struct<o_orderdate:timestamp,o_orderkey:bigint>")
        .alias("ord"),
    )
    od = o.filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.struct("o_orderdate", "o_orderkey").alias("ord"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    tl = (
        ev.unionByName(od)
        .withColumn("back", F.max("ord").over(wb))
        .withColumn("fwd", F.min("ord").over(wf))
        .filter(F.col("is_event") == 1)
    )
    back_diff = F.unix_micros("ts") - F.unix_micros("back.o_orderdate")
    fwd_diff = F.unix_micros("fwd.o_orderdate") - F.unix_micros("ts")
    chosen = (
        F.when(F.col("back").isNull(), F.col("fwd"))
        .when(F.col("fwd").isNull(), F.col("back"))
        .when(back_diff <= fwd_diff, F.col("back"))
        .otherwise(F.col("fwd"))
    )
    return tl.select(
        "event_id",
        "user_id",
        "ts",
        chosen.getField("o_orderkey").alias("o_orderkey"),
        chosen.getField("o_orderdate").alias("o_orderdate"),
        F.abs(
            F.unix_micros("ts")
            - F.unix_micros(chosen.getField("o_orderdate"))
        )
        .cast("bigint")
        .alias("diff_us"),
    )


# --- co-located bucketed join (zero-exchange fact-fact join) ---------

_N_BUCKETS = 8

# Writer-recipe version, folded into the table fingerprint (ADVICE r10):
# the adoption path trusts an orphan directory's layout — including
# SORTED BY — purely from its name, so the name must pin EVERYTHING
# the writer guarantees (bucket count, sort column per table, full
# projected schema, one-file-per-bucket repartition). Bump this when
# any of that changes: old directories then simply stop matching the
# new names (and are GC'd once their sources vanish) instead of
# re-registering under a DDL the bytes no longer satisfy.
_BUCKET_WRITER_V = 3

# Grace windows re-exported from the shared lifecycle module (the
# generic machinery was extracted to ``mapreducepy_spark.warehouse``
# in r12 so the persisted LSH band index rides the same battle-tested
# GC/adopt path — VERDICT r11 #4); tests reference them by these
# names.
_GC_MIN_AGE_SEC = _wh.GC_MIN_AGE_SEC
_GC_VERSION_GRACE_SEC = _wh.GC_VERSION_GRACE_SEC


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and lineitem as BUCKETED + per-bucket-SORTED
    tables on their join key, once per fixture content, and return
    the table names. Content-keyed names (``warehouse.table_name``)
    so a regenerated fixture mints fresh tables and two sessions over
    the same bytes share them; ``mode("overwrite")`` makes a fresh
    in-memory catalog over leftover files self-healing.

    The ``repartition(_N_BUCKETS, key)`` before the write gives ONE
    file per bucket — multi-file buckets would force a per-bucket
    sort back into the read side and (pre-Spark-3.0 semantics) extra
    tasks; one sorted file per bucket is the layout the zero-exchange
    read relies on.

    Lifecycle (GC of dead-fixture orphans with concurrency grace,
    `_SUCCESS`-gated adoption of a previous session's directory via
    seconds of DDL instead of re-shuffling both fact tables, sidecar
    provenance): the shared ``mapreducepy_spark.warehouse`` module —
    see its docstrings for the at-scale metastore semantics.
    """
    import os
    import re

    writer_tag = f"writer=v{_BUCKET_WRITER_V}"
    recipe = [
        writer_tag,
        f"buckets={_N_BUCKETS}",
        "sort=o_orderkey,l_orderkey",
        "schema=full",
    ]
    srcs = [os.path.abspath(f"{sf_dir}/{t}.parquet") for t in ("orders", "lineitem")]
    names = (
        _wh.table_name("orders_bkt", recipe, srcs),
        _wh.table_name("lineitem_bkt", recipe, srcs),
    )
    wh = _wh.warehouse_path(spark)

    # GC: test suites mint bucketed tables against tmp-dir fixtures
    # whose fingerprints are never seen again — 80 orphan dirs / 30 MB
    # accumulated over two rounds. Each table dir carries a _SOURCE
    # sidecar naming its source parquet files; a dir whose sources no
    # longer exist (or that predates the sidecar) is dead weight and
    # removed. Dirs for live fixtures (other SFs) keep their sources
    # on disk and survive.
    _wh.gc_stale_tables(
        spark,
        wh,
        re.compile(r"^(orders|lineitem)_bkt_[0-9a-f]{12}$"),
        set(names),
        writer_tag,
    )

    for t, name, key in (
        ("orders", names[0], "o_orderkey"),
        ("lineitem", names[1], "l_orderkey"),
    ):

        def _build(t: str = t, name: str = name, key: str = key) -> None:
            (
                load(spark, sf_dir, t)
                .repartition(_N_BUCKETS, F.col(key))
                .write.bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )

        _wh.ensure_table(
            spark,
            name,
            wh,
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {_N_BUCKETS} BUCKETS",
            _build,
            writer_tag,
            srcs,
        )
    return names


_ORACLE_JOIN_BUCKETED = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       (floor((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5)
        / 100.0) AS revenue
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


@register("join_bucketed", _ORACLE_JOIN_BUCKETED, tags=("join", "bucketing"))
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join on CO-LOCATED BUCKETED tables — the
    100 TB-defining layout decision: both sides are written
    ``bucketBy(N, join_key)`` + ``sortBy`` so the sort-merge join
    consumes the bucket layout directly and the plan carries ZERO
    Exchange on the join key (plan-pinned in tests/test_plans.py).
    At warehouse scale this is the difference between re-shuffling
    the two biggest tables on every nightly join and never shuffling
    them at all — the shuffle is paid ONCE at write time and
    amortized over every downstream join on that key.

    The ``hint("merge")`` pins the strategy: at test scale orders is
    broadcast-sized, and a broadcast would silently skip the very
    machinery this key certifies (at 100 TB neither fact side fits a
    broadcast, so SMJ-over-buckets is the only plan).

    Hash parity: count/countDistinct are exact; revenue follows the
    repo's established float-sum-then-dround(2) discipline (same as
    ``join_shipping_priority``). The oracle re-derives from the FLAT
    parquet — a green hash proves the bucketed write+read round-trip
    dropped and duplicated nothing.
    """
    o_name, l_name = _ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(o_name).select("o_orderkey", "o_orderpriority")
    li = spark.table(l_name).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    j = o.hint("merge").join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# --- as-of join with a staleness tolerance (feature-store TTL) -------

# Max staleness before a carried match is discarded: 25 years in µs.
# Deliberately large — the fixture's events all post-date the order
# history by decades (events 2024, orders 1995–2001), so a
#"realistic" 30-day TTL would degenerate to all-NULL; 25 years
# splits the corpus ~98/2 fresh/stale, exercising both arms.
_ASOF_TOL_US = 25 * 365 * 86_400 * 1_000_000

_ORACLE_JOIN_ASOF_TOL = f"""
WITH e AS (
    SELECT event_id, user_id, ts,
           row_number() OVER (ORDER BY event_id, user_id, ts) AS rid
    FROM events
),
best AS (
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate
    FROM (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY e.rid
                   ORDER BY o.o_orderdate DESC NULLS LAST,
                            o.o_orderkey DESC NULLS LAST
               ) AS rn
        FROM e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) t
    WHERE rn = 1
)
SELECT event_id, user_id, ts,
       CASE WHEN fresh THEN o_orderkey END AS o_orderkey,
       CASE WHEN fresh THEN o_orderdate END AS o_orderdate,
       CASE WHEN fresh THEN CAST(lag_us AS BIGINT) END AS lag_us
FROM (
    SELECT *,
           epoch_us(ts) - epoch_us(o_orderdate) AS lag_us,
           o_orderdate IS NOT NULL AND ts IS NOT NULL
               AND epoch_us(ts) - epoch_us(o_orderdate)
                   <= {_ASOF_TOL_US} AS fresh
    FROM best
) f
"""


@register(
    "join_asof_tolerance", _ORACLE_JOIN_ASOF_TOL, tags=("join", "asof")
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a MAX-STALENESS bound — the feature-store TTL
    semantics: the latest at-or-before match only counts if it is
    fresh enough (here ≤ ``_ASOF_TOL_US``); a staler match is
    discarded and the event gets NULLs, exactly as if no match
    existed. A training pipeline uses this to refuse features whose
    snapshot is too old to be causally meaningful.

    Plan: the proven ``join_asof`` union-window core (ONE user-keyed
    shuffle, O(1) state, no join node) plus a stateless freshness
    projection on top — the tolerance adds ZERO shuffle. The naive
    alternative (join with a two-sided range predicate
    ``ts - tol <= date <= ts``) re-introduces the per-event history
    fan-out this formulation exists to avoid.

    Hash parity: lag is exact integer µs; NULL ts / no-match rows
    take the NULL arm on both engines.
    """
    base = join_asof(spark, sf_dir)
    lag = F.unix_micros("ts") - F.unix_micros("o_orderdate")
    ok = (
        F.col("o_orderdate").isNotNull()
        & F.col("ts").isNotNull()
        & (lag <= F.lit(_ASOF_TOL_US))
    )
    return base.select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, F.col("o_orderkey")).alias("o_orderkey"),
        F.when(ok, F.col("o_orderdate")).alias("o_orderdate"),
        F.when(ok, lag).cast("bigint").alias("lag_us"),
    )


# --- stream-stream interval join, batch twin (VERDICT r9 #3) ---------

_STREAM_IVL_MIN = 60  # clicks credit views from the preceding hour

_ORACLE_JOIN_STREAM_INTERVAL = f"""
WITH v AS (
    SELECT user_id, event_id AS view_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
),
c AS (
    SELECT user_id, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.click_id, c.click_ts, v.view_id, v.view_ts,
       {dround_sql(
           "CAST(date_diff('microsecond', v.view_ts, c.click_ts) "
           "AS DOUBLE) / 1000000.0", 6)} AS lag_sec
FROM c JOIN v ON c.user_id = v.user_id
WHERE v.view_ts < c.click_ts
  AND v.view_ts >= c.click_ts - INTERVAL {_STREAM_IVL_MIN} MINUTES
"""


@register(
    "join_stream_interval", _ORACLE_JOIN_STREAM_INTERVAL,
    tags=("join", "interval", "streaming-twin"),
)
def join_stream_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAM-STREAM interval join
    (streaming/windows.py ``clicks_after_views``): every click joined
    to the same user's views in the preceding 60 minutes — the full
    candidate pair space, unlike ``events_attribution`` which keeps
    only the last touch. The expression tree is shared with the
    streaming operator (imported, not copied), so the driver's hash
    gate certifies the exact semantics the watermarked streaming join
    executes; tests/test_streaming.py pins stream == batch on the
    replayed fixture.

    Scale: the join is CARRIED BY the user_id equi key (hash
    join/SMJ); the interval is a post-join predicate. In streaming
    the same condition's time bound is what lets the state store
    evict (state = one horizon's events per side); in batch at 100 TB
    the equi key shuffles both sides once — add the
    ``join_range_binned`` time-bucket key only when a single user's
    history outgrows a task.

    Hash parity: interval endpoints are exact µs timestamp
    comparisons; lag_sec divides the exact integer µs difference by
    1e6 and rounds once, identically on both sides. NULL ts fails the
    interval predicate and NULL user_id fails the equi join on both
    engines — no explicit filter needed.
    """
    from ..streaming.windows import clicks_after_views

    e = load(spark, sf_dir, "events")
    pairs = clicks_after_views(e, horizon=f"{_STREAM_IVL_MIN} minutes")
    lag_us = F.unix_micros("click_ts") - F.unix_micros("view_ts")
    return pairs.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "view_id",
        "view_ts",
        dround(lag_us.cast("double") / 1000000.0, 6).alias("lag_sec"),
    )


_ORACLE_EVENTS_VIEWS_UNCONVERTED = f"""
WITH v AS (
    SELECT user_id, event_id AS view_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
),
c AS (
    SELECT user_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
)
SELECT v.user_id, v.view_id, v.view_ts
FROM v
WHERE NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = v.user_id
      AND c.click_ts > v.view_ts
      AND c.click_ts <= v.view_ts + INTERVAL {_STREAM_IVL_MIN} MINUTES
)
"""


@register(
    "events_views_unconverted", _ORACLE_EVENTS_VIEWS_UNCONVERTED,
    tags=("join", "anti", "interval", "streaming-twin"),
)
def events_views_unconverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream LEFT OUTER interval join's
    NULL side (streaming/windows.py ``views_without_click``): views
    with NO click from the same user inside the following
    {_STREAM_IVL_MIN} minutes — the conversion-failure rows
    ``join_stream_interval`` (the inner join) structurally cannot
    emit, completing the batch-twin pair VERDICT r10 #5 asked for.
    In streaming, a view's verdict is emitted exactly when the
    watermark passes ``view_ts + horizon`` and the state store found
    no qualifying click; this anti join is the omniscient-batch
    statement of the same predicate, pinned equal to the replayed
    stream in tests/test_streaming.py.

    Scale: LEFT ANTI carried by the user_id equi key — one shuffle
    of each side, probe-side rows drop at the first match (no pair
    fan-out, no NULL-column materialization + filter pass the
    outer-join formulation would pay). The time bound is a post-join
    predicate batch-side and the state-eviction clock stream-side.

    Hash parity: exact µs timestamp comparisons, no floats. A NULL
    user_id or NULL ts view never matches the condition, so BOTH
    engines keep it (anti join keeps non-matches; NOT EXISTS over a
    NULL-failing predicate is TRUE) — the unconvertible rows are
    reported as unconverted, which is the honest reading.
    """
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    horizon = F.expr(f"INTERVAL {_STREAM_IVL_MIN} MINUTES")
    return views.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + horizon),
        "left_anti",
    )
