"""Time-window operators, batch formulations (SURVEY.md §2.9 T1–T3).

These are the oracle-checkable batch twins of the Structured
Streaming operators in ``streaming/`` — same logical semantics, so a
pipeline developed in batch promotes to ``readStream`` unchanged
(SURVEY.md §3.2: one algebra, two execution modes).

Alignment note: Spark's ``window()`` buckets align to the Unix epoch;
DuckDB's ``time_bucket`` to 2000-01-01 — both are multiples of the
bucket widths used here, so bucket starts coincide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load
from ..registry import register
from ..rounding import dround, dround_sql

# NULL event-time is unbucketable: Spark's window() DROPS NULL-ts
# rows while time_bucket(NULL) would group them under a NaT bucket,
# so the contract (pinned by the adversarial NULL-ts sweep row) is
# "no timestamp, no window" — the Structured Streaming semantic.
_ORACLE_WIN_TUMBLING = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (floor((SUM(value)) * 100.0 + 0.5) / 100.0) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@register("win_tumbling", _ORACLE_WIN_TUMBLING, tags=("temporal",))
def win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — 10-minute tumbling window count/sum per event type.

    Scale: ``window()`` is a plain projection (bucket = floor(ts)) +
    hash aggregate — partial agg collapses each partition to
    #buckets×#types rows before the shuffle. One expression tree with
    the streaming twin ``streaming.windows.tumbling_counts`` (the
    ``ohlc_aggregate`` rule), applied here to the batch table.
    """
    from ..streaming.windows import tumbling_counts

    return tumbling_counts(load(spark, sf_dir, "events"))


_ORACLE_WIN_SLIDING = """
WITH assigned AS (
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start, value
    FROM events WHERE ts IS NOT NULL
    UNION ALL
    SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS bucket_start, value
    FROM events WHERE ts IS NOT NULL
)
SELECT bucket_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (floor((SUM(value)) * 100.0 + 0.5) / 100.0) AS sum_value
FROM assigned
GROUP BY bucket_start
"""


@register("win_sliding", _ORACLE_WIN_SLIDING, tags=("temporal",))
def win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — sliding window (10 min length, 5 min slide).

    Each event lands in exactly length/slide = 2 windows; Spark's
    ``window()`` expands rows accordingly (the oracle mirrors this
    with a 2-way UNION ALL of shifted 5-min buckets).

    Scale: row expansion factor = length/slide — keep it small;
    aggregate state is per-bucket, merged map-side. One expression
    tree with the streaming twin ``streaming.windows.sliding_sums``.
    """
    from ..streaming.windows import sliding_sums

    return sliding_sums(load(spark, sf_dir, "events"))


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

_ORACLE_WIN_SESSION = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts) > {_SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
), sess AS (
    SELECT user_id, ts, value,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       (floor((SUM(value)) * 100.0 + 0.5) / 100.0) AS session_value
FROM sess
GROUP BY user_id, session_seq
"""


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with their 30-minute-gap session id attached: gap-flag
    via lag, session id via running sum — the shared sessionization
    both ``win_session`` and ``events_session_stats`` aggregate over.

    Both windows partition by user_id, so Spark plans ONE shuffle and
    reuses the partitioning for the second window and any downstream
    user-keyed groupBy."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc_nulls_first())
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = e.withColumn(
        "new_sess",
        F.when(gap_us.isNull() | (gap_us > _SESSION_GAP_US), 1).otherwise(0),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


@register("win_session", _ORACLE_WIN_SESSION, tags=("temporal", "session"))
def win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — session windows (30-minute inactivity gap) per user,
    batch formulation via the shared ``_sessionized`` helper.

    Streaming twin: ``session_window('ts', '30 minutes')`` in
    ``streaming/windows.py`` — same session boundaries.

    Scale: two windows + final aggregate, all partitioned by
    user_id → one shuffle total (Spark reuses the partitioning
    across the window and groupBy stages).
    """
    sess = _sessionized(spark, sf_dir)
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dround(F.sum("value"), 2).alias("session_value"),
    )


_ORACLE_EVENTS_FUNNEL = """
WITH v AS (
    SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t1
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
    GROUP BY e.user_id
)
SELECT 1 AS stage_no, 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
UNION ALL
SELECT 2, 'view>click', CAST(COUNT(*) AS BIGINT) FROM c
UNION ALL
SELECT 3, 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM p
"""


@register("events_funnel", _ORACLE_EVENTS_FUNNEL, tags=("temporal", "funnel"))
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who viewed, then clicked AFTER
    the first view, then purchased AFTER that click — the classic
    product-analytics sequence match, as three staged min-aggregations
    (no per-user event sorting, no UDF).

    Scale: each stage is one filtered aggregation joined to the
    previous stage's (user_id, min_ts) — the join key is the user,
    every stage's output is ≤ one row per user, and each stage's
    input is pre-filtered to ONE event type before the shuffle. An
    N-stage funnel is N cheap hash joins, not a per-user sort of the
    full event history (which at 100 TB would shuffle everything).
    """
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, no: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.col("n_users"),
        )

    return (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "view>click"))
        .unionByName(stage(p, 3, "view>click>purchase"))
    )


_ORACLE_ROLLUP_MULTIRES = """
SELECT res, bucket_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (floor((SUM(value)) * 100.0 + 0.5) / 100.0) AS sum_value
FROM (
    SELECT 'minute' AS res, date_trunc('minute', ts) AS bucket_start, event_type, value FROM events
    UNION ALL
    SELECT 'hour', date_trunc('hour', ts), event_type, value FROM events
    UNION ALL
    SELECT 'day', date_trunc('day', ts), event_type, value FROM events
)
GROUP BY res, bucket_start, event_type
"""


@register("rollup_multires", _ORACLE_ROLLUP_MULTIRES, tags=("temporal", "rollup"))
def rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: minute, hour, and
    day aggregates of the event stream in ONE scan and ONE shuffle.

    Each row is fanned out to its (resolution, truncated-bucket)
    pairs with a single explode — not a UNION of three scans, which
    would read and shuffle the table three times (the same
    plan-subtree-recompute trap as LSH banding). Partial aggregation
    still collapses each partition before the exchange, so shuffle
    volume is O(buckets), not O(events × resolutions).

    At 100 TB this is the continuous-aggregate maintenance job of a
    timeseries store: run it per ingest window and MERGE into the
    rollup table; query-time resolution picking is then a partition
    filter on ``res``.
    """
    e = load(spark, sf_dir, "events")
    fanout = F.array(
        *[
            F.struct(
                F.lit(res).alias("res"),
                F.date_trunc(res, F.col("ts")).alias("bucket_start"),
            )
            for res in ("minute", "hour", "day")
        ]
    )
    return (
        e.select("event_type", "value", F.explode(fanout).alias("rb"))
        .groupBy(
            F.col("rb.res").alias("res"),
            F.col("rb.bucket_start").alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- cohort retention ----------------------------------------------

_ORACLE_EVENTS_RETENTION = """
WITH firsts AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id, f.cohort_date,
           date_diff('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_offset
    FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_date AS VARCHAR) AS cohort_date,
       CAST(day_offset AS INT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM activity
GROUP BY cohort_date, day_offset
"""


@register("events_retention", _ORACLE_EVENTS_RETENTION, tags=("temporal", "cohort"))
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen date, and
    for each (cohort, day-offset) cell the count of users active that
    many days after joining — the standard product-analytics rollup a
    pipeline materializes from the event stream.

    Scale: the cohort table is one row per user (megabytes at any
    event volume) so it BROADCASTS; the big side then needs one
    groupBy for the distinct-activity set and one for the matrix —
    both keyed on (user, offset)/(cohort, offset), both combiner-
    friendly. The event stream itself is never shuffled by a
    high-cardinality key.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = e.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    activity = (
        e.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_date",
            F.datediff("d", "cohort_date").cast("int").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        # DATE-typed outputs canonicalize differently across pandas
        # bridges -> serialize as ISO string on both sides (same
        # convention as fn_date).
        .select(
            F.col("cohort_date").cast("string").alias("cohort_date"),
            "day_offset",
            "n_users",
        )
    )


# --- event-type transition counts (behavioral paths) ---------------

_ORACLE_EVENTS_PATHS = """
WITH ordered AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
           ) AS next_type
    FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM ordered
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@register("events_paths", _ORACLE_EVENTS_PATHS, tags=("temporal", "sequence"))
def events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts (the first-order Markov chain of
    user behavior): for each consecutive pair of events per user, count
    (from_type -> to_type). Feeds funnel diagnostics and
    next-action models.

    Scale: one window shuffle on user_id (deterministic ordering by
    ts + event_id tie-break), then a 25-row aggregate — partial
    aggregation collapses each partition to the transition-matrix
    size before the final shuffle.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc_nulls_first()
    )
    return (
        e.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# --- gaps-and-islands: activity streaks ----------------------------

_ORACLE_WIN_STREAK = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
grp AS (
    SELECT user_id, d,
           d - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY d ASC
           ) AS INTEGER) AS anchor
    FROM days
),
runs AS (
    SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS run_len
    FROM grp GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak,
       CAST(SUM(run_len) AS BIGINT) AS n_active_days
FROM runs
GROUP BY user_id
"""


@register("win_streak", _ORACLE_WIN_STREAK, tags=("temporal", "window"))
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands idiom: consecutive dates share the constant
    anchor ``date - row_number`` (each gap shifts the anchor), so a
    streak is a (user, anchor) group.

    Scale: distinct (user, day) first — that collapses the event
    stream to at most users × days rows before any window; then one
    window and two small aggregates, all partitioned on user_id. No
    self-join formulation (the naive gaps-and-islands join is
    quadratic in days-per-user).
    """
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy(F.col("d").asc())
    grp = days.select(
        "user_id",
        F.date_sub("d", F.row_number().over(w)).alias("anchor"),
    )
    runs = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.sum("run_len").alias("n_active_days"),
    )


# --- per-type z-score outliers --------------------------------------

_ORACLE_EVENTS_ANOMALY = """
WITH stats AS (
    SELECT event_type,
           AVG(value) AS mu,
           stddev_samp(value) AS sd
    FROM events
    GROUP BY event_type
)
SELECT e.event_id,
       e.event_type,
       (floor(e.value * 100.0 + 0.5) / 100.0) AS value,
       (floor(((e.value - s.mu) / s.sd) * 10000.0 + 0.5) / 10000.0) AS z
FROM events e
JOIN stats s ON e.event_type = s.event_type
WHERE abs((floor(((e.value - s.mu) / s.sd) * 10000.0 + 0.5) / 10000.0)) > 2.0
"""


@register("events_anomaly", _ORACLE_EVENTS_ANOMALY, tags=("temporal", "quality"))
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection: events whose value sits
    more than 2σ from their type's mean — the cheap statistical gate a
    pipeline runs before alerting or discarding telemetry.

    Scale: the stats table is one row per event type (bytes), so it
    BROADCASTS back onto the stream; the only shuffle is the partial
    aggregation of #types × #partitions rows. The event stream itself
    is never shuffled — this is the same broadcast-stats shape as
    ``events_retention``.

    Hash parity: the 2σ membership test runs on the ROUNDED z on both
    engines — the raw z differs in trailing ulps across engines
    (parallel vs sequential float summation in avg/stddev), and a
    knife-edge row flipping in or out of the filter would change the
    row count, not just a cell. Rounding first collapses both engines
    to the same 1e-4 grid before the comparison.
    """
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    # a constant-valued type has sd = 0: under ANSI mode the raw
    # division would throw DIVIDE_BY_ZERO and kill the job, while
    # DuckDB yields NULL for 0/0 and drops the rows at the filter —
    # the explicit guard gives NULL z, which the |z|>2 filter drops
    # on both engines identically (no outliers in a constant group).
    z = dround(
        F.when(
            F.col("sd") != 0.0, (F.col("value") - F.col("mu")) / F.col("sd")
        ),
        4,
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            dround("value", 2).alias("value"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 2.0)
    )


# --- rolling 7-day distinct users -----------------------------------

_ORACLE_EVENTS_DAU_ROLLING = """
WITH daily AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
dau AS (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM daily GROUP BY d
),
wau AS (
    SELECT dau.d, CAST(COUNT(DISTINCT daily.user_id) AS BIGINT) AS wau_7d
    FROM dau
    JOIN daily ON daily.d BETWEEN dau.d - 6 AND dau.d
    GROUP BY dau.d
)
SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, wau.wau_7d
FROM dau JOIN wau ON dau.d = wau.d
"""


@register("events_dau_rolling", _ORACLE_EVENTS_DAU_ROLLING, tags=("temporal",))
def events_dau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users plus 7-day rolling distinct users (DAU/WAU)
    — the canonical engagement rollup, and the one sliding-window
    metric a plain window frame CANNOT express (COUNT(DISTINCT) over a
    RANGE frame is unsupported in both engines).

    Scale: the standard trick — dedup to (user, day) once, then each
    row CONTRIBUTES itself to the ≤7 window-ends it can influence via
    one ``explode(sequence(d, d+6))``. Shuffle volume is 7× the daily-
    active table (users × days, tiny next to raw events), never a
    self-join of the event stream against itself. The observed-days
    filter is a broadcast semi-join on a ≤#days-row table.
    """
    e = load(spark, sf_dir, "events")
    # daily feeds both the DAU agg and the contribution explode —
    # materialize it once or each consumer re-scans + re-dedups the
    # raw events (the multi-consumer recompute trap, dedup.py:554).
    daily = (
        e.select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .localCheckpoint()
    )
    dau = daily.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    contrib = daily.select(
        "user_id",
        F.explode(F.sequence("d", F.date_add("d", 6))).alias("w"),
    )
    wau = (
        contrib.join(
            F.broadcast(dau.select(F.col("d").alias("w"))), "w", "left_semi"
        )
        .groupBy("w")
        .agg(F.countDistinct("user_id").alias("wau_7d"))
    )
    return (
        dau.join(wau, dau.d == wau.w)
        # DATE-typed outputs canonicalize differently across pandas
        # bridges -> ISO string on both sides (events_retention rule).
        .select(F.col("d").cast("string").alias("day"), "dau", "wau_7d")
    )


# --- per-user lifecycle / dormancy ----------------------------------

_ORACLE_EVENTS_LIFECYCLE = """
WITH pu AS (
    SELECT user_id,
           MIN(CAST(ts AS DATE)) AS first_seen,
           MAX(CAST(ts AS DATE)) AS last_seen,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days
    FROM events
    GROUP BY user_id
),
m AS (SELECT MAX(last_seen) AS global_max FROM pu)
SELECT pu.user_id,
       CAST(pu.first_seen AS VARCHAR) AS first_seen,
       CAST(pu.last_seen AS VARCHAR) AS last_seen,
       pu.n_events,
       pu.n_active_days,
       CAST(date_diff('day', pu.last_seen, m.global_max) AS INT)
           AS days_inactive,
       CAST(date_diff('day', pu.last_seen, m.global_max) >= 1 AS INT)
           AS is_dormant
FROM pu, m
"""


@register("events_user_lifecycle", _ORACLE_EVENTS_LIFECYCLE, tags=("temporal",))
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifecycle ledger: first/last activity, event and
    active-day counts, days inactive vs the corpus horizon, and a
    dormancy flag — the churn-analysis base table a pipeline
    materializes from the raw stream.

    Scale: one groupBy(user_id) with all-exact aggregates (dates and
    counts — no float parity risk anywhere), then the 1-row global
    horizon broadcast back via cross join; the event stream shuffles
    once, keyed by user.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    pu = e.groupBy("user_id").agg(
        F.min("d").alias("first_seen"),
        F.max("d").alias("last_seen"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("d").cast("bigint").alias("n_active_days"),
    )
    m = pu.agg(F.max("last_seen").alias("global_max"))
    inactive = F.datediff("global_max", "last_seen").cast("int")
    return (
        pu.crossJoin(F.broadcast(m))
        .select(
            "user_id",
            F.col("first_seen").cast("string").alias("first_seen"),
            F.col("last_seen").cast("string").alias("last_seen"),
            "n_events",
            "n_active_days",
            inactive.alias("days_inactive"),
            (inactive >= 1).cast("int").alias("is_dormant"),
        )
    )


# --- per-user behavioral entropy ------------------------------------

_ORACLE_EVENTS_ENTROPY = f"""
WITH ct AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type
),
tot AS (
    SELECT user_id, event_type, n,
           SUM(n) OVER (PARTITION BY user_id) AS total
    FROM ct
)
SELECT user_id,
       CAST(MAX(total) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       {dround_sql('-SUM((n / CAST(total AS DOUBLE)) * ln(n / CAST(total AS DOUBLE)))', 6)}
           AS entropy,
       CASE WHEN COUNT(*) > 1 THEN
           {dround_sql('-SUM((n / CAST(total AS DOUBLE)) * ln(n / CAST(total AS DOUBLE))) / ln(CAST(COUNT(*) AS DOUBLE))', 6)}
       ELSE 0.0 END AS norm_entropy
FROM tot
GROUP BY user_id
"""


@register("events_entropy", _ORACLE_EVENTS_ENTROPY, tags=("temporal",))
def events_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution (plus
    the ln(k)-normalized variant) — the behavioral-diversity score
    that separates single-action bots (entropy 0) from organic users,
    and a standard feature for engagement segmentation.

    Scale: the raw stream is collapsed map-side by the (user, type)
    partial aggregate BEFORE its shuffle, so the first exchange
    carries combiner-compressed counts, and every later stage (the
    user total window, the entropy rollup) operates on the ct table —
    #users × #types rows, orders of magnitude below the event count.
    Deliberately NOT forced to one shuffle: repartitioning by user_id
    first would make the single exchange carry raw, un-combined
    events — strictly worse at 100 TB than two exchanges of
    aggregated rows (pinned in tests/test_plans.py).

    Hash parity: p = n/total is exact-integer division (bit-
    identical); the ln ulp and the unordered Σ p·ln p are absorbed by
    the 1e-6 grid (the text_perplexity_proxy precedent). The
    normalized variant guards k=1 with an exact CASE — ln(1)=0 would
    be a DIVIDE_BY_ZERO under ANSI mode (the events_anomaly rule).
    """
    e = load(spark, sf_dir, "events").select("user_id", "event_type")
    ct = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = ct.withColumn(
        "total", F.sum("n").over(Window.partitionBy("user_id"))
    )
    p = F.col("n") / F.col("total").cast("double")
    ent = -F.sum(p * F.log(p))
    k = F.count(F.lit(1))
    return tot.groupBy("user_id").agg(
        F.max("total").cast("bigint").alias("n_events"),
        k.cast("bigint").alias("n_types"),
        dround(ent, 6).alias("entropy"),
        F.when(k > 1, dround(ent / F.log(k.cast("double")), 6))
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


# --- session-duration statistics ------------------------------------

_ORACLE_EVENTS_SESSION_STATS = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts) > {_SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
), sess AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM flagged
), per_sess AS (
    SELECT user_id, session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           date_diff('microsecond', MIN(ts), MAX(ts)) AS dur_us
    FROM sess GROUP BY user_id, session_seq
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       {dround_sql('CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 6)}
           AS avg_session_events,
       {dround_sql('(CAST(SUM(dur_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1000000.0', 6)}
           AS avg_session_sec,
       {dround_sql('CAST(MAX(dur_us) AS DOUBLE) / 1000000.0', 6)}
           AS max_session_sec,
       {dround_sql('CAST(SUM(dur_us) AS DOUBLE) / 1000000.0', 6)}
           AS total_active_sec
FROM per_sess
GROUP BY user_id
"""


@register(
    "events_session_stats", _ORACLE_EVENTS_SESSION_STATS,
    tags=("temporal", "session"),
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session-duration ledger over 30-minute-gap sessions:
    session count, events per session, mean/max/total session length
    — the engagement-depth rollup dashboards and cohort models read
    instead of the raw session table.

    Scale: rides the shared ``_sessionized`` helper; both its windows,
    the per-session groupBy, and the per-user groupBy all key on
    user_id, so the event stream shuffles ONCE and every later stage
    reuses the partitioning.

    Hash parity: durations are exact microsecond integers
    (unix_micros diff), so every aggregate is an integer sum/max
    divided ONCE as double in the identical formula shape on both
    engines — no order-sensitive float accumulation anywhere; the
    1e-6 rounding is belt-and-suspenders only.
    """
    per_sess = (
        _sessionized(spark, sf_dir)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("dur_us"),
        )
    )
    n_sess = F.count(F.lit(1))
    return per_sess.groupBy("user_id").agg(
        n_sess.cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        dround(
            F.sum("n_events").cast("double") / n_sess.cast("double"), 6
        ).alias("avg_session_events"),
        dround(
            (F.sum("dur_us").cast("double") / n_sess.cast("double"))
            / 1000000.0,
            6,
        ).alias("avg_session_sec"),
        dround(F.max("dur_us").cast("double") / 1000000.0, 6).alias(
            "max_session_sec"
        ),
        dround(F.sum("dur_us").cast("double") / 1000000.0, 6).alias(
            "total_active_sec"
        ),
    )


# --- inter-arrival gap statistics -----------------------------------

_ORACLE_EVENTS_INTER_ARRIVAL = f"""
WITH gaps AS (
    SELECT user_id,
           date_diff('microsecond', LAG(ts) OVER w, ts) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
)
SELECT user_id,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       {dround_sql('CAST(MIN(gap_us) AS DOUBLE) / 1000000.0', 6)}
           AS min_gap_sec,
       {dround_sql('CAST(MAX(gap_us) AS DOUBLE) / 1000000.0', 6)}
           AS max_gap_sec,
       {dround_sql('(CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(gap_us) AS DOUBLE)) / 1000000.0', 6)}
           AS avg_gap_sec
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


@register(
    "events_inter_arrival", _ORACLE_EVENTS_INTER_ARRIVAL,
    tags=("temporal",),
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: count/min/max/mean of the
    gap between consecutive events — the cadence profile that feeds
    bot detection (impossibly regular gaps), engagement scoring, and
    the empirical basis for choosing the session gap threshold that
    ``_sessionized`` hard-codes.

    Scale: lag window and rollup both key on user_id — ONE shuffle,
    partitioning reused (the events_session_stats pattern); per-user
    state is O(1).

    Hash parity: gaps are exact microsecond integers; min/max/sum are
    order-insensitive integer aggregates divided once as double in
    the identical formula shape (events_session_stats rule). First
    event per user has a NULL gap, excluded identically on both
    sides.
    """
    e = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc_nulls_first()
    )
    gaps = e.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    cnt = F.count("gap_us")
    return gaps.groupBy("user_id").agg(
        cnt.cast("bigint").alias("n_gaps"),
        dround(F.min("gap_us").cast("double") / 1000000.0, 6).alias(
            "min_gap_sec"
        ),
        dround(F.max("gap_us").cast("double") / 1000000.0, 6).alias(
            "max_gap_sec"
        ),
        dround(
            (F.sum("gap_us").cast("double") / cnt.cast("double"))
            / 1000000.0,
            6,
        ).alias("avg_gap_sec"),
    )


# --- last-touch attribution -----------------------------------------

_ATTR_LOOKBACK_US = 12 * 3600 * 1_000_000  # 12-hour attribution window

_ORACLE_EVENTS_ATTRIBUTION = f"""
SELECT purchase_id, user_id, purchase_ts, view_id, view_ts, age_sec
FROM (
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS view_id, v.ts AS view_ts,
           CAST(date_diff('microsecond', v.ts, p.ts) AS DOUBLE)
               / 1000000.0 AS age_sec,
           ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST
           ) AS rn
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND date_diff('microsecond', v.ts, p.ts) <= {_ATTR_LOOKBACK_US}
) t
WHERE rn = 1
"""


@register(
    "events_attribution", _ORACLE_EVENTS_ATTRIBUTION,
    tags=("temporal", "asof"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase joined to the user's
    most recent view within a 12-hour lookback — the as-of-join-with-
    tolerance every marketing/conversion pipeline runs, and the
    tolerance-bounded variant of ``join_asof``'s semantics.

    Same join-free union-timeline design as ``join_asof`` (which the
    round-1 VERDICT forced after the naive equi-join fanned out per
    event × full history): ONE pass over events, a per-user running
    ``max(struct(ts, event_id))`` carry over view rows only, then the
    lookback applied as a POST-FILTER on the carried value — a stale
    carry nulls out rather than reaching back unboundedly, so state
    stays O(1) per row and no join node exists in the plan
    (plan-asserted).

    Hash parity: the carry's struct max is (latest ts, then largest
    event_id) — exactly the oracle's DESC/DESC tie-break; views
    sort before purchases at equal timestamps (is_view desc) to make
    the match inclusive; age_sec is an exact µs integer divided once.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    is_view = (F.col("event_type") == "view").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(), is_view.desc(), F.col("event_id").asc_nulls_first()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = e.withColumn(
        "last_view",
        F.max(
            F.when(
                F.col("event_type") == "view",
                F.struct(F.col("ts").alias("v_ts"),
                         F.col("event_id").alias("v_id")),
            )
        ).over(w),
    )
    age_us = F.unix_micros("ts") - F.unix_micros("last_view.v_ts")
    fresh = F.col("last_view").isNotNull() & (age_us <= _ATTR_LOOKBACK_US)
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(fresh, F.col("last_view.v_id")).alias("view_id"),
            F.when(fresh, F.col("last_view.v_ts")).alias("view_ts"),
            F.when(fresh, age_us.cast("double") / 1000000.0).alias(
                "age_sec"
            ),
        )
    )


# --- session-level co-occurrence (market basket) --------------------

_ORACLE_EVENTS_COOCCURRENCE = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('microsecond', LAG(ts) OVER w, ts) > {_SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
), sess AS (
    SELECT user_id, event_type,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM flagged
), st AS (
    SELECT DISTINCT user_id, session_seq, event_type FROM sess
), n AS (
    SELECT CAST(COUNT(DISTINCT (user_id, session_seq)) AS BIGINT)
        AS n_sessions
    FROM st
), singles AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sess
    FROM st GROUP BY event_type
), pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM st a
    JOIN st b ON a.user_id = b.user_id
             AND a.session_seq = b.session_seq
             AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both,
       sa.n_sess AS n_a, sb.n_sess AS n_b,
       {dround_sql('CAST(p.n_both AS DOUBLE) / CAST(n.n_sessions AS DOUBLE)', 6)}
           AS support,
       {dround_sql('(CAST(p.n_both AS DOUBLE) * CAST(n.n_sessions AS DOUBLE)) / (CAST(sa.n_sess AS DOUBLE) * CAST(sb.n_sess AS DOUBLE))', 6)}
           AS lift
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
CROSS JOIN n
"""


@register(
    "events_cooccurrence", _ORACLE_EVENTS_COOCCURRENCE,
    tags=("temporal", "session"),
)
def events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level event-type co-occurrence with support and lift —
    the market-basket table over behavioral sessions that surfaces
    which actions travel together (lift ≫ 1) and which repel
    (lift ≪ 1), feeding recommendation heuristics and funnel design.

    Scale: the self-join keys on the SESSION (user_id, session_seq)
    over the DISTINCT session-type table, so per-session fan-out is
    C(#types-in-session, 2) — bounded by the event-type cardinality,
    never by session length; a million-event bot session contributes
    the same ≤C(k,2) pairs as a 10-event one. The type-count tables
    are cardinality-sized and BROADCAST back onto the pairs.

    Hash parity: all counts are exact integers; support and lift are
    divided once as double in the identical formula shape
    (events_session_stats rule).
    """
    # st feeds FOUR plan subtrees (the session count, the per-type
    # singles, and both sides of the pair self-join): without a cut,
    # each consumer re-executes the two sessionization windows over
    # the full event stream — measured 19x wall on 10x data in the
    # round-11 stress sweep (4 recomputes of a 10x window), 2.3x
    # after this checkpoint. The shingle-index rule, applied here.
    st = (
        _sessionized(spark, sf_dir)
        .select("user_id", "session_seq", "event_type")
        .distinct()
        .localCheckpoint()
    )
    n = st.select("user_id", "session_seq").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    singles = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sess")
    )
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_seq") == F.col("b.session_seq"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = singles.alias("sa")
    sb = singles.alias("sb")
    return (
        pairs.join(
            F.broadcast(sa), F.col("type_a") == F.col("sa.event_type")
        )
        .join(F.broadcast(sb), F.col("type_b") == F.col("sb.event_type"))
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.col("sa.n_sess").alias("n_a"),
            F.col("sb.n_sess").alias("n_b"),
            dround(
                F.col("n_both").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            ).alias("support"),
            dround(
                (
                    F.col("n_both").cast("double")
                    * F.col("n_sessions").cast("double")
                )
                / (
                    F.col("sa.n_sess").cast("double")
                    * F.col("sb.n_sess").cast("double")
                ),
                6,
            ).alias("lift"),
        )
    )


# --- RFM segmentation ----------------------------------------------

_ORACLE_EVENTS_RFM = """
WITH pu AS (
    SELECT user_id,
           MAX(CAST(ts AS DATE)) AS last_purchase,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           (floor((SUM(value)) * 100.0 + 0.5) / 100.0) AS monetary
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
),
m AS (SELECT MAX(last_purchase) AS global_max FROM pu),
scored AS (
    SELECT user_id, frequency, monetary,
           CAST(date_diff('day', last_purchase, m.global_max) AS BIGINT)
               AS recency_days,
           NTILE(4) OVER (
               ORDER BY date_diff('day', last_purchase, m.global_max) DESC,
                        user_id ASC
           ) AS r_score,
           NTILE(4) OVER (ORDER BY frequency ASC, user_id ASC) AS f_score,
           NTILE(4) OVER (ORDER BY monetary ASC NULLS FIRST, user_id ASC)
               AS m_score
    FROM pu, m
)
SELECT CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       (floor((AVG(monetary)) * 10000.0 + 0.5) / 10000.0) AS avg_monetary,
       (floor((SUM(monetary)) * 100.0 + 0.5) / 100.0) AS total_monetary
FROM scored
GROUP BY r_score, f_score, m_score
"""


@register("events_rfm", _ORACLE_EVENTS_RFM, tags=("temporal", "analytics"))
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles,
    4 = best on every axis) of purchasing users, reported as the
    segment grid with population and spend — the classic marketing
    cube, here as the deterministic batch job (quartile boundaries
    are data-driven, tie-broken by user_id so re-runs and engines
    agree on every boundary user).

    Scale: the events-sized work is ONE user-keyed groupBy with
    map-side combine; the three NTILE windows then run over the
    per-user aggregate — three single-partition sorts of one row per
    purchasing user. At extreme user cardinality each axis swaps
    onto the distributed two-level rank that ``win_ntile`` already
    ships (``operators.prefix.with_global_prefix`` +
    ``ntile_from_rank`` — same exact integers, proven on the
    single-axis keys); it is NOT the default here because the
    three-axis chain costs ~25 stages of scheduling overhead for a
    frame that is orders of magnitude below the fact table (measured
    12.4 s chained / 4.3 s checkpointed vs 0.5 s at sf0.1 — the
    r12 close ledger; RE-measured per VERDICT r12 #6 with the base
    localCheckpointed once + AQE exchange reuse: 5.49 s min-of-5 vs
    0.53 s — the park stands), and the segment grid itself is ≤64
    rows. The 1-row horizon broadcasts back via cross join.

    Hash parity: recency is exact DATE arithmetic; per-user monetary
    is rounded 1e-2 BEFORE it feeds both the ordering and the
    segment sums (the agg_pareto discipline — cross-engine summation
    noise below a cent cannot flip a quartile boundary or the
    reported totals).
    """
    ev = load(spark, sf_dir, "events")
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_purchase"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            dround(F.sum("value"), 2).alias("monetary"),
        )
    )
    m = pu.agg(F.max("last_purchase").alias("global_max"))
    scored = pu.crossJoin(F.broadcast(m)).withColumn(
        "recency_days",
        F.datediff(F.col("global_max"), F.col("last_purchase")).cast("bigint"),
    )
    w_r = Window.orderBy(F.col("recency_days").desc(), F.col("user_id").asc())
    w_f = Window.orderBy(F.col("frequency").asc(), F.col("user_id").asc())
    w_m = Window.orderBy(F.col("monetary").asc(), F.col("user_id").asc())
    return (
        scored.select(
            "user_id",
            "monetary",
            F.ntile(4).over(w_r).alias("r_score"),
            F.ntile(4).over(w_f).alias("f_score"),
            F.ntile(4).over(w_m).alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            dround(F.avg("monetary"), 4).alias("avg_monetary"),
            dround(F.sum("monetary"), 2).alias("total_monetary"),
        )
    )


# --- OHLC resampling (time-series bars) -----------------------------

# The argmin/argmax struct carries a NULL-flag field BEFORE every
# nullable field it might have to compare (idn before id, vn before
# v): if two rows tie on ts where one has a NULL event_id — duplicate
# event ids are out of contract (dedup_events exists to remove them)
# but reachable, and a NULL id is plain nullable-column reality — the
# engines would otherwise decide the tie on the NULL field itself,
# where Spark orders NULL struct fields first and DuckDB last. Each
# flag is a never-NULL int, so every comparison either resolves on a
# flag or compares two non-NULLs — engine-free, arbitrary but
# DETERMINISTIC (ADVICE r4: the vn treatment, applied one field
# earlier to id as well).
#
# sum_value is summed in exact integer centi-units per row (the
# agg_top_revenue discipline): float addition is non-associative, so
# rounding a double SUM after the fact lets Spark's partition-order
# partials land an ulp away from DuckDB's sequential sum and flip the
# final cent at scale. floor(v*100+0.5) per row is exact BIGINT; the
# one division by 100.0 at the end is deterministic IEEE.
#
# INVARIANT (ADVICE r5): per-row cent rounding is LOSSLESS only
# because events.value is cent-aligned — verified against the fixture
# (10000/10000 values at sf0.01 satisfy v*100 == round(v*100); min
# 0.01) — so floor(v*100+0.5) is the identity in cents and the total
# is the exact sum. For a feed that is NOT cent-aligned this would
# quantize per row (250 × 0.004 → 0.00, not 1.00); there, sum exact
# integer MICRO-units per row (floor(v*1e6+0.5) BIGINT), round the
# one integer total to cents, and change the oracle in the same
# commit — determinism without per-row quantization loss.
_ORACLE_EVENTS_OHLC = """
SELECT time_bucket(INTERVAL '30 minutes', ts) AS bar_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (MIN(struct_pack(ts := ts,
                        idn := CAST(event_id IS NULL AS INT), id := event_id,
                        vn := CAST(value IS NULL AS INT), v := value))).v
           AS open_value,
       (MAX(struct_pack(ts := ts,
                        idn := CAST(event_id IS NULL AS INT), id := event_id,
                        vn := CAST(value IS NULL AS INT), v := value))).v
           AS close_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
           AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def ohlc_aggregate(events: DataFrame) -> DataFrame:
    """The ONE OHLC aggregation expression tree, shared by the batch
    ``events_ohlc`` operator and the streaming ``ohlc_bars`` twin —
    a drifted copy would silently miss the next tie-break or
    rounding fix (the ``_candidate_jaccard`` rule). Caller provides
    an events-shaped frame (batch or watermarked stream).
    """
    val_cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    pair = F.struct(
        F.col("ts"),
        F.col("event_id").isNull().cast("int").alias("idn"),
        F.col("event_id").alias("id"),
        F.col("value").isNull().cast("int").alias("vn"),
        F.col("value").alias("v"),
    )
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min(pair).getField("v").alias("open_value"),
            F.max(pair).getField("v").alias("close_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            (F.sum(val_cents).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bar_start"),
            "event_type",
            "n_events",
            "open_value",
            "close_value",
            "high_value",
            "low_value",
            "sum_value",
        )
    )


@register("events_ohlc", _ORACLE_EVENTS_OHLC, tags=("temporal", "timeseries"))
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling into OHLC bars — per (30-minute bar,
    event type): open/close (first/last value by event time), the
    high/low extremes, count, and rounded sum. The classic
    downsampler every metrics/monitoring/trading pipeline runs
    between raw events and dashboards; the streaming twin is the
    same aggregation under a watermark (``streaming/windows.py``
    rule — the algebra is mode-agnostic).

    Scale: one projection + one single-pass aggregate with map-side
    combine (SortAggregate — struct-valued min/max state rules out
    the hash-agg buffer, exactly as in ``agg_minmax_by``); each
    partition collapses to #bars × #types rows before the ONE
    shuffle — the ``win_tumbling`` cost envelope with argmin/argmax
    semantics riding the same pass, never a window sort or
    self-join.

    Determinism under ties (the ``agg_minmax_by`` rule): open/close
    are MIN/MAX over the lexicographic (ts, idn, event_id, vn, value)
    STRUCT — NULL-flag ints ahead of each nullable field, so equal
    timestamps resolve by event_id on both engines even when an id is
    NULL — ``first_value`` over an under-specified sort would be
    engine-arbitrary. high/low/count are exact picks; sum_value is
    summed in exact integer cents per row (never a rounded double
    SUM — partition-order float addition could flip the last cent);
    lossless because the value feed is cent-aligned (fixture-verified
    invariant — see the oracle comment for the micro-unit recipe a
    non-cent-aligned feed needs).
    NULL-timestamp rows are excluded symmetrically (Spark's
    ``window()`` drops them silently; the oracle must not group
    them under a NULL bar).
    """
    return ohlc_aggregate(load(spark, sf_dir, "events"))


# --- interval concurrency (sweep-line peak occupancy) ---------------

_CONC_ACTIVE = "10 minutes"  # each event is "active" for this long

_ORACLE_EVENTS_PEAK_CONCURRENCY = f"""
WITH pts AS (
    SELECT event_type, ts AS t, 1 AS ds, 0 AS de
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    UNION ALL
    SELECT event_type, ts + INTERVAL '{_CONC_ACTIVE}', 0, 1
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
agg AS (
    SELECT event_type, t,
           CAST(SUM(ds) AS BIGINT) AS s, CAST(SUM(de) AS BIGINT) AS e
    FROM pts GROUP BY event_type, t
),
run AS (
    SELECT event_type, t,
           SUM(s) OVER w - SUM(e) OVER w AS conc
    FROM agg
    WINDOW w AS (
        PARTITION BY event_type ORDER BY t ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
),
ranked AS (
    SELECT event_type, t, conc,
           ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY conc DESC, t ASC
           ) AS rn
    FROM run
)
SELECT event_type,
       CAST(conc AS BIGINT) AS peak_concurrency,
       t AS peak_ts
FROM ranked WHERE rn = 1
"""


@register(
    "events_peak_concurrency", _ORACLE_EVENTS_PEAK_CONCURRENCY,
    tags=("temporal", "interval"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak occupancy: treating each event as active for
    a fixed horizon ``[ts, ts+10min)``, the maximum number of
    simultaneously-active events per type and the earliest instant
    it occurs — the capacity-planning number (peak concurrent
    sessions / open intervals) that windowed counts systematically
    understate (a tumbling bucket counts STARTS per bucket, not
    overlap).

    The classic algorithm, made deterministic: ±1 deltas at interval
    endpoints are AGGREGATED PER DISTINCT TIMESTAMP before the
    running sum — without that collapse, ties inside a timestamp
    make the running max order-dependent and the answer
    engine-dependent. Half-open semantics fall out of the algebra:
    ``conc(t) = starts(≤t) − ends(≤t)`` retires an interval exactly
    at its end instant.

    Scale: ONE shuffle — an explicit repartition on ``event_type``
    satisfies the (type, t) delta aggregation (prefix partitioning,
    the join_min_cost_supplier rule), the cumulative window, and the
    argmax window. Parallelism is bounded by |types| here; at 100 TB
    with few types the same sweep runs as the two-pass distributed
    prefix sum (range-partition by t, per-partition partial sums,
    broadcast running offsets) — algebra unchanged, and the delta
    aggregation has already collapsed the data to |distinct t| rows
    map-side.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    starts = e.select(
        "event_type", F.col("ts").alias("t"),
        F.lit(1).alias("ds"), F.lit(0).alias("de"),
    )
    ends = e.select(
        "event_type",
        (F.col("ts") + F.expr(f"INTERVAL {_CONC_ACTIVE}")).alias("t"),
        F.lit(0).alias("ds"), F.lit(1).alias("de"),
    )
    agg = (
        starts.unionByName(ends)
        .repartition(F.col("event_type"))
        .groupBy("event_type", "t")
        .agg(
            F.sum("ds").cast("bigint").alias("s"),
            F.sum("de").cast("bigint").alias("e"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = agg.select(
        "event_type", "t",
        (F.sum("s").over(w) - F.sum("e").over(w)).alias("conc"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("conc").desc(), F.col("t").asc()
    )
    return (
        run.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("conc").cast("bigint").alias("peak_concurrency"),
            F.col("t").alias("peak_ts"),
        )
    )


# --- calendar densification (gap fill) ------------------------------

_ORACLE_EVENTS_GAP_FILL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id, CAST(ts AS DATE)
),
span AS (
    SELECT user_id, MIN(d) AS lo, MAX(d) AS hi FROM daily
    GROUP BY user_id
),
cal AS (
    SELECT user_id,
           CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS d
    FROM span
)
SELECT cal.user_id,
       CAST(cal.d AS VARCHAR) AS day,
       COALESCE(daily.n, 0) AS n_events
FROM cal
LEFT JOIN daily
  ON daily.user_id = cal.user_id AND daily.d = cal.d
"""


@register("events_gap_fill", _ORACLE_EVENTS_GAP_FILL, tags=("temporal",))
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification — one row per (user, day) across each
    user's activity span, INCLUDING zero rows for silent days: the
    gap-fill every time-series model and retention dashboard needs
    before it can window anything (missing rows are invisible to a
    frame; explicit zeros are not).

    Scale: the oracle's span→generate_series→LEFT JOIN shape costs a
    second shuffle and a join; the builder instead fills each gap
    from its LEFT EDGE — ``lead(d)`` names the next active day, and
    one ``posexplode(sequence(d, next−1))`` emits the active day
    (pos 0, real count) plus its trailing silent days (count 0).
    Every calendar row is produced exactly once, no join, and the
    explicit user repartition makes ONE exchange serve the daily
    aggregate AND the lead window (both key on user). Fan-out is
    bounded by span length, the same envelope as the DAU/WAU
    contribution trick.

    Hash parity: day rendered as the ISO string both engines print
    for DATE; counts are integers.
    """
    e = load(spark, sf_dir, "events").filter(
        # a NULL user is not a user and a NULL ts has no calendar day:
        # GROUP BY would pool the NULLs while the oracle's equi-join
        # re-derivation can never match them (the join_asof NULL-key
        # convention, caught by the adversarial events sweep)
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    daily = (
        e.repartition("user_id")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("d").asc())
    return (
        daily.withColumn("nxt", F.lead("d").over(w))
        .select(
            "user_id",
            "n",
            F.posexplode(
                F.sequence(
                    F.col("d"),
                    F.coalesce(F.date_sub("nxt", 1), F.col("d")),
                )
            ).alias("pos", "day_d"),
        )
        .select(
            "user_id",
            F.col("day_d").cast("string").alias("day"),
            F.when(F.col("pos") == 0, F.col("n"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("n_events"),
        )
    )


# --- rate-burst detection over tumbling buckets ------------------------

# events_anomaly flags VALUE outliers; this flags RATE bursts — the
# ops-monitoring sibling: a 10-minute bucket whose event count
# exceeds _BURST_FACTOR x the trailing mean of the previous
# _BURST_TRAIL present buckets of the same type. Trailing stats are
# over PRESENT buckets (empty buckets emit no row — densifying the
# bucket axis first is events_gap_fill's job and would make "burst"
# relative to calendar time instead of activity; both semantics are
# legitimate, this key pins the activity-relative one).
_BURST_TRAIL = 6
_BURST_FACTOR = 3.0

_ORACLE_EVENTS_BURST = f"""
WITH b AS (
    SELECT event_type, time_bucket(INTERVAL '10 minutes', ts) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
),
t AS (
    SELECT event_type, bucket, n_events,
           SUM(n_events) OVER w AS tsum,
           COUNT(*) OVER w AS tcnt
    FROM b
    WINDOW w AS (
        PARTITION BY event_type ORDER BY bucket ASC
        ROWS BETWEEN {_BURST_TRAIL} PRECEDING AND 1 PRECEDING
    )
)
SELECT event_type, bucket, n_events,
       (floor((CAST(tsum AS DOUBLE) / tcnt) * 1000000.0 + 0.5)
           / 1000000.0) AS trail_avg,
       CASE WHEN tcnt >= 3
             AND CAST(n_events AS DOUBLE)
                 > {_BURST_FACTOR} * (CAST(tsum AS DOUBLE) / tcnt)
            THEN 1 ELSE 0 END AS is_burst
FROM t
"""


@register("events_burst_detect", _ORACLE_EVENTS_BURST, tags=("temporal", "quality"))
def events_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detection: per event type, flag 10-minute buckets
    whose count exceeds 3x the trailing mean of the previous (up to
    6) active buckets — the rate-anomaly monitor next to
    ``events_anomaly``'s value z-scores (a bot flood or a retry storm
    moves the RATE long before any value distribution shifts). A
    minimum of 3 trailing buckets gates the flag so cold starts
    don't alarm.

    Scale: the tumbling count collapses the stream to |types|x
    |buckets| rows map-side; ONE type-keyed exchange then serves the
    trailing window. The trailing mean is sum/count over the frame —
    computed as the explicit division (never the engine's AVG, whose
    internal accumulation is engine-specific over frames).

    Hash parity: counts exact; the division and the 3x compare are
    the identical IEEE shape on both engines (the compare runs on
    the unrounded quotient; 1e-6 round guards only the emitted
    column).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    b = (
        e.groupBy(
            "event_type", F.window("ts", "10 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "event_type", F.col("w.start").alias("bucket"), "n_events"
        )
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(-_BURST_TRAIL, -1)
    )
    tsum = F.sum("n_events").over(wt)
    tcnt = F.count(F.lit(1)).over(wt)
    avg = tsum.cast("double") / tcnt
    return b.select(
        "event_type",
        "bucket",
        "n_events",
        (
            F.floor(avg * F.lit(1_000_000.0) + F.lit(0.5))
            / F.lit(1_000_000.0)
        ).alias("trail_avg"),
        F.when(
            (tcnt >= 3)
            & (F.col("n_events").cast("double") > F.lit(_BURST_FACTOR) * avg),
            1,
        )
        .otherwise(0)
        .alias("is_burst"),
    )


# --- funnel conversion timing ------------------------------------------

# events_funnel counts WHO converts; this measures HOW FAST — the
# p50/p90 delay between funnel stages, the product metric that decides
# where the funnel leaks time. Delays are exact integer microsecond
# gaps between the staged minima; quantiles are the shared type-7
# rank-pick algebra (agg_quantile_cont), never an engine builtin.

_ORACLE_EVENTS_FUNNEL_TIMING = """
WITH v AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t1
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
    GROUP BY e.user_id
),
gaps AS (
    SELECT 'view>click' AS stage,
           date_diff('microsecond', v.t1, c.t2) AS gap_us
    FROM c JOIN v ON v.user_id = c.user_id
    UNION ALL
    SELECT 'click>purchase',
           date_diff('microsecond', c.t2, p.t3)
    FROM p JOIN c ON c.user_id = p.user_id
),
ranked AS (
    SELECT stage, CAST(gap_us AS DOUBLE) AS g,
           row_number() OVER (PARTITION BY stage ORDER BY gap_us) AS rn,
           COUNT(*) OVER (PARTITION BY stage) AS n
    FROM gaps
)
SELECT stage,
       CAST(MAX(n) AS BIGINT) AS n_users,
       (floor((MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5 + 1.0) AS BIGINT) THEN g END)
               + MAX((CAST(n - 1 AS DOUBLE) * 0.5 + 1.0) - floor(CAST(n - 1 AS DOUBLE) * 0.5 + 1.0))
                 * (COALESCE(MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5 + 1.0) AS BIGINT) + 1 THEN g END),
                             MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5 + 1.0) AS BIGINT) THEN g END))
                    - MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5 + 1.0) AS BIGINT) THEN g END)))
              / 1000000.0 * 1000000.0 + 0.5) / 1000000.0) AS p50_sec,
       (floor((MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9 + 1.0) AS BIGINT) THEN g END)
               + MAX((CAST(n - 1 AS DOUBLE) * 0.9 + 1.0) - floor(CAST(n - 1 AS DOUBLE) * 0.9 + 1.0))
                 * (COALESCE(MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9 + 1.0) AS BIGINT) + 1 THEN g END),
                             MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9 + 1.0) AS BIGINT) THEN g END))
                    - MAX(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9 + 1.0) AS BIGINT) THEN g END)))
              / 1000000.0 * 1000000.0 + 0.5) / 1000000.0) AS p90_sec
FROM ranked
GROUP BY stage
"""


@register(
    "events_funnel_timing", _ORACLE_EVENTS_FUNNEL_TIMING,
    tags=("temporal", "funnel", "quantile"),
)
def events_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion LATENCY: p50/p90 delay from first view to
    first subsequent click, and from that click to first subsequent
    purchase — ``events_funnel`` counts who converts, this measures
    how fast, which is the number that localizes where a funnel
    leaks time.

    Scale: the staged-min joins are the proven funnel shape (each
    stage ≤ one row per user, user-keyed); the quantile pass is the
    agg_quantile_cont rank-pick over the |converting users| gap rows
    — two stages share one exchange via the stage partition key.

    Hash parity: gaps are exact integer µs converted once to double
    (exact below 2^53); the type-7 interpolation is the shared
    explicit algebra; seconds emerge from one division of the
    pre-rounded value on both engines.
    """
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.alias("e")
        .join(v.alias("v"), "user_id")
        .filter(
            (F.col("e.event_type") == "click")
            & (F.col("e.ts") > F.col("v.t1"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.alias("e")
        .join(c.alias("c"), "user_id")
        .filter(
            (F.col("e.event_type") == "purchase")
            & (F.col("e.ts") > F.col("c.t2"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    g1 = (
        c.join(v, "user_id")
        .select(
            F.lit("view>click").alias("stage"),
            (F.unix_micros("t2") - F.unix_micros("t1")).alias("gap_us"),
        )
    )
    g2 = (
        p.join(c, "user_id")
        .select(
            F.lit("click>purchase").alias("stage"),
            (F.unix_micros("t3") - F.unix_micros("t2")).alias("gap_us"),
        )
    )
    gaps = g1.unionByName(g2)
    w = Window.partitionBy("stage").orderBy("gap_us")
    wn = Window.partitionBy("stage")
    ranked = gaps.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    gd = F.col("gap_us").cast("double")

    def interp(pq: float):
        h = (F.col("n") - 1).cast("double") * F.lit(pq) + F.lit(1.0)
        lo_rank = F.floor(h).cast("long")
        lo = F.max(F.when(F.col("rn") == lo_rank, gd))
        hi = F.max(F.when(F.col("rn") == lo_rank + 1, gd))
        frac = F.max(h - F.floor(h))
        val = (lo + frac * (F.coalesce(hi, lo) - lo)) / F.lit(1_000_000.0)
        return (
            F.floor(val * F.lit(1_000_000.0) + F.lit(0.5))
            / F.lit(1_000_000.0)
        )

    return ranked.groupBy("stage").agg(
        F.max("n").cast("bigint").alias("n_users"),
        interp(0.5).alias("p50_sec"),
        interp(0.9).alias("p90_sec"),
    )


# --- next-action predictability (Markov transition entropy) ----------

_ORACLE_EVENTS_MARKOV_ENTROPY = """
WITH ordered AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
           ) AS next_type
    FROM events
),
trans AS (
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
ranked AS (
    SELECT *,
           SUM(n) OVER (PARTITION BY from_type) AS n_out,
           COUNT(*) OVER (PARTITION BY from_type) AS n_next_types,
           ROW_NUMBER() OVER (
               PARTITION BY from_type ORDER BY n DESC, to_type ASC
           ) AS rn
    FROM trans
)
SELECT from_type,
       CAST(MAX(n_out) AS BIGINT) AS n_out,
       CAST(MAX(n_next_types) AS BIGINT) AS n_next_types,
       MAX(CASE WHEN rn = 1 THEN to_type END) AS top_next,
       (floor((MAX(CASE WHEN rn = 1 THEN CAST(n AS DOUBLE) / n_out END))
              * 1000000.0 + 0.5) / 1000000.0) AS top_prob,
       (floor((-SUM((CAST(n AS DOUBLE) / n_out)
                    * ln(CAST(n AS DOUBLE) / n_out)))
              * 1000000.0 + 0.5) / 1000000.0) AS entropy
FROM ranked
GROUP BY from_type
"""


@register(
    "events_markov_entropy", _ORACLE_EVENTS_MARKOV_ENTROPY,
    tags=("temporal", "sequence"),
)
def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-action predictability per event type: the normalized
    first-order Markov row (``events_paths``' transition counts
    turned into probabilities) summarized as the most likely next
    action, its probability, and the transition entropy. Entropy
    near 0 = deterministic flows (a wizard, a bot); entropy near
    ln(#types) = uniform wandering — the card a product/abuse
    pipeline reads per snapshot.

    Scale: rides the ``events_paths`` plan (ONE user-keyed window
    shuffle, then a transition-matrix-sized aggregate); everything
    here runs on the ≤|types|² matrix — windows and rollup over ~25
    rows.

    Hash parity: probabilities are exact-int divisions over exact
    counts (identical doubles); the top pick orders on
    (n DESC, to_type ASC) — a total order over exact ints +
    non-NULL strings; ln 1-ulp noise is absorbed by the 1e-6 round.
    """
    from pyspark.sql.window import Window as W

    trans = events_paths(spark, sf_dir)
    wf = W.partitionBy("from_type")
    wo = W.partitionBy("from_type").orderBy(
        F.col("n_transitions").desc(), F.col("to_type").asc()
    )
    r = (
        trans.withColumn("n_out", F.sum("n_transitions").over(wf))
        .withColumn("n_next_types", F.count(F.lit(1)).over(wf))
        .withColumn("rn", F.row_number().over(wo))
    )
    p = F.col("n_transitions").cast("double") / F.col("n_out")
    return r.groupBy("from_type").agg(
        F.max("n_out").cast("bigint").alias("n_out"),
        F.max("n_next_types").cast("bigint").alias("n_next_types"),
        F.max(F.when(F.col("rn") == 1, F.col("to_type"))).alias("top_next"),
        dround(F.max(F.when(F.col("rn") == 1, p)), 6).alias("top_prob"),
        dround(-F.sum(p * F.log(p)), 6).alias("entropy"),
    )


# --- absence monitor, batch twin (VERDICT r9 work order #7) ----------

# 24 h of event-time silence. The streaming operator
# (streaming/windows.py silent_user_alerts) parametrizes this; the
# batch key pins a threshold that yields alert-rate output on the
# fixture cadence (~1 event/user/hour -> ~10% of events alert).
_ABSENCE_THR_US = 24 * 3600 * 1_000_000

_ORACLE_EVENTS_ABSENCE = f"""
WITH e AS (
    SELECT user_id, event_id, ts FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
cut AS (SELECT MAX(ts) AS cutoff FROM e),
g AS (
    SELECT user_id, ts,
           LEAD(ts) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
           ) AS next_ts
    FROM e
)
SELECT user_id,
       ts AS last_seen,
       CASE WHEN next_ts IS NULL THEN 'tail' ELSE 'gap' END AS alert_kind,
       {dround_sql(
           "CAST(date_diff('microsecond', ts, COALESCE(next_ts, cutoff)) "
           "AS DOUBLE) / 1000000.0", 6)} AS silence_sec
FROM g, cut
WHERE date_diff('microsecond', ts, COALESCE(next_ts, cutoff))
      > CAST({_ABSENCE_THR_US} AS BIGINT)
"""


def absence_alerts(
    events: DataFrame, thr_us: int, cutoff_us: "F.Column | int"
) -> DataFrame:
    """Batch absence alerts over a pre-filtered (non-NULL user/ts)
    events frame: one row per silence of more than ``thr_us`` µs —
    either between consecutive events of a user (``gap``) or between
    the user's final event and ``cutoff_us`` (``tail``). Shared by
    the registered key (cutoff = corpus max ts) and the
    streaming-equivalence test (cutoff = the stream's final
    watermark)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc_nulls_first()
    )
    cutoff = (
        F.lit(int(cutoff_us)) if isinstance(cutoff_us, int) else cutoff_us
    )
    g = events.select(
        "user_id",
        F.col("ts").alias("last_seen"),
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("next_us"),
        cutoff.alias("cutoff_resolved_us"),
    )
    silence_us = F.coalesce(
        F.col("next_us"), F.col("cutoff_resolved_us")
    ) - F.col("ts_us")
    return (
        g.withColumn("silence_us", silence_us)
        .filter(F.col("silence_us") > F.lit(int(thr_us)))
        .select(
            "user_id",
            "last_seen",
            F.when(F.col("next_us").isNull(), F.lit("tail"))
            .otherwise(F.lit("gap"))
            .alias("alert_kind"),
            dround(F.col("silence_us").cast("double") / 1000000.0, 6).alias(
                "silence_sec"
            ),
        )
    )


@register(
    "events_absence_monitor", _ORACLE_EVENTS_ABSENCE,
    tags=("temporal", "monitoring"),
)
def events_absence_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the T5 emit-on-absence streaming monitor
    (streaming/windows.py ``silent_user_alerts``): one alert row per
    event-time silence of more than 24 h per user — between
    consecutive events (``gap``) or between a user's final event and
    the corpus cutoff (``tail``, cutoff = global max ts, the batch
    stand-in for the stream's final watermark). The driver-hashable
    formulation VERDICT r9 #7 asked for: the streaming operator's
    alert semantics ("at the moment the clock passed last_seen +
    threshold the user had produced nothing newer") expressed as one
    lead() window, so the SLA/heartbeat logic developed here promotes
    to the timer-based operator unchanged
    (tests/test_streaming.py pins the two equal under a shared
    cutoff).

    Scale: ONE user-keyed window shuffle (the events_inter_arrival
    partitioning); the cutoff is a 1-row global aggregate broadcast
    back — no second corpus pass, no driver loop. Output is
    alert-rate, not event-rate.

    Hash parity: silences are exact microsecond integers compared to
    an integer threshold; silence_sec divides the exact int by 1e6
    and rounds once, identically on both sides. NULL user_id / NULL
    ts rows are excluded up front on both sides (a NULL user is not
    a user; no timestamp, no silence — the family's NULL-ts
    contract).
    """
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts")
    )
    cut = e.agg(F.max(F.unix_micros("ts")).alias("cutoff_us"))
    with_cut = e.crossJoin(F.broadcast(cut))
    return absence_alerts(with_cut, _ABSENCE_THR_US, F.col("cutoff_us"))
