"""The composed training-corpus pipeline as ONE declarative query.

Every stage exists as a standalone catalog operator (quality gate,
decontamination, exact dedup, deterministic split); this module
chains them into the single DataFrame a production run would
materialize — and because each stage is pure Catalyst expressions,
the optimizer fuses the whole pipeline into one plan: the corpus is
scanned once, the quality explode+agg is the only corpus-sized
shuffle, and the decontamination blocklist broadcasts. Running the
stages as separate jobs would scan and shuffle the corpus once PER
STAGE — the fusion is the scale argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..operators.sampling import split_case_sql, split_col
from ..registry import register
from ..rounding import dround
from . import DUCK_TOKEN_COUNT, SPARK_TOKEN_COUNT
from .dedup import _EVAL_CUT
from .text import (
    _QF_MAX_AVG_LEN,
    _QF_MIN_TOKENS,
    _QF_MIN_TTR,
    quality_gate_pred,
    quality_kept_docs,
    quality_signals,
)

# CTE chain ending in ``clean`` (survivors of quality gate + eval
# exclusion + digest decontamination, rn=1 = exact-dedup keeper);
# shared by the standalone manifest and the mixture-composed
# flagship. ``ptoks`` not ``toks``: the mixture chain owns ``toks``.
_CLEAN_CTES = f"""ptoks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
),
per_doc AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT word) AS DOUBLE) / COUNT(*) AS ttr,
           AVG(CAST(length(word) AS DOUBLE)) AS avg_len
    FROM ptoks WHERE word <> ''
    GROUP BY doc_id
),
tagged AS (
    SELECT d.doc_id, d.lang, d.source, d.text, p.n_tokens,
           substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) AS h2,
           md5(d.text) AS text_hash
    FROM documents d
    JOIN per_doc p ON d.doc_id = p.doc_id
    WHERE p.n_tokens >= {_QF_MIN_TOKENS}
      AND p.ttr >= {_QF_MIN_TTR}
      AND p.avg_len <= {_QF_MAX_AVG_LEN}
),
block AS (
    SELECT DISTINCT md5(text) AS text_hash
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_EVAL_CUT}'
),
clean AS (
    SELECT t.*,
           ROW_NUMBER() OVER (
               PARTITION BY t.text_hash ORDER BY t.doc_id
           ) AS rn
    FROM tagged t
    WHERE t.h2 >= '{_EVAL_CUT}'
      AND NOT EXISTS (
          SELECT 1 FROM block b WHERE b.text_hash = t.text_hash
      )
)
"""

# The split label fragments — defined ONCE in operators/sampling.py
# beside the cut constants (round-8 second review: a local copy here
# left sample_split on its own chain; now the split operator, the
# manifest, and the audit all read the same two definitions).
_SPLIT_CASE = split_case_sql("h2")


def _split_col():
    return split_col(F.col("h2"))

_ORACLE_PIPELINE_CLEAN = f"""
WITH {_CLEAN_CTES}
SELECT doc_id, lang, source, n_tokens,
       {_SPLIT_CASE} AS split
FROM clean
WHERE rn = 1
"""


@register(
    "pipeline_clean_corpus", _ORACLE_PIPELINE_CLEAN,
    tags=("llm", "pipeline", "flagship"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning as one fused query: C4-style
    quality gate → eval-set exclusion + digest decontamination →
    exact dedup (keep lowest doc_id) → deterministic train/val/test
    assignment. Emits the final training manifest (doc_id, lang,
    source, n_tokens, split) a pipeline writes before tokenization.

    Stage semantics match the standalone operators
    (``text_quality_filter``, ``text_decontaminate``,
    ``dedup_keep_first``, ``sample_split``) with their exact
    thresholds — this key exists to prove composition: one plan with
    three column-pruned scans of the corpus (signal pass, corpus
    rejoin, blocklist build — each reading only its needed columns),
    one window shuffle on the 16-byte digest, one broadcast
    blocklist, and ZERO intermediate materializations. Four staged
    jobs would each pay a full scan + shuffle + write cycle.

    Scale: two corpus-sized shuffles, both keyed on doc_id — the
    quality explode+agg and the raw-docs side of its rejoin (the
    per_doc side arrives pre-partitioned from the aggregation; at
    fixture scale AQE broadcasts it instead, but that is a
    smallness accident, not the design). Decontamination is a
    broadcast anti-join (megabytes of eval digests vs 100 TB of
    corpus — the text_decontaminate argument); the dedup window
    shuffles survivors keyed by digest; the split label is a
    zero-shuffle narrow map.

    Broadcast-size assumption (inherited from text_decontaminate,
    deliberately NOT count-guarded): the blocklist is the held-out
    BENCHMARK digest set, which in production is fixed-size
    megabytes regardless of corpus size — the fixture's 5%-of-corpus
    eval split is a stand-in proportion, not the scale model. A
    count-based guard (the dedup_survivors_verified pattern) would
    cost an eager corpus-scan job at build time and break this key's
    zero-jobs-until-action fused-plan property. If a deployment's
    blocklist genuinely grows with the corpus, drop the hint and let
    AQE size the join against autoBroadcastJoinThreshold.

    Hash parity: every stage is exact (integer thresholds, md5
    digests, row_number on the unique doc_id) except the ttr/avg_len
    gate comparisons, which both engines evaluate on identically
    computed doubles (exact-int divisions — the
    text_quality_filter precedent).
    """
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    quality = (
        docs.join(quality_kept_docs(docs), "doc_id")
        .withColumn(
            "h2", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        )
        .withColumn("text_hash", F.md5("text"))
    )
    block = (
        docs.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < _EVAL_CUT
        )
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    clean = (
        quality.filter(F.col("h2") >= _EVAL_CUT)
        .join(F.broadcast(block), "text_hash", "left_anti")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("text_hash").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return clean.select(
        "doc_id", "lang", "source", "n_tokens", _split_col().alias("split")
    )


# --- drop-decision audit trail --------------------------------------

# Reason priority mirrors the cleaning pipeline's stage order exactly
# (quality inner-join first, then eval exclusion, then blocklist
# anti-join, then the dedup keeper pick) so the 'kept' rows of this
# audit are BY CONSTRUCTION the rows `pipeline_clean_corpus` emits —
# pinned by a test, not convention.
_ORACLE_PIPELINE_DROP_EXPLAIN = f"""
WITH ptoks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
),
per_doc AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT word) AS DOUBLE) / COUNT(*) AS ttr,
           AVG(CAST(length(word) AS DOUBLE)) AS avg_len
    FROM ptoks WHERE word <> ''
    GROUP BY doc_id
),
sig AS (
    SELECT d.doc_id, d.source,
           substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) AS h2,
           md5(d.text) AS text_hash,
           COALESCE(p.n_tokens >= {_QF_MIN_TOKENS}
                    AND p.ttr >= {_QF_MIN_TTR}
                    AND p.avg_len <= {_QF_MAX_AVG_LEN}, FALSE) AS q_ok
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
),
block AS (
    SELECT DISTINCT md5(text) AS text_hash
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_EVAL_CUT}'
),
flags AS (
    SELECT s.*,
           s.h2 < '{_EVAL_CUT}' AS is_eval,
           EXISTS (SELECT 1 FROM block b WHERE b.text_hash = s.text_hash)
               AS is_contam
    FROM sig s
),
ranked AS (
    SELECT f.*,
           MIN(CASE WHEN q_ok AND NOT is_eval AND NOT is_contam
                    THEN doc_id END)
               OVER (PARTITION BY
                     CASE WHEN q_ok AND NOT is_eval AND NOT is_contam
                          THEN text_hash
                          ELSE '!' || CAST(doc_id AS VARCHAR) END)
               AS keeper_id
    FROM flags f
)
SELECT doc_id, source,
       CASE WHEN NOT q_ok THEN 'quality'
            WHEN is_eval THEN 'eval_split'
            WHEN is_contam THEN 'contaminated'
            WHEN doc_id <> keeper_id THEN 'exact_dup'
            ELSE 'kept' END AS reason,
       CASE WHEN q_ok AND NOT is_eval AND NOT is_contam
                 AND doc_id <> keeper_id THEN keeper_id END AS dup_of,
       CASE WHEN q_ok AND NOT is_eval AND NOT is_contam
                 AND doc_id = keeper_id THEN {_SPLIT_CASE} END AS split
FROM ranked
"""


@register(
    "pipeline_drop_explain", _ORACLE_PIPELINE_DROP_EXPLAIN,
    tags=("llm", "pipeline", "audit"),
)
def pipeline_drop_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document drop-decision audit: for EVERY document, the
    first cleaning rule that removes it from the training manifest —
    ``quality`` (fails the C4 gate, including empty/NULL text),
    ``eval_split`` (held out by hash), ``contaminated`` (text digest
    collides with the eval set), ``exact_dup`` (a kept doc owns its
    digest — ``dup_of`` names the keeper), or ``kept`` (with its
    train/val/test split). This is the audit trail a production
    pipeline ships beside the manifest: "why did my document
    disappear" answered per row, and the reason histogram is one
    groupBy away. The 'kept' rows are BY CONSTRUCTION exactly
    ``pipeline_clean_corpus``'s output (same shared gate expressions,
    same stage priority, keeper = min doc_id per digest ≡ the rn=1
    window pick) — pinned by a test.

    Scale: the same ledger as ``pipeline_clean_corpus`` — one
    corpus explode+agg for the quality signals (LEFT-joined back so
    failures stay visible), one broadcast blocklist probe (flagged
    left join instead of anti-join — same broadcast-size argument),
    and ONE digest-keyed window carrying the keeper pick (an
    orderBy-free MIN frame — hash shuffle, no sort needed beyond the
    window's partition clustering). Ineligible rows ride that
    shuffle under per-row synthetic keys, NOT their digest — at
    crawl scale every empty document shares md5('') and would
    otherwise flood one window partition (see the inline comment).
    The reason/priority logic is a zero-shuffle narrow projection.
    NULL text hashes to a NULL digest, which no equality can match
    (both engines) — such docs are 'quality' failures before the
    digest ever matters.

    Hash parity: md5 digests, integer thresholds on identically
    computed doubles (the quality_kept_docs precedent), MIN over
    BIGINT doc_id, and string CASE labels — no floats emitted.
    """
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    sig = (
        docs.select("doc_id", "source", "text")
        .join(quality_signals(docs), "doc_id", "left")
        .withColumn("q_ok", F.coalesce(quality_gate_pred(), F.lit(False)))
        .withColumn("h2", h2)
        .withColumn("text_hash", F.md5("text"))
    )
    block = (
        docs.filter(h2 < _EVAL_CUT)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
        .withColumn("in_block", F.lit(True))
    )
    flags = (
        sig.withColumn("is_eval", F.col("h2") < _EVAL_CUT)
        .join(F.broadcast(block), "text_hash", "left")
        .withColumn("is_contam", F.coalesce(F.col("in_block"), F.lit(False)))
    )
    eligible = F.col("q_ok") & ~F.col("is_eval") & ~F.col("is_contam")
    # Skew guard (round-8 review): ineligible rows never consult the
    # keeper, so they must not ride the digest shuffle — at crawl
    # scale, millions of empty documents all hash to the ONE md5('')
    # digest and would flood a single window partition. Ineligible
    # rows partition under a per-row synthetic key instead ('!' can
    # never collide with md5 hex), so the only rows sharing a window
    # partition are eligible same-digest candidates — exactly the
    # population pipeline_clean_corpus's rn-window shuffles.
    part_key = F.when(eligible, F.col("text_hash")).otherwise(
        F.concat(F.lit("!"), F.col("doc_id").cast("string"))
    )
    keeper = F.min(F.when(eligible, F.col("doc_id"))).over(
        Window.partitionBy(part_key)
    )
    ranked = flags.withColumn("keeper_id", keeper)
    reason = (
        F.when(~F.col("q_ok"), "quality")
        .when(F.col("is_eval"), "eval_split")
        .when(F.col("is_contam"), "contaminated")
        .when(F.col("doc_id") != F.col("keeper_id"), "exact_dup")
        .otherwise("kept")
    )
    is_dup = eligible & (F.col("doc_id") != F.col("keeper_id"))
    is_kept = eligible & (F.col("doc_id") == F.col("keeper_id"))
    return ranked.select(
        "doc_id",
        "source",
        reason.alias("reason"),
        F.when(is_dup, F.col("keeper_id")).alias("dup_of"),
        F.when(is_kept, _split_col()).alias("split"),
    )


# --- data-mixture planning ------------------------------------------

# Token budget for the planned mixture: half the corpus. A driver-side
# constant — the plan shape is invariant under any budget.
_MIX_BUDGET_DEN = 2

# Shared water-filling CTE chain (plan + apply + the composed
# flagship build on it): per-doc token counts -> per-source totals ->
# integer max-min-fair allocation. ``_MIX_TAIL`` starts AFTER the
# ``toks`` CTE so a composed consumer can feed it survivors instead
# of raw documents; ``planned`` is the last CTE.
_MIX_TAIL = f"""src AS (
    SELECT source, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM toks GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_sources
    FROM src
),
ranked AS (
    SELECT s.source, s.n_tokens,
           t.corpus_tokens // {_MIX_BUDGET_DEN} AS budget,
           t.n_sources,
           COALESCE(SUM(s.n_tokens) OVER (
               ORDER BY s.n_tokens ASC, s.source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS taken_before,
           ROW_NUMBER() OVER (
               ORDER BY s.n_tokens ASC, s.source ASC
           ) AS rnk
    FROM src s CROSS JOIN tot t
),
shared AS (
    SELECT *,
           GREATEST(budget - taken_before, 0)
               // (n_sources - rnk + 1) AS share
    FROM ranked
),
leveled AS (
    SELECT *,
           n_tokens <= share AS is_full,
           MAX(CASE WHEN n_tokens > share THEN share END)
               OVER () AS level
    FROM shared
),
planned AS (
    SELECT source, n_tokens,
           CAST(CASE WHEN is_full THEN n_tokens
                     ELSE COALESCE(level, n_tokens) END AS BIGINT)
               AS planned_tokens,
           NOT is_full AS is_capped
    FROM leveled
)"""

_MIX_CTES = f"""
WITH toks AS (
    SELECT source, doc_id,
           CAST({DUCK_TOKEN_COUNT} AS BIGINT) AS n_toks
    FROM documents
),
{_MIX_TAIL}
"""

_ORACLE_CORPUS_MIXTURE = f"""{_MIX_CTES}
SELECT source, n_tokens, planned_tokens, is_capped,
       CASE WHEN n_tokens = 0 THEN NULL
            ELSE (floor((CAST(planned_tokens AS DOUBLE) / n_tokens)
                        * 1000000.0 + 0.5) / 1000000.0)
       END AS sample_fraction
FROM planned
"""


@register(
    "corpus_mixture_plan", _ORACLE_CORPUS_MIXTURE,
    tags=("llm", "pipeline", "mixture"),
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planner: given a global token budget (here half
    the corpus), allocate per-source token quotas by max-min fairness
    (water-filling) and emit the per-source sampling fraction a
    downstream ``sample_hash_fraction``-style selector would apply.
    Small sources are taken whole; large sources are capped at a
    common water level so no single crawl dominates the mixture —
    the standard defense against one mega-source swamping training.

    Algorithm, exactly specified in INTEGER arithmetic so both
    engines agree bit-for-bit: sort sources by token count ascending
    (ties by name); for source at rank r with ``taken_before`` tokens
    already granted to smaller sources, its provisional equal share
    is ``(budget - taken_before) DIV (n_sources - r + 1)``. A source
    whose total fits inside its share is taken whole; the first one
    that does not fixes the water level for every larger source
    (shares are non-increasing past that point, so the level is the
    MAX share among capped sources).

    Scale: the corpus-sized work is one narrow token-count projection
    (no explode) + one groupBy(source) with map-side combine.
    Everything after operates on ONE ROW PER SOURCE: the totals frame
    is a broadcast 1-row crossJoin (the events_cooccurrence idiom)
    and the unpartitioned windows run over n_sources aggregated rows
    — tens, not billions — so the single-partition window is by
    construction not a bottleneck.

    Hash parity: all-integer until the final quota/total division
    (exact-int-divided-once, dround 1e-6); a zero-token source
    yields NULL fraction on both engines (ANSI guard).
    """
    planned = _mixture_planned(load(spark, sf_dir, "documents"))
    return planned.select(
        "source",
        "n_tokens",
        "planned_tokens",
        "is_capped",
        F.when(
            F.col("n_tokens") == 0, F.lit(None).cast("double")
        )
        .otherwise(
            dround(
                F.col("planned_tokens").cast("double") / F.col("n_tokens"), 6
            )
        )
        .alias("sample_fraction"),
    )


def _mixture_planned(docs: DataFrame) -> DataFrame:
    """The water-filling core shared by ``corpus_mixture_plan`` (emits
    fractions) and ``corpus_mixture_apply`` (executes them): per-source
    (source, n_tokens, planned_tokens, is_capped), all-integer. See
    ``corpus_mixture_plan`` for the algorithm contract."""
    return _mixture_planned_counts(
        docs.select(
            "source",
            F.expr(SPARK_TOKEN_COUNT).cast("bigint").alias("n_toks"),
        )
    )


def _mixture_fractions(planned: DataFrame) -> DataFrame:
    """(source, n_tokens, planned_tokens, keep_ppm): the integer-ppm
    keep threshold the deterministic selector compares against —
    NULL-guarded on zero-token sources (both engines then keep
    nothing, NULL compares false)."""
    return planned.select(
        "source",
        "n_tokens",
        "planned_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.floor(
                F.col("planned_tokens").cast("double")
                / F.col("n_tokens")
                * 1000000.0
                + 0.5
            ).cast("bigint")
        )
        .alias("keep_ppm"),
    )


def _u_ppm_col():
    """Per-doc uniform in [0, 1e6): first 15 md5 hex chars of doc_id
    as an integer, mod 1e6 — the sample_hash_fraction determinism
    discipline at ppm resolution (Spark ``conv`` == DuckDB's
    ``('0x'||h)::BIGINT``, both exact on 60-bit values)."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )


def _mixture_planned_counts(toks: DataFrame) -> DataFrame:
    """Water-filling over an already-token-counted (source, n_toks)
    frame — the composable entry the mixture-composed flagship feeds
    with CLEANED survivors instead of raw documents."""
    from pyspark.sql.window import Window

    src = toks.groupBy("source").agg(
        F.sum("n_toks").cast("bigint").alias("n_tokens")
    )
    tot = src.agg(
        F.sum("n_tokens").cast("bigint").alias("corpus_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    order = [F.col("n_tokens").asc(), F.col("source").asc()]
    w_before = (
        Window.orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_rank = Window.orderBy(*order)
    w_all = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        src.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget", F.expr(f"corpus_tokens DIV {_MIX_BUDGET_DEN}")
        )
        .withColumn(
            "taken_before",
            F.coalesce(F.sum("n_tokens").over(w_before), F.lit(0)),
        )
        .withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .withColumn(
            "share",
            F.expr(
                "GREATEST(budget - taken_before, 0L)"
                " DIV (n_sources - rnk + 1)"
            ),
        )
        .withColumn("is_full", F.col("n_tokens") <= F.col("share"))
        .withColumn(
            "level",
            F.max(F.when(~F.col("is_full"), F.col("share"))).over(w_all),
        )
    )
    planned = F.when(F.col("is_full"), F.col("n_tokens")).otherwise(
        F.coalesce(F.col("level"), F.col("n_tokens"))
    )
    return ranked.select(
        "source",
        "n_tokens",
        planned.cast("bigint").alias("planned_tokens"),
        (~F.col("is_full")).alias("is_capped"),
    )


# --- mixture application (plan -> deterministic doc selection) ------

_ORACLE_CORPUS_MIXTURE_APPLY = f"""{_MIX_CTES},
frac AS (
    SELECT source, n_tokens, planned_tokens,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE CAST(floor(CAST(planned_tokens AS DOUBLE)
                                / n_tokens * 1000000.0 + 0.5) AS BIGINT)
           END AS keep_ppm
    FROM planned
),
hashed AS (
    SELECT source, n_toks,
           CAST(concat('0x',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 1000000 AS u_ppm
    FROM toks
)
SELECT h.source, f.n_tokens, f.planned_tokens, f.keep_ppm,
       CAST(SUM(CASE WHEN h.u_ppm < f.keep_ppm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_kept,
       CAST(SUM(CASE WHEN h.u_ppm < f.keep_ppm THEN h.n_toks ELSE 0 END)
            AS BIGINT) AS tokens_kept,
       CASE WHEN f.n_tokens = 0 THEN NULL
            ELSE CAST(floor(
                CAST(SUM(CASE WHEN h.u_ppm < f.keep_ppm
                              THEN h.n_toks ELSE 0 END) AS DOUBLE)
                / f.n_tokens * 1000000.0 + 0.5) AS BIGINT)
       END AS realized_ppm
FROM hashed h
JOIN frac f ON h.source = f.source
GROUP BY h.source, f.n_tokens, f.planned_tokens, f.keep_ppm
"""


@register(
    "corpus_mixture_apply", _ORACLE_CORPUS_MIXTURE_APPLY,
    tags=("llm", "pipeline", "mixture"),
)
def corpus_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the ``corpus_mixture_plan`` allocation and audit it:
    each document is kept iff its md5 bucket (parts-per-million of
    the keyed hash — the ``sample_hash_fraction`` determinism
    discipline, resolution raised from 1/256 to 1e-6) falls under its
    source's planned sampling fraction, and the output is the
    per-source reconciliation — planned vs realized token mass. The
    planner emits fractions; THIS key proves they compose with the
    deterministic selector into an executable, re-runnable sampling
    job whose realized_ppm converges on keep_ppm as the source grows
    (doc-level sampling of a token quota — the residual is the
    audit's point).

    Scale: two column-pruned corpus scans — one feeds the per-source
    totals (combiner-compressed groupBy, then windows over one row
    per source), one the per-doc hash+token projection (pure narrow
    map). The per-source fraction table broadcasts back onto the
    corpus (plan-asserted), and the final audit aggregation combines
    map-side, so the only corpus-sized shuffle is the planner's
    groupBy(source). Keep/drop is a deterministic pushable predicate:
    a production run would ``filter(u_ppm < keep_ppm)`` and write —
    the row's fate never changes on re-run or repartition.

    Hash parity: all-integer (hex-prefix hash bucket, integer ppm
    thresholds, token sums); the only divisions are
    exact-int-divided-once under the dround formulation, NULL-guarded
    on zero-token sources.
    """
    docs = load(spark, sf_dir, "documents")
    frac = _mixture_fractions(_mixture_planned(docs))
    hashed = docs.select(
        "source",
        F.expr(SPARK_TOKEN_COUNT).cast("bigint").alias("n_toks"),
        _u_ppm_col().alias("u_ppm"),
    )
    kept = F.col("u_ppm") < F.col("keep_ppm")
    return (
        hashed.join(F.broadcast(frac), "source")
        .groupBy("source", "n_tokens", "planned_tokens", "keep_ppm")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint")
            .alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0)).cast("bigint")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "n_tokens",
            "planned_tokens",
            "keep_ppm",
            "n_docs_kept",
            "tokens_kept",
            F.when(F.col("n_tokens") == 0, F.lit(None).cast("bigint"))
            .otherwise(
                F.floor(
                    F.col("tokens_kept").cast("double")
                    / F.col("n_tokens")
                    * 1000000.0
                    + 0.5
                ).cast("bigint")
            )
            .alias("realized_ppm"),
        )
    )


# --- corpus datasheet (one-row card) --------------------------------

_ORACLE_CORPUS_CARD = f"""
WITH base AS (
    SELECT lang, source, md5(text) AS digest,
           CAST({DUCK_TOKEN_COUNT} AS BIGINT) AS n_toks,
           CAST(length(text) AS BIGINT) AS n_chr
    FROM documents
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_unique_texts,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chr) AS BIGINT) AS n_chars
    FROM base
),
lc AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY lang
),
lt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM lc),
ent AS (
    SELECT (floor((-SUM((c / t.t) * ln(c / t.t))) * 1000000.0 + 0.5)
            / 1000000.0) AS lang_entropy
    FROM lc, lt t
)
SELECT tot.n_docs, tot.n_sources, tot.n_langs, tot.n_unique_texts,
       CASE WHEN tot.n_docs = 0 THEN NULL
            ELSE CAST(floor(
                CAST(tot.n_docs - tot.n_unique_texts AS DOUBLE)
                / tot.n_docs * 1000000.0 + 0.5) AS BIGINT)
       END AS dup_ppm,
       tot.n_tokens, tot.n_chars,
       CASE WHEN tot.n_docs = 0 THEN NULL
            ELSE (floor((CAST(tot.n_tokens AS DOUBLE) / tot.n_docs)
                        * 10000.0 + 0.5) / 10000.0)
       END AS mean_doc_tokens,
       ent.lang_entropy
FROM tot, ent
"""


@register(
    "docs_corpus_card", _ORACLE_CORPUS_CARD, tags=("llm", "pipeline", "profile")
)
def docs_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus datasheet: document/source/language counts,
    token and character mass, exact-duplicate rate (ppm), mean
    document length, and the Shannon entropy of the language mix —
    the numbers that head every dataset card, computed in one job
    instead of a notebook of ad-hoc scans.

    Scale: two column-pruned scans of narrow projections — one feeds
    the global totals aggregate, one the language histogram whose
    few-row entropy fold then broadcasts back onto the 1-row totals
    frame (the events_cooccurrence cross-join idiom; every
    post-aggregation frame here is ≤ n_langs rows). All distincts
    are exact; the text-digest one is a shuffle of every unique
    digest, and ``agg_approx_distinct`` is the HLL sketch key where
    ±2% would do.

    Hash parity: counts and sums are integers; the two ratios are
    exact-int-divided-once under the dround formulation with
    zero-docs NULL guards; entropy follows the events_entropy ln
    discipline (dround 1e-6 absorbs libm ulp).
    """
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.md5("text").alias("digest"),
        F.expr(SPARK_TOKEN_COUNT).cast("bigint").alias("n_toks"),
        F.length("text").cast("bigint").alias("n_chr"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("digest").cast("bigint").alias("n_unique_texts"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_chr").cast("bigint").alias("n_chars"),
    )
    lc = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lt = lc.agg(F.sum("c").cast("double").alias("t"))
    p = F.col("c") / F.col("t")
    ent = (
        lc.crossJoin(F.broadcast(lt))
        .agg(dround(-F.sum(p * F.log(p)), 6).alias("lang_entropy"))
    )
    return (
        tot.crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "n_unique_texts",
            F.when(F.col("n_docs") == 0, F.lit(None).cast("bigint"))
            .otherwise(
                F.floor(
                    (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
                    / F.col("n_docs")
                    * 1000000.0
                    + 0.5
                ).cast("bigint")
            )
            .alias("dup_ppm"),
            "n_tokens",
            "n_chars",
            F.when(F.col("n_docs") == 0, F.lit(None).cast("double"))
            .otherwise(
                dround(
                    F.col("n_tokens").cast("double") / F.col("n_docs"), 4
                )
            )
            .alias("mean_doc_tokens"),
            "lang_entropy",
        )
    )


# --- the full training-manifest flagship ----------------------------

_ORACLE_PIPELINE_MIXTURE = f"""
WITH {_CLEAN_CTES},
kept AS (
    SELECT doc_id, lang, source, n_tokens, h2
    FROM clean WHERE rn = 1
),
toks AS (
    SELECT source, doc_id, n_tokens AS n_toks FROM kept
),
{_MIX_TAIL},
frac AS (
    SELECT source, planned_tokens,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE CAST(floor(CAST(planned_tokens AS DOUBLE)
                                / n_tokens * 1000000.0 + 0.5) AS BIGINT)
           END AS keep_ppm
    FROM planned
),
sel AS (
    SELECT k.source,
           {_SPLIT_CASE} AS split,
           k.n_tokens,
           f.planned_tokens,
           CAST(concat('0x',
                substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 1000000 AS u_ppm,
           f.keep_ppm
    FROM kept k
    JOIN frac f ON k.source = f.source
)
SELECT source, split, planned_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM sel
WHERE u_ppm < keep_ppm
GROUP BY source, split, planned_tokens
"""


@register(
    "pipeline_mixture_manifest", _ORACLE_PIPELINE_MIXTURE,
    tags=("llm", "pipeline", "flagship"),
)
def pipeline_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pre-training data recipe as one declarative
    query: clean (quality gate → eval exclusion + decontamination →
    exact dedup → split assignment, = ``pipeline_clean_corpus``),
    then re-plan the token mixture over the SURVIVORS
    (water-filling via ``_mixture_planned_counts`` — quotas computed
    on post-cleaning mass, not raw crawl size), then execute the
    quotas with the deterministic ppm selector, and emit the
    per-(source, split) ledger of what training will actually see.

    This key exists to prove END-TO-END composition: every stage is
    pure Catalyst expressions over the previous stage's DataFrame,
    so the optimizer fuses cleaning, planning, and selection into
    ONE plan — the corpus-sized work is the cleaning pass (its
    explode+agg and digest window), the mixture plan is windows over
    one row per source, and the selection re-uses the cleaning
    output with a broadcast fraction join. Staged execution would
    re-scan and re-shuffle the corpus per stage and materialize two
    intermediate tables.

    Scale: inherits `pipeline_clean_corpus`'s shuffle ledger (two
    doc_id-keyed corpus shuffles + one digest window + broadcast
    blocklist), adds ZERO corpus-sized shuffles of its own — the
    water-filling runs on per-source aggregates and the fraction
    table broadcasts back (plan-asserted). Re-running after the
    corpus grows keeps every selection decision for unchanged docs
    (hash-keyed, partition-independent).

    Hash parity: the cleaning chain is exact (pipeline_clean_corpus
    precedent); the mixture is all-integer; the selector is the
    md5-ppm discipline — every fragment is one already proven in a
    standalone key, which is the composition argument.
    """
    manifest = pipeline_clean_corpus(spark, sf_dir)
    planned = _mixture_planned_counts(
        manifest.select("source", F.col("n_tokens").alias("n_toks"))
    )
    frac = _mixture_fractions(planned).select(
        "source", "planned_tokens", "keep_ppm"
    )
    sel = (
        manifest.withColumn("u_ppm", _u_ppm_col())
        .join(F.broadcast(frac), "source")
        .filter(F.col("u_ppm") < F.col("keep_ppm"))
    )
    return sel.groupBy("source", "split", "planned_tokens").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


# --- token-budget curation (greedy quality prefix) -------------------

# Budget fraction of the corpus token mass the curated set may spend.
_BUDGET_FRAC = 0.4

_ORACLE_CORPUS_TOKEN_BUDGET = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
),
pd AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types
    FROM toks WHERE word <> '' GROUP BY doc_id
),
d AS (
    SELECT docs.source, pd.doc_id, pd.n_tokens, pd.n_types
    FROM documents docs JOIN pd ON pd.doc_id = docs.doc_id
),
c AS (
    SELECT source, doc_id, n_tokens, n_types,
           COALESCE(SUM(n_tokens) OVER (
               ORDER BY n_types DESC, doc_id ASC, source ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before,
           SUM(n_tokens) OVER () AS tot
    FROM d
),
s AS (
    SELECT source, n_tokens, tot,
           CASE WHEN cum_before + n_tokens
                     <= CAST(floor(tot * {_BUDGET_FRAC}) AS BIGINT)
                THEN 1 ELSE 0 END AS sel
    FROM c
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sel) AS BIGINT) AS n_docs_selected,
       CAST(SUM(CASE WHEN sel = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS n_tokens_selected,
       (floor((CAST(SUM(CASE WHEN sel = 1 THEN n_tokens ELSE 0 END)
                    AS DOUBLE) / MAX(tot)) * 1000000.0 + 0.5) / 1000000.0)
           AS corpus_share
FROM s
GROUP BY source
"""


@register(
    "corpus_token_budget", _ORACLE_CORPUS_TOKEN_BUDGET,
    tags=("llm", "pipeline", "curation"),
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation — the data-mixing step every training
    run starts with: spend at most ``_BUDGET_FRAC`` (40%) of the
    corpus token mass on the highest-quality documents (quality proxy =
    type count, an INTEGER so the greedy order is exactly
    deterministic; production swaps in its own scorer), reported as
    the per-source census of what survived the cut. A doc is
    admitted iff the running token total through it stays within the
    budget — the classic greedy prefix, so which sources lose mass
    under a budget squeeze is exactly what this card shows.

    Scale: the corpus-sized work is one explode + one doc-keyed
    groupBy; the greedy prefix is the DISTRIBUTED two-level token
    cumsum (``operators.prefix``, the ``range_partition_plan``
    shape) over the per-doc frame — billions of docs never funnel
    through one task, and the token sums are exact BIGINTs, so the
    two-level regrouping is exact. Final census shuffles |sources|
    rows.

    Hash parity: the ranking key (n_types DESC, doc_id ASC) and all
    cumulative arithmetic are integers; the single float is the
    budget threshold floor(tot × ``_BUDGET_FRAC``) — one multiply +
    floor of the same integer on both engines — and the 1e-6-gridded
    share. Duplicate doc_id fixture rows merge in the per-doc
    aggregate and then fan back out per instance; their (n_types,
    doc_id) ties are broken by source (ASC NULLS FIRST, pinned both
    engines), making the greedy order TOTAL over instance rows — a
    budget boundary falling inside a duplicated doc_id therefore
    cuts the same instance on both engines (r12 review: without the
    source tie-break, a dup doc_id spanning two sources could
    diverge; the shipped fixtures carry no dup doc_ids, so this is a
    latent-hazard pin, not an observed failure). Zero-token docs
    never enter the ranking (no pd row) and NULL doc_ids fail the
    join on both sides.
    """
    from ..operators.prefix import with_global_prefix

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    pd_ = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("word").cast("bigint").alias("n_types"),
    )
    d = docs.select("doc_id", "source").join(pd_, "doc_id")
    # r13 optimization round: the prefix pass reads its input from
    # THREE plan branches (bounds, local window, shard totals) — per
    # the prefix module's own cost caveat, a corpus-pipeline lineage
    # must be pinned first or every branch re-runs the explode +
    # token groupBy. One per-run localCheckpoint of the doc-sized
    # frame (never the corpus) replaces 3 lineage executions with 1
    # (measured interleaved min-of-5 at sf0.1: 1.37 → 1.19 s; cold
    # 5.6 → 2.2 s).
    d = d.localCheckpoint()
    c = with_global_prefix(
        d,
        "n_types",
        [
            F.col("n_types").desc(),
            F.col("doc_id").asc(),
            F.col("source").asc_nulls_first(),
        ],
        descending=True,
        nulls_last=True,  # Spark desc default; n_types is never NULL
        sums={"cum_before": "n_tokens"},
        total_sums={"tot": "n_tokens"},
    )
    budget = F.floor(F.col("tot") * _BUDGET_FRAC).cast("bigint")
    sel = (F.col("cum_before") + F.col("n_tokens")) <= budget
    sel_tokens = F.sum(F.when(sel, F.col("n_tokens")).otherwise(0))
    return c.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(sel.cast("int")).cast("bigint").alias("n_docs_selected"),
        sel_tokens.cast("bigint").alias("n_tokens_selected"),
        dround(
            sel_tokens.cast("double") / F.max("tot"), 6
        ).alias("corpus_share"),
    )
