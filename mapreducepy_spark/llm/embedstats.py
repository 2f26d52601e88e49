"""Embedding-matrix statistics via Arrow-batched partial aggregation
(SURVEY.md §2.10, LLM family).

``embed_dim_stats`` profiles dimensions independently; this module
adds the CROSS-dimension view — the covariance/correlation structure
— which per-dim explode+groupBy cannot express without shuffling an
O(rows × d²) pair table. The scale-correct shape is the classic
partial-aggregation one: each partition folds its vectors into ONE
(n, Σx, ΣxxT) triple inside an Arrow-batched ``mapInPandas`` (numpy
does the d×d outer-product accumulation), and only O(partitions × d²)
small integer rows ride the shuffle — constant in corpus size. This
is the module that demonstrates the "Pandas UDFs over mapInPandas
where built-ins genuinely can't express it" tier of the design
guide: a d×d integer matmul per batch has no Catalyst expression,
but everything around it stays declarative.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..rounding import dround
from ..session_cache import fixture_cached

_DIM = 64
# Quantization scale: micro-units. Exactness budget: fixture values
# are |v| < 0.5 ⇒ |q| ≤ 5e5, |q·q| ≤ 2.5e11 — int64 sums stay exact
# up to ~3.7e7 rows per aggregate, far beyond any fixture SF, and
# overflow (9.2e18) needs 3.7e7 MORE rows again.
_SCALE = 1_000_000.0
_SCALE_SQ = _SCALE * _SCALE
_TOP_PAIRS = 16

_PARTIAL_SCHEMA = "n long, s array<long>, ss array<long>"


def _partial_cov(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fold every vector in this partition into one (n, Σq, ΣqqT)
    partial, q being the micro-unit-quantized embedding. Integer
    accumulation ⇒ the partial is exact regardless of batch or row
    order."""
    n = 0
    s = np.zeros(_DIM, dtype=np.int64)
    ss = np.zeros((_DIM, _DIM), dtype=np.int64)
    for batch in it:
        if not len(batch):
            continue
        x = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
        q = np.floor(x * _SCALE + 0.5).astype(np.int64)
        n += q.shape[0]
        s += q.sum(axis=0)
        ss += q.T @ q
    if n:
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
        )


def _partials_cached(
    spark: SparkSession, sf_dir: str, require_vec_id: bool
) -> DataFrame:
    """Content-key-cached (n, Σq, Σqqᵀ) partial table: THREE keys run
    the corpus-sized Arrow fold (``embed_covariance``,
    ``embed_top_eigen``, ``embed_outlier_census``) and bench times
    each 3×, so without the cache the same input bytes are folded up
    to 9× per session (the r8 dedup-funnel lesson). Two variants
    because the consumers' row contracts differ: covariance/eigen
    require a non-NULL vec_id, the outlier census keys rows by label
    only."""
    tag = "cov_partials_vid" if require_vec_id else "cov_partials_all"

    def build() -> DataFrame:
        raw = load(spark, sf_dir, "embeddings")
        cond = F.col("embedding").isNotNull() & (F.size("embedding") == _DIM)
        if require_vec_id:
            cond = F.col("vec_id").isNotNull() & cond
        return raw.filter(cond).select("embedding").mapInPandas(
            _partial_cov, _PARTIAL_SCHEMA
        )

    return fixture_cached(spark, sf_dir, "embeddings", tag, build)


_ORACLE_EMBED_COVARIANCE = f"""
WITH v AS MATERIALIZED (
    -- rid = per-ROW identity: the cross-moment join must pair each
    -- row's dimensions with ITSELF only; joining on vec_id would
    -- cross-multiply duplicate-id rows (k copies -> k² cross terms,
    -- where the engine's per-row fold correctly counts k) — the
    -- duplicate-id sweep row. rid values are arbitrary but unique.
    -- MATERIALIZED (ADVICE r9): without it DuckDB inlines this CTE
    -- into both sides of the e-a/e-b self-join, minting rid TWICE
    -- via two independent WINDOW operators — row pairing then relies
    -- on preserve_insertion_order staying true. Materializing mints
    -- rid exactly once.
    SELECT row_number() OVER () AS rid, embedding FROM embeddings
    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
      AND len(embedding) = {_DIM}
),
e AS (
    SELECT rid,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_SCALE}
                      + 0.5) AS BIGINT) AS q
    FROM v
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
s AS (
    SELECT dim,
           CAST(SUM(q) AS BIGINT) AS s,
           CAST(SUM(q * q) AS BIGINT) AS ss_diag
    FROM e GROUP BY dim
),
p AS (
    SELECT a.dim AS dim_a, b.dim AS dim_b,
           CAST(SUM(a.q * b.q) AS BIGINT) AS ss
    FROM e a
    JOIN e b ON b.rid = a.rid AND b.dim > a.dim
    GROUP BY a.dim, b.dim
),
c AS (
    SELECT p.dim_a, p.dim_b,
           (CAST(p.ss AS DOUBLE) / nn.n
            - (CAST(sa.s AS DOUBLE) / nn.n)
              * (CAST(sb.s AS DOUBLE) / nn.n)) / {_SCALE_SQ} AS cov,
           (CAST(sa.ss_diag AS DOUBLE) / nn.n
            - (CAST(sa.s AS DOUBLE) / nn.n)
              * (CAST(sa.s AS DOUBLE) / nn.n)) / {_SCALE_SQ} AS var_a,
           (CAST(sb.ss_diag AS DOUBLE) / nn.n
            - (CAST(sb.s AS DOUBLE) / nn.n)
              * (CAST(sb.s AS DOUBLE) / nn.n)) / {_SCALE_SQ} AS var_b
    FROM p
    CROSS JOIN nn
    JOIN s sa ON sa.dim = p.dim_a
    JOIN s sb ON sb.dim = p.dim_b
)
SELECT dim_a, dim_b, cov,
       CASE WHEN var_a > 0 AND var_b > 0
            THEN cov / sqrt(var_a * var_b) ELSE NULL END AS corr
FROM c
ORDER BY abs(cov) DESC, dim_a ASC, dim_b ASC
LIMIT {_TOP_PAIRS}
"""


@register(
    "embed_covariance", _ORACLE_EMBED_COVARIANCE,
    tags=("llm", "similarity", "profile"),
)
def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-|cov| correlated dimension pairs of the embedding matrix —
    the redundancy detector dimension-wise profiling can't see: two
    dimensions that encode the same signal show |corr| near 1 while
    each looks healthy to ``embed_dim_stats``; a whitened/PCA'd
    export shows near-zero everywhere off-diagonal.

    Scale: corpus-sized work happens entirely inside an
    Arrow-batched ``mapInPandas`` that folds each partition into ONE
    (n, Σq, ΣqqᵀT) integer partial — numpy does the 64×64 outer
    product, so no (row × d²) table ever exists and the shuffle
    carries O(partitions × 4096) longs, independent of row count.
    The 4096-row reassembly (posexplode + groupBy), the 64-row
    moment joins (broadcast), and the 1-row n (broadcast cross join)
    are all constant-size. Top-K is TakeOrdered over ≤2016 pairs.

    Hash parity: quantizing each float to integer micro-units FIRST
    (``floor(v·1e6 + 0.5)``, exact for float32→float64) makes every
    sum an exact BIGINT — partial order, partition count, and engine
    cannot change it — and cov/var/corr are then computed from those
    exact integers by the IDENTICAL double expression on both
    engines, so even the unrounded doubles match bit-for-bit (the
    sim_ann_recall exact-int-end-to-end precedent). Zero-variance
    dims yield NULL corr on both (guarded division).
    """
    # The partials feed THREE consumers (n, Σq, Σqqᵀ); without a cut
    # each consumer's subtree would re-run the corpus-sized
    # mapInPandas (measured: 10 MapInPandas nodes in the lazy plan).
    # The table is O(partitions) rows ≈ 1 MB and now comes from the
    # content-keyed session cache shared with embed_top_eigen.
    partials = _partials_cached(spark, sf_dir, require_vec_id=True)
    n_tot = partials.agg(F.sum("n").cast("bigint").alias("n"))
    s_tot = (
        partials.select(F.posexplode("s").alias("d0", "q"))
        .groupBy("d0")
        .agg(F.sum("q").cast("bigint").alias("s"))
    )
    ss_tot = (
        partials.select(F.posexplode("ss").alias("idx", "q"))
        .groupBy("idx")
        .agg(F.sum("q").cast("bigint").alias("ss"))
        .select(
            F.expr(f"idx div {_DIM}").alias("i0"),
            (F.col("idx") % _DIM).alias("j0"),
            "ss",
        )
    )
    moments = (
        s_tot.join(
            ss_tot.filter(F.col("i0") == F.col("j0")).select(
                F.col("i0").alias("d0"), F.col("ss").alias("ss_diag")
            ),
            "d0",
        )
        .select(
            (F.col("d0") + 1).cast("bigint").alias("dim"),
            "s",
            "ss_diag",
        )
    )
    pairs = ss_tot.filter(F.col("i0") < F.col("j0")).select(
        (F.col("i0") + 1).cast("bigint").alias("dim_a"),
        (F.col("j0") + 1).cast("bigint").alias("dim_b"),
        "ss",
    )
    ma = moments.select(
        F.col("dim").alias("dim_a"),
        F.col("s").alias("s_a"),
        F.col("ss_diag").alias("ssd_a"),
    )
    mb = moments.select(
        F.col("dim").alias("dim_b"),
        F.col("s").alias("s_b"),
        F.col("ss_diag").alias("ssd_b"),
    )
    n = F.col("n")
    cov = (
        F.col("ss").cast("double") / n
        - (F.col("s_a").cast("double") / n)
        * (F.col("s_b").cast("double") / n)
    ) / F.lit(_SCALE_SQ)
    var_a = (
        F.col("ssd_a").cast("double") / n
        - (F.col("s_a").cast("double") / n)
        * (F.col("s_a").cast("double") / n)
    ) / F.lit(_SCALE_SQ)
    var_b = (
        F.col("ssd_b").cast("double") / n
        - (F.col("s_b").cast("double") / n)
        * (F.col("s_b").cast("double") / n)
    ) / F.lit(_SCALE_SQ)
    return (
        pairs.join(F.broadcast(ma), "dim_a")
        .join(F.broadcast(mb), "dim_b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "dim_a",
            "dim_b",
            cov.alias("cov"),
            F.when(
                (var_a > 0) & (var_b > 0),
                cov / F.sqrt(var_a * var_b),
            ).alias("corr"),
        )
        .orderBy(
            F.abs(F.col("cov")).desc(),
            F.col("dim_a").asc(),
            F.col("dim_b").asc(),
        )
        .limit(_TOP_PAIRS)
    )


# --- int8 quantization error card -----------------------------------

# Symmetric per-vector int8 quantization: scale = max|v| / 127,
# q_i = round(v_i / scale) ∈ [-127, 127] (the max element maps to
# ±127 exactly, so no clamp is needed). The card a pipeline reads
# before committing an embedding store to int8.
_Q_LEVELS = 127

_ORACLE_EMBED_QUANTIZE = f"""
WITH valid AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) AS mx
    FROM embeddings
    WHERE len(embedding) = 64
      AND list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
),
q AS (
    SELECT vec_id, mx,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_Q_LEVELS}.0 / mx
                               + 0.5) AS BIGINT)) AS qv,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM valid
),
err AS (
    SELECT vec_id, mx, qv,
           list_transform(range(1, len(v) + 1),
               i -> CAST(floor(abs(v[i] - qv[i] * (mx / {_Q_LEVELS}.0))
                               * 1000000.0 + 0.5) AS BIGINT)) AS e
    FROM q
)
SELECT vec_id,
       (floor(mx * 1000000.0 + 0.5) / 1000000.0) AS max_abs,
       CAST(list_sum(e) AS BIGINT) AS sum_abs_err_u,
       CAST(list_max(e) AS BIGINT) AS max_abs_err_u,
       CAST(len(list_filter(qv, x -> x = 0)) AS BIGINT) AS n_zero_q
FROM err
"""


@register(
    "embed_quantize_error",
    _ORACLE_EMBED_QUANTIZE,
    tags=("llm", "embedding", "quantization"),
)
def embed_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 symmetric-quantization reconstruction-error
    card: dequantization error mass and peak (in exact integer
    micro-units) plus the count of dimensions that collapse to zero —
    the decision gauge for "can this embedding store ship as int8"
    (4× smaller, SIMD-friendly) that every vector-database migration
    runs first.

    Scale: a pure narrow projection — three higher-order-function
    folds per row, no shuffle, no UDF, no explode; the plan is
    scan → project. Same validity predicate as the similarity family
    (64 dims, norm² > 0 — a zero vector has no quantization scale).

    Hash parity: the quantized code is ``floor(v·127/mx + 0.5)``
    (exact IEEE multiply-divide then the dround floor idiom) and
    every error leaves double-land as ``floor(|v − q·(mx/127)|·1e6 +
    0.5)`` BIGINTs, so the summed/maxed outputs are order-free exact
    integers on both engines; ``max_abs`` is the one rounded double.
    """
    from .similarity import _valid_embeddings

    valid = _valid_embeddings(load(spark, sf_dir, "embeddings"))
    mx = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    d = valid.select("vec_id", "embedding", mx.alias("mx"))
    qv = F.transform(
        "embedding",
        lambda x: F.floor(
            x.cast("double") * F.lit(float(_Q_LEVELS)) / F.col("mx")
            + F.lit(0.5)
        ).cast("bigint"),
    )
    d = d.select("vec_id", "embedding", "mx", qv.alias("qv"))
    e = F.transform(
        F.sequence(F.lit(1), F.size("embedding")),
        lambda i: F.floor(
            F.abs(
                F.element_at("embedding", i).cast("double")
                - F.element_at("qv", i)
                * (F.col("mx") / F.lit(float(_Q_LEVELS)))
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    d = d.select("vec_id", "mx", "qv", e.alias("e"))
    return d.select(
        "vec_id",
        (
            F.floor(F.col("mx") * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("max_abs"),
        F.aggregate(
            "e", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).cast("bigint").alias("sum_abs_err_u"),
        F.array_max("e").cast("bigint").alias("max_abs_err_u"),
        F.size(F.filter("qv", lambda x: x == 0)).cast("bigint").alias(
            "n_zero_q"
        ),
    )


# --- top eigenpair via integer power iteration ----------------------

# Covariance quantized to nano-units before the iteration: |cov| ≤
# 0.25 ⇒ |c| ≤ 2.5e8; with v in micro-units (|v| ≤ 1e6) each
# product is ≤ 2.5e14 and a 64-term BIGINT dot product tops out at
# 1.6e16 — exact in int64 with 500× headroom.
_EIG_C_SCALE = 1_000_000_000.0
_EIG_V_SCALE = 1_000_000
# 64 rounds: the embedding spectrum is nearly flat (top-two eigengap
# measured 1.01-1.07x on the fixtures), so 3 rounds from e1 only
# reached cos 0.45-0.56 to the true top eigenvector — an unconverged
# card. At 64 rounds: cos >= 0.996 and the eigenvalue matches
# numpy.linalg.eigh to ~5 digits (pinned by tests/test_round8_refs).
# Iterations are FREE at any corpus scale: the loop runs on the
# d x d integer matrix (driver numpy / 4096-row oracle CTEs), never
# touching the corpus again.
_EIG_ITERS = 64


def _duck_top_eigen() -> str:
    """Unrolled DuckDB oracle: exact integer moments → bit-identical
    covariance doubles → nano-unit integer matrix → ``_EIG_ITERS``
    integer power steps with L∞ normalization. Mirrors the Spark
    side term for term (the graph_pagerank unrolling discipline)."""
    head = f"""
WITH v AS MATERIALIZED (
    -- rid: per-ROW identity for the cross-moment join (see the
    -- embed_covariance oracle — joining on vec_id cross-multiplies
    -- duplicate-id rows; the duplicate-id sweep row). MATERIALIZED
    -- so rid is minted exactly once, not re-derived per self-join
    -- side under CTE inlining (ADVICE r9).
    SELECT row_number() OVER () AS rid, embedding FROM embeddings
    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
      AND len(embedding) = {_DIM}
),
e AS (
    SELECT rid,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_SCALE}
                      + 0.5) AS BIGINT) AS q
    FROM v
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
s AS (
    SELECT dim, CAST(SUM(q) AS BIGINT) AS s
    FROM e GROUP BY dim
),
p AS (
    SELECT a.dim AS i, b.dim AS j,
           CAST(SUM(a.q * b.q) AS BIGINT) AS ss
    FROM e a
    JOIN e b ON b.rid = a.rid
    GROUP BY a.dim, b.dim
),
cmat AS MATERIALIZED (
    SELECT p.i, p.j,
           CAST(floor(
               ((CAST(p.ss AS DOUBLE) / nn.n
                 - (CAST(sa.s AS DOUBLE) / nn.n)
                   * (CAST(sb.s AS DOUBLE) / nn.n)) / {_SCALE_SQ})
               * {_EIG_C_SCALE} + 0.5) AS BIGINT) AS c
    FROM p
    CROSS JOIN nn
    JOIN s sa ON sa.dim = p.i
    JOIN s sb ON sb.dim = p.j
),
v0 AS MATERIALIZED (
    SELECT i AS j,
           CAST(CASE WHEN i = 1 THEN {_EIG_V_SCALE} ELSE 0 END
                AS BIGINT) AS v
    FROM (SELECT DISTINCT i FROM cmat)
)"""
    ctes = [head]
    prev = "v0"
    for t in range(1, _EIG_ITERS + 1):
        ctes.append(
            f"""x{t} AS MATERIALIZED (
    SELECT c.i, CAST(SUM(c.c * p.v) AS BIGINT) AS x
    FROM cmat c JOIN {prev} p ON c.j = p.j
    GROUP BY c.i
), m{t} AS MATERIALIZED (
    SELECT CAST(MAX(ABS(x)) AS BIGINT) AS mx FROM x{t}
), v{t} AS MATERIALIZED (
    SELECT i AS j,
           CAST(floor((CAST(x AS DOUBLE) / NULLIF(mx, 0))
                      * {_EIG_V_SCALE} + 0.5) AS BIGINT) AS v
    FROM x{t} CROSS JOIN m{t}
)"""
        )
        prev = f"v{t}"
    return (
        ",\n".join(ctes)
        + f"""
SELECT p.j AS dim, p.v AS v_scaled, m.mx AS lam_scaled
FROM {prev} p CROSS JOIN m{_EIG_ITERS} m
"""
    )


_ORACLE_EMBED_TOP_EIGEN = _duck_top_eigen()


@register(
    "embed_top_eigen", _ORACLE_EMBED_TOP_EIGEN,
    tags=("llm", "similarity", "iterative"),
)
def embed_top_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top eigenpair of the embedding covariance matrix by power
    iteration — the PCA direction a pipeline reads before whitening
    an embedding store or diagnosing anisotropic collapse (one
    dominant direction ⇒ the encoder is wasting dimensions; the
    eigenvalue IS the collapse magnitude). 64 rows: the unit-L∞
    eigenvector in 1e-6 units plus the eigenvalue estimate in
    1e-15 units (both exact BIGINTs).

    Scale: the ONLY corpus-sized work is ``_partial_cov``'s Arrow
    fold (shared verbatim with ``embed_covariance`` — the moments
    the two keys read cannot drift). The iteration then runs on the
    DIMENSION-bounded d×d integer matrix (4096 longs — bounded by
    the schema, not the data), pulled once to the driver exactly
    like the IVF centroid set: at 100 TB the corpus pass is one
    map-side-combined shuffle of O(partitions × 4096) longs and the
    iteration cost does not grow at all. (A DataFrame-join
    formulation of the same loop was measured 5× slower here — 10+
    micro-jobs of broadcast scheduling to move 64 rows around.)

    Determinism (the graph_pagerank discipline, applied to linear
    algebra): exact integer moments → covariance doubles computed by
    the IDENTICAL expression on both engines (bit-for-bit, the
    embed_covariance precedent) → quantized to nano-unit BIGINTs, so
    every Σ c·v dot product is an order-free exact int64 (≤1.6e16,
    500× headroom) whether numpy or SQL computes it; the L∞
    renormalization divides two exact ints as float64 and re-floors
    — deterministic IEEE ops on identical inputs. Eigenvector sign
    is pinned by the fixed e₁ start, not by convention.
    """
    # O(partitions)-bounded pull (one ~4 KB row per partition — the
    # IVF-centroid class of driver fetch, never grows with rows per
    # partition); the exact-int partial merge is order-free, so the
    # driver-side reduction is bit-identical to any tree of merges.
    # The partial table itself comes from the content-keyed session
    # cache shared with embed_covariance.
    partials = _partials_cached(spark, sf_dir, require_vec_id=True).toPandas()
    if not len(partials):  # no valid embeddings: the oracle's WITH
        # chain collapses to zero rows — mirror it
        return spark.createDataFrame(
            [], "dim bigint, v_scaled bigint, lam_scaled bigint"
        )
    n_tot = np.int64(partials["n"].to_numpy(np.int64).sum())
    s = np.stack(
        [np.asarray(r, dtype=np.int64) for r in partials["s"]]
    ).sum(axis=0)
    ss = np.stack(
        [np.asarray(r, dtype=np.int64) for r in partials["ss"]]
    ).sum(axis=0).reshape(_DIM, _DIM)
    # covariance doubles by the IDENTICAL elementwise IEEE expression
    # the oracle runs (div, div, mul, sub, div — the _np_cos
    # bit-parity precedent), then the nano-unit quantization
    nd = np.float64(n_tot)
    sd = s.astype(np.float64) / nd
    cov = (ss.astype(np.float64) / nd - np.outer(sd, sd)) / _SCALE_SQ
    C = np.floor(cov * _EIG_C_SCALE + 0.5).astype(np.int64)
    vec = np.zeros(_DIM, dtype=np.int64)
    vec[0] = _EIG_V_SCALE
    mx = np.int64(0)
    for _ in range(_EIG_ITERS):
        x = C @ vec  # exact int64 dot products, ≤1.6e16
        mx = np.abs(x).max()
        if mx == 0:  # degenerate (all-zero covariance): NULLIF twin
            vec = np.full(_DIM, None)
            break
        vec = np.floor(
            x.astype(np.float64) / np.float64(mx)
            * np.float64(_EIG_V_SCALE) + 0.5
        ).astype(np.int64)
    rows = [
        (int(d + 1), None if vec[d] is None else int(vec[d]),
         None if mx == 0 else int(mx))
        for d in range(_DIM)
    ]
    return spark.createDataFrame(
        rows, "dim bigint, v_scaled bigint, lam_scaled bigint"
    )


# --- matryoshka (MRL) truncation quality card ------------------------

# Truncating an embedding to its first k dims (the MRL deployment
# trick: one stored vector serves several cost tiers) keeps the
# fraction ||v[:k]||²/||v||² of its energy, and because the truncated
# vector is a coordinate prefix of the full one, cos(v, v[:k]) =
# ||v[:k]||/||v|| — the energy ratio IS the retrieval-quality gauge.
# Exactness: per-element energy is floored to integer micro-units
# FIRST (floor(v_i²·1e6 + 0.5), BIGINT), so prefix sums are exact
# integers on both engines and no float accumulation order can
# diverge; ratios are rounded to 1e-6 only after one double division.
_MRL_KS = (8, 16, 32)
_MRL_THRESH_U = 900_000  # "keeps ≥ 0.9 of its energy"

_ORACLE_EMBED_MRL = f"""
WITH e AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                               * 1000000.0 + 0.5) AS BIGINT)) AS eng
    FROM embeddings
    WHERE len(embedding) = {_DIM}
),
tot AS (
    SELECT vec_id, eng, CAST(list_sum(eng) AS BIGINT) AS total_u
    FROM e
    WHERE list_sum(eng) > 0
),
per_k AS (
    SELECT t.vec_id, k.k,
           CAST(floor(CAST(list_sum(list_slice(t.eng, 1, k.k))
                           AS DOUBLE)
                      / CAST(t.total_u AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS keep_u
    FROM tot t
    CROSS JOIN (SELECT UNNEST([{", ".join(str(k) for k in _MRL_KS)}])
                AS k) k
)
SELECT CAST(k AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       (floor(CAST(SUM(keep_u) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              + 0.5) / 1000000.0) AS avg_keep,
       (CAST(MIN(keep_u) AS DOUBLE) / 1000000.0) AS min_keep,
       CAST(SUM(CASE WHEN keep_u < {_MRL_THRESH_U} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below_90
FROM per_k
GROUP BY k
"""


@register(
    "embed_mrl_error", _ORACLE_EMBED_MRL, tags=("llm", "embedding")
)
def embed_mrl_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality card: for each candidate prefix
    length k, the energy fraction a truncation to k dims keeps —
    equal to cos²(v, v[:k]), so it is directly the retrieval-quality
    number an MRL deployment trades against k× storage/FLOP savings.
    Reports corpus average, worst vector, and how many vectors fall
    under the 0.9 keep threshold per k.

    Scale: a pure narrow projection — per-element integer-µ-unit
    energies (one ``transform``), prefix sums via ``slice`` +
    ``aggregate`` folds, one |Ks|-way explode, then a |Ks|-row
    aggregate with map-side combine. No shuffle wider than 3 rows
    per partition, no UDF, no pair space.

    Hash parity: energies are floored to integer micro-units before
    any summation (exact BIGINT prefix sums both engines); each
    vector's keep ratio takes ONE double division rounded to 1e-6;
    the corpus average is a BIGINT sum divided once.
    """
    sum_long = lambda arr: F.aggregate(  # noqa: E731 — exact int fold
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    v = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == _DIM
    )
    eng = F.transform(
        "embedding",
        lambda x: F.floor(x * x * F.lit(1_000_000.0) + F.lit(0.5)).cast(
            "long"
        ),
    )
    tot = v.select(
        eng.alias("eng")
    ).withColumn("total_u", sum_long(F.col("eng"))).filter(
        F.col("total_u") > 0
    )
    per_k = tot.select(
        F.explode(
            F.array(*[F.lit(k) for k in _MRL_KS])
        ).alias("k"),
        "eng",
        "total_u",
    ).select(
        F.col("k").cast("int").alias("k"),
        F.floor(
            sum_long(F.slice("eng", 1, F.col("k"))).cast("double")
            / F.col("total_u").cast("double")
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("keep_u"),
    )
    return per_k.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.floor(
                F.sum("keep_u").cast("double")
                / F.count(F.lit(1)).cast("double")
                + F.lit(0.5)
            )
            / F.lit(1_000_000.0)
        ).alias("avg_keep"),
        (F.min("keep_u").cast("double") / F.lit(1_000_000.0)).alias(
            "min_keep"
        ),
        F.sum(
            F.when(F.col("keep_u") < _MRL_THRESH_U, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_below_90"),
    )


# --- product-quantization (PQ) assignment card ------------------------

# The third leg of the embedding-compression triple (int8 =
# embed_quantize_error, prefix truncation = embed_mrl_error, PQ =
# this): split each vector into M subvectors, assign every subvector
# to its nearest codeword in a per-subspace codebook, and report
# codeword occupancy + reconstruction-error mass. Occupancy skew is
# the card's point: a dead codeword wastes a code point, an
# overloaded one means the subspace needs its own training pass.
#
# The codebook is deterministic BY CONSTRUCTION (no k-means RNG to
# diverge on): codeword j of subspace s is the quantized subvector of
# the corpus vector with vec_id = j. Every coordinate is integer
# micro-units (floor(x·1e6 + 0.5), |x| < ~1 ⇒ |q| ≤ ~1e6, squared
# diffs ≤ ~4e12, 8-dim sums exact in int64), so nearest-codeword
# argmins are exact integer comparisons — no FP tie to disagree on;
# exact distance ties break to the smallest codeword id on both
# engines.
_PQ_M = 8          # subspaces (64 dims / 8)
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 16         # codewords per subspace (vec_id 0.._PQ_K-1 seed)

_ORACLE_EMBED_PQ = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                         AS BIGINT)) AS qv
    FROM embeddings
    WHERE len(embedding) = {_DIM}
),
subs AS (
    SELECT vec_id, s.s,
           list_slice(qv, s.s * {_PQ_SUB} + 1,
                      s.s * {_PQ_SUB} + {_PQ_SUB}) AS v
    FROM q
    CROSS JOIN (SELECT UNNEST(range({_PQ_M})) AS s) s
),
cb AS (
    SELECT vec_id AS cw, s, v AS c FROM subs WHERE vec_id < {_PQ_K}
),
dist AS (
    SELECT subs.vec_id, subs.s, cb.cw,
           CAST(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
               i -> (subs.v[i] - cb.c[i]) * (subs.v[i] - cb.c[i])))
               AS BIGINT) AS err
    FROM subs JOIN cb ON subs.s = cb.s
),
best AS (
    SELECT vec_id, s, cw, err,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY err ASC, cw ASC) AS rn
    FROM dist
)
SELECT CAST(s AS INT) AS s,
       CAST(cw AS BIGINT) AS codeword,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(err) AS BIGINT) AS sum_err_u2
FROM best
WHERE rn = 1
GROUP BY s, cw
"""


@register("embed_pq_codes", _ORACLE_EMBED_PQ, tags=("llm", "embedding"))
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment card: per (subspace, codeword),
    how many corpus subvectors map there and how much squared
    reconstruction error they carry — the occupancy/distortion
    readout a PQ-compressed vector store is tuned by. Codebook =
    the quantized subvectors of the first K corpus vectors
    (deterministic; a real deployment would k-means per subspace —
    the PLAN is identical, only the codeword values change).

    Scale: the codebook is M·K tiny integer rows — broadcast; each
    vector explodes to its M subvectors (bounded fan-out), distances
    are an Arrow-free integer fold per (subvector, codeword) pair
    (M·K·len work per vector, the same FLOP count any PQ encoder
    pays), the argmin is a groupBy min(struct) — map-side combining —
    and the final rollup is ≤ M·K rows. No pair space, no Python.

    Hash parity: every distance is an exact int64 sum of squared
    integer-µ-unit diffs; argmin ties break to the smallest codeword
    id via the (err, cw) struct min on both engines.
    """
    q = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == _DIM
    ).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x * F.lit(1_000_000.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    subs = q.select(
        "vec_id",
        F.explode(F.array(*[F.lit(s) for s in range(_PQ_M)])).alias("s"),
        "qv",
    ).select(
        "vec_id",
        "s",
        F.slice(
            "qv", F.col("s") * _PQ_SUB + 1, _PQ_SUB
        ).alias("v"),
    )
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cw"),
        F.col("s").alias("cb_s"),
        F.col("v").alias("c"),
    )
    err = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dist = subs.join(F.broadcast(cb), subs.s == cb.cb_s).select(
        "vec_id", "s", "cw", err.alias("err")
    )
    # r13 optimization round: the (err, cw) argmin is packed into ONE
    # bigint — ``min(err * K + cw)`` — because ``min`` over a STRUCT
    # is not hash-aggregatable (Spark plans a SortAggregate: two full
    # sorts of the M·n subvector frame); over a BIGINT it rides the
    # ordinary HashAggregate with map-side combining (SortAggregate →
    # HashAggregate, 2 Sorts removed — plans/r13/embed_pq_codes_*).
    # Exact: cw ∈ [0, K) and err ≥ 0, so lexicographic (err, cw)
    # order == numeric err·K+cw order. Overflow headroom: the int64
    # l2 fold already bounds per-dim |µ-units| (the oracle computes
    # the same BIGINT sums); packing adds only log2(K)=4 bits on top
    # (fixture err ≤ ~1e13, packed ≤ ~2e14 ≪ 2^63).
    best = (
        dist.groupBy("vec_id", "s")
        .agg(
            F.min(
                F.col("err") * F.lit(_PQ_K).cast("long") + F.col("cw")
            ).alias("enc")
        )
        .select(
            "s",
            (F.col("enc") % _PQ_K).alias("codeword"),
            F.expr(f"enc div {_PQ_K}").alias("err"),
        )
    )
    return best.groupBy(
        F.col("s").cast("int").alias("s"),
        F.col("codeword").cast("bigint").alias("codeword"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.sum("err").cast("bigint").alias("sum_err_u2"),
    )


# --- per-dimension z-score outlier census -----------------------------

# The outlier gate a pipeline runs before indexing a new embedding
# batch. NORM outliers are useless here (the corpus is exactly
# unit-normalized — embed_norm_bins pins that invariant), so the gate
# is per-DIMENSION: a vector is flagged when any component sits more
# than _OUTLIER_SIGMA standard deviations from that dimension's
# corpus mean — the "one weird axis" failure (a clipped activation, a
# NaN replaced by a sentinel, an encoder version skew) that norm and
# bucket diagnostics both miss.
_OUTLIER_SIGMA = 4.0

_ORACLE_EMBED_OUTLIER = f"""
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_SCALE} + 0.5)
                         AS BIGINT)) AS q
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = {_DIM}
),
e AS (
    SELECT vec_id, label,
           CAST(generate_subscripts(q, 1) AS BIGINT) AS dim,
           unnest(q) AS qv
    FROM v
),
stats AS (
    -- greatest(var, 0): the Spark side guards var > 0 (a float-
    -- rounding negative epsilon on a near-constant dimension would
    -- otherwise make sqrt return NaN here and propagate through
    -- list_max while Spark drops the dim — ADVICE r8)
    SELECT dim,
           CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS mu_u,
           sqrt(greatest(CAST(SUM(qv * qv) AS DOUBLE) / COUNT(*)
                - (CAST(SUM(qv) AS DOUBLE) / COUNT(*))
                  * (CAST(SUM(qv) AS DOUBLE) / COUNT(*)), 0.0)) AS sd_u
    FROM e GROUP BY dim
),
sarr AS (
    -- per-row maxz via an array lookup instead of unnest+regroup:
    -- regrouping would need a unique per-row id, which duplicate or
    -- NULL vec_ids cannot guarantee
    SELECT list(mu_u ORDER BY dim) AS mu, list(sd_u ORDER BY dim) AS sd
    FROM stats
),
z AS (
    SELECT v.label,
           list_max(list_transform(range(1, {_DIM} + 1),
               i -> abs((CAST(v.q[i] AS DOUBLE) - sarr.mu[i])
                        / NULLIF(sarr.sd[i], 0.0)))) AS maxz
    FROM v CROSS JOIN sarr
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN maxz > {_OUTLIER_SIGMA} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(SUM(CAST(floor(maxz * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_maxz_u
FROM z
GROUP BY label
"""


@register(
    "embed_outlier_census", _ORACLE_EMBED_OUTLIER,
    tags=("llm", "embedding", "quality"),
)
def embed_outlier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label census of per-dimension z-score outliers: a vector
    is flagged when any component sits > 4σ from its dimension's
    corpus mean. Catches single-axis corruption (clipped activations,
    sentinel-filled NaNs, encoder version skew) that norm and bucket
    diagnostics miss on a unit-normalized store.

    Scale: pass 1 folds the corpus into 64 exact integer moment pairs
    (one JVM hash aggregate, map-side combining — shuffle is O(128)
    longs per partition); the 64 (mu, sd) doubles are then driver-
    embedded as LITERAL arrays (the IVF-centroid class of bounded
    pull — 1 row, never grows with the corpus) so pass 2 is a pure
    narrow map: two zip_with folds + array_max per row, then the
    |labels|-row census. No join, no vector shuffle, no Python.

    Hash parity: moments are exact BIGINTs (the _partial_cov µ-unit
    discipline); mu/sd/z are derived from them by the IDENTICAL
    double expression shape on both engines (Python's int/int
    division and math.sqrt are the same IEEE ops DuckDB runs);
    per-vector maxz is floored to µ-units BEFORE the census sum, so
    the aggregate is exact-int. Zero-variance dims divide by
    NULL(ified) sd and drop out of the max on both engines.
    """
    import math

    raw = load(spark, sf_dir, "embeddings")
    emb = raw.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _DIM)
    )
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(_SCALE) + F.lit(0.5)).cast(
            "long"
        ),
    )
    # pass 1 rides the SHARED _partial_cov Arrow fold (the
    # embed_covariance / embed_top_eigen moment machinery — exact
    # integer partials, O(partitions) rows pulled): the diagonal of
    # Σqqᵀ plus Σq and n are precisely the per-dim moments, and the
    # numpy fold measured ~2x faster than the equivalent 129-column
    # JVM aggregate, which took about 2 s per bench run).
    # Served from the content-keyed session cache (no-vec_id variant:
    # this census keys rows by label only).
    partials = _partials_cached(
        spark, sf_dir, require_vec_id=False
    ).toPandas()
    if not len(partials):
        return spark.createDataFrame(
            [], "label bigint, n_vectors bigint, n_flagged bigint, "
                "sum_maxz_u bigint"
        )
    n = int(np.int64(partials["n"].to_numpy(np.int64).sum()))
    s_vec = np.stack(
        [np.asarray(r, dtype=np.int64) for r in partials["s"]]
    ).sum(axis=0)
    ss_diag = np.stack(
        [np.asarray(r, dtype=np.int64) for r in partials["ss"]]
    ).sum(axis=0).reshape(_DIM, _DIM).diagonal()
    mu, sd = [], []
    for d in range(_DIM):
        mu_u = int(s_vec[d]) / n              # int/int -> IEEE double
        var = int(ss_diag[d]) / n - mu_u * mu_u
        sd_u = math.sqrt(var) if var > 0 else 0.0
        mu.append(mu_u)
        sd.append(None if sd_u == 0.0 else sd_u)
    mu_lit = F.array(*[F.lit(v) for v in mu])
    sd_lit = F.array(
        *[F.lit(v).cast("double") for v in sd]
    )
    dev = F.zip_with(q, mu_lit, lambda a, b: a.cast("double") - b)
    z = F.zip_with(dev, sd_lit, lambda a, b: F.abs(a / b))
    maxz = F.array_max(z)
    return (
        emb.select("label", maxz.alias("maxz"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(
                F.when(F.col("maxz") > _OUTLIER_SIGMA, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
            F.sum(
                F.floor(F.col("maxz") * F.lit(1_000_000.0) + F.lit(0.5))
                .cast("long")
            )
            .cast("bigint")
            .alias("sum_maxz_u"),
        )
    )


# --- per-label centroid drift (embedding distribution monitor) -------

# The distribution-shift gauge a pipeline reads when a new batch (or
# encoder version) lands: how far each label's centroid sits from the
# corpus centroid. A label whose drift jumps between snapshots means
# its vectors moved — encoder skew, a data-mix change, or a poisoned
# slice — before any downstream recall metric degrades.

_ORACLE_EMBED_CENTROID_DRIFT = f"""
WITH q AS (
    SELECT label,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_SCALE} + 0.5)
                AS BIGINT) AS qv
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = {_DIM}
),
per AS (
    SELECT label, dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qv) AS BIGINT) AS s
    FROM q GROUP BY label, dim
),
g AS (
    SELECT label, dim, n,
           CAST(s AS DOUBLE) / n
               - CAST(SUM(s) OVER (PARTITION BY dim) AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY dim) AS gap
    FROM per
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       (floor((sqrt(SUM(gap * gap)) / {_SCALE}) * 1000000.0 + 0.5)
        / 1000000.0) AS drift,
       CAST((MAX(struct_pack(ag := abs(gap), nd := -dim))).nd * -1
            AS BIGINT) AS max_gap_dim,
       (floor(((MAX(struct_pack(ag := abs(gap), nd := -dim))).ag / {_SCALE})
              * 1000000.0 + 0.5) / 1000000.0) AS max_gap
FROM g
GROUP BY label
"""


@register(
    "embed_centroid_drift", _ORACLE_EMBED_CENTROID_DRIFT,
    tags=("llm", "embedding", "profile"),
)
def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid distance from the corpus centroid, plus the
    single dimension contributing the largest gap — the embedding
    drift monitor (see the module-level rationale above).

    Scale: ONE explode + map-side-combining integer aggregation
    collapses the corpus to |labels| × d rows; everything after
    (global sums via a dim-partitioned window, the L2 fold, the
    argmax) runs on that compact table — no second corpus pass, no
    vector ever shuffles twice.

    Hash parity: the per-dim sums are EXACT integers (the
    embed_outlier_census quantization discipline), so every derived
    mean/gap is the identical IEEE double on both engines; sqrt is
    IEEE-exact; the argmax dimension orders on (|gap| DESC, dim ASC)
    via lexicographic struct max — |gap| doubles are bit-identical,
    so ties resolve identically.
    """
    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _DIM)
    )
    ex = e.select(
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                f" * {_SCALE} + 0.5) AS BIGINT))"
            )
        ).alias("pos", "qv"),
    )
    per = ex.groupBy("label", (F.col("pos") + F.lit(1)).alias("dim")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("qv").alias("s")
    )
    wd = Window.partitionBy("dim")
    gap = (
        F.col("s").cast("double") / F.col("n")
        - F.sum("s").over(wd).cast("double") / F.sum("n").over(wd)
    )
    g = per.select("label", "dim", "n", gap.alias("gap"))
    top = F.max(
        F.struct(F.abs("gap").alias("ag"), (-F.col("dim")).alias("nd"))
    )
    return g.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vectors"),
        dround(F.sqrt(F.sum(F.col("gap") * F.col("gap"))) / _SCALE, 6).alias(
            "drift"
        ),
        (top.getField("nd") * F.lit(-1)).cast("bigint").alias("max_gap_dim"),
        dround(top.getField("ag") / _SCALE, 6).alias("max_gap"),
    )


# --- cross-modal coverage: the training-store consistency card -------

# Validity predicate text matches llm/similarity.py's contract
# (exactly _DIM components AND norm² > 0) so "valid" means the same
# thing to the coverage card and to every ANN/dedup consumer.
_DUCK_EMB_VALID = (
    f"len(embedding) = {_DIM} AND "
    "list_sum(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0"
)

_ORACLE_DOCS_EMB_COVERAGE = f"""
WITH e AS (
    -- collapse per embedding IDENTITY first: duplicate vec_ids must
    -- not fan the document join out (the duplicate-id sweep row)
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MAX(CASE WHEN {_DUCK_EMB_VALID} THEN 1 ELSE 0 END) AS any_valid
    FROM embeddings
    GROUP BY vec_id
),
per_source AS (
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_embedded,
           CAST(SUM(CASE WHEN e.any_valid = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valid
    FROM documents d
    LEFT JOIN e ON d.doc_id = e.vec_id
    GROUP BY d.source
),
orphans AS (
    -- NOT EXISTS, not NOT IN: a NULL vec_id must count as an orphan
    -- on both engines instead of poisoning the whole predicate
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(any_valid), 0) AS BIGINT) AS nv
    FROM e
    WHERE NOT EXISTS (
        SELECT 1 FROM documents dd WHERE dd.doc_id = e.vec_id
    )
)
SELECT source, n_docs, n_embedded, n_valid,
       CAST(floor(CAST(n_embedded AS DOUBLE) / n_docs * 1000000.0 + 0.5)
            AS BIGINT) AS coverage_ppm
FROM per_source
UNION ALL
SELECT '(orphan embeddings)', CAST(0 AS BIGINT), n, nv,
       CAST(NULL AS BIGINT)
FROM orphans
"""


@register(
    "docs_embedding_coverage", _ORACLE_DOCS_EMB_COVERAGE,
    tags=("llm", "embedding", "quality"),
)
def docs_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal training-store consistency card: per document
    source, how many documents exist, how many have an embedding row
    (keyed ``doc_id = vec_id``), how many of those embeddings are
    VALID under the ANN contract (exactly {_DIM} components, norm² >
    0 — the same predicate every similarity/dedup consumer applies),
    and the coverage in ppm — plus one ``(orphan embeddings)`` row
    counting embedding identities with no document at all. This is
    the first gate a curation pipeline checks before trusting any
    embedding-driven stage: silent coverage holes bias dedup and ANN
    toward whatever DID get embedded.

    Scale: both tables are corpus-sized at 100 TB, so the join is an
    id-keyed shuffle join (bucket both stores on the id to make it
    co-located and exchange-free); embeddings collapse per identity
    BEFORE the join (duplicate rows never fan the document side),
    the census is a groupBy(source) with map-side combine over a
    handful of groups, and the orphan branch is a LEFT ANTI join +
    one-row aggregate. Output is sources + 1 rows.

    Hash parity: pure integer counts; coverage_ppm is one IEEE
    division floored to integer ppm (the hit_ppm discipline); NULL
    sources group, NULL join keys never match, and a NULL vec_id
    lands in the orphan row via NOT EXISTS / LEFT ANTI on both
    engines.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    norm_sq = F.aggregate(
        "embedding",
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    valid = (F.size("embedding") == _DIM) & (norm_sq > 0)
    e = emb.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.max(F.when(valid, 1).otherwise(0)).alias("any_valid"),
    )
    per_source = (
        docs.join(e, docs.doc_id == e.vec_id, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_embedded"),
            F.sum(
                F.when(F.col("any_valid") == 1, 1).otherwise(0)
            ).cast("bigint").alias("n_valid"),
        )
        .select(
            "source", "n_docs", "n_embedded", "n_valid",
            F.floor(
                F.col("n_embedded").cast("double") / F.col("n_docs")
                * 1000000.0 + 0.5
            ).cast("bigint").alias("coverage_ppm"),
        )
    )
    orphan = (
        e.join(
            docs.select("doc_id"), e.vec_id == F.col("doc_id"), "left_anti"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_embedded"),
            F.coalesce(F.sum("any_valid"), F.lit(0)).cast("bigint").alias(
                "n_valid"
            ),
        )
        .select(
            F.lit("(orphan embeddings)").alias("source"),
            F.lit(0).cast("bigint").alias("n_docs"),
            "n_embedded",
            "n_valid",
            F.lit(None).cast("bigint").alias("coverage_ppm"),
        )
    )
    return per_source.unionByName(orphan)
