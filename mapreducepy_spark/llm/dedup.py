"""Deduplication operators over ``documents`` (SURVEY.md §2.10 L1–L2
plus SimHash and n-gram-Jaccard variants).

Four tiers, cheapest-first — a real corpus pipeline runs them as a
funnel (exact → near-candidate generation → verified similarity):

1. ``dedup_exact``      — byte-identical texts (hash groupBy).
2. ``dedup_near``       — MinHash + LSH banding candidate pairs.
3. ``dedup_simhash``    — SimHash bucket clustering.
4. ``dedup_ngram_jaccard`` — exact shingle-set Jaccard via an
   inverted-index join (verifies candidates; never cartesian).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session_cache
from ..io import load, load_spread
from ..operators.sampling import split_case_sql, split_col
from ..registry import register
from ..rounding import dround
from ..warehouse import ensure_table, gc_stale_tables, table_name, warehouse_path
from . import DUCK_SHINGLES, SPARK_SHINGLES

_ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact", _ORACLE_DEDUP_EXACT, tags=("llm", "dedup"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — exact dedup: one keeper (min doc_id) per distinct text.

    Scale: groupBy on the 128-bit digest, never the full text — the
    shuffle carries 16-byte keys, not documents. Survivors join back
    to the corpus by doc_id. (md5 here for oracle parity; xxhash64 +
    a collision-check pass at production scale.)
    """
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --- MinHash + LSH -------------------------------------------------
# 8 portable hash functions from ONE md5 per shingle: h_i = the hex
# digest rotated by 4·i chars (a left-rotation permutes the hash
# order, giving 8 independent-enough rankings at 1/8th the hash
# cost — measured 14.5 s → the md5 calls dominated). The min over a
# doc's shingle set is a lexicographic min of hex strings (identical
# in both engines). 8 minhashes → 4 bands of 2 → docs sharing any
# band signature become candidate pairs.

_N_HASHES = 8
_BAND_SIZE = 2
_N_BANDS = _N_HASHES // _BAND_SIZE


def _rot(col: str, i: int) -> str:
    """Hex-rotation hash i (SQL text valid in Spark SQL and DuckDB)."""
    s = 4 * i
    if s == 0:
        return col
    return f"(substring({col}, {s + 1}, {32 - s}) || substring({col}, 1, {s}))"


def _duck_lsh_ctes() -> str:
    """The shingle→minhash→band CTE chain (shared by ``dedup_near``
    and ``dedup_clusters`` oracles)."""
    mins = ",\n           ".join(
        f"min({_rot('h', i)}) AS mh{i}" for i in range(_N_HASHES)
    )
    bands = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, mh{2 * b} || mh{2 * b + 1} AS sig FROM mh"
        for b in range(_N_BANDS)
    )
    return f"""sh AS (
    SELECT DISTINCT doc_id, md5(shingle) AS h
    FROM (SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM documents)
),
mh AS (
    SELECT doc_id,
           {mins}
    FROM sh
    GROUP BY doc_id
),
bands AS (
{bands}
),
cand_pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)"""


def _duck_cc_ctes(pairs: str) -> str:
    """Connected components of the pair CTE ``pairs`` (columns
    ``doc_a``, ``doc_b``) as the CTE ``cc(doc_id, cluster_id)``, the
    min doc_id of each doc's component; follows a ``WITH RECURSIVE``
    chain that defines ``pairs``. ``edges`` and ``cc`` are
    MATERIALIZED: DuckDB inlines a CTE at each reference, so an
    inlined ``edges`` re-evaluates the pair CTE at every recursion
    step and an inlined ``cc`` re-runs the recursion per reference."""
    return f"""edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM {pairs}
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM {pairs}
),
reach(doc_id, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.doc_id = e.dst
),
cc AS MATERIALIZED (
    SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
)"""


def _duck_minhash_lsh() -> str:
    return f"""
WITH {_duck_lsh_ctes()}
SELECT doc_a, doc_b FROM cand_pairs
"""


@register("dedup_near", _duck_minhash_lsh(), tags=("llm", "dedup", "lsh"))
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — near-dup candidate pairs via MinHash + LSH banding.

    Pipeline: shingle (3-word) → 8 minhashes → 4 band signatures →
    bucket-join. With band size 2, docs with Jaccard j collide in a
    band w.p. j²; any-of-4-bands gives the usual S-curve.

    Scale: THE point of LSH — candidate generation is a groupBy on
    band signature + within-bucket pairing, never an all-pairs join.
    Bucket skew (boilerplate shingles) is the risk: cap bucket size /
    drop top-DF shingles at production scale. Feed pairs to
    ``dedup_ngram_jaccard`` to verify.
    """
    return _candidate_pairs_cached(spark, sf_dir)


def _minhash_table(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    """One row per doc_id with the 8 minhash columns ``mh0..mh7``.
    Callers with an already-materialized (doc_id, shingle) index pass
    it as ``shingles`` so the corpus is exploded once, not twice —
    min() is duplicate-insensitive, so the index's distinct() changes
    nothing."""
    if shingles is not None:
        sh = shingles.select("doc_id", F.md5("shingle").alias("h"))
    else:
        # spread: MinHash/shingle fan-out is CPU-dense per input byte
        # (8 hash rotations x every shingle / pair joins), so one task
        # per core wins 2–3x even on a 594 KB input
        docs = load_spread(spark, sf_dir, "documents")
        # no .distinct() before the min-aggregation: min() is duplicate-
        # insensitive, so deduplicating (doc_id, h) first would only add
        # a full shuffle of the exploded shingle set for the same result
        # (the oracle's DISTINCT is likewise semantically inert there)
        sh = docs.select(
            "doc_id", F.explode(F.expr(SPARK_SHINGLES)).alias("shingle")
        ).select("doc_id", F.md5("shingle").alias("h"))
    return sh.groupBy("doc_id").agg(
        *[F.min(F.expr(_rot("h", i))).alias(f"mh{i}") for i in range(_N_HASHES)]
    )


def _band_table(mh: DataFrame) -> DataFrame:
    """(doc_id, band, sig) — one row per document per LSH band.

    One explode, NOT a 4-way union of selects from ``mh``: union
    branches are separate plan subtrees, so Spark would recompute the
    whole shingle+minhash aggregation once per band (measured ~4x
    cost). Shared by ``_candidate_pairs`` (the bucket join) and
    ``lsh_band_stats`` (the tuning diagnostic over the same table).
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")).alias("sig"),
            )
            for b in range(_N_BANDS)
        ]
    )
    return mh.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _candidate_pairs(
    spark: SparkSession, sf_dir: str, minhashes: DataFrame | None = None
) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a < doc_b), shared by
    ``dedup_near``, ``dedup_clusters``, ``dedup_near_verified`` and
    ``dedup_minhash_est`` (the latter passes its already-materialized
    signature table as ``minhashes``)."""
    mh = minhashes if minhashes is not None else _minhash_table(spark, sf_dir)
    bands = _band_table(mh)
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_duck_lsh_ctes()},
{_duck_cc_ctes("cand_pairs")}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id
FROM cc
"""


@register("dedup_clusters", _ORACLE_DEDUP_CLUSTERS, tags=("llm", "dedup", "graph"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate-pair graph:
    cluster_id = min doc_id reachable through near-dup edges — the
    step that turns PAIRS into dedup GROUPS (keep cluster_id, drop
    the rest).

    The candidate EDGE list is tiny relative to the corpus (that is
    the whole point of LSH banding), so the components are solved
    with a path-compressed union-find on the driver: one collect of
    the edges, one Spark job, one round (``_connected_components``).

    Non-SQL-expressible in one shot, but DuckDB's recursive CTE
    computes the identical fixpoint, so this stays hash-checkable.
    """
    return _clusters_cached(spark, sf_dir)


def _connected_components(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Connected components of a (doc_a, doc_b) edge list, shared by
    ``dedup_clusters`` (LSH candidates) and
    ``dedup_survivors_verified`` (exact-Jaccard-verified edges).

    One collect of the edges feeds a union-find with path compression
    and union-by-size; cluster_id = min member of the component."""
    pdf = pairs.toPandas()
    parent: dict[int, int] = {}
    size: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if size.get(ra, 1) < size.get(rb, 1):
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] = size.get(ra, 1) + size.get(rb, 1)
    cluster_min: dict[int, int] = {}
    for node in parent:
        root = find(node)
        cluster_min[root] = min(cluster_min.get(root, node), node)
    out = pd.DataFrame(
        {
            "doc_id": list(parent),
            "cluster_id": [cluster_min[find(n)] for n in parent],
        }
    )
    return spark.createDataFrame(out, "doc_id bigint, cluster_id bigint")


# --- SimHash -------------------------------------------------------
# 16-bit SimHash from the first 4 hex chars of md5(token): bit b of
# the hash is the sign of Σ_tokens (2·bit_b(md5(token)) − 1).
# Hex digit → int via instr('0123456789abcdef', ch) − 1 (portable).

_N_BITS = 16


def _bit_contrib(b: int) -> str:
    """±1 contribution of md5(token)'s bit ``b`` (same SQL text is
    valid in Spark SQL and DuckDB)."""
    hex_pos = b // 4 + 1
    shift = 2 ** (b % 4)
    return (
        f"(2 * (cast(floor((instr('0123456789abcdef', "
        f"substring(md5(token), {hex_pos}, 1)) - 1) / {shift}) as int) % 2) - 1)"
    )


def _duck_simhash() -> str:
    sums = ",\n           ".join(
        f"SUM({_bit_contrib(b)}) AS s{b}" for b in range(_N_BITS)
    )
    hash_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_N_BITS)
    )
    return f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
),
sums AS (
    SELECT doc_id,
           {sums}
    FROM toks
    WHERE token <> ''
    GROUP BY doc_id
)
SELECT CAST({hash_expr} AS BIGINT) AS simhash16,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM sums
GROUP BY 1
"""


@register("dedup_simhash", _duck_simhash(), tags=("llm", "dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash clustering: 16-bit signature per doc; docs sharing a
    signature are near-dup candidates (keeper = min doc_id).

    Scale: one explode + one groupBy(doc_id) (16 integer sums ride
    the same aggregate) + one groupBy(signature) — shuffle volume is
    O(docs), not O(pairs). Production: 64-bit signature via xxhash64
    + Hamming-distance banding (split into 4×16-bit sub-keys).
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    sums = toks.groupBy("doc_id").agg(
        *[F.sum(F.expr(_bit_contrib(b))).alias(f"s{b}") for b in range(_N_BITS)]
    )
    hash_col = None
    for b in range(_N_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        hash_col = term if hash_col is None else hash_col + term
    return (
        sums.select("doc_id", hash_col.cast("bigint").alias("simhash16"))
        .groupBy("simhash16")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# --- exact n-gram Jaccard via inverted-index join ------------------

_JACCARD_THRESHOLD = 0.5

# Session-scoped cache of the funnel's shared intermediate tables,
# keyed by (applicationId, artifact tag, source file identity+content
# fingerprint). Three artifacts live here:
#
# - the distinct (doc_id, shingle) inverted index — built by FOUR
#   funnel keys (dedup_ngram_jaccard, dedup_jaccard_capped,
#   dedup_containment, and _candidate_jaccard behind
#   dedup_near_verified + dedup_threshold_sweep); VERDICT r7 work
#   order #2;
# - the 8-column minhash signature table (one row per doc) and the
#   LSH candidate-pair list — rebuilt per builder call before round
#   9, when the band self-join ran once per consumer key per timed
#   run (``dedup_near_verified`` took 4.1 s in BENCH_r08); now once
#   per session per fixture.
#
# Without the cache every builder call — and every one of bench.py's
# 3 timed runs — re-pays the corpus explode / signature aggregation /
# band self-join for identical input bytes. The cache itself lives in
# ``session_cache.fixture_cached`` (content-keyed on the documents
# parquet, shared with llm/text.py's term-counts/tf-idf core).


def _funnel_cached(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Content-keyed session cache: run ``build`` once per
    (session, artifact, fixture content), localCheckpoint the result,
    serve the checkpointed table to every later caller."""
    return session_cache.fixture_cached(spark, sf_dir, "documents", tag, build)


def _shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's shared inverted index: distinct (doc_id, shingle)
    over ``documents``, localCheckpoint-ed once per (session, fixture
    content) and reused by every exact-verification consumer."""

    def build() -> DataFrame:
        # spread: MinHash/shingle fan-out is CPU-dense per input byte
        # (8 hash rotations x every shingle / pair joins), so one task
        # per core wins 2–3x even on a 594 KB input
        docs = load_spread(spark, sf_dir, "documents")
        return docs.select(
            "doc_id", F.explode(F.expr(SPARK_SHINGLES)).alias("shingle")
        ).distinct()

    return _funnel_cached(spark, sf_dir, "shingle_index", build)


def _minhash_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed 8-column minhash signature table, built from the
    cached shingle index so the corpus is exploded at most once per
    (session, fixture) across the whole funnel. min() is duplicate-
    insensitive, so riding the distinct()-ed index is value-identical
    to the direct explode."""
    return _funnel_cached(
        spark,
        sf_dir,
        "minhash",
        lambda: _minhash_table(
            spark, sf_dir, shingles=_shingle_index(spark, sf_dir)
        ),
    )


def _candidate_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed LSH candidate-pair list: the band self-join runs
    once per (session, fixture), not once per consumer key per timed
    bench run (the r8 `dedup_near_verified` 4.1 s trip)."""
    return _funnel_cached(
        spark,
        sf_dir,
        "cand_pairs",
        lambda: _candidate_pairs(
            spark, sf_dir, minhashes=_minhash_cached(spark, sf_dir)
        ),
    )


def _clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed connected-components labels (doc_id → cluster_id):
    the union-find runs once per (session, fixture) and is shared by
    ``dedup_clusters``, ``dedup_cluster_histogram`` and
    ``split_by_cluster`` — the CC fixpoint is the funnel's most
    expensive per-consumer recompute after the pairs themselves."""
    return _funnel_cached(
        spark,
        sf_dir,
        "clusters",
        lambda: _connected_components(
            spark, _candidate_pairs_cached(spark, sf_dir)
        ),
    )

_ORACLE_DEDUP_JACCARD = f"""
WITH sh AS (
    SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle
    FROM documents
),
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       (floor((CAST(i.n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - i.n_common)) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE)
      / (sa.n_shingles + sb.n_shingles - i.n_common) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard", _ORACLE_DEDUP_JACCARD, tags=("llm", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity ≥ 0.5 between document pairs.

    The pair space is generated by an inverted-index self-join on the
    shingle (only pairs sharing ≥1 shingle are ever materialized),
    then |A∩B| via count and |A∪B| = |A|+|B|−|A∩B|.

    Scale: shuffle on shingle. Every shingle stays in the index, so a
    boilerplate shingle shared by d documents costs O(d²) pairs —
    fine at fixture scale, a hot key on a power-law corpus, where
    ``dedup_jaccard_capped`` (Jaccard over a document-frequency-capped
    index) is the operator to run. Used as the verifier behind
    ``dedup_near``'s candidates.

    The index is ``localCheckpoint``-ed: it feeds three plan subtrees
    (sizes + both join sides), and materializing it once replaces
    extra corpus explode passes with block reads — same rationale as
    ``dedup_jaccard_capped``.

    The pair table is itself a funnel artifact since r14 (VERDICT r13
    #5): two keys consume the identical ≥-threshold true-pair table —
    this one and ``dedup_minhash_recall``'s true-pair side — so the
    inverted-index intersection runs once per (session, fixture
    content) instead of once per consumer per timed run.
    """
    return _funnel_cached(
        spark,
        sf_dir,
        "true_jaccard_pairs",
        lambda: _jaccard_pairs(_shingle_index(spark, sf_dir)),
    )


def _jaccard_pairs(sh: DataFrame) -> DataFrame:
    """Inverted-index Jaccard machinery shared by the exact and the
    df-capped operators: ``sh`` is a distinct (doc_id, shingle) index;
    pairs sharing ≥1 indexed shingle get |A∩B| via count and
    |A∪B| = |A|+|B|−|A∩B| (sizes measured over the SAME index)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", dround(jac, 6).alias("jaccard"))
    )


# Document-frequency cap for the skew-bounded variant. Fixture
# shingle df tops out at 7–9, so cap 3 (the ~90th percentile)
# actually exercises the drop path at every SF while keeping the
# result non-empty (24 / 25 / 1036 pairs at sf0.001/0.01/0.1 —
# an empty-vs-empty oracle match would prove nothing).
_DF_CAP = 3

_ORACLE_DEDUP_JACCARD_CAPPED = f"""
WITH sh0 AS (
    SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle
    FROM documents
),
rare AS (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {_DF_CAP}
),
sh AS (
    SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)
),
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       (floor((CAST(i.n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - i.n_common)) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE)
      / (sa.n_shingles + sb.n_shingles - i.n_common) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_jaccard_capped", _ORACLE_DEDUP_JACCARD_CAPPED, tags=("llm", "dedup"))
def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-bounded n-gram Jaccard: identical inverted-index machinery
    to ``dedup_ngram_jaccard``, but shingles with document frequency
    above ``_DF_CAP`` are dropped from the index first.

    This is the stop-shingle mitigation the exact operator's
    docstring promises, as tested code: a shingle appearing in d
    documents contributes d·(d−1)/2 candidate pairs, so one
    crawl-boilerplate shingle shared by 1M documents would emit
    5·10¹¹ pairs — the cap turns the worst shingle's cost from
    O(d²) into O(cap²). Jaccard is then computed over the capped
    index on BOTH sides of the comparison (sizes and intersections),
    which is the standard "drop stopword shingles, then exact"
    near-dup pipeline.

    Scale: one extra vocabulary-sized aggregation (df per shingle)
    before the same join; everything downstream now has a hard
    per-key fan-out bound, which is what makes the plan safe on a
    power-law shingle distribution.

    The exploded+distinct index is ``localCheckpoint``-ed before use:
    it feeds FOUR plan subtrees (the df aggregation, sizes, and both
    sides of the pair join), and without materialization Catalyst
    re-executes the full corpus explode per subtree — at 100 TB that
    is three wasted corpus passes (round-2 bench: 2.56 s vs the
    uncapped operator's 1.97 s, from exactly this recompute —
    VERDICT.md r2 "What's wrong" #3).
    """
    return _jaccard_pairs(_df_capped_index(spark, sf_dir))


def _df_capped_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's (doc_id, shingle) index without the shingles whose
    document frequency is above ``_DF_CAP`` — the stop-shingle skew
    bound of ``dedup_jaccard_capped`` and ``dedup_containment``. One
    vocabulary-sized aggregation, then a self-semi-join on the
    surviving shingles."""
    sh0 = _shingle_index(spark, sf_dir)
    rare = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _DF_CAP)
        .select("shingle")
    )
    return sh0.join(rare, "shingle").select("doc_id", "shingle")


# --- canonical-record selection ------------------------------------

_ORACLE_DEDUP_KEEP_FIRST = """
SELECT doc_id, lang, n_chars
FROM (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
"""


@register("dedup_keep_first", _ORACLE_DEDUP_KEEP_FIRST, tags=("llm", "dedup"))
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-record selection: emit the SURVIVING ROWS of exact
    dedup (lowest doc_id per distinct text), not just the digest
    census ``dedup_exact`` reports. This is the operator a pipeline
    actually materializes — the deduplicated corpus itself.

    Scale: one window shuffle keyed on the 16-byte digest (documents
    never ride the shuffle as the key); ``row_number`` keeps O(1)
    state per group. At 100 TB prefer the equivalent
    ``groupBy(digest).agg(min_by(struct(...)))`` form if group-by
    partial aggregation beats the sort — both are one shuffle on the
    same key; row_number is used here because min-of-struct ordering
    is engine-specific while "lowest doc_id" is not.
    """
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


# --- benchmark decontamination -------------------------------------

# The "held-out eval set": documents whose keyed md5 bucket falls
# under ~5% (first hex byte < '0d' = 13/256). Deterministic and
# engine-independent, same trick as operators/sampling.py.
_EVAL_CUT = "0d"

_ORACLE_TEXT_DECONTAMINATE = f"""
WITH tagged AS (
    SELECT doc_id, lang, text,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_EVAL_CUT}' AS is_eval
    FROM documents
)
SELECT t.doc_id, t.lang
FROM tagged t
WHERE NOT t.is_eval
  AND NOT EXISTS (
      SELECT 1 FROM tagged e
      WHERE e.is_eval AND md5(e.text) = md5(t.text)
  )
"""


@register(
    "text_decontaminate", _ORACLE_TEXT_DECONTAMINATE,
    tags=("llm", "dedup", "decontamination"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training document whose
    content fingerprint appears in the held-out eval split (here a
    deterministic 5% md5-bucket of doc_ids standing in for a real
    benchmark). The kept rows are the safe-to-train-on corpus.

    Scale: the blocklist is (n_eval distinct digests) — megabytes even
    when the corpus is 100 TB — so it BROADCASTS and the anti-join is
    a narrow map over the training side: zero shuffle of the corpus.
    This is the shape that matters; a shuffled anti-join on the full
    corpus would move 100 TB to remove 5% of it. Fingerprint here is
    whole-text md5; swap in n-gram shingle digests (dedup_ngram_*)
    for fuzzy decontamination without changing the join shape.

    Size assumption made explicit (pipeline_clean_corpus inherits
    it): "eval set" means a fixed held-out benchmark — its digest
    count does NOT scale with the corpus; the fixture's 5% md5
    bucket only stands in for one. A blocklist that genuinely grows
    with the corpus needs the hint removed (AQE then sizes the join)
    or the count guard used by dedup_survivors_verified.
    """
    docs = load(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    tagged = docs.withColumn("is_eval", h2 < _EVAL_CUT).withColumn(
        "text_hash", F.md5("text")
    )
    block = tagged.filter("is_eval").select("text_hash").distinct()
    return (
        tagged.filter(~F.col("is_eval"))
        .join(F.broadcast(block), "text_hash", "left_anti")
        .select("doc_id", "lang")
    )


# --- LSH candidates -> exact verification (the production funnel) --

# Shared CTE chain: LSH candidates -> exact shingle-set intersection.
# ONE string feeds both dedup_near_verified and dedup_threshold_sweep
# (this machinery has absorbed multiple parity fixes — tie-breaks,
# NULL text, length filters — and a drifted copy would silently miss
# the next one; same rationale as _duck_lsh_ctes / _band_table).
_DUCK_VERIFY_CTES = f"""{_duck_lsh_ctes()},
shset AS (
    SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle
    FROM documents
),
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM shset GROUP BY doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM cand_pairs c
    JOIN shset a ON a.doc_id = c.doc_a
    JOIN shset b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY c.doc_a, c.doc_b
)"""

_ORACLE_DEDUP_NEAR_VERIFIED = f"""
WITH {_DUCK_VERIFY_CTES}
SELECT i.doc_a, i.doc_b,
       (floor((CAST(i.n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - i.n_common)) * 1000000.0 + 0.5)
            / 1000000.0) AS jaccard,
       CAST(i.n_common AS DOUBLE)
           / (sa.n_shingles + sb.n_shingles - i.n_common)
           >= {_JACCARD_THRESHOLD} AS is_dup
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""


@register(
    "dedup_near_verified", _ORACLE_DEDUP_NEAR_VERIFIED,
    tags=("llm", "dedup", "lsh"),
)
def dedup_near_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup funnel as ONE operator: MinHash-LSH
    candidate generation (``dedup_near``) followed by exact shingle-set
    Jaccard verification of ONLY those candidates — every pair comes
    back with its true Jaccard and an ``is_dup`` verdict at the 0.5
    threshold (false positives of the banding survive with
    is_dup=false; this is the precision/recall ledger a pipeline
    monitors).

    Scale: this is why the funnel exists — the exact verification's
    pair space is the LSH candidate set (0.015% of all pairs on the
    fixtures), not the inverted-index pair space, so the expensive
    exact step touches only what the cheap probabilistic step
    surfaced. The shingle index is computed once and localCheckpoint-ed
    (it feeds sizes and both intersection probes); the intersection is
    a candidate⋈shingle equi-join, shuffling on doc_id. The whole
    core is the shared ``_candidate_jaccard`` (one parity fix serves
    this operator and ``dedup_threshold_sweep``).
    """
    return _candidate_jaccard(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        "jaccard",
        (F.col("jac_raw") >= _JACCARD_THRESHOLD).alias("is_dup"),
    )


def _candidate_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard for every LSH candidate pair — the
    shared verification core of ``dedup_near_verified``,
    ``dedup_threshold_sweep`` and (through the near-verified edge
    list) ``dedup_survivors_verified`` (Spark twin of
    ``_DUCK_VERIFY_CTES``). Emits ``jac_raw`` (full double, for
    threshold verdicts on the unrounded value) and ``jaccard``
    (micro-unit rounded, the emitted/banded form).

    Since r14 the verified-pair table itself is a funnel artifact
    (VERDICT r13 work order #5 — the builder's parked candidate,
    sanctioned once the cold-run accounting of work order #2 made
    fill costs visible in the bench artifact): the candidate⋈shingle
    intersection runs once per (session, fixture content) and its
    O(candidate-pair)-sized result is localCheckpoint-ed and shared
    by the three consumer keys, instead of re-paying the
    intersection per consumer per timed run. The fill is timed
    inside whichever key's run-1 triggers it and is itemized in
    bench.py's ``artifact_fills`` line."""
    return _funnel_cached(
        spark,
        sf_dir,
        "verified_pairs",
        lambda: _candidate_jaccard_build(spark, sf_dir),
    )


def _candidate_jaccard_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verification pass itself (see ``_candidate_jaccard``)."""
    sh = _shingle_index(spark, sf_dir)
    cand = _candidate_pairs_cached(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jac_raw"),
            dround(jac, 6).alias("jaccard"),
        )
    )


# --- n-gram contamination RATE (the metric behind the binary gate) --

_ORACLE_TEXT_CONTAMINATION = f"""
WITH tagged AS (
    SELECT doc_id, text,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_EVAL_CUT}' AS is_eval
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, is_eval, unnest({DUCK_SHINGLES}) AS shingle
    FROM tagged
),
eval_sh AS (
    SELECT DISTINCT shingle FROM sh WHERE is_eval
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(e.shingle) AS BIGINT) AS n_contaminated,
       (floor((CAST(COUNT(e.shingle) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5)
            / 1000000.0) AS contamination_rate
FROM sh s
LEFT JOIN eval_sh e ON s.shingle = e.shingle
WHERE NOT s.is_eval
GROUP BY s.doc_id
"""


@register(
    "text_contamination_ngram", _ORACLE_TEXT_CONTAMINATION,
    tags=("llm", "dedup", "decontamination"),
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram contamination RATE against the held-out
    eval split: the fraction of a training document's distinct 3-word
    shingles that also occur anywhere in the eval set — the standard
    n-gram-overlap decontamination metric (the graded sibling of
    ``text_decontaminate``'s binary whole-text gate; pipelines drop or
    down-weight docs above a rate threshold).

    Scale: the eval shingle vocabulary is tiny relative to the corpus
    (5% of docs, distinct shingles only) so it BROADCASTS, and the
    contamination check is a broadcast left join over the training
    shingle index — the corpus shuffles once, on doc_id, for the
    per-doc aggregate. Same blocklist-broadcast shape as
    ``text_decontaminate``, with counts instead of existence.
    """
    def build() -> DataFrame:
        # spread: the shingle explode + distinct is CPU-dense per
        # input byte, so one task per core wins 2x even on a 594 KB
        # input (round-5 interleaved measurement)
        docs = load_spread(spark, sf_dir, "documents")
        h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        tagged = docs.withColumn("is_eval", h2 < _EVAL_CUT)
        return tagged.select(
            "doc_id",
            "is_eval",
            F.explode(F.expr(SPARK_SHINGLES)).alias("shingle"),
        ).distinct()

    # The index is materialized ONCE per (session, fixture content):
    # it feeds both the eval vocabulary and the training-side probe
    # (recomputing per consumer measured 1.8x slower), AND bench's 3
    # timed runs — the pre-r9 per-call localCheckpoint still paid the
    # explode+distinct per call. (Measured variants: a narrow per-doc
    # array_distinct loses to the shuffled distinct here —
    # array_distinct is per-row quadratic on ~100-shingle arrays
    # while the shuffle gets map-side partial dedup.)
    sh = _funnel_cached(spark, sf_dir, "shingle_index_eval", build)
    eval_sh = sh.filter("is_eval").select("shingle").distinct()
    e = eval_sh.withColumn("__hit", F.lit(1))
    return (
        sh.filter(~F.col("is_eval"))
        .join(F.broadcast(e), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
            dround(
                F.count("__hit").cast("double") / F.count(F.lit(1)), 6
            ).alias("contamination_rate"),
        )
    )


# --- sketch-accuracy ledger: estimated Jaccard from the signatures --

def _duck_minhash_est() -> str:
    matches = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(_N_HASHES)
    )
    return f"""
WITH {_duck_lsh_ctes()}
SELECT c.doc_a, c.doc_b,
       CAST(({matches}) AS BIGINT) AS n_matching_hashes,
       (floor((CAST(({matches}) AS DOUBLE) / {_N_HASHES}) * 1000000.0 + 0.5)
        / 1000000.0) AS est_jaccard
FROM cand_pairs c
JOIN mh a ON a.doc_id = c.doc_a
JOIN mh b ON b.doc_id = c.doc_b
"""


@register("dedup_minhash_est", _duck_minhash_est(), tags=("llm", "dedup", "lsh"))
def dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-side Jaccard ESTIMATE for every LSH candidate pair: the
    fraction of the 8 minhashes that agree — the number a pipeline
    compares against ``dedup_near_verified``'s exact Jaccard to
    monitor sketch accuracy and tune band/row counts before trusting
    the sketch at full scale (where exact verification is sampled,
    not exhaustive).

    Scale: the signature table is ONE row per doc (8 fixed-width
    columns) and is localCheckpoint-ed because it feeds both the band
    join and the two signature probes — without it the corpus would
    be re-shingled per consumer. The estimate join shuffles only
    signatures keyed by doc_id; documents and shingles never ride it.
    """
    mh = _minhash_cached(spark, sf_dir)
    cand = _candidate_pairs_cached(spark, sf_dir)
    a = mh.alias("a")
    b = mh.alias("b")
    matches = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    )
    return (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            matches.cast("bigint").alias("n_matching_hashes"),
            dround(matches.cast("double") / _N_HASHES, 6).alias("est_jaccard"),
        )
    )


# --- prefix-digest duplicate groups ---------------------------------

# Tokens of leading context that define the prefix fingerprint.
_PREFIX_TOKENS = 16

_ORACLE_DEDUP_PREFIX = f"""
WITH pref AS (
    SELECT doc_id,
           md5(array_to_string(
               string_split(text, ' ')[1:{_PREFIX_TOKENS}], ' '
           )) AS prefix_digest
    FROM documents
    WHERE text IS NOT NULL
)
SELECT prefix_digest,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM pref
GROUP BY prefix_digest
HAVING COUNT(*) >= 2
"""


@register(
    "dedup_prefix", _ORACLE_DEDUP_PREFIX, tags=("llm", "dedup"),
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint duplicate groups: documents whose first 16
    tokens (``_PREFIX_TOKENS``) hash identically. Catches the duplicate
    class whole-text md5 (``dedup_exact``) structurally cannot —
    truncation variants and shared-lead boilerplate, where the same
    article is re-crawled with a different tail — without the
    shingle machinery's cost. Sits between exact and near dedup in
    the funnel: run it after exact, before MinHash.

    Scale: the fingerprint is a narrow ``slice(split(...))``
    projection (both engines clamp the slice on shorter documents,
    so no length guard is needed); the only shuffle is
    groupBy(digest) over 16-byte digests with map-side combine —
    text never rides the exchange, the ``dedup_exact`` argument.

    Hash parity: md5 over the identically reconstructed prefix
    string; counts and min-doc selection are exact integers.
    NULL-text rows are filtered on BOTH sides first: Spark's
    ``concat_ws`` maps a NULL token array to the EMPTY string (so a
    NULL-text doc would silently join the empty-text duplicate
    group) while DuckDB's ``array_to_string`` yields NULL — the one
    divergent NULL path in this fragment pair (found by review; a
    ``read_jsonl`` line omitting the text field produces exactly
    this row shape).
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    pref = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.split("text", " "), 1, _PREFIX_TOKENS)
            )
        ).alias("prefix_digest"),
    )
    return (
        pref.groupBy("prefix_digest")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --- LSH tuning diagnostics: per-band bucket statistics -------------

_ORACLE_LSH_BAND_STATS = f"""
WITH {_duck_lsh_ctes()},
bucket_sizes AS (
    SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM bands
    GROUP BY band, sig
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       CAST(MAX(cnt) AS BIGINT) AS max_bucket,
       CAST(SUM(cnt * (cnt - 1)) AS BIGINT) // 2 AS n_cand_pairs
FROM bucket_sizes
GROUP BY band
"""


@register(
    "lsh_band_stats", _ORACLE_LSH_BAND_STATS,
    tags=("llm", "dedup", "lsh", "diagnostic"),
)
def lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket statistics: bucket count, documents, the
    largest bucket, and the candidate-pair volume Σ C(size, 2) each
    band will feed into the bucket join. This is the tuning gauge a
    pipeline reads BEFORE running ``dedup_near`` at full scale: the
    pair volume is exactly the join's output cardinality, and
    ``max_bucket`` is the skew ceiling (one hot bucket of size s
    costs s² pairs on a single key). Band/row counts get adjusted
    until these numbers are affordable — measuring them costs two
    aggregations; discovering them mid-join costs the cluster.

    Scale: the corpus-sized work is the shared shingle→minhash
    aggregation (``_minhash_table``); after ``_band_table`` the
    groupBy(band, sig) shuffles one 32-byte row per doc per band with
    map-side combine, and the final groupBy(band) sees only
    aggregated bucket rows. All-integer arithmetic (pairs×2 then an
    integer halving — n·(n−1) is always even) so the hash parity is
    exact by construction.
    """
    buckets = _band_table(_minhash_cached(spark, sf_dir)).groupBy(
        "band", "sig"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.max("cnt").cast("bigint").alias("max_bucket"),
            F.sum(F.expr("cnt * (cnt - 1)")).cast("bigint").alias("pairs_x2"),
        )
        .select(
            "band",
            "n_buckets",
            "n_docs",
            "max_bucket",
            F.expr("pairs_x2 DIV 2").alias("n_cand_pairs"),
        )
    )


# --- cross-source duplication matrix --------------------------------

_ORACLE_DEDUP_CROSS_SOURCE = """
WITH d AS (
    SELECT DISTINCT md5(text) AS dig, source FROM documents
)
SELECT a.source AS source_a,
       b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.dig = b.dig AND a.source < b.source
GROUP BY 1, 2
"""


@register(
    "dedup_cross_source", _ORACLE_DEDUP_CROSS_SOURCE,
    tags=("llm", "dedup", "provenance"),
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every ordered source pair
    (a < b), how many distinct document texts appear in BOTH — the
    provenance overlap table that decides which ingest feeds are
    mirrors of each other and which order to dedup them in (keep the
    higher-quality source's copy).

    Scale: the self-join keys on the 16-byte md5 digest of the
    DISTINCT (digest, source) table — #distinct-texts × #sources
    rows, documents never ride the shuffle. Per-digest fan-out is
    bounded by #sources (vs. per-copy for a doc-level join), so a
    text duplicated a million times across 5 sources contributes
    C(5,2) pairs, not 10¹². (md5 for oracle parity; xxhash64 at
    production scale — the dedup_exact rule.)
    """
    d = (
        load(spark, sf_dir, "documents")
        .select(F.md5("text").alias("dig"), "source")
        .distinct()
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.dig") == F.col("b.dig"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


# --- verified-cluster survivors (the funnel endgame) ----------------

_ORACLE_DEDUP_SURVIVORS_VERIFIED = f"""
WITH RECURSIVE {_duck_lsh_ctes()},
shset AS (
    SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle
    FROM documents
),
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM shset GROUP BY doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM cand_pairs c
    JOIN shset a ON a.doc_id = c.doc_a
    JOIN shset b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY c.doc_a, c.doc_b
),
vpairs AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
          / (sa.n_shingles + sb.n_shingles - i.n_common)
          >= {_JACCARD_THRESHOLD}
),
{_duck_cc_ctes("vpairs")},
drops AS (
    SELECT doc_id FROM cc WHERE cluster_id <> doc_id
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id)
"""


@register(
    "dedup_survivors_verified", _ORACLE_DEDUP_SURVIVORS_VERIFIED,
    tags=("llm", "dedup", "graph"),
)
def dedup_survivors_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup funnel's ENDGAME: LSH candidates → exact-Jaccard
    verification → connected components over only the VERIFIED edges
    → emit the surviving corpus (per cluster, the lowest doc_id
    lives; every isolated document lives). This is the row set a
    production dedup pass actually materializes — `dedup_clusters`
    groups raw candidates (banding false positives glue clusters
    together), this operator clusters only proven duplicates.

    Scale: the verification funnel bounds the exact-Jaccard work to
    the LSH candidate set (dedup_near_verified argument); the CC runs
    over verified EDGES (strictly fewer than candidates; one driver
    union-find, `_connected_components`); the final
    materialization is an anti-join of the drop list against the
    corpus, planned from the drop list's size: under the broadcast
    threshold it is a broadcast and the corpus never shuffles to
    delete its duplicates (the text_decontaminate shape).
    """
    verified = (
        dedup_near_verified(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select("doc_a", "doc_b")
    )
    cc = _connected_components(spark, verified)
    # The planner sizes the drop list itself: the union-find's
    # relation carries its exact size, so a small drop list is
    # broadcast from the start.
    drops = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    docs = load(spark, sf_dir, "documents")
    return docs.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# --- containment (asymmetric near-dup: truncations / quotations) ----

# Containment |A∩B| / min(|A|,|B|) catches pairs Jaccard structurally
# cannot: a 10-token prefix of a 1000-token doc has J ≈ 0.01 but
# C = 1.0. Threshold below the Jaccard one because the denominator is
# smaller by construction.
_CONTAINMENT_THRESHOLD = 0.7

_ORACLE_DEDUP_CONTAINMENT = f"""
WITH sh0 AS (
    SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle
    FROM documents
),
rare AS (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {_DF_CAP}
),
sh AS (
    SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)
),
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       (floor((CAST(i.n_common AS DOUBLE)
             / LEAST(sa.n_shingles, sb.n_shingles)) * 1000000.0 + 0.5)
           / 1000000.0) AS containment,
       (floor((CAST(i.n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - i.n_common)) * 1000000.0
             + 0.5) / 1000000.0) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE)
      / LEAST(sa.n_shingles, sb.n_shingles) >= {_CONTAINMENT_THRESHOLD}
"""


@register(
    "dedup_containment", _ORACLE_DEDUP_CONTAINMENT, tags=("llm", "dedup")
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT
    |A∩B| / min(|A|,|B|) — the truncation/quotation catcher. Jaccard
    normalizes by the union, so a short doc fully embedded in a long
    one (a crawl of the same article cut at a paywall, a doc quoting
    another wholesale) scores near zero and survives Jaccard dedup;
    containment scores it 1.0. Emits both measures per surviving pair
    so the asymmetry gap is visible downstream.

    Scale: the ``dedup_jaccard_capped`` machinery — ONE
    localCheckpoint'd inverted index, DF-CAPPED at ``_DF_CAP``,
    feeding sizes and both join sides; the pair space is generated
    only for pairs sharing ≥1 RARE shingle (never all-pairs,
    plan-asserted via the shared family test). The cap is
    load-bearing here, not optional: containment is the operator
    duplicate-dense corpora run, and on the 10× stress fixture
    (duplicate density ×10) the UNCAPPED index grew 11.3× in time as
    near-identical copies pairwise-joined on every shared shingle —
    measured, which is why this operator starts capped. Truncation
    pairs survive the cap: a prefix's shingles are shared by exactly
    the docs containing that lead — the rare end of the df
    distribution. Sizes are measured over the SAME capped index (the
    jaccard_capped consistency rule). The only change vs Jaccard is
    the denominator — pure post-aggregation arithmetic.

    Hash parity: integer counts; the two ratios are
    exact-int-divided-once, dround 1e-6, and the threshold compare
    runs on the UNROUNDED double on both engines.
    """
    # the raw index is checkpointed ONCE (and shared across the whole
    # funnel via _shingle_index); the capped join is recomputed per
    # subtree from block reads — the exact dedup_jaccard_capped
    # structure (its docstring has the measured recompute cost)
    sh = _df_capped_index(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    cont = F.col("n_common").cast("double") / F.least(
        F.col("sa.n_shingles"), F.col("sb.n_shingles")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(cont >= _CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            dround(cont, 6).alias("containment"),
            dround(jac, 6).alias("jaccard"),
        )
    )


# --- Jaccard threshold sweep (the tuning card) ----------------------

_ORACLE_DEDUP_THRESHOLD_SWEEP = f"""
WITH {_DUCK_VERIFY_CTES},
jacs AS (
    SELECT (floor((CAST(i.n_common AS DOUBLE)
                 / (sa.n_shingles + sb.n_shingles - i.n_common))
                * 1000000.0 + 0.5) / 1000000.0) AS j
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
),
banded AS (
    SELECT LEAST(CAST(floor(j * 10.0) AS BIGINT), 9) / 10.0 AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM jacs
    GROUP BY 1
)
SELECT threshold, n_pairs,
       CAST(SUM(n_pairs) OVER (
           ORDER BY threshold DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_pairs_at_or_above
FROM banded
"""


@register(
    "dedup_threshold_sweep",
    _ORACLE_DEDUP_THRESHOLD_SWEEP,
    tags=("llm", "dedup", "lsh"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair volume per Jaccard band over the LSH candidate
    set — the "choose your threshold" tuning card: for each 0.1-wide
    similarity band, how many candidate pairs land there, and how
    many pairs a cutoff at that band's floor would keep
    (``n_pairs_at_or_above``). A pipeline reads this BEFORE fixing
    the dedup threshold; the knee of the cumulative column IS the
    threshold decision.

    Scale: IDENTICAL machinery (and cost envelope) to
    ``dedup_near_verified`` — both operators consume the shared
    ``_candidate_jaccard`` core, so the exact Jaccard only ever
    touches LSH candidates and the shingle index is
    localCheckpoint-ed once — plus a ≤10-row aggregate and a window
    over that 10-row table (driver-trivial). The sweep is therefore
    FREE relative to the verification pass a production funnel
    already runs, and a parity fix to the core applies to both
    operators by construction.

    Hash parity: Jaccard is rounded to micro-units (the registered
    formula) BEFORE banding, so the band boundary decision is made
    on bit-identical values; band floors and counts are exact
    integers; the cumulative sum is ordered on the 10 distinct band
    keys — no ties, engine-free.
    """
    jacs = _candidate_jaccard(spark, sf_dir).select(
        F.col("jaccard").alias("j")
    )
    banded = (
        jacs.select(
            (
                F.least(
                    F.floor(F.col("j") * 10.0).cast("bigint"), F.lit(9)
                )
                / F.lit(10.0)
            ).alias("threshold")
        )
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    from pyspark.sql.window import Window

    w = (
        Window.orderBy(F.col("threshold").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return banded.select(
        "threshold",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias(
            "n_pairs_at_or_above"
        ),
    )


# --- cluster-size distribution of the near-dup graph ----------------

_ORACLE_CLUSTER_HISTOGRAM = f"""
WITH RECURSIVE {_duck_lsh_ctes()},
{_duck_cc_ctes("cand_pairs")},
sizes AS (
    SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
UNION ALL
SELECT CAST(1 AS BIGINT),
       CAST((SELECT COUNT(doc_id) FROM documents)
            - (SELECT COUNT(*) FROM cc) AS BIGINT),
       CAST((SELECT COUNT(doc_id) FROM documents)
            - (SELECT COUNT(*) FROM cc) AS BIGINT)
"""


@register(
    "dedup_cluster_histogram", _ORACLE_CLUSTER_HISTOGRAM,
    tags=("llm", "dedup", "lsh"),
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph — the ledger a
    pipeline reads BEFORE deduplicating: how many docs sit in pairs,
    how many in large boilerplate clusters (the distribution's tail
    decides whether keep-one-per-cluster is safe or a giant cluster
    needs manual inspection), plus the singleton line (docs in no
    candidate pair at all, the corpus's unique mass).

    Scale: rides the cached candidate pairs + the driver CC (one
    shuffle, one collect); the histogram itself is two map-side-combining
    aggregations over |docs-in-clusters| rows, then a 2-scalar
    cross join for the singleton row — no corpus-sized shuffle
    beyond what the funnel already paid. CC clusters are ≥2 docs by
    construction, so the synthesized size-1 row can never collide
    with a computed one.
    """
    cc = dedup_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    ).select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs"),
    )
    total = load(spark, sf_dir, "documents").agg(
        F.count("doc_id").alias("n")
    )
    in_cc = cc.agg(F.count(F.lit(1)).alias("m"))
    single = total.crossJoin(in_cc).select(
        F.lit(1).cast("bigint").alias("cluster_size"),
        (F.col("n") - F.col("m")).cast("bigint").alias("n_clusters"),
        (F.col("n") - F.col("m")).cast("bigint").alias("n_docs"),
    )
    return hist.unionByName(single)


# --- leakage-safe corpus split: assign by CLUSTER, not document ------

_ORACLE_SPLIT_BY_CLUSTER = f"""
WITH RECURSIVE {_duck_lsh_ctes()},
{_duck_cc_ctes("cand_pairs")},
k AS (
    SELECT d.lang,
           COALESCE(c.cluster_id, d.doc_id) AS rep
    FROM documents d LEFT JOIN cc c ON d.doc_id = c.doc_id
),
s AS (
    SELECT lang, rep,
           substring(md5(CAST(rep AS VARCHAR)), 1, 2) AS h2
    FROM k
)
SELECT {split_case_sql()} AS split,
       lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups
FROM s GROUP BY 1, 2
"""


@register(
    "split_by_cluster", _ORACLE_SPLIT_BY_CLUSTER,
    tags=("llm", "dedup", "sampling"),
)
def split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the hash bucket keys on the
    NEAR-DUP CLUSTER REPRESENTATIVE (min doc_id of the LSH connected
    component; a doc in no candidate pair represents itself), so two
    near-duplicate documents can NEVER land in different splits — the
    eval-contamination channel ``sample_split`` leaves open (a
    paraphrase of a training doc in the test set) is structurally
    closed. Reported as per-(split, lang) doc and group counts; the
    same predicate applied as a filter materializes one split.

    The split chain (md5 first-byte cuts, 80/10/10) is IMPORTED from
    ``operators/sampling`` — the operator, the manifest keys and this
    cluster-keyed variant share one expression, so thresholds cannot
    drift. Leak-freedom is by CONSTRUCTION: the split label is a pure
    function of the cluster representative, so no cluster — hence no
    near-dup pair — spans two splits (no flag column needed; there is
    nothing data-dependent to certify).

    Scale: rides the session-cached candidate pairs + driver CC
    (``_clusters_cached``) — zero marginal funnel cost after any
    other cluster consumer; the assignment itself is a broadcast-able
    doc_id→cluster join (cluster labels are pair-graph-sized, orders
    of magnitude under the corpus) + one md5 per row + a tiny
    aggregate. At 100 TB the labels table outgrowing broadcast turns
    the join into one equi shuffle; the algebra is unchanged.

    Hash parity: counts are exact integers; the oracle recomputes the
    identical CC fixpoint via DuckDB's recursive CTE and the identical
    CASE cuts (``split_case_sql``). NULL doc_id rows (quarantine)
    have NULL rep → the CASE falls to its ELSE arm ('test') in BOTH
    engines (NULL comparisons are falsy in a CASE/when chain), and
    COUNT(DISTINCT rep) ignores NULLs on both sides. Duplicate doc_id
    fixture rows each inherit the same rep (the labels table is
    unique per doc_id on both sides).
    """
    docs = load(spark, sf_dir, "documents")
    labels = _clusters_cached(spark, sf_dir)
    k = docs.join(labels, "doc_id", "left").select(
        "lang",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep"),
    )
    h2 = F.substring(F.md5(F.col("rep").cast("string")), 1, 2)
    return k.groupBy(split_col(h2).alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("rep").cast("bigint").alias("n_groups"),
    )


# --- incremental dedup: today's delta against the standing corpus ----

# The delta ("today's crawl") is the md5 tail of the doc_id space —
# the same deterministic keyed-hash selection discipline as the
# sampling family, so membership is engine- and re-run-stable. 'e6'
# keeps ~10% of docs (230/256 of the first-byte space below it).
_DELTA_CUT = "e6"

_ORACLE_DEDUP_INCREMENTAL = f"""
WITH {_duck_lsh_ctes()},
delta AS (
    SELECT DISTINCT doc_id FROM documents
    WHERE doc_id IS NOT NULL
      AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '{_DELTA_CUT}'
),
partners AS (
    SELECT a.doc_id AS da, b.doc_id AS db,
           (d2.doc_id IS NOT NULL) AS db_in_delta
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.sig = b.sig
                AND a.doc_id <> b.doc_id
    JOIN delta d ON d.doc_id = a.doc_id
    LEFT JOIN delta d2 ON d2.doc_id = b.doc_id
),
counts AS (
    SELECT da,
           CAST(COUNT(DISTINCT CASE WHEN NOT db_in_delta THEN db END)
                AS BIGINT) AS n_corpus_partners,
           CAST(COUNT(DISTINCT CASE WHEN db_in_delta THEN db END)
                AS BIGINT) AS n_delta_partners
    FROM partners GROUP BY da
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(c.n_corpus_partners, 0) AS n_corpus_partners,
       COALESCE(c.n_delta_partners, 0) AS n_delta_partners,
       CASE WHEN COALESCE(c.n_corpus_partners, 0) > 0 THEN 'dup_of_corpus'
            WHEN COALESCE(c.n_delta_partners, 0) > 0 THEN 'dup_within_delta'
            ELSE 'unique' END AS verdict
FROM delta d LEFT JOIN counts c ON c.da = d.doc_id
"""


@register(
    "dedup_incremental", _ORACLE_DEDUP_INCREMENTAL,
    tags=("llm", "dedup", "lsh", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup triage — the shape a
    production pipeline actually runs DAILY: classify each document
    of the newest ingest batch as ``dup_of_corpus`` (collides with a
    standing-corpus doc — drop it, the corpus already has it),
    ``dup_within_delta`` (only collides inside today's batch — keep
    one), or ``unique``, with the distinct partner counts per class.
    The full-corpus pair keys (``dedup_near``/``dedup_clusters``)
    re-derive the WHOLE pair space; this key touches only the
    delta's LSH bands — you never re-pair 100 TB because one day
    arrived.

    Delta membership is the md5-tail bucket of doc_id (~10%, cut
    '{_DELTA_CUT}') — the sampling family's keyed-hash discipline, so
    the "batch" is deterministic, engine-independent and re-run
    stable (a real deployment substitutes its ingest-date predicate;
    the algebra is unchanged).

    Scale: the band table is the session-cached funnel artifact (at
    deployment: the persisted band INDEX the corpus maintains); the
    probe is bands⋈bands restricted to delta probes — an equi
    bucket-join whose left side is |delta| × 4 bands, NOT the
    corpus. Partner classification is a broadcast-able semi-lookup
    against the delta id set; the per-doc aggregate is
    map-side-combining. Work scales with the DELTA and its bucket
    collisions, exactly like the daily job.

    Hash parity: partner counts are exact COUNT(DISTINCT) integers;
    verdict is a CASE over them; delta membership uses the identical
    md5-prefix text both sides. NULL doc_id never enters the delta
    (NULL fails the cut predicate in both engines); short texts with
    no shingles produce no bands and land as 'unique' via the final
    left join. Duplicate doc_id fixture rows collapse: delta is
    DISTINCT doc_id and the minhash table is one signature per
    doc_id on both sides.
    """
    return _incremental_triage(
        spark, sf_dir, _band_table(_minhash_cached(spark, sf_dir))
    )


def _incremental_triage(
    spark: SparkSession, sf_dir: str, bands: DataFrame
) -> DataFrame:
    """The delta-vs-corpus classification shared by
    ``dedup_incremental`` (session-cached band table) and
    ``dedup_incremental_indexed`` (the PERSISTED band index) — the
    band source is the only thing that differs between the two."""
    docs = load(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    delta = (
        docs.filter(F.col("doc_id").isNotNull() & (h2 >= _DELTA_CUT))
        .select("doc_id")
        .distinct()
    )
    probe = bands.join(delta, "doc_id")  # delta-side bands only
    b = bands.alias("b")
    partners = (
        probe.alias("a")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .join(
            delta.select(F.col("doc_id").alias("dd")).alias("d2"),
            F.col("b.doc_id") == F.col("dd"),
            "left",
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("dd").isNotNull().alias("db_in_delta"),
        )
    )
    counts = partners.groupBy("da").agg(
        F.countDistinct(
            F.when(~F.col("db_in_delta"), F.col("db"))
        ).cast("bigint").alias("n_corpus_partners"),
        F.countDistinct(
            F.when(F.col("db_in_delta"), F.col("db"))
        ).cast("bigint").alias("n_delta_partners"),
    )
    out = delta.join(counts, delta.doc_id == counts.da, "left")
    n_c = F.coalesce(F.col("n_corpus_partners"), F.lit(0))
    n_d = F.coalesce(F.col("n_delta_partners"), F.lit(0))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n_c.alias("n_corpus_partners"),
        n_d.alias("n_delta_partners"),
        F.when(n_c > 0, "dup_of_corpus")
        .when(n_d > 0, "dup_within_delta")
        .otherwise("unique")
        .alias("verdict"),
    )


# --- persisted band index (the standing nightly-pipeline artifact) ---

# Writer-recipe version for the persisted band index, folded into the
# table fingerprint (same discipline as joins._BUCKET_WRITER_V): the
# adoption path trusts a directory's layout purely from its name, so
# the name must pin everything the writer guarantees — LSH geometry,
# bucket count, schema. Bump on any change; old dirs then stop
# matching and age out via GC instead of re-registering stale layouts.
_BANDIDX_WRITER_V = 2

# Bucket count of the stored index on its probe key (band, sig). The
# at-scale contract: a delta probe join on (band, sig) against the
# bucketed index shuffles only the DELTA side (or broadcasts it) —
# the corpus-sized index is never re-shuffled after the one write.
_BANDIDX_BUCKETS = 8


def _ensure_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Write the corpus LSH band table (doc_id, band, sig) ONCE per
    fixture content as a persisted parquet table BUCKETED BY
    (band, sig), and return the table name. This is the standing
    index a nightly dedup pipeline maintains: the corpus-sized
    shingle→minhash→band computation is paid at index-build time,
    and every later delta run only SCANS the stored index — nothing
    corpus-sized recomputes per delta (VERDICT r11 #4).

    Lifecycle (content-fingerprinted name, `_SOURCE` sidecar, GC of
    dead-fixture orphans with concurrency grace, `_SUCCESS`-gated
    adoption via DDL): the shared ``mapreducepy_spark.warehouse``
    machinery — the same path the bucketed fact tables ride, proven
    by tests/test_bucketed.py and extended to this index by
    tests/test_band_index.py.
    """
    import os
    import re

    writer_tag = f"writer=v{_BANDIDX_WRITER_V}"
    src = os.path.abspath(f"{sf_dir}/documents.parquet")
    recipe = [
        writer_tag,
        f"buckets={_BANDIDX_BUCKETS}",
        f"lsh={_N_HASHES}h/{_BAND_SIZE}r",
        "schema=doc_id,band,sig",
    ]
    name = table_name("bandidx", recipe, [src])
    wh = warehouse_path(spark)
    gc_stale_tables(
        spark,
        wh,
        re.compile(r"^bandidx_[0-9a-f]{12}$"),
        {name},
        writer_tag,
    )

    def _build() -> None:
        (
            _band_table(_minhash_cached(spark, sf_dir))
            .repartition(_BANDIDX_BUCKETS, F.col("band"), F.col("sig"))
            .write.bucketBy(_BANDIDX_BUCKETS, "band", "sig")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )

    ensure_table(
        spark,
        name,
        wh,
        f"CLUSTERED BY (band, sig) INTO {_BANDIDX_BUCKETS} BUCKETS",
        _build,
        writer_tag,
        [src],
    )
    return name


def append_band_index(
    spark: SparkSession, name: str, docs: DataFrame
) -> None:
    """Nightly index maintenance: shingle→minhash→band ONLY the new
    documents (delta-sized work) and ``insertInto`` the stored index
    — Spark honors the table's bucket spec on insert, so the layout
    contract (probe joins on (band, sig) never re-shuffle the index)
    survives the append. The corpus is never re-read.

    The fixture-fingerprinted ``bandidx_*`` tables mint a NEW name
    whenever the source bytes change, so against the static test
    fixtures this function is exercised on table copies
    (tests/test_band_index.py); a production deployment keys the
    index by corpus VERSION and appends each ingest day into it.
    """
    sh = docs.select(
        "doc_id", F.explode(F.expr(SPARK_SHINGLES)).alias("shingle")
    )
    bands = _band_table(_minhash_table(spark, "", shingles=sh))
    bands.write.insertInto(name)


@register(
    "dedup_incremental_indexed", _ORACLE_DEDUP_INCREMENTAL,
    tags=("llm", "dedup", "lsh", "incremental", "warehouse"),
)
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` riding the PERSISTED band index — the
    true nightly-pipeline shape: the corpus band table is a stored,
    bucketed warehouse artifact (``_ensure_band_index``), so a delta
    run's plan SCANS the index table instead of recomputing the
    shingle→minhash→band funnel. Same triage algebra, same oracle,
    same answer — the deliverable is the plan: per-delta work is
    delta shingling ZERO (the probe filters the stored index by
    delta membership) plus the bucket-join against the index.

    Scale: at 100 TB the index is corpus-sized but the probe side is
    |delta| rows — broadcast (or, unbroadcastable, shuffled to the
    index's bucket count so only the delta moves). The index write
    is paid once per corpus version; the nightly append of
    yesterday's delta bands into the index is the natural extension
    (same bucket spec, `INSERT INTO`).

    Hash parity: identical to ``dedup_incremental`` — the band
    source is value-identical (the stored table IS the session band
    table, materialized), and everything downstream is shared code
    (``_incremental_triage``).
    """
    name = _ensure_band_index(spark, sf_dir)
    return _incremental_triage(spark, sf_dir, spark.table(name))


# --- LSH recall audit: candidates vs ALL true pairs ------------------

_ORACLE_MINHASH_RECALL = f"""
WITH {_duck_lsh_ctes()},
xsh AS (
    SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle
    FROM documents
),
sizes AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM xsh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM xsh a
    JOIN xsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
tp AS (
    SELECT i.doc_a, i.doc_b,
           (floor((CAST(i.n_common AS DOUBLE)
                 / (sa.n_shingles + sb.n_shingles - i.n_common))
                  * 1000000.0 + 0.5) / 1000000.0) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
          / (sa.n_shingles + sb.n_shingles - i.n_common)
          >= {_JACCARD_THRESHOLD}
),
j AS (
    SELECT least(floor(t.jaccard * 10) / 10, 0.9) AS band_lo,
           CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
    FROM tp t
    LEFT JOIN cand_pairs c
      ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT band_lo,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(caught) AS BIGINT) AS n_caught,
       (floor((CAST(SUM(caught) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5)
        / 1000000.0) AS recall
FROM j GROUP BY band_lo
"""


@register(
    "dedup_minhash_recall", _ORACLE_MINHASH_RECALL,
    tags=("llm", "dedup", "lsh"),
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH RECALL by true-Jaccard band: of all pairs with exact
    Jaccard ≥ 0.5, what fraction did the MinHash/LSH candidate
    generation catch, bucketed by the pair's true similarity. The
    missing half of the sketch-quality ledger: ``dedup_minhash_est``
    audits estimate accuracy ON candidates (precision side);
    this key audits what the banding MISSED — the number that
    decides whether 8 hashes × 4 bands is enough before trusting the
    sketch at full scale, read band-by-band because LSH recall is
    an S-curve in j (catch probability 1-(1-j²)⁴), so a healthy
    sketch shows recall rising toward 1.0 in the top band.

    Scale: the true-pair side is the documented intrinsic pair-space
    gauge (inverted-index join over shared shingles — the audit is
    EXPECTED to cost more than the sketch it audits; a deployment
    runs it sampled). The candidate side rides the session cache.
    Both sides shuffle on doc pairs only.

    Hash parity: bands derive from the micro-rounded jaccard via
    floor on bit-identical doubles; counts exact; recall is
    exact-int division, rounded.
    """
    true_pairs = dedup_ngram_jaccard(spark, sf_dir)
    cand = _candidate_pairs_cached(spark, sf_dir).withColumn(
        "caught", F.lit(1)
    )
    j = true_pairs.join(cand, ["doc_a", "doc_b"], "left")
    caught = F.coalesce(F.col("caught"), F.lit(0))
    band = F.least(F.floor(F.col("jaccard") * 10) / 10, F.lit(0.9))
    return j.groupBy(band.alias("band_lo")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(caught).cast("bigint").alias("n_caught"),
        dround(
            F.sum(caught).cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
    )
