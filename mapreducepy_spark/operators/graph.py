"""Classic iterated-MapReduce graph algorithms (SURVEY.md §1.1 —
PageRank is THE canonical iterated-MR example the paradigm papers
use; triangle counting is its standard companion), re-expressed as
bounded DataFrame plans.

Two deliberate graph choices keep both operators scale-honest:

- ``graph_pagerank`` runs on the part↔supplier BIPARTITE graph from
  ``lineitem`` (edge = this supplier shipped this part). PageRank's
  cost is EDGE-linear per iteration — no wedge blowup — so any graph
  works; this one is the natural supply-network centrality question.
- ``graph_knn_triangles`` counts triangles on the MUTUAL-kNN graph
  of the embeddings table. A co-occurrence projection (suppliers
  sharing a part, customers sharing an item) over uniform fixtures
  densifies with scale factor — wedge count grows ~quadratically in
  the key-fanout and the count becomes scale-degenerate (the
  ``agg_global_share`` lesson). The mutual-kNN graph has degree ≤ K
  BY CONSTRUCTION at every scale, so wedges ≤ n·C(K,2) and the
  triangle join stays linear in nodes forever. It is also the graph
  an LLM-data pipeline actually builds (semantic-cluster structure
  of the embedding space).

Hash parity: every PageRank value is an exact BIGINT in 1e-12 units
— initial mass, damping, and per-edge contributions all use integer
truncating division (Spark ``div`` ≡ DuckDB ``//`` on positive
BIGINTs), so partial-aggregation order can never perturb a rank.
No doubles exist anywhere in the iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..session_cache import fixture_cached
from ..rounding import dround

# Total rank mass in integer pico-units (1e12 ≈ "1.0"): big enough
# that per-node truncation error is invisible at any fixture scale,
# small enough that 85·mass stays far below 2^63.
_PR_SCALE = 1_000_000_000_000
_PR_ITERS = 3
_DAMP_NUM = 85  # damping 0.85 as an exact rational
_DAMP_DEN = 100

# Graph window: one shipment year. Centrality of the 1996 supply
# network is as meaningful as all-time centrality, the date predicate
# pushes to the parquet scan, and the edge list shrinks ~7× (pair
# reuse across years is low, so distinct pairs scale with the window)
# — the iteration cost is edge-linear, so the window IS the knob a
# production run would turn.
_PR_START = "1996-01-01"
_PR_END = "1997-01-01"


def _duck_pagerank() -> str:
    """Unrolled DuckDB oracle: edges → degrees → r0 → (contrib, rank)
    × ``_PR_ITERS``. All-integer arithmetic mirrors the Spark side
    term for term."""
    ctes = [
        f"""ps AS (
    SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_PR_START} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_PR_END} 00:00:00'
), edges AS (
    SELECT CAST(2 * pk AS BIGINT) AS src,
           CAST(2 * sk + 1 AS BIGINT) AS dst FROM ps
    UNION ALL
    SELECT CAST(2 * sk + 1 AS BIGINT) AS src,
           CAST(2 * pk AS BIGINT) AS dst FROM ps
), deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
    FROM edges GROUP BY src
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg
), r0 AS (
    SELECT deg.node, deg.d, nn.n,
           CAST({_PR_SCALE} AS BIGINT) // nn.n AS r
    FROM deg CROSS JOIN nn
)"""
    ]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""c{i} AS (
    SELECT e.dst AS node, CAST(SUM(p.share) AS BIGINT) AS s
    FROM edges e
    JOIN (SELECT node, r // d AS share FROM {prev}) p ON e.src = p.node
    GROUP BY e.dst
), r{i} AS (
    SELECT b.node, b.d, b.n,
           ({_DAMP_DEN - _DAMP_NUM} * (CAST({_PR_SCALE} AS BIGINT) // b.n))
               // {_DAMP_DEN}
           + ({_DAMP_NUM} * c{i}.s) // {_DAMP_DEN} AS r
    FROM r0 b JOIN c{i} ON b.node = c{i}.node
)"""
        )
        prev = f"r{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0
            THEN 'p:' || CAST(node // 2 AS VARCHAR)
            ELSE 's:' || CAST(node // 2 AS VARCHAR) END AS node,
       r AS rank_scaled
FROM (SELECT node, r FROM {prev}
      ORDER BY r DESC, node ASC
      LIMIT 20) top"""
    )


_ORACLE_GRAPH_PAGERANK = _duck_pagerank()


def _shipment_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE shipment-graph edge builder shared by ``graph_pagerank``
    and ``graph_degree_stats`` (the _sign_bucket_col discipline:
    shared expression, so the graph the diagnostics describe cannot
    drift from the graph the algorithm runs on).

    DISTINCT (part, supplier) shipment pairs inside the module's one
    -year window, symmetrized, on packed BIGINT node ids (2·pk for
    parts, 2·sk+1 for suppliers): an 8-byte fixed-width key instead
    of a 'p:123' string — smaller checkpoint, cheaper hashes,
    narrower broadcasts; the human-readable label is reconstructed
    on final output rows only. NOT checkpointed here — callers go
    through ``_shipment_edges_cached`` for the materialized form.
    """
    ps = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (
                F.col("l_shipdate")
                >= F.lit(f"{_PR_START} 00:00:00").cast("timestamp")
            )
            & (
                F.col("l_shipdate")
                < F.lit(f"{_PR_END} 00:00:00").cast("timestamp")
            )
        )
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p_node = (F.col("l_partkey") * 2).cast("bigint")
    s_node = (F.col("l_suppkey") * 2 + 1).cast("bigint")
    return ps.select(p_node.alias("src"), s_node.alias("dst")).unionAll(
        ps.select(s_node.alias("src"), p_node.alias("dst"))
    )


def _shipment_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-key-cached materialization of the edge list: THREE
    keys consume it (pagerank's iterations, the degree card, BFS
    reachability) and bench times each 3x — the per-call
    localCheckpoint still re-ran the corpus distinct per call
    (the dedup-funnel lesson, applied here)."""
    return fixture_cached(
        spark, sf_dir, "lineitem", "shipment_edges",
        lambda: _shipment_edges(spark, sf_dir),
    )


@register(
    "graph_pagerank", _ORACLE_GRAPH_PAGERANK, tags=("graph", "iterative")
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled iterations, damping 0.85) on the
    part↔supplier shipment graph — the canonical iterated-MapReduce
    algorithm as a single Catalyst plan; top-20 nodes by rank.

    Scale: the edge list (DISTINCT shipment pairs) is derived once
    from the corpus-sized scan and localCheckpoint-ed — the three
    iterations and the degree table all read the pinned edges, never
    re-running the distinct. Each iteration is one broadcast of the
    NODE-sized rank table onto edges (narrow) plus one node-keyed
    groupBy — shuffle bytes are O(nodes) per iteration, O(edges)
    never rides a shuffle after the initial distinct. At a scale
    where ranks outgrow a broadcast, the same loop runs as a
    co-partitioned sort-merge join on ``node`` with both sides
    pre-bucketed (the ``bucketBy`` tables of warehouse.py); the
    algebra is unchanged.

    Every node of the symmetric bipartite graph has an out-edge and
    an in-edge by construction, so there is no dangling-mass term
    and the contribution join is INNER on both engines.

    Determinism: rank mass lives in integer pico-units; init mass,
    per-edge contribution and damping all use truncating integer
    division (identical on both engines for positive values), so the
    BIGINT sums are order-free and the top-20 cut (rank DESC, node
    ASC) is exact.
    """
    edges = _shipment_edges_cached(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    base = deg.crossJoin(F.broadcast(nn))  # node, d, n — node-sized
    ranks = base.select(
        "node", "d", "n", F.expr(f"{_PR_SCALE} div n").alias("r")
    )
    for _ in range(_PR_ITERS):
        # the per-edge contribution r/d is constant per SOURCE node,
        # so the integer division happens node-side (once per node,
        # inside the broadcast), never per edge row
        contrib = (
            edges.join(
                F.broadcast(
                    ranks.select("node", F.expr("r div d").alias("share"))
                ),
                edges["src"] == F.col("node"),
            )
            .select("dst", "share")
            .groupBy("dst")
            .agg(F.sum("share").cast("bigint").alias("s"))
        )
        ranks = (
            # r13 optimization round: NO broadcast hint here — both
            # sides are node-sized AND already hash-partitioned on
            # the join key (base from groupBy(src), contrib from
            # groupBy(dst)), so the join runs co-partitioned off the
            # reused exchanges; a broadcast hint forced a build job
            # per iteration (3 extra jobs, measured 1.05 → 0.73 s at
            # sf0.1). The rank-onto-EDGES broadcast above stays — at
            # scale the node table is the provably small side there.
            base.join(contrib, base["node"] == contrib["dst"])
            .select(
                "node",
                "d",
                "n",
                (
                    F.expr(
                        f"({_DAMP_DEN - _DAMP_NUM} * ({_PR_SCALE} div n))"
                        f" div {_DAMP_DEN}"
                    )
                    + F.expr(f"({_DAMP_NUM} * s) div {_DAMP_DEN}")
                ).alias("r"),
            )
        )
    top = (
        ranks.select("node", F.col("r").alias("rank_scaled"))
        .orderBy(F.col("rank_scaled").desc(), F.col("node").asc())
        .limit(20)
    )
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("p:"), F.expr("node div 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("s:"), F.expr("node div 2").cast("string"))
    )
    return top.select(label.alias("node"), "rank_scaled")


# --- triangle counting on the mutual-kNN graph ----------------------


def _duck_knn_graph() -> str:
    from ..llm.similarity import _DUCK_COS, _DUCK_NORMED_CTE, _K

    return f"""
WITH {_DUCK_NORMED_CTE},
pairs AS (
    SELECT a.vec_id AS query_id,
           b.vec_id AS neighbor_id,
           {_DUCK_COS.format(a="a.unit", b="b.unit")} AS cos_sim
    FROM normed a
    JOIN normed b ON a.vec_id <> b.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
           ) AS rn
    FROM pairs
),
knn AS (
    SELECT query_id, neighbor_id FROM ranked WHERE rn <= {_K}
),
und AS (
    SELECT LEAST(query_id, neighbor_id) AS a,
           GREATEST(query_id, neighbor_id) AS b,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM knn GROUP BY 1, 2
),
mutual AS (
    SELECT a, b FROM und WHERE c = 2
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT a AS node FROM mutual
          UNION ALL SELECT b AS node FROM mutual)
    GROUP BY node
),
tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS t
    FROM mutual e1
    JOIN mutual e2 ON e2.a = e1.b
    JOIN mutual e3 ON e3.a = e1.a AND e3.b = e2.b
),
card AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM normed) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM knn) AS n_directed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mutual) AS n_mutual,
           (SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT)
            FROM deg) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles
)
SELECT n_nodes, n_directed, n_edges, n_mutual, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0 THEN
           (floor((3.0 * n_triangles / n_wedges) * 1000000.0 + 0.5)
                / 1000000.0)
       END AS clustering
FROM card"""


_ORACLE_GRAPH_KNN_TRIANGLES = _duck_knn_graph()


@register(
    "graph_knn_triangles",
    _ORACLE_GRAPH_KNN_TRIANGLES,
    tags=("graph", "llm", "similarity"),
)
def graph_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    MUTUAL-kNN graph over the embeddings table — the one-row
    semantic-cluster-structure card (high clustering ⇒ the corpus has
    tight semantic clusters; near-zero ⇒ uniform cloud), and the
    classic MR triangle-count algorithm on a graph whose density
    cannot degenerate with scale.

    Graph: vertices are valid embeddings; (a,b) is an edge iff a is
    in b's exact top-{K} cosine neighbors AND b is in a's — so degree
    ≤ K by construction, wedges ≤ n·C(K,2), and the two triangle
    joins are linear in nodes AT EVERY SCALE (the docstring argument
    for why a co-occurrence projection would be wrong lives in the
    module docstring). The kNN table itself is the ``sim_knn``
    chunked-broadcast GEMM, which ``fixture_cached`` checkpoints once
    per session — the degree table, the edge-canonicalization and the
    three triangle-join probes all read that pinned ≤K·n-row table,
    never re-running the GEMM. The wedge/triangle/cardinality
    scalars are 1-row frames combined with the single allowed
    broadcast cross-join pattern.

    Triangle enumeration orients each edge a<b, walks e1=(a,b),
    e2=(b,c), and closes with an equi-join on e3=(a,c) — each
    triangle is counted exactly once; all counts are exact BIGINTs;
    the only double is the final 3·tri/wedges ratio (guarded NULL
    when the mutual graph has no wedge).
    """
    from ..llm.similarity import _valid_embeddings, sim_knn

    knn = sim_knn(spark, sf_dir).select("query_id", "neighbor_id")
    und = (
        knn.select(
            F.least("query_id", "neighbor_id").alias("a"),
            F.greatest("query_id", "neighbor_id").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    mutual = und.filter(F.col("c") == 2).select("a", "b").localCheckpoint()
    deg = (
        mutual.select(F.col("a").alias("node"))
        .unionAll(mutual.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    e1, e2, e3 = mutual.alias("e1"), mutual.alias("e2"), mutual.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    n_nodes = _valid_embeddings(load(spark, sf_dir, "embeddings")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    n_directed = knn.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_directed")
    )
    n_edges = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_mutual = mutual.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutual")
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.expr("d * (d - 1) div 2")), F.lit(0)
        ).cast("bigint").alias("n_wedges")
    )
    card = (
        n_nodes.crossJoin(F.broadcast(n_directed))
        .crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_mutual))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
    )
    ratio = (
        F.lit(3.0)
        * F.col("n_triangles").cast("double")
        / F.col("n_wedges").cast("double")
    )
    return card.select(
        "n_nodes",
        "n_directed",
        "n_edges",
        "n_mutual",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") > 0, dround(ratio, 6)).alias("clustering"),
    )


_ORACLE_GRAPH_DEGREE_STATS = f"""
WITH ps AS (
    SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_PR_START} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_PR_END} 00:00:00'
), edges AS (
    SELECT CAST(2 * pk AS BIGINT) AS src,
           CAST(2 * sk + 1 AS BIGINT) AS dst FROM ps
    UNION ALL
    SELECT CAST(2 * sk + 1 AS BIGINT) AS src,
           CAST(2 * pk AS BIGINT) AS dst FROM ps
), deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
    FROM edges GROUP BY src
)
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS side,
       d AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg
GROUP BY side, d
"""


@register("graph_degree_stats", _ORACLE_GRAPH_DEGREE_STATS, tags=("graph",))
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the shipment graph, split by bipartite
    side — the structure card read BEFORE running anything iterative
    on a graph: the max degree bounds wedge counts (triangle-join
    feasibility), the histogram shape decides whether pagerank's
    contribution join needs skew salting, and a fat tail here is the
    earliest warning the graph has hub nodes.

    Scale: same ``_shipment_edges`` expression pagerank runs on (the
    window predicate pushes to the parquet scan); two cascaded
    aggregations — per-node degree (shuffle volume = #nodes after
    map-side combine), then the histogram on the DEGREE-CARDINALITY-
    sized table. The edge list never rides more than one shuffle.
    """
    deg = (
        _shipment_edges_cached(spark, sf_dir)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    side = F.when(F.col("node") % 2 == 0, "part").otherwise("supplier")
    return (
        deg.select(side.alias("side"), "degree")
        .groupBy("side", "degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )


_REACH_SEED_MOD = 17  # seed set: suppliers with suppkey % 17 == 0

_ORACLE_GRAPH_REACHABILITY = f"""
WITH ps AS (
    SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_PR_START} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_PR_END} 00:00:00'
), edges AS (
    SELECT CAST(2 * pk AS BIGINT) AS src,
           CAST(2 * sk + 1 AS BIGINT) AS dst FROM ps
    UNION ALL
    SELECT CAST(2 * sk + 1 AS BIGINT) AS src,
           CAST(2 * pk AS BIGINT) AS dst FROM ps
), l0 AS (
    SELECT DISTINCT src AS node FROM edges
    WHERE src % 2 = 1
      AND CAST(floor(src / 2) AS BIGINT) % {_REACH_SEED_MOD} = 0
), l1 AS (
    SELECT DISTINCT e.dst AS node
    FROM edges e JOIN l0 ON e.src = l0.node
    WHERE e.dst NOT IN (SELECT node FROM l0)
), l2 AS (
    SELECT DISTINCT e.dst AS node
    FROM edges e JOIN l1 ON e.src = l1.node
    WHERE e.dst NOT IN (SELECT node FROM l0)
      AND e.dst NOT IN (SELECT node FROM l1)
)
SELECT CAST(0 AS INT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_node FROM l0
UNION ALL
SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(node) AS BIGINT) FROM l1
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(node) AS BIGINT) FROM l2
"""


@register(
    "graph_reachability", _ORACLE_GRAPH_REACHABILITY,
    tags=("graph", "iterative"),
)
def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS frontier expansion (2 unrolled hops) from a deterministic
    supplier seed set over the shipment graph — the blast-radius
    question ("which parts, then which second-degree suppliers, does
    this supplier cohort touch"), and the third classic iterated-MR
    graph algorithm beside pagerank and triangles. Output: per hop,
    the count of nodes FIRST reached at that hop plus an integer
    node-id checksum (so the hash pins membership, not just size).

    Scale: each hop is one join of the edge list against the
    BROADCAST frontier (frontier is node-sized) plus a distinct and
    an anti-join against the visited set — the standard distributed
    BFS step; the edge list rides from the shared
    ``_shipment_edges`` expression (pinned once). The fixed-depth
    unroll stays one Catalyst plan.

    Determinism: frontier sets are exact; NOT-IN is safe because
    node ids are never NULL by construction (packed from non-null
    keys after the distinct).
    """
    edges = _shipment_edges_cached(spark, sf_dir)
    # each frontier feeds MULTIPLE consumers (the next hop's probe +
    # its own census + later anti-joins) — pin the node-sized sets
    # once or their subtrees re-execute per consumer (measured
    # 1.9 s → 1.5 s min-of-5 at sf0.1)
    l0 = (
        edges.select("src")
        .filter(
            (F.col("src") % 2 == 1)
            & (F.expr("src div 2") % _REACH_SEED_MOD == 0)
        )
        .select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint()
    )
    l1 = (
        edges.join(F.broadcast(l0), edges.src == l0.node)
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(F.broadcast(l0), "node", "left_anti")
        .localCheckpoint()
    )
    l2 = (
        edges.join(F.broadcast(l1), edges.src == l1.node)
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(F.broadcast(l0), "node", "left_anti")
        .join(F.broadcast(l1), "node", "left_anti")
    )

    def level(df: DataFrame, hop: int) -> DataFrame:
        return df.agg(
            F.lit(hop).cast("int").alias("hop"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("node").cast("bigint").alias("sum_node"),
        )

    return level(l0, 0).unionByName(level(l1, 1)).unionByName(level(l2, 2))
