"""Local mirror of the driver's t2 correctness gate: every registered
query runs on Spark AND DuckDB at the test scale factor; results must
match exactly after canonicalization (see ``parity_util``)."""

from __future__ import annotations

import pytest

from mapreducepy_spark.registry import load_catalog

from .parity_util import assert_frames_match

CATALOG = load_catalog()


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_parity(name, spark, oracle, sf_dir):
    q = CATALOG[name]
    sdf = q.builder(spark, sf_dir)
    spark_pd = sdf.toPandas()
    if q.oracle is None:
        # rows-only check (approx ops) — must at least run and return rows
        assert len(spark_pd) > 0, f"{name}: rows-only query returned no rows"
        return
    duck_pd = oracle.execute(q.oracle).fetchdf()
    assert_frames_match(spark_pd, duck_pd, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_connected_components_of_2_5m_edge_cliques(spark):
    """``_connected_components`` on a graph past any fixture's size:
    2,500,008 edges forming 89,286 disjoint 8-node cliques, nodes
    8g..8g+7 in clique g. Every node lands in its clique's cluster,
    labelled by its min member 8g, so the totals have closed forms."""
    from pyspark.sql import functions as F

    from mapreducepy_spark.llm import dedup as dd

    cliques = 89_286
    ids = spark.range(cliques * 64)
    g, i, j = F.expr("id div 64"), F.expr("(id div 8) % 8"), F.col("id") % 8
    pairs = ids.filter(i < j).select(
        (g * 8 + i).alias("doc_a"), (g * 8 + j).alias("doc_b")
    )
    cc = dd._connected_components(spark, pairs)
    nodes, clusters, label_sum = cc.agg(
        F.count("*"), F.countDistinct("cluster_id"), F.sum("cluster_id")
    ).first()
    assert nodes == 8 * cliques
    assert clusters == cliques
    # sum over cliques of 8 members × label 8g
    assert label_sum == 64 * cliques * (cliques - 1) // 2


def test_sampling_deterministic_per_seed(spark, sf_dir):
    """Fixed seed ⇒ identical sample across runs; the stratified
    sampler must respect per-stratum rate ordering."""
    from mapreducepy_spark.operators.sampling import sample_fraction, sample_stratified

    a = sample_fraction(spark, sf_dir).toPandas()
    b = sample_fraction(spark, sf_dir).toPandas()
    assert len(a) > 0
    assert a.equals(b)
    strat = sample_stratified(spark, sf_dir).toPandas().set_index("lang")["n_kept"]
    from mapreducepy_spark.io import load

    full = (
        load(spark, sf_dir, "documents").groupBy("lang").count().toPandas()
        .set_index("lang")["count"]
    )
    # en downsampled to ~30%, zh kept whole
    assert strat["en"] < 0.6 * full["en"]
    assert strat["zh"] == full["zh"]


def test_kmeans_objective_improves(spark, sf_dir):
    """Lloyd iterations must not worsen the spherical k-means
    objective (mean cosine of each vector to its centroid)."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapreducepy_spark.io import load
    from mapreducepy_spark.llm.similarity import _np_cos, _np_unit, kmeans_fit

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pdf = emb.toPandas()
    X = _np_unit(np.stack(pdf["embedding"].to_list()).astype(np.float64))

    def objective(cent):
        return float(np.mean(np.max(_np_cos(X, cent), axis=1)))

    init = kmeans_fit(spark, emb, n_iters=0)
    fitted = kmeans_fit(spark, emb, n_iters=3)
    assert objective(fitted) >= objective(init)
    # determinism: same call, same centroids
    again = kmeans_fit(spark, emb, n_iters=3)
    assert np.array_equal(fitted, again)


def test_dedup_funnel_composes(spark, sf_dir):
    """The dedup operators compose into the full pipeline: candidate
    pairs → clusters → keeper selection by quality score. Every doc
    in a cluster resolves to exactly one keeper, and keepers are
    members of their own cluster."""
    from pyspark.sql import functions as F

    from mapreducepy_spark.llm.dedup import dedup_clusters
    from mapreducepy_spark.llm.text import text_quality

    clusters = dedup_clusters(spark, sf_dir)
    quality = text_quality(spark, sf_dir).select("doc_id", "n_types")
    keeper_w = clusters.join(quality, "doc_id")
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_types").desc(), F.col("doc_id").asc()
    )
    keepers = (
        keeper_w.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("keeper_id"))
    )
    resolved = clusters.join(keepers, "cluster_id")
    n_docs = clusters.count()
    assert resolved.count() == n_docs  # every doc got exactly one keeper
    # keepers belong to the cluster they represent
    k = keepers.join(
        clusters,
        (keepers.keeper_id == clusters.doc_id)
        & (keepers.cluster_id == clusters.cluster_id),
    )
    assert k.count() == keepers.count()
