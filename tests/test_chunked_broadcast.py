"""Chunked-broadcast exact kNN (VERDICT round-1 item #5).

``sim_knn`` / ``dedup_embedding`` must not collect the whole corpus
to the driver in one piece: the corpus is broadcast in bounded chunks
and per-chunk partials are merged (row_number window for top-k, plain
union for threshold pairs). These tests force the multi-chunk path by
shrinking the chunk size and assert bit-identical results to the
single-chunk run — chunking is a pure execution-layout change, never
a semantics change.
"""

from __future__ import annotations

import pandas as pd
import pytest

from mapreducepy_spark.llm import similarity


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_corpus_chunking_is_bounded_and_covering(spark, sf_dir, monkeypatch):
    """With a tiny chunk size the corpus must split into >1 broadcast,
    each at most chunk_rows rows, together covering every vec_id
    exactly once — i.e. driver peak memory is one chunk, not the
    corpus."""
    from pyspark.sql import functions as F

    from mapreducepy_spark.io import load

    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == similarity._DIM
    )
    n = emb.count()
    monkeypatch.setattr(similarity, "_CHUNK_ROWS", 7)
    chunks = similarity._corpus_chunk_broadcasts(spark, emb)
    # hash-sharded: empty residue classes are skipped, so <= not ==
    assert 1 < len(chunks) <= -(-n // 7)
    seen: list[int] = []
    for bc in chunks:
        ids, cu = bc.value
        # xxhash sharding is statistically balanced: allow slack over
        # the exact ceil(n/n_chunks) a mod-shard would give, but catch
        # any gross imbalance (the failure mode the hash prevents)
        assert 0 < len(ids) <= 4 * -(-n // len(chunks))
        assert cu.shape == (len(ids), similarity._DIM)
        seen.extend(ids.tolist())
    assert sorted(seen) == sorted(
        r[0] for r in emb.select("vec_id").collect()
    )


def test_chunk_union_plan_depth_is_bounded(spark, sf_dir, monkeypatch):
    """With many chunks the merge plan must stay shallow: every
    _CHECKPOINT_EVERY branches the accumulated union is materialized,
    so the logical plan never carries more than that many live
    mapInPandas leaves (a 1B-vector corpus is ~15k chunks — an
    unbounded union tree would choke the optimizer). The un-cached
    build: ``sim_knn`` may serve the session's checkpointed table."""
    monkeypatch.setattr(similarity, "_CHUNK_ROWS", 40)
    monkeypatch.setattr(similarity, "_CHECKPOINT_EVERY", 4)
    df = similarity._build_exact_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_live = plan.lower().count("mapinpandas")
    assert 1 <= n_live <= 4, f"{n_live} live mapInPandas leaves in plan"


@pytest.mark.parametrize("key", ["sim_knn", "dedup_embedding"])
def test_chunked_equals_single_chunk(spark, sf_dir, monkeypatch, key):
    """``sim_knn`` is compared through its un-cached build: the
    registered key serves the session's ``knn_exact`` table, whose
    cache key carries no chunk size, so a second call would never run
    the small-chunk plan."""
    builder = {
        "sim_knn": similarity._build_exact_topk,
        "dedup_embedding": similarity.dedup_embedding,
    }[key]
    n_chunks: list[int] = []
    union = similarity._union_chunk_results

    def counting_union(spark, q, kernel_factory, schema, chunks):
        n_chunks.append(len(chunks))
        return union(spark, q, kernel_factory, schema, chunks)

    monkeypatch.setattr(similarity, "_union_chunk_results", counting_union)
    single = _sorted(builder(spark, sf_dir).toPandas())
    monkeypatch.setattr(similarity, "_CHUNK_ROWS", 7)
    multi = _sorted(builder(spark, sf_dir).toPandas())
    assert n_chunks[0] == 1 and n_chunks[1] > 1
    pd.testing.assert_frame_equal(single, multi)


def test_sampled_recall_counts_only_sampled_queries(spark, sf_dir):
    """The sampled ledger's per-bucket n_queries must equal the
    number of SAMPLED vectors the full ANN answered in that bucket —
    i.e. the audit covers the sample exactly, no more, no less."""
    from pyspark.sql import functions as F

    ledger = similarity.sim_ann_recall_sampled(spark, sf_dir).toPandas()
    ann = (
        similarity.sim_ann_lsh(spark, sf_dir)
        .filter(F.col("query_id") % similarity._RECALL_SAMPLE_EVERY == 0)
        .groupBy("bucket")
        .count()
        .toPandas()
    )
    merged = ledger.merge(ann, on="bucket", how="outer")
    assert len(merged) == len(ledger) == len(ann)
    assert (merged["n_queries"] == merged["count"]).all()
    assert (merged["n_hits"] <= merged["n_queries"]).all()
