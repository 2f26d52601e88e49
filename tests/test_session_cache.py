"""The content-keyed session cache is now load-bearing for ~15 keys
(dedup funnel, tf-idf core, char bigrams, embed partials, exact kNN,
corpus broadcasts, IVF quantizer) — these tests pin its contract:
same bytes hit, changed bytes miss, different artifacts never
collide, and the FIFO bound holds.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from mapreducepy_spark import session_cache
from mapreducepy_spark.session_cache import fixture_cached


@pytest.fixture()
def docs_dir(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b", "c d"]}
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_same_content_hits_cache(spark, docs_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(1,)], "x long")

    a = fixture_cached(spark, docs_dir, "documents", "t1", build)
    b = fixture_cached(spark, docs_dir, "documents", "t1", build)
    assert len(calls) == 1
    assert a is b


def test_changed_bytes_invalidate(spark, docs_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(len(calls),)], "x long")

    fixture_cached(spark, docs_dir, "documents", "t2", build)
    # rewrite the fixture: new mtime_ns/size -> new cache key. mtime
    # resolution is ns, but guard against coarse filesystems by also
    # changing the size.
    time.sleep(0.01)
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["a b", "c d", "e f g h"]}
    ).to_parquet(os.path.join(docs_dir, "documents.parquet"), index=False)
    out = fixture_cached(spark, docs_dir, "documents", "t2", build)
    assert len(calls) == 2
    assert out.collect()[0]["x"] == 2


def test_distinct_tags_do_not_collide(spark, docs_dir):
    a = fixture_cached(
        spark, docs_dir, "documents", "tag_a",
        lambda: spark.createDataFrame([(1,)], "x long"),
    )
    b = fixture_cached(
        spark, docs_dir, "documents", "tag_b",
        lambda: spark.createDataFrame([(2,)], "x long"),
    )
    assert a.collect()[0]["x"] == 1
    assert b.collect()[0]["x"] == 2


def test_fifo_bound_evicts_oldest(spark, docs_dir):
    baseline = dict(session_cache._CACHE)
    try:
        session_cache._CACHE.clear()
        for i in range(session_cache._CACHE_MAX + 3):
            fixture_cached(
                spark, docs_dir, "documents", f"evict_{i}",
                lambda i=i: spark.createDataFrame([(i,)], "x long"),
            )
        assert len(session_cache._CACHE) == session_cache._CACHE_MAX
        tags = [k[1] for k in session_cache._CACHE]
        assert "evict_0" not in tags  # oldest evicted
        assert f"evict_{session_cache._CACHE_MAX + 2}" in tags
    finally:
        session_cache._CACHE.clear()
        session_cache._CACHE.update(baseline)


def test_none_scalar_is_served_from_cache(spark, docs_dir):
    """``None`` is a cacheable verdict (the IVF quantizer of an empty
    corpus), not a miss."""
    calls = []

    def compute():
        calls.append(1)
        return None

    for _ in range(2):
        assert session_cache.scalar_cached(
            spark, docs_dir, "documents", "none_verdict", compute
        ) is None
    assert len(calls) == 1


def test_corpus_broadcasts_keyed_by_chunk_size(spark, sf_dir, monkeypatch):
    """The corpus chunk broadcasts live in the one session memo, one
    entry per chunk size: a smaller chunk size must never be served
    the single-chunk entry."""
    from mapreducepy_spark.llm import similarity

    one = similarity._corpus_broadcasts_for(spark, sf_dir)
    assert similarity._corpus_broadcasts_for(spark, sf_dir) is one
    monkeypatch.setattr(similarity, "_CHUNK_ROWS", 7)
    small = similarity._corpus_broadcasts_for(spark, sf_dir)
    assert len(one) == 1 < len(small)
    assert similarity._corpus_broadcasts_for(spark, sf_dir) is small
    held = [v for v in session_cache._CACHE.values() if v is one or v is small]
    assert len(held) == 2


def test_cached_result_values_equal_fresh_build(spark, sf_dir):
    """End-to-end: a funnel key served from cache must equal a fresh
    uncached build of the same plan (the checkpoint is a pure
    materialization, never a semantic change)."""
    from mapreducepy_spark.llm import dedup as dd

    cached = dd._candidate_pairs_cached(spark, sf_dir).toPandas()
    fresh = dd._candidate_pairs(spark, sf_dir).toPandas()
    key = ["doc_a", "doc_b"]
    assert (
        cached.sort_values(key).reset_index(drop=True).equals(
            fresh.sort_values(key).reset_index(drop=True)
        )
    )


def _split_parts(src: str, dst: str, n: int = 16) -> None:
    """Write every table of ``src`` as ``n`` part-files under
    ``dst/<table>.parquet/``."""
    import pyarrow.parquet as pq

    from mapreducepy_spark.io import TABLES

    for t in TABLES:
        tbl = pq.read_table(f"{src}/{t}.parquet")
        os.makedirs(f"{dst}/{t}.parquet")
        step = -(-tbl.num_rows // n)
        for i in range(n):
            pq.write_table(
                tbl.slice(i * step, step), f"{dst}/{t}.parquet/part-{i:05d}.parquet"
            )


def _write_events_parts(d, hours: list[list[int]]) -> str:
    """An events fixture as a directory of part-files, one per inner
    list of hours (2024-01-01 + h hours, one event each)."""
    os.makedirs(d / "events.parquet", exist_ok=True)
    eid = 0
    for i, part in enumerate(hours):
        rows = []
        for h in part:
            eid += 1
            rows.append((eid, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h),
                         1, "view", 1.0, None))
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["event_id"] = pdf["event_id"].astype("Int64")
        pdf["props"] = pdf["props"].astype("string")
        pdf.to_parquet(d / "events.parquet" / f"part-{i}.parquet", index=False)
    return str(d)


def test_fingerprint_sees_in_place_part_rewrite(tmp_path):
    sf = _write_events_parts(tmp_path, [[0, 1], [2, 3]])
    path = f"{sf}/events.parquet"
    before = session_cache.fingerprint(path)
    dir_stat = os.stat(path)
    _write_events_parts(tmp_path, [[0, 1], [2, 3, 4]])
    st = os.stat(path)
    # the premise: the directory's own stat does not move
    assert (st.st_mtime_ns, st.st_size) == (dir_stat.st_mtime_ns, dir_stat.st_size)
    assert session_cache.fingerprint(path) != before
    f = f"{path}/part-0.parquet"
    assert session_cache.fingerprint(f) == (os.stat(f).st_mtime_ns, os.stat(f).st_size)
    with pytest.raises(OSError):
        session_cache.fingerprint(str(tmp_path / "missing.parquet"))


def test_directory_fixture_part_rewrite_gives_fresh_bounds(spark, tmp_path):
    """``scalar_cached`` packing bounds over a part-file directory must
    follow an in-place rewrite of one part (stale bounds gate the
    packed argmin plan of agg_minmax_by / events_ohlc)."""
    from mapreducepy_spark.operators.aggregates import _events_argminmax_bounds

    sf = _write_events_parts(tmp_path, [[0, 1], [2, 3]])
    b1 = _events_argminmax_bounds(spark, sf)
    _write_events_parts(tmp_path, [[0, 1], [2, 3, 50]])
    b2 = _events_argminmax_bounds(spark, sf)
    assert b2["t_hi"] - b1["t_hi"] == 47 * 3600 * 10**6
    assert b2["id_hi"] == 5


def test_second_load_runs_no_job(spark, tmp_path):
    from mapreducepy_spark.io import load

    sf = _write_events_parts(tmp_path, [[0], [1]])
    sc = spark.sparkContext
    try:
        sc.setJobGroup("schema-memo-first", "first load")
        load(spark, sf, "events")
        sc.setJobGroup("schema-memo-second", "second load")
        load(spark, sf, "events")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("schema-memo-first")) >= 1
    assert tracker.getJobIdsForGroup("schema-memo-second") == []


@pytest.mark.parametrize("layout", ["one-file", "16-part"])
def test_memoized_schema_equals_fresh_inference(spark, sf_dir, tmp_path, monkeypatch, layout):
    from mapreducepy_spark import io

    if layout == "16-part":
        _split_parts(sf_dir, str(tmp_path))
        sf_dir = str(tmp_path)
    memo = {}
    for t in io.TABLES:
        io.load(spark, sf_dir, t)
        memo[t] = io.load(spark, sf_dir, t)
    monkeypatch.setattr(io, "_SCHEMAS", {})
    fresh = {t: io.load(spark, sf_dir, t) for t in io.TABLES}
    for t in io.TABLES:
        assert memo[t].schema == fresh[t].schema, t
    # the timestamp repair reads the same values through a given schema
    fresh = fresh["events"]
    assert memo["events"].exceptAll(fresh).count() == 0
    assert fresh.exceptAll(memo["events"]).count() == 0


def test_load_sees_part_rewritten_with_added_column(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducepy_spark.io import load

    # one part-file, so that fresh inference reads the rewritten footer
    sf = _write_events_parts(tmp_path, [[0, 1]])
    assert "extra" not in load(spark, sf, "events").columns
    part = f"{sf}/events.parquet/part-0.parquet"
    tbl = pq.read_table(part)
    pq.write_table(tbl.append_column("extra", pa.array([7, 8], pa.int64())), part)
    df = load(spark, sf, "events")
    assert "extra" in df.columns
    assert sorted(r["extra"] for r in df.collect()) == [7, 8]
