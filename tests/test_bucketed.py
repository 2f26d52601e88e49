"""Bucketed-table co-located joins (the pay-the-shuffle-once path):
a join between two tables bucketed by the join key must plan with NO
Exchange on either side — at 100 TB that is the difference between a
partition-local merge and a full-cluster shuffle per join."""

from __future__ import annotations

import pytest

from mapreducepy_spark.io import load
from mapreducepy_spark.plans import plan_text


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    # bucketBy needs a managed table: the bucket metadata lives in
    # the catalog, not in the directory layout
    for df, key, table in ((o, "o_custkey", "orders_b"), (c, "c_custkey", "customer_b")):
        df.write.format("parquet").mode("overwrite").bucketBy(4, key).saveAsTable(table)
    yield ("orders_b", "customer_b")
    for t in ("orders_b", "customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    """Both sides bucketed by the join key into the same bucket count:
    the join must consume the bucket layout directly — zero Exchange
    nodes anywhere in the plan."""
    ot, ct = bucketed_tables
    o = spark.table(ot)
    c = spark.table(ct)
    # disable broadcast so the plan must choose a shuffle-family join
    # — that is the strategy whose Exchange the bucketing elides
    with _no_broadcast(spark):
        j = o.join(c, o.o_custkey == c.c_custkey)
        plan = plan_text(j, "simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan
        assert j.count() > 0


def test_bucketed_groupby_skips_shuffle(spark, sf_dir, bucketed_tables):
    """An aggregation keyed on the bucket column reuses the bucket
    layout: no Exchange between scan and final aggregate."""
    ot, _ = bucketed_tables
    o = spark.table(ot)
    agg = o.groupBy("o_custkey").count()
    plan = plan_text(agg, "simple")
    assert "Exchange" not in plan


def test_unbucketed_join_does_shuffle(spark, sf_dir):
    """Control: the same join over the raw parquet (no bucket
    metadata) must plan Exchanges — proving the elision above comes
    from the bucketing, not from the fixtures being small."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    with _no_broadcast(spark):
        j = o.join(c, o.o_custkey == c.c_custkey)
        plan = plan_text(j, "simple")
        assert "Exchange" in plan


class _no_broadcast:
    """Temporarily disable broadcast joins (restores on exit)."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.prev)
        return False


def test_join_bucketed_fixture_recovers_from_orphan_dir(spark, sf_dir):
    """A PREVIOUS session's table directory with no catalog entry
    (the in-memory catalog dies with the session) must not wedge the
    builder: a completed orphan is re-registered in place, an
    incomplete one removed and rebuilt (saveAsTable alone would fail
    LOCATION_ALREADY_EXISTS)."""
    import os
    import shutil
    from urllib.parse import urlparse

    from mapreducepy_spark.operators.joins import _ensure_bucketed_tables

    names = _ensure_bucketed_tables(spark, sf_dir)
    wh = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path or "spark-warehouse"
    for n in names:
        src = os.path.join(wh, n)
        bak = src + "_bak"
        shutil.rmtree(bak, ignore_errors=True)
        shutil.copytree(src, bak)
        # managed drop removes the dir; an EXTERNAL one (adopted by
        # the reuse path in an earlier test/session) keeps it
        spark.sql(f"DROP TABLE {n}")
        shutil.rmtree(src, ignore_errors=True)
        os.rename(bak, src)  # ...now the dir exists with NO entry
        assert not spark.catalog.tableExists(n)
    again = _ensure_bucketed_tables(spark, sf_dir)
    assert again == names
    assert spark.table(names[0]).count() > 0
    assert spark.table(names[1]).count() > 0


def test_join_bucketed_reuses_prior_session_tables(spark, sf_dir):
    """Cross-session reuse (VERDICT r9 #2): a completed bucketed-table
    directory from a dead session (content-keyed name + _SUCCESS) must
    be RE-REGISTERED via DDL, not re-shuffled — and the re-registered
    table must keep parity and the zero-Exchange join. Simulated by
    stashing the dirs, dropping the managed tables (which deletes
    them), and restoring the stash as the orphan a fresh session
    would find."""
    import os
    import shutil
    import time
    from urllib.parse import urlparse

    from mapreducepy_spark.operators.joins import _ensure_bucketed_tables
    from mapreducepy_spark.registry import load_catalog

    names = _ensure_bucketed_tables(spark, sf_dir)
    wh = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path or "spark-warehouse"
    locs = [os.path.abspath(os.path.join(wh, n)) for n in names]
    for loc in locs:
        shutil.rmtree(loc + "_stash", ignore_errors=True)
        shutil.copytree(loc, loc + "_stash")
    for n, loc in zip(names, locs):
        spark.sql(f"DROP TABLE IF EXISTS {n}")
        shutil.rmtree(loc, ignore_errors=True)  # external drops keep files
        shutil.move(loc + "_stash", loc)

    t0 = time.time()
    assert _ensure_bucketed_tables(spark, sf_dir) == names
    assert time.time() - t0 < 5.0  # DDL, not a rebuild shuffle
    # external re-registration, not a managed rewrite
    row = spark.sql(f"DESCRIBE TABLE EXTENDED {names[0]}").toPandas()
    typ = row[row.col_name == "Type"].data_type.iloc[0]
    assert typ == "EXTERNAL"

    df = load_catalog()["join_bucketed"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert not re.search(
        r"Exchange hashpartitioning\((o_orderkey|l_orderkey)", plan
    )
    assert df.count() > 0


def test_ensure_bucketed_rejects_incomplete_orphan(spark, sf_dir):
    """An orphan directory WITHOUT the _SUCCESS marker (a crashed
    write) must be rebuilt, never trusted."""
    import os
    import shutil
    from urllib.parse import urlparse

    from mapreducepy_spark.operators.joins import _ensure_bucketed_tables

    names = _ensure_bucketed_tables(spark, sf_dir)
    wh = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path or "spark-warehouse"
    loc = os.path.abspath(os.path.join(wh, names[0]))
    shutil.rmtree(loc + "_stash", ignore_errors=True)
    shutil.copytree(loc, loc + "_stash")
    spark.sql(f"DROP TABLE {names[0]}")
    shutil.rmtree(loc, ignore_errors=True)  # external drops keep files
    shutil.move(loc + "_stash", loc)
    os.remove(os.path.join(loc, "_SUCCESS"))  # simulate crashed write

    assert _ensure_bucketed_tables(spark, sf_dir) == names
    # rebuilt as a MANAGED table (the fresh saveAsTable path)
    row = spark.sql(f"DESCRIBE TABLE EXTENDED {names[0]}").toPandas()
    typ = row[row.col_name == "Type"].data_type.iloc[0]
    assert typ == "MANAGED"


def test_bucketed_warehouse_gc_removes_dead_fixture_tables(
    spark, sf_dir, tmp_path
):
    """The _SOURCE-sidecar GC: a bucketed dir whose source parquet no
    longer exists (a test-minted tmp fixture) is removed on the next
    _ensure pass ONCE it has aged past the concurrency grace period;
    a YOUNG dead dir is left alone (ADVICE r10: a concurrent session
    sharing the warehouse may still be querying it), and a dir whose
    sources are live is kept. 80 orphan dirs / 30 MB had accumulated
    over two rounds before this."""
    import os
    import shutil
    import time
    from urllib.parse import urlparse

    from mapreducepy_spark.operators.joins import (
        _GC_MIN_AGE_SEC,
        _ensure_bucketed_tables,
    )

    names = _ensure_bucketed_tables(spark, sf_dir)
    wh = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    ).path or "spark-warehouse"
    live = os.path.abspath(os.path.join(wh, names[0]))

    old = time.time() - _GC_MIN_AGE_SEC - 60
    dead = os.path.join(wh, "orders_bkt_deadbeef0123")
    shutil.rmtree(dead, ignore_errors=True)
    shutil.copytree(live, dead)
    with open(os.path.join(dead, "_SOURCE"), "w") as fh:
        fh.write(str(tmp_path / "gone.parquet") + "\n")
    os.utime(dead, (old, old))
    legacy = os.path.join(wh, "lineitem_bkt_00ddba11fade")
    shutil.rmtree(legacy, ignore_errors=True)
    shutil.copytree(live, legacy)
    os.remove(os.path.join(legacy, "_SOURCE"))  # pre-sidecar dir
    os.utime(legacy, (old, old))
    young = os.path.join(wh, "orders_bkt_0123456789ab")
    shutil.rmtree(young, ignore_errors=True)
    shutil.copytree(live, young)
    with open(os.path.join(young, "_SOURCE"), "w") as fh:
        fh.write(str(tmp_path / "gone.parquet") + "\n")
    # copytree copystat's the SOURCE dir's mtime onto the copy — if
    # the live table was minted >grace ago (long suite run), the
    # "young" dir would silently be old; pin its mtime to NOW
    now = time.time()
    os.utime(young, (now, now))
    # aged dir, CURRENT writer version, live sources -> must be KEPT
    # (the positive GC arm); a MILDLY-aged dir with live sources but
    # a SUPERSEDED version line -> spared (an older-build concurrent
    # session may still be querying it — the deep version grace);
    # the same shape aged PAST the version grace -> collected (it can
    # never be re-adopted since a version bump re-mints the names)
    from mapreducepy_spark.operators.joins import (
        _BUCKET_WRITER_V,
        _GC_VERSION_GRACE_SEC,
    )

    ancient = time.time() - _GC_VERSION_GRACE_SEC - 60
    keepme = os.path.join(wh, "orders_bkt_feedfacecafe")
    stale_mild = os.path.join(wh, "lineitem_bkt_0a1db0b50e55")
    stale_old = os.path.join(wh, "lineitem_bkt_0a1db0b50e56")
    for d, ver, ts in (
        (keepme, _BUCKET_WRITER_V, old),
        (stale_mild, _BUCKET_WRITER_V - 1, old),
        (stale_old, _BUCKET_WRITER_V - 1, ancient),
    ):
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(live, d)
        with open(os.path.join(d, "_SOURCE"), "w") as fh:
            fh.write(f"writer=v{ver}\n")
            fh.write(f"{sf_dir}/orders.parquet\n")
        os.utime(d, (ts, ts))

    # try/finally (ADVICE r11): an assertion failure must not leak
    # the minted prop dirs into the shared warehouse, where they'd
    # persist across test runs until GC ages them out
    try:
        assert _ensure_bucketed_tables(spark, sf_dir) == names
        assert not os.path.isdir(dead)       # dead source, aged -> collected
        assert not os.path.isdir(legacy)     # no sidecar, aged  -> collected
        assert os.path.isdir(young)          # dead source, YOUNG -> spared
        assert os.path.isdir(keepme)         # live srcs + current v -> kept
        assert os.path.isdir(stale_mild)     # superseded, mild age -> spared
        assert not os.path.isdir(stale_old)  # superseded, ancient -> collected
        assert os.path.isdir(live)           # live fixture -> kept
        assert os.path.exists(os.path.join(live, "_SOURCE"))
    finally:
        for d in (young, keepme, stale_mild, stale_old):
            shutil.rmtree(d, ignore_errors=True)  # don't leak the props


def test_bucketed_fingerprint_pins_writer_recipe(spark, sf_dir):
    """ADVICE r10: the adoption path trusts SORTED BY purely from the
    directory name, so the name must change when the writer recipe
    does — a bumped writer version must mint DIFFERENT table names
    (old dirs then age out instead of re-registering under a DDL
    their bytes no longer satisfy)."""
    import os

    from mapreducepy_spark.operators import joins as j
    from mapreducepy_spark.warehouse import table_name

    def names(version: int) -> tuple[str, str]:
        recipe = [
            f"writer=v{version}",
            f"buckets={j._N_BUCKETS}",
            "sort=o_orderkey,l_orderkey",
            "schema=full",
        ]
        srcs = [os.path.abspath(f"{sf_dir}/{t}.parquet") for t in ("orders", "lineitem")]
        return table_name("orders_bkt", recipe, srcs), table_name("lineitem_bkt", recipe, srcs)

    names_v = j._ensure_bucketed_tables(spark, sf_dir)
    assert names(j._BUCKET_WRITER_V) == names_v
    # recompute just the names (no write): they must differ purely
    # from the version tag
    bumped = names(j._BUCKET_WRITER_V + 1)
    assert bumped[0] != names_v[0]
    assert bumped[1] != names_v[1]
