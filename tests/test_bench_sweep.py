"""The catalog sweep and the replicated multi-file fixture, run on the
session at sf0.001.

``bench.sweep`` must count a raising key as one failure and go on
timing the rest, with no console progress bar between its stderr
rows; ``make_multifile_fixture.materialize`` must replicate the
shifted tables with unique keys and copy the others unchanged.
"""

from __future__ import annotations

import glob
import importlib.util
import os
from types import SimpleNamespace

import pytest

import bench
from mapreducepy_spark.io import TABLES, load
from mapreducepy_spark.registry import load_catalog
from tests.parity_util import assert_frames_match, oracle_views

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_raising_key_is_one_failure_and_the_sweep_goes_on(spark, sf_dir):
    def boom(spark, sf_dir):
        raise RuntimeError("builder broke")

    real = load_catalog()
    catalog = {
        "scan_count": real["scan_count"],
        "zz_raises": SimpleNamespace(builder=boom),
        "agg_group": real["agg_group"],
    }
    s = bench.sweep(spark, sf_dir, catalog)

    assert (s.fails.attempted, s.fails.failed) == (3, 1)
    assert s.fails.notes[0].startswith("zz_raises: RuntimeError")
    ok = {"scan_count", "agg_group"}
    for timing in (s.cold, s.steady, s.qmax, s.jobs):
        assert set(timing) == ok
    for k in ok:
        assert s.cold[k] > 0 and 0 < s.steady[k] <= s.qmax[k]
        assert s.jobs[k] >= 1


# Key columns of the shifted tables. The fixture's (l_orderkey,
# l_linenumber) repeats, so for lineitem the check is that no copy's key
# collides with another's; every other key is unique in the source.
KEYS = {
    "documents": ["doc_id"],
    "events": ["event_id"],
    "embeddings": ["vec_id"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "part": ["p_partkey"],
}


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.fixture(scope="module")
def fixture_script():
    path = os.path.join(_REPO, "scripts", "make_multifile_fixture.py")
    spec = importlib.util.spec_from_file_location("make_multifile_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_session_prints_no_console_progress_bar(spark):
    """``get_spark`` turns Spark's console progress bar off, so a
    ``[Stage N:...]`` bar never shares a stderr line with a bench
    row and ``bench.py 2>&1 | grep '^bench'`` finds every row."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"


def test_replicated_fixture_shifts_keys_and_copies_dims(
    spark, sf_dir, tmp_path, fixture_script
):
    dst = str(tmp_path / "x2")
    fixture_script.materialize(spark, sf_dir, dst, n_files=4, copies=2)

    assert set(fixture_script.SHIFTS) == set(KEYS)
    for t in KEYS:
        src, out = load(spark, sf_dir, t), load(spark, dst, t)
        n = out.count()
        assert n == 2 * src.count(), t
        assert len(glob.glob(f"{dst}/{t}.parquet/part-*.parquet")) == 4, t
        keys = KEYS[t]
        assert (
            out.select(*keys).distinct().count()
            == 2 * src.select(*keys).distinct().count()
        ), t
    for t in ("supplier", "nation", "region"):
        assert _same_rows(load(spark, sf_dir, t), load(spark, dst, t)), t


def test_single_copy_fixture_keeps_every_row(spark, sf_dir, tmp_path, fixture_script):
    dst = str(tmp_path / "x1")
    fixture_script.materialize(spark, sf_dir, dst, n_files=4, copies=1)
    for t in TABLES:
        assert _same_rows(load(spark, sf_dir, t), load(spark, dst, t)), t
    # Keys match their oracles on the Spark-written part-file layout,
    # through the DuckDB views parity_sf.py uses. scan_schema_merge
    # rewrites those part-files with pyarrow, which would carry their
    # Spark schema metadata along.
    con = oracle_views(dst)
    catalog = load_catalog()
    for key in ("scan_schema_merge", "agg_pareto"):
        q = catalog[key]
        assert_frames_match(
            q.builder(spark, dst).toPandas(), con.execute(q.oracle).fetchdf(), key
        )
