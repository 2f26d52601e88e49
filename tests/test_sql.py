"""SQL entry point: for every dialect-portable query, the oracle SQL
text run through ``spark.sql`` must equal the DataFrame builder —
one semantic definition, two APIs, zero drift."""

from __future__ import annotations

import pytest

from mapreducepy_spark import sql as engine_sql
from mapreducepy_spark.registry import load_catalog

from .parity_util import canon_frame

CATALOG = load_catalog()


@pytest.mark.parametrize("name", engine_sql.PORTABLE)
def test_sql_twin_matches_dataframe_builder(name, spark, sf_dir):
    got = engine_sql.run_sql(spark, sf_dir, name).toPandas()
    want = CATALOG[name].builder(spark, sf_dir).toPandas()
    assert canon_frame(got) == canon_frame(want), name


def test_non_portable_raises(spark, sf_dir):
    with pytest.raises(KeyError):
        engine_sql.run_sql(spark, sf_dir, "text_stats")


def test_load_catalog_orders_by_oracle_evidence(monkeypatch, tmp_path):
    """The catalog order is computed from the correctness ledgers:
    never-green keys lead, then the stalest green evidence, and the
    oracle-less keys go last — the driver's bounded window always
    reaches the keys with the least evidence."""
    import json

    from mapreducepy_spark import registry

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    red = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {"scan_count": green, "join_inner": green, "agg_group": red,
         "fn_math": "not a row"}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {"join_inner": green, "scan_project": green}))
    monkeypatch.setattr(registry, "_LEDGER_DIR", tmp_path)
    order = list(registry.load_catalog())
    pos = order.index
    assert set(order) == set(registry.REGISTRY) and len(order) == len(registry.REGISTRY)
    # never green (red, malformed or absent) < last green r1 < last
    # green r2, and a tie on the last round goes to the older first one
    for never in ("agg_group", "fn_math", "win_rank"):
        assert pos(never) < pos("scan_count")
    assert pos("scan_count") < pos("join_inner") < pos("scan_project")
    n_oracle = sum(q.oracle is not None for q in registry.REGISTRY.values())
    assert all(registry.REGISTRY[k].oracle is None for k in order[n_oracle:])
    assert "agg_approx_distinct" in order[n_oracle:]


def test_registered_builders_take_spark_and_sf_dir_only():
    """queries() hands the driver ``(spark, sf_dir)`` builders: a
    keyword option on a registered builder is a second plan no caller
    of the catalog can select."""
    import inspect

    for name, q in CATALOG.items():
        params = list(inspect.signature(q.builder).parameters.values())
        assert [p.name for p in params] == ["spark", "sf_dir"], name
        assert all(p.default is inspect.Parameter.empty for p in params), name


def test_migration_doc_counts_match_code():
    """docs/migration.md states the PORTABLE and catalog key counts in
    prose; both have drifted silently before (ADVICE r7: '45' survived
    two catalog growths while PORTABLE reached 71). Derive both from
    code so the doc can't lie."""
    import pathlib

    from mapreducepy_spark import sql

    doc = (
        pathlib.Path(__file__).resolve().parent.parent
        / "docs"
        / "migration.md"
    ).read_text()
    assert f"{len(sql.PORTABLE)} of the catalog" in doc
    assert f"all {len(CATALOG)} registered" in doc
