"""Every content-keyed reuse goes through ``session_cache``: derived
on-disk fixtures are written once per source content and re-minted
after an in-place rewrite, warehouse table names follow every
part-file of a directory source, and no module hand-rolls its own
``(mtime_ns, size)`` key.
"""

from __future__ import annotations

import os
import pathlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession

from mapreducepy_spark.operators.scans import (
    ensure_evolved_fixture,
    ensure_partitioned_fixture,
)
from mapreducepy_spark.sources.avro_source import _AVRO_FORMAT, ensure_avro_fixture
from mapreducepy_spark.sources.csv_source import ensure_csv_fixture
from mapreducepy_spark.sources.jsonl import ensure_jsonl_fixture, ensure_jsonl_shapes_fixture
from mapreducepy_spark.sources.orc_source import ensure_orc_fixture


def _count_lines(path: str) -> int:
    with open(path, encoding="utf-8") as fh:
        return sum(1 for _ in fh)


def _count_orc(path: str) -> int:
    import pyarrow.orc as orc

    return orc.ORCFile(path).nrows


def _files(path: str, suffix: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    ]


def _count_parquet_dir(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _files(path, ".parquet"))


def _count_avro_dir(path: str) -> int:
    # the test requests the ``spark`` fixture, so a session is active
    spark = SparkSession.getActiveSession()
    return spark.read.format(_AVRO_FORMAT).load(path).count()


_BUILDERS = {
    "jsonl": (ensure_jsonl_fixture, _count_lines),
    "jsonl_shapes": (ensure_jsonl_shapes_fixture, _count_lines),
    "csv": (ensure_csv_fixture, _count_lines),
    "orc": (ensure_orc_fixture, _count_orc),
    "partitioned": (ensure_partitioned_fixture, _count_parquet_dir),
    "evolved": (ensure_evolved_fixture, _count_parquet_dir),
    "avro": (ensure_avro_fixture, _count_avro_dir),
}


@pytest.mark.parametrize("kind", sorted(_BUILDERS))
def test_derived_fixture_written_once_per_source_content(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    ensure, count_rows = _BUILDERS[kind]
    monkeypatch.setenv("MAPREDUCEPY_SPARK_FIXTURE_DIR", str(tmp_path / "fx"))
    sf = tmp_path / "sf"
    sf.mkdir()
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(docs, sf / "documents.parquet")

    first = ensure(str(sf))
    st = os.stat(first)
    assert count_rows(first) == docs.num_rows
    # unchanged source: the existing output is returned, not rewritten
    assert ensure(str(sf)) == first
    st2 = os.stat(first)
    assert (st2.st_ino, st2.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)

    # in-place rewrite of the source: a fresh output with the new rows
    fewer = docs.slice(0, docs.num_rows // 2)
    pq.write_table(fewer, sf / "documents.parquet")
    second = ensure(str(sf))
    assert second != first
    assert count_rows(second) == fewer.num_rows
    assert count_rows(first) == docs.num_rows


def _write_parts(src: str, dst: str, n: int = 16) -> None:
    tbl = pq.read_table(src)
    os.makedirs(dst)
    step = -(-tbl.num_rows // n)
    for i in range(n):
        pq.write_table(tbl.slice(i * step, step), f"{dst}/part-{i:05d}.parquet")


@pytest.mark.parametrize("builder", ["bucketed", "band_index"])
def test_part_rewrite_mints_new_warehouse_table_name(
    spark, sf_dir, tmp_path, monkeypatch, builder
):
    """A directory source whose part-file is rewritten in place keeps
    its directory stat, but must still get a new table name — the
    old name would adopt a table built from the old rows."""
    from mapreducepy_spark import warehouse
    from mapreducepy_spark.llm import dedup
    from mapreducepy_spark.operators import joins

    # names only: no table is written for the tmp fixtures
    def no_build(spark, name, *args, **kwargs):
        pass

    monkeypatch.setattr(warehouse, "ensure_table", no_build)
    monkeypatch.setattr(dedup, "ensure_table", no_build)
    tables, ensure = {
        "bucketed": (("orders", "lineitem"), joins._ensure_bucketed_tables),
        "band_index": (("documents",), dedup._ensure_band_index),
    }[builder]
    for t in tables:
        _write_parts(f"{sf_dir}/{t}.parquet", f"{tmp_path}/{t}.parquet")

    before = ensure(spark, str(tmp_path))
    part = f"{tmp_path}/{tables[0]}.parquet/part-00000.parquet"
    dir_stat = os.stat(os.path.dirname(part))
    pq.write_table(pq.read_table(part).slice(0, 1), part)
    st = os.stat(os.path.dirname(part))
    assert (st.st_mtime_ns, st.st_size) == (dir_stat.st_mtime_ns, dir_stat.st_size)
    assert ensure(spark, str(tmp_path)) != before


def test_no_hand_rolled_content_key_outside_session_cache():
    """``session_cache.fingerprint`` is the one place that reads a
    file's ``(mtime_ns, size)``; every other content key calls it."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mapreducepy_spark"
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "session_cache.py" and "st_mtime_ns" in p.read_text()
    ]
    assert offenders == []


def test_writer_module_edit_mints_new_derived_fixture(tmp_path, monkeypatch):
    """Editing the module that defines a fixture's writer (here one
    of its constants) must give a new path, not the copy the old
    writer left."""
    import importlib.util

    from mapreducepy_spark.session_cache import derived_fixture

    monkeypatch.setenv("MAPREDUCEPY_SPARK_FIXTURE_DIR", str(tmp_path / "fx"))
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"source")
    mod_path = tmp_path / "writer_mod.py"

    def ensure(body: str) -> str:
        mod_path.write_text(
            f"BODY = {body!r}\n\n"
            "def write(tmp):\n"
            "    with open(tmp, 'w') as fh:\n"
            "        fh.write(BODY)\n"
        )
        spec = importlib.util.spec_from_file_location("writer_mod", mod_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return derived_fixture(str(src), "out.txt", mod.write)

    first = ensure("old")
    second = ensure("new")
    assert second != first
    assert pathlib.Path(second).read_text() == "new"
    assert pathlib.Path(first).read_text() == "old"
