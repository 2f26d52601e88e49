"""Sink/source round-trips (SURVEY.md §2.1 S3): what goes out comes
back identical, and partitioned layouts actually prune."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from mapreducepy_spark.io import load

from .parity_util import canon_frame


def _roundtrip(spark, df, path, format_):
    # "header" is a CSV option; the other formats ignore it
    df.write.format(format_).option("header", "true").save(path)
    back = (
        spark.read.format(format_)
        .option("header", "true")
        .schema(df.schema)
        .load(path)
    )
    assert canon_frame(back.toPandas()) == canon_frame(df.toPandas())


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "orders")
    _roundtrip(spark, df, str(tmp_path / "o_parquet"), "parquet")


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    # CSV has no timestamp fidelity guarantee across writers: use the
    # non-temporal columns (interchange format, not analytics)
    df = load(spark, sf_dir, "customer")
    _roundtrip(spark, df, str(tmp_path / "c_csv"), "csv")


def test_json_roundtrip(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "nation")
    _roundtrip(spark, df, str(tmp_path / "n_json"), "json")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    df.write.partitionBy("order_year").parquet(path)

    back = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    # partition filter must prune directories, not scan-and-filter
    assert "PartitionFilters" in plan
    assert "order_year" in [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    want = df.filter(F.col("order_year") == 1997).count()
    assert back.count() == want


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, sf_dir, tmp_path
):
    """Incremental-pipeline write pattern: overwriting a partitioned
    table with one partition's data must replace ONLY that partition
    (dynamic partitionOverwriteMode), leaving the others intact."""
    df = load(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_incremental")
    df.write.partitionBy("order_year").parquet(path)
    before_other = (
        spark.read.parquet(path).filter(F.col("order_year") != 1997).count()
    )

    # "re-ingest" 1997 with a modified value; other years must survive
    repl = df.filter(F.col("order_year") == 1997).withColumn(
        "o_totalprice", F.col("o_totalprice") * 0 + 1.0
    )
    repl.write.mode("overwrite").partitionBy("order_year").parquet(path)

    back = spark.read.parquet(path)
    assert back.filter(F.col("order_year") != 1997).count() == before_other
    prices = (
        back.filter(F.col("order_year") == 1997)
        .select("o_totalprice")
        .distinct()
        .collect()
    )
    assert [r[0] for r in prices] == [1.0]


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC rides the same generic writer/reader (format 'orc') — the
    second columnar interchange format warehouses commonly demand."""
    df = load(spark, sf_dir, "orders")
    _roundtrip(spark, df, str(tmp_path / "o_orc"), "orc")


def test_orc_pushdown_prunes(spark, sf_dir, tmp_path):
    """ORC scans must push predicates like parquet does."""
    from mapreducepy_spark.plans import executed_plan

    df = load(spark, sf_dir, "orders")
    df.write.orc(str(tmp_path / "o_orc2"))
    back = spark.read.orc(str(tmp_path / "o_orc2")).filter(
        F.col("o_orderstatus") == "F"
    )
    plan = executed_plan(back)
    assert "PushedFilters" in plan and "o_orderstatus" in plan


def test_pipeline_manifest_partitioned_by_split_prunes(spark, sf_dir, tmp_path):
    """The flagship pipeline's manifest, materialized the way a
    production run would write it — hive-partitioned by split — must
    read back identical rows and prune to one split's directories
    when filtered (training reads never scan val/test)."""
    from mapreducepy_spark.registry import load_catalog

    manifest = load_catalog()["pipeline_clean_corpus"].builder(spark, sf_dir)
    path = str(tmp_path / "manifest")
    manifest.write.partitionBy("split").parquet(path)

    back = spark.read.parquet(path)
    assert back.count() == manifest.count()

    train = back.filter(F.col("split") == "train")
    buf = io.StringIO()
    with redirect_stdout(buf):
        train.explain("formatted")
    plan = buf.getvalue()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "split" in pf_lines[0]
    want = manifest.filter(F.col("split") == "train").count()
    assert train.count() == want


def test_jsonl_corpus_quarantines_malformed_lines(spark, tmp_path):
    """The JSONL ingestion contract: good lines parse under the
    explicit schema, malformed lines land in quarantine with their
    raw text preserved, and the job never dies (PERMISSIVE)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mapreducepy_spark.sources.jsonl import read_jsonl, split_corrupt

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr"}\n'
        '{"doc_id": 3, "text": "truncated...\n'            # malformed
        "not json at all\n"                                 # malformed
        '{"doc_id": 4, "text": "ok", "lang": "de"}\n'
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    parsed = read_jsonl(spark, str(p), schema)
    clean, quarantine = split_corrupt(parsed)
    got = {r["doc_id"] for r in clean.collect()}
    assert got == {1, 2, 4}
    assert "_corrupt_record" not in clean.columns
    bad = [r["raw_line"] for r in quarantine.collect()]
    assert len(bad) == 2
    assert "not json at all" in bad
    # schema drift: an extra field is ignored, a type clash quarantined
    p2 = tmp_path / "drift.jsonl"
    p2.write_text(
        '{"doc_id": 5, "text": "extra", "lang": "en", "new_field": 1}\n'
        '{"doc_id": "not-a-number", "text": "clash", "lang": "en"}\n'
    )
    parsed2 = read_jsonl(spark, str(p2), schema)
    clean2, quar2 = split_corrupt(parsed2)
    assert [r["doc_id"] for r in clean2.collect()] == [5]
    assert quar2.count() == 1
    # cache ownership: the caller's handle releases the one parse
    parsed.unpersist()
    parsed2.unpersist()
    assert not parsed.is_cached and not parsed2.is_cached


def test_jsonl_fixture_deterministic_and_quarantine_counts(spark, sf_dir):
    """The engine-written JSONL twin must be byte-identical across
    regenerations (the oracle predicts its parse from the parquet
    source — any nondeterminism would break parity), and the
    quarantine census must equal the literal corruption rule."""
    from mapreducepy_spark.registry import load_catalog
    from mapreducepy_spark.sources.jsonl import _CORRUPT_EVERY, ensure_jsonl_fixture

    p1 = ensure_jsonl_fixture(sf_dir)
    b1 = open(p1, "rb").read()
    p2 = ensure_jsonl_fixture(sf_dir)
    assert p1 == p2 and open(p2, "rb").read() == b1

    import pyarrow.parquet as pq

    ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).column("doc_id").to_pylist()
    n_corrupt = sum(1 for i in ids if i is not None and i % _CORRUPT_EVERY == 0)
    out = load_catalog()["jsonl_quarantine"].builder(spark, sf_dir).toPandas()
    q = out[out.status == "quarantined"]
    assert len(q) == 1 and int(q.n_rows.iloc[0]) == n_corrupt > 0
    assert q.lang.isna().all()  # corrupt rows carry no parsed fields
    assert int(out[out.status == "clean"].n_rows.sum()) == len(ids) - n_corrupt


def test_jsonl_shapes_census_matches_rule(spark, sf_dir):
    """The per-failure-class census (round 7): each of the four
    injected error shapes must land in exactly the class the
    PERMISSIVE contract predicts, with counts equal to the literal
    corruption rule recomputed in plain Python."""
    from mapreducepy_spark.registry import load_catalog
    from mapreducepy_spark.sources.jsonl import (
        _CORRUPT_EVERY,
        _SHAPE_DROP_LANG_AT,
        _SHAPE_NOT_JSON_EVERY,
        _SHAPE_NULL_PK_AT,
        ensure_jsonl_shapes_fixture,
    )

    p1 = ensure_jsonl_shapes_fixture(sf_dir)
    b1 = open(p1, "rb").read()
    assert open(ensure_jsonl_shapes_fixture(sf_dir), "rb").read() == b1

    import pyarrow.parquet as pq

    ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).column("doc_id").to_pylist()

    def shape_of(d):
        if d is None:
            return "null_pk"
        m = d % _CORRUPT_EVERY
        if m == 0:
            return "truncated_object"
        if m == _SHAPE_NOT_JSON_EVERY:
            return "not_json"
        if m == _SHAPE_NULL_PK_AT:
            return "null_pk"
        if m == _SHAPE_DROP_LANG_AT:
            return "missing_field"
        return "ok"

    from collections import Counter

    expect = Counter(shape_of(d) for d in ids)
    out = (
        load_catalog()["jsonl_quarantine_shapes"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("error_shape")
    )
    assert dict(out["n_lines"]) == dict(expect)
    # conservation: every line lands in exactly one class
    assert int(out["n_lines"].sum()) == len(ids)
    # malformed classes carry no parsed data; null_pk has no id range
    for shp in ("truncated_object", "not_json"):
        assert out.loc[shp, ["sum_chars", "min_doc_id", "max_doc_id"]].isna().all()
    assert out.loc["null_pk", ["min_doc_id", "max_doc_id"]].isna().all()
    assert out.loc["null_pk", "sum_chars"] > 0  # parses fine sans PK


def test_csv_census_matches_rule_and_partial_parse(spark, sf_dir):
    """CSV quarantine census (round 7): class counts equal the
    literal corruption rule, and the PARTIAL-PARSE contract holds —
    corrupt rows still report their doc_id range and lang diversity
    (the opposite of the JSONL all-NULL contract)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from mapreducepy_spark.registry import load_catalog
    from mapreducepy_spark.sources.csv_source import (
        _CSV_BADTYPE_AT,
        _CSV_EXTRACOL_AT,
        ensure_csv_fixture,
    )
    from mapreducepy_spark.sources.jsonl import _CORRUPT_EVERY

    p1 = ensure_csv_fixture(sf_dir)
    assert open(p1, "rb").read() == open(ensure_csv_fixture(sf_dir), "rb").read()

    ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).column("doc_id").to_pylist()

    def status_of(d):
        if d is None:
            return "clean"
        m = d % _CORRUPT_EVERY
        if m == _CSV_BADTYPE_AT:
            return "corrupt_badtype"
        if m == _CSV_EXTRACOL_AT:
            return "corrupt_extracol"
        return "clean"

    expect = Counter(status_of(d) for d in ids)
    out = (
        load_catalog()["csv_quarantine"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("status")
    )
    assert dict(out["n_rows"]) == dict(expect)
    # partial parse: BOTH corrupt classes keep ids and langs
    for st in ("corrupt_badtype", "corrupt_extracol"):
        assert out.loc[st, "n_langs"] > 0
        assert out.loc[st, "min_doc_id"] is not None
    assert out.loc["corrupt_badtype", "sum_chars"] is None or (
        out.loc["corrupt_badtype":"corrupt_badtype", "sum_chars"].isna().all()
    )
    assert out.loc["corrupt_extracol", "sum_chars"] > 0


def test_csv_column_pruning_quirk_is_real(spark, sf_dir):
    """Regression pin for the quirk csv_census designs around: a
    plan that does NOT reference every contract column lets the CSV
    parser prune, and a pruned parse cannot detect malformations in
    the pruned-out cells — here a doc_id-only plan detects NO
    corrupt rows at all (the type mismatch lives in the pruned
    n_chars cell; the extra column is never tokenized). If a Spark
    upgrade changes this, the pin fails and the full-width rule in
    csv_census should be re-evaluated."""
    from pyspark.sql import functions as F

    from mapreducepy_spark.sources.csv_source import ensure_csv_fixture, read_csv
    from mapreducepy_spark.sources.jsonl import (
        _JSONL_DOC_SCHEMA,
        CORRUPT_COL,
    )

    parsed = read_csv(spark, ensure_csv_fixture(sf_dir), _JSONL_DOC_SCHEMA)
    # the max(doc_id) keeps a data column referenced so the plan is
    # legal (SPARK-26243 forbids corrupt-column-only queries) while
    # source/lang/n_chars still prune out of the parse
    pruned = (
        parsed.filter(F.col(CORRUPT_COL).isNotNull())
        .agg(F.count(F.lit(1)).alias("n"), F.max("doc_id"))
        .collect()[0]["n"]
    )
    full_width = (
        parsed.filter(F.col(CORRUPT_COL).isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("doc_id"), F.max("lang"), F.max("source"), F.max("n_chars"),
        )
        .collect()[0]["n"]
    )
    # full-width parse sees BOTH classes; the pruned plan sees
    # NEITHER — with n_chars pruned the type mismatch never happens
    # and the extra column is never tokenized, so every corrupt row
    # silently counts clean
    assert pruned == 0
    assert full_width > 0


def test_jsonl_census_properties_vs_python_reference(spark, tmp_path):
    """Triple-engine evidence for the census: on seeded random doc
    tables (NULLs in every nullable field, weird-but-JSON-safe
    strings), the Spark census must equal a plain-Python reference
    computed from the corruption rule — independently of DuckDB.
    Conservation: clean + quarantined row counts == table rows."""
    import random

    import pandas as pd

    from mapreducepy_spark.registry import load_catalog
    from mapreducepy_spark.sources.jsonl import _CORRUPT_EVERY

    rng = random.Random(42)
    langs = ["en", "zh", None, "es", ""]
    sources = ["web", None, "books"]
    builder = load_catalog()["jsonl_quarantine"].builder

    for trial in range(3):
        n = rng.randint(5, 120)
        rows = []
        for i in range(n):
            rows.append(
                (
                    i * rng.choice([1, 2, 5]),  # ids incl. %20 hits
                    "t" * rng.randint(0, 3),
                    rng.choice(langs),
                    rng.choice(sources),
                    rng.choice([None, 0, rng.randint(1, 10**6)]),
                )
            )
        d = tmp_path / f"prop{trial}"
        d.mkdir()
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ).astype({"doc_id": "int64", "n_chars": "Int64"}).to_parquet(
            d / "documents.parquet", index=False
        )
        out = builder(spark, str(d)).toPandas()

        # python reference, straight from the corruption rule
        corrupt = [r for r in rows if r[0] % _CORRUPT_EVERY == 0]
        clean = [r for r in rows if r[0] % _CORRUPT_EVERY != 0]
        assert int(out.n_rows.sum()) == n  # conservation
        q = out[out.status == "quarantined"]
        assert int(q.n_rows.sum()) == len(corrupt)
        got_by_lang = {
            (None if pd.isna(r.lang) else r.lang): r
            for r in out[out.status == "clean"].itertuples()
        }
        by_lang: dict = {}
        for r in clean:
            by_lang.setdefault(r[2], []).append(r)
        assert set(got_by_lang) == set(by_lang)
        for lang, rs in by_lang.items():
            g = got_by_lang[lang]
            assert g.n_rows == len(rs)
            assert g.min_doc_id == min(r[0] for r in rs)
            assert g.max_doc_id == max(r[0] for r in rs)
            chars = [r[4] for r in rs if r[4] is not None]
            want_sum = sum(chars) if chars else None
            got_sum = None if pd.isna(g.sum_chars) else int(g.sum_chars)
            assert got_sum == want_sum, (lang, trial)


# --- Avro: stdlib writer, Spark's reader ---------------------------


def _read_avro(spark, path):
    from mapreducepy_spark.sources.avro_source import _AVRO_FORMAT

    return spark.read.format(_AVRO_FORMAT).load(path)


def test_avro_codec_roundtrips_all_null_shapes(spark, tmp_path):
    """Spark's Avro reader must read back every nullable shape the
    stdlib writer emits for the adversarial corpus (NULL in each
    field, empty string, non-ASCII text whose CHARACTER length differs
    from its byte length, a long past 32 bits) — bit-level container
    conformance is what the cross-writer census certifies downstream."""
    from mapreducepy_spark.sources.avro_source import write_avro_documents

    rows = [
        {"doc_id": 0, "text": "", "lang": "en", "source": "web",
         "n_chars": 0},
        {"doc_id": 1, "text": None, "lang": None, "source": None,
         "n_chars": None},
        {"doc_id": None, "text": "héllo wörld", "lang": "de",
         "source": "books", "n_chars": 11},
        {"doc_id": 2**40, "text": "x" * 3000, "lang": "zh",
         "source": "web", "n_chars": 3000},
    ] * 700  # > _ROWS_PER_BLOCK: forces the multi-block path
    p = str(tmp_path / "docs.avro")
    write_avro_documents(p, rows)
    back = _read_avro(spark, p)
    assert back.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    got = [r.asDict() for r in back.collect()]
    assert sorted(got, key=repr) == sorted(rows, key=repr)


def test_avro_census_plan_is_one_decode_one_agg(spark, sf_dir):
    """Plan shape: the Avro FileScan is the one decode and feeds the
    hash aggregate directly: no binaryFile scan, no Python node, no
    join, no cartesian."""
    from mapreducepy_spark.registry import load_catalog

    df = load_catalog()["avro_census"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan avro") == 1
    assert "HashAggregate" in plan
    assert "binaryfile" not in plan.lower()
    assert "Python" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


_AVRO_CORRUPTIONS = {
    "bad_magic": lambda b: b"NOPE" + b[4:],
    "half_truncated": lambda b: b[: len(b) // 2],
    "last_5_bytes_cut": lambda b: b[:-5],
    "sync_byte_flipped": lambda b: b[:-1] + bytes([b[-1] ^ 0xFF]),
}


@pytest.mark.parametrize("corruption", sorted(_AVRO_CORRUPTIONS))
def test_avro_reader_raises_on_corrupt_container(spark, tmp_path, corruption):
    """The loud-failure contract: a corrupt container raises, at load
    (bad magic) or at the first action, never reads short."""
    from py4j.protocol import Py4JJavaError

    from mapreducepy_spark.sources.avro_source import write_avro_documents

    rows = [
        {"doc_id": i, "text": f"doc {i}", "lang": "en", "source": "web",
         "n_chars": len(f"doc {i}")}
        for i in range(2500)
    ]
    good = tmp_path / "good.avro"
    write_avro_documents(str(good), rows)
    assert _read_avro(spark, str(good)).count() == len(rows)
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.avro").write_bytes(
        _AVRO_CORRUPTIONS[corruption](good.read_bytes())
    )
    with pytest.raises(Py4JJavaError):
        _read_avro(spark, str(bad)).count()
