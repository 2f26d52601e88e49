"""Adversarial NULL/degenerate-input sweep: every documents-only
operator runs on a corpus containing NULL text, empty text, NULL
lang/source, and a 1-word doc, and must agree with its DuckDB oracle
— crash-for-crash is NOT acceptable, silent divergence even less so.

This is the test form of the sweep that found two real bugs the
fixtures could never catch (they contain no NULLs):

- ``dedup_prefix``: Spark ``concat_ws`` maps a NULL token array to
  '' while DuckDB ``array_to_string`` yields NULL — a NULL-text doc
  silently joined the empty-text duplicate group on one engine only.
- ``fn_regex``: ANSI ``CAST('' AS INT)`` killed the job on both
  engines for any source not matching the capture pattern (fixture
  sources all happen to match; real logs won't).

The ``read_jsonl`` ingestion path makes every row shape here
reachable in production (a line omitting a field parses clean with
that column NULL).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from mapreducepy_spark.registry import load_catalog

from .parity_util import canon_frame

CATALOG = load_catalog()

_ALL_TABLES = (
    "lineitem", "orders", "customer", "supplier", "nation",
    "region", "part", "events", "documents", "embeddings",
)


def _tables_of(sql: str) -> frozenset[str]:
    """Word-boundary table references of an oracle. A naive substring
    scan silently dropped ``text_contamination_ngram`` from the docs
    sweep for rounds (a word in its SQL contains 'part'), so the
    match must be exact-token."""
    import re

    return frozenset(t for t in _ALL_TABLES if re.search(rf"\b{t}\b", sql))


def _sweep(tables: frozenset[str]) -> list[str]:
    return [
        name
        for name, q in CATALOG.items()
        if q.oracle is not None and _tables_of(q.oracle) == tables
    ]


DOCS_ONLY = _sweep(frozenset({"documents"}))


# 22 distinct short words: passes the pipeline quality gate
# (tokens >= 20, TTR >= 0.30, avg word length <= 5.2)
_QUALITY_TEXT_A = (
    "one two three four five six seven eight nine ten plan scan "
    "join sort group limit merge hash read write push prune"
)
_QUALITY_TEXT_B = (
    "alpha beta gamma delta eps zeta eta theta iota kappa mu nu "
    "xi omi pi rho sigma tau ups phi chi psi"
)


@pytest.fixture(scope="module")
def adversarial_docs(tmp_path_factory):
    d = tmp_path_factory.mktemp("nullsweep")
    rows = [
        (0, "", "en", "web", 0),                          # empty text
        (1, None, "en", "web", 0),                        # NULL text
        (2, "hello world foo bar baz", None, "web", 23),  # NULL lang
        (3, "hello world foo bar baz", "en", None, 23),   # NULL source
        (4, "x", "zh", "books", 1),                       # 1-word doc
        (5, "hello world foo bar baz", "en", "web", 23),  # exact dup of 2
        # NEGATIVE doc_ids (ADVICE r8): Python modulo follows the
        # divisor's sign, SQL modulo the dividend's, so any builder
        # rule written as `doc_id % n` desyncs from its oracle
        # exactly here (ensure_evolved_fixture was the latent case;
        # fixed with abs() on both sides). One odd-|id| and one
        # even-|id| so both branches of every parity rule fire.
        (-7, "negative id doc about join filter", "de", "web", 32),
        (-8, "another negative id document row", "fr", "web", 32),
        # irregular whitespace: double space (empty token inside the
        # split), tab INSIDE a token (split(' ') must not treat it
        # as a separator), trailing space (trailing empty token) —
        # the split-on-single-space contract must hold identically
        # through tokenizers, shingles, and every empty-token filter
        (9, "spaced  doubly and\ttabbed token ", "en", "web", 32),
        # non-ASCII axis (round-10 session): CJK (multibyte, no
        # supplementary plane), supplementary-plane emoji (U+1F680 —
        # 4-byte UTF-8, a SURROGATE PAIR in the JVM's UTF-16: any
        # length/substring/levenshtein counting UTF-16 units instead
        # of codepoints desyncs exactly here), and combining marks
        # (e + U+0301 vs precomposed é — two docs that render alike
        # but must hash/compare as DIFFERENT codepoint sequences,
        # no engine may normalize silently)
        (10, "日本語 文本 处理 引擎 测试 join", "zh", "web", 24),
        (11, "emoji 🚀 mixed 🎉 tokens café test", "en", "web", 33),
        # 'café' PRECOMPOSED (U+00E9) next to 'éclair'/'tést'
        # with COMBINING U+0301: rendering-alike, codepoint-distinct
        # tokens that must stay distinct (no silent normalization)
        (12, "café éclair tést tokens", "fr", "web", 26),
        # pipeline-ledger branch coverage (round-10 session): no
        # fixture row anywhere was md5-eval (h2 < '0d'), so the
        # eval_split / contaminated / exact_dup reason codes of
        # pipeline_drop_explain (and the decontamination blocklist
        # path of pipeline_clean_corpus) never fired DATA-wise.
        # doc_id 27 hashes into the eval split; 13 shares its text ->
        # contaminated; 14/15 share a second text -> min-id keeper +
        # exact_dup. All three texts pass the quality gate (>=20
        # tokens, TTR>=0.3, avg len<=5.2) so the later branches are
        # actually reached.
        (27, _QUALITY_TEXT_A, "en", "web", len(_QUALITY_TEXT_A)),
        (13, _QUALITY_TEXT_A, "en", "web", len(_QUALITY_TEXT_A)),
        (14, _QUALITY_TEXT_B, "en", "web", len(_QUALITY_TEXT_B)),
        (15, _QUALITY_TEXT_B, "en", "web", len(_QUALITY_TEXT_B)),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(d / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    return str(d), con


@pytest.mark.parametrize("name", DOCS_ONLY)
def test_docs_operator_survives_adversarial_rows(
    spark, adversarial_docs, name
):
    sf_dir, con = adversarial_docs
    spd = CATALOG[name].builder(spark, sf_dir).toPandas()
    dpd = con.execute(CATALOG[name].oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd), name


EVENTS_ONLY = _sweep(frozenset({"events"}))

EMBEDDINGS_ONLY = _sweep(frozenset({"embeddings"}))


def _dup_group_vec():
    """The duplicate-id group's payload: dyadic floats (exact in
    float32), positive everywhere (same sign-LSH bucket as vec 1),
    but deliberately NOT vec 1's vector — see the fixture comment."""
    import numpy as np

    v = np.full(64, 0.125, np.float32)
    v[32:] = 0.25
    return v


@pytest.fixture(scope="module")
def adversarial_events_embeddings(tmp_path_factory):
    import numpy as np

    _DUP_GROUP_VEC = _dup_group_vec()

    d = tmp_path_factory.mktemp("nullsweep_ee")
    ev = pd.DataFrame(
        [
            (0, "2024-01-01 10:00:00", 1, "view", 10.0, '{"k":1}'),
            (1, "2024-01-01 10:05:00", 1, "click", None, None),
            (2, "2024-01-01 10:06:00", 1, "purchase", 5.0, '{"k":2}'),
            (3, "2024-01-01 10:06:00", 1, "purchase", 5.0, "{}"),  # ts tie
            (4, "2024-01-02 09:00:00", 2, "view", 1.0, None),
            (5, "2024-01-02 09:00:00", 2, "view", 1.0, None),
            (6, "2024-03-01 00:00:00", 3, "error", -4.0, '{"k":3}'),
            (7, "2024-03-01 00:00:01", None, "view", 2.0, None),
            (8, "2024-03-01 00:00:02", 4, None, 2.0, None),
            # user 5 purchases ONLY with NULL values -> NULL monetary
            # in events_rfm, exercising the pinned ASC NULLS FIRST
            # ntile order (and NULL-sum paths in session/value ops)
            (9, "2024-03-02 08:00:00", 5, "purchase", None, None),
            (10, "2024-03-02 08:10:00", 5, "purchase", None, "{}"),
            # DUPLICATE event_id at the SAME ts, one NULL value —
            # out of contract (dedup_events removes dup ids) but
            # reachable; pins the NULL-flagged struct tie-break in
            # events_ohlc (engines would otherwise decide the tie on
            # the value field, where NULL ordering diverges)
            (99, "2024-03-03 10:00:00", 6, "view", None, None),
            (99, "2024-03-03 10:00:00", 6, "view", 7.5, "{}"),
            # Rows tied on ts where ONE has a NULL event_id —
            # ADVICE r4. Two coverage axes, both needed (the round-8
            # review found the two-row version covered only one):
            # the DIFFERENT-type pair (view vs click) makes
            # order-dependent outputs (paths, lead/lag) diverge when
            # an ORDER BY ts, event_id lacks the NULLS FIRST pin;
            # the SAME-type pair (two views, latest view ts in the
            # fixture) makes the events_ohlc / agg_minmax_by struct
            # MIN/MAX tie land on the id field, where only the idn
            # flag keeps Spark (NULL struct fields first) and DuckDB
            # (NULLs last) agreeing.
            (None, "2024-03-04 11:00:00", 7, "view", 3.0, None),
            (100, "2024-03-04 11:00:00", 7, "click", 9.0, "{}"),
            (101, "2024-03-04 11:00:00", 7, "view", 5.0, "{}"),
            # NULL ts (ADVICE r7: no fixture carried one, leaving
            # every temporal operator's NULL-time semantics unpinned
            # — join_asof_nearest diverged exactly there); user 8
            # also has a non-NULL-ts row so per-user aggregates see
            # a MIXED NULL/non-NULL timeline, not just an all-NULL user
            (102, None, 8, "view", 2.0, None),
            (103, "2024-03-05 12:00:00", 8, "click", 4.0, "{}"),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["event_id"] = ev["event_id"].astype("Int64")  # int64 + NULL, not float
    ev["ts"] = pd.to_datetime(ev["ts"])
    ev.to_parquet(d / "events.parquet", index=False)
    emb = pd.DataFrame(
        {
            # vec_id 5 appears _K + 1 = FOUR times with identical
            # embeddings. A kernel that excludes only some same-id
            # candidates picks a same-id neighbor, or none at all,
            # while every oracle excludes ALL a.vec_id <> b.vec_id
            # pairs: 3 rows catch a one-step self fallback in a
            # top-1 kernel, and the 4th catches a top-K cut that
            # reserves only ONE slot for self (its K + 1 candidates
            # are all same-id, so sim_knn, the recall audits and
            # graph_knn_triangles get no neighbor for id 5). The
            # shared kernel masks every ids == ids[i] entry to -inf
            # before ranking. The payload is identical WITHIN the
            # group (any pick among duplicates yields the same row —
            # engine-deterministic) but NOT equal to vec 1's: its
            # self-cosine (1.0) strictly exceeds its best different-id
            # cosine, so an unmasked kernel ranks a same-id row first
            # instead of hiding behind the lowest-id tie-break (the
            # first version of this fixture reused vec 1's exact
            # payload and the mask-drop mutation survived the tie —
            # mutation-checked).
            # Same positive sign bits as vec 1 ⇒ same LSH bucket.
            "vec_id": [0, 1, 2, 3, 4, 5, 5, 5, 5],
            "embedding": [
                np.zeros(64, np.float32),           # zero norm
                np.ones(64, np.float32) / 8.0,
                None,                               # NULL embedding
                np.ones(3, np.float32),             # wrong length
                -np.ones(64, np.float32) / 8.0,
                _DUP_GROUP_VEC,                     # dup id ×4
                _DUP_GROUP_VEC,
                _DUP_GROUP_VEC,
                _DUP_GROUP_VEC,
            ],
            "label": [0, 1, None, 2, 1, 3, 3, 3, 3],
        }
    )
    emb.to_parquet(d / "embeddings.parquet", index=False)
    con = duckdb.connect()
    for t in ("events", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet')"
        )
    return str(d), con


@pytest.mark.parametrize("name", EVENTS_ONLY + EMBEDDINGS_ONLY)
def test_events_embeddings_operator_survives_adversarial_rows(
    spark, adversarial_events_embeddings, name
):
    """Same contract as the documents sweep, for the events table
    (NULL value/props/user/type, equal-timestamp ties, a lone user)
    and the embeddings table (zero-norm vector, NULL embedding,
    wrong dimensionality, NULL label). First run found two real
    bugs: arg_min/min_by tie divergence in agg_minmax_by (fixed via
    lexicographic (ts, id) struct aggregation) and the similarity
    family normalizing a zero vector into engine-divergent NaN
    (fixed via the shared norm² > 0 validity predicate, which DuckDB
    side was ALSO missing the length filter for)."""
    sf_dir, con = adversarial_events_embeddings
    spd = CATALOG[name].builder(spark, sf_dir).toPandas()
    dpd = con.execute(CATALOG[name].oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd), name


# Known engine-semantics gap, asserted explicitly below so a Spark
# upgrade that fixes it breaks THIS test and gets the operators'
# documentation updated: per the SQL standard, GROUP BY
# ROLLUP/CUBE/GROUPING SETS over an EMPTY table still emits the
# grand-total grouping-set row (count 0); DuckDB does, Spark's
# DataFrame rollup()/cube()/groupingSets() emit zero rows.
_EMPTY_GROUPING_GAP = {"agg_rollup", "agg_cube", "agg_grouping_sets"}


@pytest.fixture(scope="module")
def empty_tables(tmp_path_factory):
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("emptysweep")
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    con = duckdb.connect()
    for t in tables:
        # slice(0,0) preserves the arrow schema exactly — a pandas
        # head(0) round-trip would degrade string columns to NULL
        # type and crash both engines on unrelated binder errors
        tbl = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), str(d / f"{t}.parquet"))
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet')"
        )
    return str(d), con


@pytest.mark.parametrize(
    "name", [n for n, q in CATALOG.items() if q.oracle is not None]
)
def test_operator_survives_empty_tables(spark, empty_tables, name):
    """Every oracle-paired operator must process completely EMPTY
    tables without crashing and agree with DuckDB (first run found
    sim_ann_ivf np.stack-ing zero centroids). The three
    grouping-sets operators assert the documented Spark-vs-standard
    gap instead of parity."""
    sf_dir, con = empty_tables
    spd = CATALOG[name].builder(spark, sf_dir).toPandas()
    dpd = con.execute(CATALOG[name].oracle).fetchdf()
    if name in _EMPTY_GROUPING_GAP:
        assert len(spd) == 0 and len(dpd) == 1
    else:
        assert canon_frame(spd) == canon_frame(dpd), name


# --- TPC-H relational tables: NULL keys / dates / money -------------

_TPCH_TABLES = (
    "lineitem", "orders", "customer", "supplier", "part",
    "nation", "region",
)

TPCH_ONLY = [
    name
    for name, q in CATALOG.items()
    if q.oracle is not None
    and _tables_of(q.oracle)
    and _tables_of(q.oracle) <= frozenset(_TPCH_TABLES)
]


@pytest.fixture(scope="module")
def adversarial_tpch(tmp_path_factory):
    """Tiny TPC-H tables with every reachable-through-ingestion NULL
    shape the fixtures never carry: NULL join keys (both sides), NULL
    dates, NULL money/quantity, NULL categorical columns, a customer
    with no orders, an order with no lineitems. Known divergence
    classes this hunts: ANSI cast crashes (the fn_regex class),
    engine-default NULL ordering in windows (Spark ASC = NULLS
    FIRST, DuckDB ASC = NULLS LAST), NULL-key join/group behavior."""
    import numpy as np

    d = tmp_path_factory.mktemp("nullsweep_tpch")
    li = pd.DataFrame(
        [
            # ok rows across two orders / parts / suppliers
            (1, 1, 1, 1, 10.0, 100.0, 0.1, 0.02, "N", "O", "1996-02-01"),
            (1, 2, 2, 2, 20.0, 200.0, 0.0, 0.05, "R", "F", "1996-03-01"),
            (2, 1, 2, 1, 30.0, 300.0, 0.2, 0.00, "A", "F", "1997-01-01"),
            (2, 2, 1, 2, 40.0, 150.0, 0.1, 0.03, "N", "O", "1997-02-01"),
            # NULL part / supplier keys (join keys)
            (3, None, 1, 1, 5.0, 50.0, 0.0, 0.01, "N", "O", "1996-06-01"),
            (3, 1, None, 2, 6.0, 60.0, 0.1, 0.02, "R", "F", "1996-06-02"),
            # NULL date, NULL quantity, NULL price, NULL discount
            (4, 2, 2, 1, 7.0, 70.0, 0.0, 0.04, "A", "F", None),
            (4, 1, 1, 2, None, 80.0, 0.1, 0.01, "N", "O", "1996-07-01"),
            (5, 2, 1, 1, 8.0, None, 0.0, 0.02, "R", "F", "1996-08-01"),
            (5, 1, 2, 2, 9.0, 90.0, None, 0.03, "N", "O", "1996-09-01"),
            # NULL flag/status
            (6, 2, 2, 1, 11.0, 110.0, 0.1, 0.05, None, None, "1996-10-01"),
            # supplier 3's ONLY lineitem has a NULL price -> its
            # grouped revenue is NULL, exercising the pinned
            # ASC NULLS FIRST rank order in agg_gini
            (7, 2, 3, 1, 3.0, None, 0.0, 0.01, "N", "O", "1996-11-01"),
            # NEGATIVE orderkey (paired with order -9): JVM-side
            # F.col % and DuckDB % both follow the dividend's sign,
            # so key-rule arms (o_orderkey % 13, NULLIF(% 5, 0), the
            # abs()-guarded Z-order dims) must stay consistent on
            # negative keys too — the sign axis of the docs sweep,
            # applied to the star schema
            (-9, 1, 1, 1, 12.0, 120.0, 0.05, 0.02, "N", "O", "1996-04-12"),
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    )
    li["l_shipdate"] = pd.to_datetime(li["l_shipdate"]).astype("datetime64[us]")
    li["l_linenumber"] = li["l_linenumber"].astype("int32")
    li.to_parquet(d / "lineitem.parquet", index=False)

    od = pd.DataFrame(
        [
            (1, 1, "F", 1000.0, "1996-01-15", "1-URGENT"),
            (2, 2, "O", 2000.0, "1996-12-20", "3-MEDIUM"),
            (3, 1, "F", 500.0, "1996-05-05", "5-LOW"),
            (4, None, "O", 750.0, "1996-06-15", None),      # NULL custkey
            (5, 2, None, None, None, "2-HIGH"),             # NULL status/price/date
            (6, 3, "F", 1200.0, "2000-12-01", "1-URGENT"),  # recent order
            (7, 1, "O", 300.0, None, "4-NOT SPECIFIED"),    # NULL date
            # custkey 8 = the NULL-ts events user: the multi-table
            # sweep must prove a NULL-ts event matches NO order even
            # when its user HAS orders (the as-of forward/nearest
            # NULL-ts hazard passed coincidentally while no order
            # shared that user — ADVICE r7, made structural here)
            (8, 8, "O", 425.0, "2024-02-01", "3-MEDIUM"),
            # negative orderkey with one lineitem (see lineitem -9)
            (-9, 1, "F", 850.0, "1996-04-10", "2-HIGH"),
        ],
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    )
    od["o_orderdate"] = pd.to_datetime(od["o_orderdate"]).astype("datetime64[us]")
    od.to_parquet(d / "orders.parquet", index=False)

    cu = pd.DataFrame(
        [
            (1, "cust-a", 0, 100.0, "BUILDING"),
            (2, "cust-b", 1, None, "MACHINERY"),        # NULL balance
            (3, "cust-c", None, -50.0, None),           # NULL nation/segment
            (4, "cust-idle", 0, 900.0, "BUILDING"),     # no orders at all
        ],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    cu["c_nationkey"] = cu["c_nationkey"].astype("Int32")
    cu.to_parquet(d / "customer.parquet", index=False)

    su = pd.DataFrame(
        [
            (1, "supp-a", 0, 10.0),
            (2, "supp-b", 1, None),                     # NULL balance
            (3, "supp-c", None, 30.0),                  # NULL nation
        ],
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    su["s_nationkey"] = su["s_nationkey"].astype("Int32")
    su.to_parquet(d / "supplier.parquet", index=False)

    pa = pd.DataFrame(
        [
            (1, "part one", "Brand#11", "TYPE A", 5, 10.0),
            (2, "part two", "Brand#22", None, None, None),  # NULL type/size/price
        ],
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    )
    pa["p_size"] = pa["p_size"].astype("Int32")
    pa.to_parquet(d / "part.parquet", index=False)

    na = pd.DataFrame(
        [(0, "ALPHA", 0), (1, "BETA", 0)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    ).astype({"n_nationkey": "int32", "n_regionkey": "int32"})
    na.to_parquet(d / "nation.parquet", index=False)

    re = pd.DataFrame(
        [(0, "R-EAST")], columns=["r_regionkey", "r_name"]
    ).astype({"r_regionkey": "int32"})
    re.to_parquet(d / "region.parquet", index=False)

    con = duckdb.connect()
    for t in _TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet')"
        )
    return str(d), con


@pytest.mark.parametrize("name", TPCH_ONLY)
def test_tpch_operator_survives_adversarial_rows(
    spark, adversarial_tpch, name
):
    sf_dir, con = adversarial_tpch
    spd = CATALOG[name].builder(spark, sf_dir).toPandas()
    dpd = con.execute(CATALOG[name].oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd), name


# --- multi-table operators: union of all adversarial tables ---------

_SINGLE_SWEPT = (
    set(DOCS_ONLY) | set(EVENTS_ONLY) | set(EMBEDDINGS_ONLY) | set(TPCH_ONLY)
)

# every oracle-backed key must be adversarially swept SOMEWHERE —
# multi-table ops (as-of join over events+orders, the documents⋈
# embeddings multimodal join) run on the union of all four
# adversarial fixtures
MULTI_TABLE = [
    name
    for name, q in CATALOG.items()
    if q.oracle is not None and name not in _SINGLE_SWEPT
]


@pytest.fixture(scope="module")
def adversarial_all(
    tmp_path_factory,
    adversarial_docs,
    adversarial_events_embeddings,
    adversarial_tpch,
):
    import pathlib
    import shutil

    d = tmp_path_factory.mktemp("nullsweep_all")
    for src, _ in (
        adversarial_docs,
        adversarial_events_embeddings,
        adversarial_tpch,
    ):
        for f in pathlib.Path(src).glob("*.parquet"):
            shutil.copy(f, d / f.name)
    con = duckdb.connect()
    for f in pathlib.Path(d).glob("*.parquet"):
        con.execute(
            f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')"
        )
    return str(d), con


def test_every_oracle_key_is_swept_somewhere():
    """Coverage invariant: a future multi-table operator lands in
    MULTI_TABLE automatically; an operator referencing no known
    table at all would escape every sweep and must not exist."""
    for name, q in CATALOG.items():
        if q.oracle is not None:
            assert _tables_of(q.oracle), f"{name}: oracle references no table"


@pytest.mark.parametrize("name", MULTI_TABLE)
def test_multi_table_operator_survives_adversarial_rows(
    spark, adversarial_all, name
):
    sf_dir, con = adversarial_all
    spd = CATALOG[name].builder(spark, sf_dir).toPandas()
    dpd = con.execute(CATALOG[name].oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd), name


# --- residue-space sweep: the sign-stable-modulo structural pin -----

# Every derived-fixture construction rule keys on doc_id modulo some
# constant (20 for the JSONL/CSV failure classes, 7/5 for BMP
# geometry, 3/17 for WAV, 2/100 for the evolved-schema part split,
# 4 for PII injection). Python's % follows the divisor's sign, SQL's
# the dividend's, so any rule written without abs() desyncs from its
# oracle EXACTLY on negative ids with nonzero remainders — a class
# this round's 2-id sweep caught five instances of. This corpus
# covers EVERY residue of every rule modulus with BOTH signs (ids
# -120..120 ⊇ ±residues of 20/7/5/3/17/4; ±9_999_999 exercises
# magnitudes past every modulus), so a future rule that forgets
# abs() fails here on its first run, not in round N+1's review.

_MODULO_KEYS = [
    "jsonl_quarantine", "jsonl_quarantine_shapes", "csv_quarantine",
    "scan_schema_merge", "multimodal_decode_stats",
    "multimodal_audio_stats", "multimodal_resize_plan",
    "multimodal_frame_index", "multimodal_payload_stats",
    "text_pii_census", "dedup_prefix", "text_decontaminate",
]


@pytest.fixture(scope="module")
def residue_space_docs(tmp_path_factory):
    d = tmp_path_factory.mktemp("residue_space")
    ids = list(range(-120, 121)) + [9_999_999, -9_999_999]
    rows = []
    for i in ids:
        text = f"doc {i} join filter window row group order by key {i % 7}"
        rows.append((i, text, "en" if i % 2 else "de", f"src{i % 3}",
                     len(text)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(d / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    return str(d), con


@pytest.mark.parametrize("name", _MODULO_KEYS)
def test_modulo_rule_operator_survives_residue_space(
    spark, residue_space_docs, name
):
    sf_dir, con = residue_space_docs
    spd = CATALOG[name].builder(spark, sf_dir).toPandas()
    dpd = con.execute(CATALOG[name].oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd), name
