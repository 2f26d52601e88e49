"""Degenerate-input guards the synthetic fixtures never exercise
(continuous-random values, always-active users) but real data will."""

from __future__ import annotations

import pandas as pd

from mapreducepy_spark.registry import load_catalog

CATALOG = load_catalog()


def _write_events(tmp_path, rows):
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)


def test_events_anomaly_survives_zero_stddev_type(spark, tmp_path):
    """A constant-valued event type has stddev 0; under ANSI mode an
    unguarded (value-mu)/sd would throw DIVIDE_BY_ZERO and kill the
    job. The guard must instead drop the group's rows — matching
    DuckDB, where 0/0 is NULL and fails the |z|>2 filter."""
    sf = _write_events(
        tmp_path,
        [
            # constant group: sd = 0, must not crash, must emit no rows
            (1, "2024-01-01 00:00:00", 1, "const", 5.0, "{}"),
            (2, "2024-01-01 00:01:00", 1, "const", 5.0, "{}"),
            (3, "2024-01-01 00:02:00", 2, "const", 5.0, "{}"),
            # varied group with one extreme outlier (z far beyond 2)
            (4, "2024-01-01 00:00:00", 3, "varied", 1.0, "{}"),
            (5, "2024-01-01 00:01:00", 3, "varied", 1.1, "{}"),
            (6, "2024-01-01 00:02:00", 3, "varied", 0.9, "{}"),
            (7, "2024-01-01 00:03:00", 3, "varied", 1.0, "{}"),
            (8, "2024-01-01 00:04:00", 3, "varied", 1.05, "{}"),
            (9, "2024-01-01 00:05:00", 4, "varied", 100.0, "{}"),
        ],
    )
    out = CATALOG["events_anomaly"].builder(spark, sf).toPandas()
    assert set(out.event_type) == {"varied"}
    assert set(out.event_id) == {9}


def test_text_repetition_matches_python_reference(spark, tmp_path):
    """The nested higher-order-function expressions (struct-array
    bigram counts, max + lexicographic-min argmax) are the trickiest
    pure-expression code in the catalog — cross-check them against a
    plain-Python reference on seeded random docs plus adversarial
    shapes (all-same tokens, all-distinct, bigram-count ties)."""
    import random

    rng = random.Random(7)
    vocab = ["a", "b", "c", "dd", "ee"]
    texts = [
        "x x",                      # minimal: 2 tokens, 1 bigram
        "a a a a",                  # constant doc
        "a b c dd ee",              # all-distinct, all bigrams tied
        "b a b a b",                # alternating: 'a b' vs 'b a' tie shapes
    ] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 40)))
        for _ in range(40)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "src0",
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)

    out = (
        CATALOG["text_repetition"]
        .builder(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    def ref(text):
        t = [w for w in text.split(" ") if w]
        b = [f"{t[i]} {t[i+1]}" for i in range(len(t) - 1)]
        counts = {x: b.count(x) for x in b}
        top_n = max(counts.values())
        top_bigram = min(x for x, n in counts.items() if n == top_n)
        r6 = lambda v: __import__("math").floor(v * 1e6 + 0.5) / 1e6
        return (
            len(t),
            r6(1.0 - len(set(t)) / len(t)),
            top_bigram,
            r6(top_n / len(b)),
        )

    for doc_id, text in enumerate(texts):
        n_tokens, dup_ratio, top_bigram, top_frac = ref(text)
        row = out.loc[doc_id]
        assert row.n_tokens == n_tokens, (doc_id, text)
        assert row.dup_word_ratio == dup_ratio, (doc_id, text)
        assert row.top_bigram == top_bigram, (doc_id, text)
        assert row.top_bigram_frac == top_frac, (doc_id, text)


def test_events_entropy_single_type_user_is_zero_not_crash(spark, tmp_path):
    """A user with ONE event type has n_types=1 → ln(1)=0; the
    normalized entropy must be the guarded exact 0.0, not an ANSI
    DIVIDE_BY_ZERO, and raw entropy must be exactly 0.0 (p=1)."""
    sf = _write_events(
        tmp_path,
        [
            (1, "2024-01-01 00:00:00", 7, "view", 1.0, "{}"),
            (2, "2024-01-01 00:05:00", 7, "view", 1.0, "{}"),
            (3, "2024-01-01 00:00:00", 8, "view", 1.0, "{}"),
            (4, "2024-01-01 00:05:00", 8, "click", 1.0, "{}"),
        ],
    )
    out = {
        r["user_id"]: r
        for r in CATALOG["events_entropy"].builder(spark, sf).collect()
    }
    assert out[7]["entropy"] == 0.0 and out[7]["norm_entropy"] == 0.0
    assert out[7]["n_types"] == 1
    # two equally likely types: entropy = ln(2), normalized = 1.0
    assert out[8]["norm_entropy"] == 1.0


def test_events_inter_arrival_single_event_user_dropped(spark, tmp_path):
    """A user with one event has no gap (lag is NULL) — they must be
    absent from the output, not emitted with NULL stats."""
    sf = _write_events(
        tmp_path,
        [
            (1, "2024-01-01 00:00:00", 7, "view", 1.0, "{}"),
            (2, "2024-01-01 00:00:10", 8, "view", 1.0, "{}"),
            (3, "2024-01-01 00:01:10", 8, "view", 1.0, "{}"),
        ],
    )
    rows = CATALOG["events_inter_arrival"].builder(spark, sf).collect()
    assert [r["user_id"] for r in rows] == [8]
    assert rows[0]["n_gaps"] == 1 and rows[0]["avg_gap_sec"] == 60.0


def test_events_attribution_tolerance_boundary(spark, tmp_path):
    """A view exactly AT the lookback bound attributes; one past it
    does not; a purchase with no prior view yields NULLs (LEFT
    semantics)."""
    base = pd.Timestamp("2024-01-01 12:00:00")
    hours = pd.Timedelta(hours=1)
    sf = _write_events(
        tmp_path,
        [
            # user 1: view exactly 12h before purchase -> attributed
            (10, base - 12 * hours, 1, "view", 1.0, "{}"),
            (11, base, 1, "purchase", 9.0, "{}"),
            # user 2: view 12h + 1s before purchase -> stale
            (20, base - 12 * hours - pd.Timedelta(seconds=1), 2, "view", 1.0, "{}"),
            (21, base, 2, "purchase", 9.0, "{}"),
            # user 3: purchase with no view at all
            (31, base, 3, "purchase", 9.0, "{}"),
        ],
    )
    out = {
        r["purchase_id"]: r
        for r in CATALOG["events_attribution"].builder(spark, sf).collect()
    }
    assert out[11]["view_id"] == 10 and out[11]["age_sec"] == 43200.0
    assert out[21]["view_id"] is None
    assert out[31]["view_id"] is None and len(out) == 3


def test_charlm_skips_sub_bigram_docs(spark, tmp_path):
    """Docs shorter than 2 chars have no bigram — they must be
    excluded on both engines (Spark's sequence(1, 0) counts DOWN, so
    the length guard is semantic)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["ab", "x", ""],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [2, 1, 0],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    rows = CATALOG["text_charlm"].builder(spark, str(tmp_path)).collect()
    assert [r["doc_id"] for r in rows] == [1]
    # only one bigram 'ab': p(b|a)=1 -> cross-entropy exactly 0
    assert rows[0]["char_lm_ce"] == 0.0


def test_cooccurrence_repeated_types_count_once_per_session(spark, tmp_path):
    """A session with the same type twice must contribute each pair
    ONCE (distinct session-type table), and a single-type session
    contributes no pair."""
    sf = _write_events(
        tmp_path,
        [
            # user 7, one session: view, view, click -> 1 (click,view) pair
            (1, "2024-01-01 00:00:00", 7, "view", 1.0, "{}"),
            (2, "2024-01-01 00:01:00", 7, "view", 1.0, "{}"),
            (3, "2024-01-01 00:02:00", 7, "click", 1.0, "{}"),
            # user 8, one session: only views -> no pair
            (4, "2024-01-01 00:00:00", 8, "view", 1.0, "{}"),
            (5, "2024-01-01 00:01:00", 8, "view", 1.0, "{}"),
        ],
    )
    rows = CATALOG["events_cooccurrence"].builder(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["type_a"], r["type_b"], r["n_both"]) == ("click", "view", 1)
    # 2 sessions total; click in 1, view in 2 -> lift = (1*2)/(1*2) = 1
    assert r["support"] == 0.5 and r["lift"] == 1.0


def test_survivors_keep_min_doc_and_isolated_docs(spark, tmp_path):
    """Verified-duplicate texts collapse to the lowest doc_id; docs
    with no verified duplicate all survive."""
    dup = "the quick brown fox jumps over the lazy dog again and again"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [dup, dup, "a completely different sentence here"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(dup), len(dup), 36],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    rows = CATALOG["dedup_survivors_verified"].builder(
        spark, str(tmp_path)
    ).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 3]


def test_attribution_same_timestamp_view_is_inclusive(spark, tmp_path):
    """A view at the exact purchase timestamp must attribute
    (v.ts <= p.ts is inclusive; the carry sorts views before
    purchases at equal ts), and with two views at the same ts the
    larger event_id wins — the oracle's DESC/DESC tie-break."""
    t = "2024-01-01 12:00:00"
    sf = _write_events(
        tmp_path,
        [
            (1, t, 7, "view", 1.0, "{}"),
            (2, t, 7, "view", 1.0, "{}"),
            (3, t, 7, "purchase", 9.0, "{}"),
        ],
    )
    rows = CATALOG["events_attribution"].builder(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["view_id"] == 2 and rows[0]["age_sec"] == 0.0


def test_zipf_single_type_corpus_yields_null_fit(spark, tmp_path):
    """A one-word vocabulary makes every ln(rank)=0, so the fit's
    denominator is exactly 0 — an ANSI DIVIDE_BY_ZERO without the
    guard. Both engines must emit NULL slope/intercept instead
    (found by probing; the fixtures' vocabulary never shrinks to 1)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["word word word", "word"],
            "lang": ["en"] * 2,
            "source": ["s"] * 2,
            "n_chars": [14, 4],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    rows = CATALOG["text_zipf"].builder(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_types"] == 1 and r["n_tokens"] == 4
    assert r["zipf_slope"] is None and r["zipf_intercept"] is None


def test_mixture_plan_water_filling_invariants(spark, tmp_path):
    """Adversarially skewed sources (one giant crawl, several small
    ones): the integer water-filling must (a) never plan more than a
    source has, (b) never exceed the global budget, (c) leave at most
    n_sources-1 budget tokens unspent (integer-floor slack only),
    (d) give every capped source the same water level."""
    texts = {
        "tiny": ["a b"],                       # 2 tokens
        "small": ["a b c d e"] * 4,            # 20 tokens
        "mid": ["w x y z"] * 25,               # 100 tokens
        "mega": ["t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"] * 100,  # 1000 tokens
    }
    rows = []
    i = 0
    for src, ts in texts.items():
        for t in ts:
            rows.append((i, t, "en", src, len(t)))
            i += 1
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    out = (
        CATALOG["corpus_mixture_plan"]
        .builder(spark, str(tmp_path))
        .toPandas()
        .set_index("source")
    )
    total = int(out.n_tokens.sum())
    budget = total // 2
    assert (out.planned_tokens <= out.n_tokens).all()
    assert int(out.planned_tokens.sum()) <= budget
    assert budget - int(out.planned_tokens.sum()) < len(out)
    capped = out[out.is_capped]
    assert len(capped) >= 1  # the mega source must be capped
    assert capped.planned_tokens.nunique() == 1  # one water level
    full = out[~out.is_capped]
    assert (full.planned_tokens == full.n_tokens).all()
    assert (out.sample_fraction > 0).all()
    assert (out.sample_fraction <= 1.0).all()


def test_mixture_plan_zero_token_source_null_fraction(spark, tmp_path):
    """A source whose documents tokenize to nothing must yield a NULL
    sampling fraction (ANSI zero-denominator guard), not a crash."""
    rows = [
        (0, "", "en", "empty_src", 0),
        (1, " ", "en", "empty_src", 1),
        (2, "a b c d", "en", "real_src", 7),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    out = (
        CATALOG["corpus_mixture_plan"]
        .builder(spark, str(tmp_path))
        .toPandas()
        .set_index("source")
    )
    assert out.loc["empty_src"].n_tokens == 0
    assert pd.isna(out.loc["empty_src"].sample_fraction)
    assert out.loc["real_src"].sample_fraction > 0


def test_lsh_band_stats_pair_volume_bounds_actual_candidates(
    spark, sf_dir
):
    """The gauge must bound the join it predicts: the union-distinct
    candidate set (dedup_near) is at most the summed per-band pair
    volume and at least the largest single band's volume."""
    stats = CATALOG["lsh_band_stats"].builder(spark, sf_dir).toPandas()
    n_union = CATALOG["dedup_near"].builder(spark, sf_dir).count()
    assert stats.n_cand_pairs.max() <= n_union <= stats.n_cand_pairs.sum()
    # every doc appears in every band
    assert stats.n_docs.nunique() == 1


def test_source_profile_token_totals_agree_with_mixture_plan(
    spark, sf_dir
):
    """docs_source_profile and corpus_mixture_plan must agree on the
    per-source token mass (same token definition), and the card's
    counts must be internally consistent."""
    prof = (
        CATALOG["docs_source_profile"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    mix = (
        CATALOG["corpus_mixture_plan"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    assert prof.n_tokens.to_dict() == mix.n_tokens.to_dict()
    from mapreducepy_spark.io import load_spread

    assert prof.n_docs.sum() == load_spread(spark, sf_dir, "documents").count()
    assert (prof.n_unique <= prof.n_docs).all()
    assert (prof.dup_rate >= 0).all() and (prof.dup_rate < 1).all()


def test_mixture_formula_matches_iterative_reference():
    """Property-test the water-filling FORMULA itself (the exact
    integer arithmetic both engines execute) against a plain
    iterative max-min-fair reference — no Spark in the loop, so
    hypothesis can hammer thousands of adversarial token profiles:
    all-equal, one-giant, zeros, singletons."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def formula(tokens: list[int]) -> list[int]:
        # mirror of corpus_mixture_plan's SQL, in evaluation order
        order = sorted(range(len(tokens)), key=lambda i: (tokens[i], i))
        total = sum(tokens)
        budget = total // 2
        n = len(tokens)
        planned = [0] * n
        taken_before = 0
        shares = []
        for r, i in enumerate(order, start=1):
            share = max(budget - taken_before, 0) // (n - r + 1)
            shares.append((i, share))
            taken_before += tokens[i]
        level = max(
            (s for i, s in shares if tokens[i] > s), default=None
        )
        for i, share in shares:
            if tokens[i] <= share:
                planned[i] = tokens[i]
            else:
                planned[i] = level if level is not None else tokens[i]
        return planned

    def reference(tokens: list[int]) -> list[int]:
        # true iterative max-min fairness with integer shares:
        # repeatedly grant every source that fits its equal share,
        # recompute, until only capped sources remain
        total = sum(tokens)
        budget = total // 2
        remaining = dict(enumerate(tokens))
        planned = {}
        while remaining:
            share = budget // len(remaining)
            fits = {i: t for i, t in remaining.items() if t <= share}
            if not fits:
                for i in remaining:
                    planned[i] = share
                break
            # grant the smallest first (ties by index) — one at a
            # time, recomputing, mirrors ascending processing
            i = min(fits, key=lambda j: (fits[j], j))
            planned[i] = remaining.pop(i)
            budget -= planned[i]
        return [planned[i] for i in range(len(tokens))]

    @settings(max_examples=2000, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=10**9),
                 min_size=1, max_size=12)
    )
    def check(tokens):
        got = formula(tokens)
        want = reference(tokens)
        assert got == want, (tokens, got, want)
        budget = sum(tokens) // 2
        assert sum(got) <= budget
        assert all(p <= t for p, t in zip(got, tokens))

    check()


def _write_docs(tmp_path, texts_by_source):
    rows, i = [], 0
    for src, ts in texts_by_source.items():
        for t in ts:
            rows.append((i, t, "en", src, len(t)))
            i += 1
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_mixture_apply_reconciles_with_plan(spark, tmp_path):
    """corpus_mixture_apply must (a) keep every doc of an uncapped
    source (keep_ppm hits exactly 1e6 — full sources survive whole),
    (b) never report more kept tokens than the source has, and
    (c) agree with corpus_mixture_plan's fraction at ppm resolution
    — the planner and the executor cannot drift."""
    sf = _write_docs(
        tmp_path,
        {
            "tiny": ["a b"],
            "small": ["a b c d e"] * 4,
            "mega": ["t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"] * 100,
        },
    )
    out = (
        CATALOG["corpus_mixture_apply"]
        .builder(spark, sf)
        .toPandas()
        .set_index("source")
    )
    plan = (
        CATALOG["corpus_mixture_plan"]
        .builder(spark, sf)
        .toPandas()
        .set_index("source")
    )
    n_docs = {"tiny": 1, "small": 4, "mega": 100}
    assert (out.tokens_kept <= out.n_tokens).all()
    assert (out.keep_ppm <= 1_000_000).all()
    for src in out.index:
        assert out.loc[src, "keep_ppm"] == round(
            plan.loc[src, "sample_fraction"] * 1_000_000
        )
        if out.loc[src, "keep_ppm"] == 1_000_000:
            assert out.loc[src, "n_docs_kept"] == n_docs[src]
            assert out.loc[src, "tokens_kept"] == out.loc[src, "n_tokens"]
    # the capped mega source must actually be subsampled
    assert out.loc["mega", "n_docs_kept"] < n_docs["mega"]
    assert out.loc["mega", "tokens_kept"] < out.loc["mega", "n_tokens"]


def test_mixture_apply_zero_token_source_keeps_nothing(spark, tmp_path):
    """A zero-token source has no defined fraction: keep_ppm and
    realized_ppm are NULL and nothing is kept — no ANSI crash."""
    sf = _write_docs(
        tmp_path, {"empty_src": ["", " "], "real_src": ["a b c d"]}
    )
    out = (
        CATALOG["corpus_mixture_apply"]
        .builder(spark, sf)
        .toPandas()
        .set_index("source")
    )
    assert pd.isna(out.loc["empty_src", "keep_ppm"])
    assert pd.isna(out.loc["empty_src", "realized_ppm"])
    assert out.loc["empty_src", "n_docs_kept"] == 0
    assert out.loc["empty_src", "tokens_kept"] == 0


def test_containment_catches_truncation_jaccard_misses(spark, tmp_path):
    """A short doc fully embedded in a long one: Jaccard is tiny
    (union-normalized) but containment is 1.0 — the exact pair class
    this operator exists for. The Jaccard operator must NOT emit the
    pair; the containment operator must."""
    long_words = " ".join(f"w{i}" for i in range(200))
    short_words = " ".join(f"w{i}" for i in range(10))  # strict prefix
    sf = _write_docs(tmp_path, {"crawl": [long_words, short_words]})
    cont = (
        CATALOG["dedup_containment"].builder(spark, sf).toPandas()
    )
    jacc = (
        CATALOG["dedup_ngram_jaccard"].builder(spark, sf).toPandas()
    )
    assert len(cont) == 1
    assert cont.iloc[0]["containment"] == 1.0
    assert cont.iloc[0]["jaccard"] < 0.5
    assert len(jacc) == 0


def test_containment_dominates_jaccard(spark, sf_dir):
    """For any pair, |A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| — if a
    containment row ever shows the reverse, a denominator got
    swapped. Checked on the real fixture output."""
    out = CATALOG["dedup_containment"].builder(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out.containment >= out.jaccard - 1e-9).all()
    assert (out.containment <= 1.0).all()


def test_dedup_prefix_null_text_not_merged_with_empty(spark, tmp_path):
    """Spark's concat_ws maps a NULL token array to '' — without the
    NULL filter, NULL-text docs (e.g. a JSONL line missing the text
    field) would silently join the empty-text duplicate group while
    the DuckDB oracle emits NULL. Both engines must agree: NULL-text
    rows are excluded entirely."""
    import duckdb

    rows = [
        (0, "", "en", "s", 0),
        (1, "", "en", "s", 0),
        (2, None, "en", "s", 0),
        (3, None, "en", "s", 0),
        (4, "a b c", "en", "s", 5),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    out = CATALOG["dedup_prefix"].builder(spark, str(tmp_path)).toPandas()
    # exactly one group: the two empty-text docs; NULL-text excluded
    assert len(out) == 1
    assert out.iloc[0]["n_docs"] == 2
    assert out.iloc[0]["keep_doc_id"] == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    oracle = con.execute(CATALOG["dedup_prefix"].oracle).fetchdf()
    assert len(oracle) == 1
    assert int(oracle.iloc[0]["n_docs"]) == 2


def test_embed_covariance_partials_are_batch_invariant():
    """The mapInPandas partial fold must give the SAME exact integers
    no matter how rows are split into batches/partitions — the whole
    hash-parity argument rests on it."""
    import numpy as np
    import pandas as pd

    from mapreducepy_spark.llm.embedstats import _DIM, _SCALE, _partial_cov

    rng = np.random.default_rng(7)
    x = (rng.random((37, _DIM)) - 0.5).astype(np.float32)

    def fold(splits):
        frames = [
            pd.DataFrame({"embedding": list(x[a:b])}) for a, b in splits
        ]
        out = list(_partial_cov(iter(frames)))
        assert len(out) == 1
        r = out[0].iloc[0]
        return r["n"], np.array(r["s"]), np.array(r["ss"])

    n1, s1, ss1 = fold([(0, 37)])
    n2, s2, ss2 = fold([(0, 5), (5, 5), (5, 20), (20, 37)])  # incl. empty
    assert n1 == n2 == 37
    assert (s1 == s2).all() and (ss1 == ss2).all()

    # and the fold must equal the direct quantized moments
    q = np.floor(x.astype(np.float64) * _SCALE + 0.5).astype(np.int64)
    assert (s1 == q.sum(axis=0)).all()
    assert (ss1.reshape(_DIM, _DIM) == q.T @ q).all()


def test_embed_covariance_zero_variance_dim_yields_null_corr(spark, tmp_path):
    """A constant dimension has zero variance; corr against it must be
    NULL (guarded division), never NaN/inf."""
    import numpy as np
    import pandas as pd

    from mapreducepy_spark.registry import load_catalog

    rng = np.random.default_rng(3)
    vecs = []
    for _ in range(8):
        v = (rng.random(64) - 0.5).astype(np.float32)
        v[0] = 0.25  # dim 1 constant across all rows
        vecs.append(v)
    pd.DataFrame(
        {
            "vec_id": range(8),
            "embedding": [list(map(float, v)) for v in vecs],
            "label": [0] * 8,
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    df = (
        load_catalog()["embed_covariance"]
        .builder(spark, str(tmp_path))
        .toPandas()
    )
    dim1 = df[(df.dim_a == 1) | (df.dim_b == 1)]
    assert len(df) > 0
    assert dim1["corr"].isna().all()
    others = df[(df.dim_a != 1) & (df.dim_b != 1)]
    assert others["corr"].notna().all()


def _duck_on(tmp_path, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    return con


def test_groupagg_in_threshold_is_exclusive_at_boundary(spark, tmp_path):
    """Q18 shape: an order summing EXACTLY to the threshold (250) must
    be excluded on both engines — integral quantities make the
    compare exact, no rounding knife edge."""
    from .parity_util import canon_frame

    pd.DataFrame(
        {
            "l_orderkey": [1, 1, 2, 2],
            "l_quantity": [100.0, 150.0, 100.0, 151.0],  # 250 vs 251
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)
    od = pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_custkey": [10, 10],
            "o_totalprice": [5.0, 6.0],
            # µs precision: the real fixture is TIMESTAMP(us); a raw
            # pandas datetime64[ns] would write TIMESTAMP(nanos),
            # which the session reads as long (events-only rebuild)
            "o_orderdate": pd.to_datetime(
                ["2000-01-01", "2000-01-02"]
            ).astype("datetime64[us]"),
        }
    )
    od.to_parquet(tmp_path / "orders.parquet", index=False)
    pd.DataFrame({"c_custkey": [10], "c_name": ["c10"]}).to_parquet(
        tmp_path / "customer.parquet", index=False
    )
    q = CATALOG["join_groupagg_in"]
    spd = q.builder(spark, str(tmp_path)).toPandas()
    con = _duck_on(tmp_path, ("lineitem", "orders", "customer"))
    dpd = con.execute(q.oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd)
    assert list(spd["o_orderkey"]) == [2]
    assert list(spd["sum_qty"]) == [251]


def test_global_share_equality_at_boundary_excluded(spark, tmp_path):
    """Q11 shape: a part landing EXACTLY on the mean-relative
    threshold (v·n·4 == 5·tot) must be excluded on both engines —
    the compare is pure BIGINT arithmetic, the mean never exists as
    a double."""
    from .parity_util import canon_frame

    # cents: 5, 6, 1 -> tot=12, n=3. part 1: 5·3·4 = 60 == 5·12 ->
    # exactly on the boundary, excluded; part 2: 72 > 60, included;
    # part 3: 12 < 60, excluded.
    pd.DataFrame(
        {
            "l_partkey": [1, 2, 3],
            "l_extendedprice": [0.05, 0.06, 0.01],
            "l_discount": [0.0, 0.0, 0.0],
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)
    q = CATALOG["agg_global_share"]
    spd = q.builder(spark, str(tmp_path)).toPandas()
    con = _duck_on(tmp_path, ("lineitem",))
    dpd = con.execute(q.oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd)
    assert list(spd["l_partkey"]) == [2]


def test_exists_chain_shipdate_ties_keep_all_tied_last(spark, tmp_path):
    """Q21 shape: two suppliers tied at the order's max shipdate are
    BOTH last shippers (strictly-greater NOT EXISTS) — deterministic
    tie semantics, identical on both engines."""
    from .parity_util import canon_frame

    li = pd.DataFrame(
        {
            "l_orderkey": [1, 1, 1],
            "l_suppkey": [101, 102, 103],
            "l_shipdate": pd.to_datetime(
                ["2000-01-05", "2000-01-05", "2000-01-01"]
            ).astype("datetime64[us]"),
        }
    )
    li.to_parquet(tmp_path / "lineitem.parquet", index=False)
    pd.DataFrame(
        {"s_suppkey": [101, 102, 103], "s_name": ["sa", "sb", "sc"]}
    ).to_parquet(tmp_path / "supplier.parquet", index=False)
    q = CATALOG["join_exists_chain"]
    spd = q.builder(spark, str(tmp_path)).toPandas()
    con = _duck_on(tmp_path, ("lineitem", "supplier"))
    dpd = con.execute(q.oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd)
    assert sorted(spd["s_name"]) == ["sa", "sb"]


def test_chunk_overlap_boundary_token_counts(spark, tmp_path):
    """Sliding-window chunker at the window boundaries: exactly SEQ
    tokens → chunk 0 full plus a stride-aligned tail chunk whose span
    is a strict suffix of chunk 0 (the documented emit-while-start<n
    spec); SEQ+1 tokens → the tail chunk carries the new token. Both
    engines must agree chunk-for-chunk, and every token must be
    covered by at least one chunk."""
    from mapreducepy_spark.llm.text import _CHUNK_SEQ, _CHUNK_STRIDE

    from .parity_util import canon_frame

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                words(_CHUNK_SEQ),           # exactly one window
                words(_CHUNK_SEQ + 1),       # one token past
                words(_CHUNK_STRIDE),        # exactly one stride
                words(2 * _CHUNK_SEQ),       # several windows
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [0] * 4,
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    q = CATALOG["text_chunk_overlap"]
    spd = q.builder(spark, str(tmp_path)).toPandas()
    con = _duck_on(tmp_path, ("documents",))
    dpd = con.execute(q.oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd)
    by_doc = spd.groupby("doc_id")
    # doc 1: starts 0 and 24 → lens 32 and 8; doc 3: one chunk len 24
    assert sorted(by_doc.get_group(1)["n_chunk_tokens"]) == [
        _CHUNK_SEQ - _CHUNK_STRIDE, _CHUNK_SEQ,
    ]
    assert list(by_doc.get_group(3)["n_chunk_tokens"]) == [_CHUNK_STRIDE]
    # coverage: per doc, max(start+len) == n_tokens (no token dropped)
    for doc_id, n in ((1, _CHUNK_SEQ), (2, _CHUNK_SEQ + 1), (4, 2 * _CHUNK_SEQ)):
        g = by_doc.get_group(doc_id)
        ends = g["chunk_idx"] * _CHUNK_STRIDE + g["n_chunk_tokens"]
        assert ends.max() == n


def test_quantize_error_extreme_vectors(spark, tmp_path):
    """int8 quantization card on knife-edge vectors: a constant
    vector (every dim quantizes to ±127, zero error), a one-hot
    vector (63 zero dims), and a max-negative component (floor(x+0.5)
    at exactly -127 must not clamp-miss). Engines must hash-agree and
    the zero-error claims must hold exactly."""
    import numpy as np

    from .parity_util import canon_frame

    emb = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "embedding": [
                np.full(64, 0.25, dtype=np.float32),          # constant +
                np.eye(64, dtype=np.float32)[0] * -0.5,       # one-hot −
                np.linspace(-0.5, 0.5, 64).astype(np.float32),  # ramp
            ],
            "label": ["a", "b", "c"],
        }
    )
    emb.to_parquet(tmp_path / "embeddings.parquet", index=False)
    q = CATALOG["embed_quantize_error"]
    spd = q.builder(spark, str(tmp_path)).toPandas().set_index("vec_id")
    con = _duck_on(tmp_path, ("embeddings",))
    dpd = con.execute(q.oracle).fetchdf()
    assert canon_frame(spd.reset_index()) == canon_frame(dpd)
    # constant vector: every dim is the max → q = ±127 exactly, 0 error
    assert spd.loc[1, "sum_abs_err_u"] == 0
    assert spd.loc[1, "n_zero_q"] == 0
    # one-hot: the hot dim exact, the 63 others are exactly 0 → q=0
    assert spd.loc[2, "sum_abs_err_u"] == 0
    assert spd.loc[2, "n_zero_q"] == 63


def test_pagerank_mass_conserved_and_hand_graph(spark, tmp_path):
    """PageRank invariants on a hand-built 2-part/2-supplier graph:
    (a) engines hash-agree; (b) total rank mass stays within
    truncating-division loss of the initial mass (each node loses
    < DEN ulps per division — mass cannot be created); (c) the
    higher-degree node outranks the lower-degree one."""
    from .parity_util import canon_frame

    li = pd.DataFrame(
        {
            # part 1 shipped by suppliers 1+2; part 2 only by supplier 1
            "l_partkey": [1, 1, 2],
            "l_suppkey": [1, 2, 1],
            "l_shipdate": pd.to_datetime(["1996-06-01"] * 3).astype(
                "datetime64[us]"
            ),
        }
    )
    li.to_parquet(tmp_path / "lineitem.parquet", index=False)
    q = CATALOG["graph_pagerank"]
    spd = q.builder(spark, str(tmp_path)).toPandas()
    con = _duck_on(tmp_path, ("lineitem",))
    dpd = con.execute(q.oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd)
    assert len(spd) == 4
    total = spd["rank_scaled"].sum()
    # 4 nodes × 3 iterations × (2 divisions each) × loss < 100 per
    # div; on this graph every division is exact, so loss may be 0
    assert 0 <= 1_000_000_000_000 - total < 4 * 3 * 2 * 100 + 4
    ranks = spd.set_index("node")["rank_scaled"]
    assert ranks["s:1"] > ranks["s:2"]   # degree 2 vs degree 1
    assert ranks["p:1"] > ranks["p:2"]


def test_knn_triangles_hand_cluster(spark, tmp_path):
    """Mutual-kNN triangle count on a planted geometry: 4 vectors in
    a tight cluster (pairwise mutual within top-3) + 2 satellites far
    away. The 4-clique has C(4,3)=4 triangles; engines must
    hash-agree on the full card."""
    import numpy as np

    from .parity_util import canon_frame

    rng = np.random.RandomState(7)
    base = rng.rand(64).astype(np.float32) + 0.5
    cluster = [base + rng.rand(64).astype(np.float32) * 0.01 for _ in range(4)]
    # orthogonal-ish satellites: distinct directions, far from cluster
    sat1 = np.zeros(64, dtype=np.float32); sat1[0] = 1.0
    sat2 = np.zeros(64, dtype=np.float32); sat2[1] = 1.0
    emb = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4, 5, 6],
            "embedding": cluster + [sat1, sat2],
            "label": ["c"] * 4 + ["s"] * 2,
        }
    )
    emb.to_parquet(tmp_path / "embeddings.parquet", index=False)
    q = CATALOG["graph_knn_triangles"]
    spd = q.builder(spark, str(tmp_path)).toPandas()
    con = _duck_on(tmp_path, ("embeddings",))
    dpd = con.execute(q.oracle).fetchdf()
    assert canon_frame(spd) == canon_frame(dpd)
    row = spd.iloc[0]
    assert row["n_nodes"] == 6
    assert row["n_triangles"] >= 4  # the planted 4-clique


def test_drop_explain_kept_rows_equal_clean_corpus(spark, sf_dir):
    """pipeline_drop_explain's 'kept' rows must be EXACTLY the rows
    pipeline_clean_corpus emits — the audit and the pipeline share
    the gate expressions and stage priority, and this pins that they
    stay fused (a drifted threshold or reordered stage would split
    the sets)."""
    from mapreducepy_spark.llm.pipeline import (
        pipeline_clean_corpus,
        pipeline_drop_explain,
    )

    exp = pipeline_drop_explain(spark, sf_dir).toPandas()
    kept = exp[exp.reason == "kept"]
    clean = pipeline_clean_corpus(spark, sf_dir).toPandas()
    assert set(kept.doc_id) == set(clean.doc_id)
    # split labels agree row-for-row with the manifest
    merged = kept.merge(clean, on="doc_id", suffixes=("_exp", "_clean"))
    assert (merged.split_exp == merged.split_clean).all()
    # every non-kept reason implies its column contract
    dup = exp[exp.reason == "exact_dup"]
    assert dup.dup_of.notna().all()
    assert exp[exp.reason != "exact_dup"].dup_of.isna().all()
    assert exp[exp.reason != "kept"].split.isna().all()


def test_drop_explain_dup_points_to_kept_doc(spark, tmp_path):
    """An exact_dup row's dup_of must name a doc whose own reason is
    'kept' (the keeper), and a contaminated doc must never be blamed
    as a duplicate — priority order is the contract."""
    import pandas as pd

    d = tmp_path / "docs"
    d.mkdir()
    rows = []
    # enough filler tokens to pass the quality gate
    body = " ".join(f"tok{i}" for i in range(30))
    # find doc_ids whose md5 h2 puts them in train side (>= eval cut)
    from mapreducepy_spark.llm.dedup import _EVAL_CUT
    import hashlib

    def h2(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:2]

    train_ids = [i for i in range(100) if h2(i) >= _EVAL_CUT]
    eval_ids = [i for i in range(100) if h2(i) < _EVAL_CUT]
    a, b, c = train_ids[:3]
    e = eval_ids[0]
    rows.append((a, body + " unique_a", "en", "web", 1))   # kept
    rows.append((b, body + " dup_text", "en", "web", 1))   # keeper of the dup pair
    rows.append((c, body + " dup_text", "en", "web", 1))   # exact_dup of b
    rows.append((e, body + " leaked", "en", "web", 1))     # eval_split
    # training doc sharing the eval doc's text -> contaminated
    f = train_ids[3]
    rows.append((f, body + " leaked", "en", "web", 1))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(d / "documents.parquet", index=False)

    from mapreducepy_spark.llm.pipeline import pipeline_drop_explain

    out = pipeline_drop_explain(spark, str(d)).toPandas().set_index("doc_id")
    assert out.loc[a, "reason"] == "kept"
    assert out.loc[b, "reason"] == "kept"
    assert out.loc[c, "reason"] == "exact_dup"
    assert out.loc[c, "dup_of"] == min(b, c)
    assert out.loc[e, "reason"] == "eval_split"
    assert out.loc[f, "reason"] == "contaminated"


def test_minmax_by_null_ts_rows_count_but_never_win(spark, tmp_path):
    """agg_minmax_by (round-8 review): a NULL-ts event must count in
    n_events but can never be first/last — without the exclusion the
    struct's FIRST field decides the pick, where Spark orders NULL
    struct fields first (NULL-ts wins MIN) and DuckDB last (it wins
    MAX): both engines would answer, differently. NULL ts is
    reachable (read_jsonl ingestion), so this is contract, not
    theory."""
    import duckdb
    import pandas as pd

    d = tmp_path / "ev"
    d.mkdir()
    ev = pd.DataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "view", 1.0, None),
            (2, "2024-01-01 11:00:00", 1, "view", 2.0, None),
            (3, None, 1, "view", 3.0, None),  # NULL ts
            (4, None, 2, "click", 4.0, None),  # all-NULL-ts group
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["event_id"] = ev["event_id"].astype("Int64")
    ev["ts"] = pd.to_datetime(ev["ts"])
    ev.to_parquet(d / "events.parquet", index=False)

    from mapreducepy_spark.registry import load_catalog

    q = load_catalog()["agg_minmax_by"]
    spd = q.builder(spark, str(d)).toPandas().set_index("event_type")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    dpd = con.execute(q.oracle).fetchdf().set_index("event_type")
    assert spd.loc["view", "first_event_id"] == 1
    assert spd.loc["view", "last_event_id"] == 2  # never the NULL-ts row 3
    assert spd.loc["view", "n_events"] == 3  # but it counts
    assert pd.isna(spd.loc["click", "first_event_id"])  # all-NULL-ts group
    assert spd.loc["click", "n_events"] == 1
    from .parity_util import canon_frame

    assert canon_frame(spd.reset_index()) == canon_frame(dpd.reset_index())


def test_payload_stats_multibyte_utf8_counts_bytes_not_chars(spark, tmp_path):
    """The binary payload is UTF-8 BYTES: a multibyte document (2–4
    byte codepoints) must report octet counts and hash the encoded
    bytes — Spark kernel and DuckDB oracle must agree even when
    len(text) != len(payload). The driver fixtures are all-ASCII, so
    only this test covers the distinction."""
    import duckdb
    import hashlib

    from mapreducepy_spark.registry import load_catalog
    from .parity_util import canon_frame

    texts = ["héllo wörld", "世界 你好", "emoji 🚀🌍 mix", "plain ascii"]
    sf = _write_docs(tmp_path, {"web": texts})
    out = load_catalog()["multimodal_payload_stats"].builder(spark, sf).toPandas()
    by_id = out.set_index("doc_id")
    for i, t in enumerate(texts):
        b = t.encode("utf-8")
        assert by_id.loc[i, "payload_bytes"] == len(b)
        if t != "plain ascii":
            assert len(b) != len(t)  # the multibyte rows REALLY differ
        assert by_id.loc[i, "payload_md5"] == hashlib.md5(b).hexdigest()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    dpd = con.execute(
        load_catalog()["multimodal_payload_stats"].oracle
    ).fetchdf()
    assert canon_frame(out) == canon_frame(dpd)


def test_nan_value_rows_are_a_real_engine_split(spark, tmp_path):
    """MEASURED engine split (round-10 session): a genuine NaN in
    events.value (reachable in parquet — pyarrow writes NaN as NaN;
    pandas' to_parquet silently converts NaN to NULL, which is why
    the NULL sweeps never saw this) makes the engines genuinely
    diverge: DuckDB's floor(NaN*100+0.5) CAST errors out
    (events_ohlc), STDDEV_SAMP raises Out of Range
    (events_anomaly), and NaN-propagating sums/rounds hash-mismatch
    (win_tumbling). Spark propagates NaN through the same
    expressions. NaN values are therefore OUT OF CONTRACT for the
    value column (the fn_bitwise negative-shift precedent):
    production ingestion must sanitize (nanvl/isnan guard) before
    these operators. This test pins the split LOUDLY so a future
    engine version that silently changes NaN behavior is noticed —
    if it starts passing, the contract note in FIXTURES.md needs
    revisiting."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducepy_spark.registry import load_catalog

    from .parity_util import canon_frame

    nan = float("nan")
    t = pa.table({
        "event_id": pa.array(range(8), pa.int64()),
        "ts": pa.array(
            pd.to_datetime(
                ["2024-01-01 10:00:00"] * 4 + ["2024-01-01 11:00:00"] * 4
            ).astype("datetime64[us]")
        ),
        "user_id": pa.array([1, 1, 2, 2, 1, 1, 2, 2], pa.int64()),
        "event_type": pa.array(["view", "click", "view", "purchase"] * 2),
        "value": pa.array([1.0, nan, 2.0, nan, nan, 3.0, 4.0, nan],
                          pa.float64()),
        "props": pa.array(['{"k":1}'] * 8),
    })
    pq.write_table(t, tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    cat = load_catalog()

    def split(key: str) -> bool:
        try:
            spd = cat[key].builder(spark, str(tmp_path)).toPandas()
            dpd = con.execute(cat[key].oracle).fetchdf()
            return canon_frame(spd) != canon_frame(dpd)
        except Exception:
            return True  # one engine errored: still a split

    assert split("win_tumbling")
    assert split("events_ohlc")
    assert split("events_anomaly")
