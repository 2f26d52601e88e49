"""Third-implementation references for the PREDICTED round-11 driver
window (the 11 remaining r6-evidence keys + the round-10 growth —
the r13-session precedent of ref'ing the next window ahead of its
rotation): the 5 keys of that cohort that had no dedicated ref —
text_contamination_ngram, text_oov_rate, text_keywords,
text_perplexity_proxy, events_user_lifecycle — plus pandas
recomputation of the four TPC-H report shapes that still relied on
parity + sweeps alone (Q3 join_shipping_priority, Q5
join_local_supplier, Q6 agg_forecast_revenue, Q7
join_volume_shipping; exact-cents discipline mirrored). Plain python
recomputation from the raw parquet, independent of both engines.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pandas as pd

from mapreducepy_spark.registry import load_catalog

CATALOG = load_catalog()


def _pq(sf_dir: str, name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/{name}.parquet")


def _r(x: float, d: int) -> float:
    return math.floor(x * 10**d + 0.5) / 10**d


def _words(text: str) -> list[str]:
    return [w for w in str(text).split(" ") if w != ""]


def _shingles3(text: str) -> list[str]:
    """3-word shingles, the llm/__init__ SPARK/DUCK_SHINGLES rule:
    one shingle per window position 1..len-2 (all words kept,
    including empties, exactly like string_split does)."""
    ws = str(text).split(" ")
    return [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]


def test_text_contamination_ngram_matches_python(spark, sf_dir):
    docs = _pq(sf_dir, "documents")
    is_eval = {
        int(r.doc_id): hashlib.md5(str(r.doc_id).encode()).hexdigest()[:2]
        < "0d"
        for r in docs.itertuples()
    }
    eval_sh = set()
    for r in docs.itertuples():
        if is_eval[int(r.doc_id)]:
            eval_sh.update(_shingles3(r.text))
    got = (
        CATALOG["text_contamination_ngram"].builder(spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    n_train = 0
    for r in docs.itertuples():
        if is_eval[int(r.doc_id)]:
            continue
        sh = set(_shingles3(r.text))
        if not sh:
            continue
        n_train += 1
        row = got.loc[int(r.doc_id)]
        n_cont = len(sh & eval_sh)
        assert int(row.n_shingles) == len(sh), r.doc_id
        assert int(row.n_contaminated) == n_cont, r.doc_id
        assert abs(row.contamination_rate - _r(n_cont / len(sh), 6)) < 2e-6
    assert len(got) == n_train
    # non-degeneracy: contamination actually occurs on this corpus
    assert (got.n_contaminated > 0).any()


def test_text_oov_rate_matches_python(spark, sf_dir):
    docs = _pq(sf_dir, "documents")
    corpus = Counter()
    for r in docs.itertuples():
        corpus.update(_words(r.text))
    vocab = {
        w for w, _ in sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    }
    got = (
        CATALOG["text_oov_rate"].builder(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    n_docs = 0
    for r in docs.itertuples():
        ws = _words(r.text)
        if not ws:
            continue
        n_docs += 1
        oov = sum(1 for w in ws if w not in vocab)
        row = got.loc[int(r.doc_id)]
        assert int(row.n_tokens) == len(ws)
        assert int(row.n_oov) == oov
        assert abs(row.oov_rate - _r(oov / len(ws), 6)) < 2e-6
    assert len(got) == n_docs
    assert (got.n_oov > 0).any()  # the top-10 vocab is a real cut


def test_text_keywords_matches_python(spark, sf_dir):
    docs = _pq(sf_dir, "documents")
    n_docs = float(len(docs))
    tf: dict[tuple[int, str], int] = Counter()
    for r in docs.itertuples():
        for w in _words(r.text):
            tf[(int(r.doc_id), w)] += 1
    df = Counter(w for (_, w) in tf)
    got = CATALOG["text_keywords"].builder(spark, sf_dir).toPandas()
    ref = {}
    by_doc: dict[int, list[tuple[float, str]]] = {}
    for (d, w), n in tf.items():
        # the builders order on the ROUNDED tfidf (near-ties become
        # exact ties broken by word ASC — the libm-drift pin)
        by_doc.setdefault(d, []).append(
            (_r(n * math.log(n_docs / df[w]), 6), w)
        )
    for d, lst in by_doc.items():
        top = sorted(lst, key=lambda t: (-t[0], t[1]))[:3]
        ref[d] = [(rank + 1, w, s) for rank, (s, w) in enumerate(top)]
    assert len(got) == sum(len(v) for v in ref.values())
    for r in got.itertuples():
        rank, word, score = ref[int(r.doc_id)][int(r.rank) - 1]
        assert (int(r.rank), r.word) == (rank, word), r.doc_id
        assert abs(r.tfidf - score) < 2e-6, (r.doc_id, r.word)


def test_text_perplexity_proxy_matches_python(spark, sf_dir):
    docs = _pq(sf_dir, "documents")
    tw: dict[tuple[int, str], int] = Counter()
    for r in docs.itertuples():
        for w in _words(r.text):
            tw[(int(r.doc_id), w)] += 1
    wc = Counter()
    for (_, w), n in tw.items():
        wc[w] += n
    total = float(sum(wc.values()))
    got = (
        CATALOG["text_perplexity_proxy"].builder(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    per_doc: dict[int, tuple[int, float]] = {}
    for (d, w), n in tw.items():
        tok, ce = per_doc.get(d, (0, 0.0))
        per_doc[d] = (tok + n, ce - n * math.log(wc[w] / total))
    assert len(got) == len(per_doc)
    for d, (tok, ce) in per_doc.items():
        row = got.loc[d]
        assert int(row.n_tokens) == tok
        assert abs(row.cross_entropy - _r(ce / tok, 6)) < 2e-6, d
    # the proxy must actually separate documents (non-constant)
    assert got.cross_entropy.nunique() > 1


def test_events_user_lifecycle_matches_pandas(spark, sf_dir):
    e = _pq(sf_dir, "events")
    d = e.ts.dt.normalize()
    pu = (
        e.assign(d=d)
        .groupby("user_id")
        .agg(
            first_seen=("d", "min"),
            last_seen=("d", "max"),
            n_events=("d", "size"),
            n_active_days=("d", "nunique"),
        )
    )
    gmax = pu.last_seen.max()
    got = (
        CATALOG["events_user_lifecycle"].builder(spark, sf_dir).toPandas()
        .set_index("user_id")
    )
    assert len(got) == len(pu)
    for uid, r in pu.iterrows():
        row = got.loc[int(uid)]
        assert row.first_seen == str(r.first_seen.date())
        assert row.last_seen == str(r.last_seen.date())
        assert int(row.n_events) == int(r.n_events)
        assert int(row.n_active_days) == int(r.n_active_days)
        days = (gmax - r.last_seen).days
        assert int(row.days_inactive) == days
        assert int(row.is_dormant) == int(days >= 1)


# --- TPC-H report shapes (Q3/Q5/Q6/Q7), pandas recomputation ---------


def _cents(x: float) -> int:
    return int(math.floor(x * 100.0 + 0.5))


def test_join_shipping_priority_q3_matches_pandas(spark, sf_dir):
    c = _pq(sf_dir, "customer")
    o = _pq(sf_dir, "orders")
    li = _pq(sf_dir, "lineitem")
    cut = pd.Timestamp("1996-07-01")
    j = (
        li[li.l_shipdate > cut]
        .merge(o[o.o_orderdate < cut], left_on="l_orderkey", right_on="o_orderkey")
        .merge(c[c.c_mktsegment == "BUILDING"], left_on="o_custkey", right_on="c_custkey")
    )
    j["rev_cents"] = [
        _cents(p * (1 - d)) for p, d in zip(j.l_extendedprice, j.l_discount)
    ]
    agg = (
        j.groupby(["l_orderkey", "o_orderdate"])
        .rev_cents.sum()
        .reset_index()
    )
    agg["revenue"] = agg.rev_cents / 100.0
    top = agg.sort_values(
        ["revenue", "o_orderdate", "l_orderkey"],
        ascending=[False, True, True],
    ).head(10)
    got = CATALOG["join_shipping_priority"].builder(spark, sf_dir).toPandas()
    assert len(got) == len(top)
    for g, r in zip(got.itertuples(), top.itertuples()):
        assert int(g.l_orderkey) == int(r.l_orderkey)
        assert abs(g.revenue - r.revenue) < 1e-9
        assert pd.Timestamp(g.o_orderdate) == r.o_orderdate


def test_join_local_supplier_q5_matches_pandas(spark, sf_dir):
    o = _pq(sf_dir, "orders")
    o = o[
        (o.o_orderdate >= pd.Timestamp("1996-01-01"))
        & (o.o_orderdate < pd.Timestamp("1997-01-01"))
    ]
    j = (
        _pq(sf_dir, "lineitem")
        .merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(_pq(sf_dir, "customer"), left_on="o_custkey", right_on="c_custkey")
        .merge(_pq(sf_dir, "supplier"), left_on="l_suppkey", right_on="s_suppkey")
    )
    j = j[j.s_nationkey == j.c_nationkey]
    n = _pq(sf_dir, "nation")
    n = n[n.n_regionkey == 3]
    j = j.merge(n, left_on="s_nationkey", right_on="n_nationkey")
    j["rev_cents"] = [
        _cents(p * (1 - d)) for p, d in zip(j.l_extendedprice, j.l_discount)
    ]
    ref = (j.groupby("n_name").rev_cents.sum() / 100.0).to_dict()
    got = (
        CATALOG["join_local_supplier"].builder(spark, sf_dir).toPandas()
        .set_index("n_name").revenue.to_dict()
    )
    assert got.keys() == ref.keys()
    for k in ref:
        assert abs(got[k] - ref[k]) < 1e-9, k


def test_agg_forecast_revenue_q6_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    m = li[
        (li.l_shipdate >= pd.Timestamp("1996-01-01"))
        & (li.l_shipdate < pd.Timestamp("1997-01-01"))
        & (li.l_discount >= 0.05)
        & (li.l_discount <= 0.07)
        & (li.l_quantity < 24)
    ]
    cents = sum(
        _cents(p * d) for p, d in zip(m.l_extendedprice, m.l_discount)
    )
    got = CATALOG["agg_forecast_revenue"].builder(spark, sf_dir).toPandas()
    assert int(got.n_lines.iloc[0]) == len(m)
    assert abs(got.revenue_delta.iloc[0] - cents / 100.0) < 1e-9


def test_join_volume_shipping_q7_matches_pandas(spark, sf_dir):
    n = _pq(sf_dir, "nation")[["n_nationkey", "n_name"]]
    j = (
        _pq(sf_dir, "lineitem")
        .merge(_pq(sf_dir, "orders"), left_on="l_orderkey", right_on="o_orderkey")
        .merge(_pq(sf_dir, "customer"), left_on="o_custkey", right_on="c_custkey")
        .merge(_pq(sf_dir, "supplier"), left_on="l_suppkey", right_on="s_suppkey")
        .merge(n.rename(columns={"n_nationkey": "k1", "n_name": "supp_nation"}),
               left_on="s_nationkey", right_on="k1")
        .merge(n.rename(columns={"n_nationkey": "k2", "n_name": "cust_nation"}),
               left_on="c_nationkey", right_on="k2")
    )
    j = j[j.supp_nation != j.cust_nation]
    j["l_year"] = j.l_shipdate.dt.year
    j["rev_cents"] = [
        _cents(p * (1 - d)) for p, d in zip(j.l_extendedprice, j.l_discount)
    ]
    ref = j.groupby(["supp_nation", "cust_nation", "l_year"]).agg(
        n_lineitems=("rev_cents", "size"), cents=("rev_cents", "sum")
    )
    got = (
        CATALOG["join_volume_shipping"].builder(spark, sf_dir).toPandas()
        .set_index(["supp_nation", "cust_nation", "l_year"])
    )
    assert len(got) == len(ref)
    for idx, r in ref.iterrows():
        row = got.loc[idx]
        assert int(row.n_lineitems) == int(r.n_lineitems), idx
        assert abs(row.revenue - r.cents / 100.0) < 1e-9, idx


# --- big-composition keys: drop-explain ledger + ANN recall audit ----


def test_pipeline_drop_explain_matches_python(spark, sf_dir):
    """Independent python recomputation of the full drop-decision
    ledger: quality gate (tokens/TTR/avg-len), md5-gated eval split,
    eval-text contamination blocklist, min-id exact-dup keeper, and
    the train/val/test split of the kept docs — every reason code
    recomputed from the raw parquet."""
    docs = _pq(sf_dir, "documents")
    h2 = {
        int(r.doc_id): hashlib.md5(str(r.doc_id).encode()).hexdigest()[:2]
        for r in docs.itertuples()
    }
    text_hash = {
        int(r.doc_id): hashlib.md5(str(r.text).encode()).hexdigest()
        for r in docs.itertuples()
    }
    q_ok = {}
    for r in docs.itertuples():
        ws = _words(r.text)
        if not ws:
            q_ok[int(r.doc_id)] = False
            continue
        ttr = len(set(ws)) / len(ws)
        avg_len = sum(len(w) for w in ws) / len(ws)
        q_ok[int(r.doc_id)] = (
            len(ws) >= 20 and ttr >= 0.30 and avg_len <= 5.2
        )
    is_eval = {d: h < "0d" for d, h in h2.items()}
    block = {text_hash[d] for d in text_hash if is_eval[d]}
    eligible = {
        d for d in h2
        if q_ok[d] and not is_eval[d] and text_hash[d] not in block
    }
    keeper = {}
    for d in eligible:
        grp = [e for e in eligible if text_hash[e] == text_hash[d]]
        keeper[d] = min(grp)

    def split_of(h: str) -> str:
        return "train" if h < "cc" else ("val" if h < "e6" else "test")

    got = (
        CATALOG["pipeline_drop_explain"].builder(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    assert len(got) == len(docs)
    reasons = {"quality": 0, "eval_split": 0, "contaminated": 0,
               "exact_dup": 0, "kept": 0}
    for d in h2:
        row = got.loc[d]
        if not q_ok[d]:
            want = "quality"
        elif is_eval[d]:
            want = "eval_split"
        elif text_hash[d] in block:
            want = "contaminated"
        elif keeper[d] != d:
            want = "exact_dup"
        else:
            want = "kept"
        reasons[want] += 1
        assert row.reason == want, (d, row.reason, want)
        if want == "exact_dup":
            assert int(row.dup_of) == keeper[d], d
        else:
            assert pd.isna(row.dup_of), d
        if want == "kept":
            assert row.split == split_of(h2[d]), d
        else:
            assert row.split is None or pd.isna(row.split), d
    # the three data-reachable reasons fire on this fixture; the
    # contaminated / exact_dup branches need duplicate texts, which
    # the synthetic corpus does not contain — they are exercised by
    # the adversarial docs sweep (dup + NULL rows) instead
    assert reasons["quality"] > 0
    assert reasons["eval_split"] > 0
    assert reasons["kept"] > 0


def test_sim_ann_recall_matches_numpy(spark, sf_dir):
    """Independent recomputation of the per-bucket recall/regret
    ledger: sign-LSH bucket top-1 vs the exact top-3 set and exact
    top-1 cosine, including the exact floor-round integer formulas
    (ppm hit rate, micro-unit average regret)."""
    import numpy as np

    from .test_round12_refs import _valid_units

    ids, unit = _valid_units(_pq(sf_dir, "embeddings"))
    bucket = sum(((unit[:, i] > 0).astype(int) << i) for i in range(4))
    sim = unit @ unit.T
    per_bucket: dict[int, list[tuple[int, float]]] = {}
    rounds = lambda c: math.floor(c * 1e6 + 0.5) / 1e6
    for qi in range(len(ids)):
        mask = (bucket == bucket[qi]) & (ids != ids[qi])
        if not mask.any():
            continue
        cand = np.nonzero(mask)[0]
        order = sorted(cand, key=lambda j: (-sim[qi, j], ids[j]))
        ann_j = order[0]
        # exact top-K set and top-1 over ALL candidates
        alln = sorted(
            (j for j in range(len(ids)) if ids[j] != ids[qi]),
            key=lambda j: (-sim[qi, j], ids[j]),
        )
        topk = {int(ids[j]) for j in alln[:3]}
        regret_u = math.floor(
            (rounds(sim[qi, alln[0]]) - rounds(sim[qi, ann_j])) * 1e6 + 0.5
        )
        per_bucket.setdefault(int(bucket[qi]), []).append(
            (1 if int(ids[ann_j]) in topk else 0, regret_u)
        )
    got = (
        CATALOG["sim_ann_recall"].builder(spark, sf_dir).toPandas()
        .set_index("bucket")
    )
    assert len(got) == len(per_bucket)
    for b, rows in per_bucket.items():
        r = got.loc[b]
        n = len(rows)
        hits = sum(h for h, _ in rows)
        assert int(r.n_queries) == n, b
        assert int(r.n_hits) == hits, b
        assert int(r.hit_ppm) == math.floor(hits / n * 1e6 + 0.5), b
        assert int(r.avg_regret_upm) == math.floor(
            sum(u for _, u in rows) / n + 0.5
        ), b
    # the audit must measure a REAL approximation: some bucket pays
    # regret or misses the exact top-K somewhere
    total_hits = sum(h for rows in per_bucket.values() for h, _ in rows)
    total_n = sum(len(rows) for rows in per_bucket.values())
    assert total_hits < total_n or any(
        u > 0 for rows in per_bucket.values() for _, u in rows
    )


# --- second batch: Q12/Q14/Q16/Q19 + null-safe join + unpivot --------


def test_join_late_shipments_q12_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    o = _pq(sf_dir, "orders")
    m = li[
        (li.l_shipdate >= pd.Timestamp("1996-01-01"))
        & (li.l_shipdate < pd.Timestamp("1997-01-01"))
    ].merge(o, left_on="l_orderkey", right_on="o_orderkey")
    lag = (m.l_shipdate - m.o_orderdate).dt.total_seconds()

    def speed(sec: float) -> str:
        if sec < 0:
            return "BACKDATED"
        if sec < 30 * 86400:
            return "FAST"
        if sec < 90 * 86400:
            return "REGULAR"
        return "SLOW"

    m = m.assign(
        speed=[speed(s) for s in lag],
        high=m.o_orderpriority.isin(["1-URGENT", "2-HIGH"]).astype(int),
    )
    ref = m.groupby("speed").high.agg(["sum", "count"])
    got = (
        CATALOG["join_late_shipments"].builder(spark, sf_dir).toPandas()
        .set_index("ship_speed")
    )
    assert set(got.index) == set(ref.index)
    for k, r in ref.iterrows():
        assert int(got.loc[k].high_line_count) == int(r["sum"]), k
        assert int(got.loc[k].low_line_count) == int(r["count"] - r["sum"]), k


def test_agg_promo_share_q14_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    p = _pq(sf_dir, "part")
    m = li[
        (li.l_shipdate >= pd.Timestamp("1996-03-01"))
        & (li.l_shipdate < pd.Timestamp("1996-04-01"))
    ].merge(p, left_on="l_partkey", right_on="p_partkey")
    cents = [
        _cents(x * (1 - d)) for x, d in zip(m.l_extendedprice, m.l_discount)
    ]
    promo = sum(c for c, t in zip(cents, m.p_type) if t == "PROMO")
    total = sum(cents)
    got = CATALOG["agg_promo_share"].builder(spark, sf_dir).toPandas()
    assert abs(got.total_revenue.iloc[0] - total / 100.0) < 1e-9
    assert abs(
        got.promo_revenue_pct.iloc[0] - _r(100.0 * promo / total, 6)
    ) < 2e-6


def test_join_supplier_part_count_q16_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    p = _pq(sf_dir, "part")
    s = _pq(sf_dir, "supplier")
    bad = set(s[s.s_acctbal < 0].s_suppkey)
    ps = li[["l_partkey", "l_suppkey"]].drop_duplicates()
    m = ps.merge(p, left_on="l_partkey", right_on="p_partkey")
    m = m[
        (m.p_brand != "Brand#1")
        & (m.p_type != "PROMO")
        & (m.p_size.isin([1, 14, 23, 45]))
        & (~m.l_suppkey.isin(bad))
    ]
    ref = (
        m.groupby(["p_brand", "p_type", "p_size"]).l_suppkey.nunique()
    )
    got = (
        CATALOG["join_supplier_part_count"].builder(spark, sf_dir)
        .toPandas()
        .set_index(["p_brand", "p_type", "p_size"])
    )
    assert len(got) == len(ref)
    for idx, n in ref.items():
        assert int(got.loc[idx].supplier_cnt) == int(n), idx


def test_join_disjunctive_q19_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    p = _pq(sf_dir, "part")
    m = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    branches = (
        ("Brand#11", 1, 15, 1, 20),
        ("Brand#22", 10, 30, 10, 35),
        ("Brand#33", 20, 50, 20, 50),
    )
    keep = pd.Series(False, index=m.index)
    for brand, s0, s1, q0, q1 in branches:
        keep |= (
            (m.p_brand == brand)
            & (m.p_size >= s0) & (m.p_size <= s1)
            & (m.l_quantity >= q0) & (m.l_quantity <= q1)
        )
    m = m[keep]
    cents = sum(
        _cents(x * (1 - d)) for x, d in zip(m.l_extendedprice, m.l_discount)
    )
    got = CATALOG["join_disjunctive"].builder(spark, sf_dir).toPandas()
    assert int(got.n_lines.iloc[0]) == len(m)
    assert abs(got.revenue.iloc[0] - cents / 100.0) < 1e-9


def test_join_null_safe_matches_pandas(spark, sf_dir):
    o = _pq(sf_dir, "orders")
    li = _pq(sf_dir, "lineitem")
    ga = (
        o.assign(grp=(o.o_orderkey % 5).replace(0, pd.NA))
        .groupby("grp", dropna=False)
        .agg(n_orders=("o_orderkey", "size"), price=("o_totalprice", "sum"))
    )
    gb = (
        li.assign(grp=(li.l_orderkey % 5).replace(0, pd.NA))
        .groupby("grp", dropna=False)
        .l_orderkey.size()
    )
    def norm(idx):
        return None if pd.isna(idx) else int(idx)

    ga_d = {norm(k): v for k, v in ga.iterrows()}
    gb_d = {norm(k): v for k, v in gb.items()}
    got = CATALOG["join_null_safe"].builder(spark, sf_dir).toPandas()
    assert len(got) == len(ga_d) == len(gb_d)  # NULL group matched NULL
    assert any(pd.isna(r.grp) for r in got.itertuples())  # and is PRESENT
    for r in got.itertuples():
        key = norm(r.grp)
        a = ga_d[key]
        assert int(r.n_orders) == int(a.n_orders)
        assert abs(r.sum_price - _r(float(a.price), 2)) < 2e-2
        assert int(r.n_lines) == int(gb_d[key])


def test_unpivot_long_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    shard = li[
        (li.l_returnflag == "R")
        & ((li.l_orderkey % 7).fillna(0) == 0)
    ]
    measures = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    # MULTISET compare: the synthetic fixture carries duplicate
    # (orderkey, linenumber) pairs, which the melt must preserve
    # row-for-row (a dict ref would silently collapse them)
    ref = Counter(
        (int(r.l_orderkey), int(r.l_linenumber), m, getattr(r, m))
        for r in shard.itertuples()
        for m in measures
    )
    got = CATALOG["unpivot_long"].builder(spark, sf_dir).toPandas()
    got_ms = Counter(
        (int(r.l_orderkey), int(r.l_linenumber), r.measure, r.value)
        for r in got.itertuples()
    )
    # values pass through UNROUNDED — bit equality expected
    assert got_ms == ref


# --- third batch: the ref-less keys INSIDE the r10 driver window -----


def test_distinct_rows_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    ref = {
        (f, s, int(y))
        for f, s, y in zip(
            li.l_returnflag, li.l_linestatus, li.l_shipdate.dt.year
        )
    }
    got = CATALOG["distinct_rows"].builder(spark, sf_dir).toPandas()
    got_set = {
        (r.l_returnflag, r.l_linestatus, int(r.ship_year))
        for r in got.itertuples()
    }
    assert len(got) == len(got_set) == len(ref)  # truly deduplicated
    assert got_set == ref


def test_agg_having_matches_pandas(spark, sf_dir):
    o = _pq(sf_dir, "orders")
    g = o.groupby("o_custkey").agg(
        n=("o_orderkey", "size"), total=("o_totalprice", "sum")
    )
    # HAVING runs on the UNROUNDED sum, exactly like SQL
    ref = g[(g.n >= 12) & (g.total > 100000)]
    got = (
        CATALOG["agg_having"].builder(spark, sf_dir).toPandas()
        .set_index("o_custkey")
    )
    assert set(got.index) == set(ref.index)
    for k, r in ref.iterrows():
        assert int(got.loc[k].n_orders) == int(r.n)
        assert abs(got.loc[k].total_spent - _r(float(r.total), 2)) < 2e-2


def test_join_left_matches_pandas(spark, sf_dir):
    c = _pq(sf_dir, "customer")
    o = _pq(sf_dir, "orders")
    got = (
        CATALOG["join_left"].builder(spark, sf_dir).toPandas()
        .set_index("c_custkey")
    )
    assert len(got) == len(c)  # zero-order customers preserved
    per = o.groupby("o_custkey").agg(
        n=("o_orderkey", "size"), total=("o_totalprice", "sum")
    )
    for r in c.itertuples():
        row = got.loc[int(r.c_custkey)]
        assert row.c_mktsegment == r.c_mktsegment
        if int(r.c_custkey) in per.index:
            p = per.loc[int(r.c_custkey)]
            assert int(row.n_orders) == int(p.n)
            assert abs(row.total_spent - _r(float(p.total), 2)) < 2e-2
        else:
            assert int(row.n_orders) == 0
            assert row.total_spent == 0.0


def test_join_anti_matches_pandas(spark, sf_dir):
    c = _pq(sf_dir, "customer")
    o = _pq(sf_dir, "orders")
    orderless = set(c.c_custkey) - set(o.o_custkey.dropna())
    got = CATALOG["join_anti"].builder(spark, sf_dir).toPandas()
    assert set(got.c_custkey) == orderless
    bal = c.set_index("c_custkey").c_acctbal
    for r in got.itertuples():
        assert r.c_acctbal == bal.loc[int(r.c_custkey)]


def test_join_theta_range_matches_pandas(spark, sf_dir):
    s = _pq(sf_dir, "supplier")
    c = _pq(sf_dir, "customer")
    got = (
        CATALOG["join_theta_range"].builder(spark, sf_dir).toPandas()
        .set_index("s_suppkey")
    )
    assert len(got) == len(s)  # LEFT join: every supplier appears
    by_nation = {k: g.c_acctbal.to_numpy() for k, g in c.groupby("c_nationkey")}
    for r in s.itertuples():
        richer = int(
            (by_nation.get(r.s_nationkey, np.array([])) > r.s_acctbal).sum()
        )
        assert int(got.loc[int(r.s_suppkey)].n_richer_customers) == richer


def test_fn_levenshtein_matches_python(spark, sf_dir):
    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(
                    prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)
                ))
            prev = cur
        return prev[-1]

    n = _pq(sf_dir, "nation")
    rg = _pq(sf_dir, "region").set_index("r_regionkey").r_name
    ref = {}
    for r in n.itertuples():
        d = lev(r.n_name, rg.loc[r.n_regionkey])
        if d <= 10:
            ref[(r.n_name, rg.loc[r.n_regionkey])] = d
    got = CATALOG["fn_levenshtein"].builder(spark, sf_dir).toPandas()
    got_d = {(r.n_name, r.r_name): int(r.edit_dist) for r in got.itertuples()}
    assert got_d == ref
    assert len(ref) > 0  # the threshold keeps real pairs


# --- fourth batch: the fn_* showcases in the r10 window --------------


def test_fn_string_matches_python(spark, sf_dir):
    import re

    p = _pq(sf_dir, "part")
    got = (
        CATALOG["fn_string"].builder(spark, sf_dir).toPandas()
        .set_index("p_partkey")
    )
    assert len(got) == len(p)
    for r in p.itertuples():
        row = got.loc[int(r.p_partkey)]
        assert row.name_lower == r.p_name.lower()
        assert row.brand_upper == r.p_brand.upper()
        assert row.type_prefix == r.p_type[:5]
        assert row.brand_size == f"{r.p_brand}-{r.p_size}"
        assert row.first_word == r.p_name.split(" ")[0]
        m = re.search(r"([0-9]+)", r.p_brand)
        assert row.brand_num == (m.group(1) if m else "")
        assert int(row.name_len) == len(r.p_name)
        assert row.size_padded == str(r.p_size).rjust(4, "0")


def test_fn_date_matches_python(spark, sf_dir):
    o = _pq(sf_dir, "orders")
    got = (
        CATALOG["fn_date"].builder(spark, sf_dir).toPandas()
        .set_index("o_orderkey")
    )
    assert len(got) == len(o)
    epoch = pd.Timestamp("1995-01-01")
    for r in o.itertuples():
        row = got.loc[int(r.o_orderkey)]
        d = r.o_orderdate
        assert int(row.order_year) == d.year
        assert int(row.order_month) == d.month
        assert int(row.order_day) == d.day
        assert pd.Timestamp(row.order_month_start) == d.replace(
            day=1, hour=0, minute=0, second=0, microsecond=0
        )
        # datediff counts calendar days between the DATE parts
        assert int(row.days_since_epoch_start) == (
            d.normalize() - epoch
        ).days
        assert int(row.order_us) == d.value // 1000
        assert row.order_date == str(d.date())


def test_fn_math_matches_python(spark, sf_dir):
    full = _pq(sf_dir, "lineitem")
    # the synthetic fixture carries duplicate (orderkey, linenumber)
    # pairs — only unique keys can be matched row-to-row
    counts = full.groupby(["l_orderkey", "l_linenumber"]).size()
    unique_keys = set(counts[counts == 1].index)
    li = full.head(2000)
    got = CATALOG["fn_math"].builder(spark, sf_dir).toPandas()
    got = got.set_index(["l_orderkey", "l_linenumber"])
    got = got[~got.index.duplicated()]
    seen = 0
    for r in li.itertuples():
        key = (int(r.l_orderkey), int(r.l_linenumber))
        if key not in unique_keys:
            continue
        row = got.loc[key]
        seen += 1
        assert abs(row.price_r1 - _r(r.l_extendedprice, 1)) < 1e-9
        assert int(row.qty_ceil) == math.ceil(r.l_quantity)
        assert abs(row.price_sqrt - _r(math.sqrt(r.l_extendedprice), 6)) < 2e-6
        assert abs(row.price_ln - _r(math.log(r.l_extendedprice + 1), 6)) < 2e-6
        assert abs(row.disc_exp - _r(math.exp(r.l_discount), 6)) < 2e-6
        assert int(row.qty_mod5) == int(r.l_quantity) % 5
    assert seen > 1000


def test_fn_array_matches_python(spark, sf_dir):
    emb = _pq(sf_dir, "embeddings")
    got = (
        CATALOG["fn_array"].builder(spark, sf_dir).toPandas()
        .set_index("vec_id")
    )
    assert len(got) == len(emb)
    for r in emb.itertuples():
        row = got.loc[int(r.vec_id)]
        assert int(row.dim) == len(r.embedding)
        assert abs(row.first_val - _r(float(r.embedding[0]), 6)) < 2e-6
        assert abs(row.max_val - _r(float(max(r.embedding)), 6)) < 2e-6
        acc = 0.0
        for x in r.embedding:  # sequential fold, the engine's order
            acc += float(x) * float(x)
        assert abs(row.norm_sq - _r(acc, 6)) < 2e-6


def test_fn_conditional_matches_python(spark, sf_dir):
    import json

    e = _pq(sf_dir, "events")
    got = (
        CATALOG["fn_conditional"].builder(spark, sf_dir).toPandas()
        .set_index("event_id")
    )
    assert len(got) == len(e)
    for r in e.itertuples():
        row = got.loc[int(r.event_id)]
        props = json.loads(r.props) if r.props else {}
        assert row.k_or_default == (
            str(props["missing_key"]) if "missing_key" in props else "absent"
        )
        want_nv = None if r.event_type == "view" else r.event_type
        assert (row.non_view_type == want_nv) or (
            pd.isna(row.non_view_type) and want_nv is None
        )
        v = r.value
        band = "big" if v > 50 else ("mid" if v > 10 else "small")
        assert row.value_band == band
        assert bool(row.k_missing) == ("k" not in props)


def test_fn_json_matches_python(spark, sf_dir):
    import json

    e = _pq(sf_dir, "events")
    agg: dict[int, list[float]] = {}
    for r in e.itertuples():
        props = json.loads(r.props) if r.props else {}
        if "k" not in props or props["k"] is None:
            continue
        b = int(props["k"]) % 5
        agg.setdefault(b, []).append(r.value)
    got = (
        CATALOG["fn_json"].builder(spark, sf_dir).toPandas()
        .set_index("k_bucket")
    )
    assert len(got) == len(agg)
    for b, vals in agg.items():
        row = got.loc[b]
        assert int(row.n_events) == len(vals)
        clean = [v for v in vals if not pd.isna(v)]
        assert abs(
            row.avg_value - _r(sum(clean) / len(clean), 6)
        ) < 2e-6, b


# --- fifth batch: remaining moving-part keys (r7 block) --------------


def test_agg_cube_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    ref = {}
    for flags in ((True, True), (True, False), (False, True), (False, False)):
        keys = [c for c, on in zip(("l_returnflag", "l_linestatus"), flags) if on]
        if keys:
            for k, s in li.groupby(keys).l_extendedprice.sum().items():
                kt = k if isinstance(k, tuple) else (k,)
                it = iter(kt)
                full = tuple(next(it) if on else None for on in flags)
                ref[full] = float(s)
        else:
            ref[(None, None)] = float(li.l_extendedprice.sum())
    got = CATALOG["agg_cube"].builder(spark, sf_dir).toPandas()
    assert len(got) == len(ref)
    for r in got.itertuples():
        key = (
            None if pd.isna(r.l_returnflag) else r.l_returnflag,
            None if pd.isna(r.l_linestatus) else r.l_linestatus,
        )
        assert abs(r.sum_price - _r(ref[key], 2)) < 2e-2, key


def test_agg_grouping_sets_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    ref = {}
    for k, g in li.groupby("l_returnflag"):
        ref[(k, None)] = (float(g.l_quantity.sum()), len(g))
    for k, g in li.groupby("l_linestatus"):
        ref[(None, k)] = (float(g.l_quantity.sum()), len(g))
    ref[(None, None)] = (float(li.l_quantity.sum()), len(li))
    got = CATALOG["agg_grouping_sets"].builder(spark, sf_dir).toPandas()
    assert len(got) == len(ref)
    for r in got.itertuples():
        key = (
            None if pd.isna(r.l_returnflag) else r.l_returnflag,
            None if pd.isna(r.l_linestatus) else r.l_linestatus,
        )
        s, n = ref[key]
        assert abs(r.sum_qty - _r(s, 2)) < 2e-2, key
        assert int(r.n_rows) == n, key


def test_join_full_matches_pandas(spark, sf_dir):
    c = _pq(sf_dir, "customer").groupby("c_nationkey").size()
    s = _pq(sf_dir, "supplier").groupby("s_nationkey").size()
    keys = set(c.index) | set(s.index)
    got = (
        CATALOG["join_full"].builder(spark, sf_dir).toPandas()
        .set_index("nationkey")
    )
    assert set(got.index) == keys
    for k in keys:
        assert int(got.loc[k].n_customers) == int(c.get(k, 0))
        assert int(got.loc[k].n_suppliers) == int(s.get(k, 0))


def test_set_ops_match_pandas(spark, sf_dir):
    """UNION ALL (ledger concat, multiset-exact) / INTERSECT
    (distinct common nation keys, set-exact) / EXCEPT (distinct
    difference, set-exact), recomputed in python."""
    c = _pq(sf_dir, "customer")
    s = _pq(sf_dir, "supplier")
    union = CATALOG["set_union"].builder(spark, sf_dir).toPandas()
    ref_union = Counter(
        [("customer", int(k), b) for k, b in zip(c.c_custkey, c.c_acctbal)]
        + [("supplier", int(k), b) for k, b in zip(s.s_suppkey, s.s_acctbal)]
    )
    got_union = Counter(
        (r.kind, int(r.entity_id), r.acctbal) for r in union.itertuples()
    )
    assert got_union == ref_union
    cu, su = set(c.c_nationkey), set(s.s_nationkey)
    inter = CATALOG["set_intersect"].builder(spark, sf_dir).toPandas()
    assert set(inter.nationkey) == (cu & su)
    assert inter.nationkey.is_unique  # INTERSECT is distinct
    exc = CATALOG["set_except"].builder(spark, sf_dir).toPandas()
    assert set(exc.nationkey) == (cu - su)
    assert exc.nationkey.is_unique


def test_join_anti_scalar_q22_matches_pandas(spark, sf_dir):
    c = _pq(sf_dir, "customer")
    o = _pq(sf_dir, "orders")
    bal_cents = c.c_acctbal.map(_cents)
    pos = bal_cents[c.c_acctbal > 0]
    sum_cents, n_pos = int(pos.sum()), len(pos)
    recent = set(
        o[o.o_orderdate >= pd.Timestamp("2000-07-01")].o_custkey
    )
    idle = c[
        (bal_cents * n_pos > sum_cents) & (~c.c_custkey.isin(recent))
    ].assign(bc=bal_cents)
    ref = idle.groupby("c_mktsegment").bc.agg(["size", "sum"])
    got = (
        CATALOG["join_anti_scalar"].builder(spark, sf_dir).toPandas()
        .set_index("c_mktsegment")
    )
    assert len(got) == len(ref)
    for k, r in ref.iterrows():
        assert int(got.loc[k].n_customers) == int(r["size"]), k
        assert abs(got.loc[k].total_acctbal - r["sum"] / 100.0) < 1e-9, k


def test_join_nested_semi_q20_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    p = _pq(sf_dir, "part")
    s = _pq(sf_dir, "supplier")
    pq = (
        li.assign(qi=li.l_quantity.astype("int64"))
        .groupby(["l_partkey", "l_suppkey"]).qi.sum()
    )
    pt = pq.groupby(level=0).agg(["sum", "size"])
    small = set(p[p.p_size <= 10].p_partkey)
    heavy_sk = set()
    for (pk, sk), q in pq.items():
        tot, m = pt.loc[pk]
        if q * m > 3 * tot and pk in small:
            heavy_sk.add(sk)
    ref = s[s.s_suppkey.isin(heavy_sk)]
    got = CATALOG["join_nested_semi"].builder(spark, sf_dir).toPandas()
    assert set(got.s_suppkey) == set(ref.s_suppkey)
    names = s.set_index("s_suppkey").s_name
    for r in got.itertuples():
        assert r.s_name == names.loc[int(r.s_suppkey)]


# --- sixth batch: remaining scalar/scan singles + sampled recall -----


def test_scan_count_and_agg_count_distinct_match_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    got = CATALOG["scan_count"].builder(spark, sf_dir).toPandas()
    assert int(got.n_rows.iloc[0]) == len(li)
    o = _pq(sf_dir, "orders")
    ref = o.groupby("o_orderpriority").agg(
        nc=("o_custkey", "nunique"), n=("o_orderkey", "size")
    )
    acd = (
        CATALOG["agg_count_distinct"].builder(spark, sf_dir).toPandas()
        .set_index("o_orderpriority")
    )
    assert len(acd) == len(ref)
    for k, r in ref.iterrows():
        assert int(acd.loc[k].n_customers) == int(r.nc)
        assert int(acd.loc[k].n_orders) == int(r.n)


def test_project_expr_matches_pandas(spark, sf_dir):
    li = _pq(sf_dir, "lineitem")
    got = CATALOG["project_expr"].builder(spark, sf_dir).toPandas()
    assert len(got) == len(li)
    # row-order-free: compare as multisets of full rows
    ref = Counter(
        (
            int(r.l_orderkey), int(r.l_linenumber),
            _r(r.l_extendedprice * (1 - r.l_discount), 2),
            "high" if r.l_tax > 0.04 else ("mid" if r.l_tax > 0.02 else "low"),
            int(r.l_quantity) % 7,
        )
        for r in li.itertuples()
    )
    got_ms = Counter(
        (int(r.l_orderkey), int(r.l_linenumber), r.revenue, r.tax_band,
         int(r.qty_mod))
        for r in got.itertuples()
    )
    assert got_ms == ref


def test_json_extract_matches_python(spark, sf_dir):
    import json

    e = _pq(sf_dir, "events")
    ref = {}
    for r in e.itertuples():
        props = json.loads(r.props) if r.props else {}
        if "k" in props and props["k"] is not None:
            ref[int(r.event_id)] = int(props["k"])
    got = (
        CATALOG["json_extract"].builder(spark, sf_dir).toPandas()
        .set_index("event_id")
    )
    assert set(got.index) == set(ref)
    for k, v in ref.items():
        assert int(got.loc[k].k_int) == v
        assert got.loc[k].k_str == str(v)


def test_fn_regex_matches_python(spark, sf_dir):
    import re

    docs = _pq(sf_dir, "documents")
    got = (
        CATALOG["fn_regex"].builder(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    assert len(got) == len(docs)
    for r in docs.itertuples():
        row = got.loc[int(r.doc_id)]
        src = r.source
        m = re.search(r"src([0-9]+)", src) if src is not None else None
        want_num = int(m.group(1)) if m else None
        assert (
            (pd.isna(row.src_num) and want_num is None)
            or int(row.src_num) == want_num
        )
        teen = bool(re.search(r"src1[0-9]$", src)) if src is not None else None
        if src is not None:
            assert int(row.is_teen_src) == int(teen)
        text = r.text if r.text is not None else None
        if text is not None:
            assert int(row.n_vowel_runs) == len(
                re.findall(r"[aeiou]+", text)
            )
            assert row.masked_prefix == re.sub(r"[aeiou]", "*", text[:40])


def test_fn_bitwise_matches_python(spark, sf_dir):
    o = _pq(sf_dir, "orders")
    o = o[(o.o_orderkey.notna()) & (o.o_custkey.notna()) & (o.o_orderkey >= 0)]
    got = (
        CATALOG["fn_bitwise"].builder(spark, sf_dir).toPandas()
        .set_index("o_orderkey")
    )
    got = got[~got.index.duplicated()]
    seen = 0
    for r in o.drop_duplicates("o_orderkey").itertuples():
        k = int(r.o_orderkey)
        row = got.loc[k]
        seen += 1
        assert int(row.and_mask) == (k & 255)
        assert int(row.or_mask) == (k | 4096)
        assert int(row.xor_cust) == (k ^ int(math.floor(r.o_custkey)))
        assert int(row.shl2) == (k << 2)
        assert int(row.shr3) == (k >> 3)
        assert int(row.popcount) == bin(k).count("1")
    assert seen > 100


def test_fn_url_matches_python(spark, sf_dir):
    docs = _pq(sf_dir, "documents")
    docs = docs[
        docs.doc_id.notna() & docs.source.notna() & docs.lang.notna()
    ]
    got = (
        CATALOG["fn_url"].builder(spark, sf_dir).toPandas()
        .set_index("doc_id")
    )
    assert len(got) == len(docs)
    for r in docs.itertuples():
        row = got.loc[int(r.doc_id)]
        host = r.source.lower() + ".example.com"
        path = f"/docs/{int(r.doc_id)}"
        query = f"lang={r.lang}&v=2"
        assert row.host == host
        assert row.path == path
        assert row.query == query
        assert row.url == f"https://{host}{path}?{query}"
        assert row.lang_param == r.lang


def test_sim_ann_recall_sampled_matches_numpy(spark, sf_dir):
    """The 1-in-5 sampled audit: identical ledger algebra to the
    exhaustive ref, restricted to vec_id % 5 == 0 queries."""
    from .test_round12_refs import _valid_units

    ids, unit = _valid_units(_pq(sf_dir, "embeddings"))
    bucket = sum(((unit[:, i] > 0).astype(int) << i) for i in range(4))
    sim = unit @ unit.T
    rounds = lambda c: math.floor(c * 1e6 + 0.5) / 1e6
    per_bucket: dict[int, list[tuple[int, int]]] = {}
    for qi in range(len(ids)):
        if ids[qi] % 5 != 0:
            continue
        mask = (bucket == bucket[qi]) & (ids != ids[qi])
        if not mask.any():
            continue
        cand = np.nonzero(mask)[0]
        ann_j = sorted(cand, key=lambda j: (-sim[qi, j], ids[j]))[0]
        alln = sorted(
            (j for j in range(len(ids)) if ids[j] != ids[qi]),
            key=lambda j: (-sim[qi, j], ids[j]),
        )
        topk = {int(ids[j]) for j in alln[:3]}
        regret_u = math.floor(
            (rounds(sim[qi, alln[0]]) - rounds(sim[qi, ann_j])) * 1e6 + 0.5
        )
        per_bucket.setdefault(int(bucket[qi]), []).append(
            (1 if int(ids[ann_j]) in topk else 0, regret_u)
        )
    got = (
        CATALOG["sim_ann_recall_sampled"].builder(spark, sf_dir).toPandas()
        .set_index("bucket")
    )
    assert len(got) == len(per_bucket)
    for b, rows in per_bucket.items():
        r = got.loc[b]
        n = len(rows)
        hits = sum(h for h, _ in rows)
        assert int(r.n_queries) == n, b
        assert int(r.n_hits) == hits, b
        assert int(r.hit_ppm) == math.floor(hits / n * 1e6 + 0.5), b
        assert int(r.avg_regret_upm) == math.floor(
            sum(u for _, u in rows) / n + 0.5
        ), b
