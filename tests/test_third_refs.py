"""Third-implementation references for long-standing kernels.

Same rationale as ``test_round7_growth``: the driver gate proves
Spark == DuckDB; these prove the shared algebra is RIGHT by
recomputing it with numpy/pandas — implementations that share no code
with either engine formulation — so a both-engines-wrong-the-same-way
bug in an old kernel can't hide behind years of green parity rows.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from mapreducepy_spark.registry import load_catalog

CATALOG = load_catalog()


def _pq(sf_dir: str, table: str) -> pd.DataFrame:
    return pq.read_table(f"{sf_dir}/{table}.parquet").to_pandas()


def _r(x: float, d: int) -> float:
    s = float(10**d)
    return math.floor(x * s + 0.5) / s


def test_gini_matches_numpy_rank_formula(spark, sf_dir):
    """Per-nation Gini via the rank-sum estimator, recomputed with
    numpy over the same (revenue ASC, suppkey ASC) rank assignment the
    engines pin."""
    got = (
        CATALOG["agg_gini"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("n_name")
        .sort_index()
    )
    li = _pq(sf_dir, "lineitem")
    s = _pq(sf_dir, "supplier")
    n = _pq(sf_dir, "nation")
    li = li.assign(rev=li["l_extendedprice"] * (1 - li["l_discount"]))
    rev = li.groupby("l_suppkey")["rev"].sum().apply(lambda x: _r(x, 2))
    dim = s.merge(n, left_on="s_nationkey", right_on="n_nationkey")
    df = rev.rename("revenue").reset_index().merge(
        dim[["s_suppkey", "n_name"]], left_on="l_suppkey",
        right_on="s_suppkey",
    )
    for nation, g in df.groupby("n_name"):
        g = g.sort_values(["revenue", "l_suppkey"]).reset_index(drop=True)
        x = g["revenue"].to_numpy()
        rk = np.arange(1, len(x) + 1)
        nn, tot = len(x), x.sum()
        want = (
            _r(2.0 * (rk * x).sum() / (nn * tot) - (nn + 1) / nn, 6)
            if nn * tot != 0
            else None
        )
        assert got.loc[nation, "n_suppliers"] == nn
        assert got.loc[nation, "total_revenue"] == pytest.approx(
            _r(tot, 2), abs=1e-9
        )
        if want is not None:
            assert got.loc[nation, "gini"] == pytest.approx(
                want, abs=2e-6
            ), nation


def test_entropy_matches_numpy(spark, sf_dir):
    got = (
        CATALOG["events_entropy"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    e = _pq(sf_dir, "events")
    for uid, g in e.groupby("user_id"):
        cnt = g["event_type"].value_counts(dropna=False).to_numpy()
        p = cnt / cnt.sum()
        ent = float(-(p * np.log(p)).sum())
        k = len(cnt)
        assert got.loc[uid, "n_events"] == cnt.sum()
        assert got.loc[uid, "n_types"] == k
        assert got.loc[uid, "entropy"] == pytest.approx(
            _r(ent, 6), abs=2e-6
        )
        want_norm = _r(ent / math.log(k), 6) if k > 1 else 0.0
        assert got.loc[uid, "norm_entropy"] == pytest.approx(
            want_norm, abs=2e-6
        )


def test_dau_rolling_matches_pandas_set_union(spark, sf_dir):
    """DAU + 7-day rolling distinct users, recomputed by literal set
    union per observed day — the semantics the contribution-explode
    trick must equal."""
    got = (
        CATALOG["events_dau_rolling"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("day")
        .sort_index()
    )
    e = _pq(sf_dir, "events")
    e = e.assign(d=e["ts"].dt.normalize())
    daily = e.groupby("d")["user_id"].agg(set)
    for d, users in daily.items():
        key = d.strftime("%Y-%m-%d")
        window = set()
        for off in range(7):
            prev = d - pd.Timedelta(days=off)
            if prev in daily.index:
                window |= daily.loc[prev]
        assert got.loc[key, "dau"] == len(users), key
        assert got.loc[key, "wau_7d"] == len(window), key
    assert len(got) == len(daily)


def test_tfidf_matches_python_counter(spark, sf_dir):
    """TF-IDF recomputed with collections.Counter — no SQL engine
    involved in the reference at all."""
    from collections import Counter

    got = CATALOG["text_tfidf"].builder(spark, sf_dir).toPandas()
    docs = _pq(sf_dir, "documents")
    n_docs = float(len(docs))
    tf: dict = {}
    df: Counter = Counter()
    for _, row in docs.iterrows():
        words = [w for w in row["text"].split(" ") if w != ""]
        c = Counter(words)
        tf[row["doc_id"]] = c
        df.update(c.keys())
    assert len(got) == sum(len(c) for c in tf.values())
    gi = got.set_index(["doc_id", "word"])
    for doc_id, c in tf.items():
        for word, f in c.items():
            want = _r(f * math.log(n_docs / df[word]), 6)
            row = gi.loc[(doc_id, word)]
            assert row["tf"] == f
            assert row["tfidf"] == pytest.approx(want, abs=2e-6), (
                doc_id,
                word,
            )


def test_pareto_matches_numpy_cumsum(spark, sf_dir):
    got = (
        CATALOG["agg_pareto"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("l_suppkey")
        .sort_index()
    )
    li = _pq(sf_dir, "lineitem")
    rev = (
        (li["l_extendedprice"] * (1 - li["l_discount"]))
        .groupby(li["l_suppkey"])
        .sum()
        .apply(lambda x: _r(x, 2))
        .rename("revenue")
        .reset_index()
        .sort_values(["revenue", "l_suppkey"], ascending=[False, True])
        .reset_index(drop=True)
    )
    cum = rev["revenue"].cumsum()
    total = cum.iloc[-1]
    for i, row in rev.iterrows():
        key = row["l_suppkey"]
        cum_share = _r(cum.iloc[i] / total, 6)
        assert got.loc[key, "revenue"] == pytest.approx(
            row["revenue"], abs=1e-9
        )
        assert got.loc[key, "rev_share"] == pytest.approx(
            _r(row["revenue"] / total, 6), abs=2e-6
        )
        assert got.loc[key, "cum_share"] == pytest.approx(
            cum_share, abs=2e-6
        )
        assert got.loc[key, "in_top80"] == int(cum_share <= 0.8)


def test_win_streak_matches_python_islands(spark, sf_dir):
    got = (
        CATALOG["win_streak"]
        .builder(spark, sf_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    e = _pq(sf_dir, "events")
    days = (
        e.assign(d=e["ts"].dt.normalize().dt.date)
        .groupby("user_id")["d"]
        .agg(lambda s: sorted(set(s)))
    )
    for uid, ds in days.items():
        longest, cur = 1, 1
        for a, b in zip(ds, ds[1:]):
            cur = cur + 1 if (b - a).days == 1 else 1
            longest = max(longest, cur)
        assert got.loc[uid, "n_active_days"] == len(ds)
        assert got.loc[uid, "longest_streak"] == longest, uid


def test_sim_knn_matches_numpy_bruteforce(spark, sf_dir):
    """Exact top-3 cosine neighbors recomputed with one numpy GEMM.
    Scores must agree to the 1e-6 round; neighbor identity must agree
    except where two candidates tie on the ROUNDED score (then either
    is a correct top-k member — the engines' own tie rule is
    (cos DESC, id ASC) on the unrounded value, which numpy's float
    order reproduces only to ulp)."""
    got = CATALOG["sim_knn"].builder(spark, sf_dir).toPandas()
    emb = _pq(sf_dir, "embeddings")
    mats, ids = [], []
    for _, row in emb.iterrows():
        v = np.asarray(row["embedding"], dtype=np.float64)
        if v.shape[0] == 64 and (v * v).sum() > 0:
            mats.append(v / np.linalg.norm(v))
            ids.append(row["vec_id"])
    m = np.stack(mats)
    ids_arr = np.asarray(ids)
    sim = m @ m.T
    sim[ids_arr[:, None] == ids_arr[None, :]] = -np.inf  # every same-id pair
    got_g = got.groupby("query_id")
    assert set(got["query_id"]) == set(ids)
    for qi, qid in enumerate(ids_arr):
        order = np.lexsort((ids_arr, -sim[qi]))[:3]
        want = {
            int(ids_arr[j]): _r(float(sim[qi, j]), 6) for j in order
        }
        rows = got_g.get_group(qid)
        assert len(rows) == len(want)
        for _, r in rows.iterrows():
            nid, score = int(r["neighbor_id"]), float(r["cos_sim"])
            if nid in want:
                assert score == pytest.approx(want[nid], abs=2e-6)
            else:
                # rounded-score tie with a listed neighbor
                assert any(
                    abs(score - w) <= 2e-6 for w in want.values()
                ), (qid, nid)
