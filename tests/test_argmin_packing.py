"""Bigint argmin-packing guard (VERDICT r13 #3 + ADVICE r13 #1).

The packed argmins left in the engine all have CONSTANT bounds:
``embed_pq_codes``' ``min(err·K+cw)`` and the ADC cell/codeword
argmins are exact because the id term is a compile-time constant
(cell < 16, cw < 16), but the err term's int64 headroom depends on
the µ-quantized component magnitude A (err ≤ dims·(2A)²). The first
test pins the fixtures inside that envelope so an out-of-range
regenerated fixture fails LOUDLY here instead of silently
overflowing into a wrong argmin.

The argmins whose id term is not a constant (``agg_minmax_by``,
``events_ohlc`` open/close, the ADC final rollup) are struct
MIN/MAXes. The remaining tests check them against the DuckDB oracle
on adversarial synthetic fixtures: timestamp ties with and without
NULL ids, NULL values and timestamps, non-cent values, a
multi-century span with a 2⁴⁰ id, and ADC component magnitudes near
the constant-bound envelope.
"""

from __future__ import annotations

import glob

import duckdb
import pandas as pd
import pytest

from mapreducepy_spark.registry import load_catalog
from tests.parity_util import assert_frames_match

# Tightest constant-bound site: the adc cell argmin packs
# d·16 + cell with d ≤ 64·(2A)² ⇒ exactness needs A < sqrt(2⁶³/4096)
# ≈ 4.74e7 µ-units (|x| ≲ 47). Pin with ~15% slack.
_A_ENVELOPE = 4_000_000_0  # 4.0e7 µ-units


@pytest.mark.parametrize(
    "sf_path", sorted(glob.glob("/root/testdata/sf*/embeddings.parquet"))
)
def test_fixture_embeddings_inside_packing_envelope(sf_path):
    con = duckdb.connect()
    amax = con.execute(
        "SELECT max(list_max(list_transform(embedding, "
        "x -> abs(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) "
        "AS BIGINT))))) FROM read_parquet(?)",
        [sf_path],
    ).fetchone()[0]
    assert amax is not None and amax < _A_ENVELOPE, (
        f"{sf_path}: max |µ-component| {amax} exceeds the int64 "
        "argmin-packing envelope — the constant-bound packings in "
        "embed_pq_codes / sim_ann_adc_agreement would overflow; "
        "re-derive the bound or revert to struct argmins"
    )


def _assert_matches_oracle(spark, sf: str, key: str, table: str) -> None:
    """``key``'s Spark result over the one-table fixture ``sf`` equals
    its DuckDB oracle's."""
    q = load_catalog()[key]
    spd = q.builder(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{sf}/{table}.parquet')"
    )
    assert_frames_match(spd, con.execute(q.oracle).fetchdf(), f"{key} {sf}")


def _write_embeddings(tmp_path, scale: float):
    """A tiny deterministic embeddings fixture whose component
    magnitude is controlled by ``scale``."""
    import numpy as np

    rng = np.random.RandomState(11)
    n, dim = 40, 64
    vecs = (rng.rand(n, dim) * 2 - 1) * scale
    pdf = pd.DataFrame(
        {
            "vec_id": pd.array(range(n), dtype="Int64"),
            "embedding": [list(map(float, v)) for v in vecs],
            "label": ["l%d" % (i % 3) for i in range(n)],
        }
    )
    d = tmp_path / "emb"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("scale", [1.0, 40.0])
def test_adc_agreement_matches_oracle(spark, tmp_path, scale):
    """scale=40 puts the components near the constant-bound envelope
    while the l2 fold and the cell packing stay exact (A ≈ 4e7:
    4096·A² ≈ 6.6e18 < 2⁶³); scale=1.0 is an ordinary corpus. Both
    must match the oracle. (Far larger magnitudes — 1e5+ — overflow
    the int64 µ-unit l2 itself, where ANSI mode raises loudly on BOTH
    engines rather than corrupting silently; that boundary is the
    fixture-envelope test above.)"""
    sf = _write_embeddings(tmp_path, scale)
    _assert_matches_oracle(spark, sf, "sim_ann_adc_agreement", "embeddings")


def _write_events(tmp_path, rows):
    d = tmp_path / "ev"
    d.mkdir()
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    ev["event_id"] = ev["event_id"].astype("Int64")
    ev["ts"] = pd.to_datetime(ev["ts"])
    ev.to_parquet(d / "events.parquet", index=False)
    return str(d)


# Adversarial events fixtures: (event_id, ts, user_id, event_type,
# value, props) rows, each run through both event argmin keys.
_EVENT_FIXTURES = {
    # equal-ts ties with and without NULL ids (the round-5 null-sweep
    # shape) and a NULL-ts-only group
    "ts_ties_null_ids": [
        (5, "2024-01-01 10:00:00", 1, "view", 1.0, None),
        (2, "2024-01-01 10:00:00", 1, "view", 2.0, None),  # ts tie
        (None, "2024-01-01 12:00:00", 1, "view", 3.0, None),  # null id at max ts
        (7, "2024-01-01 12:00:00", 1, "view", 4.0, None),  # ties null id
        (1, None, 2, "click", 5.0, None),  # NULL-ts only group
        (3, "2024-02-01 00:00:00", 3, "buy", 6.0, None),
    ],
    # unique timestamps, a NULL-value open and a negative close
    "null_open": [
        (1, "2024-01-01 10:00:01", 1, "view", None, None),  # NULL open
        (2, "2024-01-01 10:07:00", 1, "view", 2.25, None),
        (3, "2024-01-01 10:29:59", 1, "view", -1.07, None),  # close < 0
        (4, "2024-01-01 10:31:00", 1, "view", 7.00, None),  # next bar
        (5, None, 1, "view", 9.99, None),  # NULL ts drops
    ],
    # equal timestamps inside one bar, one of them against a NULL id
    "bar_ts_ties": [
        (9, "2024-01-01 10:00:00", 1, "view", 5.00, None),
        (2, "2024-01-01 10:00:00", 1, "view", 3.00, None),  # ts tie
        (None, "2024-01-01 10:20:00", 1, "view", 4.00, None),
        (7, "2024-01-01 10:20:00", 1, "view", 1.00, None),  # ties null id
    ],
    # a value that does not round-trip through integer cents
    "non_cent": [
        (1, "2024-01-01 10:00:01", 1, "view", 1.001, None),  # not cents
        (2, "2024-01-01 10:07:00", 1, "view", 2.25, None),
    ],
    # a ~500-year span × a 2⁴⁰ id range: past any int64 packing
    "wide_span": [
        (0, "1700-01-01 00:00:00", 1, "view", 1.0, None),
        (2**40, "2200-01-01 00:00:00", 1, "view", 2.0, None),
        (17, "1999-06-15 12:00:00", 1, "view", 3.0, None),
    ],
}


@pytest.mark.parametrize("key", ["agg_minmax_by", "events_ohlc"])
@pytest.mark.parametrize("fixture", sorted(_EVENT_FIXTURES))
def test_events_argmin_matches_oracle(spark, tmp_path, fixture, key):
    sf = _write_events(tmp_path, _EVENT_FIXTURES[fixture])
    _assert_matches_oracle(spark, sf, key, "events")
