"""The bench artifact's line-capture contract (VERDICT r13 #1/#2).

The driver preserves only a bounded slice of bench stdout and parses
it line-wise, so every line the driver must reconstruct has to stay
under ~2 KB serialized. These tests pin that bound for the chunked
``per_query_part`` emission and for the final summary line, and prove
the chunks are lossless — a reader merging the parts recovers exactly
the legacy line's per-key map plus the max/cold companions.

No Spark session needed: the helpers are pure functions.
"""

from __future__ import annotations

import json
import random
import string

import bench


def _fake_catalog(n: int, seed: int = 7):
    rng = random.Random(seed)
    timings, qmax, colds = {}, {}, {}
    for i in range(n):
        name = (
            "".join(rng.choices(string.ascii_lowercase + "_", k=rng.randint(8, 40)))
            + f"_{i}"
        )
        lo = round(rng.uniform(0.05, 9.999), 3)
        hi = round(lo + rng.uniform(0, 12.0), 3)
        timings[name] = lo
        qmax[name] = hi
        colds[name] = hi
    return timings, qmax, colds


def test_parts_are_bounded_and_lossless():
    # 500 keys with long names — well past the 232-key catalog that
    # overflowed the driver's capture in r13
    timings, qmax, colds = _fake_catalog(500)
    parts = bench.per_query_parts(timings, qmax, colds, sf_val=0.1)
    assert parts, "non-empty catalog must produce at least one part"
    merged_q, merged_x, merged_c = {}, {}, {}
    for i, p in enumerate(parts, start=1):
        line = json.dumps(p)
        assert len(line) < 2000, f"part {i} serializes to {len(line)} B"
        assert p["metric"] == "per_query_part"
        assert p["part"] == i and p["of"] == len(parts)
        assert set(p["queries"]) == set(p["qmax"]) == set(p["qcold"])
        assert not (set(p["queries"]) & set(merged_q)), "no key overlap"
        merged_q.update(p["queries"])
        merged_x.update(p["qmax"])
        merged_c.update(p["qcold"])
    assert merged_q == timings
    assert merged_x == qmax
    assert merged_c == colds


def test_single_small_catalog_is_one_part():
    timings, qmax, colds = _fake_catalog(3)
    parts = bench.per_query_parts(timings, qmax, colds, sf_val=0.01)
    assert len(parts) == 1
    assert parts[0]["part"] == 1 and parts[0]["of"] == 1


def test_parts_keep_their_own_bound_with_slow_real_keys():
    # The real catalog's names with every time at 1234.567 s: each
    # line must stay within the max_len the slicing promises, not just
    # under the capture bound on average-width numbers.
    from mapreducepy_spark.registry import load_catalog

    slow = {k: 1234.567 for k in load_catalog()}
    parts = bench.per_query_parts(slow, slow, slow, sf_val=0.1, max_len=1600)
    merged = {}
    for p in parts:
        line = json.dumps(p)
        assert len(line) <= 1600, f"part {p['part']} serializes to {len(line)} B"
        merged.update(p["queries"])
    assert merged == slow


def test_final_line_is_bounded_with_every_key_failed():
    # The final summary line must stay under the same ~2 KB capture
    # bound whatever the catalog does: at 500 keys, all failed, it
    # still carries only totals, counts and a capped list of names.
    timings, _, _ = _fake_catalog(500)
    s = bench.Sweep()
    for k in timings:
        s.fails.attempted += 1
        s.fails.record(k, RuntimeError("x" * 400))
    line = json.dumps(
        bench.summary_line(
            s, 0.1, 40, [99.99, 99.99, 99.99], [99.99, 99.99, 99.99]
        )
    )
    assert len(line) < 2000, f"final line would be {len(line)} B"
    out = json.loads(line)
    assert (out["attempted"], out["failed"], out["n_queries"]) == (500, 500, 0)
    assert 0 < len(out["failed_keys"]) < 500
    assert set(out["failed_keys"]) <= set(timings)


def test_fill_log_records_and_windows():
    from mapreducepy_spark import session_cache

    before = len(session_cache.fill_log())
    session_cache.note_fill("unit_test_artifact", 1.23456)
    log = session_cache.fill_log()
    assert len(log) == before + 1
    assert log[-1] == {"tag": "unit_test_artifact", "sec": 1.235}
