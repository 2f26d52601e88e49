"""Cross-scale parity audit: run selected (or all) catalog keys
against their DuckDB oracles at an arbitrary scale-factor directory
— the ritual that catches SCALE-DEPENDENT divergence (partial-sum
reordering, threshold degeneracy, overflow) that the sf0.01 driver
gate cannot see.

Usage:
    python scripts/parity_sf.py [sf_dir] [key ...]
Defaults: /root/testdata/sf0.1, all keys with an oracle. Prints one
line per key and exits non-zero on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducepy_spark.registry import load_catalog
from mapreducepy_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    keys = sys.argv[2:]
    spark = get_spark(app_name="parity-sf")
    spark.sparkContext.setLogLevel("ERROR")
    cat = load_catalog()
    if not keys:
        keys = [k for k, q in cat.items() if q.oracle is not None]
    # the canonical comparator (column-set + dtype-kind + canonical
    # values, with per-mismatch diagnostics) and the fixture views —
    # never re-implemented here, so they cannot drift from the test
    # suite's gate
    from tests.parity_util import assert_frames_match, oracle_views

    con = oracle_views(sf_dir)

    bad = 0
    checked = 0
    for name in keys:
        q = cat.get(name)
        if q is None:
            print(f"{name} ERROR unknown catalog key")
            bad += 1
            continue
        if q.oracle is None:
            print(f"{name} SKIP (no oracle)")
            continue
        t0 = time.time()
        try:
            spd = q.builder(spark, sf_dir).toPandas()
            dpd = con.execute(q.oracle).fetchdf()
        except Exception as ex:  # noqa: BLE001 — audit must keep going
            print(f"{name} ERROR {str(ex)[:160]}")
            bad += 1
            continue
        checked += 1
        try:
            assert_frames_match(spd, dpd, name)
            ok = True
        except AssertionError as ex:
            ok = False
            print(f"{name} MISMATCH DETAIL {str(ex)[:400]}")
        print(
            f"{name} {'MATCH' if ok else 'MISMATCH'} "
            f"rows={len(spd)}/{len(dpd)} {time.time() - t0:.1f}s",
            flush=True,
        )
        bad += 0 if ok else 1
    print(f"parity_sf: {checked} keys checked, {bad} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
