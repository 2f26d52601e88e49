"""Run every registered query under a VANILLA SparkSession — the
session-portability gate.

The driver's correctness harness builds its own SparkSession with none
of the engine's configs (no nanosAsLong, no inferTimestampNTZ
override, no UTC timezone). Round 1 lost 13 correctness rows to that
gap while the engine-session test suite stayed green, because every
local test ran under ``session.get_spark``. This script is the honest
mirror: a bare ``SparkSession.builder.master(...).getOrCreate()`` in
a fresh JVM (tests/test_vanilla_session.py invokes it as a
subprocess — in-process ``newSession()`` would still inherit the
builder's SparkConf, which is exactly the contamination we must not
have), then every ``queries()`` key runs and is compared against its
DuckDB oracle.

Prints one JSON line: {"ok": bool, "n": int, "failures": {...}}.
Exit code 0 iff every key passes.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from mapreducepy_spark.registry import load_catalog
from tests.parity_util import assert_frames_match, oracle_views


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    # Vanilla on purpose: every semantic conf the engine needs must be
    # self-applied inside io.load, not assumed here. (UI off and low
    # shuffle-partition count are operational, not semantic.)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("vanilla-parity")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = oracle_views(sf_dir)
    catalog = load_catalog()
    names = [n for n in catalog if only is None or n in only]
    failures: dict[str, str] = {}
    try:
        for name in names:
            q = catalog[name]
            try:
                spark_pd = q.builder(spark, sf_dir).toPandas()
                if q.oracle is None:
                    assert len(spark_pd) > 0, "rows-only query returned no rows"
                else:
                    duck_pd = con.execute(q.oracle).fetchdf()
                    assert_frames_match(spark_pd, duck_pd, name)
            except Exception:
                failures[name] = traceback.format_exc(limit=3)
        print(
            json.dumps(
                {"ok": not failures, "n": len(names), "failures": failures}
            )
        )
    finally:
        # without this an unexpected error between session creation and
        # the end of main leaks the subprocess JVM (ADVICE r2)
        spark.stop()
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
