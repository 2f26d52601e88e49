"""Self-tests of the benchmark's own accounting; no Spark needed.

    python3 perfbench/selftest.py

- An op that raises is counted as 1 failure out of N, and the other
  ops of the pass are still timed.
- Nested cache fills (the dedup chain ``shingle_index`` -> ``minhash``
  -> ``cand_pairs`` -> ``clusters`` fills each inner table inside the
  outer fill) are not counted twice: the self times of a chain's fills
  sum to no more than the outermost fill's inclusive time.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


class _Context:
    def setJobGroup(self, group, description):
        pass

    def cancelJobGroup(self, group):
        pass

    def setLocalProperty(self, key, value):
        pass


class _Spark:
    sparkContext = _Context()


def failing_op_is_one_failure() -> None:
    def ok(spark, ctx):
        time.sleep(0.01)

    def boom(spark, ctx):
        raise RuntimeError("op failed")

    ops = [harness.Op(n, fn, fn, None) for n, fn in (("a", ok), ("b", boom), ("c", ok))]
    fails, res = harness.Failures(), harness.BatchResult()
    harness.run_pass(_Spark(), ops, 7, 0, "selftest", fails, res, None)
    assert (fails.attempted, fails.failed) == (3, 1), (fails.attempted, fails.failed)
    assert sorted(res.latencies) == ["a", "c"], res.latencies
    assert all(x >= 0.01 for xs in res.latencies.values() for x in xs)


def nested_fills_are_not_counted_twice() -> None:
    tracer = Tracer()
    tracer.active = True

    def fixture_cached(spark, sf_dir, table, tag, build):
        t0 = time.perf_counter()
        df = build()
        tracer.note_fill(tag, time.perf_counter() - t0)
        return df

    cached = tracer.wrap(fixture_cached, "session_cache.call", tag_arg=3)

    def level(tags):
        def build():
            time.sleep(0.02)
            if len(tags) > 1:
                cached(None, "", "documents", tags[1], level(tags[1:]))
            else:
                # a cache that logs its own fill inside the innermost one
                time.sleep(0.01)
                tracer.note_fill("scalar", 0.01)
            return tags[0]

        return build

    chain = ("clusters", "cand_pairs", "minhash", "shingle_index")
    cached(None, "", "documents", chain[0], level(chain))
    tracer.active = False
    [(root, fills)] = tracer.fill_chains()
    assert root.tag == "clusters" and len(fills) == 5, (root.tag, len(fills))
    inclusive = sum(s.dur for s in fills)
    self_sum = sum(s.self_s for s in fills)
    assert inclusive > 1.5 * root.dur, "the chain's inclusive times should overlap"
    assert self_sum <= root.dur + 1e-6, (self_sum, root.dur)
    m = tracer.cache_metrics()
    assert m["session_cache.fills"] == 5 and abs(m["session_cache.fill_self_s"] - self_sum) < 1e-9


def main() -> int:
    for test in (failing_op_is_one_failure, nested_fills_are_not_counted_twice):
        test()
        print(f"{test.__name__}: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
