"""Catalog benchmark: run every registered key over the fixture
directory ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 fixtures) on
``local[$SPARK_GRAFT_CPUS]`` and print JSON lines.

Usage:
    python bench.py [key ...]        # default: every key, sorted

Timing methodology: each run builds the key's DataFrame and writes it
to the ``noop`` sink (every row materialized JVM-side, no driver
collect, no disk), so it measures plan execution. Each key runs
``_RUNS`` times through ``perfbench.harness.timed_call`` under the job
group ``catalog/<key>/<run>``. Run 1 is the cold time (first-run
codegen, scan caches and session-cache fills); the steady time is the
median of runs 2.._RUNS, and the max of those runs is its spread. A key
that raises or passes ``harness.OP_TIMEOUT_S`` is counted once as
failed, its remaining runs are skipped and the sweep goes on. JVM and
Python-worker start-up are warmed once up front and never billed.

Output: one stderr line per key (cold, steady, max and the number of
Spark jobs of its last run), then on stdout, in this order:
1. the legacy one-line ``{"metric": ..., "queries": {...}}`` map of
   steady seconds (the original driver contract; grows with the
   catalog);
2. ``per_query_part`` lines, each a self-contained slice under 2 KB
   of the per-key map with steady, max and cold seconds, so a
   line-wise reader with a bounded line capture can rebuild the map;
3. one ``artifact_fills`` line: the cold and steady totals and every
   session-cache artifact fill attributed to the (key, run) that paid
   it;
4. the short final summary line (steady and cold totals, keys
   attempted and failed, loadavg), printed last so it survives any
   tail truncation regardless of catalog size.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass, field

from mapreducepy_spark import session_cache
from mapreducepy_spark.registry import load_catalog
from mapreducepy_spark.session import get_spark
from perfbench import harness

_RUNS = 3
# failed keys named in the final line; the rest are on stderr
_FAILED_KEYS_SHOWN = 10


@dataclass
class Sweep:
    """Per-key seconds of the keys that completed every run, the job
    count of each key's last run, and the session-cache fills each
    (key, run) paid for."""

    cold: dict[str, float] = field(default_factory=dict)
    steady: dict[str, float] = field(default_factory=dict)
    qmax: dict[str, float] = field(default_factory=dict)
    jobs: dict[str, int] = field(default_factory=dict)
    fills: dict[str, list[dict]] = field(default_factory=dict)
    fails: harness.Failures = field(default_factory=harness.Failures)


def sweep(spark, sf_dir: str, catalog) -> Sweep:
    """Time every key of ``catalog`` (name -> entry with a ``builder``),
    in its order; a raising key is recorded in ``Sweep.fails`` under its
    name and left out of every timing map."""

    def run(spark, q):
        q.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

    out = Sweep()
    tracker = spark.sparkContext.statusTracker()
    for name, q in catalog.items():
        out.fails.attempted += 1
        runs: list[float] = []
        fills: list[dict] = []
        try:
            for r in range(1, _RUNS + 1):
                n_fills = len(session_cache.fill_log())
                sec, _ = harness.timed_call(spark, f"catalog/{name}/{r}", run, spark, q)
                runs.append(sec)
                fills += [{**f, "run": r} for f in session_cache.fill_log()[n_fills:]]
        except Exception as exc:  # noqa: BLE001 - a failing key is counted, not fatal
            out.fails.record(name, exc)
            print(f"bench: FAILED {out.fails.notes[-1]}", file=sys.stderr, flush=True)
            continue
        out.cold[name] = round(runs[0], 3)
        out.steady[name] = round(harness.median(runs[1:]), 3)
        out.qmax[name] = round(max(runs[1:]), 3)
        out.jobs[name] = len(tracker.getJobIdsForGroup(f"catalog/{name}/{_RUNS}"))
        if fills:
            out.fills[name] = fills
        print(
            f"bench: {name} cold {out.cold[name]:.3f}s steady "
            f"{out.steady[name]:.3f}s max {out.qmax[name]:.3f}s "
            f"jobs {out.jobs[name]}",
            file=sys.stderr,
            flush=True,
        )
    return out


def per_query_parts(
    timings: dict[str, float],
    qmax: dict[str, float],
    colds: dict[str, float],
    sf_val,
    max_len: int = 1600,
) -> list[dict]:
    """Slice the per-key map into self-contained ``per_query_part``
    payloads, each serializing to at most ``max_len`` bytes (under the
    driver's ~2 KB line-capture bound) unless one key alone is longer.
    Merging the parts' ``queries`` maps reconstructs the legacy line's
    map exactly."""

    def payload(part: int, of: int, q: dict, x: dict, c: dict) -> dict:
        return {
            "metric": "per_query_part",
            "part": part,
            "of": of,
            "sf": sf_val,
            "runs_per_query": _RUNS,
            "queries": q,
            "qmax": x,
            "qcold": c,
        }

    # the empty payload with the widest part numbers any slicing can have
    head = len(json.dumps(payload(len(timings), len(timings), {}, {}, {})))
    parts: list[tuple[dict, dict, dict]] = []
    cur_q: dict[str, float] = {}
    cur_x: dict[str, float] = {}
    cur_c: dict[str, float] = {}
    cur_len = head
    for k in sorted(timings):
        # '{"k": v}' is the entry plus 2 bytes, the length of the ', '
        # that separates it from the previous entry of its map
        entry_len = sum(len(json.dumps({k: m[k]})) for m in (timings, qmax, colds))
        if cur_q and cur_len + entry_len > max_len:
            parts.append((cur_q, cur_x, cur_c))
            cur_q, cur_x, cur_c, cur_len = {}, {}, {}, head
        cur_q[k] = timings[k]
        cur_x[k] = qmax[k]
        cur_c[k] = colds[k]
        cur_len += entry_len
    if cur_q:
        parts.append((cur_q, cur_x, cur_c))
    return [
        payload(i, len(parts), pq, px, pc)
        for i, (pq, px, pc) in enumerate(parts, start=1)
    ]


def summary_line(
    s: Sweep, sf_val, n_parts: int, load_before, load_after
) -> dict:
    """The final stdout line. Its size is bounded whatever the catalog
    size: it holds totals, counts and at most ``_FAILED_KEYS_SHOWN``
    key names."""
    return {
        "metric": "total_runtime_all_queries",
        "value": round(sum(s.steady.values()), 3),
        "value_cold": round(sum(s.cold.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(s.steady),
        "runs_per_query": _RUNS,
        "per_query_parts": n_parts,
        "attempted": s.fails.attempted,
        "failed": s.fails.failed,
        "failed_keys": [
            note.split(":", 1)[0] for note in s.fails.notes[:_FAILED_KEYS_SHOWN]
        ],
        "loadavg_before": load_before,
        "loadavg_after": load_after,
    }


def _loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def main() -> int:
    load_before = _loadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    catalog = load_catalog()
    keys = sys.argv[1:] or sorted(catalog)
    unknown = [k for k in keys if k not in catalog]
    if unknown:
        print(f"bench: unknown keys {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="mapreducepy-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: touch the biggest table so JVM/IO startup isn't billed,
    # and run one trivial Arrow batch so Python-worker startup isn't
    # billed to the first pandas-UDF query
    from mapreducepy_spark.io import load

    load(spark, sf_dir, "lineitem").count()
    spark.range(32).mapInPandas(lambda it: it, "id long").count()

    s = sweep(spark, sf_dir, {k: catalog[k] for k in keys})
    parts = per_query_parts(s.steady, s.qmax, s.cold, sf_val)
    summary = summary_line(s, sf_val, len(parts), load_before, _loadavg())
    print(
        json.dumps(
            {
                "metric": "total_runtime_all_queries",
                "value": summary["value"],
                "unit": "sec",
                "queries": s.steady,
                "sf": sf_val,
                "runs_per_query": _RUNS,
            }
        )
    )
    sys.stdout.flush()
    for payload in parts:
        print(json.dumps(payload))
    # Bound this line too: a healthy session fills each artifact once
    # (about a dozen entries); the cap sits far above that so even an
    # eviction storm cannot push the line past the capture bound.
    n_fills = sum(len(v) for v in s.fills.values())
    fills_capped: dict[str, list[dict]] = {}
    kept = 0
    for k, v in s.fills.items():
        if kept >= 24:
            break
        fills_capped[k] = v[: 24 - kept]
        kept += len(fills_capped[k])
    print(
        json.dumps(
            {
                "metric": "artifact_fills",
                "total_cold": summary["value_cold"],
                "total_steady": summary["value"],
                "fills_omitted": n_fills - kept,
                "fills": fills_capped,
            }
        )
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
