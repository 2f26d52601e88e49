"""Benchmark entry point.

    python3 perfbench/run.py --workload <batch|streaming> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed, runs the engine on them in one driver process on
``local[*]`` with the engine's own ``get_spark()`` defaults, checks
every op's output, and prints a readable report followed by one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics
from a separate traced run. Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, harness  # noqa: E402
from perfbench.harness import BatchResult, Failures, median  # noqa: E402

# Generated input sizes. ``sf`` scales the TPC-H tables (sf 1 = 6M
# lineitem rows); the other tables are sized directly.
SIZES = {
    "batch": dict(sf=0.01, n_events=10_000, n_docs=300, n_vecs=200),
    "streaming": dict(sf=0.002, n_events=20_000, n_docs=1_000, n_vecs=200),
}
N_PARTS = 16

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}


def log(msg: str) -> None:
    print(msg, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import mapreducepy_spark  # noqa: F401 - fail before any output without the engine

    dirs = harness.RunDirs(ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("local")
    os.environ["TMPDIR"] = dirs.path("tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(dirs.path("cwd"))
    # A terminated run still stops the JVM and its workers on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        t0 = time.perf_counter()
        size = sum(gen.generate(dirs.path("data"), gen.TABLE_SEED, **SIZES[args.workload]).values())
        if args.workload == "batch":
            os.makedirs(dirs.path("parts"))
            size += gen.split_parts(dirs.path("data"), dirs.path("parts"), args.seed, N_PARTS)
        gen_s = time.perf_counter() - t0
        log(f"gen_s {gen_s:.3f} s  input {size / 1e6:.2f} MB")
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()
        if args.workload == "streaming":
            from perfbench import streaming

            fails, metrics = streaming.run(args, dirs, tracer, log, gen_s)
        else:
            fails, metrics = run_batch(args, dirs, tracer, gen_s)
    finally:
        try:
            harness.stop_processes()
        finally:
            dirs.remove()
    log(f"fail_share {fails.failed / max(1, fails.attempted):.4f} ratio "
        f"({fails.failed} of {fails.attempted})")
    for note in fails.notes[:20]:
        log(f"  FAILED {note}")
    print(json.dumps({
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _steady(sess, ops, args, fails, res, ctx, seconds, first_pass=0):
    t_end = time.perf_counter() + seconds
    p = first_pass
    while True:
        res.passes.append(
            harness.run_pass(sess.spark, ops, args.seed, p, args.workload, fails, res, ctx)
        )
        p += 1
        if time.perf_counter() >= t_end:
            return


def _setup(sess, ops, args, fails, res, ctx, pass_no=-1, conf=None) -> float:
    """One set-up: fresh context, warm-up, one cold pass that keeps
    every op's rows for the checks. Returns the seconds it took."""
    t0 = time.perf_counter()
    sess.start(conf)
    sess.warm_up(ctx.data)
    start_s = time.perf_counter() - t0
    harness.run_pass(sess.spark, ops, args.seed, pass_no, args.workload, fails, res, ctx, cold=True)
    return start_s


def run_batch(args, dirs, tracer, gen_s):
    from mapreducepy_spark.registry import load_catalog

    from perfbench.workloads import Ctx, batch_ops, duck_views

    ops = batch_ops(load_catalog())
    ctx = Ctx(dirs.path("data"), dirs.path("parts"), duck_views(dirs.path("data")))
    fails = Failures()
    res = BatchResult()
    sess = harness.Session(dirs)
    try:
        _setup(sess, ops, args, fails, res, ctx)
        setup_s = time.perf_counter() - T_START - gen_s
        if tracer is None:
            _steady(sess, ops, args, fails, res, ctx, args.seconds)
            log(f"peak_rss_mb {harness.peak_rss_mb(sess.spark):.1f} MB")
        else:
            finish_trace = trace_batch(args, dirs, tracer, sess, ops, ctx, fails, res)
        harness.verify_outputs(sess.spark, ops, res, ctx, fails, log)
    finally:
        sess.stop()
    if tracer is not None:
        traced = finish_trace()
    log(f"setup_s {setup_s:.3f} s (process start to end of the cold pass, gen_s excluded)")
    log(f"warehouse_started_empty {sess.warehouse_started_empty}")
    log(f"ref.duckdb_s {ctx.ref_s:.3f} s (oracle SQL, once per key)")
    for name, xs in sorted(res.latencies.items()):
        cold = " ".join(f"{x:.3f}" for x in res.cold.get(name, []))
        log(f"  op {name:28s} steady median {median(xs):.3f} s  n={len(xs)}  cold {cold} s")
    allx = res.samples()
    log(f"op_p50_s {median(allx):.4f} s  op_tail_s {harness.tail(allx):.4f} s (p90 of "
        f"{len(allx)})  pass_s {median(res.passes):.4f} s (n={len(res.passes)})")
    if tracer is not None:
        traced["ref.duckdb_s"] = ctx.ref_s
        return fails, _with_units(traced, PER_LAYER)
    return fails, _with_units({
        "setup_s": setup_s,
        "pass_s": median(res.passes),
    }, END_TO_END)


def _with_units(values: dict, units: dict) -> dict:
    return {k: (values[k], units[k]) for k in units}


def trace_conf(dirs) -> tuple[str, dict[str, str]]:
    evlog = dirs.path("evlog")
    os.makedirs(evlog)
    return evlog, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": evlog,
    }


def trace_batch(args, dirs, tracer, sess, ops, ctx, fails, res):
    """Untraced half-window, then a traced set-up and the other half:
    the difference of their median passes is the tracing overhead.
    Returns a function that reads the metrics once the context, and
    with it the event log, is closed."""
    from perfbench import trace
    from perfbench.workloads import MR_OPS

    half = args.seconds / 2.0
    _steady(sess, ops, args, fails, res, ctx, half)
    untraced_pass = median(res.passes)
    evlog, conf = trace_conf(dirs)
    traced = BatchResult()
    tracer.active = True
    tracer.phase = "cold"
    start_s = _setup(sess, ops, args, fails, res, ctx, pass_no=-2, conf=conf)
    tracer.phase = "steady"
    p0 = 1000
    _steady(sess, ops, args, fails, traced, ctx, half, first_pass=p0)
    tracer.active = False
    cores = sess.spark.sparkContext.defaultParallelism
    walls = {
        f"{args.workload}/{name}/{p0 + i}": x
        for name, xs in traced.latencies.items()
        for i, x in enumerate(xs)
    }
    n = len(traced.passes)
    pass_s = median(traced.passes)
    mr_names = {name for name, _, _ in MR_OPS}
    nested_fill_check(tracer, fails, log)
    log(f"traced pass_s {pass_s:.3f} s, untraced pass_s {untraced_pass:.3f} s")
    res.latencies = traced.latencies
    res.passes = traced.passes

    def finish():
        out = {"session.start_s": start_s}
        out["registry.build_s"] = sum(traced.build_s) / n
        out["registry.build_share"] = out["registry.build_s"] / pass_s
        out.update(tracer.io_metrics("steady", n))
        out.update(trace.operator_metrics(evlog, walls, n, pass_s, cores, mr_names))
        out.update(tracer.cache_metrics())
        out.update(tracer.warehouse_metrics())
        out["mr.job_s"] = sum(
            x for name, xs in traced.latencies.items() if name in mr_names for x in xs
        ) / n
        out["trace.overhead_s"] = pass_s - untraced_pass
        log("not exercised by this workload, reported as 0: streaming.*")
        out.update({k: 0.0 for k in PER_LAYER if k.startswith("streaming.")})
        return out

    return finish


def nested_fill_check(tracer, fails, log) -> None:
    """Every chain of nested cache fills: the self times of its fills
    sum to no more than the outermost fill's inclusive time."""
    for root, chain in tracer.fill_chains():
        fails.attempted += 1
        self_sum = sum(s.self_s for s in chain)
        ok = self_sum <= root.dur + 1e-6
        log(f"  nested fills under {root.tag}: {len(chain)} fills, self sum "
            f"{self_sum:.3f} s <= inclusive {root.dur:.3f} s  {'OK' if ok else 'FAIL'}")
        if not ok:
            fails.record(f"nested fills under {root.tag}", AssertionError("self sum too large"))


PER_LAYER = {
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.build_share": "ratio",
    "io.load_calls": "count",
    "io.load_s": "s",
    "io.input_bytes": "bytes",
    "io.input_records": "count",
    "io.scan_tasks": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.driver_gap_s": "s",
    "operators.cpu_s": "s",
    "operators.run_s": "s",
    "operators.core_util": "ratio",
    "operators.gc_s": "s",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_records": "count",
    "operators.shuffle_per_input": "ratio",
    "operators.reduce_tasks": "count",
    "llm.python_s": "s",
    "llm.python_rows": "count",
    "session_cache.calls": "count",
    "session_cache.hits": "count",
    "session_cache.fills": "count",
    "session_cache.hit_ratio": "ratio",
    "session_cache.fill_incl_s": "s",
    "session_cache.fill_self_s": "s",
    "warehouse.ensure_calls": "count",
    "warehouse.builds": "count",
    "warehouse.adopts": "count",
    "warehouse.ensure_s": "s",
    "mr.job_s": "s",
    "mr.shuffle_bytes": "bytes",
    "mr.python_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.backlog_files": "count",
    "streaming.stager_late_s": "s",
    "streaming.drain_rows_per_s": "1/s",
    "ref.duckdb_s": "s",
    "trace.overhead_s": "s",
}

if __name__ == "__main__":
    sys.exit(main())
