"""The open-loop streaming workload.

A stager thread lands one "tick" every ``PERIOD_S`` seconds on a fixed
schedule that does not slow when the engine does: the next slice of
``events`` (parquet) and of the documents as JSONL lines (every 20th
line truncated, so the quarantine has work). Four streaming queries
consume the landing directories concurrently with the default trigger:

- JSONL quarantine census (complete mode),
- watermarked 10-minute tumbling counts,
- the watermark dedup monitor,
- the absence monitor (``applyInPandasWithState`` with an event-time
  timeout).

The set-up, timed from process start, is a fresh context, the warm-up,
and every query started from an empty checkpoint and through its first
micro-batch over tick 0. The open-loop window follows: an op is one
query consuming one landed file, and its latency runs from the file's
scheduled landing to the end of the micro-batch that consumed it. Then
``DRAINS`` times a backlog of ``DRAIN_TICKS`` ticks lands at once and
is drained as fast as possible; the drain's wall time is this
workload's ``pass_s``. Outputs go to memory sinks and are checked after
the window against batch twins computed over the files each query
consumed.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from . import harness
from .harness import Failures, median

PERIOD_S = 4.0
N_TICKS = 48
DRAIN_TICKS = 4
DRAINS = 4
# One state-store partition per core. At the engine's default of 32,
# every micro-batch commits 32 partitions per stateful operator and
# one run of this workload takes about 150 s on 4 cores.
STREAM_CONF = {"spark.sql.shuffle.partitions": str(os.cpu_count() or 4)}
THRESHOLD_MIN = 360
_FILE_RE = re.compile(r"part-(\d+)\.")


class Stager(threading.Thread):
    """Lands tick ``i`` at ``t0 + i * PERIOD_S`` (epoch seconds)."""

    def __init__(self, src: str, land: dict[str, str], t0: float, first: int, last: int):
        super().__init__(daemon=True)
        self.src, self.land, self.t0 = src, land, t0
        self.first, self.last = first, last
        self.late: list[float] = []

    def run(self) -> None:
        for i in range(self.first, self.last):
            time.sleep(max(0.0, self.t0 + i * PERIOD_S - time.time()))
            land_tick(self.src, self.land, i)
            self.late.append(max(0.0, time.time() - (self.t0 + i * PERIOD_S)))


def split_inputs(data: str, src: str, seed: int) -> None:
    """Cut events into ``N_TICKS`` consecutive time slices and the
    documents into as many JSONL files. The seed orders the rows inside
    each events file and assigns documents to ticks."""
    rng = np.random.default_rng(seed)
    ev = pq.read_table(f"{data}/events.parquet")
    docs = pq.read_table(f"{data}/documents.parquet")
    docs = docs.take(rng.permutation(docs.num_rows))
    for kind in ("events", "jsonl"):
        os.makedirs(f"{src}/{kind}")
    for i in range(N_TICKS):
        lo, hi = i * ev.num_rows // N_TICKS, (i + 1) * ev.num_rows // N_TICKS
        part = ev.slice(lo, hi - lo)
        pq.write_table(part.take(rng.permutation(part.num_rows)), f"{src}/events/part-{i:04d}.parquet")
        dlo, dhi = i * docs.num_rows // N_TICKS, (i + 1) * docs.num_rows // N_TICKS
        part = docs.slice(dlo, dhi - dlo)
        with open(f"{src}/jsonl/part-{i:04d}.jsonl", "w") as fh:
            for row in part.select(["doc_id", "lang", "source", "n_chars"]).to_pylist():
                line = json.dumps(row, separators=(",", ":"))
                fh.write((line[:-5] if row["doc_id"] % 20 == 0 else line) + "\n")


def land_tick(src: str, land: dict[str, str], *ticks: int) -> None:
    """Copy each tick's files under hidden names, then make them all
    visible at once."""
    names = [
        (dst, os.path.basename(glob.glob(f"{src}/{kind}/part-{i:04d}.*")[0]))
        for i in ticks
        for kind, dst in land.items()
    ]
    for dst, name in names:
        kind = next(k for k, d in land.items() if d == dst)
        shutil.copy(f"{src}/{kind}/{name}", f"{dst}/.{name}")
    for dst, name in names:
        os.rename(f"{dst}/.{name}", f"{dst}/{name}")


def tick_rows(src: str, ticks) -> int:
    """Input rows in the given ticks, over every landed file."""
    rows = 0
    for i in ticks:
        rows += pq.ParquetFile(f"{src}/events/part-{i:04d}.parquet").metadata.num_rows
        with open(f"{src}/jsonl/part-{i:04d}.jsonl") as fh:
            rows += sum(1 for _ in fh)
    return rows


class Queries:
    """The four streaming queries over one set of landing directories."""

    def __init__(self, spark, base: str, data: str, suffix: str):
        from mapreducepy_spark.sources.jsonl import _JSONL_DOC_SCHEMA
        from mapreducepy_spark.streaming import ingest as si
        from mapreducepy_spark.streaming import windows as sw

        self.spark, self.base, self.suffix = spark, base, suffix
        self.land = {k: f"{base}/land_{k}" for k in ("events", "jsonl")}
        for d in self.land.values():
            os.makedirs(d)
        ev_dir = self.land["events"]

        def events():
            schema = spark.read.parquet(f"{data}/events.parquet").schema
            return spark.readStream.schema(schema).parquet(ev_dir)

        self.plans = {
            "census": (
                si.quarantine_census(
                    si.read_jsonl_stream(spark, self.land["jsonl"], _JSONL_DOC_SCHEMA)
                ),
                "complete",
            ),
            "tumbling": (sw.tumbling_counts(sw.with_watermark(events())), "append"),
            "dedup": (sw.dedup_events(events()), "append"),
            "absence": (
                sw.silent_user_alerts(events(), threshold_min=THRESHOLD_MIN, watermark="1 hour"),
                "append",
            ),
        }
        self.running: dict = {}
        self.progress: dict[str, list[dict]] = {}

    def ckpt(self, name: str) -> str:
        return f"{self.base}/ckpt_{name}"

    def start(self) -> None:
        for name, (df, mode) in self.plans.items():
            self.running[name] = (
                df.writeStream.format("memory")
                .queryName(f"{name}_{self.suffix}")
                .outputMode(mode)
                .option("checkpointLocation", self.ckpt(name))
                .start()
            )

    def consumed(self, name: str) -> dict[int, int]:
        """tick -> id of the query batch that consumed it. The source
        log gives each file's source batch; the offset log gives the
        source offset each query batch read up to (no-data batches add
        query batches but no source batch)."""
        ckpt = self.ckpt(name)
        by_source: dict[int, int] = {}
        for path in glob.glob(f"{ckpt}/sources/0/*"):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        m = _FILE_RE.search(os.path.basename(entry["path"]))
                        if m:
                            by_source[int(m.group(1))] = entry["batchId"]
        offsets = []
        for path in glob.glob(f"{ckpt}/offsets/*"):
            if os.path.basename(path).isdigit():
                with open(path) as fh:
                    lines = fh.read().splitlines()
                offsets.append((json.loads(lines[2])["logOffset"], int(os.path.basename(path))))
        offsets.sort()
        out = {}
        for tick, src_batch in by_source.items():
            batch = next((b for off, b in offsets if off >= src_batch), None)
            if batch is not None:
                out[tick] = batch
        return out

    def settle(self, fails: Failures) -> None:
        """Block until every query has processed all landed files; a
        query that fails is counted and dropped."""
        for name, q in list(self.running.items()):
            try:
                q.processAllAvailable()
            except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
                fails.attempted += 1
                fails.record(f"query {name}", exc)
                self.progress[name] = [json.loads(p.json) for p in q.recentProgress]
                del self.running[name]

    def stop(self) -> dict[str, list[dict]]:
        for name, q in self.running.items():
            self.progress[name] = [json.loads(p.json) for p in q.recentProgress]
            q.stop()
        self.running = {}
        return self.progress


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def latencies(qs: Queries, t0: float, ticks) -> dict[str, dict[int, float]]:
    """query -> tick -> seconds from scheduled landing (``t0 + tick *
    PERIOD_S``, epoch seconds) to the end of the consuming batch."""
    out: dict[str, dict[int, float]] = {}
    for name in qs.running:
        q = qs.running[name]
        ends = {
            p.batchId: _epoch(p.timestamp) + p.durationMs["triggerExecution"] / 1000.0
            for p in q.recentProgress
        }
        out[name] = {
            tick: ends[b] - (t0 + tick * PERIOD_S)
            for tick, b in qs.consumed(name).items()
            if tick in ticks and b in ends
        }
    return out


def layer_metrics(progress, stager: Stager, backlog: int) -> dict[str, float]:
    data = [p for plist in progress.values() for p in plist if p.get("numInputRows")]

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in data]) if data else 0.0

    last_state = {}
    for name, plist in progress.items():
        for p in plist:
            if p.get("stateOperators"):
                last_state[name] = p["stateOperators"]
    commit = [sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])) for p in data]
    return {
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_rows": sum(
            op.get("numRowsTotal", 0) for ops in last_state.values() for op in ops
        ),
        "streaming.state_memory_bytes": sum(
            op.get("memoryUsedBytes", 0) for ops in last_state.values() for op in ops
        ),
        "streaming.state_commit_ms": median(commit) if commit else 0.0,
        "streaming.rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in data for op in p.get("stateOperators", [])
        ),
        "streaming.backlog_files": backlog,
        "streaming.stager_late_s": max(stager.late) if stager.late else 0.0,
    }


# ---- checks against batch twins --------------------------------------


def check_outputs(spark, qs: Queries, fails: Failures, log) -> None:
    """Compare each memory sink with the batch twin over the files that
    query consumed. Append-mode sinks hold only closed results, so each
    emitted row must equal the twin's row; complete mode must match in
    full."""
    from tests.parity_util import canon_frame

    from mapreducepy_spark.sources.jsonl import (
        _JSONL_DOC_SCHEMA,
        CORRUPT_COL,
        quarantine_census,
        schema_with_corrupt,
    )
    from mapreducepy_spark.streaming import windows as sw

    def files(kind, name):
        ticks = sorted(qs.consumed(name))
        ext = "jsonl" if kind == "jsonl" else "parquet"
        return [f"{qs.land[kind]}/part-{t:04d}.{ext}" for t in ticks]

    def events(name):
        return spark.read.parquet(*files("events", name))

    def sink(name):
        return spark.sql(f"SELECT * FROM {name}_{qs.suffix}").toPandas()

    def subset(got, want, name):
        assert len(got) > 0, f"{name}: no rows emitted"
        have = set(canon_frame(want))
        missing = [r for r in canon_frame(got) if r not in have]
        assert not missing, f"{name}: {len(missing)} emitted rows not in the batch twin"

    def census():
        raw = (
            spark.read.schema(schema_with_corrupt(_JSONL_DOC_SCHEMA))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .json(files("jsonl", "census"))
        )
        want = quarantine_census(raw).toPandas()
        assert canon_frame(sink("census")) == canon_frame(want), "census differs"

    def tumbling():
        subset(sink("tumbling"), sw.tumbling_counts(events("tumbling")).toPandas(), "tumbling")

    def dedup():
        got = sink("dedup")
        want = events("dedup").select("event_id").distinct().count()
        assert got["event_id"].is_unique and len(got) == want, "dedup differs"

    def absence():
        got = sink("absence")
        assert len(got) > 0, "absence: no alerts"
        ev = events("absence").select("user_id", "ts").toPandas()
        by_user = ev.groupby("user_id")["ts"]
        horizon = dt.timedelta(minutes=THRESHOLD_MIN)
        for user, last in zip(got["user_id"], got["last_seen"]):
            ts = by_user.get_group(user)
            assert (ts == last).any(), f"absence: {user} never seen at {last}"
            assert not ((ts > last) & (ts <= last + horizon)).any(), (
                f"absence: user {user} was active within {THRESHOLD_MIN} min of {last}"
            )

    for name, fn in (
        ("census", census), ("tumbling", tumbling), ("dedup", dedup), ("absence", absence),
    ):
        try:
            fn()
            log(f"  check {name:28s} MATCH")
        except Exception as exc:  # noqa: BLE001 - a mismatch is counted, not fatal
            fails.record(f"check {name}", exc)
            log(f"  check {name:28s} FAIL")


# ---- the run ------------------------------------------------------------


class Streams:
    """The run's state across set-ups, the open-loop window and the
    drains."""

    def __init__(self, dirs, tracer, log):
        self.tracer, self.log = tracer, log
        self.data = dirs.path("data")
        self.src = dirs.path("stream", "src")
        self.sess = harness.Session(dirs)
        self.fails = Failures()
        self.drains: list[float] = []
        self.drain_rows = 0
        self.samples: list[float] = []
        self.qs: Queries | None = None

    def setup(self, tag: str, conf=None) -> None:
        """Fresh context, warm-up, every query started and through its
        first (cold) micro-batch over tick 0."""
        t0 = time.perf_counter()
        if self.qs is not None:
            self.qs.stop()
        spark = self.sess.start({**STREAM_CONF, **(conf or {})})
        self.sess.warm_up(self.data)
        self.start_s = time.perf_counter() - t0
        self.qs = Queries(spark, self.sess.dirs.path("stream", tag), self.data, tag)
        land_tick(self.src, self.qs.land, 0)
        self.qs.start()
        self.qs.settle(self.fails)

    def window(self, seconds: float) -> Stager:
        """Land ticks on schedule for ``seconds``, then let every query
        finish the last one; record each (query, tick) latency."""
        qs = self.qs
        n = max(2, int(seconds / PERIOD_S))
        t0 = time.time() + 0.1 - PERIOD_S  # tick 1 lands in 0.1 s
        stager = Stager(self.src, qs.land, t0, 1, 1 + n)
        stager.start()
        stager.join()
        self.backlog = max(1 + n - len(qs.consumed(name)) for name in qs.running)
        qs.settle(self.fails)
        lat = latencies(qs, t0, range(1, 1 + n))
        for name in qs.running:
            self.fails.attempted += n
            missing = n - len(lat[name])
            if missing:
                self.fails.failed += missing
                self.fails.notes.append(f"query {name}: {missing} of {n} ticks never consumed")
            self.samples.extend(lat[name].values())
            self.log(f"  query {name:24s} median latency {median(list(lat[name].values())):.3f} s")
        done = [max(lat[q][t] for q in lat if t in lat[q]) for t in range(1, 1 + n)]
        self.log(f"tick_done_p50_s {median(done):.4f} s  ticks {[round(x, 2) for x in done]}")
        late = max(stager.late) if stager.late else 0.0
        self.log(f"ticks 1..{n} landed every {PERIOD_S} s, stager late by at most {late:.3f} s")
        self.next_tick = 1 + n
        return stager

    def drain(self) -> None:
        """Land ``DRAIN_TICKS`` ticks at once and time their drain."""
        ticks = range(self.next_tick, self.next_tick + DRAIN_TICKS)
        self.next_tick += DRAIN_TICKS
        t0 = time.perf_counter()
        land_tick(self.src, self.qs.land, *ticks)
        self.qs.settle(self.fails)
        self.drains.append(time.perf_counter() - t0)
        self.drain_rows = tick_rows(self.src, ticks)
        self.fails.attempted += len(self.qs.running) * DRAIN_TICKS

    def phase(self, seconds: float) -> Stager:
        """The open-loop window, then the drains."""
        stager = self.window(seconds)
        for _ in range(DRAINS):
            self.drain()
        return stager


def run(args, dirs, tracer, log, gen_s):
    split_inputs(dirs.path("data"), dirs.path("stream", "src"), args.seed)
    st = Streams(dirs, tracer, log)
    from perfbench.run import T_START

    try:
        st.setup("s0")
        setup_s = time.perf_counter() - T_START - gen_s
        if tracer is None:
            st.phase(args.seconds / 2.0)
            log(f"peak_rss_mb {harness.peak_rss_mb(st.sess.spark):.1f} MB")
            out = None
        else:
            out = _trace(st, args.seconds / 4.0)
        st.qs.stop()
        check_outputs(st.sess.spark, st.qs, st.fails, log)
    finally:
        if st.qs is not None:
            st.qs.stop()
        st.sess.stop()
    if out is not None:
        out = out()
    log(f"setup_s {setup_s:.3f} s (process start to end of the first micro-batches, gen_s excluded)")
    log(f"warehouse_started_empty {st.sess.warehouse_started_empty}")
    p50 = median(st.samples)
    drain_s = median(st.drains)
    log(f"batch_latency_p50_s {p50:.4f} s  batch_latency_tail_s "
        f"{harness.tail(st.samples):.4f} s (p90 of {len(st.samples)})")
    log(f"drain_rows_per_s {st.drain_rows / drain_s:.1f} 1/s  "
        f"(drain of {DRAIN_TICKS} ticks, {st.drain_rows} rows: {drain_s:.3f} s)")
    if out is not None:
        return st.fails, out
    from perfbench.run import END_TO_END, _with_units

    return st.fails, _with_units({
        "setup_s": setup_s,
        "pass_s": drain_s,
    }, END_TO_END)


def _trace(st: Streams, seconds: float):
    """An untraced window and drains, then a traced set-up, window and
    drains: StreamingQueryProgress per batch, spans from the engine
    wrappers, and the Spark event log keyed by each query's run id.
    Returns a function that reads the metrics once the context, and
    with it the event log, is closed."""
    from perfbench import run as runner
    from perfbench import trace

    st.phase(seconds)
    untraced_pass = median(st.drains)
    evlog, conf = runner.trace_conf(st.sess.dirs)
    tracer = st.tracer
    tracer.active = True
    tracer.phase = "cold"
    st.drains, st.samples = [], []
    st.setup("traced", conf=conf)
    start_s = st.start_s
    tracer.phase = "steady"
    t0 = time.perf_counter()
    stager = st.phase(seconds)
    wall = time.perf_counter() - t0
    tracer.active = False
    cores = st.sess.spark.sparkContext.defaultParallelism
    progress = {n: [json.loads(p.json) for p in q.recentProgress] for n, q in st.qs.running.items()}
    groups = {
        str(q.runId): sum(
            p["durationMs"].get("triggerExecution", 0) / 1000.0
            for p in progress[n]
        )
        for n, q in st.qs.running.items()
    }
    pass_s = median(st.drains)

    def finish():
        out = {k: 0.0 for k in runner.PER_LAYER}
        out["session.start_s"] = start_s
        out.update(tracer.io_metrics("steady", 1))
        out.update(trace.operator_metrics(evlog, groups, 1, wall, cores, set()))
        out.update(tracer.cache_metrics())
        out.update(tracer.warehouse_metrics())
        out.update(layer_metrics(progress, stager, st.backlog))
        out["streaming.drain_rows_per_s"] = st.drain_rows / pass_s
        out["trace.overhead_s"] = pass_s - untraced_pass
        st.log("not exercised by this workload, reported as 0: registry.*, mr.*, ref.duckdb_s")
        st.log(f"traced drain {pass_s:.3f} s, untraced drain {untraced_pass:.3f} s")
        return runner._with_units(out, runner.PER_LAYER)

    return finish
