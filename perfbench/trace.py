"""Per-layer tracing, measured from outside the engine.

Two sources, both read after the traced passes end:

- spans recorded by wrappers around the engine's public functions
  (``io.load``/``io.load_spread``, the ``session_cache`` entry points
  and ``warehouse.ensure_table`` with its ``build`` callback). Spans
  stay in memory; a span's self time is its duration minus the time
  its child spans cover, so nested cache fills are not counted twice;
- Spark's own event log, with every op run under the job group
  ``<workload>/<op>/<pass>``.

The wrappers are installed before ``registry.load_catalog()`` imports
the operator modules, because several of them bind ``load``,
``fixture_cached`` or ``ensure_table`` by name at import time. They
record nothing until ``Tracer.active`` is set.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    phase: str = ""
    tag: str = ""
    fill: bool = False
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self):
        self.active = False
        self.phase = ""
        self.spans: list[Span] = []
        self._local = threading.local()

    # ---- spans ---------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, tag: str = "") -> int | None:
        if not self.active:
            return None
        stack = self._stack()
        self.spans.append(
            Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                 phase=self.phase, tag=tag)
        )
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.dur

    def wrap(self, fn, name: str, tag_arg: int | None = None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tag = str(args[tag_arg]) if tag_arg is not None and len(args) > tag_arg else ""
            idx = self.open(name, tag)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return wrapper

    def note_fill(self, tag: str, sec: float) -> None:
        """Mark the open cache call for ``tag`` as a fill. A cache that
        logs a fill outside ``fixture_cached``/``scalar_cached`` gets a
        finished child span of its own."""
        if not self.active:
            return
        stack = self._stack()
        top = self.spans[stack[-1]] if stack else None
        if top is not None and top.name == "session_cache.call" and top.tag == tag:
            top.fill = True
            return
        now = time.perf_counter()
        self.spans.append(
            Span("session_cache.call", now - sec, now,
                 parent=stack[-1] if stack else None, phase=self.phase,
                 tag=tag, fill=True)
        )
        if top is not None:
            top.child_s += sec

    # ---- engine wrappers ----------------------------------------
    def install(self) -> None:
        from mapreducepy_spark import io, session_cache, warehouse

        io.load = self.wrap(io.load, "io.load")
        io.load_spread = self.wrap(io.load_spread, "io.load_spread")
        session_cache.fixture_cached = self.wrap(
            session_cache.fixture_cached, "session_cache.call", tag_arg=3
        )
        session_cache.scalar_cached = self.wrap(
            session_cache.scalar_cached, "session_cache.call", tag_arg=3
        )
        note_fill = session_cache.note_fill

        @functools.wraps(note_fill)
        def traced_note_fill(tag, sec):
            note_fill(tag, sec)
            self.note_fill(tag, sec)

        session_cache.note_fill = traced_note_fill
        ensure = warehouse.ensure_table

        @functools.wraps(ensure)
        def traced_ensure(spark, name, wh, clustered_ddl, build, *args, **kwargs):
            if not self.active:
                return ensure(spark, name, wh, clustered_ddl, build, *args, **kwargs)
            registered = spark.catalog.tableExists(name)
            idx = self.open("warehouse.ensure", "reuse" if registered else "adopt")
            traced_build = self.wrap(build, "warehouse.build")

            def build_and_mark():
                if idx is not None:
                    self.spans[idx].tag = "build"
                return traced_build()

            try:
                return ensure(spark, name, wh, clustered_ddl, build_and_mark, *args, **kwargs)
            finally:
                self.close(idx)

        warehouse.ensure_table = traced_ensure

    # ---- span metrics -------------------------------------------
    def _closed(self, name: str, phase: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and s.end and (phase is None or s.phase == phase)
        ]

    def cache_metrics(self) -> dict[str, float]:
        calls = self._closed("session_cache.call")
        fills = [s for s in calls if s.fill]
        return {
            "session_cache.calls": len(calls),
            "session_cache.hits": len(calls) - len(fills),
            "session_cache.fills": len(fills),
            "session_cache.hit_ratio": (len(calls) - len(fills)) / len(calls) if calls else 0.0,
            "session_cache.fill_incl_s": sum(s.dur for s in fills),
            "session_cache.fill_self_s": sum(s.self_s for s in fills),
        }

    def fill_chains(self) -> list[tuple[Span, list[Span]]]:
        """(outermost fill, every fill in its subtree) for each fill
        that has fills nested inside it."""
        def fill_root(i: int) -> int | None:
            root = None
            while i is not None:
                if self.spans[i].name == "session_cache.call" and self.spans[i].fill:
                    root = i
                i = self.spans[i].parent
            return root

        chains: dict[int, list[Span]] = {}
        for i, s in enumerate(self.spans):
            if s.name == "session_cache.call" and s.fill and s.end:
                chains.setdefault(fill_root(i), []).append(s)
        return [(self.spans[r], c) for r, c in chains.items() if len(c) > 1]

    def warehouse_metrics(self) -> dict[str, float]:
        ens = self._closed("warehouse.ensure")
        return {
            "warehouse.ensure_calls": len(ens),
            "warehouse.builds": sum(s.tag == "build" for s in ens),
            "warehouse.adopts": sum(s.tag == "adopt" for s in ens),
            "warehouse.ensure_s": sum(s.dur for s in ens),
        }

    def io_metrics(self, phase: str, passes: int) -> dict[str, float]:
        loads = [s for s in self._closed("io.load", phase)]
        outer = [
            s for s in self.spans
            if s.name.startswith("io.") and s.end and s.phase == phase
            and (s.parent is None or not self.spans[s.parent].name.startswith("io."))
        ]
        return {
            "io.load_calls": len(loads) / passes,
            "io.load_s": sum(s.dur for s in outer) / passes,
        }


# ---- Spark event log ------------------------------------------------

_PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "PythonMapInArrow",
)


@dataclass
class Stage:
    job_group: str = ""
    sql_id: int | None = None
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    spill: int = 0
    in_bytes: int = 0
    in_records: int = 0
    sw_bytes: int = 0
    sw_records: int = 0
    sr_bytes: int = 0
    durations: list[float] = field(default_factory=list)
    accums: dict[int, float] = field(default_factory=dict)


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def read_event_log(directory: str):
    """Fold one event log into stages and job spans keyed by job group."""
    stages: dict[int, Stage] = {}
    jobs: dict[int, dict] = {}
    plans: dict[int, dict] = {}
    files = [
        f for f in glob.glob(f"{directory}/**/*", recursive=True)
        if os.path.isfile(f) and not f.endswith(".crc")
    ]
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    sql = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = {
                        "group": group, "start": ev["Submission Time"], "end": None
                    }
                    for sid in ev.get("Stage IDs", []):
                        st = stages.setdefault(sid, Stage())
                        if not st.job_group:
                            st.job_group = group
                            st.sql_id = int(sql) if sql not in (None, "") else None
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st.tasks += 1
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill += m.get("Disk Bytes Spilled", 0)
                    inp = m.get("Input Metrics") or {}
                    st.in_bytes += inp.get("Bytes Read", 0)
                    st.in_records += inp.get("Records Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.sw_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.sw_records += sw.get("Shuffle Records Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.sr_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.durations.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage())
                    for acc in info.get("Accumulables", []):
                        try:
                            st.accums[int(acc["ID"])] = float(acc["Value"])
                        except (KeyError, TypeError, ValueError):
                            pass
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plans[ev["executionId"]] = ev["sparkPlanInfo"]
    return stages, jobs, plans


def _python_rows_accums(plan: dict) -> set[int]:
    ids = set()
    for node in _walk(plan):
        if any(node.get("nodeName", "").startswith(p) for p in _PYTHON_NODES):
            for metric in node.get("metrics", []):
                if metric.get("name") == "number of output rows":
                    ids.add(int(metric["accumulatorId"]))
    return ids


def _op_of(group: str) -> str:
    """The op of a ``<workload>/<op>/<pass>`` job group, else ''."""
    parts = group.split("/")
    return parts[1] if len(parts) == 3 else ""


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def operator_metrics(
    directory: str,
    op_walls: dict[str, float],
    passes: int,
    pass_s: float,
    cores: int,
    mr_ops: set[str],
) -> dict[str, float]:
    """Per-pass operator, scan, Arrow/Python and MR numbers for the
    steady (pass >= 0) job groups in ``op_walls``."""
    stages, jobs, plans = read_event_log(directory)
    steady = set(op_walls)
    sel = {sid: st for sid, st in stages.items() if st.job_group in steady and st.tasks}
    job_spans: dict[str, list[tuple[float, float]]] = {}
    n_jobs = 0
    for job in jobs.values():
        if job["group"] in steady and job["end"] is not None:
            n_jobs += 1
            job_spans.setdefault(job["group"], []).append((job["start"], job["end"]))
    busy_s = sum(_union_ms(v) for v in job_spans.values()) / 1000.0
    skews = sorted(
        max(st.durations) / max(1.0, statistics.median(st.durations))
        for st in sel.values()
        if len(st.durations) >= 2
    )
    in_bytes = sum(st.in_bytes for st in sel.values())
    sw_bytes = sum(st.sw_bytes for st in sel.values())
    py_sql = {eid for eid, plan in plans.items() if _python_rows_accums(plan)}
    py_accums = set().union(*(_python_rows_accums(plans[e]) for e in py_sql)) if py_sql else set()
    py_stages = [st for st in sel.values() if st.sql_id in py_sql]
    mr_stages = [st for st in sel.values() if _op_of(st.job_group) in mr_ops]
    cpu_s = sum(st.cpu_ms for st in sel.values()) / 1000.0
    per = 1.0 / passes
    return {
        "io.input_bytes": in_bytes * per,
        "io.input_records": sum(st.in_records for st in sel.values()) * per,
        "io.scan_tasks": sum(st.tasks for st in sel.values() if st.in_bytes) * per,
        "operators.exec_s": busy_s * per,
        "operators.jobs": n_jobs * per,
        "operators.stages": len(sel) * per,
        "operators.tasks": sum(st.tasks for st in sel.values()) * per,
        "operators.driver_gap_s": (sum(op_walls.values()) - busy_s) * per,
        "operators.cpu_s": cpu_s * per,
        "operators.run_s": sum(st.run_ms for st in sel.values()) / 1000.0 * per,
        "operators.core_util": cpu_s * per / (pass_s * cores) if pass_s else 0.0,
        "operators.gc_s": sum(st.gc_ms for st in sel.values()) / 1000.0 * per,
        "operators.spill_bytes": sum(st.spill for st in sel.values()) * per,
        "operators.task_skew": skews[int(0.9 * (len(skews) - 1))] if skews else 0.0,
        "operators.shuffle_write_bytes": sw_bytes * per,
        "operators.shuffle_read_bytes": sum(st.sr_bytes for st in sel.values()) * per,
        "operators.shuffle_records": sum(st.sw_records for st in sel.values()) * per,
        "operators.shuffle_per_input": sw_bytes / in_bytes if in_bytes else 0.0,
        "operators.reduce_tasks": sum(st.tasks for st in sel.values() if st.sr_bytes) * per,
        "llm.python_s": sum(st.run_ms - st.cpu_ms for st in py_stages) / 1000.0 * per,
        "llm.python_rows": sum(
            v for st in py_stages for k, v in st.accums.items() if k in py_accums
        ) * per,
        "mr.shuffle_bytes": sum(st.sw_bytes for st in mr_stages) * per,
        "mr.python_s": sum(st.run_ms - st.cpu_ms for st in mr_stages) / 1000.0 * per,
    }
