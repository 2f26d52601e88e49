"""Timing core shared by every workload: isolated run directories,
fresh Spark contexts, closed-loop passes, failure counting and the
summary statistics.

A run is one process. Its set-up is a Spark context over new, empty
warehouse and fixture directories, the warm-up and one cold pass over
every op, timed from process start with input generation excluded
(``setup_s``). The cold pass collects each op's rows, and those rows
are checked after the timed window, so no check sits inside a timed
window. The run then loops steady passes for the requested seconds,
finishing the pass in progress.
"""

from __future__ import annotations

import os
import random
import shutil
import signal
import statistics
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

OP_TIMEOUT_S = 60.0


@dataclass
class Op:
    """One unit of work. ``run`` is the timed steady execution;
    ``collect`` is the cold execution, returning the op's rows;
    ``verify(rows, spark, ctx)`` runs after the timed window and raises
    ``AssertionError`` on a wrong result."""

    name: str
    run: Callable
    collect: Callable
    verify: Callable


@dataclass
class Failures:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        line = traceback.format_exception_only(type(exc), exc)[-1].strip()
        self.notes.append(f"{what}: {line[:300]}")


class RunDirs:
    """Every path a run writes, under one directory of the checkout."""

    def __init__(self, root: str, tag: str):
        self.base = os.path.join(root, ".perfbench_work", tag)
        shutil.rmtree(self.base, ignore_errors=True)
        for sub in ("data", "local", "cwd", "tmp", "stream"):
            os.makedirs(os.path.join(self.base, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        parent = os.path.dirname(self.base)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def tail(samples: list[float]) -> float:
    """The 90th percentile of ``samples`` (interpolated)."""
    if len(samples) < 2:
        return samples[0] if samples else float("nan")
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class Session:
    """Owns the Spark context of a run and restarts it per set-up."""

    def __init__(self, dirs: RunDirs):
        self.dirs = dirs
        self.spark = None
        self.n = 0
        self.warehouse_started_empty = True

    def start(self, conf: dict[str, str] | None = None):
        """Stop the current context and start a fresh one over new,
        empty warehouse and fixture directories."""
        from mapreducepy_spark.session import get_spark

        self.stop()
        wh = self.dirs.path(f"warehouse{self.n}")
        fx = self.dirs.path(f"fixtures{self.n}")
        self.warehouse_started_empty &= not os.path.exists(wh) or not os.listdir(wh)
        os.environ["MAPREDUCEPY_SPARK_FIXTURE_DIR"] = fx
        self.n += 1
        tmp = self.dirs.path("tmp")
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": wh,
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                **(conf or {}),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_up(self, data_dir: str) -> None:
        """The warm-up ``bench.py`` does: one scan and one Arrow batch."""
        from mapreducepy_spark.io import load

        load(self.spark, data_dir, "lineitem").count()
        self.spark.range(32).mapInPandas(lambda it: it, "id long").count()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _descendants(pid: int) -> list[int]:
    """Every live process under ``pid``, read from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _become_subreaper() -> None:
    """Have orphaned descendants (the Python workers of an exited JVM)
    re-parented to this process, so that it can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and every process
    under it (the Python worker daemon and its workers), and wait until
    each has ended and been reaped. Safe to call when none was started."""
    from pyspark import SparkContext

    _become_subreaper()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    # Every descendant is now a child of this process or under one, so
    # having no child left means every process started here has ended.
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for child in _descendants(os.getpid()):
                try:
                    os.kill(child, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        elif killed and time.monotonic() > deadline + 10.0:
            break
        time.sleep(0.02)


def timed_call(spark, group: str, fn: Callable, *args) -> tuple[float, object]:
    """Run ``fn(*args)`` under job group ``group`` and return (seconds,
    its result); cancel the group and raise ``TimeoutError`` past
    ``OP_TIMEOUT_S``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    expired = threading.Event()

    def cancel():
        expired.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(OP_TIMEOUT_S, cancel)
    timer.start()
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    except Exception:
        if expired.is_set():
            raise TimeoutError(f"over {OP_TIMEOUT_S:.0f} s") from None
        raise
    finally:
        timer.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t0, out


def order(ops: list[Op], seed: int, pass_no: int) -> list[Op]:
    out = list(ops)
    random.Random(seed * 1_000_003 + pass_no).shuffle(out)
    return out


@dataclass
class BatchResult:
    passes: list[float] = field(default_factory=list)
    latencies: dict[str, list[float]] = field(default_factory=dict)
    cold: dict[str, list[float]] = field(default_factory=dict)
    build_s: list[float] = field(default_factory=list)
    outputs: list[tuple[str, int, object]] = field(default_factory=list)

    def samples(self) -> list[float]:
        return [x for xs in self.latencies.values() for x in xs]


def run_pass(spark, ops, seed, pass_no, label, fails, result, ctx, cold=False):
    """One closed-loop pass over ``ops`` in seeded order; returns its
    wall time. A steady pass records each op's latency; a cold pass
    keeps each op's rows for the checks. An op that raises or times out
    is counted as failed and the pass goes on."""
    t0 = time.perf_counter()
    for op in order(ops, seed, pass_no):
        fails.attempted += 1
        fn = op.collect if cold else op.run
        try:
            sec, out = timed_call(spark, f"{label}/{op.name}/{pass_no}", fn, spark, ctx)
        except Exception as exc:  # noqa: BLE001 - a failing op is counted, not fatal
            fails.record(f"{op.name} (pass {pass_no})", exc)
            continue
        if cold:
            result.outputs.append((op.name, pass_no, out))
            result.cold.setdefault(op.name, []).append(sec)
        else:
            result.latencies.setdefault(op.name, []).append(sec)
            result.build_s.append(out or 0.0)
    return time.perf_counter() - t0


def verify_outputs(spark, ops, result, ctx, fails, log) -> None:
    """Check every collected output; a wrong result fails its op."""
    by_name = {op.name: op for op in ops}
    for name, pass_no, rows in result.outputs:
        try:
            by_name[name].verify(rows, spark, ctx)
        except Exception as exc:  # noqa: BLE001 - a mismatch is counted, not fatal
            fails.record(f"{name} (pass {pass_no}) wrong result", exc)
            log(f"  check {name:28s} pass {pass_no:3d} FAIL")
            continue
        log(f"  check {name:28s} pass {pass_no:3d} MATCH")


def median(xs):
    return statistics.median(xs) if xs else float("nan")
