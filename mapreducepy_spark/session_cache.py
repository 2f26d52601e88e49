"""Content-keyed reuse of derived artifacts: one fingerprint, one
in-session memo, one on-disk derived-fixture helper.

Several catalog keys share expensive intermediates — the dedup
funnel's shingle index / minhash signatures / LSH candidate pairs,
the text family's term counts and tf-idf table, the exact kNN table,
the corpus chunk broadcasts and the IVF quantizer. Paying those once
per (session, input) instead of once per consumer query is the whole
point: at 100 TB it is a corpus-sized explode or band self-join paid
once, not per query.

- ``fingerprint(path)`` is the content identity of a dataset path —
  a one-file table or every part-file of a directory table. It is the
  only place the engine reads ``(mtime_ns, size)``; the warehouse's
  table names (``warehouse.table_name``) hash it too.
- ``fixture_cached`` (a ``localCheckpoint``-ed DataFrame) and
  ``scalar_cached`` (any driver-side value: broadcast handles,
  ``None`` verdicts) share ONE bounded FIFO, ``_CACHE``,
  keyed by (applicationId, tag, source path, fingerprint). A new
  Spark session, a different fixture path or rewritten fixture bytes
  all mint fresh entries, so a cached value can never serve stale
  data for changed input. A source that cannot be stat-ed is computed
  but never cached (a content-free key could go stale). Eviction only
  dereferences: a returned plan may still reference an evicted
  checkpoint or broadcast, so blocks free once the last consumer
  drops. Every miss is recorded in the fill ledger.
- ``derived_fixture`` writes an on-disk file or directory derived
  from a source table (the JSONL/CSV/ORC/Avro twins, the hive and
  schema-evolution layouts) once per source content and writer
  module source, under a writable fixture root, atomically.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# One full-catalog session at one fixture directory holds 18 distinct
# entries (16 checkpointed tables, the corpus broadcasts, the IVF
# quantizer); the bound leaves headroom so running the catalog evicts
# nothing.
_CACHE: dict[tuple, object] = {}
_CACHE_MAX = 32

# Artifact-fill ledger (VERDICT r13 work order #2 — cold-run
# accounting): every cache MISS that builds an artifact appends
# {tag, sec} here, so bench.py can attribute each key's run-1
# (cold) minus min-of-3 (steady) gap to a NAMED artifact instead of
# leaving session-cache fills invisible behind the min().
_FILL_LOG: list[dict] = []

# engine-written fixtures live inside the repo (gitignored), never
# next to the (possibly read-only) source tables
_PACKAGE_FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".fixtures",
    "jsonl",
)


def fingerprint(path: str) -> tuple:
    """Content identity of a dataset path: ``(mtime_ns, size)`` for a
    file; for a directory, the sorted ``(relative path, mtime_ns,
    size)`` of every regular file under it, so rewriting any part-file
    in place changes it. Raises ``OSError`` when ``path`` cannot be
    stat-ed (missing, or not a local path)."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    parts = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            if stat.S_ISREG(st.st_mode):
                parts.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(parts))


def note_fill(tag: str, sec: float) -> None:
    """Record one artifact build (tag + seconds) in the fill ledger."""
    _FILL_LOG.append({"tag": tag, "sec": round(sec, 3)})


def fill_log() -> list[dict]:
    """The session's artifact-fill ledger (append-only; callers
    snapshot ``len()`` to window it)."""
    return _FILL_LOG


def _cached(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    tag: str,
    compute: Callable[[], object],
):
    """Get-or-compute behind both public entry points. Membership is
    tested with ``in``: ``None`` is a legitimate cached value."""
    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    try:
        key: tuple | None = (
            spark.sparkContext.applicationId, tag, src, fingerprint(src)
        )
    except OSError:
        key = None
    if key is not None and key in _CACHE:
        return _CACHE[key]
    t0 = time.perf_counter()
    out = compute()
    note_fill(tag, time.perf_counter() - t0)
    if key is not None:
        while len(_CACHE) >= _CACHE_MAX:
            _CACHE.pop(next(iter(_CACHE)))
        _CACHE[key] = out
    return out


def scalar_cached(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    tag: str,
    compute: Callable[[], object],
):
    """Run ``compute`` once per (session, ``{sf_dir}/{table}.parquet``
    content, ``tag``) and serve the returned object to every later
    caller. For driver-side values, such as broadcast handles (the
    corpus chunks, the IVF quantizer)."""
    return _cached(spark, sf_dir, table, tag, compute)


def fixture_cached(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    tag: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Run ``build`` once per (session, ``{sf_dir}/{table}.parquet``
    content, ``tag``), localCheckpoint the result, and serve the
    checkpointed table to every later caller."""
    return _cached(spark, sf_dir, table, tag, lambda: build().localCheckpoint())


def _fixture_root() -> str:
    """Writable fixture directory (ADVICE r6): the package-root
    ``.fixtures`` default fails on a read-only install (site-packages
    wheels), so honor ``MAPREDUCEPY_SPARK_FIXTURE_DIR`` first and fall
    back to a per-user tempdir when the package root is not writable.
    Every candidate is probed by actually creating it — ``os.access``
    lies on some mounts."""
    override = os.environ.get("MAPREDUCEPY_SPARK_FIXTURE_DIR")
    candidates = [override] if override else [_PACKAGE_FIXTURE_ROOT]
    if not override:
        import getpass
        import tempfile

        try:
            user = getpass.getuser()
        except OSError:  # no passwd entry (containers)
            user = str(os.getuid()) if hasattr(os, "getuid") else "anon"
        candidates.append(
            os.path.join(
                tempfile.gettempdir(), f"mapreducepy_spark-{user}", "jsonl"
            )
        )
    last_err: Exception | None = None
    for cand in candidates:
        try:
            os.makedirs(cand, exist_ok=True)
            return cand
        except OSError as exc:
            last_err = exc
    raise OSError(f"no writable fixture directory among {candidates!r}") from last_err


def derived_fixture(src: str, name: str, write: Callable[[str], None]) -> str:
    """Return the path of the fixture ``name`` derived from ``src``,
    calling ``write(tmp_path)`` to create it (a file or a directory)
    only when no copy for ``src``'s current content and this writer
    exists yet.

    The path is ``<fixture root>/<sha1(src, fingerprint(src), name,
    writer)>/<name>``, where ``writer`` is the sha1 of the source file
    that defines ``write``: rewriting the source in place, or editing
    the writer or a constant in its module, mints a fresh fixture
    instead of serving one written by the old code. Creation is
    atomic: ``write`` fills a tmp path unique to this process and
    thread (a pid-only suffix collides across threads, ADVICE r6)
    which is then renamed into place; the loser of a concurrent race,
    or a failed write, removes its tmp."""
    src = os.path.abspath(src)
    with open(write.__code__.co_filename, "rb") as fh:
        writer = hashlib.sha1(fh.read()).hexdigest()
    key = f"{src}\x00{fingerprint(src)!r}\x00{name}\x00{writer}"
    out = os.path.join(
        _fixture_root(), hashlib.sha1(key.encode()).hexdigest()[:16], name
    )
    if os.path.exists(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp.{os.getpid()}.{threading.get_ident()}.{uuid.uuid4().hex[:8]}"
    try:
        write(tmp)
        os.rename(tmp, out)
    except OSError:
        if not os.path.exists(out):  # a real failure, not a lost race
            raise
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(tmp):
            os.unlink(tmp)
    return out
