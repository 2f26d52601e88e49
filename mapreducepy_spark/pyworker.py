"""Python worker daemon: ``pyspark.daemon`` behind a shorter ``sys.path``.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module. Spark starts it as ``python -m mapreducepy_spark.pyworker
<worker module>``; it trims ``sys.path`` and then runs
``pyspark.daemon`` as ``__main__`` with the arguments unchanged, so
every worker the daemon forks inherits the trimmed path.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``), and on
CPython 3.10+ that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's directory. Spark puts
three archives first on the worker path: ``pyspark.zip`` (1328
entries), the py4j zip and the ``spark-core`` jar (5359 entries, no
Python). Re-reading them cost about 200 ms per task on a 4-core VM,
before any user code ran. Two kinds of archive are removed:

- archives that hold no Python module, which no import can use;
- Spark's ``pyspark.zip`` and ``py4j-*.zip`` when the interpreter also
  has unpacked copies of the same release (``version.py`` byte-equal
  for both packages); if either differs, both archives stay.

Everything else, including a user's ``.zip`` of Python files, stays
where Spark put it. This module must not import pyspark before the
path is trimmed: the import would load it from the archive.
"""

from __future__ import annotations

import fnmatch
import os
import runpy
import sys
import zipfile

# Spark's own archives, by file name, and the package each one carries.
_SPARK_ARCHIVES = (("pyspark.zip", "pyspark"), ("py4j-*.zip", "py4j"))


def _members(path: str) -> list[str] | None:
    """The member names of a zip archive, or None if ``path`` is not one."""
    if not os.path.isfile(path):
        return None
    try:
        with zipfile.ZipFile(path) as zf:
            return zf.namelist()
    except (OSError, zipfile.BadZipFile):
        return None


def _packed_version(archive: str, pkg: str) -> bytes | None:
    with zipfile.ZipFile(archive) as zf:
        try:
            return zf.read(f"{pkg}/version.py")
        except KeyError:
            return None


def _unpacked_version(pkg: str, entries: list[str], members: dict) -> bytes | None:
    """``<pkg>/version.py`` of the copy of ``pkg`` that an import finds
    on ``entries``, if that copy is an unpacked directory."""
    for entry in entries:
        if os.path.isfile(os.path.join(entry, pkg, "__init__.py")):
            try:
                with open(os.path.join(entry, pkg, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
        if f"{pkg}/__init__.py" in (members[entry] or ()):
            return None
    return None


def trimmed_path(path: list[str]) -> list[str]:
    """``path`` without the archives that cost per-task time and that no
    import needs (see the module docstring)."""
    members = {entry: _members(entry) for entry in path}
    archives = [e for e in path if members[e] is not None]
    drop = {
        e for e in archives
        if not any(n.endswith((".py", ".pyc")) for n in members[e])
    }
    spark = {
        e: pkg for e in archives for pattern, pkg in _SPARK_ARCHIVES
        if fnmatch.fnmatch(os.path.basename(e), pattern)
    }
    rest = [e for e in path if e not in spark]
    if all(
        (v := _packed_version(e, pkg)) is not None
        and v == _unpacked_version(pkg, rest, members)
        for e, pkg in spark.items()
    ):
        drop.update(spark)
    return [e for e in path if e not in drop]


def trim_sys_path() -> None:
    """Apply ``trimmed_path`` to ``sys.path`` and forget the importers of
    the removed archives, which ``importlib.invalidate_caches`` would
    otherwise keep re-reading."""
    kept = trimmed_path(sys.path)
    gone = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == g or key.startswith(g + os.sep) for g in gone):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    trim_sys_path()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
