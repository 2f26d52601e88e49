"""The engine's Python worker daemon (``mapreducepy_spark.pyworker``):
which archives it drops from the worker path, that the workers of a
``get_spark`` session really run with the trimmed path, and that the
workers find the daemon from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from mapreducepy_spark.pyworker import trimmed_path

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


def _site(tmp_path, pyspark_version: str, py4j_version: str) -> str:
    """A directory holding unpacked ``pyspark`` and ``py4j`` packages."""
    site = tmp_path / "site"
    for pkg, version in (("pyspark", pyspark_version), ("py4j", py4j_version)):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(f"__version__ = '{version}'\n")
    return str(site)


def _spark_zips(tmp_path, name: str, pyspark_version: str, py4j_version: str):
    d = tmp_path / name
    d.mkdir()
    pyspark_zip = _zip(d / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__ = '{pyspark_version}'\n",
    })
    py4j_zip = _zip(d / "py4j-0.1-src.zip", {
        "py4j/__init__.py": "",
        "py4j/version.py": f"__version__ = '{py4j_version}'\n",
    })
    return pyspark_zip, py4j_zip


def test_trimmed_path_drops_module_free_and_duplicate_archives(tmp_path):
    site = _site(tmp_path, "4.1.2", "0.10.9.9")
    pyspark_zip, py4j_zip = _spark_zips(tmp_path, "same", "4.1.2", "0.10.9.9")
    jar = _zip(tmp_path / "core.jar", {"org/apache/Spark.class": "", "META-INF/MANIFEST.MF": ""})
    user = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": "X = 1\n"})
    missing = str(tmp_path / "gone.zip")
    path = [str(tmp_path), pyspark_zip, py4j_zip, jar, user, missing, site]
    assert trimmed_path(path) == [str(tmp_path), user, missing, site]


def test_trimmed_path_keeps_spark_archives_of_another_release(tmp_path):
    site = _site(tmp_path, "4.1.2", "0.10.9.9")
    pyspark_zip, py4j_zip = _spark_zips(tmp_path, "other", "4.1.1", "0.10.9.9")
    jar = _zip(tmp_path / "core.jar", {"org/apache/Spark.class": ""})
    path = [pyspark_zip, py4j_zip, jar, site]
    # pyspark differs, so both Spark archives stay; the jar still goes
    assert trimmed_path(path) == [pyspark_zip, py4j_zip, site]


def test_trimmed_path_keeps_spark_archives_without_unpacked_copy(tmp_path):
    pyspark_zip, py4j_zip = _spark_zips(tmp_path, "only", "4.1.2", "0.10.9.9")
    path = [pyspark_zip, py4j_zip, str(tmp_path)]
    assert trimmed_path(path) == path


def test_get_spark_workers_use_driver_pyspark_and_no_zipimporter(spark):
    import pyspark

    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield (pyspark.__file__, zips)

    got = spark.sparkContext.parallelize([0, 1], 2).mapPartitions(probe).collect()
    assert got == [(pyspark.__file__, [])] * 2


_MR_SCRIPT = f"""
import sys
sys.path.insert(0, {_ROOT!r})
from mapreducepy_spark import mr
from mapreducepy_spark.session import get_spark

spark = get_spark(app_name="pyworker-cwd-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")

def mapper(_, line):
    for w in line.split():
        yield (w, 1)

def reducer(w, counts):
    yield (w, sum(counts))

lines = [(None, "a b a"), (None, "b a c")]
out = dict(mr.run_job(spark, lines, mapper, reducer, num_partitions=2).collect())
spark.stop()
assert out == {{"a": 3, "b": 2, "c": 1}}, out
print("MR-OK")
"""


def test_mr_job_runs_from_outside_the_checkout(tmp_path):
    """Workers import the daemon module through the engine's entry on
    their ``PYTHONPATH``, not through the working directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _MR_SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "MR-OK" in proc.stdout, proc.stderr[-4000:]
