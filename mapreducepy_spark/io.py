"""Table loading over the driver's parquet fixtures (TESTDATA.md).

One parquet file (or directory of part-files) per table at
``{sf_dir}/{name}.parquet``. Loading is a plain ``spark.read.parquet``
(with the schema memoized per session and content, so repeat loads
skip the inference job) so the DataSource V2 parquet scan gets
predicate pushdown + column pruning for free — every query builder
should ``select``/``filter`` early so ``PushedFilters``/``ReadSchema``
show up in the physical plan (SURVEY.md §4.2).

At 100 TB each "table" would be a partitioned parquet/iceberg dataset;
nothing in this module assumes a single file — ``spark.read.parquet``
accepts directories and globs unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from .session_cache import fingerprint

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Runtime SQLConfs every caller-supplied session must carry before a
# fixture scan. ``queries()`` builders run under sessions the engine
# does NOT build (the driver's harness constructs a vanilla
# SparkSession), so relying on session.py's builder configs is not
# enough — round 1 lost 13 correctness rows to exactly that gap:
#
# - ``nanosAsLong``: events.ts is parquet TIMESTAMP(NANOS); without
#   the conf the scan throws PARQUET_TYPE_ILLEGAL before any repair
#   code can run. Spark has no ns TimestampType, so read as int64 and
#   rebuild a µs timestamp below.
# - ``inferTimestampNTZ.enabled=false``: Spark 4 defaults to reading
#   unannotated/isAdjustedToUTC=false parquet timestamps as
#   TIMESTAMP_NTZ, where instant functions (``unix_micros`` …)
#   don't apply. With a UTC session the TIMESTAMP reading is
#   value-identical and keeps the full function surface.
# - ``session.timeZone=UTC``: the DuckDB oracle compares in UTC.
_REQUIRED_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ("spark.sql.session.timeZone", "UTC"),
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the parquet/timezone SQLConfs on a live session.

    All three are runtime SQLConfs (not static), so ``spark.conf.set``
    on an already-started vanilla session is legal and takes effect on
    the next scan. Idempotent and cheap — safe to call per ``load``.
    """
    for key, want in _REQUIRED_CONFS:
        try:
            have = spark.conf.get(key, None)
        except Exception:
            have = None
        if have != want:
            spark.conf.set(key, want)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    Self-sufficient under ANY session: pins the required runtime
    SQLConfs first, then repairs whatever shape the timestamp columns
    arrive in (int64 nanos / TIMESTAMP / TIMESTAMP_NTZ), so the same
    builder code is correct whether the session came from
    ``session.get_spark`` or from a harness the engine doesn't own.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS): with nanosAsLong Spark
    # reads it as long — rebuild the µs-precision timestamp with
    # integer division (fixture values are µs-aligned, so this is
    # lossless; `div` avoids double-precision loss on int64). If a
    # future reader hands us a timestamp directly, normalize the type
    # instead of dividing.
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # Defense in depth: if any column still arrived as TIMESTAMP_NTZ
    # (e.g. a session where the conf set raced an already-cached scan),
    # cast to TIMESTAMP — an identity mapping under the UTC session tz
    # pinned above, and it restores the instant-function surface.
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Parquet schemas inferred per (applicationId, absolute path, content
# fingerprint). Inference runs one Spark job per read (70-150 ms per
# load on a 4-core VM, against 10-31 ms with the schema given), and a
# query builder loads the same few tables again and again. Only the
# schema is shared, never a DataFrame: each load builds a new relation,
# so self-joins of two loads get distinct attribute ids. The key holds
# the content fingerprint, so a rewritten file or part-file is read
# afresh; ``ensure_session_confs`` runs first, so the inference confs
# are the same for every entry of one session.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_MAX = 64


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema memoized when the
    path's content can be fingerprinted."""
    src = os.path.abspath(path)
    try:
        key = (spark.sparkContext.applicationId, src, fingerprint(src))
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    while len(_SCHEMAS) >= _SCHEMAS_MAX:
        _SCHEMAS.pop(next(iter(_SCHEMAS)))
    _SCHEMAS[key] = df.schema
    return df


# Below this input size the spread can never pay for itself for a
# ~single-pass operator: the round-robin exchange + extra stage +
# the plan→RDD partition probe cost a fixed ~0.5–0.7 s here, while
# tokenizing this many SOURCE bytes single-core costs less (measured
# round 5, sf0.1 documents = 594 KB single-row-group: spreading
# DOUBLED text_tfidf, 1.59 s vs 0.83 s, and cost 1.3–1.6× across the
# whole text family and embed_covariance; interleaved min-of-5).
_SPREAD_MIN_BYTES = 32 << 20  # 32 MiB


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, min_bytes: int = _SPREAD_MIN_BYTES
) -> DataFrame:
    """Load a table, guaranteeing at least one partition per core —
    but only when the input is big enough for the spread to win.

    CPU-heavy operators (shingling, hashing, explode) must never run
    single-task just because the input arrived as one small file /
    one parquet row-group. If the scan already splits wide — the
    normal case at scale, where `maxPartitionBytes` gives thousands
    of splits — this is a no-op; the round-robin repartition only
    fires for narrow scans.

    ``min_bytes`` gates the spread on the on-disk input size:

    - default (``_SPREAD_MIN_BYTES``): a narrow scan SMALLER than
      this skips the spread entirely (including the plan→RDD
      partition probe) — for ~single-CPU-pass-per-byte operators
      (tokenize, profile, fingerprint) the exchange costs more than
      the single task it parallelizes at that size;
    - ``min_bytes=0``: always spread a narrow scan — for operators
      whose CPU cost per input byte is large and super-linear in the
      fan-out (MinHash: 64 hashes × every shingle; shingle-pair
      joins), where even a 600 KB input carries multi-second CPU
      work (measured: the MinHash/LSH family runs 2–3× FASTER with
      the spread at sf0.1).

    When the size is unknowable even via the filesystem APIs, fall
    through to the partition probe — those scans split wide on their
    own and the probe returns the no-op path.
    """
    df = load(spark, sf_dir, name)
    if min_bytes:
        size = _input_size_bytes(spark, f"{sf_dir}/{name}.parquet")
        if size is not None and size < min_bytes:
            return df
    n_cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_cores:
        df = df.repartition(n_cores)
    return df


# non-local sizes memoized per path: getContentSummary walks the
# dataset recursively, and load_spread may probe the same input 3×
# per bench key — on a 100k-object store listing that walk would
# cost more than the partition probe the gate exists to avoid. The
# cache assumes a dataset path's size class (above/below the 32 MiB
# gate) is stable within one process — true for fixtures and for
# immutable lake layouts; a path rewritten mid-process at a
# different size class would be mis-gated until restart.
_SIZE_CACHE: dict[str, int | None] = {}


def _input_size_bytes(spark: SparkSession, path: str) -> int | None:
    """On-disk size of a dataset path, or None if unknowable.

    Local single file → ``os.path`` (no JVM round-trip, the common
    fixture layout; never cached — stat is cheap). Anything else —
    local directory, remote URI, partitioned dataset — resolves
    through the Hadoop FileSystem API (``getContentSummary`` is
    recursive, memoized per path), so the ``load_spread`` size gate
    short-circuits small DIRECTORY/remote inputs too instead of
    silently falling through to the plan→RDD partition probe it was
    measured to avoid (ADVICE r5, io.py:146)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
    except OSError:
        pass
    if path in _SIZE_CACHE:
        return _SIZE_CACHE[path]
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        size = (
            int(fs.getContentSummary(hpath).getLength())
            if fs.exists(hpath)
            else None
        )
    except Exception:
        # py4j errors for unreachable/unsupported schemes: size is
        # simply unknowable — the caller falls back to the probe
        size = None
    if size is not None:
        # never cache "missing/unknowable": the path may exist on the
        # next call (e.g. a dataset materialized mid-process), and a
        # stale None would skip the fast gate forever
        _SIZE_CACHE[path] = size
    return size


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (used by ``bench.py`` warm-up)."""
    return {name: load(spark, sf_dir, name) for name in TABLES}
