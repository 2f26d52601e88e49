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
# - ``nanosAsLong``: the shipped events.ts is timestamp[us], but a
#   fixture written with parquet TIMESTAMP(NANOS) would make the scan
#   throw PARQUET_TYPE_ILLEGAL before any repair code can run. Spark
#   has no ns TimestampType, so read as int64 and rebuild a µs
#   timestamp below.
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
    # A TIMESTAMP(NANOS) events.ts reads as long under nanosAsLong —
    # rebuild the µs-precision timestamp with integer division
    # (µs-aligned values make this lossless; `div` avoids
    # double-precision loss on int64). A timestamp column (the shipped
    # timestamp[us] fixtures) is normalized instead of divided.
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


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table with at least one partition per core.

    For operators whose CPU cost per input byte is large (MinHash: 64
    hashes × every shingle; the shingle, n-gram and char-bigram
    explodes): even a 600 KB single-row-group input carries seconds of
    CPU work, and the spread runs the MinHash/LSH family 2–3× faster at
    sf0.1. A scan that already splits wide, the normal case at scale,
    is returned as is. Operators that make about one CPU pass per input
    byte call ``load`` instead: at sf0.1 the exchange costs more than
    the single task it would parallelize (1.3–1.6× slower across the
    text family).
    """
    df = load(spark, sf_dir, name)
    n_cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_cores:
        df = df.repartition(n_cores)
    return df
