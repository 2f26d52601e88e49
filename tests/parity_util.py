"""Result comparison mirroring the driver's order-insensitive
value-hash: canonicalize every cell, sort columns by name, sort rows,
compare exactly. Exact-first on purpose — float slop would hide
hash-parity bugs the driver WILL catch (SURVEY.md §5.2)."""

from __future__ import annotations

import datetime as _dt
import math
import os
from decimal import Decimal

import numpy as np
import pandas as pd


def canon_cell(v):
    """Canonical, engine-independent representation of one value."""
    if v is None:
        return "∅"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        if f == 0.0:
            f = 0.0  # normalize -0.0
        return f"f:{f!r}"
    if isinstance(v, (np.bool_, bool)):
        return f"b:{bool(v)}"
    if isinstance(v, (np.integer, int)):
        return f"i:{int(v)}"
    if isinstance(v, Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "∅"
        return f"t:{v.isoformat()}"
    if isinstance(v, _dt.datetime):
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, _dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return "∅"
    try:
        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    return f"s:{v}"


def canon_frame(df: pd.DataFrame) -> list[tuple]:
    # Column-wise, NOT iterrows: iterrows coerces a mixed int/float
    # row to float64, silently canonicalizing int64 cells as "f:…"
    # and masking exactly the int-vs-float parity break the driver's
    # stricter hash catches (found via text_vocab_coverage's HUGEINT
    # oracle cumsum, round 5). .tolist() preserves each column's own
    # type: numpy ints → python int → "i:…".
    cols = sorted(df.columns)
    if not cols:
        return []
    canon_cols = [[canon_cell(v) for v in df[c].tolist()] for c in cols]
    rows = [tuple(r) for r in zip(*canon_cols)]
    rows.sort()
    return rows


def assert_frames_match(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame, name: str):
    assert sorted(spark_pd.columns) == sorted(duck_pd.columns), (
        f"{name}: column sets differ: spark={sorted(spark_pd.columns)} "
        f"oracle={sorted(duck_pd.columns)}"
    )
    assert len(spark_pd) == len(duck_pd), (
        f"{name}: row counts differ: spark={len(spark_pd)} oracle={len(duck_pd)}"
    )
    s_rows = canon_frame(spark_pd)
    d_rows = canon_frame(duck_pd)
    if s_rows != d_rows:
        diffs = [
            (i, s, d)
            for i, (s, d) in enumerate(zip(s_rows, d_rows))
            if s != d
        ]
        sample = "\n".join(
            f"  row {i}:\n    spark : {s}\n    oracle: {d}" for i, s, d in diffs[:5]
        )
        raise AssertionError(
            f"{name}: {len(diffs)} of {len(s_rows)} sorted rows differ "
            f"(first 5 shown):\n{sample}"
        )


def oracle_views(sf_dir: str):
    """A new DuckDB connection with every fixture table registered as a
    view of its name. A table is ``{sf_dir}/{t}.parquet``, one file or a
    directory of part-files; DuckDB 1.0 finds no files in a directory
    path, so a directory is read through its ``*.parquet`` glob."""
    import duckdb

    from mapreducepy_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
