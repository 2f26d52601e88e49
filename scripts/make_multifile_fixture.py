"""Stage a multi-file, optionally replicated copy of a scale-factor
fixture directory.

At sf0.1 every fixture table is ONE parquet file with ONE row group,
so every scan is a single task and scan parallelism, the thing that
matters at 100 TB, goes unmeasured. This script rewrites each table as
``n_files`` parquet part-files under ``dst_dir/<table>.parquet/`` (a
directory source: ``io.load`` reads it as is, DuckDB through its
``*.parquet`` glob).

With ``copies`` > 1 the fact and entity tables are replicated that many
times, each copy with its ids shifted by a per-copy offset (see
``SHIFTS``), so the copies never collide: key joins replicate
copy-local, per-key frequency profiles keep their shape and dedup
density rises with the copy count. ``supplier``, ``nation`` and
``region`` are copied once, unchanged: ``l_suppkey`` does not shift, so
each supplier owns ``copies`` times the lineitems.

Usage:
    python scripts/make_multifile_fixture.py SRC_DIR DST_DIR N_FILES [COPIES]

COPIES defaults to 1, a plain N-file copy. A 10x, 16-file layout timed
by the catalog benchmark:

    python scripts/make_multifile_fixture.py path/to/sf0.1 \
        path/to/sf0.1x10 16 10
    SPARK_GRAFT_SF_DIR=path/to/sf0.1x10 python bench.py <keys...>

Row order changes (round-robin repartition). Every declared query is
row-order independent (deterministic aggregates/windows with total
tie-breaks), so at COPIES=1 results are identical, and
``scripts/parity_sf.py DST_DIR`` checks them against the same
directory: ``tests/parity_util.oracle_views`` points DuckDB at each
table's part-file glob.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreducepy_spark.io import TABLES
from mapreducepy_spark.session import get_spark

# Per-copy id offsets. A foreign key shifts by the offset of the key it
# references (o_custkey with c_custkey, l_partkey with p_partkey,
# l_orderkey with o_orderkey, vec_id with doc_id), so joins stay
# copy-local.
SHIFTS: dict[str, dict[str, int]] = {
    "documents": {"doc_id": 10_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "embeddings": {"vec_id": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
}


def materialize(spark, src: str, dst: str, n_files: int, copies: int = 1) -> None:
    """Write every table of ``src`` present on disk to ``dst`` as
    ``n_files`` part-files, shifted tables replicated ``copies`` times."""
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        path = f"{src}/{t}.parquet"
        if not os.path.exists(path):
            print(f"{t}: missing in {src}, skipped")
            continue
        df = spark.read.parquet(path)
        if copies > 1 and t in SHIFTS:
            # a cross join with a copy index replicates without reading
            # the source ``copies`` times
            copy = spark.range(copies).select(F.col("id").alias("__copy"))
            df = df.crossJoin(F.broadcast(copy))
            for col, offset in SHIFTS[t].items():
                df = df.withColumn(col, F.col(col) + F.lit(offset) * F.col("__copy"))
            df = df.drop("__copy")
        df.repartition(n_files).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"{t}: {df.count()} rows -> {n_files} files", flush=True)


def main() -> int:
    if len(sys.argv) not in (4, 5):
        print(__doc__)
        return 2
    src, dst, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
    copies = int(sys.argv[4]) if len(sys.argv) == 5 else 1
    spark = get_spark(app_name="make-multifile-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    materialize(spark, src, dst, n, copies)
    return 0


if __name__ == "__main__":
    sys.exit(main())
