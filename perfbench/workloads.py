"""The batch workload: the ops it runs, and how each op's output is
checked after the timed window.

Relational and LLM ops are catalog keys: the builder call plus a full
execution through the ``noop`` sink. The relational keys read the
TPC-H tables split into part-files, the LLM and graph keys the
one-file-per-table layout. MR ops are one ``mr`` call plus
``count()``. Every key with an oracle is compared with DuckDB running
that oracle on the same rows; MR jobs are compared with their
DataFrame twins, as ``tests/test_mr.py`` does.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from .harness import Op

# Relational keys: TPC-H shapes that cover a 3-way join with top-N
# (Q3), the decorrelated EXISTS/NOT EXISTS chain with its task skew
# (Q21), a single-scan filter-aggregate (Q6) and the salted skew join
# (8x replicated shuffle).
RELATIONAL_KEYS = (
    "join_shipping_priority",
    "join_exists_chain",
    "agg_forecast_revenue",
    "join_skew_salted",
)

# LLM keys: the four-deep dedup fill chain, the session-cached tf-idf
# table and the persisted band index, built through the warehouse at
# set-up.
PYTHON_KEYS = (
    "dedup_cluster_histogram",
    "text_tfidf",
    "dedup_incremental_indexed",
)


@dataclass
class Ctx:
    """Where a run's inputs live. ``data`` holds one file per table;
    ``parts`` holds the TPC-H tables split into part-files."""

    data: str
    parts: str
    duck: object = None
    expected: dict = field(default_factory=dict)
    ref_s: float = 0.0

    def oracle(self, name: str, sql: str):
        """DuckDB's answer for ``sql``, computed once per run."""
        if name not in self.expected:
            t0 = time.perf_counter()
            self.expected[name] = self.duck.execute(sql).fetchdf()
            self.ref_s += time.perf_counter() - t0
        return self.expected[name]


def duck_views(data_dir: str):
    """DuckDB over the one-file-per-table layout. The part-file layout
    holds the same rows, so its keys are checked against these too."""
    import duckdb

    from mapreducepy_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def key_op(name: str, query, layout: str) -> Op:
    def run(spark, ctx):
        t0 = time.perf_counter()
        df = query.builder(spark, getattr(ctx, layout))
        built = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        return built

    def collect(spark, ctx):
        return query.builder(spark, getattr(ctx, layout)).toPandas()

    def verify(got, spark, ctx):
        from tests.parity_util import assert_frames_match

        if query.oracle is None:
            assert len(got) > 0, f"{name}: no rows"
            return
        assert_frames_match(got, ctx.oracle(name, query.oracle), name)

    return Op(name, run, collect, verify)


# ---- MR jobs (module-level so workers import them by reference) ----


def wc_mapper(_, row):
    for tok in row.text.split(" "):
        if tok:
            yield (tok, 1)


def sum_reducer(key, values):
    yield (key, sum(values))


def add(a, b):
    return a + b


def count_mapper(word, count):
    yield (count, 1)


def events_mapper(_, row):
    yield (row.user_id, (row.ts, row.event_id))


def first_last_reducer(user, values):
    first = last = prev = None
    for ts, eid in values:
        if prev is not None and (ts, eid) < prev:
            raise AssertionError("secondary sort delivered values out of order")
        prev = (ts, eid)
        if first is None:
            first = eid
        last = eid
    yield (user, (first, last))


def _mr_jobs():
    from mapreducepy_spark import mr

    class WordCount(mr.MRJob):
        def mapper(self, key, row):
            return wc_mapper(key, row)

        def reducer(self, word, counts):
            return sum_reducer(word, counts)

    class CountOfCounts(mr.MRJob):
        def mapper(self, word, count):
            return count_mapper(word, count)

        def reducer(self, count, ones):
            return sum_reducer(count, ones)

    return WordCount, CountOfCounts


def _docs(spark, ctx):
    from mapreducepy_spark.io import load

    return load(spark, ctx.data, "documents")


def mr_wordcount(spark, ctx):
    from mapreducepy_spark import mr

    return mr.run_job(spark, _docs(spark, ctx), wc_mapper, sum_reducer)


def mr_wordcount_combiner(spark, ctx):
    from mapreducepy_spark import mr

    return mr.run_job(
        spark, _docs(spark, ctx), wc_mapper, sum_reducer, combiner=sum_reducer
    )


def mr_wordcount_assoc(spark, ctx):
    from mapreducepy_spark import mr

    return mr.run_job(spark, _docs(spark, ctx), wc_mapper, None, associative_reduce=add)


def mr_count_of_counts(spark, ctx):
    from mapreducepy_spark import mr

    word_count, count_of_counts = _mr_jobs()
    return mr.run_pipeline(spark, _docs(spark, ctx), word_count(), count_of_counts())


def mr_secondary_sort(spark, ctx):
    from mapreducepy_spark import mr
    from mapreducepy_spark.io import load

    ev = load(spark, ctx.data, "events").select("user_id", "ts", "event_id")
    return mr.run_job(
        spark, ev, events_mapper, first_last_reducer, sort_values_by=lambda v: v
    )


def _word_counts(spark, ctx) -> dict:
    from mapreducepy_spark.llm.text import text_stats

    return {r["word"]: r["n_occurrences"] for r in text_stats(spark, ctx.data).collect()}


def _want_count_of_counts(spark, ctx) -> dict:
    want: dict = {}
    for c in _word_counts(spark, ctx).values():
        want[c] = want.get(c, 0) + 1
    return want


def _want_first_last(spark, ctx) -> dict:
    from pyspark.sql import functions as F

    from mapreducepy_spark.io import load

    rows = (
        load(spark, ctx.data, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.struct("ts", "event_id")).alias("lo"),
            F.max(F.struct("ts", "event_id")).alias("hi"),
        )
        .collect()
    )
    return {r["user_id"]: (r["lo"]["event_id"], r["hi"]["event_id"]) for r in rows}


def mr_op(name: str, job, twin) -> Op:
    def run(spark, ctx):
        job(spark, ctx).count()

    def collect(spark, ctx):
        return dict(job(spark, ctx).collect())

    def verify(got, spark, ctx):
        if name not in ctx.expected:
            ctx.expected[name] = twin(spark, ctx)
        want = ctx.expected[name]
        assert got == want, f"{name}: {len(got)} keys differ from the DataFrame twin"

    return Op(name, run, collect, verify)


MR_OPS = (
    ("mr_wordcount", mr_wordcount, _word_counts),
    ("mr_wordcount_combiner", mr_wordcount_combiner, _word_counts),
    ("mr_wordcount_assoc", mr_wordcount_assoc, _word_counts),
    ("mr_count_of_counts", mr_count_of_counts, _want_count_of_counts),
    ("mr_secondary_sort", mr_secondary_sort, _want_first_last),
)


def batch_ops(catalog) -> list[Op]:
    return (
        [key_op(k, catalog[k], "parts") for k in RELATIONAL_KEYS]
        + [key_op(k, catalog[k], "data") for k in PYTHON_KEYS]
        + [mr_op(name, job, twin) for name, job, twin in MR_OPS]
    )
