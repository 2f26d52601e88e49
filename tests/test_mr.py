"""The MR compatibility layer reproduces DataFrame results: ported
mapper/reducer jobs compute the same answers the engine's declarative
operators do."""

from __future__ import annotations

from mapreducepy_spark import mr
from mapreducepy_spark.io import load


def test_wordcount_job_matches_dataframe_wordcount(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")

    def mapper(_, row):
        for tok in row.text.split(" "):
            if tok:
                yield (tok, 1)

    def reducer(word, counts):
        yield (word, sum(counts))

    got = dict(mr.run_job(spark, docs, mapper, reducer).collect())

    from mapreducepy_spark.llm.text import text_stats

    want = {
        r["word"]: r["n_occurrences"] for r in text_stats(spark, sf_dir).collect()
    }
    assert got == want


def test_combiner_reduces_shuffle_but_not_results(spark):
    records = [(None, (k, v)) for k in "ab" for v in range(100)]

    def mapper(_, kv):
        yield kv

    seen_group_sizes = []

    def combiner(k, values):
        vs = list(values)
        seen_group_sizes.append(len(vs))
        yield (k, sum(vs))

    def reducer(k, values):
        yield (k, sum(values))

    got = dict(
        mr.run_job(
            spark, records, mapper, reducer, combiner=combiner, num_partitions=4
        ).collect()
    )
    assert got == {"a": sum(range(100)), "b": sum(range(100))}


def test_associative_reduce_fast_path(spark):
    records = [(None, i) for i in range(1000)]

    def mapper(_, v):
        yield (v % 7, v)

    got = dict(
        mr.run_job(spark, records, mapper, None, associative_reduce=lambda a, b: a + b)
        .collect()
    )
    want = {}
    for i in range(1000):
        want[i % 7] = want.get(i % 7, 0) + i
    assert got == want


def test_run_job_without_reduce_is_map_only(spark):
    """With neither a reducer nor an ``associative_reduce``, run_job
    is a map-only job, exactly as an MRStep with neither: the mapped
    pairs are the output and no shuffle is planned."""
    records = [(None, i) for i in range(20)]

    def mapper(_, v):
        yield (v % 3, v * 10)

    out = mr.run_job(spark, records, mapper, None)
    assert sorted(out.collect()) == sorted((i % 3, i * 10) for i in range(20))
    assert "ShuffledRDD" not in out.toDebugString().decode()


def test_associative_reduce_with_reducer_or_combiner_raises(spark):
    """reduceByKey folds with the one function, so a reducer or a
    combiner passed beside ``associative_reduce`` would never run;
    the job raises instead of dropping them."""
    from operator import add

    import pytest

    records = [(None, i) for i in range(10)]

    def mapper(_, v):
        yield (v % 2, v)

    def summed(k, vs):
        yield (k, sum(vs))

    with pytest.raises(TypeError, match="replaces the reducer"):
        mr.run_job(spark, records, mapper, summed, associative_reduce=add)
    with pytest.raises(TypeError, match="replaces the reducer"):
        mr.run_job(
            spark, records, mapper, None, combiner=summed, associative_reduce=add
        )


def test_step_with_only_associative_reduce_folds(spark):
    """An MRStep reduces when it has a reducer OR an
    ``associative_reduce``: a fold-only step is a reduce step, not a
    map-only one, and plans its one shuffle."""

    class FoldWordCount(mr.MRJob):
        def steps(self):
            return [
                mr.MRStep(
                    mapper=lambda _, line: [(w, 1) for w in line.split()],
                    associative_reduce=lambda a, b: a + b,
                ),
            ]

    rows = [(None, "foo bar foo"), (None, "bar foo")]
    out = mr.run_mrjob(spark, FoldWordCount(), rows)
    assert dict(out.collect()) == {"foo": 3, "bar": 2}
    assert out.toDebugString().decode().count("ShuffledRDD") == 1


def test_mrjob_pipeline_chains(spark, sf_dir):
    """Two chained jobs: wordcount, then count-of-counts (the classic
    MR chaining example)."""
    docs = load(spark, sf_dir, "documents")

    class WordCount(mr.MRJob):
        def mapper(self, _, row):
            for tok in row.text.split(" "):
                if tok:
                    yield (tok, 1)

        def reducer(self, word, counts):
            yield (word, sum(counts))

    class CountOfCounts(mr.MRJob):
        def mapper(self, word, count):
            yield (count, 1)

        def reducer(self, count, ones):
            yield (count, sum(ones))

    first = mr.run_mrjob(spark, WordCount(), docs)
    out = dict(mr.run_mrjob(spark, CountOfCounts(), first).collect())

    from mapreducepy_spark.llm.text import text_stats

    wc = [r["n_occurrences"] for r in text_stats(spark, sf_dir).collect()]
    want = {}
    for c in wc:
        want[c] = want.get(c, 0) + 1
    assert out == want


def test_secondary_sort_streams_values_in_order(spark, sf_dir):
    """sort_values_by: per-user event values must arrive at the
    reducer already ordered by timestamp WITHOUT the reducer sorting
    — the reducer asserts monotonicity and emits first/last, checked
    against a window-function formulation."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def mapper(_, row):
        yield (row.user_id, (row.ts, row.event_id))

    def reducer(user, values):
        prev = None
        first = last = None
        for ts, eid in values:  # MUST arrive sorted; no sort() here
            assert prev is None or (ts, eid) >= prev, "values not sorted"
            prev = (ts, eid)
            if first is None:
                first = eid
            last = eid
        yield (user, (first, last))

    got = dict(
        mr.run_job(
            spark, ev, mapper, reducer, sort_values_by=lambda v: v
        ).collect()
    )

    want_df = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.struct("ts", "event_id")).alias("lo"),
            F.max(F.struct("ts", "event_id")).alias("hi"),
        )
        .collect()
    )
    want = {r["user_id"]: (r["lo"]["event_id"], r["hi"]["event_id"]) for r in want_df}
    assert got == want


def test_counters_accumulate_across_tasks(spark):
    counters = mr.Counters(spark)

    def mapper(_, v):
        counters.incr("records", "seen")
        if v % 3 == 0:
            counters.incr("records", "skipped")
            return
        yield (v % 2, v)

    def reducer(k, vs):
        yield (k, sum(vs))

    out = dict(
        mr.run_job(spark, [(None, i) for i in range(30)], mapper, reducer).collect()
    )
    assert counters.value[("records", "seen")] == 30
    assert counters.value[("records", "skipped")] == 10
    # the job result itself is unaffected by instrumentation
    assert out[1] == sum(i for i in range(30) if i % 3 and i % 2 == 1)


def test_mapper_hooks_enable_in_mapper_combining(spark):
    """mapper_init/mapper_final: the canonical in-mapper-combining
    wordcount — per-partition dict flushed at partition end must
    equal the plain wordcount."""

    class InMapperCombine(mr.MRJob):
        def mapper_init(self):
            self.buf = {}

        def mapper(self, _, text):
            for tok in text.split():
                self.buf[tok] = self.buf.get(tok, 0) + 1
            return ()

        def mapper_final(self):
            yield from self.buf.items()

        def reducer(self, word, counts):
            yield (word, sum(counts))

    rows = [(None, "a b a"), (None, "b c"), (None, "a c c")]
    got = dict(mr.run_mrjob(spark, InMapperCombine(), rows).collect())
    assert got == {"a": 3, "b": 2, "c": 3}


def test_mrjob_combiner_runs_when_defined(spark):
    """A ported mrjob-style job's ``combiner`` runs because the
    subclass defines it — no opt-in flag. The combiner counts its
    calls through ``mr.Counters``; the answer is the plain
    wordcount either way."""
    counters = mr.Counters(spark)

    class WordCount(mr.MRJob):
        def mapper(self, _, text):
            for tok in text.split():
                yield (tok, 1)

        def combiner(self, word, counts):
            counters.incr("combiner", "calls")
            yield (word, sum(counts))

        def reducer(self, word, counts):
            yield (word, sum(counts))

    rows = [(None, "a b a"), (None, "b c"), (None, "a c c")]
    got = dict(mr.run_mrjob(spark, WordCount(), rows).collect())
    assert got == {"a": 3, "b": 2, "c": 3}
    # at least one call per distinct word (a, b, c)
    assert counters.value.get(("combiner", "calls"), 0) >= 3


def test_run_mrjob_rejects_unknown_options(spark):
    import pytest

    with pytest.raises(TypeError):
        mr.run_mrjob(spark, mr.MRJob(), [(1, 1)], bogus=True)


def test_secondary_sort_handles_mixed_type_keys(spark):
    """Mixed None/str/int natural keys in ONE partition must sort
    (cross-type total order) instead of raising a layout-dependent
    TypeError; per-key value order must still hold."""

    def mapper(_, kv):
        yield kv

    def reducer(k, values):
        yield (k, list(values))

    data = [
        (None, ("a", 1)), (None, ("a", 3)),
        (None, (2, 5)), (None, (2, 7)),
        (None, (None, 9)), (None, (None, 4)),
        (None, (1.5, 0)),
    ]
    got = dict(
        mr.run_job(
            spark, data, mapper, reducer,
            sort_values_by=lambda v: v, num_partitions=1,
        ).collect()
    )
    assert got["a"] == [1, 3]
    assert got[2] == [5, 7]
    assert got[None] == [4, 9]
    assert got[1.5] == [0]


def test_secondary_sort_key_equality_matches_python_eq(spark):
    """ADVICE r4: keys of different classes that compare equal under
    Python == (Decimal(1) vs 1 vs True, a str subclass vs str) must
    land in ONE group on the secondary-sort path, exactly as the
    groupByKey path merges them — the two run_job paths may not
    silently emit different groups for the same logical key."""
    from decimal import Decimal

    class MyStr(str):
        pass

    def mapper(_, kv):
        yield kv

    def reducer(k, values):
        yield (k, sorted(values))

    data = [
        (None, (Decimal(1), "d")), (None, (1, "i")), (None, (1.0, "f")),
        (None, (True, "b")),
        (None, (MyStr("x"), "sub")), (None, ("x", "plain")),
    ]
    sorted_path = dict(
        mr.run_job(
            spark, data, mapper, reducer,
            sort_values_by=lambda v: v, num_partitions=4,
        ).collect()
    )
    grouped_path = dict(mr.run_job(spark, data, mapper, reducer).collect())
    assert sorted_path == grouped_path
    assert sorted_path[1] == ["b", "d", "f", "i"]
    assert sorted_path["x"] == ["plain", "sub"]


def test_secondary_sort_values_are_loudly_single_pass(spark):
    """A reducer iterating its streamed values twice must get a
    RuntimeError, never a silent empty second pass."""

    def mapper(_, v):
        yield (v % 2, v)

    def reducer(k, values):
        total = sum(values)
        try:
            list(values)  # second pass — must raise
        except RuntimeError:
            yield (k, total)
        else:  # pragma: no cover - the bug this test pins
            yield (k, -1)

    got = dict(
        mr.run_job(
            spark, [(None, i) for i in range(10)], mapper, reducer,
            sort_values_by=lambda v: v,
        ).collect()
    )
    assert got == {0: 20, 1: 25}


def test_multi_step_job_equals_manual_chain(spark):
    """The steps()-style multi-pass job (wordcount -> count-of-counts
    in ONE class) must equal chaining two single-step jobs by hand."""

    def wc_map(_, text):
        for tok in text.split():
            yield (tok, 1)

    def wc_red(word, counts):
        yield (word, sum(counts))

    def coc_map(_, count):
        yield (count, 1)

    def coc_red(count, ones):
        yield (count, sum(ones))

    class CountOfCounts(mr.MRJob):
        def steps(self):
            return [
                mr.MRStep(mapper=wc_map, reducer=wc_red),
                mr.MRStep(mapper=coc_map, reducer=coc_red),
            ]

    rows = [(None, "a b a"), (None, "b c"), (None, "a c c b b")]
    got = dict(mr.run_mrjob(spark, CountOfCounts(), rows).collect())

    first = mr.run_job(spark, rows, wc_map, wc_red)
    want = dict(
        mr.run_job(
            spark,
            first.map(lambda kv: (None, kv[1])),
            lambda _, c: [(c, 1)],
            coc_red,
        ).collect()
    )
    assert got == want == {3: 2, 4: 1}  # a:3, c:3 -> two words at 3; b:4


def test_multi_step_map_only_step_plans_no_shuffle(spark):
    """A reducer-less MRStep is map-only: pairs flow into the next
    step with NO shuffle — pinned by the absence of a new stage
    boundary (the chained RDD's debug string shows one shuffle for
    the reduce step, none for the map-only step)."""

    class Normalize(mr.MRJob):
        def steps(self):
            return [
                mr.MRStep(mapper=lambda _, s: [(w.lower(), 1) for w in s.split()]),
                mr.MRStep(mapper=lambda k, v: [(k.strip(".,"), v)]),  # map-only
                mr.MRStep(reducer=lambda k, vs: [(k, sum(vs))]),
            ]

    rows = [(None, "Foo foo, BAR."), (None, "bar foo.")]
    out = mr.run_mrjob(spark, Normalize(), rows)
    got = dict(out.collect())
    assert got == {"foo": 3, "bar": 2}
    # exactly ONE shuffle in the lineage (the final reduce step);
    # the two map steps never repartition
    debug = out.toDebugString().decode()
    assert debug.count("ShuffledRDD") == 1


def test_multi_step_step_options_and_kw_rejection(spark):
    """Options live on the steps (per-step sort_values_by works);
    per-run **kw on a steps() job is ambiguous and must raise."""

    class Sorted(mr.MRJob):
        def steps(self):
            return [
                mr.MRStep(
                    mapper=lambda _, kv: [kv],
                    reducer=lambda k, vs: [(k, list(vs))],
                    sort_values_by=lambda v: v,
                ),
            ]

    rows = [(None, ("u", 3)), (None, ("u", 1)), (None, ("u", 2))]
    got = dict(mr.run_mrjob(spark, Sorted(), rows).collect())
    assert got == {"u": [1, 2, 3]}

    import pytest

    with pytest.raises(TypeError, match="multi-step"):
        mr.run_mrjob(spark, Sorted(), rows, num_partitions=4)
    with pytest.raises(TypeError, match="map-only"):
        mr.MRStep(reducer=None, combiner=lambda k, vs: [(k, 1)])


def test_sort_keys_nan_and_complex_are_total(spark):
    """Round-8 second review: NaN sort keys must not violate the
    sort's total-order requirement (a raw NaN lets sorted() legally
    interleave it between equal keys, silently splitting their
    reducer runs), Decimal NaN — quiet OR signaling — must not
    crash, and complex keys must order totally with complex(x, 0)
    merging with x exactly as Python == does."""
    from decimal import Decimal

    k = mr._total_order_key
    # all NaN flavors collapse to one transformed key
    assert k(float("nan")) == k(Decimal("NaN")) == k(Decimal("sNaN"))
    assert k(complex("nan")) == k(float("nan"))
    # zero-imag complex joins the numeric branch (complex(2,0) == 2)
    assert k(complex(2, 0)) == k(2) == k(2.0) == k(Decimal(2))
    # distinct complex keys are ordered, not crashing
    assert k(1 + 2j) != k(3 + 4j)
    assert sorted([k(3 + 4j), k(1 + 2j)]) == [k(1 + 2j), k(3 + 4j)]
    # end-to-end: a NaN key must not split the 2.0 runs on the
    # sorted path
    data = [(None, (2.0, "a")), (None, (float("nan"), "b")), (None, (2.0, "c"))]

    def mapper(_, kv):
        yield kv

    def reducer(key, values):
        yield (repr(key), sorted(values))

    out = dict(
        mr.run_job(
            spark, data, mapper, reducer,
            sort_values_by=lambda v: v, num_partitions=1,
        ).collect()
    )
    assert out["2.0"] == ["a", "c"]  # one run, not two


def test_map_only_num_partitions_first_step_ok_midchain_raises(spark):
    """num_partitions on a map-only step sizes sc.parallelize when
    the step is fed a raw iterable (legitimate, previously broken by
    an over-reaching constructor check); mid-chain it has no effect
    point and raises at run time instead of being silently ignored."""
    import pytest

    first = mr.MRStep(
        mapper=lambda _, v: [(v % 2, v)], num_partitions=4
    )
    red = mr.MRStep(reducer=lambda key, vs: [(key, sum(vs))])

    class FirstStepJob(mr.MRJob):
        def steps(self):
            return [first, red]

    got = dict(
        mr.run_mrjob(spark, FirstStepJob(), [(None, i) for i in range(10)]).collect()
    )
    assert got == {0: 20, 1: 25}

    class MidChainJob(mr.MRJob):
        def steps(self):
            return [
                mr.MRStep(mapper=lambda _, v: [(v, 1)]),
                mr.MRStep(mapper=lambda key, v: [(key, v)], num_partitions=8),
            ]

    with pytest.raises(TypeError, match="already an RDD"):
        mr.run_mrjob(spark, MidChainJob(), [(None, 1)]).collect()


def test_total_order_key_properties():
    """Property test for the sort-key transform (touched twice in
    round 8): over arbitrary mixed-type keys, (1) any two transformed
    keys must be ORDERABLE (no data-layout-dependent TypeError),
    (2) keys equal under Python == must transform equal (the
    groupByKey-vs-sorted-path contract), and (3) the transform must
    be deterministic."""
    from decimal import Decimal
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(),
        st.floats(allow_nan=True, allow_infinity=True),
        st.decimals(allow_nan=True, allow_infinity=True),
        st.fractions(),
        st.complex_numbers(allow_nan=True, allow_infinity=True),
        st.text(max_size=8),
        st.binary(max_size=8),
        st.dates(),
        # naive AND tz-aware (ADVICE r5: a mixed aware/naive partition
        # must still sort — the transform sub-tags by awareness)
        st.datetimes(timezones=st.none() | st.timezones()),
        st.times(timezones=st.none() | st.timezones()),
    )
    keys = st.one_of(
        scalars, st.lists(scalars, max_size=3), st.tuples(scalars, scalars)
    )

    def eq(a, b):
        try:
            return bool(a == b)
        except Exception:
            return False  # signaling comparisons: not equal for our purposes

    @settings(max_examples=300, deadline=None)
    @given(keys, keys)
    def check(a, b):
        ka, kb = mr._total_order_key(a), mr._total_order_key(b)
        # determinism
        assert ka == mr._total_order_key(a)
        # totality: comparable both ways without raising
        assert (ka < kb) or (kb < ka) or (ka == kb)
        # == consistency: Python-equal keys never split
        if eq(a, b) and not isinstance(a, (list, tuple)):
            # NaN is the documented exception (nan != nan anyway, so
            # eq() is False and this branch never fires for NaN)
            assert ka == kb, (a, b)

    check()


def test_total_order_key_mixed_tz_awareness():
    """ADVICE r5 regression: naive + aware datetimes (and times) in
    one partition used to raise TypeError inside the sort — the exact
    data-layout-dependent crash the transform exists to prevent."""
    import datetime as dt

    utc = dt.timezone.utc
    keys = [
        dt.datetime(2026, 1, 1, 12, 0),
        dt.datetime(2026, 1, 1, 12, 0, tzinfo=utc),
        dt.datetime(2025, 6, 1, 0, 0),
        dt.datetime(2025, 6, 1, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=5))),
        dt.time(8, 30),
        dt.time(8, 30, tzinfo=utc),
    ]
    transformed = sorted(keys, key=mr._total_order_key)  # must not raise
    assert len(transformed) == len(keys)
    # naive sorts before aware within each class (False < True subtag)
    assert transformed[0].tzinfo is None
    # equality contract: aware != naive under Python ==, and the
    # transforms differ too (no accidental merge)
    assert mr._total_order_key(keys[0]) != mr._total_order_key(keys[1])
    # determinism + within-class order still by value
    naive = [k for k in transformed if isinstance(k, dt.datetime) and k.utcoffset() is None]
    assert naive == sorted(naive)


def test_run_mrjob_warns_on_ignored_overrides(spark):
    """ADVICE r5: steps() + an unreferenced classic override warns
    loudly instead of silently never running the override/hooks."""
    import warnings as _w

    class BothJob(mr.MRJob):
        def steps(self):
            return [mr.MRStep(mapper=lambda k, v: [(v % 2, 1)],
                              reducer=lambda k, vs: [(k, sum(vs))])]

        def mapper(self, key, value):  # ignored by the steps path
            yield (value, 1)

        def mapper_init(self):  # hooks NEVER run on the steps path
            raise AssertionError("must not run")

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = dict(
            mr.run_mrjob(spark, BothJob(), [(None, i) for i in range(4)]).collect()
        )
    assert out == {0: 2, 1: 2}
    msgs = [str(w.message) for w in caught if "will NOT run" in str(w.message)]
    assert msgs and "mapper" in msgs[0] and "mapper_init" in msgs[0]

    class StepsReferencingJob(mr.MRJob):
        """Referencing the overridden mapper FROM a step is the
        legitimate mrjob idiom — no warning."""

        def steps(self):
            return [mr.MRStep(mapper=self.mapper,
                              reducer=lambda k, vs: [(k, sum(vs))])]

        def mapper(self, key, value):
            yield (value % 2, 1)

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = dict(
            mr.run_mrjob(
                spark, StepsReferencingJob(), [(None, i) for i in range(4)]
            ).collect()
        )
    assert out == {0: 2, 1: 2}
    assert not [w for w in caught if "will NOT run" in str(w.message)]
