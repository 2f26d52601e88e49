"""MapReduce programming-model compatibility layer (SURVEY.md §2.11,
§3.1).

The reference is a pure-Python MapReduce framework: a user writes
``mapper(key, value) -> iter[(k, v)]`` and ``reducer(key, values) ->
iter[(k, v)]`` (optionally a combiner) and chains jobs. This module
runs that exact programming model on Spark so reference jobs port
with their mapper/reducer functions UNCHANGED.

Execution mapping (SURVEY.md §1.2):

- map phase      → ``rdd.flatMap`` over (key, value) pairs
  (``mapPartitions`` when ``mapper_init``/``mapper_final`` hooks
  are used — per-partition setup/teardown, in-mapper combining)
- combiner       → per-partition local group + combine via
  ``mapPartitions`` (the map-side combine the reference would do
  before its shuffle)
- shuffle+reduce → ``groupByKey(num_partitions)`` + ``flatMap``
- secondary sort → composite-key ``repartitionAndSortWithinPartitions``
  partitioned on the natural key; the reducer STREAMS values in sort
  order (``sort_values_by=``), never materializing a per-key list
- counters       → :class:`Counters` over a dict-merging accumulator
- multi-step     → ``MRJob.steps()`` returning :class:`MRStep` list
  (per-step mapper/combiner/reducer + shuffle options; a
  reducer-less step is MAP-ONLY and plans no shuffle); the chained
  steps stay one lazy RDD lineage — no driver round-trip between
  passes

This is the engine's ONE deliberate RDD surface: arbitrary Python
objects as keys/values are exactly what DataFrames can't type. Jobs
expressible relationally should use the DataFrame operators instead
(every ``queries()`` entry is one); this layer exists for ports and
for genuinely dynamic jobs.

Scale: ``groupByKey`` materializes each key's values on one executor
— correct for the MR contract (reducer sees the full value iterator),
and the combiner keeps shuffle volume down, but a reducer that is
actually an aggregation should graduate to ``reduceByKey`` via
``run_job(..., associative_reduce=fn)`` or to a DataFrame groupBy.
For small jobs, per-task overhead dominates, not shuffle volume:
every map and reduce task is a Python worker round-trip. On a 4-core
VM the five MR jobs of the benchmark's batch pass waited 2.8 s of
their 3.1 s on Python workers under PySpark's stock daemon, and 0.65
of 1.15 s under the engine's ``pyworker`` daemon (``session.py``), so
the partition count, not the bytes shuffled, sets a small job's time.
"""

from __future__ import annotations

import datetime as _dt
import numbers
import warnings
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession

KV = tuple[Any, Any]
Mapper = Callable[[Any, Any], Iterable[KV]]
Reducer = Callable[[Any, Iterable[Any]], Iterable[KV]]


class _CounterDictParam(AccumulatorParam):
    """Dict-merging accumulator param behind :class:`Counters`."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, n in b.items():
            a[k] = a.get(k, 0) + n
        return a


class Counters:
    """MR-framework counters (`increment_counter(group, name)`):
    task-side increments merge into one driver-visible dict via a
    Spark accumulator — the exact job-instrumentation surface MR
    frameworks expose (records read, bad rows skipped, …).

    The object is picklable into mapper/reducer closures (Spark
    accumulators are designed to travel to tasks); read ``.value``
    on the driver AFTER an action has materialized the job. Like
    Hadoop counters, task retries can over-count on failure — use
    for telemetry, never for results.
    """

    def __init__(self, spark: SparkSession):
        self._acc = spark.sparkContext.accumulator({}, _CounterDictParam())

    def incr(self, group: str, name: str, amount: int = 1) -> None:
        self._acc.add({(group, name): amount})

    @property
    def value(self) -> dict[tuple[str, str], int]:
        return dict(self._acc.value)


class MRStep:
    """One step of a multi-step job — the classic ``steps()`` shape
    multi-pass MR programs are written in (wordcount → count-of-
    counts as ONE job class). Any subset of the three phases:

    - ``mapper=None`` — identity map (pairs pass through unchanged);
    - ``reducer=None`` — a MAP-ONLY step: no shuffle is planned at
      all, the mapped pairs flow straight into the next step (the
      real MR map-only-job semantics, not an identity reduce);
    - ``combiner`` — optional per-partition local combine.

    Per-step shuffle options (``num_partitions``,
    ``associative_reduce``, ``sort_values_by``) carry the same
    contracts as :func:`run_job`. Steps are hook-free by design:
    ``mapper_init``/``mapper_final`` are a single-step :class:`MRJob`
    feature — a multi-step program needing per-partition state splits
    into MRJob instances chained with :func:`run_pipeline`.
    """

    def __init__(
        self,
        mapper: Mapper | None = None,
        combiner: Callable[[Any, Iterable[Any]], Iterable[KV]] | None = None,
        reducer: Reducer | None = None,
        *,
        num_partitions: int | None = None,
        associative_reduce: Callable[[Any, Any], Any] | None = None,
        sort_values_by: Callable[[Any], Any] | None = None,
    ):
        if reducer is None and (
            combiner is not None
            or associative_reduce is not None
            or sort_values_by is not None
        ):
            raise TypeError(
                "MRStep: a map-only step (reducer=None) plans no "
                "shuffle, so combiner/associative_reduce/"
                "sort_values_by cannot apply"
            )
        self.mapper = mapper
        self.combiner = combiner
        self.reducer = reducer
        self.num_partitions = num_partitions
        self.associative_reduce = associative_reduce
        self.sort_values_by = sort_values_by


class MRJob:
    """Subclass-style job spec (the shape MR frameworks expose).

    Override ``mapper`` / ``reducer`` (and optionally ``combiner``,
    ``mapper_init`` / ``mapper_final``); run with :func:`run_job` or
    chain with :func:`run_pipeline`. Multi-pass programs may instead
    override :meth:`steps` to return a list of :class:`MRStep` — the
    steps run back-to-back, each step's output pairs feeding the
    next, with no driver round-trip between them (the chained RDD
    lineage is one lazy plan). Instance attributes assigned
    before running (lookup tables, config, a :class:`Counters`)
    travel to executors inside the pickled job closure — the
    distributed-cache idiom; wrap big read-only side data with
    ``spark.sparkContext.broadcast`` so it ships once per executor
    instead of once per task.
    """

    def steps(self) -> "list[MRStep] | None":
        """Multi-step programs return a list of :class:`MRStep`;
        the default ``None`` means the classic single-step shape
        (``mapper``/``combiner``/``reducer`` methods + hooks)."""
        return None

    def mapper_init(self) -> None:
        """Per-partition setup hook (open a model, compile a regex —
        runs ONCE per partition before the first record)."""

    def mapper(self, key: Any, value: Any) -> Iterable[KV]:
        yield (key, value)

    def mapper_final(self) -> Iterable[KV]:
        """Per-partition teardown hook; may emit trailing pairs (the
        mrjob-style in-mapper-combining flush)."""
        return ()

    def combiner(self, key: Any, values: Iterable[Any]) -> Iterable[KV]:
        # default: identity pass-through (no local combine)
        for v in values:
            yield (key, v)

    combiner_defined = False  # subclasses setting a real combiner flip this

    def reducer(self, key: Any, values: Iterable[Any]) -> Iterable[KV]:
        yield (key, list(values))


def _combine_partition(
    combiner: Callable[[Any, Iterable[Any]], Iterable[KV]],
) -> Callable[[Iterator[KV]], Iterator[KV]]:
    def apply(part: Iterator[KV]) -> Iterator[KV]:
        groups: dict[Any, list[Any]] = defaultdict(list)
        for k, v in part:
            groups[k].append(v)
        for k, vs in groups.items():
            yield from combiner(k, vs)

    return apply


def _total_order_key(x: Any):
    """A total order over arbitrary mixed-type keys: None first (the
    NULLS FIRST convention), then all numerics by value, then
    everything else grouped by a CANONICAL class and compared within
    class. Python3 refuses e.g. None < 'a', so sorting raw mixed keys
    would crash only when they happen to share a partition — a
    data-layout-dependent failure.

    Equality contract (ADVICE r4): the transformed key defines both
    the partition hash and the reducer grouping on the secondary-sort
    path, while the ``groupByKey`` path groups by raw-key ``==`` — so
    transformed-key equality must match Python ``==`` or the two
    ``run_job`` paths silently emit different groups. Hence the class
    tag is CANONICALIZED, not ``type(x).__name__``: any
    ``numbers.Number`` (Decimal, Fraction, numpy scalars, bool —
    complex excluded, it has no order) joins the one numeric branch
    where Decimal(1) == 1 == 1.0 group together exactly as a dict
    would merge them; str/bytes subclasses collapse to their base;
    datetime subclasses (e.g. pandas Timestamp) tag as "datetime".
    For classes outside these families, grouping is (class-name,
    value) — a documented, deliberate narrowing of ``==``.

    NaN keys (float or Decimal NaN — ``x != x``) get their own
    transformed class: a raw NaN in the numeric branch would violate
    the sort's total-order requirement (every comparison False), and
    Python's ``sorted`` can then legally interleave a NaN between
    equal keys, silently SPLITTING those keys' reducer runs. All
    NaNs map to ONE transformed key, so the sorted path groups them
    together — the groupByKey path cannot merge them at all
    (``nan != nan`` is Python semantics), which is documented
    divergence for a key class that is already outside any sane MR
    contract. complex keys order by (re, im) — arbitrary but total,
    and distinct complex values stay distinct."""
    if x is None:
        return (0,)
    if isinstance(x, numbers.Number):
        try:
            nan = x != x  # NaN of any numeric class (incl. complex NaN)
        except ArithmeticError:
            # Decimal('sNaN'): comparisons SIGNAL rather than return
            # False — it is still a NaN for grouping purposes
            nan = True
        if nan:
            return (1, "nan")
        if isinstance(x, complex):
            if x.imag == 0:  # complex(1, 0) == 1 under Python ==
                return (1, "", x.real)
            return (1, "complex", x.real, x.imag)
        return (1, "", x)
    if isinstance(x, tuple):
        return (2, "tuple", tuple(_total_order_key(e) for e in x))
    if isinstance(x, list):
        return (2, "list", tuple(_total_order_key(e) for e in x))
    if isinstance(x, str):
        return (2, "str", str(x))
    if isinstance(x, bytes):
        return (2, "bytes", bytes(x))
    if isinstance(x, _dt.datetime):  # before date: datetime IS a date
        # Sub-tag by tz-AWARENESS (ADVICE r5): aware vs naive datetime
        # comparison raises TypeError, so one mixed partition would
        # crash the sort — while aware == naive is already False under
        # Python ==, so splitting the classes preserves the equality
        # contract exactly. Awareness per the stdlib definition:
        # tzinfo set AND utcoffset() non-None (a tzinfo returning a
        # None offset is semantically naive and compares as such).
        return (2, "datetime", x.utcoffset() is not None, x)
    if isinstance(x, _dt.date):
        return (2, "date", x)
    if isinstance(x, _dt.time):
        # same aware/naive split as datetime, same rationale
        return (2, "time", x.utcoffset() is not None, x)
    return (2, type(x).__name__, x)


class _OneShotValues:
    """Single-pass value iterator for the secondary-sort reducer.

    The ``groupByKey`` path hands reducers a RE-ITERABLE
    ResultIterable; a streamed sorted run fundamentally cannot be
    re-wound. Silently yielding nothing on a second pass would turn
    a twice-iterating reducer's output subtly wrong — so the second
    ``__iter__`` raises instead (fail loud, the fn_regex lesson).
    """

    def __init__(self, first, rest):
        self._first = first
        self._rest = rest
        self._consumed = False

    def __iter__(self):
        if self._consumed:
            raise RuntimeError(
                "secondary-sort values are single-pass (streamed in "
                "sort order); buffer them yourself if the reducer "
                "needs two passes"
            )
        self._consumed = True
        yield self._first[1][1]
        for row in self._rest:
            yield row[1][1]

    def drain(self) -> None:
        """Exhaust any unread tail so itertools.groupby can advance
        to the next key run even when the reducer returned early."""
        if not self._consumed:
            self._consumed = True
        for _ in self._rest:
            pass


def _input_rdd(spark, records, num_partitions):
    sc = spark.sparkContext
    if isinstance(records, DataFrame):
        return records.rdd.map(lambda row: (None, row))
    if hasattr(records, "flatMap"):  # already an RDD
        return records
    return sc.parallelize(list(records), num_partitions or sc.defaultParallelism)


def _shuffle_reduce(
    mapped,
    reducer: Reducer,
    combiner,
    num_partitions: int | None,
    associative_reduce,
    sort_values_by,
):
    if associative_reduce is not None:
        if sort_values_by is not None:
            raise TypeError(
                "associative_reduce and sort_values_by are mutually "
                "exclusive: an associative fold is order-free by "
                "definition, so a sorted-values contract cannot apply"
            )
        return mapped.reduceByKey(associative_reduce, numPartitions=num_partitions)
    if combiner is not None:
        mapped = mapped.mapPartitions(_combine_partition(combiner))
    if sort_values_by is not None:
        # SECONDARY SORT, the real MR shuffle contract: values arrive
        # at the reducer in sort order WITHOUT materializing a
        # per-key list. Composite key (k, sortkey) is range-free —
        # partitioning hashes the NATURAL key only (all of k's
        # values land together), the within-partition sort orders by
        # (k, sortkey), and the reducer streams over consecutive
        # same-k runs. This is exactly how Hadoop implements it
        # (grouping comparator over a composite key). Keys and sort
        # keys are wrapped in a cross-type total order
        # (_total_order_key) so mixed None/str/int keys in one
        # partition sort instead of raising data-layout-dependent
        # TypeErrors (the groupByKey path only hashes, so it never
        # had the constraint).
        from itertools import groupby

        from pyspark.rdd import portable_hash

        comp = mapped.map(
            lambda kv: (
                (_total_order_key(kv[0]), _total_order_key(sort_values_by(kv[1]))),
                kv,
            )
        )
        n = num_partitions or mapped.context.defaultParallelism
        part = comp.repartitionAndSortWithinPartitions(
            numPartitions=n, partitionFunc=lambda ck: portable_hash(ck[0])
        )

        def reduce_runs(it: Iterator[tuple[Any, KV]]) -> Iterator[KV]:
            for _, grp in groupby(it, key=lambda row: row[0][0]):
                first = next(grp)
                k = first[1][0]  # the ORIGINAL natural key, untagged
                values = _OneShotValues(first, grp)
                yield from reducer(k, values)
                values.drain()  # keep the groupby cursor consistent

        return part.mapPartitions(reduce_runs)
    grouped = mapped.groupByKey(numPartitions=num_partitions)
    return grouped.flatMap(lambda kv: reducer(kv[0], kv[1]))


def run_job(
    spark: SparkSession,
    records: Iterable[KV] | "DataFrame",
    mapper: Mapper,
    reducer: Reducer,
    combiner: Callable[[Any, Iterable[Any]], Iterable[KV]] | None = None,
    num_partitions: int | None = None,
    associative_reduce: Callable[[Any, Any], Any] | None = None,
    sort_values_by: Callable[[Any], Any] | None = None,
):
    """Run one MapReduce job; returns an RDD of output (k, v) pairs.

    ``records``: an iterable of (key, value) pairs, or a DataFrame
    (each row becomes ``(None, Row)`` — the common "value-only input"
    convention).

    ``associative_reduce``: fast path — when the reduction is an
    associative binary op, uses ``reduceByKey`` (map-side partial
    merge, shuffle carries one value per key per partition) instead
    of ``groupByKey``.

    ``sort_values_by``: secondary sort — the reducer's value iterator
    arrives ordered by this key function, streamed (never
    materialized per key); the shuffle sorts a composite key while
    partitioning on the natural key, the classic Hadoop pattern.
    """
    rdd = _input_rdd(spark, records, num_partitions)
    mapped = rdd.flatMap(lambda kv: mapper(kv[0], kv[1]))
    return _shuffle_reduce(
        mapped, reducer, combiner, num_partitions,
        associative_reduce, sort_values_by,
    )


def _map_partitions_with_hooks(job: MRJob):
    def apply(part: Iterator[KV]) -> Iterator[KV]:
        job.mapper_init()
        for k, v in part:
            yield from job.mapper(k, v)
        yield from job.mapper_final() or ()

    return apply


def _run_step(spark: SparkSession, step: MRStep, records):
    """Execute one :class:`MRStep`: map (identity when absent), then
    either the full shuffle+reduce or — for a map-only step — no
    shuffle at all (the mapped pairs ARE the step's output).

    ``num_partitions`` on a map-only step is meaningful exactly when
    the step PARALLELIZES raw iterable input (the first step of a
    chain fed a plain list) — there it sizes ``sc.parallelize``.
    Mid-chain (RDD input) or on a DataFrame input there is no
    repartition point, so it would be silently ignored — that case
    raises instead (round-8 review: the constructor-time rejection
    over-reached and broke the legitimate first-step use)."""
    if (
        step.reducer is None
        and step.num_partitions is not None
        and (hasattr(records, "flatMap") or isinstance(records, DataFrame))
    ):
        raise TypeError(
            "MRStep: num_partitions on a map-only step only applies "
            "when the step parallelizes raw iterable input; this "
            "step's input is already an RDD/DataFrame, so the "
            "setting would be silently ignored — set it on a reduce "
            "step or on the chain's first (iterable-fed) step"
        )
    rdd = _input_rdd(spark, records, step.num_partitions)
    if step.mapper is not None:
        mapper = step.mapper
        rdd = rdd.flatMap(lambda kv: mapper(kv[0], kv[1]))
    if step.reducer is None:
        return rdd  # map-only: no shuffle planned
    return _shuffle_reduce(
        rdd,
        step.reducer,
        step.combiner,
        step.num_partitions,
        step.associative_reduce,
        step.sort_values_by,
    )


def _warn_ignored_overrides(job: MRJob, steps) -> None:
    """A job that returns ``steps()`` AND overrides the classic
    single-step surface is an easy migration mistake: the steps path
    never calls ``mapper``/``combiner``/``reducer`` (unless a step
    explicitly references them) and NEVER runs the per-partition
    ``mapper_init``/``mapper_final`` hooks — so in-mapper-combining
    state or Counters setup would quietly not happen. Mirror the loud
    kw rejection with a loud warning (ADVICE r5). A warning, not a
    raise: a step may legitimately wrap an overridden method in a
    closure we cannot see through."""
    step_fns = set()
    for s in steps:
        for fn in (s.mapper, s.combiner, s.reducer):
            if fn is not None:
                step_fns.add(getattr(fn, "__func__", fn))
    cls = type(job)
    ignored = [
        name
        for name in ("mapper", "combiner", "reducer")
        if getattr(cls, name) is not getattr(MRJob, name)
        and getattr(cls, name) not in step_fns
    ]
    # hooks run ONLY on the classic path — referenced or not
    ignored += [
        name
        for name in ("mapper_init", "mapper_final")
        if getattr(cls, name) is not getattr(MRJob, name)
    ]
    if ignored:
        warnings.warn(
            f"run_mrjob: {cls.__name__}.steps() is in effect, so the "
            f"overridden {ignored!r} will NOT run (steps carry their "
            "own mapper/combiner/reducer; per-partition hooks only "
            "apply on the classic single-step path). Reference them "
            "from an MRStep or drop the overrides.",
            stacklevel=3,
        )


def run_mrjob(spark: SparkSession, job: MRJob, records, **kw):
    """Run a subclass-style :class:`MRJob`. ``mapper_init`` /
    ``mapper_final`` hooks run once per partition around the map
    phase (so in-mapper combining state lives across records and is
    flushed at partition end). A job overriding :meth:`MRJob.steps`
    runs its steps back-to-back instead (options then live ON the
    steps — passing ``**kw`` here would be ambiguous and raises, and
    an overridden classic surface the steps don't reference warns
    loudly instead of silently never running)."""
    unknown = set(kw) - {"num_partitions", "associative_reduce", "sort_values_by"}
    if unknown:
        raise TypeError(f"run_mrjob: unknown options {sorted(unknown)!r}")
    steps = job.steps()
    if steps is not None:
        if kw:
            raise TypeError(
                "run_mrjob: a multi-step job carries its options on "
                "each MRStep; per-run options would silently apply "
                "to every step"
            )
        if not steps:
            raise ValueError("run_mrjob: steps() returned an empty list")
        _warn_ignored_overrides(job, steps)
        out = records
        for step in steps:
            out = _run_step(spark, step, out)
        return out
    combiner = job.combiner if job.combiner_defined else None
    num_partitions = kw.get("num_partitions")
    rdd = _input_rdd(spark, records, num_partitions)
    mapped = rdd.mapPartitions(_map_partitions_with_hooks(job))
    return _shuffle_reduce(
        mapped,
        job.reducer,
        combiner,
        num_partitions,
        kw.get("associative_reduce"),
        kw.get("sort_values_by"),
    )


def run_pipeline(spark: SparkSession, records, *jobs: MRJob, **kw):
    """Chain jobs: output pairs of job N feed job N+1 (the reference's
    manual-DAG chaining, SURVEY.md §3.1)."""
    out = records
    for job in jobs:
        out = run_mrjob(spark, job, out, **kw)
    return out
