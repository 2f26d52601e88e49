"""Query catalog: the single source of truth behind ``__spark_entry__.py``.

Every operator from SURVEY.md §2 registers itself here with

- a **builder** ``(spark, sf_dir) -> DataFrame`` (pure DataFrame API,
  aliased columns), and
- an **oracle**: the equivalent ANSI SQL DuckDB runs on the same
  parquet tables (``None`` for ops that are not SQL-expressible —
  the driver then records a weaker rows-only check).

The alias discipline (FIXTURES.md "hash-parity gotchas") is enforced
socially: builder and oracle are written together, column-for-column,
and ``tests/test_parity.py`` runs both sides on sf0.001 and compares
row-count + dtype-kind + canonicalized values — a local mirror of the
driver's order-insensitive value-hash gate.
"""

from __future__ import annotations

import importlib
import json
import pathlib
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}

# Modules whose import populates REGISTRY; their import order is the
# registration order that breaks ties in ``load_catalog``.
_MODULES = (
    "mapreducepy_spark.operators.scans",
    "mapreducepy_spark.operators.filters",
    "mapreducepy_spark.operators.joins",
    "mapreducepy_spark.operators.aggregates",
    "mapreducepy_spark.operators.windows",
    "mapreducepy_spark.operators.sorts",
    "mapreducepy_spark.operators.sets",
    "mapreducepy_spark.operators.temporal",
    "mapreducepy_spark.operators.sampling",
    "mapreducepy_spark.operators.subqueries",
    "mapreducepy_spark.operators.graph",
    "mapreducepy_spark.operators.cdc",
    "mapreducepy_spark.sources.jsonl",
    "mapreducepy_spark.sources.csv_source",
    "mapreducepy_spark.sources.orc_source",
    "mapreducepy_spark.sources.avro_source",
    "mapreducepy_spark.functions.scalar",
    "mapreducepy_spark.llm.dedup",
    "mapreducepy_spark.llm.similarity",
    "mapreducepy_spark.llm.text",
    "mapreducepy_spark.llm.multimodal",
    "mapreducepy_spark.llm.tokenizer",
    "mapreducepy_spark.llm.embedstats",
    "mapreducepy_spark.llm.pipeline",
    "mapreducepy_spark.llm.pii",
)

# The driver's correctness ledgers, ``CORRECTNESS_r<N>.json``, sit
# next to the package; ``load_catalog`` orders the catalog from them.
_LEDGER_DIR = pathlib.Path(__file__).resolve().parent.parent
_GREEN_FIELDS = ("rows_match", "schema_match", "hash_match")


def register(name: str, oracle: str | None, tags: tuple[str, ...] = ()):
    """Decorator: add a query builder to the catalog."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, builder=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def _green_rounds() -> dict[str, tuple[int, int]]:
    """Key -> (last, first) ledger round in which the driver recorded
    it green: rows, schema and hash all matched, no error."""
    rounds: dict[str, tuple[int, int]] = {}
    for path in _LEDGER_DIR.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        n = int(m.group(1))
        for key, row in json.loads(path.read_text()).items():
            if not isinstance(row, dict) or row.get("err") is not None:
                continue
            if all(row.get(f) is True for f in _GREEN_FIELDS):
                last, first = rounds.get(key, (n, n))
                rounds[key] = (max(last, n), min(first, n))
    return rounds


def load_catalog() -> dict[str, Query]:
    """Import all operator modules (idempotent) and return the catalog
    in evidence order.

    The driver evaluates ``queries()`` front to back under a bounded
    budget (every round so far stopped at the first 50 keys), so the
    order decides which keys get fresh oracle evidence. Keys sort by
    (no oracle, last green round, first green round, registration
    order): a key never recorded green counts as round 0 and leads,
    the stalest evidence follows, and the rows-only keys go last —
    the driver records ``err: "no_oracle"`` for them, so a window
    slot spent on one shows nothing.
    """
    for mod in _MODULES:
        importlib.import_module(mod)
    rounds = _green_rounds()
    # sorted() is stable, so ties keep registration order
    ordered = sorted(
        REGISTRY.values(),
        key=lambda q: (q.oracle is None, *rounds.get(q.name, (0, 0))),
    )
    return {q.name: q for q in ordered}
