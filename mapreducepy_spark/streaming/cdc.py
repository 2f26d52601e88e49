"""Streaming CDC apply — the MERGE of operators/cdc.py run
continuously: a changelog stream folded onto a base snapshot with
latest-wins + tombstone semantics, exactly-once.

Shape (the standard foreachBatch-MERGE recipe on a plain parquet
lakehouse — no table format required):

- state lives as VERSIONED parquet snapshots ``v=<batch_id>``; each
  micro-batch reads the latest version, folds the batch in with the
  SAME ``merge_reduce`` the registered batch key uses (shared
  function — stream and batch CANNOT drift), and overwrites its own
  ``v=<batch_id>`` directory. A replayed batch rewrites identical
  bytes (the sinks.py idempotence rule), so at-least-once delivery +
  idempotent writes = exactly-once state.
- tombstones stay IN the state (merge_reduce keeps them) so a late,
  lower-sequence 'U' can never resurrect a deleted key; readers get
  deletes materialized through ``live_view``.
- because the fold is associative and order-independent (argmax over
  a total order + a weight sum), ANY batch split of the changelog
  converges to the batch MERGE's answer — pinned by the cross-batch
  replay test in tests/test_streaming.py.

At 100 TB/day: state versions are partitioned parquet keyed on the
business key; the per-batch fold shuffles (batch ∪ state) once on
that key, and compaction of old versions is an offline delete that
never races the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import live_view, merge_reduce, orders_changelog

_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def read_orders_stream(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of order change events (one file per
    trigger by default, so multi-file fixtures exercise true
    micro-batch boundaries)."""
    return (
        spark.readStream.schema(_ORDERS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )


def _latest_version(state_dir: str, before: int | None = None) -> str | None:
    """Path of the newest ``v=<n>`` state version (only versions
    below ``before`` when given), or None when there is none."""
    if not os.path.isdir(state_dir):
        return None
    vs = [
        int(d[2:])
        for d in os.listdir(state_dir)
        if d.startswith("v=") and d[2:].isdigit()
        and (before is None or int(d[2:]) < before)
    ]
    if not vs:
        return None
    return os.path.join(state_dir, f"v={max(vs)}")


def apply_changes_batch(spark: SparkSession, state_dir: str):
    """The ``foreachBatch`` function: fold this micro-batch of order
    changes onto the latest state version and write ``v=<batch_id>``.

    Idempotent by construction: the fold reads only versions OLDER
    than this batch (a replayed batch N re-reads the same
    predecessor — its own half-written ``v=N`` is explicitly
    excluded) and overwrites ``v=N`` with deterministic content.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # micro-batch N owns version N+1 (the base seed is v=0, and
        # batch ids start at 0 — the +1 keeps the seed distinct)
        version = batch_id + 1
        prev = _latest_version(state_dir, before=version)
        chg = orders_changelog(batch_df)
        if prev is None:
            unioned = chg
        else:
            unioned = spark.read.parquet(prev).unionByName(chg)
        merge_reduce(unioned).write.mode("overwrite").parquet(
            f"{state_dir}/v={version}"
        )

    return apply


def init_state(base: DataFrame, state_dir: str) -> None:
    """Seed the state with the base snapshot as version 0 (micro-
    batch N writes version N+1, so the seed is always the oldest).
    ``base`` is already in the unioned-changelog shape
    (operators/cdc.py ``base_snapshot``)."""
    merge_reduce(base).write.mode("overwrite").parquet(
        f"{state_dir}/v=0"
    )


def start_cdc_apply(
    stream_df: DataFrame,
    spark: SparkSession,
    state_dir: str,
    checkpoint_dir: str,
):
    """Drain a (bounded) changelog stream into versioned merge state
    (AvailableNow trigger; checkpoint makes restarts resume, the
    versioned idempotent fold makes replays harmless)."""
    return (
        stream_df.writeStream.foreachBatch(
            apply_changes_batch(spark, state_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_live(spark: SparkSession, state_dir: str) -> DataFrame:
    """The queryable MERGE result over the latest state version —
    deletes materialized, same output schema as the registered batch
    ``merge_upsert`` key."""
    latest = _latest_version(state_dir)
    if latest is None:
        raise FileNotFoundError(f"no state versions under {state_dir}")
    return live_view(spark.read.parquet(latest))
