"""Streaming micro-bench (VERDICT r13 work order #8).

Times the streaming surface end-to-end with an AvailableNow trigger:
each op drains the staged fixture through its real streaming plan
(file micro-batch source → stateful op → sink) and reports wall-clock
from ``start()`` to termination plus the micro-batch count, both
per run. The sink is ``noop`` (same discipline as bench.py) except
the band-index appender, whose ``foreachBatch`` INSERT is the thing
being measured.

This is a latency gauge for the operators' micro-batch overhead at
fixture scale, not a throughput claim: at production scale the source
is Kafka and per-batch state I/O dominates; what this pins is that no
op hides a super-linear per-batch cost or a silently growing state.

Usage: python scripts/bench_streaming.py  [--runs N]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS.
Prints one line per (op, run) and a final JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreducepy_spark.session import get_spark


def _drain(stream_df, sink_builder, timeout=180):
    """Start, drain (availableNow), await, return (sec, n_batches)."""
    t0 = time.perf_counter()
    q = sink_builder(stream_df)
    finished = q.awaitTermination(timeout)
    sec = time.perf_counter() - t0
    if not finished:
        q.stop()
        raise TimeoutError("streaming query did not finish")
    lp = q.lastProgress
    batches = (lp["batchId"] + 1) if lp else 0
    return sec, batches


def _noop_sink(ckpt_dir, mode):
    def builder(df):
        return (
            df.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )

    return builder


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark(app_name="bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    from mapreducepy_spark.io import load
    from mapreducepy_spark.sources.jsonl import (
        _JSONL_DOC_SCHEMA,
        ensure_jsonl_fixture,
    )
    from mapreducepy_spark.streaming import ingest as si
    from mapreducepy_spark.streaming import joins as sj
    from mapreducepy_spark.streaming import windows as sw
    from mapreducepy_spark.streaming.sinks import start_band_index_maintenance

    work = tempfile.mkdtemp(prefix="bench_streaming_")

    # --- staged sources (arrival split in 2 so every op crosses a
    # real micro-batch boundary, the test suite's discipline) -------
    ev_dir = os.path.join(work, "events")
    os.makedirs(ev_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{ev_dir}/part-000.parquet")

    jl_src = ensure_jsonl_fixture(sf_dir)
    land = os.path.join(work, "landing")
    os.makedirs(land)
    with open(jl_src, "rb") as fh:
        lines = fh.read().splitlines(keepends=True)
    half = len(lines) // 2
    with open(f"{land}/upload-000.jsonl", "wb") as fh:
        fh.write(b"".join(lines[:half]))
    with open(f"{land}/upload-001.jsonl", "wb") as fh:
        fh.write(b"".join(lines[half:]))

    # incoming docs for the band-index appender (2 donor docs → 2
    # files → 2 batches, the round-16 test's shape)
    donors = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .orderBy("doc_id")
        .limit(2)
        .select("doc_id", "text")
        .collect()
    )
    in_dir = os.path.join(work, "incoming")
    os.makedirs(in_dir)
    for i, d in enumerate(donors):
        spark.createDataFrame(
            [(999_200_000 + i, d.text)], "doc_id bigint, text string"
        ).coalesce(1).write.parquet(f"{in_dir}/f{i}")

    def events_stream():
        return sw.read_events_stream(spark, ev_dir)

    def op_ingest():
        stream = si.read_jsonl_stream(
            spark, land, _JSONL_DOC_SCHEMA, max_files_per_trigger=1
        )
        return si.quarantine_census(stream), "complete"

    def op_tumbling():
        return sw.tumbling_counts(sw.with_watermark(events_stream())), "append"

    def op_interval_join():
        ev = sw.with_watermark(events_stream())
        purchases = ev.filter(F.col("event_type") == "purchase")
        views = sw.with_watermark(events_stream()).filter(
            F.col("event_type") == "view"
        )
        return sj.attribution_pairs(purchases, views), "append"

    def op_dedup_monitor():
        # dedup_events declares its own watermark — pass the raw stream
        return sw.dedup_events(events_stream()), "append"

    def op_absence_monitor():
        return (
            sw.silent_user_alerts(
                events_stream(), threshold_min=360, watermark="1 hour"
            ),
            "append",
        )

    ops = {
        "ingest_jsonl_census": op_ingest,
        "watermark_tumbling": op_tumbling,
        "interval_join_attribution": op_interval_join,
        "dedup_monitor": op_dedup_monitor,
        "absence_monitor": op_absence_monitor,
    }

    results: dict[str, dict] = {}
    for name, build in ops.items():
        runs = []
        batches = []
        for r in range(args.runs):
            ckpt = os.path.join(work, f"ckpt_{name}_{r}")
            df, mode = build()
            sec, n = _drain(df, _noop_sink(ckpt, mode))
            runs.append(round(sec, 3))
            batches.append(n)
            print(f"{name} run{r + 1}={sec:.3f}s batches={n}", flush=True)
        results[name] = {
            "min": min(runs),
            "max": max(runs),
            "runs": runs,
            "batches": batches,
        }

    # band-index appender: foreachBatch INSERT into a fresh copy of
    # the persisted band index per run (the write IS the workload)
    from mapreducepy_spark.llm.dedup import _ensure_band_index

    base = _ensure_band_index(spark, sf_dir)
    runs = []
    batches = []
    for r in range(args.runs):
        copy = f"bandidx_bench_{r}"
        spark.sql(f"DROP TABLE IF EXISTS {copy}")
        (
            spark.table(base)
            .repartition(8, F.col("band"), F.col("sig"))
            .write.bucketBy(8, "band", "sig")
            .format("parquet")
            .saveAsTable(copy)
        )
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{in_dir}/f*")
        )
        ckpt = os.path.join(work, f"ckpt_band_{r}")
        t0 = time.perf_counter()
        q = start_band_index_maintenance(stream, copy, ckpt)
        finished = q.awaitTermination(180)
        sec = time.perf_counter() - t0
        if not finished:
            q.stop()
            raise TimeoutError("band index maintenance did not finish")
        lp = q.lastProgress
        n = (lp["batchId"] + 1) if lp else 0
        runs.append(round(sec, 3))
        batches.append(n)
        print(f"band_index_append run{r + 1}={sec:.3f}s batches={n}", flush=True)
        spark.sql(f"DROP TABLE IF EXISTS {copy}")
    results["band_index_append"] = {
        "min": min(runs),
        "max": max(runs),
        "runs": runs,
        "batches": batches,
    }

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "streaming_bench",
                "sf_dir": sf_dir,
                "runs_per_op": args.runs,
                "ops": results,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
