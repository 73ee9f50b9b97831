"""Structured Streaming twins of the two pipelines (SURVEY.md §2.10,
§4.2's four "not free in Spark" behaviors live here).

  * watermark: withWatermark('ts', '40 seconds') — the reference's 10 s
    bounded disorder (MyWatermark.java:15) + 30 s allowed lateness
    (DataReport.java:140) folded into one bound, per SURVEY.md §2.6 W3;
  * re-fire semantics: update output mode + idempotent keyed upsert in
    foreachBatch — the ES-sink deterministic doc id trick
    (DataReport.java:181) that makes late corrections overwrites;
  * late side output: stream_report_with_late_split's foreachBatch
    routes records older than the observed watermark to a TSV channel
    (W4) and folds the rest into the result window by window;
    stream_report counts them as numRowsDroppedByWatermark;
  * dim refresh: the dimension DataFrame is re-derived inside
    foreachBatch each micro-batch — the 60 s Redis poll twin (S2).

Sources: tests drive these with file/rate sources; on a real cluster
swap `readStream.format('kafka')` in — the transformation core is
byte-identical (it's the same functions from flinkproj_spark.pipelines).
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproj_spark.functions import cache_scope
from flinkproj_spark.pipelines import (
    clean_transform,
    report_aggregate,
    report_late_split,
    report_merge,
    report_parse,
)

WATERMARK = "40 seconds"  # 10 s disorder + 30 s allowed lateness (W1+W3)


def stream_clean(
    spark: SparkSession,
    raw_stream: DataFrame,
    dim_loader: Callable[[SparkSession], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming Pipeline 1: per-micro-batch dim reload (S2's 60 s Redis
    poll becomes a reload per batch — strictly fresher) + the shared
    clean core, parquet sink. Each epoch overwrites its own
    `out_dir/epoch=<id>`, so an epoch replayed after a lost commit
    replaces its output instead of appending it twice. Returns the
    StreamingQuery."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        dim = dim_loader(batch.sparkSession)
        cleaned = clean_transform(batch, dim)
        cleaned.write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch={epoch_id}"))

    return (
        raw_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_report(
    spark: SparkSession,
    raw_stream: DataFrame,
    result_dir: str,
    late_dir: str,
    checkpoint_dir: str,
):
    """Streaming Pipeline 2 with exactly-once *effect*:

    parse → watermark(40 s) → windowed count+max in update mode →
    foreachBatch MERGE-style upsert keyed on the deterministic doc_id
    (late arrivals within the watermark re-fire the window and
    overwrite — observably the ES upsert, K3). The doc_id opens with
    the window's event-time minute, which is the sink's partition: a
    window older than the watermark never re-fires, so each trigger
    rewrites only the newest one or two minutes of the result, however
    long it has run. Rows older than the
    watermark are dropped by the stateful aggregate, and the late
    accounting is each progress record's numRowsDroppedByWatermark
    (the sink runs the micro-batch plan once, so every late row counts
    once); `late_dir` is not written here — the W4 side output lives in
    stream_report_with_late_split."""
    from flinkproj_spark.sinks import upsert_keyed

    parsed = report_parse(raw_stream).withWatermark("ts", WATERMARK)
    agg = report_aggregate(parsed)

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        upsert_keyed(batch, result_dir, "doc_id")

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_report_with_late_split(
    spark: SparkSession,
    raw_stream: DataFrame,
    result_dir: str,
    late_dir: str,
    checkpoint_dir: str,
):
    """Variant exposing the W4 side output explicitly: one foreachBatch
    over the *parsed* stream computes its own watermark bound (max seen
    event time − 40 s, the MyWatermark.java:19-21 formula) and splits.
    The on-time half is folded into the result per window: each window
    the batch touches merges its batch partial (count, max time) with
    its latest stored version, read from the touched `kb` buckets, and
    the merge goes through `upsert_keyed` — so a window whose rows
    arrive over several triggers converges to its batch-twin count.

    The query runs on Spark's default trigger until it is stopped, as
    the deployed report job does (DataReport.java runs until
    cancelled); tests drive it with processAllAvailable() and stop().

    A replayed epoch (the sink ran but its commit was lost) is a no-op:
    the last applied epoch id is recorded beside max_ts once the epoch's
    writes are done. A failure between those writes and the record
    still applies the epoch twice on replay (its late rows and counts)."""
    from flinkproj_spark.sinks import read_buckets, upsert_bucket, upsert_keyed
    from flinkproj_spark.streaming.warehouse import _fs_and_path

    parsed = report_parse(raw_stream)
    # Watermark state must survive query restarts exactly like Spark's
    # own (checkpointed) watermark — persist max event time, and the
    # last applied epoch, beside the checkpoint, through the Hadoop FS
    # API so an hdfs:// or file:// checkpoint keeps it on its own file
    # system.
    fs, wm_file = _fs_and_path(
        spark, os.path.join(checkpoint_dir, "_late_split_watermark.json")
    )

    def _load_state() -> dict:
        if not fs.exists(wm_file):
            return {}
        stream = fs.open(wm_file)
        try:
            return json.loads(stream.readAllBytes())
        except ValueError:
            return {}
        finally:
            stream.close()

    def _store_state(max_ts: str, epoch_id: int) -> None:
        out = fs.create(wm_file, True)
        try:
            out.write(json.dumps({"max_ts": max_ts, "epoch": epoch_id}).encode())
        finally:
            out.close()

    def process(batch: DataFrame, epoch_id: int) -> None:
        state = _load_state()
        if epoch_id <= state.get("epoch", -1):
            return  # replay of an epoch whose writes are already applied
        with cache_scope() as scope:
            batch = scope.hold(batch)
            # Format the max event time JVM-side (session timezone) —
            # collecting the raw timestamp would surface it as a Python
            # datetime in the HOST timezone, and re-parsing that string
            # with to_timestamp (session TZ) shifted the watermark by
            # the host/UTC offset on non-UTC hosts.
            mx = batch.agg(
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            ).collect()[0][0]
            if mx is None:
                return  # empty batch
            cur = max(p for p in (state.get("max_ts"), mx) if p)
            wm = F.to_timestamp(F.lit(cur)) - F.expr(f"INTERVAL {WATERMARK}")
            on_time, late = report_late_split(batch, wm)
            late.write.mode("append").text(late_dir)
            partial, touched = scope.hold_values(
                report_aggregate(on_time).withColumn("kb", upsert_bucket()), "kb"
            )
            if touched:
                stored = read_buckets(spark, result_dir, touched, partial.schema)
                merged = partial.drop("kb") if stored is None else report_merge(partial, stored)
                upsert_keyed(merged, result_dir, "doc_id")
        _store_state(cur, epoch_id)

    return (
        parsed.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )

