"""Streaming extension operators beyond the reference's two pipelines:
stream-stream interval join, streaming exact dedup, sliding-window
counts.

The reference joins a stream only against a broadcast dimension
(DataClean.java:69-97); it has no stream-stream join, no streaming
dedup, and only tumbling windows (SURVEY.md §2.9). These are the
Structured Streaming capabilities a user migrating real pipelines onto
this engine needs next, and each is the idiomatic Spark construct —
state bounded by watermarks, no custom state code.

Scale notes:
  * the stream-stream join keys both sides' state stores on the equi
    column, so matching is a per-key state lookup, not a scan; the
    watermark + interval bound lets Spark evict both stores — without
    it state grows forever at 100 TB/day;
  * dropDuplicatesWithinWatermark keeps one state row per key within
    the watermark horizon — the streaming twin of the batch
    dedup_exact operator;
  * the sliding window shares the batch operator's semantics
    (sampling.sliding_window_agg) — same core, streaming state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flinkproj_spark.operators.sampling import SLIDE_STEP, SLIDE_WINDOW
from flinkproj_spark.streaming.pipelines import WATERMARK

MAX_CLICK_DELAY = "10 minutes"  # attribution window after an impression


def _attribution_join(impressions: DataFrame, clicks: DataFrame, how: str) -> DataFrame:
    imp = impressions.withWatermark("imp_ts", MAX_CLICK_DELAY)
    clk = clicks.withWatermark("click_ts", MAX_CLICK_DELAY)
    return imp.join(
        clk,
        (imp["ad_id"] == clk["ad_id"])
        & (clk["click_ts"] >= imp["imp_ts"])
        & (clk["click_ts"] <= imp["imp_ts"] + F.expr(f"INTERVAL {MAX_CLICK_DELAY}")),
        how,
    ).select(imp["ad_id"], "imp_ts", "click_ts")


def stream_stream_join(impressions: DataFrame, clicks: DataFrame) -> DataFrame:
    """Inner join of two event streams on ad_id where the click happens
    within [0, MAX_CLICK_DELAY] after its impression — the canonical
    impression/click attribution join. Both watermarks plus the interval
    condition bound the join state on both sides.

    Inputs need columns (ad_id, imp_ts) and (ad_id, click_ts)."""
    return _attribution_join(impressions, clicks, "inner")


def stream_stream_left_join(impressions: DataFrame, clicks: DataFrame) -> DataFrame:
    """LEFT OUTER variant of the attribution join: every impression
    emits — matched rows as soon as the click arrives, UNMATCHED ones
    with a null click_ts once the watermark proves no click can still
    come (impression state is held exactly until imp_ts +
    MAX_CLICK_DELAY passes the watermark, then emitted-null and
    evicted). The unattributed channel is the half a funnel dashboard
    actually monitors; an inner join silently drops it.

    Same state bound as the inner join — the outer behavior changes
    only WHEN unmatched rows leave the store, not how much state is
    held. Inputs need (ad_id, imp_ts) and (ad_id, click_ts)."""
    return _attribution_join(impressions, clicks, "left_outer")


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact deduplication on event_id: keeps the first
    arrival of each id, drops re-deliveries within the watermark
    horizon (the report pipeline's WATERMARK); state for an id is
    evicted once the watermark passes it (duplicates straggling beyond
    the horizon are an at-least-once tail, same contract as the
    reference's idempotent-upsert sink K3).

    Input needs columns (event_id, ts ...); all columns pass through."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_sliding_counts(events: DataFrame) -> DataFrame:
    """Hopping-window per-type counts over a stream — the streaming twin
    of sampling.sliding_window_agg, on its SLIDE_WINDOW/SLIDE_STEP
    (each event counted in 3 overlapping windows), under the report
    pipeline's WATERMARK.

    Input needs columns (ts, event_type)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", SLIDE_WINDOW, SLIDE_STEP).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "cnt",
        )
    )
