"""The reference's two pipelines, batch mode (SURVEY.md §2.10).

One transformation core per pipeline, shared verbatim by the streaming
twins in flinkproj_spark/streaming/ — Structured Streaming's unified
API means the same DataFrame functions run in both modes, which is what
lets the DuckDB oracle check the batch half and the streaming tests
assert convergence to it.

Pipeline 1 — DataClean (DataClean.java:37-114):
    parse JSON → explode data[] → left-broadcast-join country→area dim
    → inject area/dt → serialize.
Pipeline 2 — DataReport (DataReport.java:48-204):
    parse → drop bad timestamps → 30 s tumbling window per (type, area)
    → count + max(ts) → idempotent keyed upsert; late records split to
    a TSV side channel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, StringType, StructField, StructType,
)

# Wire schema of the clean job's input (FIXTURES.md §1, kafkaProducer.java:34).
ALLDATA_SCHEMA = StructType([
    StructField("dt", StringType()),
    StructField("countryCode", StringType()),
    StructField("data", ArrayType(StructType([
        StructField("type", StringType()),
        StructField("score", DoubleType()),
        StructField("level", StringType()),
    ]))),
])

# Wire schema of the report job's input (FIXTURES.md §3).
AUDITLOG_SCHEMA = StructType([
    StructField("dt", StringType()),
    StructField("type", StringType()),
    StructField("username", StringType()),
    StructField("area", StringType()),
])


def clean_transform(raw: DataFrame, dim: DataFrame) -> DataFrame:
    """DataClean core: value:string JSON lines in, cleaned JSON lines out.

    from_json is permissive (null on corrupt records — the reference has
    no handler and would crash, FIXTURES.md §6.2; we drop them), explode
    is the 1→N flatten (DataClean.java:83-90), the broadcast left join +
    coalesce('other') is the CoFlatMap enrichment with the Scala
    default (DataClean.java:69-97, DataCleanScala.scala:68)."""
    parsed = raw.select(F.from_json("value", ALLDATA_SCHEMA).alias("j"))
    # No explicit null filter: corrupt records parse to a null struct,
    # whose null data array the explode drops for free. (An isNotNull
    # filter here makes Catalyst evaluate the from_json TWICE per row —
    # once in the pushed Filter, once in the Project.)
    flat = parsed.select(
        F.col("j.dt").alias("dt"),
        F.col("j.countryCode").alias("countryCode"),
        F.explode("j.data").alias("d"),
    )
    enriched = flat.join(
        F.broadcast(dim), flat.countryCode == dim.country, "left"
    ).select(
        "dt",
        F.coalesce("area", F.lit("other")).alias("area"),
        F.col("d.type").alias("type"),
        F.col("d.score").alias("score"),
        F.col("d.level").alias("level"),
    )
    return enriched.select(
        F.to_json(F.struct("type", "score", "level", "area", "dt")).alias("value")
    )


def report_parse(raw: DataFrame) -> DataFrame:
    """DataReport parse+filter core: JSON line → (ts, type, area), bad
    timestamps dropped (DataReport.java:94-129; NULL is the sentinel)."""
    j = raw.select(F.from_json("value", AUDITLOG_SCHEMA).alias("j")).select("j.*")
    parsed = j.select(
        F.try_to_timestamp("dt", F.lit("yyyy-MM-dd HH:mm:ss")).alias("ts"),
        F.col("type"),
        F.col("area"),
    )
    return parsed.filter(F.col("ts").isNotNull())


REPORT_WINDOW = "30 seconds"  # DataReport's tumbling window


def report_doc_id() -> Column:
    """The deterministic upsert key of a report row (DataReport.java:181):
    its time with spaces→'_', -type, -area."""
    return F.concat_ws("-", F.regexp_replace("time", " ", "_"), "type", "area")


def report_aggregate(parsed: DataFrame) -> DataFrame:
    """DataReport window core: 30 s tumble per (type, area) → count +
    formatted max(ts) + deterministic upsert key (MyAggFunction.java:19-51;
    key spec DataReport.java:181: time with spaces→'_', -type, -area)."""
    agg = parsed.groupBy(F.window("ts", REPORT_WINDOW).alias("w"), "type", "area").agg(
        F.count("*").alias("count"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("time"),
    )
    return agg.select("time", "type", "area", "count", report_doc_id().alias("doc_id"))


def report_merge(partial: DataFrame, stored: DataFrame) -> DataFrame:
    """Fold one batch's `report_aggregate` into the stored result: for
    each window the batch touches, count = batch count + the count of
    the window's latest stored version (a window's versions only grow,
    so the latest is the largest), and time = the later max time, keyed
    by that time's doc id. Windows are recovered from `time`, which lies
    inside its window; stored windows the batch does not touch drop out."""
    fresh = partial.select(
        "time", "type", "area", F.col("count").alias("fresh"), F.lit(0).cast("long").alias("kept")
    )
    kept = stored.select(
        "time", "type", "area", F.lit(0).cast("long").alias("fresh"), F.col("count").alias("kept")
    )
    merged = (
        fresh.unionByName(kept)
        .groupBy(F.window(F.to_timestamp("time"), REPORT_WINDOW), "type", "area")
        .agg(F.sum("fresh").alias("fresh"), F.max("kept").alias("kept"), F.max("time").alias("time"))
        .filter(F.col("fresh") > 0)
    )
    return merged.select(
        "time", "type", "area", (F.col("fresh") + F.col("kept")).alias("count"),
        report_doc_id().alias("doc_id"),
    )


def report_late_split(parsed: DataFrame, watermark_ts) -> tuple[DataFrame, DataFrame]:
    """Side-output twin (DataReport.java:132,141,146-161): split one
    batch into on-time and late against a watermark bound; late goes out
    as the reference's TSV (epochMillis\\ttype\\tarea)."""
    on_time = parsed.filter(F.col("ts") >= watermark_ts)
    late = parsed.filter(F.col("ts") < watermark_ts).select(
        F.concat_ws(
            "\t",
            (F.unix_timestamp("ts") * 1000).cast("string"),
            "type",
            "area",
        ).alias("value")
    )
    return on_time, late

