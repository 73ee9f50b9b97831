"""Synthetic event generators — rate-source twins of the reference's
standalone Kafka producers (SURVEY.md §2.1 S3/S4).

The reference's producers emit one JSON message per 2 s / 1 s sleep
loop (kafkaProducer.java:33-38, kafkaProducerDataReport.java:37-42)
with fixed value pools. Here the same distributions ride Spark's rate
source, so the generators scale to any events/sec and stay inside the
engine (no external process)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Value pools, verbatim from the reference generators.
COUNTRIES = ["US", "TW", "HK", "PK", "KW", "SA", "IN"]     # kafkaProducer.java:49
TYPES = ["s1", "s2", "s3", "s4", "s5"]                     # kafkaProducer.java:57
LEVELS = ["A", "A+", "B", "C", "D"]                        # kafkaProducer.java:71
SCORES = [0.1, 0.2, 0.3, 0.5, 0.8]                         # kafkaProducer.java:64
AUDIT_TYPES = ["shelf", "unshelf", "black", "chlid_shelf", "child_unshelf"]
AUDIT_AREAS = ["AREA_US", "AREA_CT", "AREA_AR", "AREA_IN", "AREA_ID"]
ROWS_PER_SECOND = 10  # rate of each generator stream


def _pick(pool: list, key) -> F.Column:
    arr = F.array(*[F.lit(x) for x in pool])
    return F.element_at(arr, (key % len(pool) + 1).cast("int"))


def alldata_record(v: F.Column, ts: F.Column) -> F.Column:
    """One allData JSON line from a (sequence, timestamp) pair — shared
    by the rate-source stream and batch tests (kafkaProducer.java:34)."""
    return F.to_json(
        F.struct(
            F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("dt"),
            _pick(COUNTRIES, v).alias("countryCode"),
            F.array(
                F.struct(
                    _pick(TYPES, v).alias("type"),
                    _pick(SCORES, v).alias("score"),
                    _pick(LEVELS, v).alias("level"),
                ),
                F.struct(
                    _pick(TYPES, v + 1).alias("type"),
                    _pick(SCORES, v + 2).alias("score"),
                    _pick(LEVELS, v + 3).alias("level"),
                ),
            ).alias("data"),
        )
    )


def auditlog_record(v: F.Column, ts: F.Column) -> F.Column:
    """One auditLog JSON line (kafkaProducerDataReport.java:38)."""
    return F.to_json(
        F.struct(
            F.date_format(ts, "yyyy-MM-dd HH:mm:ss").alias("dt"),
            _pick(AUDIT_TYPES, v).alias("type"),
            F.concat(F.lit("shenhe"), ((v % 5) + 1).cast("string")).alias("username"),
            _pick(AUDIT_AREAS, v + 2).alias("area"),
        )
    )


def alldata_stream(spark: SparkSession) -> DataFrame:
    """allData-style JSON lines riding the rate source (clean job input)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", ROWS_PER_SECOND).load()
    return rate.select(
        alldata_record(F.col("value"), F.col("timestamp")).alias("value")
    )


def auditlog_stream(spark: SparkSession) -> DataFrame:
    """auditLog-style JSON lines riding the rate source (report job input)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", ROWS_PER_SECOND).load()
    return rate.select(
        auditlog_record(F.col("value"), F.col("timestamp")).alias("value")
    )
