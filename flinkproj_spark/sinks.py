"""Sink layer: the write-side patterns a 100 TB deployment runs on.

The reference's sinks are Kafka (exactly-once via transactions,
DataClean.java:99-109) and Elasticsearch with a deterministic doc id
making re-fires idempotent upserts (DataReport.java:167-198). The
Spark-native equivalents here:

  * keyed idempotent upsert — the deterministic-key trick as a
    partition-overwrite MERGE (used by streaming.pipelines.stream_report
    for the ES twin, and callable for any batch job). Keys that start
    with an event-time minute (the report's doc id) are partitioned by
    that minute, so a trigger under a watermark rewrites only the one
    or two newest minutes: its cost is bounded by the batch, not by the
    history already written;
  * partitioned writes — partition columns become directory pruning for
    every downstream read (the write-side half of predicate pushdown);
  * bucketed tables — pre-shuffling both join sides by key at write
    time, so every later join on that key runs WITHOUT an Exchange.
    At 100 TB a nightly-bucketed fact table turns the biggest recurring
    shuffle into a map-side zip (pinned by tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark.functions import cache_scope
from flinkproj_spark.streaming.warehouse import _fs_and_path

UPSERT_HASH_BUCKETS = 16
TABLE_BUCKETS = 8  # write_bucketed's bucket count: co-bucketed tables must agree
# the reference's doc id opens with its window's max event time,
# `yyyy-MM-dd_HH:mm:ss` (DataReport.java:181)
_MINUTE_KEY = r"^\d{4}-\d{2}-\d{2}_\d{2}:\d{2}"


def upsert_bucket(key: str = "doc_id") -> Column:
    """The `kb` partition of a key. A key opening with an event-time
    minute is bucketed by that minute's digits (`2018-01-01_10:00:..`
    -> `201801011000`); any other key by `h` + a stable hash modulo
    UPSERT_HASH_BUCKETS. String functions only, so the bucket does not
    depend on the session time zone, and every value is path-safe (a
    `:` would be written as `%3A`, which a read by the raw value misses)."""
    k = F.col(key)
    return F.when(
        k.rlike(_MINUTE_KEY), F.regexp_replace(F.substring(k, 1, 16), "[^0-9]", "")
    ).otherwise(
        F.concat(F.lit("h"), (F.abs(F.hash(k)) % UPSERT_HASH_BUCKETS).cast("string"))
    )


def read_buckets(
    spark: SparkSession, result_dir: str, buckets: list[str], schema
) -> DataFrame | None:
    """The stored rows of the given `kb` buckets, or None when none of
    them exists yet. Each bucket directory costs one existence check
    through the Hadoop FS API (any file system), and the present ones
    are read by literal path with the caller's schema: nothing else in
    the result is listed — a glob over `kb=` lists every bucket — and no
    job infers a schema."""
    fs, _ = _fs_and_path(spark, result_dir)
    paths = [f"{result_dir}/kb={b}" for b in buckets]
    present = [p for p in paths if fs.exists(spark._jvm.org.apache.hadoop.fs.Path(p))]
    if not present:
        return None
    return spark.read.schema(schema).option("basePath", result_dir).parquet(*present)


def upsert_keyed(batch: DataFrame, result_dir: str, key: str = "doc_id") -> None:
    """Idempotent keyed upsert without a table format: rows are
    partitioned by `upsert_bucket(key)` and only the partitions present
    in this batch are rewritten (dynamic partition overwrite = poor-man's
    MERGE). Re-writing the same keys converges to one value — the
    reference's ES doc-id semantics (K3).

    A rewritten bucket carries the batch rows PLUS the stored rows of
    that bucket whose key the batch does not carry: overwriting with
    batch rows alone would silently delete every previously-upserted
    key that shares a bucket with any batch key. For the report's doc
    ids the buckets are event-time minutes, and under the watermark a
    trigger touches the newest one or two, so the call is bounded by
    the batch however long the result grows. At 100 TB swap this store
    for Delta/Iceberg MERGE INTO and keep the call sites.

    Two Spark jobs per call (inside foreachBatch, where Structured
    Streaming turns adaptive execution off, so an exchange is a stage
    and not a job of its own):
      1. `hold_values` runs the batch's plan once: the one action fills
         the held cache and lists the touched buckets, so a streaming
         micro-batch's stateful plan runs, and counts its watermark
         drops, once per call;
      2. the write reads the held batch and the stored rows of the
         touched buckets, shuffles both by bucket — one task then sees
         a whole bucket, keeps per key the batch's rows if it has any
         and the stored ones otherwise, and writes the bucket as one
         file. The job reads the directories it overwrites; dynamic
         overwrite commits them only after every task has read."""
    with cache_scope() as scope:
        staged, touched = scope.hold_values(batch.withColumn("kb", upsert_bucket(key)), "kb")
        if not touched:
            return
        rows = staged.withColumn("_new", F.lit(True))
        existing = read_buckets(batch.sparkSession, result_dir, touched, staged.schema)
        if existing is not None:
            rows = rows.unionByName(existing.withColumn("_new", F.lit(False)))
        # a null key replaces nothing, as in SQL equality
        keep = (F.col("_new") | ~F.max("_new").over(Window.partitionBy("kb", key))
                | F.col(key).isNull())
        # the window reuses this shuffle: its key groups lie inside one bucket
        rows = rows.repartition(len(touched), "kb").withColumn("_keep", keep)
        # dynamic on this writer only: a session-wide setting would turn
        # every later overwrite in the session into a partition merge
        rows.filter("_keep").drop("_new", "_keep").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("kb").parquet(result_dir)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Hive-layout partitioned parquet: equality/range predicates on the
    partition columns become directory pruning (PartitionFilters) for
    every reader — no footer is even opened for pruned partitions."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_col: str) -> None:
    """Bucketed managed table: rows are hash-distributed into
    TABLE_BUCKETS files by bucket_col and sorted by it at write time.
    Two tables bucketed this way join with ZERO exchanges and zero
    sorts; the shuffle is paid once at ingest instead of per query."""
    df.write.mode("overwrite").format("parquet").bucketBy(
        TABLE_BUCKETS, bucket_col
    ).sortBy(bucket_col).saveAsTable(table)
