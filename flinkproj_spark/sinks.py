"""Sink layer: the write-side patterns a 100 TB deployment runs on.

The reference's sinks are Kafka (exactly-once via transactions,
DataClean.java:99-109) and Elasticsearch with a deterministic doc id
making re-fires idempotent upserts (DataReport.java:167-198). The
Spark-native equivalents here:

  * keyed idempotent upsert — the deterministic-key trick as a
    partition-overwrite MERGE (used by streaming.pipelines.stream_report
    for the ES twin, and callable for any batch job);
  * partitioned writes — partition columns become directory pruning for
    every downstream read (the write-side half of predicate pushdown);
  * bucketed tables — pre-shuffling both join sides by key at write
    time, so every later join on that key runs WITHOUT an Exchange.
    At 100 TB a nightly-bucketed fact table turns the biggest recurring
    shuffle into a map-side zip (pinned by tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproj_spark.functions import cache_scope

UPSERT_HASH_BUCKETS = 16


def upsert_keyed(batch: DataFrame, result_dir: str, key: str = "doc_id") -> None:
    """Idempotent keyed upsert without a table format: rows are
    partitioned by a stable hash prefix of the key and only the
    partitions present in this batch are rewritten (dynamic partition
    overwrite = poor-man's MERGE). Re-writing the same keys converges
    to one value — the reference's ES doc-id semantics (K3).

    A rewritten bucket carries batch rows PLUS the surviving existing
    rows of that bucket (anti-joined on the key): overwriting with
    batch rows alone would silently delete every previously-upserted
    key that hash-shares a bucket with any batch key. The survivor
    read is statically partition-pruned to the touched buckets (a
    bounded isin list), and localCheckpoint truncates its lineage so
    Spark permits writing the path it was read from — at 100 TB swap
    this store for Delta/Iceberg MERGE INTO and keep the call sites.

    The batch is held in a cache scope, so a streaming micro-batch's
    plan runs ONCE per call: its emptiness check, bucket list, survivor
    anti join and write all read the cache, where each action on the
    bare batch would re-run the stateful plan and count its watermark
    drops again."""
    spark_b = batch.sparkSession
    with cache_scope() as scope:
        staged = scope.hold(
            batch.withColumn("kb", F.abs(F.hash(key)) % UPSERT_HASH_BUCKETS)
        )
        if staged.isEmpty():
            return
        spark_b.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            existing = spark_b.read.parquet(result_dir)
        except Exception:
            existing = None
        if existing is not None and "kb" in existing.columns:
            touched = [
                r.kb for r in staged.select("kb").distinct().collect()
            ]  # <= UPSERT_HASH_BUCKETS values — a bounded driver list
            survivors = (
                existing.filter(F.col("kb").isin(touched))
                .join(staged.select(key).distinct(), key, "left_anti")
                .select(*staged.columns)
            )
            staged = staged.unionByName(survivors.localCheckpoint(eager=True))
        staged.write.mode("overwrite").partitionBy("kb").parquet(result_dir)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Hive-layout partitioned parquet: equality/range predicates on the
    partition columns become directory pruning (PartitionFilters) for
    every reader — no footer is even opened for pruned partitions."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Bucketed managed table: rows are hash-distributed into n_buckets
    files by bucket_col at write time. Two tables bucketed the same way
    join with ZERO exchanges (and zero sorts if sorted); the shuffle is
    paid once at ingest instead of per query."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)
