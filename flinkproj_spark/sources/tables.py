"""Parquet table loaders for the driver test corpus.

The batch twin of the reference's Kafka sources (SURVEY.md §2.1 S1):
`spark.read.parquet` gives columnar scans with predicate pushdown and
column pruning for free, which is the point of declaring plans instead
of hand-writing record loops (reference: DataClean.java:66,
DataReport.java:88 read raw JSON strings record-at-a-time).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per session: {(absolute path, st_mtime_ns, st_size): inferred StructType}.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def fan_out(spark: SparkSession, sf_dir: str, name: str, df: DataFrame) -> DataFrame:
    """Opt-in scan redistribution for operators whose MAP side is the hot
    path (per-row JSON round-trips, shingling, Arrow UDF batches).

    The driver corpus writes each table as ONE parquet row group, which
    Spark cannot split — so a scan arrives as a single populated split
    and the whole map side runs on one of the session's cores. The split
    count is predicted from the file size (driver-side, free — calling
    .rdd.getNumPartitions() here would compile the plan and cost ~0.1 s
    per call) and the exchange is added only when the scan is
    under-split relative to the session's cores. On a real 100 TB
    layout, size/maxPartitionBytes >> cores, the predicate is false, and
    this is a no-op — the expensive full-table shuffle never happens at
    scale, only on pathologically small inputs where it is cheap.

    NOT applied in load_table for everyone: for shuffle-bound queries
    (joins/aggs at sf0.1) the extra exchange measurably loses — blanket
    fan-out regressed the bench total 45.7 s → 70.9 s."""
    try:
        size = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
    except OSError:
        return df
    # Fixed 128 MiB split size (build_session sets exactly this; parsing
    # the conf value is unsafe — a vanilla session returns "128MB").
    max_bytes = 134217728
    target = spark.sparkContext.defaultParallelism
    if size // max_bytes + 1 < max(2, target // 4):
        df = df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table. Plain parquet scan — Catalyst prunes
    columns and pushes filters into it from whatever plan sits on top.

    The parquet schema is inferred once per (session, absolute path,
    file (st_mtime_ns, st_size)) and every later call reads with it:
    inference is a Spark job, a schema-given read starts none, and a
    rewritten file is inferred again. The schema is memoized, not the
    DataFrame — each call builds a fresh relation, so two loads of one
    table keep distinct attribute ids and self-joins resolve. A path
    os.stat cannot see (file://, hdfs://) is inferred on every call.

    Corpus timestamp columns have appeared in two physical encodings
    across driver revisions: parquet TIMESTAMP(NANOS) (no native Spark
    type; nanosAsLong surfaces int64, normalized below) and naive
    TIMESTAMP(MICROS) with isAdjustedToUTC=false (Spark 4 infers
    TIMESTAMP_NTZ). NTZ columns are cast to TimestampType explicitly
    after the read — value-preserving under the pinned UTC session
    zone, and what the duckdb/pandas oracle readers produce. The cast
    is a projection on top of the scan (pushdown/pruning unaffected)
    and does not depend on version-sensitive parquet-reader confs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The driver runs queries under its own SparkSession; pin UTC so
    # date formatting / epoch math matches the naive-UTC DuckDB oracle
    # no matter the host timezone. Must be set BEFORE the cast below so
    # ntz -> ltz is an identity on the underlying micros.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    memo = _SCHEMAS.setdefault(spark, {})
    schema = memo.get(key) or spark.read.parquet(path).schema
    if key is not None:
        memo[key] = schema
    df = spark.read.schema(schema).parquet(path)
    types = {f.name: f.dataType for f in schema}
    if name == "events" and isinstance(types.get("ts"), LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [c for c, t in types.items() if isinstance(t, TimestampNTZType)]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def register_oracle_views(con, sf_dir: str) -> None:
    """Register every corpus table as a view of its parquet file on a
    DuckDB connection `con` — the layout the oracle SQL reads."""
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
