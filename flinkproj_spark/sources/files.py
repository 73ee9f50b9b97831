"""File-format sources beyond parquet: CSV and JSON-lines batch scans
and a streaming JSON-lines reader.

The reference reads only Kafka JSON strings (SURVEY.md §2.1); a user
migrating onto this engine lands files too. Rules that matter at
100 TB:

  * schemas are ALWAYS explicit — schema inference is a full extra
    pass over the data before the real job starts;
  * JSON/CSV are ingestion formats, not working formats: read once,
    write parquet (columnar, splittable, pushdown-able) and run the
    engine on that — `ingest_to_parquet` is that one-liner;
  * the streaming reader uses maxFilesPerTrigger so a huge backfill
    directory drains in bounded micro-batches instead of one giant
    first batch.

Malformed records follow the engine's permissive contract (§2.2 P2):
unparseable fields come back null; the `_corrupt_record` column is
exposed on request so bad lines can be routed to a dead-letter sink
instead of killing the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MAX_FILES_PER_TRIGGER = 16  # files one micro-batch of a file stream reads
TARGET_FILE_BYTES = 128 * 1024 * 1024  # compact_small_files' output size
ZORDER_FILES = 8  # files write_zorder_layout cuts the curve into


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, **options: str
) -> DataFrame:
    """Batch CSV scan of headered files with a declared schema (never
    inferred)."""
    return (
        spark.read.schema(schema)
        .options(header="true", mode="PERMISSIVE", **options)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    keep_corrupt: bool = False,
    **options: str,
) -> DataFrame:
    """Batch JSON-lines scan with a declared schema. With keep_corrupt,
    bad lines surface in `_corrupt_record` (null for good rows) for
    dead-letter routing; otherwise they parse to all-null rows exactly
    like the pipelines' from_json edge."""
    if keep_corrupt:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        schema = schema.add("_corrupt_record", "string")
        options = {"columnNameOfCorruptRecord": "_corrupt_record", **options}
    return spark.read.schema(schema).options(mode="PERMISSIVE", **options).json(path)


def stream_jsonl(
    spark: SparkSession, path: str, schema: StructType | str, **options: str
) -> DataFrame:
    """Streaming JSON-lines directory source, micro-batches bounded by
    MAX_FILES_PER_TRIGGER."""
    return (
        spark.readStream.schema(schema)
        .options(maxFilesPerTrigger=str(MAX_FILES_PER_TRIGGER), **options)
        .json(path)
    )


def parse_xml_column(df: DataFrame, col: str, schema: str) -> DataFrame:
    """Parse an XML-string column into an `xml` struct column with a
    declared schema (Spark 4's built-in from_xml — expression-level,
    codegen-friendly, no external package). The wire twin of the
    pipelines' from_json edge for XML-framed feeds; malformed
    fragments parse to all-null structs, so a null-check on any
    required field dead-letters them exactly like the JSON path."""
    from pyspark.sql import functions as F

    return df.withColumn("xml", F.from_xml(F.col(col), schema))


def read_xml_lines(
    spark: SparkSession, path: str, schema: str, **options: str
) -> DataFrame:
    """Batch scan of line-framed XML records (one document per line —
    the streaming-friendly framing): read as text, parse per-line with
    from_xml into `xml`. For multi-line documents use a real
    rowTag-based reader; line framing is what a Kafka-style wire
    carries."""
    raw = spark.read.options(**options).text(path)
    return parse_xml_column(raw, "value", schema)


def read_orc(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """Batch ORC scan. ORC is self-describing and columnar, so no schema
    argument: pushdown/pruning work as with parquet (Spark's native
    vectorized ORC reader)."""
    return spark.read.options(**options).orc(path)


def stream_orc(
    spark: SparkSession, path: str, schema: StructType | str, **options: str
) -> DataFrame:
    """Streaming ORC directory source (file streams always need a
    declared schema), micro-batches bounded by MAX_FILES_PER_TRIGGER."""
    return (
        spark.readStream.schema(schema)
        .options(maxFilesPerTrigger=str(MAX_FILES_PER_TRIGGER), **options)
        .orc(path)
    )


def write_orc(df: DataFrame, out_path: str, *partition_cols: str) -> None:
    """Land a DataFrame as ORC (optionally hive-partitioned) for
    ORC-standardized warehouses; otherwise prefer ingest_to_parquet."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(out_path)


def ingest_to_parquet(
    df: DataFrame, out_path: str, *partition_cols: str
) -> None:
    """The read-once step: land an ingestion-format DataFrame as parquet
    (optionally hive-partitioned) so every later scan gets pushdown,
    pruning, and splittability."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(out_path)


def write_training_shards(docs: DataFrame, out_path: str) -> None:
    """Materialize the train_shard_shuffle layout: hash-partition the
    corpus into sampling._N_SHARDS deterministic pseudo-random shards
    (sampling.shard_assignment), sort each shard by its shuffle key,
    and write ONE file per shard (`shard=<k>/part-*.parquet`), so a
    trainer streams uniformly shuffled data by reading shard files
    front to back.

    Scale shape: repartition on the shard column (one hash shuffle) +
    sortWithinPartitions (in-partition sort, never global) + partitioned
    write. At 100 TB raise _N_SHARDS to O(10k): each shard sorts and
    writes independently, and file size stays at the 1-10 GB sweet spot.
    """
    from flinkproj_spark.operators.sampling import _N_SHARDS, shard_assignment

    key, shard = shard_assignment()
    (
        docs.withColumns({"_k": key, "shard": shard})
        .repartition(_N_SHARDS, "shard")
        # lead with the partition column: FileFormatWriter requires rows
        # sorted by partition columns and would otherwise insert its own
        # (non-stable) sort, scrambling the in-shard order
        .sortWithinPartitions("shard", "_k", "doc_id")
        .drop("_k")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_path)
    )


def write_tokenized_shards(spark, sf_dir: str, out_path: str) -> None:
    """The training pipeline's last mile: encode every document with
    the fixed BPE merge table (operators/text.py::bpe_apply's shared
    stage) and write the (doc_id, ids) rows through the deterministic
    shard-shuffle layout — what a trainer actually mounts: uniformly
    shuffled token-id sequences, one file per shard, no text. Same
    scale shape as write_training_shards (the encode itself is a pure
    map stage, so the only exchange is the shard hash)."""
    from flinkproj_spark.operators.text import _bpe_ids

    ids = _bpe_ids(spark, sf_dir).drop("_nc")
    write_training_shards(ids, out_path)


def _manifest_terms(df: DataFrame):
    """(n_tokens, row_fingerprint) expressions for a shard-layout or
    source frame: token mass from the payload column the frame carries
    (`ids` for tokenized shards, else `text`), and a 60-bit per-row
    content fingerprint over (doc_id, payload) summed as DECIMAL(38,0)
    — an order-insensitive, decomposable content check that never
    overflows at any corpus size."""
    import pyspark.sql.functions as F

    from flinkproj_spark import functions as fx

    if "ids" in df.columns:
        payload = F.array_join(
            F.transform("ids", lambda i: i.cast("string")), ","
        )
        n_tok = F.size("ids").cast("long")
    else:
        payload = F.col("text")
        n_tok = fx.token_count().cast("long")
    fp = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), payload)),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    return n_tok, fp


def shard_manifest(spark: SparkSession, shard_path: str) -> DataFrame:
    """The verifiable receipt for a written shard layout (round-5
    verdict task 7): read `shard=<k>/` parquet back into ONE row per
    shard — row count, token mass, order-insensitive content checksum —
    plus a totals row (shard = -1) that must equal the same receipt
    computed over the source corpus (corpus_receipt; pinned by
    tests/test_sources.py::test_shard_manifest_roundtrips_source).
    A trainer checks this before mounting: every doc landed exactly
    once, nothing mutated, token budget matches.

    Shape: one scan of the layout, one rollup aggregate (shards + 1
    output rows); the checksum is a decomposable DECIMAL sum of per-row
    60-bit md5 fingerprints, so verification at 100 TB costs one
    map-side-combined pass — no sort, no join, no collect."""
    df = spark.read.parquet(shard_path)
    import pyspark.sql.functions as F

    n_tok, fp = _manifest_terms(df)
    per_row = df.select(
        F.col("shard").cast("long").alias("shard"),
        n_tok.alias("_nt"),
        fp.alias("_fp"),
    )
    return (
        per_row.rollup("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.sum("_fp").cast("decimal(38,0)").alias("content_sum"),
        )
        .select(
            F.coalesce("shard", F.lit(-1)).cast("long").alias("shard"),
            "n_rows",
            "n_tokens",
            "content_sum",
        )
    )


def corpus_receipt(df: DataFrame) -> DataFrame:
    """The source-side twin of shard_manifest's totals row: the same
    (n_rows, n_tokens, content_sum) receipt over any (doc_id, text|ids)
    frame, for equality-pinning a written layout against its source."""
    import pyspark.sql.functions as F

    n_tok, fp = _manifest_terms(df)
    return df.select(n_tok.alias("_nt"), fp.alias("_fp")).agg(
        F.count("*").alias("n_rows"),
        F.sum("_nt").cast("long").alias("n_tokens"),
        F.sum("_fp").cast("decimal(38,0)").alias("content_sum"),
    )


def write_zorder_layout(df: DataFrame, out_path: str, col_x: str, col_y) -> None:
    """Materialize a Z-order (Morton-curve) data-skipping layout:
    interleave the low screens._Z_BITS bits of two dimensions
    (functions.morton2, the curve the `zorder_layout` audit scores),
    range-partition the rows by curve position, sort each partition by
    it, and write one parquet file per range (ZORDER_FILES). Rows close in BOTH
    dimensions land in the same file, so every file's min-max
    statistics span a narrow rectangle and a predicate on EITHER
    column prunes most files — the layout the `zorder_layout` query
    key audits.

    Scale shape: repartitionByRange samples the curve positions to cut
    balanced boundaries (one range exchange — the same cost any
    sorted write pays), the sort is per-partition (never global), and
    the curve column is dropped before the write so the layout is
    invisible to readers. At 100 TB raise ZORDER_FILES so each file stays
    in the 1-10 GB sweet spot; the boundaries stay balanced because
    they come from sampling, not fixed splits.

    `col_y` may be a column name or a Column expression (e.g. an
    epoch-minute derived from a timestamp)."""
    import pyspark.sql.functions as F

    from flinkproj_spark import functions as fx
    from flinkproj_spark.operators.screens import _Z_BITS

    y = F.col(col_y) if isinstance(col_y, str) else col_y
    (
        df.withColumn("_z", fx.morton2(F.col(col_x), y, _Z_BITS))
        .repartitionByRange(ZORDER_FILES, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    sort_cols: tuple[str, ...] = (),
) -> int:
    """Lake maintenance: rewrite a parquet directory's many small files
    into ~TARGET_FILE_BYTES files, returning the file count written. Small
    files are the silent scan killer at 100 TB — per-file open/footer
    costs dominate, and a 1000-executor stage over 10-KB files spends
    its time in scheduling, not IO.

    The file count comes from the directory's actual byte size (what a
    table format tracks in metadata), so the rewrite is one
    repartition — round-robin for pure compaction, or range+local-sort
    when sort_cols are given (preserving a z-order/clustered layout
    through compaction). Idempotent overwrite; readers see old files
    until the new commit lands (same caveat as every direct-parquet
    writer here: a production lake does this under Delta/Iceberg
    snapshot isolation)."""
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(total / TARGET_FILE_BYTES))
    df = spark.read.parquet(path)
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(out_path)
    return n_files


def write_ivf_index(assignments: DataFrame, out_path: str) -> None:
    """Materialize an IVF index layout: the nearest-centroid cell
    (operators/similarity.py::ivf_assignments) becomes a hive
    partition column, so an N_PROBE-cell query is a partition-pruned
    scan — only the probed directories are even opened. The write-time
    analog of ann_topk_ivf's equi-join: at 100 TB the cell column is
    free metadata and the probe cost drops from full-scan to
    cells-touched."""
    assignments.write.mode("overwrite").partitionBy("cell").parquet(out_path)


def write_compacted_files(
    spark: SparkSession, sf_dir: str, out_path: str
) -> None:
    """EXECUTE the compaction plan that operators/sampling.py::
    compaction_plan computes: tag every event with its (event_type,
    bin_id) from the shared next-fit derivation, and rewrite the table
    as one parquet file per bin under a (event_type, bin_id) partition
    layout — contiguous day ranges per file, so day predicates still
    prune by footer min/max after the rewrite (the time-locality
    property the planner optimizes for). The plan→execute pair
    mirrors the repo's audit→repair ladders.

    Scale shape: the bin ASSIGNMENT is calendar-bounded (the same
    (type × day) inventory grid the planner reduces to) and
    broadcasts onto the event scan — the only corpus-sized moves are
    the one repartition on (event_type, bin_id), which lands each
    bin's rows in exactly one task (one output file per bin by
    construction), and the write itself. sortWithinPartitions keeps
    rows time-ordered inside each file for in-file skipping."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.sampling import (
        compaction_bin_assign,
        event_day_inventory,
    )
    from flinkproj_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    assign = compaction_bin_assign(event_day_inventory(events)).select(
        "event_type", "d", "bin_id"
    )
    tagged = events.withColumn("d", day).join(
        F.broadcast(assign), ["event_type", "d"]
    )
    (
        tagged.drop("d")
        .repartition("event_type", "bin_id")
        .sortWithinPartitions("event_type", "bin_id", "ts")
        .write.partitionBy("event_type", "bin_id")
        .mode("overwrite")
        .parquet(out_path)
    )
