"""Streaming embedding-drift monitor: the ingest-time twin of
operators/similarity.py::embedding_drift_report. New vectors arrive on
a stream; each micro-batch folds their per-dimension integer moments
(count, sum — decomposable, so cross-batch merging is exact) into a
versioned state store, and `drift_view` joins the accumulated NEW
moments against the static baseline snapshot to produce the same
report rows the batch operator computes — converging to it exactly
once the stream has delivered the new snapshot (pinned by
tests/test_streaming_ext.py).

This is how drift monitoring actually runs in production: the
baseline is a frozen reference corpus, vectors from the new embedding
model stream in, and the alarm must fire DURING ingest, not in a
nightly sweep after a bad index is already built. State is DIM rows
of three longs — constant, no watermark needed; the versioned-swap
store (streaming/warehouse.py) gives idempotent replay and
snapshot-isolated readers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.operators.similarity import dim_moments, drift_verdicts
from flinkproj_spark.streaming.warehouse import (
    _commit_version,
    _latest_before,
    _read_version,
)


def stream_drift_monitor(
    new_vecs: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Accumulate per-dim moments of the streamed NEW snapshot. Input
    stream needs (vec_id, embedding array<float>). Returns the started
    StreamingQuery; read the report with `drift_view`."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spark_b = batch.sparkSession
        inc = dim_moments(batch, "new")
        cur = _read_version(
            spark_b, state_dir, _latest_before(spark_b, state_dir, epoch_id)
        )
        merged = inc if cur is None else (
            cur.unionByName(inc)
            .groupBy("dim")
            .agg(
                F.sum("n_new").alias("n_new"),
                F.sum("sum_new").alias("sum_new"),
            )
        )
        _commit_version(merged, state_dir, epoch_id)

    return (
        new_vecs.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def drift_view(
    spark: SparkSession, state_dir: str, baseline: DataFrame
) -> DataFrame:
    """The live drift report: accumulated stream moments vs the static
    baseline, with the exact verdict arithmetic of the batch operator
    (drift_verdicts). Dims the stream has not reached yet report
    n_new = 0 and a dark verdict — monotone convergence, never a
    spurious alarm from partial state."""
    base = dim_moments(baseline, "old")
    cur = _read_version(spark, state_dir, _latest_before(spark, state_dir))
    if cur is None:
        cur = spark.createDataFrame([], "dim int, n_new bigint, sum_new bigint")
    per_dim = base.join(cur, "dim", "left").select(
        "dim",
        "n_old",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        "sum_old",
        F.coalesce("sum_new", F.lit(0)).alias("sum_new"),
    )
    return drift_verdicts(per_dim)


def stream_cms_sketch(events: DataFrame) -> DataFrame:
    """Streaming count-min sketch build — the ingest-time twin of
    operators/screens.py::cms_heavy_hitters' build stage. The shared
    bucket expansion (cms_hash_rows) runs stateless per record; the
    streaming aggregation keeps ONE counter per (row, bucket) —
    bounded at CMS_D × CMS_W keys forever, no watermark needed, which
    is precisely why sketches are the streaming cardinality answer:
    state is geometry-sized, not data-sized. Counters are decomposable
    counts, so micro-batch merging is exact and the sketch converges
    to the batch build over the same records (pinned in
    tests/test_streaming_ext.py). Run in complete/update mode; the
    estimate query (min over a key's CMS_D counters) is a
    broadcast-join against this frame exactly as in the batch audit."""
    from flinkproj_spark.operators.screens import cms_hash_rows

    return cms_hash_rows(events).groupBy("r", "b").agg(
        F.count("*").alias("counter")
    )


def stream_source_sketch(docs: DataFrame) -> DataFrame:
    """Streaming per-source MinHash sketch — the ingest-time twin of
    operators/dedup.py::source_jaccard_matrix's sketch stage, built
    from the batch sketch's own dedup.shingle_hashes and
    dedup.minhash_mins. Shingle hashing runs stateless per document;
    the streaming aggregation keeps N_HASHES running minima per source. min is associative and
    commutative, so micro-batch merging is exact (the streamed sketch
    equals the batch signature over the same documents — pinned in
    tests/test_streaming_ext.py) and state is sources × N_HASHES
    longs forever: geometry-sized, no watermark. The batch operator
    dedups shingles before aggregating; the stream skips that (min
    over the multiset equals min over the set), which is exactly why
    the sketch streams and the exact-Jaccard audit column cannot.
    Run in complete/update mode; downstream, pairwise signature
    agreement is the same 20-row self-join as the batch matrix."""
    from flinkproj_spark.operators.dedup import minhash_mins, shingle_hashes

    return shingle_hashes(docs, "source").groupBy("source").agg(*minhash_mins())


def stream_quantile_sketch(orders: DataFrame) -> DataFrame:
    """Streaming revenue-quantile sketch build — the ingest-time twin
    of operators/screens.py::quantile_sketch_audit's register stage.
    The DDSketch-style bucket id (qsk_bucket_col, shared expression)
    runs stateless per record; the streaming aggregation keeps ONE
    counter per log2-octave x sub-bucket cell — bounded at ~1k keys
    forever, no watermark needed, the same geometry-sized-state
    argument as stream_cms_sketch. Counters are decomposable counts,
    so micro-batch merging is exact and the streamed registers equal
    the batch build over the same orders (pinned in
    tests/test_streaming_ext.py); reading live decile estimates is
    the SAME qsk_decile_estimates the batch audit uses, so the
    monitor can never disagree with the nightly audit."""
    from flinkproj_spark.operators.screens import qsk_bucket_col

    vals = orders.select(
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v")
    )
    return vals.select(qsk_bucket_col().alias("bid")).groupBy("bid").agg(
        F.count("*").alias("cnt")
    )


def build_conformal_thresholds(spark: SparkSession, sf_dir: str) -> dict:
    """Freeze the batch conformal calibration
    (operators/screens.py::conformal_coverage_report's threshold
    stage) into a deploy-time model: {event_type: q90_c}. Bounded
    driver sync — one row per event type, never event rows."""
    from flinkproj_spark.operators.screens import conformal_coverage_report

    rows = conformal_coverage_report(spark, sf_dir).collect()
    return {r.event_type: int(r.q90_c) for r in rows}


def stream_conformal_gate(new_events: DataFrame, thresholds: dict) -> DataFrame:
    """Streaming twin of conformal_coverage_report's DEPLOYED side:
    every incoming event is tagged against the FROZEN per-type
    calibration q90 at ingest — `exceeds_q90 = 1` is the conformal
    outlier verdict (at a healthy calibration ~10% of events fire).
    Entirely stateless: the threshold table compiles into a chained
    CASE literal, the cents quantization and comparison run in-row,
    arithmetically identical to the batch operator per event. The
    frozen-model semantics (same as stream_dsir_gate): a drifting
    live quantile would make the verdict non-deterministic and hide
    exactly the drift the downstream coverage monitor exists to see.
    Input stream needs (event_id, ts, event_type, value)."""
    thr = F.lit(None).cast("long")
    for etype, q in sorted(thresholds.items()):
        thr = F.when(F.col("event_type") == etype, F.lit(q)).otherwise(thr)
    v_c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return new_events.select(
        "event_id",
        "ts",
        "event_type",
        v_c.alias("v_c"),
        thr.alias("q90_c"),
    ).withColumn(
        "exceeds_q90",
        F.when(F.col("q90_c").isNull(), F.lit(None).cast("int")).otherwise(
            (F.col("v_c") > F.col("q90_c")).cast("int")
        ),
    )


def stream_hll_registers(docs: DataFrame) -> DataFrame:
    """Streaming HLL register build — the ingest-time twin of
    operators/dedup.py::hll_distinct_report's sketch stage. The
    hash-to-register mapping is the SHARED hll_register_rows
    expression; the streaming aggregation keeps ONE max per register —
    16 keys forever, no watermark (the geometry-sized-state argument
    of stream_cms_sketch/stream_quantile_sketch, here at its
    smallest). Register max is idempotent AND commutative, so
    micro-batch merging is exact regardless of arrival order, and the
    streamed registers equal the batch build over the same documents
    (pinned in tests/test_streaming_ext.py, estimate included). Run
    in complete/update mode; input stream needs (text)."""
    from flinkproj_spark.operators.dedup import hll_register_rows

    return hll_register_rows(docs).groupBy("b").agg(F.max("m").alias("mx"))


def stream_zonemap_monitor(events: DataFrame) -> DataFrame:
    """Streaming zone-map maintenance for the Morton layout — the
    ingest-time feed of operators/screens.py::zonemap_effectiveness.
    Each event folds into its curve bin's (min_uid, max_uid): min/max
    are idempotent AND commutative, so micro-batch merging is exact
    in any arrival order and the live zone maps equal the batch
    audit's bins over the same events (pinned in
    tests/test_streaming_ext.py). State is ≤ 2^ZM_BITS bins of two
    longs forever — geometry-sized, no watermark (the
    stream_cms_sketch argument, here for scan-planning metadata: a
    lake that maintains footer stats AT INGEST can plan prunes
    without waiting for the nightly stats job). Run in
    complete/update mode; input stream needs (user_id, ts)."""
    from flinkproj_spark.operators.screens import zm_zorder_rows

    return zm_zorder_rows(events).groupBy("b").agg(
        F.min("uid").alias("mn"), F.max("uid").alias("mx")
    )


SRM_HORIZON = "40 days"  # how long a user's first-seen state is kept


def stream_srm_monitor(events: DataFrame) -> DataFrame:
    """Streaming sample-ratio-mismatch monitor — the ingest-time twin
    of operators/screens.py::srm_check's user-count stage. Each
    user's FIRST event admits them to their hash variant
    (dropDuplicatesWithinWatermark on user_id — state is one row per
    user within SRM_HORIZON, the experiment-population scale any SRM
    monitor inherently pays), then a 2-key variant count that merges
    exactly across micro-batches. Run in complete/update mode and
    feed the two counters into the same (a−b)²·1e6/(a+b) decision the
    batch check applies — an assignment bug shows up DURING the ramp,
    not in tomorrow's experiment readout. The variant coin is
    screens.srm_variant, the batch check's own, so monitor and nightly
    check can never disagree on assignment. Input stream needs
    (user_id, ts)."""
    from flinkproj_spark.operators.screens import srm_variant

    first_seen = events.withWatermark("ts", SRM_HORIZON).dropDuplicatesWithinWatermark(
        ["user_id"]
    )
    return first_seen.select(srm_variant().alias("variant")).groupBy("variant").agg(
        F.count("*").alias("n_users")
    )


def stream_digest_monitor(docs: DataFrame) -> DataFrame:
    """Streaming table digest — the ingest-time twin of
    operators/relational.py::table_digest_report for the documents
    stream. The digest is an ADDITIVE register (sum of canonical
    52-bit row hashes), so the streaming aggregation is exact by
    construction: micro-batches merge by summation in any order,
    state is ONE (count, sum) pair forever, and the live digest
    equals the batch digest over the same rows mod 2^61−1 (pinned in
    tests/test_streaming_ext.py). A replica ingesting the same feed
    can be compared MID-STREAM — the continuous version of the
    nightly replica check. Row canonicalization is the SHARED
    td_row_hash expression. Input stream needs the documents
    columns."""
    from flinkproj_spark.operators.relational import TD_MOD, td_row_hash

    return (
        docs.select(td_row_hash("documents").alias("h"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("_s"),
        )
        .select(
            "n_rows",
            F.expr(f"CAST(_s % {TD_MOD} AS BIGINT)").alias("digest"),
        )
    )


def stream_token_mass(docs: DataFrame) -> DataFrame:
    """Streaming per-language token-mass counters — the ingest-time
    feed of operators/sampling.py::token_budget_allocator. Each doc
    folds its whitespace-token count into its language's sum:
    decomposable, so micro-batch merging is exact and state is one
    long per language forever (dimension-sized, no watermark — the
    stream_cms_sketch argument, here for the data-mix dashboard).
    Run in complete/update mode; reading the live quota allocation is
    the SAME sampling.token_budget_from_counts the batch allocator
    uses (pinned equal in tests/test_streaming_ext.py), so the
    "current 100k-token mixture at corpus proportions" view can never
    disagree with the nightly allocator. Input stream needs
    (lang, text)."""
    return docs.groupBy("lang").agg(
        F.sum(F.size(fx.tokenize_ws())).cast("long").alias("t")
    )
