"""Streaming twin of the batch curation funnel (operators/e2e.py::
pipeline_curate): continuous document ingest with quality gating and
content dedup.

The reference has no document pipeline at all (its streams are JSON
event records, SURVEY.md §2.10); this is the LLM-data extension running
as a stream: the batch funnel's own language-evidence + length/quality
filter (e2e.curate_gate_cond) — stateless, so it fuses into the scan
exactly like the batch plan — followed by exact content dedup keyed on the normalized
text's md5, with state bounded by the watermark horizon
(dropDuplicatesWithinWatermark keeps ONE state row per content hash and
evicts it when the watermark passes — at 100 TB/day the state store
holds a horizon's worth of hashes, not history).

Near-dup (MinHash) removal stays batch-side: LSH bucketing needs a
corpus-wide self-grouping that streaming state cannot bound, so the
idiomatic split is stream-gate cheap + exact, batch-sweep the
accumulated store (the lambda-architecture shape the batch
pipeline_curate implements).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.operators.e2e import curate_gate_cond

# Event-time horizon of every ingest gate's within-stream dedup state
# (here and streaming/multimodal.py::stream_phash_gate).
INGEST_HORIZON = "1 hour"


def curate_gate(docs: DataFrame) -> DataFrame:
    """The stateless filter stage: the batch funnel's own
    e2e.curate_gate_cond (language evidence present, ≥ 20 words,
    quality ≥ 0.3). Adds the content fingerprint column the dedup
    stage keys on."""
    return docs.filter(curate_gate_cond()).withColumn(
        "content_fp", F.md5(fx.normalize_text())
    )


def stream_curate(docs: DataFrame) -> DataFrame:
    """Streaming curation: quality gate → exact content dedup within the
    watermark horizon. Keeps the first arrival of each normalized
    content; re-deliveries and byte-identical near-in-time copies drop.

    Input needs columns (doc_id, ts, text); all columns pass through
    plus content_fp."""
    return curate_gate(docs).withWatermark("ts", INGEST_HORIZON).dropDuplicatesWithinWatermark(
        ["content_fp"]
    )


def stream_snapshot_dedup(new_docs: DataFrame, base_docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/curation.py::cross_snapshot_dedup —
    continuous ingest deduped against the existing corpus: a
    stream-static LEFT ANTI join on the content md5 drops any incoming
    doc whose content already exists in the base, then
    dropDuplicatesWithinWatermark removes within-stream copies (state =
    one hash per horizon, not per history).

    Scale shape: the static side reduces to distinct 16-byte hashes
    and is re-resolved per micro-batch (so a compaction job can refresh
    it); it is NOT broadcast-hinted — corpus-proportional, same rule as
    batch. Input stream needs (doc_id, ts, text); base needs (text)."""
    base_fps = base_docs.select(F.md5("text").alias("content_fp")).distinct()
    incoming = new_docs.withColumn("content_fp", F.md5("text"))
    fresh = incoming.join(base_fps, "content_fp", "left_anti")
    return fresh.withWatermark("ts", INGEST_HORIZON).dropDuplicatesWithinWatermark(
        ["content_fp"]
    )


def stream_contamination_flags(new_docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/dedup.py::decontaminate — the
    quarantine channel: every incoming doc that shares a word
    3-shingle with the (static) eval set is emitted exactly once, to
    be routed away from training shards. Anti-join-at-doc-level needs
    corpus-wide state, so the streaming side emits the FLAGGED docs
    (stateless stream-static semi join on the shingle hash +
    dropDuplicatesWithinWatermark to collapse multi-shingle matches);
    the batch sweep owns the survivors, exactly like the near-dup
    split in stream_curate's module docstring.

    Scale shape: the eval shingle set is tiny by construction and
    re-resolves per micro-batch; shingle hashes are md5s computed
    in-row; state is one doc_id per flagged doc per horizon. Input
    stream needs (doc_id, ts, text)."""
    ew = fx.tokenize_ws()
    eval_hashes = (
        eval_docs.filter(F.size(ew) >= fx.SHINGLE_WORDS)
        .select(F.explode(fx.shingles(ew)).alias("s"))
        .select(F.md5("s").alias("h"))
        .distinct()
    )
    words = fx.tokenize_ws()
    exploded = (
        new_docs.filter(F.size(words) >= fx.SHINGLE_WORDS)
        .select("doc_id", "ts", F.explode(fx.shingles(words)).alias("s"))
        .select("doc_id", "ts", F.md5("s").alias("h"))
    )
    flagged = exploded.join(F.broadcast(eval_hashes), "h", "left_semi")
    return (
        flagged.withWatermark("ts", INGEST_HORIZON)
        .dropDuplicatesWithinWatermark(["doc_id"])
        .select("doc_id", "ts")
    )


def stream_ivf_assign(new_vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Streaming twin of the IVF index build (operators/similarity.py::
    ivf_assignments): continuously assign incoming embeddings to their
    nearest-centroid cell so the index ingests without a batch rebuild.
    Stateless — the (static) centroid frame collapses to ONE row
    carrying the whole codebook array, broadcast-joined to the stream,
    and the argmax is an in-row fold (no streaming aggregation, no
    state store). Route the output through foreachBatch with a
    cell-partitioned append to land directly in the
    files.write_ivf_index layout.

    Input stream needs (vec_id, ts, embedding); centroids is the
    static frame (cid, cv, cnorm) with quantized vectors as in the
    batch operator. Staging is similarity.quantized_vectors and the
    fold is similarity._argmax_cos, the batch argmax itself: higher
    cosine wins, then the SMALLER cid."""
    from flinkproj_spark.operators.similarity import _argmax_cos, quantized_vectors

    cent_row = centroids.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("cid", "cv", "cnorm"))
        ).alias("_cents")
    )
    staged = quantized_vectors(new_vectors, "vec_id", "ts")
    cell = _argmax_cos(F.col("_cents"), "cid", "cv", "cnorm", F.col("q"), F.col("norm"))
    return staged.join(F.broadcast(cent_row)).select("vec_id", "ts", cell.alias("cell"))


def build_semdedup_model(spark, sf_dir: str) -> dict:
    """Freeze the semdedup admission artifacts at deploy time — the
    build_dsir_model contract applied to the embedding gate: (a) the
    two-level √N codebook (ONE broadcastable row, `_coarse` + `_cmap`,
    exactly the structure the batch assignment broadcasts), and (b)
    the FROZEN base corpus's per-cell mates (cell → ascending-id array
    of (mid, mq, mnorm)). Admission verdicts must not drift as the
    stream itself ingests, so both the partitioner and the mates pin
    to the snapshot; the nightly batch sweep refreshes the model, the
    same lambda split as every gate in this module. Unlike the DSIR
    model there is NO driver collect — all artifacts stay DataFrames,
    PERSISTED and materialized HERE at build time (round-13, guide §5
    + §1.2): the lazy form re-executed the whole codebook +
    cell-assignment derivation over the frozen corpus on EVERY
    micro-batch (measured 5.6 s/batch at x1 for a 1,000-row arrival
    batch — nearly all of it corpus derivation, linear in corpus
    size), and it also only *assumed* the freeze — a compaction that
    rewrote the snapshot files mid-stream would have silently changed
    verdicts. Materialization makes the per-batch cost
    O(arrivals·√k) + one cached-frame join and makes the freeze a
    property of the artifact instead of an assumption about the input
    directory; the artifacts live until the nightly rebuild replaces
    them — deployed-model lifetime, the same contract as the frozen
    weights every other gate broadcasts. `max_id` is a 1-row frame with the
    snapshot's max vec_id, broadcast into the gate so an arrival whose
    id violates the monotone-id assumption is flagged rather than
    silently under-gated (stream_semdedup_gate's id_overlap column).
    Returns {"codebook": 1-row DF, "mates": per-cell DF,
    "max_id": 1-row DF}."""
    from flinkproj_spark.operators.similarity import (
        _quantized,
        _semdedup_codebook,
        _with_cells,
    )

    from pyspark.storagelevel import StorageLevel

    base = _quantized(spark, sf_dir)
    mates = (
        _with_cells(base)
        .groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("mid"),
                        F.col("q").alias("mq"),
                        F.col("norm").alias("mnorm"),
                    )
                )
            ).alias("mates")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    max_id = base.agg(F.max("vec_id").alias("_max_frozen_id")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    codebook = _semdedup_codebook(base).persist(StorageLevel.MEMORY_AND_DISK)
    # Materialize all three NOW — freezing is an action, not a plan.
    for art in (codebook, max_id, mates):
        art.count()
    return {"codebook": codebook, "mates": mates, "max_id": max_id}


def stream_semdedup_gate(new_vectors: DataFrame, model: dict) -> DataFrame:
    """Streaming twin of operators/similarity.py::semdedup_cells'
    admission verdict — the continuous-ingest gate for the one
    curation stage that had no streaming counterpart: an arriving
    embedding is assigned its cell IN-ROW via the frozen broadcast
    codebook (similarity.assign_cells, the batch assignment), judged
    against the
    FROZEN base corpus's cell-mates via a stream-static equi-join on
    cell, and the verdict (n_similar_prior, max_prior_cos, is_dropped)
    is an in-row fold over the mate array — ZERO streaming state: no
    watermark, no state store, no streaming aggregation; verdict
    latency is micro-batch latency.

    A mate condemns an arrival iff mid < vec_id AND round(cos, 6) ≥
    SEMDEDUP_MIN_COS. On live data every frozen id is smaller than
    every new id, so the guard is a no-op; on a snapshot replay it
    reproduces the batch smaller-id rule exactly — the convergence
    contract (tests/test_streaming_ext.py::TestStreamSemdedupGate pins
    gate verdicts == semdedup_cells rows bit-for-bit on replay). That
    monotone-id assumption is OBSERVABLE, not silent: each verdict row
    carries `id_overlap` = 1 iff the arrival's vec_id ≤ the model's
    max frozen id (broadcast 1-row `max_id` frame) — on live data it
    is identically 0, and a replayed/reused-id feed shows up as
    id_overlap=1 rows whose verdicts used only smaller-id frozen
    mates, so an operator can alert on sum(id_overlap) > 0 instead of
    discovering under-gating after the fact.

    Scale shape: the mates side is corpus-proportional and re-resolves
    per micro-batch (NOT broadcast-hinted — the stream_snapshot_dedup
    rule); one row per cell carrying a ~√N-entry array (exactly the
    per-cell occupancy the batch Σcell² bound already budgets). At
    extreme N where one cell's array outgrows a row, the same verdict
    decomposes over the exploded (cell, mate) layout with a
    (count, max) register per arrival — the register/finisher split
    the monitor family uses. Calling the batch assign_cells keeps its
    orphaned-group COALESCE too (a double-rounding orphaned group must
    degrade identically in both engines or replay convergence breaks),
    and the mates-null branch is handled here. Input stream needs
    (vec_id, ts, embedding)."""
    from flinkproj_spark.operators.similarity import (
        SEMDEDUP_MIN_COS,
        assign_cells,
        quantized_vectors,
    )

    staged = assign_cells(
        quantized_vectors(new_vectors, "vec_id", "ts"), model["codebook"]
    ).crossJoin(F.broadcast(model["max_id"]))

    def _cos(m):
        return F.round(
            fx.dot(m["mq"], F.col("q")).cast("double")
            / (m["mnorm"] * F.col("norm")),
            6,
        )

    fold = F.aggregate(
        F.col("mates"),
        F.struct(
            F.lit(0).cast("long").alias("n"),
            F.lit(None).cast("double").alias("mx"),
        ),
        lambda acc, m: F.when(
            (m["mid"] < F.col("vec_id")) & (_cos(m) >= SEMDEDUP_MIN_COS),
            F.struct(
                (acc["n"] + 1).alias("n"),
                F.greatest(F.coalesce(acc["mx"], F.lit(-2.0)), _cos(m)).alias(
                    "mx"
                ),
            ),
        ).otherwise(acc),
    )
    return (
        staged.join(model["mates"], "cell", "left")
        .withColumn("_v", F.when(F.col("mates").isNull(), None).otherwise(fold))
        .select(
            "vec_id",
            "ts",
            "cell",
            F.coalesce(F.col("_v")["n"], F.lit(0).cast("long")).alias(
                "n_similar_prior"
            ),
            F.col("_v")["mx"].alias("max_prior_cos"),
            F.col("_v")["mx"].isNotNull().cast("int").alias("is_dropped"),
            (F.col("vec_id") <= F.col("_max_frozen_id"))
            .cast("int")
            .alias("id_overlap"),
        )
    )


def stream_quality_scores(new_docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/text.py::quality_classifier_linear:
    score every incoming doc with the same integer-ppm linear model at
    ingest time, so the quarantine/keep routing happens before storage
    instead of in a batch sweep. Entirely stateless — the four
    gopher_stat_aggs statistics are computed IN-ROW over the token
    array (no exploded groupBy, which would need streaming aggregation
    state) under their batch names, and the score is the batch
    operator's own text._qc_score_exprs over them. Input stream needs
    (doc_id, ts, text)."""
    from flinkproj_spark.operators.text import QC_THRESHOLD, _STOPWORDS, _qc_score_exprs

    words = fx.tokenize_ws()
    lower = F.transform(words, lambda w: F.lower(w))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n = F.size(words)
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stops = F.size(F.filter(lower, lambda w: F.array_contains(stop_arr, w)))
    staged = new_docs.filter(n >= 1).select(
        "doc_id",
        "ts",
        n.cast("long").alias("n_words"),
        stops.cast("long").alias("stop_hits"),
        alpha.cast("long").alias("alpha_words"),
        word_chars.alias("word_chars"),
    )
    *_, score = _qc_score_exprs()
    return staged.select(
        "doc_id",
        "ts",
        "n_words",
        score.alias("score_e6"),
        (score > QC_THRESHOLD).cast("int").alias("keep"),
    )


def stream_bpe_encode(new_docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/text.py::bpe_apply: encode each
    incoming document against the fixed broadcast merge table at
    ingest time — tokenize-on-arrival, the layout a continuous shard
    writer consumes. Entirely stateless (the merge table is a plan
    literal; the whole replace-chain encode is in-row), so it composes
    with readStream unchanged and needs no watermark or state store.
    Input stream needs (doc_id, ts, text); the row is the batch
    operator's text.bpe_encode_stats plus the event time."""
    from flinkproj_spark.operators.text import bpe_encode_stats, bpe_id_expr

    staged = new_docs.select("doc_id", "ts", bpe_id_expr().alias("ids"))
    return bpe_encode_stats(staged, "doc_id", "ts")


def build_dsir_model(spark, sf_dir: str) -> dict:
    """Freeze the DSIR selection model from the base corpus for
    streaming deployment: the per-bucket evidence diffs (qt − qr) plus
    the corpus verdict threshold (total evidence, doc count) from the
    batch scorer. Two driver collects of MODEL-sized frames (512 rows
    + 1 row) at build time — the deployed-artifact contract, same as
    stream_quality_scores freezing the classifier weights; nothing is
    ever collected per record.

    Round-13 (guide §1.2 step 1 — don't compute things you throw
    away): the original build invoked dsir_bucket_model AND
    dsir_importance_weights, executing the tokenize+md5-per-token
    corpus pass THREE times (once for the model frame, twice inside
    the scorer's histogram+scoring split) plus a doc-granularity
    shuffle — measured 216 s solo at x30 for artifacts that are 512
    ints + 2 scalars. Every frozen value folds EXACTLY from the
    raw 512-row bucket histogram:

      qt/qr — the same Laplace expressions on (ct, cr, tt, tr),
        evaluated in Python ints; all operands non-negative, so
        Python `//` is identical to SQL `div` (truncation == floor).
      s_all = Σ_docs Σ_tokens diff[bk] = Σ_bk cr_bk · diff_bk —
        reordering a finite BIGINT sum, bit-exact.
      n_docs = # docs with ≥ 1 token — an in-row size() count, no
        explode, no md5.

    One tokenize+hash pass + one cheap in-row count; equivalence with
    the batch-derived model is pinned by
    tests/test_streaming_ext.py (model-equality + gate-vs-batch
    verdict tests)."""
    from flinkproj_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_SCALE,
        DSIR_TARGET_LANG,
        _dsir_tok,
    )
    from flinkproj_spark.sources.tables import fan_out, load_table

    hist = (
        _dsir_tok(spark, sf_dir)
        .groupBy("bk")
        .agg(
            F.count("*").alias("cr"),
            F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long")).alias("ct"),
        )
        .collect()
    )
    cr = [0] * DSIR_BUCKETS
    ct = [0] * DSIR_BUCKETS
    seen = [False] * DSIR_BUCKETS
    for r in hist:
        cr[int(r.bk)] = int(r.cr)
        ct[int(r.bk)] = int(r.ct)
        seen[int(r.bk)] = True
    tr, tt = sum(cr), sum(ct)
    # A bucket with zero tokens never appears in dsir_bucket_model's
    # output, so the frozen model scores it 0 — NOT the Laplace diff
    # an all-buckets formula would give. Same contract as before.
    diffs = [
        (ct[b] + 1) * DSIR_SCALE // (tt + DSIR_BUCKETS)
        - (cr[b] + 1) * DSIR_SCALE // (tr + DSIR_BUCKETS)
        if seen[b]
        else 0
        for b in range(DSIR_BUCKETS)
    ]
    s_all = sum(cr[b] * diffs[b] for b in range(DSIR_BUCKETS))
    docs = fan_out(
        spark, sf_dir, "documents", load_table(spark, sf_dir, "documents")
    )
    n_docs = docs.filter(F.size(fx.tokenize_ws()) >= 1).count()
    return {"diffs": diffs, "s_all": s_all, "n_docs": n_docs}


def stream_dsir_gate(new_docs: DataFrame, model: dict) -> DataFrame:
    """Streaming twin of operators/curation.py::dsir_importance_weights:
    score every incoming document against the FROZEN DSIR model at
    ingest time (build_dsir_model) — the target-likeness routing that
    decides, before storage, whether a crawled doc joins the
    target-like pool. Entirely stateless: the 512-bucket model and the
    corpus threshold compile into codegen literals, the per-token
    bucket lookup and evidence sum run IN-ROW over the token array (no
    exploded groupBy state), and each token's bucket is
    curation.dsir_bucket, the batch scorer's own. The verdict uses the threshold frozen at
    model-build time — the deployed-model semantics (a drifting stream
    mean would make admission non-deterministic). Input stream needs
    (doc_id, ts, text)."""
    from flinkproj_spark.operators.curation import dsir_bucket

    words = fx.tokenize_ws()
    diff_arr = F.array(*[F.lit(int(d)) for d in model["diffs"]])
    bks = F.transform(words, dsir_bucket)
    ssum = F.aggregate(
        bks,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(diff_arr, b.cast("int") + 1),
    )
    staged = new_docs.filter(F.size(words) >= 1).select(
        "doc_id",
        "ts",
        F.size(words).cast("long").alias("n_words"),
        ssum.alias("dsir_sum_ppb"),
    )
    return staged.select(
        "doc_id",
        "ts",
        "n_words",
        "dsir_sum_ppb",
        (F.col("dsir_sum_ppb") * F.lit(model["n_docs"]) > F.lit(model["s_all"]))
        .cast("int")
        .alias("target_like"),
    )


def stream_pii_gate(new_docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/curation.py::pii_scan_report's
    per-document verdict: count each PII pattern class in-row at
    ingest and emit the quarantine flag BEFORE storage — the release-
    boundary gate applied at the door instead of at the exit. Entirely
    stateless (the patterns compile into the plan; JVM regex in-row,
    no Python, no shuffle), so it composes with any downstream
    watermark/sink and is arithmetically identical to the batch scan
    per document. Input stream needs (doc_id, text); emits per-class
    counts plus pii_flagged."""
    from flinkproj_spark.operators.curation import PII_PATTERNS

    counts = [
        F.regexp_count("text", F.lit(p)).cast("long").alias(f"{name}_hits")
        for name, p in PII_PATTERNS.items()
    ]
    staged = new_docs.select("doc_id", *counts)
    any_hit = sum(F.col(f"{n}_hits") for n in PII_PATTERNS) > 0
    return staged.withColumn("pii_flagged", any_hit.cast("int"))


def stream_lang_mix_gate(new_docs: DataFrame) -> DataFrame:
    """Streaming twin of operators/text.py::lang_mix_report's
    per-document stage: count each language's marker-word evidence
    IN-ROW at ingest and emit the cross-lingual ambiguity verdict —
    n_langs_detected, total marker hits, and the mixed flag (evidence
    spans ≥ 2 languages) that routes code-switched / boilerplate-
    contaminated docs away from the monolingual pools before storage.

    Entirely stateless (compile-time constant marker arrays, no
    explode, no state store); the per-language counts are
    text.lang_marker_hits, the batch operator's own — the same
    frozen-constant contract as stream_dsir_gate. Input stream needs
    (doc_id, ts, text)."""
    from flinkproj_spark.operators.text import lang_marker_hits

    hits = lang_marker_hits(F.transform(fx.tokenize_ws(), lambda w: F.lower(w)))
    n_langs = sum((h > 0).cast("int") for h in hits)
    total = sum(hits)
    return new_docs.select(
        "doc_id",
        "ts",
        n_langs.cast("int").alias("n_langs_detected"),
        total.cast("long").alias("marker_hits"),
        (n_langs >= 2).cast("int").alias("mixed"),
    )
