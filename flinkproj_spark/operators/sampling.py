"""Corpus sampling / chunking / packing operators for training-data
pipelines, plus the sliding (hopping) window the tumbling/session
operators don't cover.

Not in the reference (its only windows are 30 s tumbles,
DataReport.java:139; it has no sampling or batching surface at all,
SURVEY.md §2.9) — these are the remaining dataset-construction steps an
LLM pipeline runs between dedup and tokenization: stratified
downsampling to a language budget, splitting long documents into
fixed-token chunks, and packing short documents into fixed-capacity
training sequences.

Scale notes:
  * sampling is a pure codegen'd filter on md5(doc_id) — deterministic,
    seedable by salt, no shuffle, and at 100 TB it prunes before any
    expensive downstream work;
  * chunking is O(words) per doc (explode of pre-sliced chunks), with
    the chunk count, not the token stream, crossing the explode;
  * packing uses one window cumsum per source partition — a single
    shuffle on `source`; the greedy-contiguous formulation is the
    standard scalable approximation of bin packing (exact packing is
    inherently sequential);
  * the sliding window expands each event into window/slide = 3 rows
    in-row (no self-join), then one combined count shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.sources.tables import load_table

_TOKEN_RE = fx.TOKEN_RE

# Per-language keep rate, expressed as an md5-hex-prefix ceiling: a doc
# survives iff md5(doc_id || salt) starts below the ceiling. '28' ≈
# 25/256 ≈ 16%, 'c0' = 192/256 = 75%. String comparison on the hex
# digest is identical in Spark and DuckDB, so no float RNG is involved.
_RATES = {"en": "28", "de": "c0", "es": "c0", "fr": "c0"}
_DEFAULT_CEIL = "ff"  # unknown languages kept (ceiling above any digest)
_SALT = "s0"

_CHUNK_WORDS = 32
_PACK_CAPACITY = 256  # words per packed training sequence


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of `documents`: each language
    keeps a fixed fraction chosen by hash, so the sample is reproducible
    across runs/engines and requires no shuffle or state."""
    docs = load_table(spark, sf_dir, "documents")
    ceil_col = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _RATES.items() for x in kv])[F.col("lang")],
        F.lit(_DEFAULT_CEIL),
    )
    return docs.filter(fx.hash_keep(F.col("doc_id"), _SALT) < ceil_col).select(
        "doc_id", "lang", "source", "n_chars"
    )


IS_SALT = "is|"  # importance-sample hash domain separator
IS_CAP_WORDS = 200  # weight saturates at this length


def importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: each document survives
    with probability proportional to its (length-capped) weight —
    longer/denser docs kept more often, the static analog of
    importance-weighted data selection. No RNG: the coin is the
    document's own 32-bit md5 prefix compared against an integer
    threshold derived from the weight, so the sample is reproducible
    across runs, engines, and partitionings.

    Shape: pure scan + filter, zero shuffle, all integer arithmetic
    (w_e6 · 2³² div 10⁶ never overflows a BIGINT)."""
    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    n_words = F.size(words)
    w_e6 = (F.least(n_words, F.lit(IS_CAP_WORDS)) * F.lit(1_000_000 // IS_CAP_WORDS)).cast(
        "long"
    )
    h32 = F.conv(
        F.substring(F.md5(F.concat(F.lit(IS_SALT), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    staged = docs.select(
        "doc_id", "lang", n_words.alias("n_words"), w_e6.alias("w_e6"), h32.alias("_h")
    )
    return staged.filter(
        F.col("_h") < F.expr("(w_e6 * 4294967296) div 1000000")
    ).select("doc_id", "lang", "n_words", "w_e6")


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed-size word chunks (CHUNK_WORDS=32):
    one output row per chunk with its text and word count. The slice per
    chunk is O(chunk), so total work is O(words) per doc."""
    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    n = F.size(words)
    base = docs.filter(n >= 1).select("doc_id", words.alias("ws"), n.alias("n"))
    n_chunks = F.ceil(F.col("n") / F.lit(_CHUNK_WORDS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(F.col("ws"), i * _CHUNK_WORDS + 1, _CHUNK_WORDS), " "
        ),
    )
    out = base.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.size(fx.tokenize_ws("chunk_text")).alias("chunk_words"),
    )


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-contiguous sequence packing: within each source (ordered by
    doc_id), documents fill fixed-capacity packs of PACK_CAPACITY=256
    words; a doc starts a new pack when its words would overflow the
    running total. Emits per-pack doc count, word total, and fill ratio.

    Contiguous-fill is the shuffle-light approximation of bin packing:
    one window cumsum per source, no global coordination — the form that
    still works when a source holds billions of docs."""
    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    sized = docs.select(
        "doc_id", "source", F.least(F.size(words), F.lit(_PACK_CAPACITY)).alias("nw")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn("cum_before", F.sum("nw").over(w) - F.col("nw"))
    packed = cum.withColumn(
        "pack_id", F.floor(F.col("cum_before") / F.lit(_PACK_CAPACITY)).cast("long")
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("nw").alias("n_words"),
    )


def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing audit: per source, how efficiently greedy-contiguous
    sequence packing (sequence_pack) fills its fixed 256-word packs —
    pack counts, exact/over/under splits, extreme fills, and the
    aggregate fill ppm (n_words·1e6 div capacity·n_packs). This is the
    padding-waste number a trainer actually pays: every under-filled
    pack pads to capacity, every overflow spills into attention-mask
    bookkeeping, and a packing change that looks harmless can silently
    cost 10%+ of cluster throughput — so the audit belongs next to the
    packer as a first-class, oracle-checked report.

    Shape: pure composition on sequence_pack (one window cumsum per
    source, its only shuffle) followed by a groupBy(source) over the
    already-tiny per-pack table — rows there are corpus/avg-docs-per-
    pack, so the report costs one extra map-side-combined aggregation
    regardless of corpus size."""
    packs = sequence_pack(spark, sf_dir)
    over = (F.col("n_words") > _PACK_CAPACITY).cast("long")
    exact = (F.col("n_words") == _PACK_CAPACITY).cast("long")
    under = (F.col("n_words") < _PACK_CAPACITY).cast("long")
    return (
        packs.groupBy("source")
        .agg(
            F.count("*").alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum(exact).alias("n_exact"),
            F.sum(over).alias("n_over"),
            F.sum(under).alias("n_under"),
            F.max("n_words").alias("max_pack_words"),
            F.min("n_words").alias("min_pack_words"),
        )
        .withColumn(
            "fill_ppm",
            F.expr(f"n_words * 1000000 div (n_packs * {_PACK_CAPACITY})"),
        )
    )


SLIDE_WINDOW = "30 seconds"
SLIDE_STEP = "10 seconds"


def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window count over events: 30 s windows sliding every 10 s,
    per event_type. Each event lands in exactly 3 windows; the expansion
    is an in-row sequence explode (no self-join), the count one combined
    shuffle."""
    events = load_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(
            F.window("ts", SLIDE_WINDOW, SLIDE_STEP).alias("w"), "event_type"
        )
        .agg(F.count("*").alias("cnt"))
    )
    return agg.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
    )


# Target language mixture for domain_mix, integer percents.
_MIX_PCT = {"en": 40, "de": 20, "es": 20, "fr": 10, "zh": 10}
_MIX_SALT = "mix0"


def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixing by downsampling: find the largest total T
    whose target mixture fits inside the corpus (T = min over languages
    of count·100/pct — the binding language keeps everything), then keep
    each language at fraction pct·T/(100·count) via the deterministic
    md5-bucket coin. The DoReMi/Pile-style static-reweighting step
    between dedup and tokenization.

    Scale shape: pass 1 is a map-side-combined count by language (tiny
    result), the threshold table is broadcast back, and pass 2 is a pure
    scan+filter — no shuffle ever touches the corpus rows. Thresholds
    are double arithmetic over exact integer counts with the SAME
    operation order in both engines, so the kept set is identical."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.create_map(
        *[F.lit(x) for kv in _MIX_PCT.items() for x in kv]
    )[F.col("lang")]
    counts = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .withColumn("p", pct)
        .filter(F.col("p").isNotNull() & (F.col("p") > 0))
    )
    t = counts.select(F.min(F.col("c") * 100.0 / F.col("p")).alias("t"))
    thr = counts.crossJoin(F.broadcast(t)).select(
        "lang",
        ((F.col("p") / 100.0) * F.col("t") / F.col("c") * F.lit(4294967296.0))
        .alias("thr"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_SALT))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.join(F.broadcast(thr), "lang")
        .filter(bucket.cast("double") < F.col("thr"))
        .select("doc_id", "lang", "source")
    )


_N_SHARDS = 8
_SHUFFLE_SALT = "shard0"


def shard_assignment() -> tuple[Column, Column]:
    """THE training-shard assignment of a doc_id: its shuffle key
    md5(doc_id || _SHUFFLE_SALT) and its shard, the key's first 32
    bits mod _N_SHARDS. The layout key, its writers
    (sources/files.py), the shard-balance audit and the streaming
    publisher all call this, so a doc lands in the same shard however
    it is written or audited."""
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SHUFFLE_SALT)))
    return key, F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % _N_SHARDS


def train_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding of the corpus for
    training output: every doc gets a pseudo-random but reproducible
    position — shard = md5-bucket of doc_id, pos = rank of the full
    md5 key within the shard — so a trainer streaming shard files in
    pos order reads uniformly shuffled data, identically on every run.

    Scale shape: the key is an in-row hash; the only shuffle is the
    hash partition on `shard` + an in-partition sort (the sort IS the
    semantics). At 100 TB, shard count is raised to O(10k) so each
    shard sorts independently and writes one training file — the
    classic shuffle-shard-write layout; no global sort ever happens."""
    docs = load_table(spark, sf_dir, "documents")
    key, shard = shard_assignment()
    keyed = docs.select("doc_id", key.alias("_k"), shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy("_k", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


_CURR_STAGES = 4
_CURR_SHARDS = 8
_CURR_SALT = "curr0"


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (Bengio et al. 2009, public): stage
    the corpus easy→hard by quality-classifier score quartile (stage 1
    = top quartile, consumed first), then lay each stage out as a
    deterministic shuffle-shard schedule — shard = md5 bucket, pos =
    md5-rank within (stage, shard) — so a data loader reading stages
    in order and shards round-robin gets a reproducible curriculum
    with uniform within-stage mixing.

    Stage assignment is the skew-safe two-pass rank (the
    quality_rank_per_lang layout): per-score counts collapse to a
    tiny distinct-score frame whose running sum gives each score's
    global rank OFFSET (window over distinct scores only — bounded by
    the feature grid, never corpus-shaped) plus the corpus total; docs
    then rank WITHIN their score group and stage = ((rank−1)·4) div n
    + 1. No single task ever sorts a quartile: the only doc-level
    windows partition by (score) and by (stage, shard) — both bounded
    groups. Integer end-to-end, bit-identical across engines; shares
    train_shard_shuffle's md5 layout contract (exactness of the
    written layout pinned there)."""
    from flinkproj_spark.operators.text import quality_classifier_linear

    scored = quality_classifier_linear(spark, sf_dir).select("doc_id", "score_e6")
    per = scored.groupBy("score_e6").agg(F.count("*").alias("c"))
    w_ofs = (
        Window.orderBy(F.col("score_e6").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per.select(
        "score_e6", F.coalesce(F.sum("c").over(w_ofs), F.lit(0)).alias("offset")
    )
    tot = per.agg(F.sum("c").alias("n"))
    w_in = Window.partitionBy("score_e6").orderBy("doc_id")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_CURR_SALT)))
    staged = (
        scored.join(F.broadcast(offs), "score_e6")
        .crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.col("offset") + F.row_number().over(w_in))
        .select(
            "doc_id",
            F.expr(f"cast(((rnk - 1) * {_CURR_STAGES}) div n + 1 as int)").alias(
                "stage"
            ),
            key.alias("_k"),
            (F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % _CURR_SHARDS).alias(
                "shard"
            ),
        )
    )
    w_pos = Window.partitionBy("stage", "shard").orderBy("_k", "doc_id")
    return staged.select(
        "doc_id",
        "stage",
        "shard",
        F.row_number().over(w_pos).cast("long").alias("pos"),
    )


_N_BUCKETS = 10
_SPLIT_SALT = "split0"
# md5-hex-prefix ceilings: < 'cc' (204/256 ≈ 80%) → train,
# < 'e6' (230/256 ≈ 90%) → val, else test.
_TRAIN_CEIL, _VAL_CEIL = "cc", "e6"


def quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile bucketing of documents by length, with
    per-bucket statistics — the step that sizes length-stratified
    training mixes and spots degenerate length distributions.

    Boundaries are exact type-1 (rank-based) quantiles computed with
    pure integer arithmetic — `boundary_k = min value whose cumulative
    count·10 ≥ N·k` — so both engines agree bit-for-bit; interpolating
    quantiles (percentile/quantile_cont) round differently per engine
    and can flip a boundary bucket. Shape: one map-side-combined
    count per distinct length (the heavy pass), then a running sum
    over the DISTINCT length values only — that window sorts |distinct
    lengths| rows, bounded by the corpus length cap (~10⁵ at any
    corpus size), not by row count — then the 9 boundaries collapse to
    one broadcast row and bucket assignment is a codegen'd comparison
    fold. Ties share a bucket (deterministic, if uneven)."""
    docs = load_table(spark, sf_dir, "documents")
    vc = docs.groupBy("n_chars").agg(F.count("*").alias("c"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.withColumn("cum", F.sum("c").over(w))
    total = docs.agg(F.count("*").alias("n"))
    bounds = (
        cum.crossJoin(F.broadcast(total))
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * _N_BUCKETS >= F.col("n") * k, F.col("n_chars")
                    )
                ).alias(f"b{k}")
                for k in range(1, _N_BUCKETS)
            ]
        )
    )
    bucket = F.lit(1)
    for k in range(1, _N_BUCKETS):
        bucket = bucket + F.when(F.col("n_chars") > F.col(f"b{k}"), 1).otherwise(0)
    return (
        docs.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split audit, stratified
    reporting by language: each doc's split is a pure function of
    md5(doc_id || salt), so the assignment is reproducible across runs,
    engines, partitionings, and retries — no RNG state, no shuffle to
    assign. Report: docs per (lang, split) plus the split's share of
    the language in exact integer ppm. One combined groupBy; the
    language totals ride a broadcast self-aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SPLIT_SALT))), 1, 2
    )
    split = (
        F.when(h < _TRAIN_CEIL, "train").when(h < _VAL_CEIL, "val").otherwise("test")
    )
    per = (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )
    lang_tot = per.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    return (
        per.join(F.broadcast(lang_tot), "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            F.expr("n_docs * 1000000 div lang_total").alias("share_ppm"),
        )
    )


TEMP_BUDGET = 1000  # total docs the tempered mixture allocates


def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language reweighting (the multilingual-
    training mix: sample probability ∝ n_lang^α with α = 0.5, so
    low-resource languages are upsampled relative to their corpus
    share): per language, the α-tempered weight and the integer doc
    budget it earns out of TEMP_BUDGET.

    Determinism: sqrt is IEEE correctly-rounded in both engines, and
    the weight SUM is an in-row left fold over the langs sorted
    ascending — language cardinality is bounded (dozens), so the whole
    weight table fits one row and the double accumulation order is
    identical everywhere; no float aggregate whose order the engine
    chooses. Shape: one map-side-combined count by lang, then a 1-row
    broadcast back — corpus scanned once, nothing corpus-proportional
    moves."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    total_w = counts.groupBy().agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "n_docs"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["n_docs"].cast("double")),
        ).alias("w_sum")
    )
    return (
        counts.crossJoin(F.broadcast(total_w))
        .select(
            "lang",
            "n_docs",
            F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1e6).cast("long").alias("weight_e6"),
            F.floor(
                F.lit(float(TEMP_BUDGET))
                * F.sqrt(F.col("n_docs").cast("double"))
                / F.col("w_sum")
            ).cast("long").alias("target_docs"),
        )
    )


EPOCH_BUDGET_X = 2  # training budget = X × corpus tokens


def epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch allocation — the question the mixing family
    could not answer until now: given a training budget of
    EPOCH_BUDGET_X × the corpus's total tokens, how many PASSES
    (epochs) over each source does the run take? Weights are
    √-tempered on source token mass (the same α = 0.5 upsampling rule
    as temperature_mix, applied to sources), so small curated sources
    earn multiple epochs while the largest source trains under one
    pass. Per source: token mass, tempered weight, its token
    allocation, and the epoch count split into integer passes plus a
    fractional remainder in ppm.

    Determinism: the only float op is per-row sqrt (IEEE
    correctly-rounded, identical in both engines) immediately floored
    to BIGINT, so every SUM is integer-exact — no float aggregate
    whose accumulation order the engine picks. Allocation products
    route through DECIMAL(38,0): at 100 TB total_tokens ≈ 2.5e13 and
    budget × weight overflows BIGINT. The budget invariant
    0 ≤ B − Σ target_tokens < n_sources (one truncated token per
    source, pinned in tests/test_operators.py) is what a training run
    audits before launch.

    Shape: one map-side-combined groupBy(source) over the scan (tiny
    result), a 1-row broadcast of the two totals back over the
    source table — nothing corpus-proportional ever shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.regexp_count("text", F.lit(_TOKEN_RE)))
            .cast("long")
            .alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "weight",
            F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long"),
        )
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("_total_tokens"),
        F.sum("weight").alias("_sum_w"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .selectExpr(
            "source",
            "n_docs",
            "n_tokens",
            "weight",
            f"CAST(CAST(_total_tokens AS DECIMAL(38,0)) * {EPOCH_BUDGET_X}"
            " * weight div _sum_w AS BIGINT) AS target_tokens",
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_tokens",
            "weight",
            "target_tokens",
            "target_tokens div n_tokens AS epochs",
            "CAST(CAST(target_tokens % n_tokens AS DECIMAL(38,0)) * 1000000"
            " div n_tokens AS BIGINT) AS epochs_frac_ppm",
        )
    )


QUERIES = {
    "temperature_mix": temperature_mix,
    "epoch_schedule": epoch_schedule,
    "stratified_sample": stratified_sample,
    "importance_sample": importance_sample,
    "domain_mix": domain_mix,
    "train_shard_shuffle": train_shard_shuffle,
    "curriculum_order": curriculum_order,
    "doc_chunking": doc_chunking,
    "sequence_pack": sequence_pack,
    "packing_efficiency_report": packing_efficiency_report,
    "sliding_window_agg": sliding_window_agg,
    "quantile_bucketize": quantile_bucketize,
    "stratified_split": stratified_split,
}

_WORDS_SQL = "list_filter(string_split(text, ' '), w -> w != '')"

_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_PCT.items()
) + " ELSE NULL END"

ORACLE = {
    "temperature_mix": f"""
        WITH c AS (
          SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        w AS (
          -- left fold over langs sorted ascending: the double
          -- accumulation order matches the Spark in-row fold exactly
          SELECT list_sum(list_transform(
                   list(n_docs ORDER BY lang), n -> sqrt(CAST(n AS DOUBLE))))
                 AS w_sum
          FROM c)
        SELECT c.lang, c.n_docs,
               CAST(FLOOR(sqrt(CAST(c.n_docs AS DOUBLE)) * 1e6) AS BIGINT)
                 AS weight_e6,
               CAST(FLOOR({float(TEMP_BUDGET)} * sqrt(CAST(c.n_docs AS DOUBLE))
                          / w.w_sum) AS BIGINT) AS target_docs
        FROM c CROSS JOIN w
    """,
    "domain_mix": f"""
        WITH c AS (
          SELECT lang, COUNT(*) AS c, {_MIX_CASE} AS p
          FROM documents GROUP BY lang),
        f AS (SELECT lang, c, p FROM c WHERE p IS NOT NULL AND p > 0),
        t AS (SELECT MIN(c * 100.0 / p) AS t FROM f),
        thr AS (
          SELECT lang, (p / 100.0) * (SELECT t FROM t) / c * 4294967296.0 AS thr
          FROM f)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN thr USING (lang)
        WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '{_MIX_SALT}'),
                                   1, 8))::BIGINT AS DOUBLE) < thr
    """,
    "train_shard_shuffle": f"""
        WITH k AS (
          SELECT doc_id,
                 md5(CAST(doc_id AS VARCHAR) || '{_SHUFFLE_SALT}') AS _k
          FROM documents)
        SELECT doc_id,
               ('0x' || substr(_k, 1, 8))::BIGINT % {_N_SHARDS} AS shard,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY ('0x' || substr(_k, 1, 8))::BIGINT % {_N_SHARDS}
                 ORDER BY _k, doc_id) AS BIGINT) AS pos
        FROM k
    """,
    "stratified_sample": f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || '{_SALT}'), 1, 2)
              < CASE lang WHEN 'en' THEN '28'
                          WHEN 'de' THEN 'c0'
                          WHEN 'es' THEN 'c0'
                          WHEN 'fr' THEN 'c0'
                          ELSE 'ff' END
    """,
    "doc_chunking": f"""
        WITH ws AS (
          SELECT doc_id, {_WORDS_SQL} AS w FROM documents
          WHERE len({_WORDS_SQL}) >= 1
        ),
        ch AS (
          SELECT doc_id,
                 CAST(i AS BIGINT) AS chunk_id,
                 array_to_string(w[i*{_CHUNK_WORDS}+1 : (i+1)*{_CHUNK_WORDS}], ' ')
                   AS chunk_text
          FROM ws, UNNEST(range(CAST(ceil(len(w) / {_CHUNK_WORDS}.0) AS BIGINT))) t(i)
        )
        SELECT doc_id, chunk_id, chunk_text,
               len(list_filter(string_split(chunk_text, ' '), x -> x != ''))
                 AS chunk_words
        FROM ch
    """,
    "sequence_pack": f"""
        WITH sized AS (
          SELECT doc_id, source,
                 least(len({_WORDS_SQL}), {_PACK_CAPACITY}) AS nw
          FROM documents
        ),
        cum AS (
          SELECT source, nw,
                 SUM(nw) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - nw AS cum_before
          FROM sized
        )
        SELECT source,
               CAST(FLOOR(cum_before / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id,
               COUNT(*) AS n_docs,
               CAST(SUM(nw) AS BIGINT) AS n_words
        FROM cum
        GROUP BY 1, 2
    """,
    "sliding_window_agg": """
        SELECT strftime(time_bucket(INTERVAL 10 seconds, ts)
                          - k * INTERVAL 10 seconds,
                        '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type,
               COUNT(*) AS cnt
        FROM events, UNNEST([0, 1, 2]) t(k)
        GROUP BY 1, 2
    """,
}

ORACLE["epoch_schedule"] = f"""
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
      FROM s WHERE n_tokens > 0),
    t AS (SELECT SUM(n_tokens) AS total_tokens, SUM(weight) AS sum_w FROM w),
    a AS (
      SELECT source, n_docs, n_tokens, weight,
             CAST(total_tokens * {EPOCH_BUDGET_X} * weight // sum_w
                  AS BIGINT) AS target_tokens
      FROM w CROSS JOIN t)
    SELECT source, n_docs, n_tokens, weight, target_tokens,
           CAST(target_tokens // n_tokens AS BIGINT) AS epochs,
           CAST((target_tokens % n_tokens) * 1000000 // n_tokens
                AS BIGINT) AS epochs_frac_ppm
    FROM a
"""

ORACLE["importance_sample"] = f"""
    WITH s AS (
      SELECT doc_id, lang,
             len({_WORDS_SQL}) AS n_words,
             CAST(LEAST(len({_WORDS_SQL}), {IS_CAP_WORDS})
                  * {1_000_000 // IS_CAP_WORDS} AS BIGINT) AS w_e6,
             ('0x' || substr(md5('{IS_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM documents)
    SELECT doc_id, lang, n_words, w_e6 FROM s
    WHERE h < (w_e6 * 4294967296) // 1000000
"""

_BOUNDS_SQL = ", ".join(
    f"min(CASE WHEN cum * {_N_BUCKETS} >= n * {k} THEN n_chars END) AS b{k}"
    for k in range(1, _N_BUCKETS)
)
_BUCKET_SQL = "1 + " + " + ".join(
    f"(CASE WHEN d.n_chars > b.b{k} THEN 1 ELSE 0 END)"
    for k in range(1, _N_BUCKETS)
)

ORACLE["quantile_bucketize"] = f"""
    WITH vc AS (
      SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY 1),
    cum AS (
      SELECT n_chars, SUM(c) OVER (ORDER BY n_chars) AS cum FROM vc),
    t AS (SELECT COUNT(*) AS n FROM documents),
    b AS (SELECT {_BOUNDS_SQL} FROM cum CROSS JOIN t)
    SELECT bucket, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM (
      SELECT CAST({_BUCKET_SQL} AS INT) AS bucket, d.n_chars
      FROM documents d CROSS JOIN b)
    GROUP BY 1
"""

ORACLE["stratified_split"] = f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}'), 1, 2)
                       < '{_TRAIN_CEIL}' THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}'), 1, 2)
                       < '{_VAL_CEIL}' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    per AS (
      SELECT lang, split, COUNT(*) AS n_docs FROM assigned GROUP BY 1, 2),
    tot AS (
      SELECT lang, SUM(n_docs) AS lang_total FROM per GROUP BY 1)
    SELECT p.lang, p.split, p.n_docs,
           CAST(p.n_docs * 1000000 // t.lang_total AS BIGINT) AS share_ppm
    FROM per p JOIN tot t ON p.lang = t.lang
"""


def _curriculum_oracle() -> str:
    """Oracle replays the stage rank with ONE global window (the
    oracle need not be skew-safe — only bit-identical); the score CTE
    is built from the classifier's own weight constants so the staging
    can never drift from the deployed scorer."""
    from flinkproj_spark.operators.text import (
        QC_BIAS,
        QC_WEIGHTS,
        _STOP_SQL,
        _WORDS_SQL as _TEXT_WORDS_SQL,
    )

    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TEXT_WORDS_SQL}) AS w FROM documents),
    base AS (
      SELECT doc_id,
             COUNT(*) AS n_words,
             CAST(SUM(len(w)) AS BIGINT) AS word_chars,
             CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]')
                           THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
             CAST(SUM(CASE WHEN lower(w) IN ({_STOP_SQL})
                           THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
      FROM tok GROUP BY 1),
    scored AS (
      SELECT doc_id,
             CAST({QC_WEIGHTS['stop_ppm']} * (stop_hits * 1000000 // n_words)
                  + {QC_WEIGHTS['alpha_ppm']} * (alpha_words * 1000000 // n_words)
                  + {QC_WEIGHTS['len_penalty']}
                    * ABS(word_chars * 1000000 // n_words - 5000000)
                  + {QC_BIAS} AS BIGINT) AS score_e6
      FROM base),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM scored),
    k AS (
      SELECT doc_id,
             CAST(((rnk - 1) * {_CURR_STAGES}) // n + 1 AS INT) AS stage,
             md5(CAST(doc_id AS VARCHAR) || '{_CURR_SALT}') AS _k
      FROM r)
    SELECT doc_id, stage,
           ('0x' || substr(_k, 1, 8))::BIGINT % {_CURR_SHARDS} AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY stage,
                          ('0x' || substr(_k, 1, 8))::BIGINT % {_CURR_SHARDS}
             ORDER BY _k, doc_id) AS BIGINT) AS pos
    FROM k
"""


ORACLE["curriculum_order"] = _curriculum_oracle()

ORACLE["packing_efficiency_report"] = f"""
    WITH sized AS (
      SELECT doc_id, source,
             least(len({_WORDS_SQL}), {_PACK_CAPACITY}) AS nw
      FROM documents),
    cum AS (
      SELECT source, nw,
             SUM(nw) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - nw AS cum_before
      FROM sized),
    packs AS (
      SELECT source,
             CAST(FLOOR(cum_before / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id,
             COUNT(*) AS n_docs,
             CAST(SUM(nw) AS BIGINT) AS n_words
      FROM cum GROUP BY 1, 2)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN n_words = {_PACK_CAPACITY} THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN n_words > {_PACK_CAPACITY} THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
           CAST(SUM(CASE WHEN n_words < {_PACK_CAPACITY} THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
           CAST(MAX(n_words) AS BIGINT) AS max_pack_words,
           CAST(MIN(n_words) AS BIGINT) AS min_pack_words,
           CAST(SUM(n_words) AS BIGINT) * 1000000
             // (COUNT(*) * {_PACK_CAPACITY}) AS fill_ppm
    FROM packs GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Exact range-partition planning (round 8)
# ---------------------------------------------------------------------------

#: Target partition count for range_partition_plan.
RP_PARTS = 8


def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact range-partitioner planning over the document word-count
    key: the split bounds a layout job (zorder_layout,
    train_shard_shuffle) would range-partition by, computed from the
    EXACT value histogram instead of Spark's reservoir sampling — so
    the plan is deterministic, engine-agnostic, and exposes chunky-key
    imbalance before a 100 TB write, not after. Each distinct value is
    assigned to the partition of its FIRST row in value order
    (part = rows_before * P div N); a value whose row count straddles
    the ideal boundary lands whole, and the resulting load_ppm column
    (1e6 = perfectly balanced) is the diagnosis.

    Shape: the corpus scan collapses to the distinct word-count
    histogram (value-grid frame — bounded by the maximum document
    length, never by corpus rows); the cumulative window, the part
    assignment and the final rollup all run on that grid with the
    1-row total as a broadcast. At 100 TB only the histogram groupBy
    touches data."""
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select(F.size(fx.tokenize_ws()).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("before"),
    )
    tot = hist.agg(F.sum("cnt").alias("n_total"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr(f"CAST(before * {RP_PARTS} div n_total AS INT)").alias(
                "part_id"
            )
        )
        .agg(
            F.min("v").cast("long").alias("lo_v"),
            F.max("v").cast("long").alias("hi_v"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.first("n_total").alias("_n"),
        )
        .select(
            "part_id",
            "lo_v",
            "hi_v",
            "n_rows",
            # DECIMAL(38,0) numerator: n_rows * PARTS * 1e6 wraps
            # BIGINT near ~1.2e9 rows per part at 8 parts (round-9
            # advice fix; oracle already sums in HUGEINT).
            F.expr(
                f"CAST(CAST(n_rows AS DECIMAL(38,0)) * {RP_PARTS}"
                " * 1000000 div _n AS BIGINT)"
            ).alias("load_ppm"),
        )
    )


QUERIES["range_partition_plan"] = range_partition_plan
ORACLE["range_partition_plan"] = f"""
    WITH hist AS (
      SELECT len({_WORDS_SQL}) AS v, COUNT(*) AS cnt
      FROM documents GROUP BY 1),
    cum AS (
      SELECT v, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM hist),
    tot AS (SELECT SUM(cnt) AS n_total FROM hist)
    SELECT CAST(before * {RP_PARTS} // n_total AS INT) AS part_id,
           CAST(MIN(v) AS BIGINT) AS lo_v,
           CAST(MAX(v) AS BIGINT) AS hi_v,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(SUM(cnt) * {RP_PARTS} * 1000000 // ANY_VALUE(n_total)
                AS BIGINT) AS load_ppm
    FROM cum CROSS JOIN tot
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Deterministic stratified split + exact token-budget apportionment
# (round 8)
# ---------------------------------------------------------------------------

#: train/val/test cut points out of SPLIT_DENOM rank slices.
SPLIT_DENOM = 10
SPLIT_TRAIN = 8  # slice < 8 train, slice 8 val, slice 9 test

#: Dedicated salt for the split RANK. Must differ from every sampling
#: coin (_SALT, _MIX_SALT, ...): if the rank reused a keep-coin salt,
#: rank order would be a monotone function of that coin and the docs a
#: composed stratified_sample keeps would all land in 'train',
#: silently biasing val/test (round-9 advice fix).
_SPLITRANK_SALT = "splitrank0"


def stratified_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test assignment with EXACT
    per-stratum proportions: within each language, docs are ranked by
    (md5(doc_id||salt), doc_id) — a seedless uniform shuffle both
    engines compute identically — and the rank slice rank*10 div n
    yields an exact 80/10/10 split per language (hash-threshold
    sampling like hash_keep is only approximately proportional; quota
    splits must be exact or small strata starve their eval sets).
    split_leakage_report audits a split AFTER the fact; this is the
    operator that mints one worth auditing.

    Shape: the rank is the skew-safe two-pass bucketed row_number
    (functions.bucketed_row_number) partitioned by lang and bucketed
    by the first md5 byte — a 256-value grid, so the offset frame is
    langs x 256 and no task ever sorts a whole stratum (the dominant
    language IS the skew case at 100 TB). Per-language totals ride a
    broadcast of the lang-dimension aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = docs.withColumn(
        "_h",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SPLITRANK_SALT))),
    )
    ranked = fx.bucketed_row_number(
        keyed,
        F.conv(F.substring("_h", 1, 2), 16, 10).cast("long"),
        [F.col("_h").asc(), F.col("doc_id").asc()],
        "rk",
        partition=["lang"],
    )
    totals = ranked.groupBy("lang").agg(F.count("*").alias("n"))
    return (
        ranked.join(F.broadcast(totals), "lang")
        .select(
            "doc_id",
            "lang",
            F.expr(
                f"CAST(CASE WHEN (rk - 1) * {SPLIT_DENOM} div n < {SPLIT_TRAIN}"
                f" THEN 'train' WHEN (rk - 1) * {SPLIT_DENOM} div n = {SPLIT_TRAIN}"
                " THEN 'val' ELSE 'test' END AS STRING)"
            ).alias("split"),
        )
    )


QUERIES["stratified_split_assign"] = stratified_split_assign
ORACLE["stratified_split_assign"] = f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_SPLITRANK_SALT}'),
                        doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN (rk - 1) * {SPLIT_DENOM} // n < {SPLIT_TRAIN} THEN 'train'
                WHEN (rk - 1) * {SPLIT_DENOM} // n = {SPLIT_TRAIN} THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
"""

#: Token budget for token_budget_allocator, in tokens.
TB_BUDGET = 100_000


def token_budget_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact largest-remainder (Hare/Hamilton) apportionment of a
    fixed token budget across languages, proportional to each
    language's token mass: quota_i = floor(t_i*B/T) plus one extra
    token for the languages with the largest remainders until the
    floors sum to B — the integer-exact answer to "give me a 100k-token
    mixture at corpus proportions" that floats and independent
    roundings cannot produce (their quotas don't sum to B). The
    remainder tie-break is (remainder desc, lang), total by
    construction.

    Shape: the tokenized scan collapses to the language-dimension
    token-mass frame; every window/join after that runs on |languages|
    rows (fixed-dim class, broadcast everywhere). Products route
    through DECIMAL(38,0): t_i * B overflows BIGINT once a language
    holds ~9.2e13 of a large budget's tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("lang").agg(
        F.sum(F.size(fx.tokenize_ws())).cast("long").alias("t")
    )
    return token_budget_from_counts(tok)


def token_budget_from_counts(tok: DataFrame) -> DataFrame:
    """Largest-remainder apportionment from a (lang, t) token-mass
    frame — shared by the batch allocator and the live data-mix
    dashboard (streaming/monitor.py::stream_token_mass feeds exactly
    converged per-lang sums), the compaction_bins one-derivation rule:
    the live "current quota at corpus proportions" view can never
    disagree with the batch allocator."""
    tot = tok.agg(F.sum("t").alias("tt"))
    based = tok.crossJoin(F.broadcast(tot)).selectExpr(
        "lang",
        "t",
        f"CAST(CAST(t AS DECIMAL(38,0)) * {TB_BUDGET} div tt AS BIGINT) AS fq",
        f"CAST(CAST(t AS DECIMAL(38,0)) * {TB_BUDGET} % tt AS DECIMAL(38,0)) AS rem",
    )
    short = based.agg(
        (F.lit(TB_BUDGET) - F.sum("fq")).cast("long").alias("k")
    )
    w = Window.orderBy(F.col("rem").desc(), "lang")
    return (
        based.withColumn("rrk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(short))
        .select(
            "lang",
            "t",
            F.col("fq").alias("floor_quota"),
            F.expr("CAST(CASE WHEN rrk <= k THEN 1 ELSE 0 END AS BIGINT)").alias(
                "extra"
            ),
            F.expr(
                "CAST(fq + CASE WHEN rrk <= k THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("quota"),
        )
    )


QUERIES["token_budget_allocator"] = token_budget_allocator
ORACLE["token_budget_allocator"] = f"""
    WITH tok AS (
      SELECT lang, SUM(len({_WORDS_SQL})) AS t FROM documents GROUP BY 1),
    tot AS (SELECT SUM(t) AS tt FROM tok),
    based AS (
      SELECT lang, t,
             CAST(CAST(t AS HUGEINT) * {TB_BUDGET} // tt AS BIGINT) AS fq,
             CAST(t AS HUGEINT) * {TB_BUDGET} % tt AS rem
      FROM tok CROSS JOIN tot),
    short AS (SELECT {TB_BUDGET} - SUM(fq) AS k FROM based)
    SELECT lang, CAST(t AS BIGINT) AS t,
           CAST(fq AS BIGINT) AS floor_quota,
           CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang) <= k
                THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(fq + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang) <= k
                THEN 1 ELSE 0 END AS BIGINT) AS quota
    FROM based CROSS JOIN short
"""


# ---------------------------------------------------------------------------
# Small-files compaction planning (round 9): the layout-maintenance
# sibling of range_partition_plan — given a file inventory, group
# adjacent small files into ~target-sized rewrite bins.
# ---------------------------------------------------------------------------

#: Compaction target size in bytes for compaction_plan. Real lakes use
#: 128 MiB-1 GiB; 4 KiB keeps the planner live at EVERY test SF (sf0.001
#: days are ~450 bytes, so types still split into multiple bins there).
CP_TARGET_BYTES = 4_096
#: Fixed per-row overhead added to the payload estimate, in bytes.
CP_ROW_OVERHEAD = 64


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction (small-files) plan over a day-partitioned ingest
    layout: the event stream lands one file per (event_type, day) — the
    classic too-many-tiny-files shape — and the planner groups
    CONSECUTIVE days within each type into rewrite bins of
    ~CP_TARGET_BYTES via next-fit on the running size: bin =
    cum_bytes_before div target. Consecutive-day grouping (vs best-fit
    by size) is deliberate: compacted files then cover contiguous day
    ranges, so day-predicate scans still prune by parquet min/max after
    the rewrite — a bin-packing that destroys time locality saves the
    same bytes but breaks data skipping. Per bin: file/row/byte counts,
    covered day span, and fill_ppm against the target (oversize days
    yield fill_ppm > 1e6 and their own bin-id gap — the jumbo-file
    signal a planner routes to splitting instead).

    Shape: the scan collapses to the (type x day) inventory grid
    (calendar-bounded) in one map-side-combined pass; the running size
    is a window PARTITIONED by type over that grid (frame = days per
    type, calendar-bounded, never event rows); the bin rollup regroups
    the same grid. Nothing corpus-sized moves past the first
    aggregate, which is exactly why planning compaction is cheap even
    when executing it rewrites the whole table."""
    events = load_table(spark, sf_dir, "events")
    return compaction_bins(event_day_inventory(events))


def event_day_inventory(events: DataFrame) -> DataFrame:
    """THE (event_type, day) ingest-inventory grid: row/byte counters
    per cell. One shared derivation for the batch planner
    (compaction_plan), the executor (write_compacted_files) and the
    streaming monitor, which runs this function on the event stream in
    complete/update mode (decomposable count/sum, so micro-batches
    merge exactly and state is the calendar x type grid) — the three
    can never disagree on what a "file" weighs."""
    return events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("props") + CP_ROW_OVERHEAD).alias("bytes"),
    )


def compaction_bin_assign(inv: DataFrame) -> DataFrame:
    """Next-fit bin assignment over the inventory grid — adds
    (cum_before, bin_id) columns. Shared between the planner
    (compaction_bins) and the executor (write_compacted_files) so the
    bin an event lands in is BY CONSTRUCTION the bin the plan promised,
    not a re-derivation a future edit could desynchronize."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return inv.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    ).withColumn("bin_id", F.expr(f"cum_before div {CP_TARGET_BYTES}"))


def compaction_bins(inv: DataFrame) -> DataFrame:
    """Bin derivation from a (event_type, d, n_rows, bytes) inventory
    frame — shared by the batch planner and the streaming small-files
    monitor (streaming/warehouse-fed inventories are decomposable
    count/sum registers, so the monitor's view calls this on exactly
    converged inputs)."""
    planned = compaction_bin_assign(inv)
    return planned.groupBy("event_type", "bin_id").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("bytes").cast("long").alias("bytes"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("d"), "yyyy-MM-dd").alias("last_day"),
        F.expr(
            f"CAST(CAST(SUM(bytes) AS DECIMAL(38,0)) * 1000000"
            f" div {CP_TARGET_BYTES} AS BIGINT)"
        ).alias("fill_ppm"),
    ).withColumn("bin_id", F.col("bin_id").cast("long"))


QUERIES["compaction_plan"] = compaction_plan
ORACLE["compaction_plan"] = f"""
    WITH inv AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             COUNT(*) AS n_rows,
             SUM(len(props) + {CP_ROW_OVERHEAD}) AS bytes
      FROM events GROUP BY 1, 2),
    planned AS (
      SELECT *,
             COALESCE(SUM(bytes) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {CP_TARGET_BYTES} AS bin_id
      FROM inv)
    SELECT event_type,
           CAST(bin_id AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(bytes) AS BIGINT) AS bytes,
           strftime(MIN(d), '%Y-%m-%d') AS first_day,
           strftime(MAX(d), '%Y-%m-%d') AS last_day,
           CAST(CAST(SUM(bytes) AS HUGEINT) * 1000000
                // {CP_TARGET_BYTES} AS BIGINT) AS fill_ppm
    FROM planned GROUP BY 1, 2
"""


#: vacuum_plan retention horizon, in days, measured back from the
#: corpus's max ingest day (fixture-relative, like AM_YEAR_FROM's
#: year anchors — a wall-clock cutoff would make the plan
#: non-deterministic). The events table spans 30 days at every SF, so
#: a 21-day retention keeps ~2/3 and deletes ~1/3 of the day-files —
#: both branches live at sf0.001/0.01/0.1.
VACUUM_RETAIN_DAYS = 21


def vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention (VACUUM) plan over the day-partitioned ingest layout —
    the deletion sibling of compaction_plan, run from the SAME
    (event_type, day) inventory grid (event_day_inventory, the shared
    derivation rule): per event_type, which day-files fall behind the
    VACUUM_RETAIN_DAYS horizon (measured from the corpus max day, so
    the plan is replay-deterministic), how many files/rows/bytes the
    sweep reclaims, the kept counterparts, and the cutoff day. A lake
    runs this plan → delete → digest-verify loop exactly as it runs
    plan → compact → digest-verify (pipeline_lake).

    Not in the reference (SURVEY.md §2.9); lake-operations extension.

    Shape: one map-side-combined scan collapse to the calendar-bounded
    inventory, a broadcast 1-row max-day join, and a ≤|event_type|-row
    conditional rollup. Nothing corpus-sized moves past the first
    aggregate."""
    events = load_table(spark, sf_dir, "events")
    return vacuum_sweep(event_day_inventory(events))


def vacuum_sweep(inv: DataFrame) -> DataFrame:
    """Retention rollup from a (event_type, d, n_rows, bytes)
    inventory frame — shared by the batch planner (vacuum_plan) and
    the streaming small-files monitor (event_day_inventory run on the
    stream feeds exactly converged inputs), the same
    one-derivation rule as compaction_bins: the live "what would a
    vacuum reclaim right now" dashboard can never disagree with the
    nightly sweep."""
    cutoff = inv.agg(
        F.date_sub(F.max("d"), VACUUM_RETAIN_DAYS - 1).alias("cutoff")
    )
    old = F.col("d") < F.col("cutoff")
    return (
        inv.crossJoin(F.broadcast(cutoff))
        .groupBy("event_type")
        .agg(
            F.date_format(F.first("cutoff"), "yyyy-MM-dd").alias("cutoff_day"),
            F.sum(old.cast("long")).alias("n_files_delete"),
            F.sum(F.when(old, F.col("n_rows")).otherwise(0)).alias("n_rows_delete"),
            F.sum(F.when(old, F.col("bytes")).otherwise(0)).alias("bytes_reclaimed"),
            F.sum((~old).cast("long")).alias("n_files_keep"),
            F.sum(F.when(~old, F.col("bytes")).otherwise(0)).alias("bytes_kept"),
        )
    )


def lake_file_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day-file maintenance verdicts over the ingest layout — the
    row-level view the vacuum/compaction planners summarize: for every
    (event_type, day) file in the inventory grid, its size, its age
    against the corpus max day, and the verdict the nightly
    lake-maintenance job would hand it — 'vacuum' (behind the
    VACUUM_RETAIN_DAYS horizon), 'compact' (kept but below its type's
    mean day-file size — a small file worth packing with neighbours),
    or 'keep'. The smallness rule is RELATIVE (bytes x n_days <
    type_bytes, an exact integer comparison) rather than an absolute
    byte floor, so all three verdicts stay live at every SF and the
    rule is scale-free: the same query classifies a 100 TB lake's
    day-files without retuning a constant.

    Not in the reference (SURVEY.md §2.9); lake-operations extension.
    The streaming twin is the SAME lake_file_verdicts_from_inventory
    finisher read over the live state of event_day_inventory run on the
    event stream, so the dashboard's verdicts can never disagree with
    the nightly plan. The max-day anchor and per-type means recompute
    per read over the inventory grid only, never event rows.

    Shape: one map-side-combined scan collapse to the calendar-bounded
    inventory, then a broadcast ≤|event_type|-row totals join and a
    broadcast 1-row max-day join; verdicts are in-row CASE logic.
    Output is inventory-sized (calendar x type), never event rows."""
    events = load_table(spark, sf_dir, "events")
    return lake_file_verdicts_from_inventory(event_day_inventory(events))


def lake_file_verdicts_from_inventory(inv: DataFrame) -> DataFrame:
    """Verdict derivation from a (event_type, d, n_rows, bytes)
    inventory frame — shared by the batch key (lake_file_verdicts) and
    the streaming monitor's read of the live inventory, the same
    one-derivation rule as compaction_bins / vacuum_sweep."""
    mx = inv.agg(F.max("d").alias("max_d"))
    # Per-type totals via a window PARTITIONED by event_type (frame =
    # days per type, calendar-bounded) rather than a self-join: the
    # inventory may be a streaming-state memory view, whose attributes
    # a self-aggregate join cannot disambiguate.
    wt = Window.partitionBy("event_type")
    age = F.datediff(F.col("max_d"), F.col("d"))
    small = F.col("bytes") * F.count("*").over(wt) < F.sum("bytes").over(wt)
    return inv.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("bytes").cast("long").alias("bytes"),
        age.cast("long").alias("age_days"),
        F.when(age >= VACUUM_RETAIN_DAYS, F.lit("vacuum"))
        .when(small, F.lit("compact"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


QUERIES["lake_file_verdicts"] = lake_file_verdicts
ORACLE["lake_file_verdicts"] = f"""
    WITH inv AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             COUNT(*) AS n_rows,
             SUM(len(props) + {CP_ROW_OVERHEAD}) AS bytes
      FROM events GROUP BY 1, 2),
    t AS (SELECT event_type, COUNT(*) AS n_days, SUM(bytes) AS type_bytes
          FROM inv GROUP BY 1),
    c AS (SELECT MAX(d) AS max_d FROM inv)
    SELECT inv.event_type,
           strftime(d, '%Y-%m-%d') AS day,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(bytes AS BIGINT) AS bytes,
           CAST(date_diff('day', d, max_d) AS BIGINT) AS age_days,
           CASE
             WHEN date_diff('day', d, max_d) >= {VACUUM_RETAIN_DAYS}
               THEN 'vacuum'
             WHEN bytes * n_days < type_bytes THEN 'compact'
             ELSE 'keep'
           END AS verdict
    FROM inv JOIN t ON inv.event_type = t.event_type CROSS JOIN c
"""


QUERIES["vacuum_plan"] = vacuum_plan
ORACLE["vacuum_plan"] = f"""
    WITH inv AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             COUNT(*) AS n_rows,
             SUM(len(props) + {CP_ROW_OVERHEAD}) AS bytes
      FROM events GROUP BY 1, 2),
    c AS (SELECT MAX(d) - {VACUUM_RETAIN_DAYS - 1} AS cutoff FROM inv)
    SELECT event_type,
           strftime(ANY_VALUE(cutoff), '%Y-%m-%d') AS cutoff_day,
           CAST(SUM(CASE WHEN d < cutoff THEN 1 ELSE 0 END) AS BIGINT)
             AS n_files_delete,
           CAST(SUM(CASE WHEN d < cutoff THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_rows_delete,
           CAST(SUM(CASE WHEN d < cutoff THEN bytes ELSE 0 END) AS BIGINT)
             AS bytes_reclaimed,
           CAST(SUM(CASE WHEN d >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
             AS n_files_keep,
           CAST(SUM(CASE WHEN d >= cutoff THEN bytes ELSE 0 END) AS BIGINT)
             AS bytes_kept
    FROM inv CROSS JOIN c
    GROUP BY 1
"""


def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit over the train_shard_shuffle layout: per
    shard, doc and token counts plus their skew against a perfectly
    uniform split (ppm of ideal; 1e6 = exactly balanced) — the check a
    training team runs before freezing shard files, because one hot
    shard gates every epoch's wall-clock (stragglers). Uses the SAME
    md5-bucket assignment expression as train_shard_shuffle, so the
    audit can never drift from the layout it audits.

    Not in the reference (SURVEY.md §2.9); training-output extension.

    Shape: in-row hash + token count, ONE map-side-combined groupBy on
    the _N_SHARDS-value key, totals re-attached by broadcast 1-row
    crossJoin. Integer ppm via DECIMAL(38,0) div."""
    docs = load_table(spark, sf_dir, "documents")
    return shard_balance_from_counts(shard_doc_counts(docs))


def shard_doc_counts(docs: DataFrame) -> DataFrame:
    """THE per-shard (n_docs, n_tokens) registers: one shared
    derivation for the batch audit (shard_balance_report) and the
    streaming monitor, which runs this function on the doc stream in
    complete/update mode — decomposable count/sum on the SAME
    shard_assignment as train_shard_shuffle, so the live view, the
    nightly audit, and the layout itself can never disagree on which
    shard a doc belongs to."""
    _, shard = shard_assignment()
    return docs.select(
        shard.alias("shard"),
        F.size(fx.tokenize_ws()).cast("long").alias("toks"),
    ).groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
    )


def shard_balance_from_counts(per: DataFrame) -> DataFrame:
    """Skew finisher from the per-shard registers — shared by the
    batch audit and the streaming monitor read side (the
    vacuum_sweep / token_budget_from_counts one-derivation rule)."""
    tot = per.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_tokens").alias("_tt")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.expr(
            f"CAST(CAST(n_docs AS DECIMAL(38,0)) * {_N_SHARDS} * 1000000"
            " div _td AS BIGINT)"
        ).alias("docs_skew_ppm"),
        F.expr(
            f"CAST(CAST(n_tokens AS DECIMAL(38,0)) * {_N_SHARDS} * 1000000"
            " div _tt AS BIGINT)"
        ).alias("tokens_skew_ppm"),
    )


QUERIES["shard_balance_report"] = shard_balance_report
ORACLE["shard_balance_report"] = f"""
    WITH per AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || '{_SHUFFLE_SALT}'), 1, 8))::BIGINT % {_N_SHARDS} AS shard,
             COUNT(*) AS n_docs,
             SUM(len({_WORDS_SQL})) AS n_tokens
      FROM documents GROUP BY 1),
    tot AS (SELECT SUM(n_docs) AS td, SUM(n_tokens) AS tt FROM per)
    SELECT shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CAST(n_docs AS HUGEINT) * {_N_SHARDS} * 1000000
                // td AS BIGINT) AS docs_skew_ppm,
           CAST(CAST(n_tokens AS HUGEINT) * {_N_SHARDS} * 1000000
                // tt AS BIGINT) AS tokens_skew_ppm
    FROM per CROSS JOIN tot
"""
