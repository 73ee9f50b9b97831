"""Corpus-curation operators: the second wave of LLM-training-data
pipeline stages beyond `dedup`/`text` (SURVEY.md §7 Phase 3) — span
dedup, LM-based quality scoring, snapshot-incremental dedup, embedding
quantization, and near-dup verification.

Scale design (the 100 TB contract for each key):
- `paragraph_dedup`: C4-style span-level dedup. Spans travel as 16-byte
  md5s, never as text; winner election is one hash-partitioned window;
  the per-doc rollup is the only other shuffle.
- `unigram_lm_score`: two aggregation trees over one tokenized scan —
  a (token → count) vocabulary and the per-doc scoring join. The
  token join is skew-prone (Zipf), mitigated by AQE skew-join (pinned
  in the session factory) — a static salt would penalize the uniform
  tail. All probability math is integer (counts scaled by 1e9) so the
  result is bit-identical across engines and partitionings.
- `cross_snapshot_dedup`: the incremental-ingest shape — a new
  snapshot is deduped against the existing corpus WITHOUT recomputing
  anything over the base (base side reduces to distinct 16-byte
  hashes; plain shuffle anti join — the base is corpus-scale, so
  broadcasting it is forbidden).
- `embedding_quantize`: single scan, zero shuffle, all arithmetic
  in-row over the vector (the int8 quantization every ANN/storage
  stage needs before shipping embeddings).
- `minhash_jaccard_estimate`: the verify stage after LSH candidate
  generation — signature agreement is an O(pairs) join on doc ids,
  never touching document text.

Cross-engine determinism: md5-only hashing, integer arithmetic for
every ratio (scaled to 1e9/1e6 longs), floor(x+0.5) rounding mirrored
literally in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.operators.dedup import (
    MB_CONFIGS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    N_HASHES,
    _MINHASH_PAIRS_SQL,
    _SHINGLES_SQL,
    _WORDS_SQL,
    md5_long,
    minhash_mins,
    minhash_signatures,
    shingle_hashes,
)
from flinkproj_spark.sources.tables import fan_out, load_table

SPAN_WORDS = 16  # C4 dedups ~3-sentence spans; 16 words is the analog
LM_SCALE = 1_000_000_000  # unigram probabilities as parts-per-1e9
NEW_SOURCES = ("src0", "src1")  # the "incoming snapshot" slice


def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup (C4-style, adapted to the corpus's single-line
    documents): split each doc into consecutive SPAN_WORDS-word spans,
    keep each distinct span's first occurrence corpus-wide (min
    (doc_id, span_idx)), and report per doc how much text survives.

    Shape: spans are fingerprinted in-row (md5) and the text is dropped
    before any exchange; winner election is ROW_NUMBER over the span
    hash (one shuffle on uniformly-distributed 16-byte keys); the
    per-doc rollup is the second and last shuffle. No self-join, no
    broadcast, nothing corpus-proportional on one node."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = fx.tokenize_ws()
    # Nondeterministic barrier: without it CollapseProject inlines the
    # tokenize into EVERY span's slice below — O(n_spans · n) re-splits
    # per doc (same trap text_repetition engineers out).
    staged = docs.filter(F.size(words) >= 1).select(
        "doc_id", words.alias("ws"), F.monotonically_increasing_id().alias("_nc")
    )
    ws = F.col("ws")
    n = F.size(ws)
    n_spans = F.floor((n + F.lit(SPAN_WORDS - 1)) / F.lit(SPAN_WORDS)).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            i.alias("span_idx"),
            F.md5(F.array_join(F.slice(ws, i * SPAN_WORDS + 1, SPAN_WORDS), " ")).alias("h"),
            F.least(n - i * SPAN_WORDS, F.lit(SPAN_WORDS)).alias("span_len"),
        ),
    )
    spans = staged.select("doc_id", F.explode(spans_arr).alias("sp")).select(
        "doc_id", "sp.span_idx", "sp.h", "sp.span_len"
    )
    w = Window.partitionBy("h").orderBy("doc_id", "span_idx")
    ranked = spans.withColumn("_rn", F.row_number().over(w))
    kept = F.col("_rn") == 1
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(kept.cast("long")).alias("n_kept_spans"),
        F.sum(F.when(kept, F.col("span_len")).otherwise(F.lit(0))).alias("n_kept_words"),
    )


def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score per document: the mean
    corpus-frequency of the doc's tokens, in parts-per-1e9 — the
    classic cheap fluency proxy (a doc of common well-distributed
    words scores near the corpus mean; gibberish and boilerplate
    outliers score low/high). Integer arithmetic end-to-end:
    q(token) = (count*1e9) div total_tokens, score = sum(q) div n —
    bit-identical across engines and aggregation orders.

    Shape: one tokenized scan feeds both the vocabulary aggregate and
    the scoring join. The (token) join key is Zipf-skewed — AQE
    skew-join splits the hot reducers at runtime — and vocabulary rows
    are 2 longs + the token, so the join never moves document text.
    The skew split is only REACHABLE because of the partitioning
    barrier below; tests/test_plans.py pins that it actually fires on
    a skewed fixture."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(fx.tokenize_ws()).alias("w")
    ).select("doc_id", F.lower("w").alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    # `div` = true integer division (a double `/` + cast can round the
    # other way at quotient boundaries — not oracle-safe).
    q = vocab.crossJoin(F.broadcast(total)).selectExpr(
        "w", f"(cnt * {LM_SCALE}) div total AS q"
    )
    # Partitioning barrier (load-bearing): q would otherwise inherit
    # hashpartitioning(w) from the vocab aggregate THROUGH the broadcast
    # cross join, so the token join consumes it as Sort←Project←BNLJ —
    # a child shape AQE's OptimizeSkewedJoin cannot split (the rule
    # requires BOTH join children to be bare shuffle stages; measured:
    # skew never fired on a Zipf fixture without this). Recomputing the
    # key through an identity concat() drops the propagated
    # partitioning, forcing a fresh ENSURE_REQUIREMENTS exchange of the
    # narrow vocab-sized q frame directly under the join — the shape
    # the skew rule splits. Costs one extra vocab-sized shuffle; buys
    # runtime splitting of the Zipf-hot token partitions at 100 TB.
    q = q.withColumn("w", F.concat("w"))
    return (
        # fact-fact: exploded corpus tokens ⋈ corpus vocabulary — pinned
        # to a shuffle join (Catalyst would broadcast a corpus-derived
        # side at small SF, which caps scale)
        tok.join(q.hint("merge"), "w")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("q").alias("_sum_q"))
        .selectExpr("doc_id", "n_tokens", "_sum_q div n_tokens AS mean_freq_e9")
    )


_BLOOM_BITS = 1 << 22  # bloom size m; at scale ≈ 10× delta cardinality


def bloom_bitmap(keys: DataFrame, col: str) -> DataFrame:
    """Build a DataFrame-native bloom filter over `keys[col]` as a
    (w_idx, bits) bitmap frame: k=2 bit positions per key derived from
    one xxhash64, OR-combined into 64-bit words. The frame is bounded
    by m/64 rows regardless of input size, and the build shuffle is
    map-side-combined bit_or — narrow and decomposable. Spark's
    catalog has no SQL-level bloom_filter_agg, so this IS the engine's
    bloom primitive; membership is probed with `bloom_maybe_contains`
    (broadcast equi-join on w_idx + bitand — O(1) per probe row,
    no Python anywhere)."""
    h = F.xxhash64(col)
    p0 = F.pmod(h, F.lit(_BLOOM_BITS))
    p1 = F.pmod(F.shiftright(h, 22), F.lit(_BLOOM_BITS))
    return (
        keys.select(F.explode(F.array(p0, p1)).alias("pos"))
        .select(
            F.expr("pos div 64").alias("w_idx"),
            # SQL shiftleft: the shift amount can be a column (the
            # python F.shiftleft wrapper insists on a literal int)
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("w_idx")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_maybe_contains(probe: DataFrame, col: str, bloom: DataFrame) -> DataFrame:
    """Keep only probe rows that MIGHT be in the bloom (both bit
    positions set). Rows dropped here are DEFINITELY absent — bloom
    filters have no false negatives — so any exact join downstream is
    unaffected; false positives (rate ≈ (2n/m)²) merely survive to be
    rejected by that exact join. The two lookups are broadcast hash
    joins on w_idx (≤ m/64 rows each side), so pruning happens in the
    probe's scan stage, BEFORE any exchange."""
    h = F.xxhash64(col)
    b0 = bloom.select(F.col("w_idx").alias("_w0"), F.col("bits").alias("_bits0"))
    b1 = bloom.select(F.col("w_idx").alias("_w1"), F.col("bits").alias("_bits1"))
    mask = lambda p: F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))")  # noqa: E731
    return (
        probe.withColumn("_p0", F.pmod(h, F.lit(_BLOOM_BITS)))
        .withColumn("_p1", F.pmod(F.shiftright(h, 22), F.lit(_BLOOM_BITS)))
        .withColumn("_w0", F.expr("_p0 div 64"))
        .withColumn("_w1", F.expr("_p1 div 64"))
        .join(F.broadcast(b0), "_w0")
        .join(F.broadcast(b1), "_w1")
        .filter(
            (F.col("_bits0").bitwiseAND(mask("_p0")) != 0)
            & (F.col("_bits1").bitwiseAND(mask("_p1")) != 0)
        )
        .drop("_p0", "_p1", "_w0", "_w1", "_bits0", "_bits1")
    )


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document: the mean
    corpus conditional probability q(w2|w1) = C(w1 w2)·1e9 div C(w1)
    over the doc's bigrams — one order more context than
    unigram_lm_score (a doc of common words in UNCOMMON order now
    scores low, the signal unigrams cannot see). Integer end to end,
    so bit-identical across engines and aggregation orders.

    Shape: the exploded doc-bigram frame feeds BOTH the corpus bigram
    vocabulary (map-side-combined) and the scoring join, exactly like
    the unigram operator; the conditional table attaches the w1
    unigram count with one narrow vocab⋈vocab merge join. All joins
    merge-pinned (corpus-proportional sides); bigram keys are far less
    Zipf-concentrated than unigrams, and residual skew is AQE's."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    m = F.greatest(F.size(words) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(words, 1, m), F.slice(words, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tok_bg = docs.filter(F.size(words) >= 2).select(
        "doc_id", F.explode(bigrams).alias("bg")
    )
    c_bg = tok_bg.groupBy("bg").agg(F.count("*").alias("c_ab"))
    c_uni = (
        docs.select(F.explode(words).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_a"))
    )
    q = (
        c_bg.withColumn("w1", F.split("bg", " ").getItem(0))
        .join(c_uni.hint("merge"), "w1")
        .selectExpr("bg", f"(c_ab * {LM_SCALE}) div c_a AS q")
    )
    return (
        tok_bg.join(q.hint("merge"), "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("q").alias("_sum_q"))
        .selectExpr("doc_id", "n_bigrams", "_sum_q div n_bigrams AS mean_cond_e9")
    )


def cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: documents from the incoming snapshot
    (source ∈ NEW_SOURCES) survive only if their content hash appears
    nowhere in the existing corpus (all other sources), then exact
    dedup WITHIN the snapshot keeps the min doc_id per content.

    Shape: the base corpus reduces to distinct 16-byte hashes before
    the anti join — at 100 TB that set is still corpus-proportional,
    so there is no broadcast HINT on it: Catalyst picks broadcast from
    stats only while the hash set is actually small, and degrades to a
    plain shuffle anti join as the corpus grows (the hinted version
    would OOM the driver instead). Nothing ever recomputes over the
    base beyond one md5 scan — the incremental property that makes
    daily ingest affordable.

    Bloom pre-filter (the semi-join reduction): a compact bitmap bloom
    (bloom_bitmap, ≤ 64Ki rows) is built from the DELTA side — the
    small side in a daily ingest — and pruned against the BASE scan
    with broadcast joins + bitand BEFORE the base side's
    distinct/exchange. A base hash failing the bloom cannot equal any
    delta hash, so at 100 TB the base's shuffled survivor rows shrink
    from corpus-proportional to ≈ true-dups + fpp·base. (This inverts
    the naive direction — blooming the base to prune the delta — on
    purpose: pruning the orders-of-magnitude-larger side is worth
    strictly more, and the build side is the cheap one.) Correctness
    is unaffected by the bloom's fpp: no false negatives, and false
    positives die in the exact anti join — the DuckDB oracle is the
    unchanged NOT EXISTS."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5("text").alias("content_fp")
    is_new = F.col("source").isin(*NEW_SOURCES)
    new = docs.filter(is_new).select("doc_id", "source", fp)
    bloom = bloom_bitmap(new.select("content_fp"), "content_fp")
    base_fps = (
        bloom_maybe_contains(
            docs.filter(~is_new).select(fp), "content_fp", bloom
        )
        .distinct()
    )
    survivors = new.join(
        base_fps, new.content_fp == base_fps.content_fp, "left_anti"
    )
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "content_fp")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression step before ANN index build / shard shipping. Per
    vector: scale = max|v|, q_i = floor(v_i*127/scale + 0.5). Emits
    scalar digests (sum, sum-of-squares, min/max of the int8 codes,
    scale in parts-per-1e6) rather than the code array so the oracle
    hash is schema-stable.

    Shape: one scan, zero shuffle, every expression a JVM higher-order
    function over the vector — whole-stage codegen end to end. The
    float→double widening and the fixed expression shape make the
    doubles bit-identical in DuckDB."""
    emb = fan_out(spark, sf_dir, "embeddings", load_table(spark, sf_dir, "embeddings"))
    v = F.col("embedding")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    qs = F.transform(
        v,
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / absmax + F.lit(0.5)).cast(
            "long"
        ),
    )
    guarded = F.when(absmax > 0, qs).otherwise(
        F.transform(v, lambda x: F.lit(0).cast("long"))
    )
    return emb.select(
        "vec_id",
        "label",
        F.size(v).alias("n_dims"),
        F.floor(absmax * F.lit(1_000_000.0) + F.lit(0.5)).cast("long").alias("scale_e6"),
        F.aggregate(guarded, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("sum_q"),
        F.aggregate(guarded, F.lit(0).cast("long"), lambda acc, x: acc + x * x).alias(
            "sumsq_q"
        ),
        F.array_min(guarded).cast("long").alias("min_q"),
        F.array_max(guarded).cast("long").alias("max_q"),
    )


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify stage after LSH candidate generation: for every
    candidate pair, estimate Jaccard similarity as the fraction of
    agreeing minhash components (the unbiased MinHash estimator).
    Downstream curation thresholds on this instead of recomputing
    exact shingle intersections.

    Shape: signatures (9 longs/doc) are computed once and joined to
    the pair list by doc id — two narrow equi-joins, O(pairs) rows,
    document text untouched. At 100 TB the pair list is the small
    side of both joins but still corpus-proportional, so no broadcast
    hint: AQE picks broadcast only when the runtime size allows.

    The signature frame is cached (three consumers, see below) and is
    caller-owned: the pair-shaped output is returned lazily over it."""
    from flinkproj_spark.operators.dedup import lsh_candidate_pairs

    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    # The signature frame feeds THREE consumers (banding + both sides of
    # the agreement join) whose exchanges differ (different keys), so
    # physical exchange-reuse cannot fire — persist it or the shingle+md5
    # pipeline runs three times. 9 longs/doc: tiny relative to the text
    # it summarizes; MEMORY_AND_DISK spills instead of OOMing and an
    # executor loss recomputes from lineage.
    #
    # The marker column makes the cached logical plan unique to THIS
    # operator: Spark's CacheManager substitutes cached plans into any
    # later query whose subtree is logically equal, so persisting the
    # bare signature plan would hijack dedup_minhash_lsh/dedup_cluster's
    # scans into cache reads behind their backs (and trip their
    # plan-shape pins).
    from pyspark.storagelevel import StorageLevel

    sig = (
        minhash_signatures(docs)
        .withColumn("_mje", F.lit(1))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)]
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)]
    )
    # pairs and signatures are both corpus-proportional: pinned to
    # shuffle joins on the doc ids (narrow rows, uniform keys)
    matched = pairs.join(a.hint("merge"), "doc_a").join(b.hint("merge"), "doc_b")
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_HASHES)
    )
    return matched.select(
        "doc_a", "doc_b", n_match.cast("long").alias("n_match")
    ).selectExpr(
        "doc_a", "doc_b", "n_match", f"(n_match * 100) div {N_HASHES} AS est_jaccard_pct"
    )


def neardup_semantic_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal verification of near-dup candidates: MinHash-LSH
    text candidate pairs are scored with the documents' embedding
    cosine (doc_id ↔ vec_id share the id space in this corpus), and a
    pair is confirmed only when the embeddings agree (cos ≥ 0.5) —
    the standard two-signal curation gate (cheap lexical recall,
    semantic precision).

    Shape: the pair list is O(candidates); embeddings join it by id
    twice (merge-pinned — both sides corpus-proportional), with the
    quantized vector + precomputed norm as the only payload. Cosine is
    the integer-exact fold shared with the similarity family, so the
    verdict hashes identically in DuckDB.

    On the driver's synthetic corpus `confirmed` is 0 for every pair —
    CORRECT, not a dead gate: its embeddings are independent of the
    text, so the semantic check rightly refuses to corroborate lexical
    candidates (exactly the protection pipeline_curate_v2 exists for).
    A planted pair with agreeing embeddings confirms — pinned by
    tests/test_operators.py::test_semantic_verify_confirms_planted_agreeing_pair."""
    from flinkproj_spark.operators.dedup import lsh_candidate_pairs
    from flinkproj_spark.operators.similarity import _quantized

    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    emb = _quantized(spark, sf_dir)
    a = emb.select(
        F.col("vec_id").alias("doc_a"), F.col("q").alias("qa"), F.col("norm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("doc_b"), F.col("q").alias("qb"), F.col("norm").alias("nb")
    )
    scored = (
        pairs.join(a.hint("merge"), "doc_a")
        .join(b.hint("merge"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                fx.dot(F.col("qa"), F.col("qb")).cast("double")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
    )
    return scored.select(
        "doc_a", "doc_b", "cos", (F.col("cos") >= 0.5).cast("long").alias("confirmed")
    )


_FUNNEL_LANGS = ("en", "de", "es", "fr")


def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    3-shingles that occur in NO other document (corpus doc-frequency
    1) — the inverse-boilerplate signal diversity-weighted sampling
    uses: a doc of globally unique phrasing is worth more epochs than
    one assembled from corpus-common fragments, and a novelty collapse
    across an ingest batch means the crawler started eating mirrors.

    Shape (round-13, guide §2.4 — remove shuffles outright): shingles
    are deduped IN-ROW per doc (fx.shingles wraps array_distinct), so
    (doc_id, h) is unique by construction and the old corpus-wide
    `.distinct()` was a pure-overhead exchange; and df is a COUNT over
    the h-partition, so the old df-groupBy + corpus×corpus merge
    rejoin collapses to one partitioned window on the SAME exchange
    the count needs anyway. Two exchanges total (h, then doc_id) and
    ONE pass over the shingle stream, versus four exchanges and a
    double read before. Only 16-byte hashes move; text never leaves
    the scan. Integer ppm."""
    from pyspark.sql import Window

    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = fx.tokenize_ws()
    sh = (
        docs.filter(F.size(words) >= fx.SHINGLE_WORDS)
        .select("doc_id", F.explode(fx.shingles(words)).alias("s"))
        .select("doc_id", F.md5("s").alias("h"))
    )
    return (
        sh.select("doc_id", F.count("*").over(Window.partitionBy("h")).alias("df"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
        .selectExpr(
            "doc_id",
            "n_shingles",
            "n_novel",
            "n_novel * 1000000 div n_shingles AS novelty_ppm",
        )
    )


def filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel observability: one row counting how many
    documents survive each cumulative filter stage — total →
    tokenizable → language allowlist → Gopher quality rules → exact
    content dedup. The per-stage drop rates are what a pipeline owner
    alerts on (a stage suddenly eating 40% of the corpus is an
    incident, not a statistic).

    Shape: ONE tokenized scan computes all per-doc statistics in a
    combined groupBy (lang and the content hash ride along as
    functionally-dependent group keys — no join back); the stage
    counts fold into a single aggregate row, with count_distinct on
    the 16-byte hash as the only heavy reduction. The all-docs total
    joins in as a broadcast 1-row aggregate. Integer end to end."""
    from flinkproj_spark.operators.text import gopher_keep_col, gopher_stat_aggs

    docs = load_table(spark, sf_dir, "documents")
    # md5 in its OWN projection, explode in the next: inlined into the
    # explode's select, CollapseProject hoists the hash ABOVE Generate
    # and the full-document md5 re-evaluates once per token (verified
    # in the optimized plan) — staged, it runs once per document.
    staged = docs.select(
        "doc_id", "lang", F.md5("text").alias("fp"), fx.tokenize_ws().alias("ws")
    )
    tok = staged.select("doc_id", "lang", "fp", F.explode("ws").alias("w"))
    # the rules ARE text.gopher_quality_filter's — shared aggs + verdict
    base = tok.groupBy("doc_id", "lang", "fp").agg(*gopher_stat_aggs())
    lang_ok = F.col("lang").isin(*_FUNNEL_LANGS)
    quality_ok = gopher_keep_col()
    stages = base.agg(
        F.count("*").alias("n_tokenizable"),
        F.sum(lang_ok.cast("long")).alias("n_lang"),
        F.sum((lang_ok & quality_ok).cast("long")).alias("n_quality"),
        F.count_distinct(F.when(lang_ok & quality_ok, F.col("fp"))).alias(
            "n_unique"
        ),
    )
    total = docs.agg(F.count("*").alias("n_total"))
    return total.crossJoin(F.broadcast(stages)).select(
        "n_total", "n_tokenizable", "n_lang", "n_quality", "n_unique"
    )


DSIR_BUCKETS = 512
DSIR_SALT = "dsir|"
DSIR_SCALE = 1_000_000_000  # ppb fixed point
DSIR_TARGET_LANG = "en"


def dsir_bucket(w: Column | str) -> Column:
    """A word's DSIR hash bucket: the salted md5 of its lower-cased
    form, as a long, mod DSIR_BUCKETS."""
    return md5_long(F.concat(F.lit(DSIR_SALT), F.lower(w))) % DSIR_BUCKETS


def _dsir_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared tokenize+hash stage: (doc_id, lang, bk) per token."""
    docs = fan_out(
        spark, sf_dir, "documents", load_table(spark, sf_dir, "documents")
    )
    return docs.select(
        "doc_id",
        "lang",
        F.explode(fx.tokenize_ws()).alias("w0"),
    ).select("doc_id", "lang", dsir_bucket("w0").alias("bk"))


def dsir_bucket_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained DSIR selection model as a frame: per hash bucket,
    the Laplace-smoothed target/raw ppb frequencies and their diff.
    Bounded by DSIR_BUCKETS rows at any corpus size — the broadcast
    (or collected, for the streaming gate) deployment artifact."""
    tok = _dsir_tok(spark, sf_dir)
    hist = tok.groupBy("bk").agg(
        F.count("*").alias("cr"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long")).alias("ct"),
    )
    tot = hist.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    # (count+1)·10⁹ tops BIGINT once a bucket holds >9.2e9 tokens —
    # certain at 100 TB — so the scaled numerator routes through
    # DECIMAL(38,0) (the pagerank_fixed one-operand-cast pattern);
    # `div` on the decimal is an exact integer quotient ≤ 10⁹.
    return hist.crossJoin(F.broadcast(tot)).selectExpr(
        "bk",
        f"CAST(CAST(ct + 1 AS DECIMAL(38,0)) * {DSIR_SCALE}"
        f" div (tt + {DSIR_BUCKETS}) AS BIGINT) AS qt",
        f"CAST(CAST(cr + 1 AS DECIMAL(38,0)) * {DSIR_SCALE}"
        f" div (tr + {DSIR_BUCKETS}) AS BIGINT) AS qr",
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    public), integer-exact variant: score every document by how much
    its hashed-unigram feature mass looks like the TARGET distribution
    (here: the English subcorpus, standing in for a curated target
    set) versus the RAW corpus. Features are md5-hashed word buckets
    (B=512); per bucket, Laplace-smoothed target and raw frequencies
    in ppb; per doc, the summed frequency difference over its tokens.
    A positive sum means target-like — the keep side of DSIR's
    resampling coin. (DSIR proper sums LOG ratios; the linear
    difference keeps every operation in BIGINT so the score is
    bit-identical across engines and aggregation orders — same
    direction of evidence, float-free. The division by doc length is
    deliberately NOT taken — not for engine parity (Spark's `div` and
    DuckDB's BIGINT/HUGEINT `//` both truncate toward zero, negatives
    included; only `//` on DOUBLE behaves differently) but because
    consumers threshold the exact sum, and a per-length quotient would
    discard tie-breaking precision for nothing.)

    Shape: ONE tokenize+hash pass feeds both sides — the bucket
    histogram (groupBy on 512 integer keys, map-side combined, with
    the target split as a conditional sum) collapses to a broadcast
    frame; scoring re-joins it to the token stream in-map and one
    groupBy(doc_id) sums. Text never shuffles; the exchanges carry
    (bucket) and (doc_id, partial sums). At 100 TB the histogram is
    still 512 rows — the whole selection model is a broadcast."""
    tok = _dsir_tok(spark, sf_dir)
    q = dsir_bucket_model(spark, sf_dir)
    scored = (
        tok.join(F.broadcast(q), "bk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.col("qt") - F.col("qr")).alias("dsir_sum_ppb"),
        )
    )
    # The verdict is RELATIVE (above the corpus-mean evidence), not a
    # raw sign test: Laplace smoothing under Zipf bucket occupancy
    # biases every sum negative (heavy buckets lose more target mass
    # than light ones gain), so `> 0` would condemn ~everything. The
    # comparison is cross-multiplied (sum·n_docs vs corpus total) —
    # the embedding_drift_report integer pattern, no mean division.
    corpus = scored.agg(
        F.sum("dsir_sum_ppb").alias("s_all"), F.count("*").alias("n_docs")
    )
    return scored.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "n_words",
        "dsir_sum_ppb",
        (F.col("dsir_sum_ppb") * F.col("n_docs") > F.col("s_all"))
        .cast("int")
        .alias("target_like"),
    )


QUERIES = {
    "ngram_novelty_score": ngram_novelty_score,
    "dsir_importance_weights": dsir_importance_weights,
    "paragraph_dedup": paragraph_dedup,
    "unigram_lm_score": unigram_lm_score,
    "bigram_lm_score": bigram_lm_score,
    "cross_snapshot_dedup": cross_snapshot_dedup,
    "embedding_quantize": embedding_quantize,
    "minhash_jaccard_estimate": minhash_jaccard_estimate,
    "neardup_semantic_verify": neardup_semantic_verify,
    "filter_funnel_report": filter_funnel_report,
}

_NEW_SQL = ", ".join(f"'{s}'" for s in NEW_SOURCES)

ORACLE = {
    "paragraph_dedup": f"""
        WITH d AS (
          SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
          WHERE len({_WORDS_SQL}) >= 1),
        idx AS (
          SELECT doc_id, ws,
                 unnest(range(0, CAST(CEIL(len(ws) / {SPAN_WORDS}.0) AS BIGINT))) AS span_idx
          FROM d),
        sp AS (
          SELECT doc_id, span_idx,
                 md5(array_to_string(
                     ws[span_idx*{SPAN_WORDS}+1 : span_idx*{SPAN_WORDS}+{SPAN_WORDS}], ' ')) AS h,
                 LEAST(len(ws) - span_idx*{SPAN_WORDS}, {SPAN_WORDS}) AS span_len
          FROM idx),
        r AS (
          SELECT doc_id, span_len,
                 ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, span_idx) AS rn
          FROM sp)
        SELECT doc_id,
               COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_spans,
               CAST(SUM(CASE WHEN rn = 1 THEN span_len ELSE 0 END) AS BIGINT) AS n_kept_words
        FROM r GROUP BY doc_id
    """,
    "unigram_lm_score": f"""
        WITH tok AS (
          SELECT doc_id, lower(unnest({_WORDS_SQL})) AS w FROM documents),
        vocab AS (
          SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
        q AS (
          SELECT w, (cnt * {LM_SCALE}) // (SELECT SUM(cnt) FROM vocab) AS q
          FROM vocab)
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(q.q) // COUNT(*) AS BIGINT) AS mean_freq_e9
        FROM tok t JOIN q ON t.w = q.w
        GROUP BY t.doc_id
    """,
    "bigram_lm_score": f"""
        WITH d AS (
          SELECT doc_id, list_transform({_WORDS_SQL}, w -> lower(w)) AS ws
          FROM documents WHERE len({_WORDS_SQL}) >= 2),
        tb AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ws)),
                        i -> ws[i] || ' ' || ws[i + 1])) AS bg
          FROM d),
        cb AS (SELECT bg, COUNT(*) AS c_ab FROM tb GROUP BY 1),
        cu AS (
          SELECT lower(unnest({_WORDS_SQL})) AS w1 FROM documents),
        cuc AS (SELECT w1, COUNT(*) AS c_a FROM cu GROUP BY 1),
        q AS (
          SELECT cb.bg, (cb.c_ab * {LM_SCALE}) // cuc.c_a AS q
          FROM cb JOIN cuc ON string_split(cb.bg, ' ')[1] = cuc.w1)
        SELECT t.doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(q.q) // COUNT(*) AS BIGINT) AS mean_cond_e9
        FROM tb t JOIN q ON t.bg = q.bg
        GROUP BY t.doc_id
    """,
    "cross_snapshot_dedup": f"""
        WITH new AS (
          SELECT doc_id, source, md5(text) AS content_fp FROM documents
          WHERE source IN ({_NEW_SQL})),
        surv AS (
          -- NOT EXISTS, not NOT IN: one NULL text in the base corpus
          -- would make NOT IN three-valued and empty the result, while
          -- the Spark side's left_anti join keeps non-matching rows.
          SELECT * FROM new n
          WHERE NOT EXISTS (
            SELECT 1 FROM documents d
            WHERE d.source NOT IN ({_NEW_SQL}) AND md5(d.text) = n.content_fp))
        SELECT doc_id, source, content_fp FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY content_fp ORDER BY doc_id) AS rn
          FROM surv)
        WHERE rn = 1
    """,
    "embedding_quantize": """
        WITH e AS (
          SELECT vec_id, label,
                 len(embedding) AS n_dims,
                 list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) AS absmax,
                 embedding
          FROM embeddings),
        g AS (
          SELECT vec_id, label, n_dims, absmax,
                 CASE WHEN absmax > 0 THEN
                   list_transform(embedding,
                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / absmax + 0.5) AS BIGINT))
                 ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qs
          FROM e)
        SELECT vec_id, label,
               CAST(n_dims AS INTEGER) AS n_dims,
               CAST(FLOOR(absmax * 1000000.0 + 0.5) AS BIGINT) AS scale_e6,
               CAST(list_sum(qs) AS BIGINT) AS sum_q,
               CAST(list_sum(list_transform(qs, x -> x * x)) AS BIGINT) AS sumsq_q,
               CAST(list_min(qs) AS BIGINT) AS min_q,
               CAST(list_max(qs) AS BIGINT) AS max_q
        FROM g
    """,
    "minhash_jaccard_estimate": f"""
        WITH x2 AS (
          SELECT doc_id,
                 ('0x' || substr(md5(unnest({_SHINGLES_SQL})), 1, 8))::BIGINT AS x
          FROM documents WHERE len({_WORDS_SQL}) >= 3),
        sig2 AS (
          SELECT doc_id,
                 {", ".join(f"MIN(({a} * x + {b}) % {MINHASH_P}) AS s{i}" for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))}
          FROM x2 GROUP BY doc_id),
        pairs AS ({_MINHASH_PAIRS_SQL}),
        m AS (
          SELECT p.doc_a, p.doc_b,
                 ({" + ".join(f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))}) AS n_match
          FROM pairs p
          JOIN sig2 a ON p.doc_a = a.doc_id
          JOIN sig2 b ON p.doc_b = b.doc_id)
        SELECT doc_a, doc_b,
               CAST(n_match AS BIGINT) AS n_match,
               CAST(n_match * 100 // {N_HASHES} AS BIGINT) AS est_jaccard_pct
        FROM m
    """,
}


def _semantic_verify_oracle() -> str:
    from flinkproj_spark.operators.similarity import _BASE_SQL, _dot_sql

    cos = f"ROUND(CAST({_dot_sql('a.q', 'b.q')} AS DOUBLE) / (a.norm * b.norm), 6)"
    return f"""
        WITH pairs AS ({_MINHASH_PAIRS_SQL}),
             base AS ({_BASE_SQL})
        SELECT p.doc_a, p.doc_b,
               {cos} AS cos,
               CAST({cos} >= 0.5 AS BIGINT) AS confirmed
        FROM pairs p
        JOIN base a ON p.doc_a = a.vec_id
        JOIN base b ON p.doc_b = b.vec_id
    """


ORACLE["neardup_semantic_verify"] = _semantic_verify_oracle()

ORACLE["ngram_novelty_score"] = f"""
    WITH s AS (
      SELECT DISTINCT doc_id, md5(unnest({_SHINGLES_SQL})) AS h
      FROM documents WHERE len({_WORDS_SQL}) >= 3),
    dfreq AS (SELECT h, COUNT(*) AS df FROM s GROUP BY 1)
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM s JOIN dfreq USING (h)
    GROUP BY doc_id
"""


def _funnel_oracle() -> str:
    from flinkproj_spark.operators.text import _STOP_SQL, GOPHER_KEEP_SQL

    langs = ", ".join(f"'{l}'" for l in _FUNNEL_LANGS)
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, md5(text) AS fp, unnest({_WORDS_SQL}) AS w
      FROM documents),
    base AS (
      SELECT doc_id, lang, fp,
             COUNT(*) AS n_words,
             CAST(SUM(len(w)) AS BIGINT) AS word_chars,
             CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]')
                           THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
             CAST(SUM(CASE WHEN lower(w) IN ({_STOP_SQL})
                           THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
      FROM tok GROUP BY 1, 2, 3),
    flagged AS (
      SELECT fp,
             CAST(lang IN ({langs}) AS INT) AS lang_ok,
             CAST(lang IN ({langs}) AND {GOPHER_KEEP_SQL} AS INT) AS qual_ok
      FROM base),
    stages AS (
      SELECT COUNT(*) AS n_tokenizable,
             CAST(SUM(lang_ok) AS BIGINT) AS n_lang,
             CAST(SUM(qual_ok) AS BIGINT) AS n_quality,
             COUNT(DISTINCT CASE WHEN qual_ok = 1 THEN fp END) AS n_unique
      FROM flagged),
    total AS (SELECT COUNT(*) AS n_total FROM documents)
    SELECT n_total, n_tokenizable, n_lang, n_quality, n_unique
    FROM total CROSS JOIN stages
    """


ORACLE["filter_funnel_report"] = _funnel_oracle()

ORACLE["dsir_importance_weights"] = f"""
    WITH tok AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('{DSIR_SALT}' || lower(unnest({_WORDS_SQL}))),
                             1, 8))::BIGINT % {DSIR_BUCKETS} AS bk
      FROM documents),
    hist AS (
      SELECT bk, COUNT(*) AS cr,
             SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
      FROM tok GROUP BY 1),
    tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM hist),
    q AS (
      SELECT bk,
             CAST(CAST(ct + 1 AS HUGEINT) * {DSIR_SCALE}
                  // (tt + {DSIR_BUCKETS}) AS BIGINT) AS qt,
             CAST(CAST(cr + 1 AS HUGEINT) * {DSIR_SCALE}
                  // (tr + {DSIR_BUCKETS}) AS BIGINT) AS qr
      FROM hist CROSS JOIN tot),
    scored AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(q.qt - q.qr) AS BIGINT) AS dsir_sum_ppb
      FROM tok t JOIN q USING (bk)
      GROUP BY 1),
    corpus AS (
      SELECT CAST(SUM(dsir_sum_ppb) AS BIGINT) AS s_all,
             COUNT(*) AS n_docs
      FROM scored)
    SELECT doc_id, n_words, dsir_sum_ppb,
           CAST(dsir_sum_ppb * n_docs > s_all AS INT) AS target_like
    FROM scored CROSS JOIN corpus
"""


# ---------------------------------------------------------------------------
# Freshness-decay sampling weights (round 8)
# ---------------------------------------------------------------------------

#: Half-life, in days, for freshness_decay_weights. 7 keeps five
#: distinct weight levels live on the 30-day synthetic event span.
FD_HALF_LIFE_D = 7


def freshness_decay_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted sampling plan over the event stream: each day's
    events get weight 2^-(age/HL) — halving per FD_HALF_LIFE_D days of
    age against the newest day in the corpus — expressed EXACTLY as
    w_ppm = 1e6 div 2^(age div HL) (step decay: integer, engine-exact,
    and the form a sampler can consume directly as a keep-probability
    against hash_keep buckets). Per day: event count, age, weight, the
    day's weighted mass, and its share of the corpus' total weighted
    mass — the curriculum/mixture input for "favor fresh crawl"
    training-data recipes.

    Shape: one scan collapses to the day grid (calendar-bounded); the
    newest-day scalar and the total weighted mass ride 1-row
    broadcasts; share numerators route through DECIMAL(38,0) because
    day_mass is events-per-day x 1e6 — BIGINT wraps past ~9.2e12
    weighted units, within reach at 100 TB."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    mx = daily.agg(F.max("d").alias("mx"))
    aged = (
        daily.crossJoin(F.broadcast(mx))
        .select(
            "d",
            F.datediff("mx", "d").cast("long").alias("age_d"),
            "n",
        )
        .withColumn(
            # Exponent clamped at 20: w_ppm is already 0 for any shift
            # >= 20 (1e6 < 2^20), and an unclamped shift breaks both
            # engines past age 441d — DuckDB raises Out of Range at
            # 1<<63 and Spark masks the shift mod 64, handing the
            # OLDEST data full weight (round-9 advice fix).
            "w_ppm",
            F.expr(
                f"1000000 div shiftleft(CAST(1 AS BIGINT),"
                f" CAST(least(age_d div {FD_HALF_LIFE_D}, 20) AS INT))"
            ),
        )
        .withColumn("day_mass", F.expr("n * w_ppm"))
    )
    tot = aged.agg(F.sum("day_mass").alias("tot_mass"))
    return (
        aged.crossJoin(F.broadcast(tot))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "age_d",
            F.col("n").cast("long").alias("n_events"),
            F.col("w_ppm").cast("long").alias("w_ppm"),
            F.col("day_mass").cast("long").alias("day_mass"),
            F.expr(
                "CAST(CAST(day_mass AS DECIMAL(38,0)) * 1000000"
                " div CAST(tot_mass AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


QUERIES["freshness_decay_weights"] = freshness_decay_weights
ORACLE["freshness_decay_weights"] = f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1),
    mx AS (SELECT MAX(d) AS mxd FROM daily),
    aged AS (
      SELECT d, date_diff('day', d, mxd) AS age_d, n,
             1000000 // (1 << least(
               date_diff('day', d, mxd) // {FD_HALF_LIFE_D}, 20)) AS w_ppm
      FROM daily CROSS JOIN mx),
    wt AS (SELECT *, n * w_ppm AS day_mass FROM aged),
    tot AS (SELECT SUM(day_mass) AS tot_mass FROM wt)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(age_d AS BIGINT) AS age_d,
           CAST(n AS BIGINT) AS n_events,
           CAST(w_ppm AS BIGINT) AS w_ppm,
           CAST(day_mass AS BIGINT) AS day_mass,
           CAST(CAST(day_mass AS HUGEINT) * 1000000 // tot_mass AS BIGINT)
             AS share_ppm
    FROM wt CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# PII scan (round 8): the compliance gate a release pipeline runs
# before any corpus leaves the boundary.
# ---------------------------------------------------------------------------

#: PII detector patterns. RE2-safe (no lookaround/backrefs) so the
#: Java-regex Spark side and the RE2 DuckDB oracle match verbatim.
PII_PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def pii_scan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detector sweep per source: occurrence counts for each
    pattern class (email / phone / SSN-shaped / IPv4) and how many
    docs carry ANY hit — the release-boundary compliance gate. On this
    synthetic corpus every count is a structurally TRUE zero (31-word
    lowercase vocabulary), pinned live by the oracle; the detection
    machinery is proven on a tampered corpus copy with planted PII
    (tests/test_operators.py::test_pii_scan_finds_planted_identifiers
    — the fk_integrity planted-fixture discipline).

    Shape: one scan, all regexp counting in-row (JVM regex, no Python),
    one map-side-combined groupBy(source); output is |sources| rows.
    At 100 TB this is a pure scan-speed operator — exactly what you
    want from a gate that must touch every byte anyway."""
    docs = load_table(spark, sf_dir, "documents")
    hits = [
        F.regexp_count("text", F.lit(p)).cast("long").alias(f"_{name}")
        for name, p in PII_PATTERNS.items()
    ]
    staged = docs.select("source", *hits)
    any_hit = sum(F.col(f"_{n}") for n in PII_PATTERNS) > 0
    return (
        staged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            *[
                F.sum(f"_{n}").cast("long").alias(f"{n}_hits")
                for n in PII_PATTERNS
            ],
            F.sum(any_hit.cast("long")).cast("long").alias("docs_flagged"),
        )
    )


QUERIES["pii_scan_report"] = pii_scan_report
ORACLE["pii_scan_report"] = f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {", ".join(
             "CAST(SUM(len(regexp_extract_all(text, '" + p.replace(chr(39), chr(39)*2) + "'))) AS BIGINT) AS " + n + "_hits"
             for n, p in PII_PATTERNS.items())},
           CAST(SUM(CASE WHEN {" + ".join(
             "len(regexp_extract_all(text, '" + p.replace(chr(39), chr(39)*2) + "'))"
             for p in PII_PATTERNS.values())} > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_flagged
    FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Data card (round 9): the per-snapshot summary a training-data owner
# publishes — pure composition of the already-green one-row reports.
# ---------------------------------------------------------------------------


def data_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row "data card" for a corpus snapshot: the publishable
    summary composed from the existing audit reports — corpus health
    (docs/langs/words/dup/short/mean-chars), the curation-funnel
    survival rate, corpus-level exact/near duplicate counts, tokenizer
    fertility and OOV over all languages, PII-flagged docs, and the
    dominant language with its share. Every number is the SAME plan a
    standalone green key computes (corpus_health_report,
    filter_funnel_report, dedup_impact_report, tokenizer_fertility,
    pii_scan_report) collapsed to scalars — composition, not
    re-derivation, so the card can never disagree with the audits it
    summarizes.

    Shape: each component collapses to a 1-row aggregate before the
    crossJoins, so the card is five broadcast-joined scalar rows plus
    the |languages|-row mix aggregate — the component scans dominate
    and each is individually plan-audited under its own key; ratios
    route through DECIMAL(38,0) numerators like every house ppm."""
    from flinkproj_spark.operators.dedup import dedup_impact_report
    from flinkproj_spark.operators.retrieval import corpus_health_report
    from flinkproj_spark.operators.text import tokenizer_fertility

    ch = corpus_health_report(spark, sf_dir)
    fn = filter_funnel_report(spark, sf_dir).select("n_total", "n_unique")
    di = dedup_impact_report(spark, sf_dir).agg(
        F.sum("n_exact_dup").cast("long").alias("exact_dups"),
        F.sum("n_near_flagged").cast("long").alias("near_flagged"),
    )
    tf = tokenizer_fertility(spark, sf_dir).agg(
        F.sum("n_tokens").alias("_tok"),
        F.sum("n_words").alias("_w"),
        F.sum("n_oov").alias("_oov"),
    )
    pii = pii_scan_report(spark, sf_dir).agg(
        F.sum("docs_flagged").cast("long").alias("pii_docs_flagged")
    )
    mix = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg(
            F.min(F.struct((-F.col("n")).alias("neg"), F.col("lang"))).alias(
                "t"
            )
        )
        .select(
            F.col("t.lang").alias("top_lang"),
            (-F.col("t.neg")).cast("long").alias("_topn"),
        )
    )
    return (
        ch.crossJoin(F.broadcast(fn))
        .crossJoin(F.broadcast(di))
        .crossJoin(F.broadcast(tf))
        .crossJoin(F.broadcast(pii))
        .crossJoin(F.broadcast(mix))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.col("total_words").cast("long").alias("total_words"),
            F.col("mean_chars").cast("long").alias("mean_chars"),
            F.col("dup_ppm").cast("long").alias("dup_ppm"),
            F.col("short_ppm").cast("long").alias("short_ppm"),
            F.expr(
                "CAST(CAST(n_unique AS DECIMAL(38,0)) * 1000000"
                " div n_total AS BIGINT)"
            ).alias("funnel_keep_ppm"),
            "exact_dups",
            "near_flagged",
            F.expr(
                "CAST(CAST(_tok AS DECIMAL(38,0)) * 1000000 div _w AS BIGINT)"
            ).alias("fertility_ppm"),
            F.expr(
                "CAST(CAST(_oov AS DECIMAL(38,0)) * 1000000 div _tok"
                " AS BIGINT)"
            ).alias("oov_ppm"),
            "pii_docs_flagged",
            "top_lang",
            F.expr(
                "CAST(CAST(_topn AS DECIMAL(38,0)) * 1000000 div n_docs"
                " AS BIGINT)"
            ).alias("top_lang_ppm"),
        )
    )


QUERIES["data_card_report"] = data_card_report


def _data_card_oracle() -> str:
    from flinkproj_spark.operators import dedup as _dd
    from flinkproj_spark.operators import retrieval as _rt
    from flinkproj_spark.operators import text as _tx

    return f"""
    WITH ch AS (SELECT * FROM ({_rt.ORACLE["corpus_health_report"]}) t),
    fn AS (SELECT n_total, n_unique
           FROM ({ORACLE["filter_funnel_report"]}) t),
    di AS (SELECT CAST(SUM(n_exact_dup) AS BIGINT) AS exact_dups,
                  CAST(SUM(n_near_flagged) AS BIGINT) AS near_flagged
           FROM ({_dd.ORACLE["dedup_impact_report"]}) t),
    tf AS (SELECT SUM(n_tokens) AS _tok, SUM(n_words) AS _w,
                  SUM(n_oov) AS _oov
           FROM ({_tx.ORACLE["tokenizer_fertility"]}) t),
    pii AS (SELECT CAST(SUM(docs_flagged) AS BIGINT) AS pii_docs_flagged
            FROM ({ORACLE["pii_scan_report"]}) t),
    mix AS (SELECT lang AS top_lang, n AS _topn
            FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1)
            ORDER BY n DESC, lang ASC LIMIT 1)
    SELECT CAST(ch.n_docs AS BIGINT) AS n_docs,
           CAST(ch.n_langs AS BIGINT) AS n_langs,
           CAST(ch.total_words AS BIGINT) AS total_words,
           CAST(ch.mean_chars AS BIGINT) AS mean_chars,
           CAST(ch.dup_ppm AS BIGINT) AS dup_ppm,
           CAST(ch.short_ppm AS BIGINT) AS short_ppm,
           CAST(CAST(fn.n_unique AS HUGEINT) * 1000000 // fn.n_total
                AS BIGINT) AS funnel_keep_ppm,
           di.exact_dups,
           di.near_flagged,
           CAST(CAST(tf._tok AS HUGEINT) * 1000000 // tf._w AS BIGINT)
             AS fertility_ppm,
           CAST(CAST(tf._oov AS HUGEINT) * 1000000 // tf._tok AS BIGINT)
             AS oov_ppm,
           pii.pii_docs_flagged,
           mix.top_lang,
           CAST(CAST(mix._topn AS HUGEINT) * 1000000 // ch.n_docs AS BIGINT)
             AS top_lang_ppm
    FROM ch CROSS JOIN fn CROSS JOIN di CROSS JOIN tf
    CROSS JOIN pii CROSS JOIN mix
"""


ORACLE["data_card_report"] = _data_card_oracle()


def minhash_containment_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment estimated from MinHash signatures + exact set
    sizes, for every LSH candidate pair: Ĵ = n_match/N rewrites via
    the inclusion-exclusion identity |A∩B| = J(|A|+|B|)/(1+J) into
    Ĉ = n_match·(|A|+|B|) / ((N+n_match)·min(|A|,|B|)) — all INTEGER
    (set sizes are exact per-doc distinct-shingle counts; only J is
    estimated). The sketch-side screen for the near-superset pairs
    dedup_containment verifies exactly: signatures + two longs per doc
    travel, never shingle sets.

    Not in the reference (SURVEY.md §2.9); estimate-vs-exact audit
    twin in the minhash_jaccard_estimate family.

    Shape: identical to minhash_jaccard_estimate — the signature
    groupBy additionally folds count(distinct x) (same shuffle, one
    more aggregate), the persisted signature frame feeds banding and
    both join sides, and the estimate is an in-row integer formula
    (capped at 100: a noisy Ĵ can push the identity past certainty).
    """
    from pyspark.storagelevel import StorageLevel

    from flinkproj_spark.operators.dedup import lsh_candidate_pairs

    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    sig = (
        shingle_hashes(docs, "doc_id")
        .groupBy("doc_id")
        .agg(*minhash_mins(), F.countDistinct("x").alias("sz"))
        # marker keeps this cached plan from hijacking the shared
        # signature subtree of other minhash keys (CacheManager
        # substitutes logically-equal subtrees — see
        # minhash_jaccard_estimate's cache contract).
        .withColumn("_mce", F.lit(1))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = lsh_candidate_pairs(sig)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    matched = pairs.join(a.hint("merge"), "doc_a").join(b.hint("merge"), "doc_b")
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_HASHES)
    )
    return matched.select(
        "doc_a",
        "doc_b",
        n_match.cast("long").alias("n_match"),
        F.col("sz_a").cast("long").alias("sz_a"),
        F.col("sz_b").cast("long").alias("sz_b"),
    ).selectExpr(
        "doc_a",
        "doc_b",
        "n_match",
        "sz_a",
        "sz_b",
        f"least((n_match * (sz_a + sz_b) * 100)"
        f" div (({N_HASHES} + n_match) * least(sz_a, sz_b)), 100)"
        " AS est_containment_pct",
    )


QUERIES["minhash_containment_estimate"] = minhash_containment_estimate
ORACLE["minhash_containment_estimate"] = f"""
    WITH x2 AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest({_SHINGLES_SQL})), 1, 8))::BIGINT AS x
      FROM documents WHERE len({_WORDS_SQL}) >= 3),
    sig2 AS (
      SELECT doc_id,
             {", ".join(f"MIN(({a} * x + {b}) % {MINHASH_P}) AS s{i}" for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))},
             COUNT(DISTINCT x) AS sz
      FROM x2 GROUP BY doc_id),
    pairs AS ({_MINHASH_PAIRS_SQL}),
    m AS (
      SELECT p.doc_a, p.doc_b,
             ({" + ".join(f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))}) AS n_match,
             a.sz AS sz_a, b.sz AS sz_b
      FROM pairs p
      JOIN sig2 a ON p.doc_a = a.doc_id
      JOIN sig2 b ON p.doc_b = b.doc_id)
    SELECT doc_a, doc_b,
           CAST(n_match AS BIGINT) AS n_match,
           CAST(sz_a AS BIGINT) AS sz_a,
           CAST(sz_b AS BIGINT) AS sz_b,
           CAST(least(n_match * (sz_a + sz_b) * 100
                      // (({N_HASHES} + n_match) * least(sz_a, sz_b)), 100)
                AS BIGINT) AS est_containment_pct
    FROM m
"""


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic S-curve behind the banding choice: for every
    (bands, rows_per_band) configuration in MB_CONFIGS and a Jaccard
    grid j = 0.1 … 0.9, the per-band signature-match probability j^r
    and the candidate-collision probability 1 − (1 − j^r)^b — the
    design table that says WHERE each banding's recall cliff sits,
    the analytic twin of minhash_banding_sensitivity's empirical
    sweep (that key measures the corpus; this one is the closed form
    the parameters were chosen from, so planner vs measurement drift
    is itself a signal). Takes no corpus input by design — the grid
    is the workload.

    Not in the reference (SURVEY.md §2.9); LSH-design extension in
    the minhash family.

    Exactness: powers run as UNROLLED truncating ppm products
    (x·j div 1e6 per step — every intermediate ≤ 1e12, BIGINT-safe at
    any r, identical to DuckDB's HUGEINT //), so the table is
    engine-reproducible to the last ppm.

    Shape: a 27-row literal grid; no scan, no shuffle beyond the
    3-way union of 9-row frames."""
    parts = []
    for b, r in MB_CONFIGS:
        s = "j_ppm"
        for _ in range(r - 1):
            s = f"(({s}) * j_ppm div 1000000)"
        q = f"(1000000 - ({s}))"
        t = q
        for _ in range(b - 1):
            t = f"(({t}) * {q} div 1000000)"
        parts.append(
            spark.range(1, 10)
            .select((F.col("id") * 100000).alias("j_ppm"))
            .select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                "j_ppm",
                F.expr(f"CAST({s} AS BIGINT)").alias("band_match_ppm"),
                F.expr(f"CAST(1000000 - ({t}) AS BIGINT)").alias(
                    "collision_ppm"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _lsh_planner_oracle() -> str:
    selects = []
    for b, r in MB_CONFIGS:
        s = "j_ppm"
        for _ in range(r - 1):
            s = f"(({s}) * j_ppm // 1000000)"
        q = f"(1000000 - ({s}))"
        t = q
        for _ in range(b - 1):
            t = f"(({t}) * {q} // 1000000)"
        selects.append(
            f"SELECT CAST({b} AS INT) AS bands,"
            f" CAST({r} AS INT) AS rows_per_band, j_ppm,"
            f" CAST({s} AS BIGINT) AS band_match_ppm,"
            f" CAST(1000000 - ({t}) AS BIGINT) AS collision_ppm"
            " FROM (SELECT range * 100000 AS j_ppm FROM range(1, 10))"
        )
    return " UNION ALL ".join(selects)


QUERIES["lsh_parameter_planner"] = lsh_parameter_planner
ORACLE["lsh_parameter_planner"] = _lsh_planner_oracle()
