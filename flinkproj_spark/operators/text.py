"""Text-analysis operators for large-scale training-data pipelines.

Not in the reference (its only string ops are split/concat,
SURVEY.md §2.9) — these are the LLM-data extensions mandated by the
build plan (SURVEY.md §7 Phase 3): token counting, quality scoring,
language ID, and document fingerprinting over the `documents` table.

Everything is built from JVM-side expressions (split / higher-order
array functions / regexp / md5) — zero Python in the hot path, so each
operator is a single whole-stage-codegen'd scan+project that scales
linearly with partitions: no shuffle at all except where a groupBy is
the semantics. Cross-engine determinism rules: token arithmetic is
integer, ratios are double divisions of integers, and hashes are md5
(identical in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.sources.tables import fan_out, load_table

_WORDS_SQL = "list_filter(string_split(text, ' '), w -> w != '')"

_TOKEN_RE = fx.TOKEN_RE

_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

# Language marker words (n-gram heuristic): per-language evidence terms.
_LANG_MARKERS = {
    "en": ["the", "and", "with", "for"],
    "de": ["der", "und", "die", "das"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "les", "des", "est"],
    "zh": ["de", "shi", "zai", "he"],
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def lang_marker_hits(lower_words: Column) -> list[Column]:
    """Per language in _LANG_ORDER, how many words of a lower-cased word
    array are that language's marker words — counted in-row against a
    compile-time constant array, no explode."""
    hits = []
    for lang in _LANG_ORDER:
        arr = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
        hits.append(F.size(F.filter(lower_words, lambda w: F.array_contains(arr, w))))
    return hits


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex
    tokenization — both single-pass, codegen'd, shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(fx.tokenize_ws()).alias("n_words"),
        F.regexp_count("text", F.lit(_TOKEN_RE)).alias("n_tokens"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/word statistics + stopword ratio folded
    into a deterministic [0,1] score (no transcendentals — exp/log may
    differ in the last ulp across engine libms)."""
    docs = load_table(spark, sf_dir, "documents")
    # Explode to one row per token, then count/sum/conditional-count in a
    # single map-side-combinable groupBy — the in-row HOF formulation
    # (aggregate/filter over the split array) re-evaluates the split per
    # statistic in interpreted eval (measured ~10s -> ~1s at sf0.1).
    # Docs with zero words vanish at explode, matching `n_words > 0`.
    tok = docs.select("doc_id", F.explode(fx.tokenize_ws()).alias("w"))
    base = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).alias("_tl"),
        F.sum(
            F.when(F.lower("w").isin(_STOPWORDS), 1).otherwise(0)
        ).alias("n_stopwords"),
    )
    stop_ratio = F.col("n_stopwords").cast("double") / F.col("n_words")
    return base.select(
        "doc_id",
        "n_words",
        "n_stopwords",
        F.round(F.col("_tl").cast("double") / F.col("n_words"), 4).alias("avg_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(
            F.least(F.col("n_words").cast("double") / F.lit(100.0), F.lit(1.0))
            * (F.lit(1.0) - stop_ratio),
            4,
        ).alias("quality_score"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-word evidence (n-gram heuristic): count
    per-language marker tokens, argmax with a fixed tiebreak order.
    One scan, no shuffle; markers are a compile-time constant array.
    Map-only and marker-matching-heavy → fan the single-split scan out."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    scored = docs.select(
        "doc_id",
        *[h.alias(f"_s_{lang}") for lang, h in zip(_LANG_ORDER, lang_marker_hits(words))],
    )
    best = F.greatest(*[F.col(f"_s_{l}") for l in _LANG_ORDER])
    pred = F.lit("unknown")
    for lang in reversed(_LANG_ORDER):  # earlier langs win ties
        pred = F.when((F.col(f"_s_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id", pred.alias("pred_lang"), best.cast("long").alias("marker_hits")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: (a) content hash of the normalized text,
    (b) a winnow-style min-hash over word 3-shingles (the minimum md5 of
    the shingle set — stable under reordering-free edits elsewhere in
    the doc)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), "\\s+", " "))
    words = fx.tokenize_ws()
    n = F.size(words)
    # 3-shingles built in O(n) per doc: zip the word array against its
    # two shifted tails (the transform-over-sequence + slice(words, i, 3)
    # formulation is O(n²) per doc and went pathological on long docs).
    m = F.greatest(n - F.lit(2), F.lit(0))
    pairs = F.zip_with(
        F.slice(words, 1, m), F.slice(words, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    shingles = F.zip_with(
        pairs, F.slice(words, 3, m),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    base = docs.filter(n >= 3).select(
        "doc_id", F.md5(norm).alias("content_fp"), shingles.alias("shs")
    )
    # Min-hash over shingles via explode + map-side-combined MIN (one
    # codegen'd md5 per shingle); content_fp rides along as a group key
    # so no join is needed — one shuffle total, already combined.
    return (
        base.select("doc_id", "content_fp", F.explode("shs").alias("sh"))
        .groupBy("doc_id", "content_fp")
        .agg(F.min(F.md5("sh")).alias("min_shingle_fp"))
    )


def text_tf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequency, top-3 terms (alphabetical tiebreak):
    explode → map-side-combined count → rank within doc. The TF shuffle
    carries (doc_id, term, count) — already combined, not raw tokens."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(fx.tokenize_ws()).alias("w"))
        .select("doc_id", F.lower("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), "term")
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "rank")
    )


def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams: per-row bigram construction
    (zip words with their tail — one pass, no index loop), explode,
    one combined count shuffle, top-k with deterministic tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    counts = (
        docs.filter(F.size(words) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), "bigram").limit(20)


# PII patterns shared by both engines (Java regex and RE2 agree on this
# subset: char classes, bounded repeats, \b word boundaries).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: scrub email addresses and phone-shaped numbers,
    emitting per-doc match counts and a fingerprint of the redacted
    text. The corpus contains no organic PII, so the query plants one
    email + one phone per doc deterministically from doc_id and then
    redacts — proving removal, not absence. Single codegen'd
    scan+project: regexp_count + two regexp_replace passes, no shuffle,
    no Python. Three regex passes per doc → fan the scan out."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(planted, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(planted, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


_WINNOW_W = 4  # winnowing window: guarantee one fingerprint per 4 shingles


def positional_shingle_hashes(words: Column) -> Column:
    """Positional (order-preserving, non-distinct) word 3-shingle hash
    array: the 32-bit md5 prefix per shingle, the same per-shingle hash
    the whole dedup family uses. Winnowing windows over it directly;
    MinHash signatures are affine minima over it (min over the
    positional multiset == min over the distinct set), which is what
    lets one shared scan feed both strategies."""
    # function-local: dedup composes text's ORACLE at import time
    from flinkproj_spark.operators.dedup import md5_long

    n = F.size(words)
    m = F.greatest(n - F.lit(2), F.lit(0))
    pairs = F.zip_with(
        F.slice(words, 1, m), F.slice(words, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    sh = F.zip_with(
        pairs, F.slice(words, 3, m),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    return F.transform(sh, md5_long)


def winnow_fps_from_hashes(staged: DataFrame) -> DataFrame:
    """Winnowing selection over a pre-staged (doc_id, hs) frame — hs a
    positional_shingle_hashes array that is already materialized (via
    persist or a nondeterministic barrier column), so the per-window
    slices below re-read an array value instead of re-evaluating the
    tokenize pipeline O(n²) per doc."""
    n_sh = F.size(F.col("hs"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sh - F.lit(_WINNOW_W - 1)),
            lambda i: F.array_min(F.slice(F.col("hs"), i, _WINNOW_W)),
        )
    )
    return (
        staged.filter(n_sh >= _WINNOW_W)
        .select("doc_id", F.explode(fps).alias("fp"))
    )


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    positional word 3-shingle (rolling k-gram hash), slide a window of
    _WINNOW_W hashes, keep each window's minimum — the classic
    guarantee that any match of ≥ w+k-1 words shares a fingerprint.
    Output is the distinct fingerprint set per doc, exploded to rows.

    Everything is in-row (transform over the positions sequence +
    sliced array minima): a single codegen'd scan+project, no shuffle,
    O(n·w) per doc with w=4. The per-shingle hash is the same 32-bit
    md5 prefix the dedup family uses — engine-identical."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    # Materialize the hash array ONCE per row. Without the barrier,
    # CollapseProject inlines the whole tokenize→shingle→md5 expression
    # into the per-window lambda below and every window position
    # re-evaluates it — O(n²) per doc (measured 10× at sf0.1). A
    # nondeterministic column in the lower projection legally blocks the
    # collapse; the column itself is never read.
    staged = docs.select(
        "doc_id",
        positional_shingle_hashes(fx.tokenize_ws()).alias("hs"),
        F.monotonically_increasing_id().alias("_nc"),
    )
    return winnow_fps_from_hashes(staged)


# Gopher-style repetition thresholds (Rae et al. 2021 §A1.1 use 0.20
# for the top-2-gram fraction and 0.15-ish for duplicate-n-gram mass;
# we keep those two signals plus a duplicate-word fraction).
_REP_TOP_BIGRAM = 0.20
_REP_DUP_TRIGRAM = 0.15


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction (1 − distinct/total), top-bigram mass fraction, and the
    fraction of trigram occurrences belonging to repeated trigrams —
    with the classic repetitive-document flag over the thresholds.

    Scale shape: bigrams and trigrams are built in-row (O(len)
    zip_with, no index loop), tagged, concatenated and exploded ONCE —
    a single (doc_id, gram) shuffle with map-side combine, then one
    map-side-combinable rollup to a per-doc row. Word-level stats
    (count + distinct count) never touch the shuffle at all: they are
    computed in-row (`size` / `array_distinct`) and ride the rollup
    as grouping keys — cutting exploded volume from 3n−3 to 2n−3 rows
    per doc (~33 % less shuffle I/O). Doc_id keys are uniform so no
    skew. All ratios are double divisions of exact integers, rounded
    to 4 places for cross-engine hashing; the flag compares the
    rounded values so both engines agree at the threshold boundary.
    The gram-construction map side is tokenize-heavy → fan the
    under-split scan out (no-op on a properly-split 100 TB layout)."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    # Stage the lowered word array behind a nondeterministic barrier so
    # the tokenize runs once per row — CollapseProject would otherwise
    # inline it into every slice of the n-gram builders (re-evaluations
    # of split per row; see doc_winnow_fingerprints).
    staged = docs.filter(F.size(fx.tokenize_ws()) >= 3).select(
        "doc_id",
        F.transform(fx.tokenize_ws(), lambda w: F.lower(w)).alias("ws"),
        F.monotonically_increasing_id().alias("_nc"),
    )
    ws = F.col("ws")
    tagged = F.concat(
        F.transform(fx.ngrams(ws, 2), lambda g: F.concat(F.lit("b:"), g)),
        F.transform(fx.ngrams(ws, 3), lambda g: F.concat(F.lit("t:"), g)),
    )
    grams = staged.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("_n_distinct"),
        F.explode(tagged).alias("gm"),
    )
    # n_words/_n_distinct are per-doc constants: carrying them as extra
    # grouping keys adds 16 bytes to the key, not extra rows — far
    # cheaper than shuffling one `w:<word>` row per word.
    c = grams.groupBy("doc_id", "n_words", "_n_distinct", "gm").agg(
        F.count("*").alias("c")
    )
    kind = F.substring("gm", 1, 2)
    per_doc = c.groupBy("doc_id", "n_words", "_n_distinct").agg(
        F.max(F.when(kind == "b:", F.col("c"))).alias("_top_bi"),
        F.sum(F.when(kind == "b:", F.col("c"))).alias("_total_bi"),
        F.sum(F.when((kind == "t:") & (F.col("c") >= 2), F.col("c"))).alias("_dup_tri"),
        F.sum(F.when(kind == "t:", F.col("c"))).alias("_total_tri"),
    )
    dup_word = F.round(
        (F.col("n_words") - F.col("_n_distinct")).cast("double") / F.col("n_words"), 4
    )
    top_bi = F.round(F.col("_top_bi").cast("double") / F.col("_total_bi"), 4)
    dup_tri = F.round(
        F.coalesce(F.col("_dup_tri"), F.lit(0)).cast("double") / F.col("_total_tri"), 4
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        dup_word.alias("dup_word_frac"),
        top_bi.alias("top_bigram_frac"),
        dup_tri.alias("dup_trigram_frac"),
        ((top_bi > _REP_TOP_BIGRAM) | (dup_tri > _REP_DUP_TRIGRAM))
        .cast("long")
        .alias("repetitive"),
    )


def lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the marker-word
    classifier against the corpus's labeled `lang` column — the
    monitoring twin of ann_recall_eval for the text family. Output is
    one row per (true lang, predicted lang) cell with its count.

    Shape: the classifier is a single fanned-out scan (text_lang_id);
    truth rides the same documents scan, joined by doc_id
    (merge-pinned — both sides corpus-proportional), then one narrow
    rollup on the 2-string key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = text_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    return (
        docs.join(pred.hint("merge"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


PMI_MIN_COUNT = 5  # collocation support floor
PMI_TOP = 20


def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 word bigrams by lift
    (count(ab)·N / (count(a)·count(b)) — PMI's argument, monotonic in
    PMI) with support ≥ PMI_MIN_COUNT — the statistic tokenizer/phrase
    builders rank merge candidates with.

    Shape: one tokenized scan feeds the unigram vocabulary and the
    bigram counts (both map-side-combined); the bigram frame joins the
    vocabulary twice on a word key (merge-pinned, Zipf skew left to
    AQE), N rides a broadcast 1-row aggregate. Lift is a double
    division of exact sub-2^53 integer products — correctly-rounded
    IEEE, identical in DuckDB (at 100 TB token counts the products
    need DECIMAL(38,0) instead; the shape is unchanged)."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    tok = docs.select(F.explode(words).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = uni.agg(F.sum("c").alias("n_tokens"))
    m = F.greatest(F.size(words) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(words, 1, m), F.slice(words, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    big = (
        docs.filter(F.size(words) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
    )
    a = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    b = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        big.join(a.hint("merge"), "w1")
        .join(b.hint("merge"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "c_ab",
            F.round(
                (F.col("c_ab") * F.col("n_tokens")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double"),
                4,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "bigram").limit(PMI_TOP)


GOPHER_MIN_WORDS = 15
GOPHER_MAX_WORDS = 100_000
VOCAB_SIZE = 1000


def gopher_stat_aggs() -> list[Column]:
    """The four per-document statistics every Gopher-rule consumer
    aggregates from an exploded token column `w` — defined ONCE so the
    quality filter and the funnel report can never drift apart."""
    return [
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).alias("word_chars"),
        F.sum(F.when(F.col("w").rlike("[A-Za-z]"), 1).otherwise(0)).alias(
            "alpha_words"
        ),
        F.sum(F.when(F.lower("w").isin(_STOPWORDS), 1).otherwise(0)).alias(
            "stop_hits"
        ),
    ]


# The same verdict for the DuckDB twins — one string, two oracles.
GOPHER_KEEP_SQL = (
    f"n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} "
    "AND word_chars >= 2 * n_words AND word_chars <= 10 * n_words "
    "AND alpha_words * 10 >= 8 * n_words AND stop_hits >= 2"
)


def gopher_keep_col() -> Column:
    """The composite Gopher verdict over gopher_stat_aggs() columns —
    every ratio threshold expressed as an integer comparison."""
    n = F.col("n_words")
    return (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (F.col("word_chars") >= 2 * n)
        & (F.col("word_chars") <= 10 * n)
        & (F.col("alpha_words") * 10 >= 8 * n)
        & (F.col("stop_hits") >= 2)
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep coverage audit: build the top-VOCAB_SIZE corpus
    vocabulary (by frequency, deterministic (count desc, word) order),
    then report per language how much of the token stream falls
    outside it — the OOV rate that decides whether a vocab budget is
    big enough before anyone trains a tokenizer.

    Shape: one tokenized scan feeds the vocabulary count and the
    coverage join. The vocabulary is capped at VOCAB_SIZE rows, so it
    IS legitimately broadcastable at any corpus size (a bounded top-k,
    not a corpus-proportional side) — the one case where broadcasting
    a corpus-derived frame is safe by construction. Coverage is a
    combined groupBy(lang) over token flags; OOV ppm is integer."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(fx.tokenize_ws()).alias("w")).select(
        "lang", F.lower("w").alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(VOCAB_SIZE)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "w", "left")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .selectExpr("lang", "n_tokens", "n_oov", "(n_oov * 1000000) div n_tokens AS oov_ppm")
    )


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality rules (Rae et al. 2021, public):
    word-count bounds, mean-word-length bounds, alphabetic-word ratio,
    and minimum stopword evidence, folded into one keep/drop verdict
    per document.

    Every rule is an integer comparison — mean word length in [2, 10]
    becomes `2·n ≤ chars ≤ 10·n`, the 80% alphabetic ratio becomes
    `10·alpha ≥ 8·n` — so the verdict is bit-identical across engines
    and immune to float rounding at any corpus size. One explode +
    map-side-combined groupBy(doc_id) computes all four statistics in
    a single pass; zero joins, one shuffle, and the text column is
    projected away before the exchange. Documents with zero words
    vanish at explode (same contract as text_quality). Statistics and
    verdict come from the shared gopher_stat_aggs/gopher_keep_col so
    the funnel report (operators/curation.py) observes the SAME rules."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(fx.tokenize_ws()).alias("w"))
    base = tok.groupBy("doc_id").agg(*gopher_stat_aggs())
    keep = gopher_keep_col()
    return base.select(
        "doc_id",
        "n_words",
        "word_chars",
        "alpha_words",
        "stop_hits",
        keep.cast("int").alias("keep"),
    )


BPE_TOP = 50


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-candidate scan (the tokenizer-induction
    primitive): count every ADJACENT character pair inside lowercased
    tokens corpus-wide and emit the top-50 by frequency — the pair a
    byte-pair-encoding trainer would merge first, and the next ones in
    line. Word boundaries never pair (BPE's base contract).

    Shape: two in-row explodes (token, then pair index — both engines
    slice by character, same result on any UTF-8 corpus), a map-side-
    combined count on 2-char keys, and TakeOrderedAndProject for the
    top-k (per-partition heaps + driver merge, no global sort). The
    exchange carries (pair, partial count) — bounded by alphabet²,
    independent of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(fx.tokenize_ws()).alias("w0")).select(
        F.lower("w0").alias("w")
    )
    pairs = tok.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOP)
    )


BPE_LEARN_K = 8


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016, public): learn the
    first 8 merge rules from the corpus itself. Each round counts every
    adjacent symbol pair under the current segmentation, merges the
    most frequent (ties → lexicographically smallest left, then right
    symbol), and re-segments; the output is the learned merge table
    (rank, lhs, rhs, pair count at selection time) — the artifact
    BPE_MERGES freezes, now derived live instead of hand-carried.

    Shape: the trainer iterates over the WORD-FREQUENCY TABLE, never
    the token stream — one corpus-shaped groupBy(word) up front, then
    every round touches only the distinct-word frame (vocabulary-
    sized; at 100 TB that is millions of rows against trillions of
    tokens — the layout every real BPE trainer uses). The persisted
    frame holds each word's '||'-delimited symbol string + its count;
    round k re-applies the k-1 learned replaces in-row (the
    delimiter-doubling trick makes one replace() per rule exactly
    canonical greedy LTR pair merging) and runs one map-side-combined
    groupBy(lhs, rhs) summing word counts — the exchange is bounded by
    the live vocabulary², independent of corpus size. The per-round
    argmax is a 1-row collect: the synchronization point of BPE
    training itself (rule k+1 depends on rule k), same driver-scalar
    contract as dedup_cluster's convergence count. The returned frame
    is vocabulary-sized trainer metadata, never corpus-shaped."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(fx.tokenize_ws(F.lower("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    seg = wc.select(
        F.concat(
            F.lit("||"), F.array_join(F.split("w", "(?!^)"), "||"), F.lit("||")
        ).alias("s"),
        "cnt",
    )
    merges: list[tuple[str, str, int]] = []
    with fx.cache_scope() as scope:
        seg = scope.hold(seg)
        for _ in range(BPE_LEARN_K):
            cur: Column = F.col("s")
            for a, b, _c in merges:
                cur = F.replace(cur, F.lit(f"|{a}||{b}|"), F.lit(f"|{a + b}|"))
            syms = F.filter(F.split(cur, "\\|\\|"), lambda x: x != "")
            top = (
                seg.select(syms.alias("syms"), "cnt")
                .filter(F.size("syms") >= 2)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("syms"), i).alias("lhs"),
                                F.element_at(F.col("syms"), i + 1).alias("rhs"),
                            ),
                        )
                    ).alias("p"),
                    "cnt",
                )
                .select("p.lhs", "p.rhs", "cnt")
                .groupBy("lhs", "rhs")
                .agg(F.sum("cnt").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not top:
                break
            merges.append((top[0].lhs, top[0].rhs, top[0].cnt))
    return spark.createDataFrame(
        [(k + 1, a, b, c) for k, (a, b, c) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, cnt bigint",
    )


# Fixed BPE merge table (priority order, chained: 'ers' and 'the' build
# on earlier merges) — the top pairs bpe_pair_counts ranks on this
# corpus, frozen as the deployed tokenizer artifact. The id vocabulary
# drops the rarest letters (j q v x z) so the OOV fallback path is live.
BPE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("er", "s"), ("t", "h"), ("th", "e"), ("a", "t"),
]
BPE_VOCAB = list("abcdefghiklmnoprstuwy") + [a + b for a, b in BPE_MERGES]


def bpe_id_expr() -> Column:
    """The whole encode of `text` as ONE in-row Column: lowercase →
    word/char symbol string → the BPE_MERGES replace chain → BPE_VOCAB
    id lookup (-1 = OOV). Shared by the batch stage (_bpe_ids) and the
    streaming twin (streaming/curate.py::stream_bpe_encode) so the two
    can never drift."""
    words = fx.tokenize_ws(F.lower(F.col("text")))
    word_syms = F.transform(
        words, lambda w: F.array_join(F.split(w, "(?!^)"), "||")
    )
    s = F.concat(F.lit("||"), F.array_join(word_syms, "||#||"), F.lit("||"))
    for a, b in BPE_MERGES:
        s = F.replace(s, F.lit(f"|{a}||{b}|"), F.lit(f"|{a + b}|"))
    syms = F.filter(
        F.split(s, "\\|\\|"), lambda x: (x != "") & (x != "#")
    )
    vocab = F.array(*[F.lit(v) for v in BPE_VOCAB])
    return F.transform(
        syms, lambda t: (F.array_position(vocab, t) - 1).cast("long")
    )


def _bpe_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared encode stage: (doc_id, ids) per document — the merge
    chain + vocabulary lookup described in bpe_apply, consumed by both
    the per-doc report and the corpus-wide token-usage audit."""
    docs = load_table(spark, sf_dir, "documents")
    ids = bpe_id_expr()
    return docs.select(
        "doc_id",
        ids.alias("ids"),
        # barrier: one materialization of the id array per row (the
        # winnowing trick) — without it each consumer re-runs the
        # whole split/replace chain per reference
        F.monotonically_increasing_id().alias("_nc"),
    )


def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the fixed BPE merge table — the tokenize step a training
    pipeline actually runs, where bpe_pair_counts is the induction
    scan. Each document is encoded to token ids against BPE_VOCAB
    (unknown symbols fall back to id -1, the byte-fallback stand-in)
    and reports its token count, OOV count/rate, and an order-exact
    fingerprint of the id sequence, so the oracle proves the encoding
    itself, not just the counts.

    Merge semantics (deterministic contract): each rule is applied
    corpus-wide in priority order, one full greedy left-to-right pass
    per rule, word-internal only; a later rule's output can feed an
    earlier-listed rule only if that rule appears again later (single
    pass — the streaming-encoder approximation of HuggingFace-style
    re-scanning BPE, which revisits earlier ranks).

    Shape: everything is ONE in-row expression chain inside whole-stage
    codegen — no explode, no shuffle, no Python. The word's symbol
    stream is encoded as a '||'-delimited string ('||#||' between
    words; the corpus alphabet is a-z so both sentinels are safe), and
    each merge rule is ONE replace() of '|a||b|' with '|ab|': because
    the pattern consumes only the INNER halves of the doubled
    delimiters, adjacent matches never steal each other's boundary,
    and replace()'s left-to-right non-overlapping scan IS canonical
    greedy BPE pair merging — identical semantics in Spark and DuckDB,
    no regex, no lookaround. At 100 TB this is a pure map stage:
    scales with scan bandwidth, zero exchange."""
    return bpe_encode_stats(_bpe_ids(spark, sf_dir), "doc_id")


def bpe_encode_stats(encoded: DataFrame, *keep: str) -> DataFrame:
    """The keep columns of an encoded frame (an `ids` id-array column)
    plus its encode stats: n_tokens, n_oov (ids < 0), the order-exact
    ids_fp fingerprint and the integer oov_ppm."""
    counted = encoded.select(
        *keep,
        F.size("ids").cast("long").alias("n_tokens"),
        F.size(F.filter("ids", lambda i: i < 0)).cast("long").alias("n_oov"),
        F.md5(
            F.array_join(F.transform("ids", lambda i: i.cast("string")), ",")
        ).alias("ids_fp"),
    )
    return counted.withColumn(
        "oov_ppm", F.expr("n_oov * 1000000 div greatest(n_tokens, 1)")
    )


BPE_USAGE_TOP = 30


def bpe_token_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token-usage audit after applying the merge table —
    the third leg of the tokenizer loop (bpe_pair_counts induces,
    bpe_apply encodes, this audits): the BPE_USAGE_TOP most-used token
    ids with their surface form, use count, corpus share, and rank.
    A merge whose token never ranks is dead weight; an <unk> (-1)
    share creeping up the ranks means the vocabulary no longer fits
    the corpus — the drift alarms a tokenizer owner watches.

    Shape: in-row encode (the shared _bpe_ids stage) → explode to ids
    → map-side-combined count on a ≤ |vocab|+1 key space →
    TakeOrderedAndProject for the top-k; the corpus total rides along
    as a broadcast 1-row aggregate, so share_ppm needs no second
    pass over the counts."""
    from pyspark.sql import Window

    staged = _bpe_ids(spark, sf_dir)
    counts = (
        staged.select(F.explode("ids").alias("tid"))
        .groupBy("tid")
        .agg(F.count("*").alias("n_uses"))
    )
    total = counts.agg(F.sum("n_uses").alias("_total"))
    vocab = F.array(*[F.lit(v) for v in BPE_VOCAB])
    w = Window.orderBy(F.col("n_uses").desc(), F.col("tid"))
    return (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.col("n_uses").desc(), "tid")
        .limit(BPE_USAGE_TOP)
        .select(
            "tid",
            F.when(F.col("tid") >= 0, F.element_at(vocab, F.col("tid").cast("int") + 1))
            .otherwise(F.lit("<unk>"))
            .alias("token"),
            "n_uses",
            F.expr("n_uses * 1000000 div _total").alias("share_ppm"),
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


QCAL_BANDS = 10


def quality_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the linear quality classifier against the
    Gopher rule-based filter: rank every document by classifier score,
    cut the ranking into 10 equal-frequency bands, and report each
    band's Gopher keep rate — if the classifier is calibrated, keep
    rate rises monotonically with the band; a flat or inverted band is
    the signal that the learned score and the deployed rules disagree
    on a quality regime. (The standard score-vs-outcome calibration
    audit, with the rule filter standing in for held-out labels.)

    Both signals come from ONE gopher_stat_aggs pass (the shared
    feature frame), so the curve can never drift from either deployed
    scorer. Banding is the skew-safe two-pass rank (curriculum_order's
    layout): distinct-score counts → running offsets (window over the
    score grid only) → within-score row_number — no task ever sorts
    the corpus; score groups straddling a band boundary split by
    exact global rank, identical in both engines. Integer end-to-end."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(fx.tokenize_ws()).alias("w"))
    base = tok.groupBy("doc_id").agg(*gopher_stat_aggs())
    *_, score = _qc_score_exprs()
    scored = base.select(
        "doc_id",
        score.alias("score_e6"),
        gopher_keep_col().cast("long").alias("keep"),
    )
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
    banded = (
        scored.join(F.broadcast(offs), "score_e6")
        .crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.col("offset") + F.row_number().over(w_in))
        .withColumn(
            "band", F.expr(f"cast(((rnk - 1) * {QCAL_BANDS}) div n + 1 as int)")
        )
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").alias("n_keep"),
            F.min("score_e6").alias("min_score_e6"),
            F.max("score_e6").alias("max_score_e6"),
        )
        .selectExpr(
            "band",
            "n_docs",
            "n_keep",
            "n_keep * 1000000 div n_docs AS keep_ppm",
            "min_score_e6",
            "max_score_e6",
        )
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language: tokens-per-word and OOV
    rate of the deployed BPE (BPE_MERGES/BPE_VOCAB) per lang — THE
    cross-lingual tokenizer-fairness table (a language whose fertility
    is 2× pays twice the sequence length for the same text; the number
    multilingual tokenizer papers report per language). Emits per
    lang: token/word/OOV totals, fertility in ppm (tokens·10⁶ div
    words), and OOV ppm.

    Shape: the shared in-row encode chain (bpe_id_expr) plus word
    count per row, then ONE map-side-combined groupBy(lang) — 5 rows
    out, text projected away before the exchange. The scaled ratios
    route through DECIMAL(38,0) (corpus token totals × 10⁶ top BIGINT
    at 100 TB), floored with `div` — bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    ids = bpe_id_expr()
    per = docs.select(
        "lang",
        F.size(ids).cast("long").alias("t"),
        F.size(F.filter(ids, lambda i: i < 0)).cast("long").alias("o"),
        F.size(fx.tokenize_ws()).cast("long").alias("w"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("t").alias("n_tokens"),
            F.sum("w").alias("n_words"),
            F.sum("o").alias("n_oov"),
        )
        .selectExpr(
            "lang",
            "n_tokens",
            "n_words",
            "n_oov",
            "CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000"
            " div greatest(n_words, 1) AS BIGINT) AS fertility_ppm",
            "CAST(CAST(n_oov AS DECIMAL(38,0)) * 1000000"
            " div greatest(n_tokens, 1) AS BIGINT) AS oov_ppm",
        )
    )


def detokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-side fidelity audit of the tokenizer — the inverse of
    bpe_apply. Every document is encoded to ids (the shared
    bpe_id_expr chain) and immediately decoded back: each id >= 0 maps
    to its BPE_VOCAB surface, OOV (-1) to a '?' placeholder, and the
    concatenation is compared against the canonical surface (lowercased
    text with whitespace removed — exactly the character stream the
    encoder consumed, since word boundaries are not carried by the id
    stream). Emits per doc: token/OOV counts, OOV rate, an exact-match
    flag, and the count of differing character positions. The invariant
    a tokenizer owner ships on: decode(encode(x)) == x for every
    OOV-free document (char_diff == 0), and for lossy docs the damage
    is EXACTLY the OOV positions — any other nonzero cell means the
    merge table and vocabulary disagree (pinned in
    tests/test_contract.py::test_detokenize_roundtrip_fidelity).

    Shape: pure in-row expression chain inside whole-stage codegen —
    encode, decode, and the positional diff (zip_with over per-char
    splits; a null from a length mismatch counts as a diff) all happen
    in one map stage, zero exchange. At 100 TB this scales with scan
    bandwidth like bpe_apply; nothing is collected or shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = F.array(*[F.lit(v) for v in BPE_VOCAB])
    staged = docs.select(
        "doc_id",
        bpe_id_expr().alias("ids"),
        F.array_join(fx.tokenize_ws(F.lower("text")), "").alias("canon"),
    ).select(
        "doc_id",
        F.size("ids").cast("long").alias("n_tokens"),
        F.size(F.filter("ids", lambda i: i < 0)).cast("long").alias("n_oov"),
        F.array_join(
            F.transform(
                "ids",
                lambda i: F.when(
                    i >= 0, F.element_at(vocab, i.cast("int") + 1)
                ).otherwise(F.lit("?")),
            ),
            "",
        ).alias("recon"),
        "canon",
    )
    chars = lambda c: F.split(c, "(?!^)")  # noqa: E731 — per-char split
    char_diff = F.aggregate(
        F.zip_with(
            chars(F.col("recon")),
            chars(F.col("canon")),
            lambda x, y: F.coalesce((x != y).cast("long"), F.lit(1).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.expr("n_oov * 1000000 div greatest(n_tokens, 1)").alias("oov_ppm"),
        (F.col("recon") == F.col("canon")).cast("int").alias("exact_match"),
        char_diff.alias("char_diff"),
    )


def doc_length_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve over document token counts: for every distinct
    length, how many documents have AT LEAST that many tokens — the
    table a curation owner reads to set a min-length threshold ("a
    cutoff of 30 tokens keeps 92% of docs") without re-running the
    filter per candidate value.

    Shape: one map-side-combined groupBy on the length, then a
    running-sum window over the DISTINCT lengths only (thousands of
    rows, not corpus rows) ordered descending — the same
    aggregate-then-window-the-aggregate trick as quantile_bucketize.
    Integer end to end."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.size(fx.tokenize_ws()).alias("n_tokens"))
        .groupBy("n_tokens")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.orderBy(F.col("n_tokens").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return counts.select(
        "n_tokens", "n_docs", F.sum("n_docs").over(w).alias("n_docs_at_least")
    )


# quality_classifier_linear: fixed integer weights over the per-doc
# ratio features (ppm-scaled), standing in for a trained fastText-style
# quality classifier the way the subset codebooks stand in for k-means.
QC_WEIGHTS = {
    "stop_ppm": 3,       # stopword evidence up-weights (fluent prose)
    "alpha_ppm": 2,      # alphabetic-token ratio up-weights
    "len_penalty": -1,   # |mean word length - 5| in e6, penalized
}
QC_BIAS = -1_500_000
QC_THRESHOLD = 0  # keep when score_e6 > 0


def _qc_score_exprs() -> tuple[Column, Column, Column, Column]:
    """(stop_ppm, alpha_ppm, len_penalty_e6, score_e6) expressions over
    a frame with the gopher_stat_aggs columns — shared by
    quality_classifier_linear, quality_drift_by_source and the
    streaming stream_quality_scores, so neither the monitored nor the
    ingest-time score can drift from the deployed classifier's."""
    stop_ppm = F.expr("stop_hits * 1000000 div n_words")
    alpha_ppm = F.expr("alpha_words * 1000000 div n_words")
    # |mean word length - 5| in e6: abs(word_chars*1e6 div n_words - 5e6)
    len_pen = F.abs(F.expr("word_chars * 1000000 div n_words") - F.lit(5_000_000))
    score = (
        F.lit(QC_WEIGHTS["stop_ppm"]) * stop_ppm
        + F.lit(QC_WEIGHTS["alpha_ppm"]) * alpha_ppm
        + F.lit(QC_WEIGHTS["len_penalty"]) * len_pen
        + F.lit(QC_BIAS)
    )
    return stop_ppm, alpha_ppm, len_pen, score


def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier (the trained-classifier stage of a
    curation funnel, with deterministic stand-in weights): per doc, a
    logit-style integer score over ppm-scaled ratio features — stopword
    rate, alphabetic rate, and a mean-word-length penalty — plus a keep
    verdict at score > 0. Unlike gopher_quality_filter's hard rules,
    the score is GRADED, so downstream can threshold-sweep or
    temperature-sample by quality band without recomputing features.

    Exactness: every feature is an integer ppm via `div` (no float
    ratios), the dot product is BIGINT, and the verdict is an integer
    comparison — bit-identical across engines and partitionings.
    Shape: the one exploded-token pass shared with the Gopher
    consumers (gopher_stat_aggs), one map-side-combined groupBy, zero
    joins."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(fx.tokenize_ws()).alias("w"))
    base = tok.groupBy("doc_id").agg(*gopher_stat_aggs())
    stop_ppm, alpha_ppm, len_pen, score = _qc_score_exprs()
    return base.select(
        "doc_id",
        "n_words",
        stop_ppm.alias("stop_ppm"),
        alpha_ppm.alias("alpha_ppm"),
        len_pen.alias("len_penalty_e6"),
        score.alias("score_e6"),
        (score > QC_THRESHOLD).cast("int").alias("keep"),
    )


# Keep-rate sweep grid, chosen to span the corpus score distribution
# (p5 ≈ -78k, median ≈ 188k, p95 ≈ 475k at sf0.01)
QC_SWEEP_THRESHOLDS = [-100_000, 0, 100_000, 200_000, 300_000, 400_000]


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier tuning curve: corpus keep-rate at each threshold
    in QC_SWEEP_THRESHOLDS — the table a pipeline owner reads to turn
    a token-budget decision ("keep 60 % of the corpus") into the
    threshold quality_classifier_linear should run at.

    Shape: the graded scores reduce through ONE pass of conditional
    sums (|grid| counters in a single aggregate row — no 6× row
    blow-up through a threshold cross join, which matters when docs
    are billions), then the 1-row aggregate explodes to the grid rows
    in-row. Integer end to end."""
    scores = quality_classifier_linear(spark, sf_dir).select("score_e6")
    agg = scores.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum((F.col("score_e6") > t).cast("long")).alias(f"_k{i}")
            for i, t in enumerate(QC_SWEEP_THRESHOLDS)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(t).cast("long").alias("threshold_e6"),
                F.col(f"_k{i}").alias("n_keep"),
            )
            for i, t in enumerate(QC_SWEEP_THRESHOLDS)
        ]
    )
    return (
        agg.select("n_docs", F.explode(rows).alias("r"))
        .select(
            "r.threshold_e6",
            "r.n_keep",
            "n_docs",
            F.expr("r.n_keep * 1000000 div n_docs").alias("keep_ppm"),
        )
    )


def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality–length Pareto frontier (the 2-D skyline): every document
    no other document beats on BOTH classifier score and token count —
    the undominated set a curation owner inspects when trading
    "keep high quality" against "keep long documents" (frontier docs
    are exactly the optimal threshold corners; everything else is
    strictly worse than some frontier doc on both axes).

    Dominance: e dominates d iff e.score ≥ d.score ∧ e.len ≥ d.len
    with one strict. NOT computed by the quadratic all-pairs NOT
    EXISTS (the textbook formulation — dead at 100 TB): a doc is
    dominated iff (a) some STRICTLY higher score reaches its length
    (running max over the score axis) or (b) its own score level has a
    longer doc. So: groupBy(score) → max length (tiny aggregate, one
    map-side-combined shuffle), a running-max window over the DISTINCT
    scores only (the quantile_bucketize trick — the windowed frame is
    feature-grid-bounded, never corpus-shaped), and one broadcast join
    back. Integer end-to-end (score_e6 and n_words are BIGINTs from
    the shared classifier stage), so the frontier is bit-identical
    across engines."""
    from pyspark.sql import Window

    scored = quality_classifier_linear(spark, sf_dir).select(
        "doc_id", "n_words", "score_e6"
    )
    perq = scored.groupBy("score_e6").agg(F.max("n_words").alias("maxlen"))
    w = (
        Window.orderBy(F.col("score_e6").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marks = perq.withColumn("m_above", F.max("maxlen").over(w))
    return (
        scored.join(F.broadcast(marks), "score_e6")
        .filter(
            (F.col("m_above").isNull() | (F.col("m_above") < F.col("n_words")))
            & (F.col("maxlen") == F.col("n_words"))
        )
        .select("doc_id", "score_e6", "n_words")
    )


def quality_rank_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality normalization: each doc's rank position
    within its language's score distribution, as exact ppm — the
    rank-based calibration that makes quality thresholds comparable
    across languages (a raw-score cut keeps 90 % of one language and
    20 % of another; a rank cut keeps the same fraction of each).
    Tie-break is deterministic (score, doc_id), so the ppm is
    bit-stable and oracle-hashable — percent_rank semantics without
    float division.

    Shape (skew-safe two-pass rank — the 100 TB fix for English ≫
    rest): a naive Window.partitionBy(lang) sorts the dominant
    language in ONE task. Instead the score axis is cut into fixed
    integer ranges (_qbucket = score_e6 div 32768 — truncating div is
    monotone, and ties share a score so they share a bucket, keeping
    the (score, doc_id) tie-break bucket-local). Pass 1 groupBy
    (lang, bucket) yields a tiny aggregate (languages × live buckets,
    corpus-size-independent) whose running sum gives each bucket's
    rank OFFSET and each language's total; pass 2 broadcast-joins the
    offsets back and ranks WITHIN (lang, bucket) — many small sorts
    instead of one giant one, so no task ever holds a whole language.
    Output is bit-identical to the single-window formulation (oracle
    hash unchanged); tests/test_plans.py pins that the doc-level
    window partitions by (lang, _qbucket), never lang alone. A
    production variant sizes the width from a quantile sketch; any
    width is correct, width only tunes balance."""
    from pyspark.sql import Window

    scored = quality_classifier_linear(spark, sf_dir).select(
        "doc_id", "score_e6"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = scored.join(docs.hint("merge"), "doc_id").withColumn(
        "_qbucket", F.expr("score_e6 div 32768")
    )
    # pass 1: per-(lang, bucket) counts — tiny, map-side combined
    bucket_counts = joined.groupBy("lang", "_qbucket").agg(
        F.count("*").alias("_bn")
    )
    woff = (
        Window.partitionBy("lang")
        .orderBy("_qbucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy("lang")
    offsets = bucket_counts.select(
        "lang",
        "_qbucket",
        F.coalesce(F.sum("_bn").over(woff), F.lit(0)).alias("_off"),
        F.sum("_bn").over(wtot).cast("long").alias("lang_n"),
    )
    # pass 2: rank within the (lang, bucket) slice, add the offset
    win = Window.partitionBy("lang", "_qbucket").orderBy("score_e6", "doc_id")
    return (
        joined.join(F.broadcast(offsets), ["lang", "_qbucket"])
        .select(
            "doc_id",
            "lang",
            "score_e6",
            (F.row_number().over(win) + F.col("_off"))
            .cast("long")
            .alias("lang_rank"),
            "lang_n",
        )
        .withColumn(
            "pct_rank_ppm",
            F.expr("CASE WHEN lang_n > 1 THEN (lang_rank - 1) * 1000000 div (lang_n - 1) ELSE 0 END"),
        )
    )


#: Per-source mean-score drift alarm threshold, in score_e6 units.
#: Sized ≈ 2× the worst natural old/new half-split shift observed on
#: the synthetic corpus (sf0.01 AND sf0.1), so the alarm is quiet on a
#: stationary corpus but a planted regression (see the fixture test)
#: fires it decisively.
QD_DRIFT_E6 = 250_000


def _quality_drift_core(docs: DataFrame) -> DataFrame:
    """The monitor over any (doc_id, source, text) frame — split out so
    the planted-drift fixture test can feed a corpus whose trailing
    window IS degraded and prove the alarm fires."""
    mx = docs.agg(F.max("doc_id").alias("_max_id"))
    tagged = docs.crossJoin(F.broadcast(mx)).withColumn(
        "is_new", (F.col("doc_id") * 2 > F.col("_max_id")).cast("long")
    )
    tok = tagged.select(
        "doc_id", "source", "is_new", F.explode(fx.tokenize_ws()).alias("w")
    )
    base = tok.groupBy("doc_id", "source", "is_new").agg(*gopher_stat_aggs())
    *_, score = _qc_score_exprs()
    per_src = (
        base.select("source", "is_new", score.alias("score_e6"))
        .groupBy("source")
        .agg(
            F.sum(1 - F.col("is_new")).alias("n_old"),
            F.sum("is_new").alias("n_new"),
            F.sum(F.col("score_e6") * (1 - F.col("is_new"))).alias("sum_old"),
            F.sum(F.col("score_e6") * F.col("is_new")).alias("sum_new"),
        )
    )
    # Cross-multiplied integer comparison (the embedding_drift_report
    # technique: sum_new·n_old − sum_old·n_new vs threshold·n_old·n_new,
    # no float means) — routed through DECIMAL(38,0): per-source sums
    # of e6 scores times corpus-scale counts overflow BIGINT at 100 TB.
    num = "CAST(sum_new AS DECIMAL(38,0)) * n_old - CAST(sum_old AS DECIMAL(38,0)) * n_new"
    den = "CAST(n_old AS DECIMAL(38,0)) * n_new"
    return per_src.selectExpr(
        "source",
        "CAST(n_old AS BIGINT) AS n_old",
        "CAST(n_new AS BIGINT) AS n_new",
        "CAST(sum_old AS BIGINT) AS sum_old",
        "CAST(sum_new AS BIGINT) AS sum_new",
        f"CAST(CASE WHEN n_old > 0 AND n_new > 0"
        f" THEN abs({num}) div ({den}) ELSE 0 END AS BIGINT) AS abs_shift_e6",
        f"CAST(sign({num}) AS INT) AS shift_sign",
        f"CAST(CASE WHEN n_old > 0 AND n_new > 0"
        f" THEN abs({num}) > {QD_DRIFT_E6} * ({den}) ELSE FALSE END AS INT)"
        " AS is_drifted",
    )


def quality_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed per-source quality monitoring: is the quality of
    what a source ships TODAY still the quality we measured when it was
    admitted to the mix? The ingest axis is doc_id order; the corpus
    splits at its midpoint into a baseline and a trailing window, and
    per source the mean classifier score (the SAME _qc_score_exprs the
    deployed quality_classifier_linear runs — shared expression, can't
    drift apart) is compared across the halves with the exact
    cross-multiplied integer test from embedding_drift_report: alarm
    iff |mean_new − mean_old| > QD_DRIFT_E6. On the stationary
    synthetic corpus every verdict is 0 — correct, not dead: the
    planted-drift fixture test feeds a corpus whose trailing window is
    spam and proves the alarm fires for exactly that source.

    Shape: one exploded-token pass (the shared Gopher aggregation),
    one map-side-combined groupBy(doc) then groupBy(source) — output
    rows = |sources|, shuffle bytes independent of corpus size; the
    midpoint is a broadcast 1-row max. All integer/decimal arithmetic."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return _quality_drift_core(docs)


def char_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution concentration per document — the Gini/
    Simpson index Σ(c_i/n)², ppm-scaled: the float-free stand-in for
    character entropy (keyboard mashing, run-length spam, and
    single-char padding concentrate; natural prose sits low). Chosen
    over Shannon entropy deliberately: log() is not bit-identical
    across libm implementations, while Σc_i²·1e6 div n² is integer
    arithmetic both engines agree on at any scale.

    Shape: one in-row explode of characters, a map-side-combined
    (doc, char) count, and a per-doc rollup — two narrow shuffles,
    text dropped at the explode."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return (
        per_char.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars_tok"),
            F.count("*").alias("n_distinct_chars"),
            F.sum(F.col("c") * F.col("c")).alias("_sum_c2"),
        )
        .selectExpr(
            "doc_id",
            "n_chars_tok",
            "n_distinct_chars",
            # DECIMAL casts: sum_c2·1e6 tops BIGINT around 10-MB docs
            "CAST((CAST(_sum_c2 AS DECIMAL(38,0)) * 1000000)"
            " div (CAST(n_chars_tok AS DECIMAL(38,0)) * n_chars_tok)"
            " AS BIGINT) AS gini_ppm",
        )
    )



_PRUNE_SIZES = (4, 8, 16, 24, 32)  # vocab budgets swept (corpus has ~31 types)


def vocab_prune_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-budget sweep: for each candidate vocab size N, the
    token coverage a top-N (by frequency, ties alphabetical) vocabulary
    achieves — the Zipf curve a tokenizer team reads to pick the budget
    where OOV stops paying for vocab rows. One row per budget:
    types kept, the marginal word's frequency (cutoff), covered tokens,
    and the OOV ppm. Complements vocab_coverage (one fixed budget,
    per-language split) with the across-budgets curve.

    Shape — the part that matters at 100 TB: NO per-word rank and NO
    vocab sort. Covered-token mass is tie-invariant (all words tied at
    the cutoff frequency have the same count), so the sweep needs only
    the count-of-counts histogram: word counts → groupBy(count) →
    (n_words, tokens) per distinct frequency — a frame bounded by the
    number of DISTINCT frequencies (≈ O(sqrt(corpus)) under Zipf),
    never by vocabulary size. The running sums over that histogram are
    the two-pass bucketed cumsum (functions.bucketed_cumsum, the r8
    helper — round-9 verdict fix): descending-frequency order with the
    NEGATED log2-magnitude bucket -length(bin(c)) (ascending exactly
    when c descends, ties share a bucket), so the only unpartitioned
    window left is the ≤64-row magnitude-bucket offset frame — the
    same value-grid shape zipf_fit_report ranks this histogram with —
    and no task ever sums more than one magnitude's worth of distinct
    frequencies. total_tokens is a 1-row broadcast aggregate, not an
    unbounded window. Each budget's coverage is exact integer
    arithmetic on the straddling histogram row:
    covered = full_rows_tokens + cutoff · (N - words_above)."""
    from flinkproj_spark.functions import bucketed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(fx.tokenize_ws()).alias("w"))
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    hist = wc.groupBy("c").agg(
        F.count("*").alias("n_words"),
        (F.col("c") * F.count("*")).alias("toks"),
    )
    tot = hist.agg(F.sum("toks").alias("total_tokens"))
    cum = (
        bucketed_cumsum(
            hist,
            -F.length(F.bin("c")),
            [F.col("c").desc()],
            ["n_words", "toks"],
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "c",
            "n_words",
            "toks",
            F.col("cum_n_words").alias("cum_words"),
            "cum_toks",
            "total_tokens",
        )
        .withColumn("cum_words_before", F.col("cum_words") - F.col("n_words"))
    )
    sizes = spark.createDataFrame(
        [(int(n),) for n in _PRUNE_SIZES], "vocab_size BIGINT"
    )
    joined = cum.join(
        F.broadcast(sizes), F.col("cum_words_before") < F.col("vocab_size")
    )
    return (
        joined.groupBy("vocab_size")
        .agg(
            F.sum(
                F.when(F.col("cum_words") <= F.col("vocab_size"), F.col("n_words"))
                .otherwise(F.col("vocab_size") - F.col("cum_words_before"))
            ).alias("n_types_kept"),
            F.min("c").alias("cutoff_count"),
            F.sum(
                F.when(F.col("cum_words") <= F.col("vocab_size"), F.col("toks"))
                .otherwise(
                    F.col("c") * (F.col("vocab_size") - F.col("cum_words_before"))
                )
            ).alias("covered_tokens"),
            F.max("total_tokens").alias("total_tokens"),
        )
        .withColumn(
            "oov_ppm",
            F.expr("(total_tokens - covered_tokens) * 1000000 div total_tokens"),
        )
    )


QUERIES = {
    "vocab_prune_sweep": vocab_prune_sweep,
    "text_token_count": text_token_count,
    "char_gini_concentration": char_gini_concentration,
    "bpe_pair_counts": bpe_pair_counts,
    "bpe_learn_merges": bpe_learn_merges,
    "bpe_apply": bpe_apply,
    "bpe_token_usage": bpe_token_usage,
    "quality_calibration_curve": quality_calibration_curve,
    "tokenizer_fertility": tokenizer_fertility,
    "detokenize_roundtrip": detokenize_roundtrip,
    "quality_threshold_sweep": quality_threshold_sweep,
    "quality_rank_per_lang": quality_rank_per_lang,
    "pareto_frontier": pareto_frontier,
    "quality_drift_by_source": quality_drift_by_source,
    "doc_length_survival": doc_length_survival,
    "quality_classifier_linear": quality_classifier_linear,
    "text_repetition": text_repetition,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "doc_fingerprint": doc_fingerprint,
    "text_tf_top_terms": text_tf_top_terms,
    "ngram_counts": ngram_counts,
    "text_pii_redact": text_pii_redact,
    "doc_winnow_fingerprints": doc_winnow_fingerprints,
    "lang_id_eval": lang_id_eval,
    "bigram_pmi_top": bigram_pmi_top,
    "gopher_quality_filter": gopher_quality_filter,
    "vocab_coverage": vocab_coverage,
}


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
    return (
        f"len(list_filter(list_transform({_WORDS_SQL}, w -> lower(w)), "
        f"w -> list_contains([{markers}], w))) AS _s_{lang}"
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)
_LANG_SCORES = ",\n                 ".join(_lang_score_sql(l) for l in _LANG_ORDER)
_BEST = "GREATEST(" + ", ".join(f"_s_{l}" for l in _LANG_ORDER) + ")"
_PRED_CASE = "CASE " + " ".join(
    f"WHEN _s_{l} = {_BEST} AND {_BEST} > 0 THEN '{l}'" for l in _LANG_ORDER
) + " ELSE 'unknown' END"

ORACLE = {
    "text_repetition": f"""
        WITH w AS (
          SELECT doc_id, list_transform({_WORDS_SQL}, x -> lower(x)) AS words
          FROM documents WHERE len({_WORDS_SQL}) >= 3),
        g AS (
          SELECT doc_id, unnest(list_concat(list_concat(
                   list_transform(words, x -> 'w:' || x),
                   list_transform(range(1, len(words)),
                                  i -> 'b:' || words[i] || ' ' || words[i + 1])),
                   list_transform(range(1, len(words) - 1),
                                  i -> 't:' || words[i] || ' ' || words[i + 1]
                                       || ' ' || words[i + 2]))) AS gm
          FROM w),
        c AS (SELECT doc_id, gm, COUNT(*) AS c FROM g GROUP BY 1, 2),
        d AS (
          SELECT doc_id,
                 SUM(CASE WHEN substr(gm, 1, 2) = 'w:' THEN c END) AS n_words,
                 COUNT(CASE WHEN substr(gm, 1, 2) = 'w:' THEN 1 END) AS _n_distinct,
                 MAX(CASE WHEN substr(gm, 1, 2) = 'b:' THEN c END) AS _top_bi,
                 SUM(CASE WHEN substr(gm, 1, 2) = 'b:' THEN c END) AS _total_bi,
                 SUM(CASE WHEN substr(gm, 1, 2) = 't:' AND c >= 2 THEN c END) AS _dup_tri,
                 SUM(CASE WHEN substr(gm, 1, 2) = 't:' THEN c END) AS _total_tri
          FROM c GROUP BY 1)
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               ROUND(CAST(n_words - _n_distinct AS DOUBLE) / n_words, 4) AS dup_word_frac,
               ROUND(CAST(_top_bi AS DOUBLE) / _total_bi, 4) AS top_bigram_frac,
               ROUND(CAST(COALESCE(_dup_tri, 0) AS DOUBLE) / _total_tri, 4) AS dup_trigram_frac,
               CAST(ROUND(CAST(_top_bi AS DOUBLE) / _total_bi, 4) > {_REP_TOP_BIGRAM}
                    OR ROUND(CAST(COALESCE(_dup_tri, 0) AS DOUBLE) / _total_tri, 4)
                       > {_REP_DUP_TRIGRAM} AS BIGINT) AS repetitive
        FROM d
    """,
    "text_token_count": f"""
        SELECT doc_id,
               len({_WORDS_SQL}) AS n_words,
               len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens
        FROM documents
    """,
    "text_quality": f"""
        WITH b AS (
          SELECT doc_id,
                 len({_WORDS_SQL}) AS n_words,
                 list_sum(list_transform({_WORDS_SQL}, w -> len(w))) AS _tl,
                 len(list_filter({_WORDS_SQL},
                     w -> list_contains([{_STOP_SQL}], lower(w)))) AS n_stopwords
          FROM documents)
        SELECT doc_id,
               n_words,
               n_stopwords,
               ROUND(CAST(_tl AS DOUBLE) / n_words, 4) AS avg_word_len,
               ROUND(CAST(n_stopwords AS DOUBLE) / n_words, 4) AS stopword_ratio,
               ROUND(LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) *
                     (1.0 - CAST(n_stopwords AS DOUBLE) / n_words), 4) AS quality_score
        FROM b WHERE n_words > 0
    """,
    "text_lang_id": f"""
        WITH s AS (
          SELECT doc_id,
                 {_LANG_SCORES}
          FROM documents)
        SELECT doc_id,
               {_PRED_CASE} AS pred_lang,
               CAST({_BEST} AS BIGINT) AS marker_hits
        FROM s
    """,
    "text_tf_top_terms": f"""
        WITH tf AS (
          SELECT doc_id, lower(unnest({_WORDS_SQL})) AS term
          FROM documents),
        c AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM tf GROUP BY 1, 2)
        SELECT doc_id, term, tf, rank FROM (
          SELECT doc_id, term, tf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tf DESC, term) AS rank
          FROM c)
        WHERE rank <= 3
    """,
    "ngram_counts": f"""
        WITH w AS (
          SELECT list_transform({_WORDS_SQL}, x -> lower(x)) AS words
          FROM documents WHERE len({_WORDS_SQL}) >= 2),
        b AS (
          SELECT unnest(list_transform(range(1, len(words)),
                        i -> words[i] || ' ' || words[i + 1])) AS bigram
          FROM w)
        SELECT bigram, COUNT(*) AS n
        FROM b GROUP BY 1
        ORDER BY n DESC, bigram LIMIT 20
    """,
    "text_pii_redact": f"""
        WITH p AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com tel 555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS planted
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(planted, '{_EMAIL_RE}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(planted, '{_PHONE_RE}')) AS BIGINT)
                 AS n_phones,
               md5(regexp_replace(
                     regexp_replace(planted, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                     '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
        FROM p
    """,
    "doc_fingerprint": f"""
        WITH w AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_fp,
                 {_WORDS_SQL} AS words
          FROM documents),
        sh AS (
          SELECT doc_id, content_fp,
                 list_min(list_transform(
                   range(1, GREATEST(len(words) - 2, 1) + 1),
                   i -> md5(array_to_string(words[i:i+2], ' ')))) AS min_shingle_fp
          FROM w WHERE len(words) >= 3)
        SELECT doc_id, content_fp, min_shingle_fp FROM sh
    """,
    "doc_winnow_fingerprints": f"""
        WITH w AS (
          SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
        h AS (
          SELECT doc_id,
                 list_transform(
                   range(1, GREATEST(len(words) - 2, 0) + 1),
                   i -> ('0x' || substr(md5(array_to_string(words[i:i+2], ' ')), 1, 8))::BIGINT
                 ) AS hashes
          FROM w),
        f AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, len(hashes) - {_WINNOW_W - 1} + 1),
                   i -> list_min(hashes[i:i+{_WINNOW_W - 1}]))) AS fps
          FROM h WHERE len(hashes) >= {_WINNOW_W})
        SELECT doc_id, unnest(fps) AS fp FROM f
    """,
}

ORACLE["char_gini_concentration"] = """
    WITH ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(text) + 1),
                    i -> text[i:i])) AS ch
      FROM documents),
    pc AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM ch
      WHERE ch <> '' GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars_tok,
           COUNT(*) AS n_distinct_chars,
           CAST((SUM(CAST(c AS HUGEINT) * c) * 1000000)
                // (CAST(SUM(c) AS HUGEINT) * SUM(c)) AS BIGINT) AS gini_ppm
    FROM pc GROUP BY doc_id
"""

ORACLE["quality_classifier_linear"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents),
    base AS (
      SELECT doc_id,
             COUNT(*) AS n_words,
             CAST(SUM(len(w)) AS BIGINT) AS word_chars,
             CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]')
                           THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
             CAST(SUM(CASE WHEN lower(w) IN ({_STOP_SQL})
                           THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
      FROM tok GROUP BY 1),
    feat AS (
      SELECT doc_id, n_words,
             stop_hits * 1000000 // n_words AS stop_ppm,
             alpha_words * 1000000 // n_words AS alpha_ppm,
             ABS(word_chars * 1000000 // n_words - 5000000) AS len_penalty_e6
      FROM base)
    SELECT doc_id, n_words, stop_ppm, alpha_ppm, len_penalty_e6,
           CAST({QC_WEIGHTS['stop_ppm']} * stop_ppm
                + {QC_WEIGHTS['alpha_ppm']} * alpha_ppm
                + {QC_WEIGHTS['len_penalty']} * len_penalty_e6
                + {QC_BIAS} AS BIGINT) AS score_e6,
           CAST({QC_WEIGHTS['stop_ppm']} * stop_ppm
                + {QC_WEIGHTS['alpha_ppm']} * alpha_ppm
                + {QC_WEIGHTS['len_penalty']} * len_penalty_e6
                + {QC_BIAS} > {QC_THRESHOLD} AS INT) AS keep
    FROM feat
"""

ORACLE["quality_calibration_curve"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents),
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
                  + {QC_BIAS} AS BIGINT) AS score_e6,
             CAST({GOPHER_KEEP_SQL} AS BIGINT) AS keep
      FROM base),
    r AS (
      SELECT score_e6, keep,
             ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM scored)
    SELECT CAST(((rnk - 1) * {QCAL_BANDS}) // n + 1 AS INT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_keep,
           CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm,
           MIN(score_e6) AS min_score_e6,
           MAX(score_e6) AS max_score_e6
    FROM r GROUP BY 1
"""

ORACLE["pareto_frontier"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents),
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
      SELECT doc_id, n_words,
             CAST({QC_WEIGHTS['stop_ppm']} * (stop_hits * 1000000 // n_words)
                  + {QC_WEIGHTS['alpha_ppm']} * (alpha_words * 1000000 // n_words)
                  + {QC_WEIGHTS['len_penalty']}
                    * ABS(word_chars * 1000000 // n_words - 5000000)
                  + {QC_BIAS} AS BIGINT) AS score_e6
      FROM base),
    perq AS (SELECT score_e6, MAX(n_words) AS maxlen FROM scored GROUP BY 1),
    marks AS (
      SELECT score_e6, maxlen,
             MAX(maxlen) OVER (ORDER BY score_e6 DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS m_above
      FROM perq)
    SELECT s.doc_id, s.score_e6, CAST(s.n_words AS BIGINT) AS n_words
    FROM scored s JOIN marks m USING (score_e6)
    WHERE (m.m_above IS NULL OR m.m_above < s.n_words)
      AND m.maxlen = s.n_words
"""

ORACLE["bpe_pair_counts"] = f"""
    WITH tok AS (
      SELECT lower(unnest({_WORDS_SQL})) AS w FROM documents),
    pairs AS (
      SELECT w[i : i + 1] AS pair
      FROM (SELECT w, unnest(range(1, len(w))) AS i
            FROM tok WHERE len(w) >= 2))
    SELECT pair, COUNT(*) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT {BPE_TOP}
"""

def _bpe_learn_oracle() -> str:
    """Chained-CTE replay of the trainer: round k's pair counts come
    from the segmentation produced by rounds 1..k-1, whose winning
    pairs are scalar subqueries — the merge table is DERIVED inside the
    SQL, never copied from the Spark side, so a drifting tie-break or
    replace semantics difference fails the hash."""
    parts = [
        "wc AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM ("
        "SELECT lower(unnest(list_filter(string_split(text, ' '), "
        "w -> w != ''))) AS w FROM documents) GROUP BY 1)",
        "seg0 AS MATERIALIZED (SELECT '||' || array_to_string("
        "list_transform(range(1, len(w) + 1), i -> w[i:i]), '||') || '||' "
        "AS s, cnt FROM wc)",
    ]
    for k in range(1, BPE_LEARN_K + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
          SELECT syms[i] AS lhs, syms[i + 1] AS rhs, SUM(cnt) AS cnt
          FROM (
            SELECT syms, cnt, unnest(range(1, len(syms))) AS i
            FROM (SELECT list_filter(string_split(s, '||'), x -> x <> '')
                    AS syms, cnt FROM seg{k - 1})
            WHERE len(syms) >= 2)
          GROUP BY 1, 2)"""
        )
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p{k} "
            f"ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
        )
        if k < BPE_LEARN_K:
            parts.append(
                f"seg{k} AS MATERIALIZED (SELECT replace(s, "
                f"'|' || (SELECT lhs FROM m{k}) || '||' || "
                f"(SELECT rhs FROM m{k}) || '|', "
                f"'|' || (SELECT lhs FROM m{k}) || "
                f"(SELECT rhs FROM m{k}) || '|') AS s, cnt FROM seg{k - 1})"
            )
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, lhs, rhs, "
        f"CAST(cnt AS BIGINT) AS cnt FROM m{k}"
        for k in range(1, BPE_LEARN_K + 1)
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT merge_rank, lhs, rhs, cnt FROM ({sel}) ORDER BY merge_rank"
    )


ORACLE["bpe_learn_merges"] = _bpe_learn_oracle()


def _bpe_vocab_sql() -> str:
    return "[" + ", ".join(f"'{v}'" for v in BPE_VOCAB) + "]"


def _bpe_enc_sql() -> str:
    """Standalone SELECT (doc_id, ids): the generated nested-replace
    encode, literals derived from BPE_MERGES and BPE_VOCAB so the
    oracles can never desynchronize from the table. Shared by the
    bpe_apply and bpe_token_usage oracles."""
    s = (
        "'||' || array_to_string(list_transform({words}, "
        "w -> array_to_string(list_transform(range(1, len(w) + 1), "
        "i -> w[i:i]), '||')), '||#||') || '||'"
    ).format(words=f"list_filter(string_split(lower(text), ' '), w -> w != '')")
    for a, b in BPE_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a + b}|')"
    return f"""
        SELECT doc_id,
               list_transform(
                 list_filter(string_split({s}, '||'),
                             x -> x <> '' AND x <> '#'),
                 t -> CAST(COALESCE(list_position({_bpe_vocab_sql()}, t), 0) - 1
                           AS BIGINT)) AS ids
        FROM documents
    """


def _bpe_apply_oracle() -> str:
    return f"""
        WITH enc AS ({_bpe_enc_sql()})
        SELECT doc_id,
               CAST(len(ids) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(ids, i -> i < 0)) AS BIGINT) AS n_oov,
               md5(array_to_string(ids, ',')) AS ids_fp,
               CAST(len(list_filter(ids, i -> i < 0)) * 1000000
                    // GREATEST(len(ids), 1) AS BIGINT) AS oov_ppm
        FROM enc
    """


ORACLE["bpe_apply"] = _bpe_apply_oracle()


def _bpe_usage_oracle() -> str:
    return f"""
        WITH enc AS ({_bpe_enc_sql()}),
        used AS (SELECT unnest(ids) AS tid FROM enc),
        counts AS (SELECT tid, COUNT(*) AS n_uses FROM used GROUP BY 1),
        total AS (SELECT CAST(SUM(n_uses) AS BIGINT) AS t FROM counts),
        top AS (
          SELECT tid, n_uses FROM counts
          ORDER BY n_uses DESC, tid LIMIT {BPE_USAGE_TOP})
        SELECT tid,
               CASE WHEN tid >= 0
                    THEN ({_bpe_vocab_sql()})[CAST(tid AS INT) + 1]
                    ELSE '<unk>' END AS token,
               n_uses,
               CAST(n_uses * 1000000 // t AS BIGINT) AS share_ppm,
               CAST(ROW_NUMBER() OVER (ORDER BY n_uses DESC, tid) AS INT) AS rank
        FROM top CROSS JOIN total
    """


ORACLE["bpe_token_usage"] = _bpe_usage_oracle()


def _detok_oracle() -> str:
    """Reverse replace-chain oracle: re-encode with the shared SQL
    chain, decode ids via the vocabulary list, and diff against the
    whitespace-stripped lowercased text position by position (out-of-
    range slices compare as '' on exactly one side, matching Spark's
    null-padded zip_with)."""
    return f"""
        WITH enc AS ({_bpe_enc_sql()}),
        dec AS (
          SELECT d.doc_id,
                 CAST(len(e.ids) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(e.ids, i -> i < 0)) AS BIGINT) AS n_oov,
                 array_to_string(list_transform(e.ids,
                   i -> CASE WHEN i >= 0
                             THEN ({_bpe_vocab_sql()})[CAST(i AS INT) + 1]
                             ELSE '?' END), '') AS recon,
                 array_to_string(
                   list_filter(string_split(lower(d.text), ' '), w -> w != ''),
                   '') AS canon
          FROM documents d JOIN enc e USING (doc_id))
        SELECT doc_id, n_tokens, n_oov,
               CAST(n_oov * 1000000 // GREATEST(n_tokens, 1) AS BIGINT)
                 AS oov_ppm,
               CAST(CASE WHEN recon = canon THEN 1 ELSE 0 END AS INT)
                 AS exact_match,
               CAST(COALESCE(list_sum(list_transform(
                     range(1, GREATEST(len(recon), len(canon)) + 1),
                     i -> CASE WHEN recon[i:i] <> canon[i:i]
                               THEN 1 ELSE 0 END)), 0) AS BIGINT)
                 AS char_diff
        FROM dec
    """


ORACLE["detokenize_roundtrip"] = _detok_oracle()

ORACLE["tokenizer_fertility"] = """
    WITH enc AS ({ENC}),
    j AS (
      SELECT d.lang,
             CAST(len(e.ids) AS BIGINT) AS t,
             CAST(len(list_filter(e.ids, i -> i < 0)) AS BIGINT) AS o,
             CAST(len({WORDS}) AS BIGINT) AS w
      FROM documents d JOIN enc e USING (doc_id))
    SELECT lang,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(o) AS BIGINT) AS n_oov,
           CAST(CAST(SUM(t) AS HUGEINT) * 1000000
                // GREATEST(SUM(w), 1) AS BIGINT) AS fertility_ppm,
           CAST(CAST(SUM(o) AS HUGEINT) * 1000000
                // GREATEST(SUM(t), 1) AS BIGINT) AS oov_ppm
    FROM j GROUP BY 1
""".replace("{ENC}", _bpe_enc_sql()).replace("{WORDS}", _WORDS_SQL)

ORACLE["doc_length_survival"] = f"""
    WITH c AS (
      SELECT len({_WORDS_SQL}) AS n_tokens, COUNT(*) AS n_docs
      FROM documents GROUP BY 1)
    SELECT CAST(n_tokens AS INT) AS n_tokens, n_docs,
           CAST(SUM(n_docs) OVER (ORDER BY n_tokens DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_docs_at_least
    FROM c
"""

ORACLE["lang_id_eval"] = f"""
    WITH s AS (
      SELECT doc_id, lang,
             {_LANG_SCORES}
      FROM documents),
    p AS (
      SELECT doc_id, lang, {_PRED_CASE} AS pred_lang FROM s)
    SELECT lang, pred_lang, COUNT(*) AS n
    FROM p GROUP BY 1, 2
"""

ORACLE["bigram_pmi_top"] = f"""
    WITH tok AS (
      SELECT lower(unnest({_WORDS_SQL})) AS w FROM documents),
    uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
    total AS (SELECT SUM(c) AS n_tokens FROM uni),
    wd AS (
      SELECT list_transform({_WORDS_SQL}, x -> lower(x)) AS words
      FROM documents WHERE len({_WORDS_SQL}) >= 2),
    bg AS (
      SELECT unnest(list_transform(range(1, len(words)),
                    i -> words[i] || ' ' || words[i + 1])) AS bigram
      FROM wd),
    bc AS (
      SELECT bigram, COUNT(*) AS c_ab FROM bg GROUP BY 1
      HAVING COUNT(*) >= {PMI_MIN_COUNT}),
    scored AS (
      SELECT b.bigram, b.c_ab,
             ROUND(CAST(b.c_ab * t.n_tokens AS DOUBLE)
                   / CAST(a.c * c.c AS DOUBLE), 4) AS lift
      FROM bc b
      JOIN uni a ON a.w = string_split(b.bigram, ' ')[1]
      JOIN uni c ON c.w = string_split(b.bigram, ' ')[2]
      CROSS JOIN total t)
    SELECT bigram, c_ab, lift FROM scored
    ORDER BY lift DESC, bigram LIMIT {PMI_TOP}
"""

ORACLE["gopher_quality_filter"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents),
    base AS (
      SELECT doc_id,
             COUNT(*) AS n_words,
             CAST(SUM(len(w)) AS BIGINT) AS word_chars,
             CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]')
                           THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
             CAST(SUM(CASE WHEN lower(w) IN ({_STOP_SQL})
                           THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
      FROM tok GROUP BY 1)
    SELECT doc_id, n_words, word_chars, alpha_words, stop_hits,
           CAST({GOPHER_KEEP_SQL} AS INT) AS keep
    FROM base
"""

ORACLE["vocab_coverage"] = f"""
    WITH tok AS (
      SELECT lang, lower(unnest({_WORDS_SQL})) AS w FROM documents),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
        ORDER BY c DESC, w LIMIT {VOCAB_SIZE})),
    flagged AS (
      SELECT t.lang, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.w = v.w)
    SELECT lang, COUNT(*) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(SUM(oov) AS BIGINT) * 1000000 // COUNT(*) AS oov_ppm
    FROM flagged GROUP BY 1
"""


_SWEEP_VALUES = ", ".join(f"({t})" for t in QC_SWEEP_THRESHOLDS)

ORACLE["quality_threshold_sweep"] = f"""
    WITH s AS ({ORACLE['quality_classifier_linear']}),
    grid AS (SELECT * FROM (VALUES {_SWEEP_VALUES}) t(threshold_e6))
    SELECT CAST(g.threshold_e6 AS BIGINT) AS threshold_e6,
           CAST(COUNT(CASE WHEN s.score_e6 > g.threshold_e6 THEN 1 END)
                AS BIGINT) AS n_keep,
           COUNT(*) AS n_docs,
           CAST(COUNT(CASE WHEN s.score_e6 > g.threshold_e6 THEN 1 END)
                * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
    FROM s CROSS JOIN grid g GROUP BY g.threshold_e6
"""

ORACLE["quality_rank_per_lang"] = f"""
    WITH s AS ({ORACLE['quality_classifier_linear']}),
    ranked AS (
      SELECT s.doc_id, d.lang, s.score_e6,
             CAST(ROW_NUMBER() OVER (PARTITION BY d.lang
                                     ORDER BY s.score_e6, s.doc_id)
                  AS BIGINT) AS lang_rank,
             CAST(COUNT(*) OVER (PARTITION BY d.lang) AS BIGINT) AS lang_n
      FROM s JOIN documents d USING (doc_id))
    SELECT doc_id, lang, score_e6, lang_rank, lang_n,
           CAST(CASE WHEN lang_n > 1
                     THEN (lang_rank - 1) * 1000000 // (lang_n - 1)
                     ELSE 0 END AS BIGINT) AS pct_rank_ppm
    FROM ranked
"""

ORACLE["quality_drift_by_source"] = f"""
    WITH s AS ({ORACLE['quality_classifier_linear']}),
    m AS (SELECT MAX(doc_id) AS max_id FROM documents),
    j AS (
      SELECT d.source, s.score_e6,
             CASE WHEN s.doc_id * 2 > m.max_id THEN 1 ELSE 0 END AS is_new
      FROM s JOIN documents d USING (doc_id) CROSS JOIN m),
    p AS (
      SELECT source,
             SUM(1 - is_new) AS n_old, SUM(is_new) AS n_new,
             SUM(score_e6 * (1 - is_new)) AS sum_old,
             SUM(score_e6 * is_new) AS sum_new
      FROM j GROUP BY 1)
    SELECT source,
           CAST(n_old AS BIGINT) AS n_old,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(sum_old AS BIGINT) AS sum_old,
           CAST(sum_new AS BIGINT) AS sum_new,
           CAST(CASE WHEN n_old > 0 AND n_new > 0
                THEN abs(sum_new * n_old - sum_old * n_new) // (n_old * n_new)
                ELSE 0 END AS BIGINT) AS abs_shift_e6,
           CAST(sign(sum_new * n_old - sum_old * n_new) AS INT) AS shift_sign,
           CAST(CASE WHEN n_old > 0 AND n_new > 0
                THEN abs(sum_new * n_old - sum_old * n_new)
                     > {QD_DRIFT_E6} * (n_old * n_new)
                ELSE FALSE END AS INT) AS is_drifted
    FROM p
"""


ORACLE["vocab_prune_sweep"] = f"""
    WITH wc AS (
      SELECT lower(unnest({_WORDS_SQL})) AS w FROM documents),
    counts AS (SELECT w, COUNT(*) AS c FROM wc GROUP BY 1),
    hist AS (
      SELECT c, COUNT(*) AS n_words, c * COUNT(*) AS toks
      FROM counts GROUP BY 1),
    cum AS (
      SELECT c, n_words, toks,
             SUM(n_words) OVER (ORDER BY c DESC) AS cum_words,
             SUM(toks) OVER (ORDER BY c DESC) AS cum_toks,
             SUM(toks) OVER () AS total_tokens,
             SUM(n_words) OVER (ORDER BY c DESC) - n_words AS cum_words_before
      FROM hist),
    sizes AS (SELECT unnest({list(_PRUNE_SIZES)}) AS vocab_size),
    joined AS (
      SELECT * FROM cum JOIN sizes ON cum_words_before < vocab_size)
    SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN cum_words <= vocab_size THEN n_words
                         ELSE vocab_size - cum_words_before END) AS BIGINT)
             AS n_types_kept,
           CAST(MIN(c) AS BIGINT) AS cutoff_count,
           CAST(SUM(CASE WHEN cum_words <= vocab_size THEN toks
                         ELSE c * (vocab_size - cum_words_before) END) AS BIGINT)
             AS covered_tokens,
           CAST(MAX(total_tokens) AS BIGINT) AS total_tokens,
           (CAST(MAX(total_tokens) AS BIGINT)
              - CAST(SUM(CASE WHEN cum_words <= vocab_size THEN toks
                             ELSE c * (vocab_size - cum_words_before) END) AS BIGINT))
             * 1000000 // CAST(MAX(total_tokens) AS BIGINT) AS oov_ppm
    FROM joined GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve (round 7)
# ---------------------------------------------------------------------------

VG_CHECKPOINT = 50  # docs per checkpoint (doc_id is dense at every SF)


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law audit: cumulative token count and cumulative distinct
    unigram/bigram vocabulary at every VG_CHECKPOINT-doc prefix of the
    corpus (doc_id order) — the curve tokenizer planners read to pick
    vocab budgets and to see whether a crawl is still yielding new
    types or has saturated.

    Shape: new-type attribution is NOT a running set — each term's
    FIRST doc is a min() aggregate, so the scan collapses to (term,
    first_bucket) with map-side combine and the cumulative sums run as
    a window over the checkpoint frame (|corpus|/50 rows), never over
    terms. Three tiny frames (tokens/unigrams/bigrams per bucket)
    merge on the checkpoint key. The cumulative sums are the skew-safe
    two-pass bucketed cumsum (functions.bucketed_cumsum, round-8): the
    checkpoint frame is n_docs/50 rows — corpus-PROPORTIONAL, so a
    single unpartitioned window over it is a one-task sort of 2×10^9
    rows at a 10^11-doc corpus. Bucketing checkpoints into 4096-wide
    ranges cuts the only unpartitioned window down to the coarse
    bucket frame (n_docs/204800 rows, 3 longs each — ~500k rows even
    at 10^11 docs; an honest corpus-scaled bound, see PLANLINT
    whitelist class) while the per-row cumulatives run within buckets.
    """
    from flinkproj_spark.functions import bucketed_cumsum
    docs = load_table(spark, sf_dir, "documents")
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    bucket = (F.col("doc_id") / VG_CHECKPOINT).cast("long") + 1  # cp index
    base = docs.select("doc_id", words.alias("ws")).withColumn("cp", bucket)

    toks = base.groupBy("cp").agg(F.sum(F.size("ws")).alias("b_tokens"))

    uni_first = (
        base.select("cp", F.explode("ws").alias("t"))
        .groupBy("t")
        .agg(F.min("cp").alias("cp"))
        .groupBy("cp")
        .agg(F.count("*").alias("b_uni"))
    )
    m = F.greatest(F.size("ws") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("ws", 1, m), F.slice("ws", 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bi_first = (
        base.select("cp", F.explode(bigrams).alias("t"))
        .groupBy("t")
        .agg(F.min("cp").alias("cp"))
        .groupBy("cp")
        .agg(F.count("*").alias("b_bi"))
    )
    per_cp = (
        toks.join(uni_first, "cp", "left")
        .join(bi_first, "cp", "left")
        .select(
            "cp",
            F.coalesce("b_tokens", F.lit(0)).alias("b_tokens"),
            F.coalesce("b_uni", F.lit(0)).alias("b_uni"),
            F.coalesce("b_bi", F.lit(0)).alias("b_bi"),
        )
    )
    return bucketed_cumsum(
        per_cp,
        F.expr("cp div 4096"),
        [F.col("cp").asc()],
        ["b_tokens", "b_uni", "b_bi"],
    ).select(
        (F.col("cp") * VG_CHECKPOINT).cast("long").alias("docs_seen"),
        F.col("cum_b_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_b_uni").cast("long").alias("cum_unigrams"),
        F.col("cum_b_bi").cast("long").alias("cum_bigrams"),
    )


QUERIES["vocab_growth_curve"] = vocab_growth_curve
_VG_WORDS = f"list_transform({_WORDS_SQL}, w -> lower(w))"
ORACLE["vocab_growth_curve"] = f"""
    WITH base AS (
      SELECT doc_id // {VG_CHECKPOINT} + 1 AS cp, {_VG_WORDS} AS ws
      FROM documents),
    toks AS (SELECT cp, SUM(len(ws)) AS b_tokens FROM base GROUP BY 1),
    uni AS (
      SELECT cp, COUNT(*) AS b_uni FROM (
        SELECT t, MIN(cp) AS cp
        FROM (SELECT cp, unnest(ws) AS t FROM base) GROUP BY 1)
      GROUP BY 1),
    bi AS (
      SELECT cp, COUNT(*) AS b_bi FROM (
        SELECT t, MIN(cp) AS cp FROM (
          SELECT cp, ws[i] || ' ' || ws[i + 1] AS t
          FROM (SELECT cp, ws, unnest(range(1, len(ws))) AS i FROM base))
        GROUP BY 1)
      GROUP BY 1)
    SELECT CAST(t.cp * {VG_CHECKPOINT} AS BIGINT) AS docs_seen,
           CAST(SUM(t.b_tokens) OVER cw AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(u.b_uni, 0)) OVER cw AS BIGINT) AS cum_unigrams,
           CAST(SUM(COALESCE(b.b_bi, 0)) OVER cw AS BIGINT) AS cum_bigrams
    FROM toks t
    LEFT JOIN uni u ON u.cp = t.cp
    LEFT JOIN bi b ON b.cp = t.cp
    WINDOW cw AS (ORDER BY t.cp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram model + serving artifact (round 7)
# ---------------------------------------------------------------------------


def kn_bigram_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities with absolute
    discount D = 1/2, exact: p_kn(w2|w1) = (c(w1w2)-D)+/c(w1.) +
    D*N1+(w1.)/c(w1.) * N1+(.w2)/N1+(..). Multiplying through by the
    common denominator 2*c(w1.)*N1+(..) keeps every term BIGINT:
    num = (2c-1)+ * N1+(..) + N1+(w1.) * N1+(.w2). The smoothed LM
    completes the scoring family (unigram/bigram MLE already
    registered) with the estimator production n-gram models use.

    Shape: ONE tokenized scan feeds the bigram counts; follower/
    predecessor type counts and the global type total are aggregates
    OF that bigram frame (vocabulary-sized, tiny), joined back on the
    word keys; the type total rides a broadcast 1-row aggregate. At
    100 TB the only data-sized stage is the first bigram groupBy —
    map-side combined, vocabulary² keys at most."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    m = F.greatest(F.size(words) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(words, 1, m), F.slice(words, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    big = (
        docs.filter(F.size(words) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_ab"))
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
    )
    ctx = big.groupBy("w1").agg(
        F.sum("c_ab").alias("c_a"), F.count("*").alias("n_follow")
    )
    prec = big.groupBy("w2").agg(F.count("*").alias("n_prec"))
    types = big.agg(F.count("*").alias("n_types"))
    return (
        big.join(ctx, "w1")
        .join(prec, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("n_follow").cast("long").alias("n_follow"),
            F.col("n_prec").cast("long").alias("n_prec"),
            F.col("n_types").cast("long").alias("n_types"),
            F.expr(
                "(greatest(2 * c_ab - 1, 0) * n_types + n_follow * n_prec)"
                " * 1000000 div (2 * c_a * n_types)"
            ).alias("pkn_ppm"),
        )
    )


QUERIES["kn_bigram_smoothed"] = kn_bigram_smoothed
_KN_BIGRAMS = f"""
      SELECT ws[i] || ' ' || ws[i + 1] AS bigram, COUNT(*) AS c_ab
      FROM (SELECT ws, unnest(range(1, len(ws))) AS i
            FROM (SELECT {_VG_WORDS} AS ws FROM documents))
      GROUP BY 1"""
ORACLE["kn_bigram_smoothed"] = f"""
    WITH big AS (
      SELECT string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2, c_ab
      FROM ({_KN_BIGRAMS})),
    ctx AS (SELECT w1, SUM(c_ab) AS c_a, COUNT(*) AS n_follow FROM big GROUP BY 1),
    prec AS (SELECT w2, COUNT(*) AS n_prec FROM big GROUP BY 1),
    types AS (SELECT COUNT(*) AS n_types FROM big)
    SELECT b.w1, b.w2,
           CAST(b.c_ab AS BIGINT) AS c_ab,
           CAST(c.c_a AS BIGINT) AS c_a,
           CAST(c.n_follow AS BIGINT) AS n_follow,
           CAST(p.n_prec AS BIGINT) AS n_prec,
           CAST(t.n_types AS BIGINT) AS n_types,
           CAST((GREATEST(2 * b.c_ab - 1, 0) * t.n_types
                 + c.n_follow * p.n_prec) * 1000000
                // (2 * c.c_a * t.n_types) AS BIGINT) AS pkn_ppm
    FROM big b JOIN ctx c USING (w1) JOIN prec p USING (w2)
    CROSS JOIN types t
"""


def next_word_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete serving artifact: for every context word, the top-3
    followers by bigram count (ties by word) with their conditional
    probability — the lookup table an inline-suggest service loads.

    Shape: the ranking window is partitioned by the CONTEXT WORD over
    the vocabulary-sized bigram-count frame — never corpus rows; Zipf
    skew of the context key is bounded by the follower vocabulary.
    """
    big = (
        kn_bigram_smoothed(spark, sf_dir)
        .select("w1", "w2", "c_ab", "c_a")
    )
    w = Window.partitionBy("w1").orderBy(F.col("c_ab").desc(), "w2")
    return (
        big.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "w1",
            F.col("rank").cast("int").alias("rank"),
            "w2",
            "c_ab",
            F.expr("c_ab * 1000000 div c_a").alias("p_mle_ppm"),
        )
    )


QUERIES["next_word_suggest"] = next_word_suggest
ORACLE["next_word_suggest"] = f"""
    WITH big AS (
      SELECT string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2, c_ab
      FROM ({_KN_BIGRAMS})),
    ctx AS (SELECT w1, SUM(c_ab) AS c_a FROM big GROUP BY 1),
    r AS (
      SELECT b.w1, b.w2, b.c_ab, c.c_a,
             ROW_NUMBER() OVER (PARTITION BY b.w1
                                ORDER BY b.c_ab DESC, b.w2) AS rank
      FROM big b JOIN ctx c USING (w1))
    SELECT w1, CAST(rank AS INT) AS rank, w2,
           CAST(c_ab AS BIGINT) AS c_ab,
           CAST(c_ab * 1000000 // c_a AS BIGINT) AS p_mle_ppm
    FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (round 7)
# ---------------------------------------------------------------------------


def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit: the word rank-frequency table with each rank's
    deviation from the Zipfian expectation c(r) = c(1)/r, as exact ppm
    (c*r*1e6 div c1 — 1e6 means the rank fits the law perfectly). On a
    natural corpus the column hugs 1e6; on this synthetic corpus it
    climbs steeply — the report says, correctly, that the generator's
    vocabulary is near-uniform, exactly the artifact a corpus intake
    review should surface before tokenizer/vocab decisions trust
    frequency ranks.

    Shape: the only corpus-sized stage is the map-side-combined
    groupBy(word); ranking the VOCABULARY frame (10^8-10^9 types on a
    web corpus — a naive Window.orderBy sorts it in one task) is the
    skew-safe two-pass bucketed row_number (functions.
    bucketed_row_number, round-8): buckets are `length(bin(c))` —
    integer floor(log2)+1, exact string-of-bits arithmetic, weakly
    monotone in c — so the only unpartitioned window runs over the
    ≤64-row magnitude-bucket frame and each within-bucket sort holds
    one frequency octave. The residual skew is the hapax octave (c=1
    ties rank by word within one bucket); exact ties are the pattern's
    floor — see the helper docstring. c1/total ride a broadcast 1-row
    aggregate."""
    from flinkproj_spark.functions import bucketed_row_number

    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    counts = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = counts.agg(
        F.max("c").alias("c1"), F.sum("c").alias("total")
    )
    ranked = bucketed_row_number(
        counts,
        F.length(F.bin(F.col("c"))),
        [F.col("c").desc(), F.col("w").asc()],
        "rank",
        descending=True,
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "w",
            "rank",
            F.col("c").cast("long").alias("c"),
            F.expr("c * rank * 1000000 div c1").alias("zipf_fit_ppm"),
            F.expr("c * 1000000 div total").alias("share_ppm"),
        )
    )


QUERIES["zipf_fit_report"] = zipf_fit_report
ORACLE["zipf_fit_report"] = f"""
    WITH counts AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest({_VG_WORDS}) AS w FROM documents)
      GROUP BY 1),
    tot AS (SELECT MAX(c) AS c1, SUM(c) AS total FROM counts)
    SELECT w,
           CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank,
           CAST(c AS BIGINT) AS c,
           CAST(c * ROW_NUMBER() OVER (ORDER BY c DESC, w) * 1000000
                // c1 AS BIGINT) AS zipf_fit_ppm,
           CAST(c * 1000000 // total AS BIGINT) AS share_ppm
    FROM counts CROSS JOIN tot
"""




def simpson_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson lexical diversity per source: 1 - sum(p_w^2) over
    the source's word distribution, exact ppm (the no-logarithm
    diversity index — the probability two tokens drawn with
    replacement differ). Low diversity flags template/boilerplate
    feeds the way entropy would, without leaving integer arithmetic:
    simpson_ppm = 1e6 - sum(c_w^2)*1e6 div C^2. Also reports the
    effective vocabulary 1/sum(p^2) = C^2 div sum(c^2) — "this feed
    behaves like N equally-likely words".

    Shape: one tokenized scan -> map-side-combined groupBy
    (source, word) bounded by sources x vocabulary; the per-source
    rollup and the division happen on that tiny frame. C^2 and
    sum(c^2) stay inside int64 while C < 3e9 tokens per source; past
    that the sums go DECIMAL(38) unchanged (they are plain sums)."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    wc = (
        docs.select("source", F.explode(words).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").alias("c_total"),
            F.count("*").alias("n_vocab"),
            F.sum(F.expr("c * c")).alias("sum_c2"),
        )
        .select(
            "source",
            F.col("c_total").cast("long").alias("c_total"),
            F.col("n_vocab").cast("long").alias("n_vocab"),
            F.col("sum_c2").cast("long").alias("sum_c2"),
            F.expr(
                "1000000 - sum_c2 * 1000000 div (c_total * c_total)"
            ).alias("simpson_ppm"),
            F.expr("c_total * c_total div sum_c2").alias("eff_vocab"),
        )
    )


QUERIES["simpson_diversity_by_source"] = simpson_diversity_by_source
ORACLE["simpson_diversity_by_source"] = f"""
    WITH wc AS (
      SELECT source, w, COUNT(*) AS c
      FROM (SELECT source, unnest({_VG_WORDS}) AS w FROM documents)
      GROUP BY 1, 2),
    agg AS (
      SELECT source, SUM(c) AS c_total, COUNT(*) AS n_vocab,
             SUM(c * c) AS sum_c2
      FROM wc GROUP BY 1)
    SELECT source,
           CAST(c_total AS BIGINT) AS c_total,
           CAST(n_vocab AS BIGINT) AS n_vocab,
           CAST(sum_c2 AS BIGINT) AS sum_c2,
           CAST(1000000 - sum_c2 * 1000000 // (c_total * c_total) AS BIGINT)
             AS simpson_ppm,
           CAST(c_total * c_total // sum_c2 AS BIGINT) AS eff_vocab
    FROM agg
"""


def ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift screen: for each source, the exact KS
    distance between its document-length distribution and the rest of
    the corpus — max_x |F_src(x) - F_rest(x)| as the cross-multiplied
    integer max |cum_src(x)*n_rest - cum_rest(x)*n_src| so no division
    happens until the final ppm (the standard two-sample KS statistic,
    exact because both CDFs are step functions over the shared length
    grid). The feed whose ks_ppm spikes is the one whose length
    profile drifted from the fleet.

    Shape: one scan -> groupBy(source, n_chars) bounded by sources x
    distinct lengths; cumulative sums run per source over the length
    grid (key-bounded window partitions) with the global grid joined
    in from a second tiny aggregate of the SAME counts frame. Corpus
    rows are never windowed."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count("*").alias("c")
    )
    # global per-length counts and the full length grid
    glob = counts.groupBy("x").agg(F.sum("c").alias("g"))
    grid = (
        counts.select("source").distinct().crossJoin(glob.select("x"))
    )
    full = grid.join(counts, ["source", "x"], "left").select(
        "source", "x", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = full.join(F.broadcast(glob), "x").select(
        "source",
        "x",
        F.sum("c").over(w).alias("cum_s"),
        F.sum("g").over(w).alias("cum_all"),
    )
    tot = counts.groupBy("source").agg(F.sum("c").alias("n_s"))
    n_all = counts.agg(F.sum("c").alias("n_tot"))
    return (
        cum.join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            "n_s",
            (F.col("n_tot") - F.col("n_s")).alias("n_rest"),
            F.abs(
                F.col("cum_s") * (F.col("n_tot") - F.col("n_s"))
                - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
            ).alias("d_num"),
        )
        .groupBy("source", "n_s", "n_rest")
        .agg(F.max("d_num").alias("ks_num"))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_s"),
            F.col("n_rest").cast("long").alias("n_rest"),
            F.col("ks_num").cast("long").alias("ks_num"),
            F.expr(
                "CAST(CAST(ks_num AS DECIMAL(38,0)) * 1000000"
                " div (CAST(n_s AS DECIMAL(38,0)) * n_rest) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


QUERIES["ks_drift_by_source"] = ks_drift_by_source
ORACLE["ks_drift_by_source"] = """
    WITH counts AS (
      SELECT source, n_chars AS x, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    gcounts AS (SELECT x, SUM(c) AS g FROM counts GROUP BY 1),
    grid AS (
      SELECT s.source, gl.x
      FROM (SELECT DISTINCT source FROM counts) s CROSS JOIN gcounts gl),
    fullg AS (
      SELECT gr.source, gr.x, COALESCE(c.c, 0) AS c
      FROM grid gr LEFT JOIN counts c
        ON c.source = gr.source AND c.x = gr.x),
    cum AS (
      SELECT f.source, f.x,
             SUM(f.c) OVER (PARTITION BY f.source ORDER BY f.x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
             SUM(gl.g) OVER (PARTITION BY f.source ORDER BY f.x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
      FROM fullg f JOIN gcounts gl USING (x)),
    tot AS (SELECT source, SUM(c) AS n_s FROM counts GROUP BY 1),
    n_all AS (SELECT SUM(c) AS n_tot FROM counts)
    SELECT c.source,
           CAST(t.n_s AS BIGINT) AS n_s,
           CAST(a.n_tot - t.n_s AS BIGINT) AS n_rest,
           CAST(MAX(ABS(c.cum_s * (a.n_tot - t.n_s)
                        - (c.cum_all - c.cum_s) * t.n_s)) AS BIGINT) AS ks_num,
           CAST(CAST(MAX(ABS(c.cum_s * (a.n_tot - t.n_s)
                        - (c.cum_all - c.cum_s) * t.n_s)) AS HUGEINT)
                * 1000000 // (CAST(t.n_s AS HUGEINT) * (a.n_tot - t.n_s))
                AS BIGINT) AS ks_ppm
    FROM cum c JOIN tot t USING (source) CROSS JOIN n_all a
    GROUP BY c.source, t.n_s, a.n_tot
"""




def auc_length_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / AUC screen per source: the probability that a
    random document from the source is LONGER than a random document
    from the rest of the corpus (ties split), as exact ppm. This is
    the rank-sum twin of ks_drift_by_source — KS sees any shape
    difference, AUC sees stochastic dominance with a direction; a feed
    whose auc_ppm leaves 500000 ships systematically longer/shorter
    text. Doubling the U statistic (U2 = sum_x c_s(x)*(2*cum_r(<x)
    + c_r(x))) keeps the tie midranks integer, and
    auc_ppm = U2*1e6 div (2*n_s*n_r) is the single division.

    Shape: identical substrate to the KS screen — groupBy
    (source, n_chars) bounded by sources x distinct lengths, per-source
    cumulative over the length grid (key-bounded window partitions),
    everything after the one corpus scan is grid-sized."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count("*").alias("c")
    )
    gcounts = counts.groupBy("x").agg(F.sum("c").alias("g"))
    grid = counts.select("source").distinct().crossJoin(gcounts.select("x"))
    full = grid.join(counts, ["source", "x"], "left").select(
        "source", "x", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = full.join(F.broadcast(gcounts), "x").select(
        "source",
        "x",
        "c",
        (F.col("g") - F.col("c")).alias("c_rest"),
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum_s_before"),
        F.coalesce(F.sum("g").over(w), F.lit(0)).alias("cum_all_before"),
    )
    tot = counts.groupBy("source").agg(F.sum("c").alias("n_s"))
    n_all = counts.agg(F.sum("c").alias("n_tot"))
    return (
        cum.withColumn(
            "u2_term",
            F.col("c")
            * (
                2 * (F.col("cum_all_before") - F.col("cum_s_before"))
                + F.col("c_rest")
            ),
        )
        .groupBy("source")
        .agg(F.sum("u2_term").alias("u2"))
        .join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_s"),
            (F.col("n_tot") - F.col("n_s")).cast("long").alias("n_rest"),
            F.col("u2").cast("long").alias("u2"),
            F.expr(
                "CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000"
                " div (2 * CAST(n_s AS DECIMAL(38,0)) * (n_tot - n_s))"
                " AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


QUERIES["auc_length_by_source"] = auc_length_by_source
ORACLE["auc_length_by_source"] = """
    WITH counts AS (
      SELECT source, n_chars AS x, COUNT(*) AS c
      FROM documents GROUP BY 1, 2),
    gcounts AS (SELECT x, SUM(c) AS g FROM counts GROUP BY 1),
    grid AS (
      SELECT s.source, gl.x
      FROM (SELECT DISTINCT source FROM counts) s CROSS JOIN gcounts gl),
    fullg AS (
      SELECT gr.source, gr.x, COALESCE(c.c, 0) AS c
      FROM grid gr LEFT JOIN counts c
        ON c.source = gr.source AND c.x = gr.x),
    cum AS (
      SELECT f.source, f.x, f.c, gl.g - f.c AS c_rest,
             COALESCE(SUM(f.c) OVER (PARTITION BY f.source ORDER BY f.x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_s_before,
             COALESCE(SUM(gl.g) OVER (PARTITION BY f.source ORDER BY f.x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_all_before
      FROM fullg f JOIN gcounts gl USING (x)),
    tot AS (SELECT source, SUM(c) AS n_s FROM counts GROUP BY 1),
    n_all AS (SELECT SUM(c) AS n_tot FROM counts)
    SELECT c.source,
           CAST(t.n_s AS BIGINT) AS n_s,
           CAST(a.n_tot - t.n_s AS BIGINT) AS n_rest,
           CAST(SUM(c.c * (2 * (c.cum_all_before - c.cum_s_before)
                           + c.c_rest)) AS BIGINT) AS u2,
           CAST(CAST(SUM(c.c * (2 * (c.cum_all_before - c.cum_s_before)
                           + c.c_rest)) AS HUGEINT) * 1000000
                // (2 * CAST(t.n_s AS HUGEINT) * (a.n_tot - t.n_s))
                AS BIGINT) AS auc_ppm
    FROM cum c JOIN tot t USING (source) CROSS JOIN n_all a
    GROUP BY c.source, t.n_s, a.n_tot
"""


def hapax_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-health profile per language: vocabulary size, hapax
    legomena count (words seen exactly once), hapax share of the
    vocabulary, and type-token ratio — the corpus-health quartet a
    tokenizer/data team reads before freezing a vocab (a ballooning
    hapax share means noise/OCR junk; a collapsing TTR means heavy
    duplication). Complements vocab_growth_curve (growth over ingest
    order) with the steady-state distributional view.

    Not in the reference (SURVEY.md §2.9); LLM-pipeline text-analysis
    extension.

    Shape: ONE map-side-combined exchange on (lang, word) builds the
    per-type counts (the count of a word is combinable, so the shuffle
    carries unique types, not tokens), then a 5-row rollup per lang.
    Integer ppm via div. At 100 TB the type table is the only moved
    data — vocabulary grows ~Heaps' law, sublinear in corpus size."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = F.transform(fx.tokenize_ws(), lambda w: F.lower(w))
    types = (
        docs.select("lang", F.explode(words).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    agg = types.groupBy("lang").agg(
        F.count("*").alias("vocab_size"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.sum("c").alias("n_tokens"),
    )
    return agg.select(
        "lang",
        "vocab_size",
        "n_hapax",
        "n_tokens",
        F.expr(
            "CAST(CAST(n_hapax AS DECIMAL(38,0)) * 1000000"
            " div vocab_size AS BIGINT)"
        ).alias("hapax_ppm"),
        F.expr(
            "CAST(CAST(vocab_size AS DECIMAL(38,0)) * 1000000"
            " div n_tokens AS BIGINT)"
        ).alias("ttr_ppm"),
    )


QUERIES["hapax_rate_by_lang"] = hapax_rate_by_lang
ORACLE["hapax_rate_by_lang"] = f"""
    WITH types AS (
      SELECT lang, w, COUNT(*) AS c
      FROM (SELECT lang,
                   unnest(list_transform({_WORDS_SQL}, x -> lower(x))) AS w
            FROM documents)
      GROUP BY 1, 2)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                * 1000000 // COUNT(*) AS BIGINT) AS hapax_ppm,
           CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // SUM(c) AS BIGINT)
             AS ttr_ppm
    FROM types GROUP BY 1
"""


def lang_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual contamination screen: per document, how many
    DISTINCT languages have marker-word evidence (the text_lang_id
    marker sets), rolled up to (labeled lang, n_langs_detected) cells
    with doc counts and total marker hits. Docs whose evidence spans
    ≥ 2 languages are the code-switched / boilerplate-contaminated
    candidates an LLM pipeline routes to special handling — and a
    label whose docs consistently detect ≠ 1 languages is a mislabeled
    ingest source (lang_id_eval measures argmax accuracy; this
    measures evidence AMBIGUITY).

    Not in the reference (SURVEY.md §2.9); LLM-pipeline text-analysis
    extension.

    Shape: marker counting is IN-ROW over the token array (compile-time
    constant marker arrays, no explode); the rollup key space is
    langs × (n_langs+1) — corpus-size-independent, one map-side-combined
    exchange. Map-heavy scan → fanned out like text_lang_id."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    hits = lang_marker_hits(F.transform(fx.tokenize_ws(), lambda w: F.lower(w)))
    n_langs = sum((h > 0).cast("int") for h in hits)
    total = sum(hits)
    per_doc = docs.select(
        "lang",
        n_langs.cast("int").alias("n_langs_detected"),
        total.cast("long").alias("hits"),
    )
    return per_doc.groupBy("lang", "n_langs_detected").agg(
        F.count("*").alias("n_docs"),
        F.sum("hits").alias("sum_marker_hits"),
    )


QUERIES["lang_mix_report"] = lang_mix_report
_MIX_NL = " + ".join(
    f"CASE WHEN _s_{l} > 0 THEN 1 ELSE 0 END" for l in _LANG_ORDER
)
_MIX_TOT = " + ".join(f"_s_{l}" for l in _LANG_ORDER)
ORACLE["lang_mix_report"] = f"""
    WITH scored AS (
      SELECT lang, {_LANG_SCORES}
      FROM documents)
    SELECT lang,
           CAST({_MIX_NL} AS INT) AS n_langs_detected,
           COUNT(*) AS n_docs,
           CAST(SUM({_MIX_TOT}) AS BIGINT) AS sum_marker_hits
    FROM scored GROUP BY 1, 2
"""
