"""Deduplication operators for large-scale training-data pipelines.

Extensions mandated by the build plan (SURVEY.md §7 Phase 3): exact
dedup, keyed-latest dedup, MinHash+LSH banding, SimHash fingerprints,
and blocked n-gram Jaccard — over the `documents` table.

Scale design: signatures are computed entirely JVM-side (no Python in
any hot path). Cheap per-doc fingerprints (simhash, jaccard blocking)
stay in single nested-HOF projections; the minhash signature — where a
nested formulation would re-inline the expression per band — uses the
explode → codegen'd md5 → map-side-combined min pipeline instead (see
dedup_minhash_lsh). The only shuffles are the semantic ones: the LSH
bucket join (the whole point of LSH — candidate pairs meet in a hash
bucket instead of an O(n²) cross join) and the blocking-key self-join.
At 100 TB both join on short keys with near-uniform fan-out; a hot
bucket (boilerplate duplicated millions of times) would be salted or
capped by bucket-size pre-aggregation.

Cross-engine determinism: md5 is the only hash (identical in Spark and
DuckDB); all arithmetic on hashes is integer.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.sources.tables import fan_out, load_table

N_HASHES = 9
BAND_ROWS = 3  # 3 bands × 3 rows

# Affine minhash permutations h_i(x) = (A[i]*x + B[i]) mod P over the
# 32-bit base hash — the classic universal-hash family, so each shingle
# is md5'd ONCE and the other N-1 "hash functions" are integer
# arithmetic (P prime > 2^32; A[i]*x < 2^43 so BIGINT-exact in both
# Spark and DuckDB).
MINHASH_P = 4294967311
MINHASH_A = [131, 193, 257, 389, 521, 769, 1031, 1543, 2053]
MINHASH_B = [17, 29, 43, 61, 89, 113, 151, 197, 251]

# Hot-bucket guard: a band bucket larger than this switches from full
# O(k²) pair expansion to O(k) STAR pairs (every member paired with the
# bucket's minimum doc_id) — connectivity survives for clustering, the
# cost stays linear, and no giant per-bucket array ever materializes.
BUCKET_CAP = 200

# dedup_cluster: reliable-checkpoint the label frame every this many
# min-propagation rounds; between checkpoints lineage stays ≤ CKPT_EVERY
# joins deep, recomputable from the last durable round on executor loss.
CKPT_EVERY = 3

_WORDS_SQL = "list_filter(string_split(text, ' '), w -> w != '')"


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content; the kept representative is
    the minimum doc_id (deterministic, unlike dropDuplicates). At scale
    group on the md5 instead of the full text to shrink shuffle rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "content_fp", "n_copies")
    )


def dedup_keyed_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-latest dedup: one row per user_id — the most recent event
    (row_number over a per-key timestamp-desc window, tiebroken on
    event_id so replays are idempotent)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.unix_timestamp(F.date_trunc("second", "ts")).alias("ts_sec"))
    )


def md5_long(s: Column | str) -> Column:
    """The 32-bit base hash of a string: its md5's first 8 hex digits
    as a long — what every shingle and token hash in the engine is."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_perms(x: Column) -> list[Column]:
    """The N_HASHES affine permutations (A[i]*x + B[i]) mod P of a base
    hash x — the one definition of the minhash family."""
    return [
        (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


def minhash_mins() -> list[Column]:
    """The signature aggregates s0..s{N_HASHES-1}: each permutation's
    min over a base-hash column `x` (min is associative, so they
    combine map-side and merge exactly across micro-batches)."""
    return [F.min(h).alias(f"s{i}") for i, h in enumerate(minhash_perms(F.col("x")))]


def shingle_hashes(docs: DataFrame, key: str) -> DataFrame:
    """(key, x): one row per word 3-shingle of every doc with ≥ 3 words,
    x the shingle's md5_long — the input of every minhash sketch."""
    words = fx.tokenize_ws()
    return (
        docs.filter(F.size(words) >= fx.SHINGLE_WORDS)
        .select(key, F.explode(fx.shingles(words)).alias("sh"))
        .select(key, md5_long("sh").alias("x"))
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, s0..s{N_HASHES-1}) minhash signatures: explode shingles
    → ONE codegen'd md5 per shingle → N_HASHES affine permutations as N
    min aggregates in a single map-side-combined groupBy (no 9× row
    blow-up, no per-hash md5). Shared by dedup_minhash_lsh and the
    Jaccard-estimate verifier."""
    return shingle_hashes(docs, "doc_id").groupBy("doc_id").agg(*minhash_mins())


def lsh_candidate_pairs(sig: DataFrame, band_rows: int = BAND_ROWS) -> DataFrame:
    """Band the signature frame and expand each bucket into ordered
    candidate pairs. Shared by dedup_minhash_lsh and the
    Jaccard-estimate verifier (which passes the SAME sig object so the
    optimizer can reuse the signature exchange across both subtrees).

    Bucket-expand instead of self-joining: group each band bucket and
    emit the O(k²) ordered pairs in-row — one shuffle on band_key, and
    a self-join would evaluate the whole signature subtree per side.
    Bucket sizes are near-dup cluster sizes, so k is small; a
    pathological hot bucket (mass-duplicated boilerplate shingles,
    k ≫ BUCKET_CAP) must neither melt one task on a k² expansion nor
    materialize a k-member collect_set buffer. Those buckets therefore
    switch to STAR pairs: every member pairs with the bucket's minimum
    doc_id — O(k) rows emitted straight off the windowed stream (the
    sort-based window spills; nothing bucket-sized is ever held in one
    row), connectivity is preserved for dedup_cluster (the star spans
    the same component the clique would), and the recall loss relative
    to full expansion is measurable downstream (the verifier scores
    the star pairs) instead of silent. The two branches share one
    signature pipeline via shuffle reuse (the band_key exchange is
    computed once and reused — pinned by tests/test_plans.py)."""
    from pyspark.sql import Window

    n_bands = N_HASHES // band_rows
    band_key = [
        F.concat_ws(
            "|",
            F.lit(str(bnd)),
            *[F.col(f"s{bnd * band_rows + r}").cast("string") for r in range(band_rows)],
        )
        for bnd in range(n_bands)
    ]
    keyed = sig.select(
        "doc_id", F.explode(F.array(*band_key)).alias("band_key")
    )
    # Bucket size + representative in ONE pass over the band_key
    # partitioning (window, not a groupBy+join: no second subtree, and
    # the hot bucket streams through a spillable sort instead of an
    # unbounded aggregation buffer).
    w = Window.partitionBy("band_key")
    sized = keyed.select(
        "doc_id",
        "band_key",
        F.count("*").over(w).alias("_k"),
        F.min("doc_id").over(w).alias("_rep"),
    )
    small = (
        sized.filter(F.col("_k") <= BUCKET_CAP)
        .groupBy("band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    small_pairs = small.select(F.explode(pair_arr).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )
    star_pairs = (
        sized.filter((F.col("_k") > BUCKET_CAP) & (F.col("doc_id") != F.col("_rep")))
        .select(F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return small_pairs.unionByName(star_pairs).distinct()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs.

    shingle → N_HASHES minhash signature → band keys → bucket self-join:
    sig[i] = min over shingles of (A[i]*md5_32(shingle) + B[i]) mod P;
    documents agreeing on all rows of any band become a candidate pair.

    Pipeline shape (the 100 TB formulation): the shared signature
    pipeline (minhash_signatures: explode shingles → ONE codegen'd md5
    per shingle → N_HASHES affine permutations in one map-side-combined
    groupBy) → band keys in a projection → bucket expansion
    (lsh_candidate_pairs). Shuffle rows are narrow (doc_id, 9 longs)
    with uniform key fan-out."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(minhash_signatures(docs))


def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate graph: every
    near-dup group becomes one cluster labeled by its minimum doc_id —
    the step that turns pairwise candidates into "keep one per group".

    Iterative min-label propagation (the DataFrame form of union-find):
    each round every node takes the min label among itself and its
    neighbors; converges in O(graph diameter) rounds. Each round is one
    broadcast-or-shuffle join + a map-side-combined min — at 100 TB this
    is the standard large-star/small-star family shape, and near-dup
    components are tiny (diameter 2-3), so 2-4 rounds in practice.

    Fault tolerance: RELIABLE checkpoints (spark checkpoint dir — HDFS/S3
    on a real cluster, set the `spark.checkpoint.dir` conf or call
    setCheckpointDir first), not localCheckpoint: localCheckpoint stores
    blocks only on executors with no lineage, so one lost executor kills
    a cluster job mid-iteration with no recompute path. Edges and the
    initial labels checkpoint once; each round is held in a cache
    scope, and every CKPT_EVERY rounds the label frame checkpoints
    reliably so lineage never grows past a few joins and recovery
    restarts from the last durable round. The converged labels leave
    as a reliable checkpoint too, so the returned frame holds no
    cache."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        if not sc.master.startswith("local"):
            # A tempdir fallback on a CLUSTER writes checkpoint blocks to
            # each executor's own local disk — an executor loss then loses
            # them, silently recreating the exact localCheckpoint failure
            # this operator exists to avoid. Fail fast and say why.
            raise RuntimeError(
                "dedup_cluster needs a RELIABLE checkpoint dir on a cluster "
                f"(master={sc.master!r}): set spark.checkpoint.dir to an "
                "HDFS/S3 path or call spark.sparkContext.setCheckpointDir"
            )
        sc.setCheckpointDir(os.path.join(tempfile.gettempdir(), "flinkproj_spark_ckpt"))
    # Symmetrize by ONE explode (round-13, the pagerank/LPA lesson):
    # the self-union form referenced the LSH pair pipeline twice and
    # ran it twice inside the eager checkpoint below when exchange
    # reuse failed to fire across the union branches.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = edges.checkpoint(eager=True)  # pairs pipeline runs once, durably
    labels = (
        edges.select("src").distinct().select(
            F.col("src").alias("node"), F.col("src").alias("label")
        )
    ).checkpoint(eager=True)
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    with fx.cache_scope() as scope:
        for rnd in range(64):  # bound >> any real diameter; convergence breaks out
            neighbor = (
                edges.join(labels, edges.dst == labels.node)
                .select(edges.src.alias("node"), "label")
            )
            new_labels = (
                labels.unionByName(neighbor)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            if (rnd + 1) % CKPT_EVERY == 0:
                new_labels = new_labels.checkpoint(eager=True)  # durable, lineage cut
            else:
                new_labels = scope.hold(new_labels)  # lineage back to last checkpoint
            scope.release(labels)
            labels = new_labels
            # Convergence via the label-sum invariant: labels only ever
            # decrease (new = min(own, neighbors)), so the sum strictly
            # drops on any active round and is equal iff nothing changed —
            # one cheap aggregate instead of a join-and-compare per round.
            new_sum = labels.agg(F.sum("label")).collect()[0][0]
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        if (rnd + 1) % CKPT_EVERY:  # the result outlives the round caches
            labels = labels.checkpoint(eager=True)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup components: how many
    clusters have exactly k members — the one-page answer to "how
    duplicated is this corpus" and the alert surface for dedup drift
    (a sudden mass of large clusters means an ingest loop or a
    boilerplate explosion). Two map-side-combined aggregates over
    dedup_cluster's (doc_id, cluster_id) output; the heavy lifting is
    the clustering itself."""
    clusters = dedup_cluster(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint (32-bit): token md5 → per-bit ±1 weights
    summed over the doc; bit j of the fingerprint is sign(weight_j).
    Term frequency weights naturally (duplicate tokens count twice).
    Near-dup = small Hamming distance, banded the same way as minhash
    when pairing at scale."""
    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    # Explode to (doc_id, token-hash) rows: one codegen'd md5 per token,
    # then 32 SUM(CASE) aggregates in a single map-side-combinable
    # groupBy — the nested-HOF formulation re-evaluates the hash array
    # per bit (measured 10s -> ~1s at sf0.1). bit_j(h) = (h div 2^j) % 2.
    tok = docs.select("doc_id", F.explode(words).alias("w")).select(
        "doc_id", md5_long("w").alias("h")
    )
    weights = tok.groupBy("doc_id").agg(
        *[
            F.sum((F.expr(f"h div {2**j}") % 2) * 2 - 1).alias(f"b{j}")
            for j in range(32)
        ]
    )
    fingerprint = sum(
        [
            F.when(F.col(f"b{j}") >= 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
            for j in range(32)
        ],
        start=F.lit(0).cast("long"),
    )
    return weights.select("doc_id", fingerprint.alias("simhash"))


WINNOW_MIN_SHARED = 2  # pair evidence: >= 2 shared winnow fingerprints


def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs from winnowing fingerprints: documents
    sharing ≥ WINNOW_MIN_SHARED selected fingerprints
    (text.doc_winnow_fingerprints — guaranteed to catch any exact
    overlap of ≥ w+k-1 words) become candidate pairs with their shared
    count as evidence strength. The third pair-generation strategy in
    the family, complementing MinHash-LSH (probabilistic whole-doc
    similarity) and exact n-gram blocking: winnowing is position-
    robust LOCAL overlap detection, MOSS's plagiarism primitive.

    Shape: the same capped bucket-expand as the LSH family — one
    shuffle on the fingerprint, in-row ordered pair expansion, then a
    map-side-combined count per pair. A fingerprint held by > CAP docs
    is EXCLUDED by design, exactly as MOSS discards over-common
    fingerprints: ubiquity is boilerplate evidence, not match
    evidence (unlike the LSH bands, where the star-pair fallback
    preserves clustering connectivity)."""
    from flinkproj_spark.operators.text import doc_winnow_fingerprints

    return _winnow_pairs(doc_winnow_fingerprints(spark, sf_dir))


def _winnow_pairs(fps: DataFrame) -> DataFrame:
    """Bucket-expand a (doc_id, fp) fingerprint frame into counted
    overlap pairs — the strategy's pair stage, shared between the
    standalone key and pair_strategy_agreement's common-scan path."""
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, BUCKET_CAP))
    )
    pair_arr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


SUB_L = 8  # exact-substring dedup: minimum repeated run, in tokens


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (the sorted-k-gram form of suffix-array
    training-data dedup): flag every token span of SUB_L words whose
    exact text occurs ≥ 2 times anywhere in the corpus — across
    documents OR repeated inside one document — and report, per
    affected doc, how many tokens the union of those spans covers
    (the text an exact-substring pass would remove). Finer-grained
    than paragraph_dedup's fixed non-overlapping spans: sliding
    L-grams catch repeats at any offset.

    Shape: L-grams are fingerprinted in-row (md5 over the joined
    slice) and the text never leaves the scan — only (doc_id, pos,
    16-byte hash) rows move. Two semantic shuffles (r14): the gram
    frequency test is a COUNT OVER the h-partition window on the same
    exchange the old gram⋈frequency merge join needed anyway — the
    grams subtree fed both the groupBy side and the join side with no
    exchange reuse possible (different operators above the two
    exchanges), so the whole scan+tokenize+md5 chain executed TWICE
    (the ngram_novelty_score r13 lesson rolled through); then the
    per-doc interval-union window. The interval-union length is
    computed with one LEAD over positions: a duplicated gram at p
    covers min(L, next_p − p) tokens, the last covers L — integer end
    to end, bit-identical in DuckDB."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = fx.tokenize_ws()
    # Nondeterministic barrier (paragraph_dedup's trick): without it
    # CollapseProject inlines the tokenize into EVERY gram's slice —
    # O(n_grams · n) re-splits per doc.
    staged = docs.filter(F.size(words) >= SUB_L).select(
        "doc_id", words.alias("ws"), F.monotonically_increasing_id().alias("_nc")
    )
    n = F.size("ws")
    grams = staged.select(
        "doc_id",
        n.alias("n_tokens"),
        F.col("ws"),
        F.explode(F.sequence(F.lit(1), n - SUB_L + 1)).alias("p"),
    ).select(
        "doc_id",
        "n_tokens",
        "p",
        F.md5(F.array_join(F.slice("ws", F.col("p"), SUB_L), " ")).alias("h"),
    )
    from pyspark.sql import Window

    dup = (
        grams.withColumn("_cnt", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("_cnt") >= 2)
        .select("doc_id", "n_tokens", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    iv = dup.withColumn("np", F.lead("p").over(w))
    covered = F.when(F.col("np").isNull(), F.lit(SUB_L)).otherwise(
        F.least(F.lit(SUB_L), F.col("np") - F.col("p"))
    )
    return (
        iv.groupBy("doc_id")
        .agg(
            F.min("n_tokens").alias("n_tokens"),
            F.count("*").alias("n_dup_grams"),
            F.sum(covered).alias("dup_tokens"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_dup_grams",
            "dup_tokens",
            "(dup_tokens * 1000000) div n_tokens AS dup_ratio_e6",
        )
    )


def pair_strategy_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-evaluation of the three near-dup pair strategies — MinHash
    LSH, blocked n-gram Jaccard, and winnowing overlap: one row per
    strategy with its pair count and how many of its pairs each other
    strategy also found. The completeness critic for the dedup layer:
    a strategy whose pairs nobody corroborates is either finding
    something unique or broken, and this table says which way to look.

    Shape: ONE shared document scan feeds all three strategies — and
    the persisted base frame is PRE-REDUCED (r13, second pass): the
    fill pass runs the tokenize+shingle-md5 chain once per doc and
    keeps only each strategy's per-doc reduction — the 9 MinHash
    signature minima (in-row affine minima over the hash array), the
    winnow fingerprint set (in-row window minima), and the Jaccard
    block key + word set. Nothing positional (ws, hs — the fat
    token/hash arrays) is cached: r13 measured the fat-base shape at
    x30 paying ~80 s beyond its stage sums (fill 21 s + branches
    ~15 s but operator 115 s) — three concurrent branches re-reading
    corpus-shaped cached arrays, partly from the disk tier, swamp the
    saved recompute. With the pre-reduced base each branch's
    InMemoryTableScan prunes to its own columns (minhash reads 9
    longs/doc): measured x30 115.5 → 27.4 s, a no-cache variant
    (every branch re-deriving from parquet) sat between at 63.5 s.
    The base cache is count-barriered before the pair job so its fill
    happens exactly once (the three pair stages land in ONE job, and
    block-level getOrElseUpdate gives concurrent stages no cross-task
    fill lock). Per-strategy eligibility mirrors the standalone
    filters exactly: the Jaccard branch keeps its own _n2 marker
    (size(ws) >= 2 — bkey can be legitimately NULL for a null lang
    and still form a block, exactly like _blocked_pair_expand), the
    sig/fps columns are null-sentineled by the same size guards the
    standalone paths apply as filters (sigs: size(hs) >= 1; fps:
    size(hs) >= _WINNOW_W), and the when() guards keep the reductions
    ANSI-safe on short docs (sequence(1, n-w+1) is never evaluated
    descending).

    The comparison itself is ONE pass (r13): the three pair streams
    are tagged with a strategy ordinal and unioned, per-pair strategy
    multiplicities come from a single (doc_a, doc_b) groupBy, and all
    nine report numbers fold out of one global aggregate —
    n_pairs_s = Σ c_s and n_shared(a,b) = Σ c_a·[c_b > 0], exactly
    the row-count / left-semi-count semantics of the r5 shape (every
    pair frame is duplicate-free upstream, but the fold is exact even
    under multiplicity). Each pair frame is consumed EXACTLY once, so
    nothing but base needs a persist: the r5 shape persisted all
    three pair frames and referenced each up to 3 times inside the
    one eager-report job, and the lazy fills raced — measured r13 at
    x10: 135.7 s for the operator vs ~50 s stage sum; the one-pass
    fold removes the multi-reference instead of barriering it.

    The 1-row fold collects to the driver (bounded, like every
    eager_report) and the 3-row table is assembled locally — callers
    see the same local-relation contract as fx.eager_report, and the
    base cache lives only for this call (round-6 ADVICE)."""
    from flinkproj_spark.operators.text import _WINNOW_W, positional_shingle_hashes

    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = fx.tokenize_ws()
    # Materialize ws/hs once per row behind a nondeterministic barrier
    # (the doc_winnow_fingerprints trick) so the per-strategy reductions
    # below don't each re-evaluate the tokenize/md5 chain — the barrier
    # column is never read.
    staged = docs.select(
        "doc_id",
        "lang",
        words.alias("ws"),
        positional_shingle_hashes(words).alias("hs"),
        F.monotonically_increasing_id().alias("_nc"),
    )
    n_ws = F.size("ws")
    n_sh = F.size("hs")
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sh - F.lit(_WINNOW_W - 1)),
            lambda i: F.array_min(F.slice(F.col("hs"), i, _WINNOW_W)),
        )
    )
    base = staged.select(
        "doc_id",
        (n_ws >= 2).alias("_n2"),
        F.when(n_ws >= 2, _block_key(F.col("ws"))).alias("bkey"),
        F.when(n_ws >= 2, F.array_distinct("ws")).alias("wset"),
        *[
            F.when(
                n_sh >= 1,
                F.array_min(F.transform("hs", lambda h: minhash_perms(h)[i])),
            ).alias(f"s{i}")
            for i in range(N_HASHES)
        ],
        F.when(n_sh >= _WINNOW_W, fps).alias("fps"),
        F.lit(1).alias("_psa"),
    )
    frames = {
        "minhash_lsh": lsh_candidate_pairs(
            base.filter(F.col("s0").isNotNull()).select(
                "doc_id", *[f"s{i}" for i in range(N_HASHES)]
            )
        ).select("doc_a", "doc_b"),
        "ngram_jaccard": _blocked_pairs_from_keyed(
            base.filter("_n2").select("doc_id", "bkey", "wset"),
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                _pair_jaccard(x, y).alias("jaccard"),
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b"),
        "winnow": _winnow_pairs(
            base.filter(F.col("fps").isNotNull()).select(
                "doc_id", F.explode("fps").alias("fp")
            )
        ).select("doc_a", "doc_b"),
    }
    names = list(frames)
    tagged = None
    for i, k in enumerate(names):
        t = frames[k].select("doc_a", "doc_b", F.lit(i).alias("_s"))
        tagged = t if tagged is None else tagged.unionByName(t)
    per_pair = tagged.groupBy("doc_a", "doc_b").agg(
        *[
            F.sum((F.col("_s") == i).cast("long")).alias(f"c{i}")
            for i in range(len(names))
        ]
    )
    with fx.cache_scope() as scope:
        scope.hold(base)
        fold = per_pair.agg(
            *[F.coalesce(F.sum(f"c{i}"), F.lit(0)).alias(f"n{i}") for i in range(3)],
            *[
                F.coalesce(
                    F.sum(F.col(f"c{i}") * (F.col(f"c{j}") > 0).cast("long")),
                    F.lit(0),
                ).alias(f"s{i}{j}")
                for i in range(3)
                for j in range(3)
                if i < j
            ],
        ).collect()[0]
    rows = [
        (names[i], names[j], fold[f"n{i}"], fold[f"n{j}"], fold[f"s{i}{j}"])
        for i in range(3)
        for j in range(3)
        if i < j
    ]
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("strategy_a", StringType(), False),
            StructField("strategy_b", StringType(), False),
            StructField("n_pairs_a", LongType(), False),
            StructField("n_pairs_b", LongType(), False),
            StructField("n_shared", LongType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable form of dedup_substring: actually REMOVE every
    token covered by a corpus-duplicated SUB_L-gram and emit the
    cleaned document's size and content hash — the transform a
    training pipeline applies, where dedup_substring is the report it
    reads. Docs shorter than SUB_L have no grams and pass through
    whole.

    Coverage without an O(tokens·spans) join: token positions and
    dup-gram start events merge into ONE per-doc ordered stream
    (gram starts sort before the token at the same position), and a
    running max of cover-end (p + SUB_L − 1) over that stream decides
    each token in O(1) — the classic interval-stabbing sweep as a
    single window. Shuffles: the gram frequency test (a count over
    the h-partition window since r14 — one exchange and one pass over
    the gram stream where the old groupBy+merge-join shape executed
    the scan+tokenize+md5 chain twice, see dedup_substring) and the
    per-doc sweep/rollup; the cleaned text is reassembled only at the
    final per-doc aggregate (buffer bounded by the doc itself). md5 of
    the retained tokens makes the result hash-verifiable."""
    from pyspark.sql import Window

    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    words = fx.tokenize_ws()
    staged = docs.filter(F.size(words) >= 1).select(
        "doc_id", words.alias("ws"), F.monotonically_increasing_id().alias("_nc")
    )
    n = F.size("ws")
    grams = staged.filter(n >= SUB_L).select(
        "doc_id",
        F.col("ws"),
        F.explode(F.sequence(F.lit(1), n - SUB_L + 1)).alias("p"),
    ).select(
        "doc_id",
        "p",
        F.md5(F.array_join(F.slice("ws", F.col("p"), SUB_L), " ")).alias("h"),
    )
    dup = (
        grams.withColumn("_cnt", F.count("*").over(Window.partitionBy("h")))
        .filter(F.col("_cnt") >= 2)
        .select(
            "doc_id",
            F.col("p").alias("pos"),
            F.lit(0).alias("kind"),
            (F.col("p") + SUB_L - 1).alias("cover_end"),
            F.lit(None).cast("string").alias("w"),
        )
    )
    tokens = staged.select(
        "doc_id", F.posexplode("ws").alias("pos0", "w")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("int").alias("cover_end"),
        "w",
    )
    stream = dup.unionByName(tokens)
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = stream.withColumn("_cov", F.max("cover_end").over(win))
    tok = swept.filter(F.col("kind") == 1).withColumn(
        "_kept", F.col("_cov").isNull() | (F.col("_cov") < F.col("pos"))
    )
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("_kept").cast("long")).alias("kept_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("_kept"), F.struct("pos", "w"))
                            )
                        ),
                        lambda s: s["w"],
                    ),
                    " ",
                )
            ).alias("cleaned_fp"),
        )
    )


EVAL_MOD = 97  # doc_id % 97 == 0 defines the held-out "benchmark" set


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any word
    3-shingle with the held-out eval set (doc_id % EVAL_MOD == 0 stands
    in for an external benchmark). Output: (doc_id, n_shared,
    contaminated) for every non-eval doc with ≥ 3 words.

    Scale shape: the eval set's distinct shingle hashes are tiny
    relative to the corpus, so they BROADCAST into an inner join
    against the exploded training shingles; the per-doc overlap count
    is a map-side-combined groupBy. The corpus never self-joins and
    never shuffles its text — only (doc_id, matched-hash) survivor rows
    move. Contaminated-doc removal is then an anti join, as in
    pipeline_curate."""
    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    sh = docs.filter(F.size(words) >= fx.SHINGLE_WORDS).select(
        "doc_id", F.explode(fx.shingles(words)).alias("s")
    ).select("doc_id", F.md5("s").alias("h"))
    eval_hashes = sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("h").distinct()
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    overlap = (
        train.join(F.broadcast(eval_hashes), "h")
        .groupBy("doc_id")
        .agg(F.count_distinct("h").alias("n_shared"))
    )
    base = docs.filter((F.size(words) >= 3) & (F.col("doc_id") % EVAL_MOD != 0)).select("doc_id")
    return (
        base.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def eval_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination's reverse view: per EVAL document, how leaked it
    is into the training corpus — distinct training docs sharing ≥ 1
    of its word 3-shingles, distinct shingles of its own that appear
    in training, and total (train doc, shingle) hits. `decontaminate`
    answers "which training docs must go"; this answers "which
    benchmark items are already compromised" — the report an eval
    owner reads before trusting a score, since a leaked item measures
    memorization, not capability.

    Scale shape: same as decontaminate with the join direction's roles
    swapped — the eval side is tiny BY CONSTRUCTION, so its
    (shingle-hash, eval_doc) pairs broadcast into the exploded
    training shingles; counting then aggregates on eval_doc_id (key
    space = eval-set size). The training corpus still never self-joins
    and never shuffles text."""
    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    sh = docs.filter(F.size(words) >= fx.SHINGLE_WORDS).select(
        "doc_id", F.explode(fx.shingles(words)).alias("s")
    ).select("doc_id", F.md5("s").alias("h"))
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), "h")
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = train.join(F.broadcast(eval_sh), "h")
    per_eval = hits.groupBy("eval_doc_id").agg(
        F.count_distinct("doc_id").alias("n_train_docs"),
        F.count_distinct("h").alias("n_shingles_leaked"),
        F.count("*").alias("n_hits"),
    )
    base = docs.filter(
        (F.size(words) >= 3) & (F.col("doc_id") % EVAL_MOD == 0)
    ).select(F.col("doc_id").alias("eval_doc_id"))
    return base.join(per_eval, "eval_doc_id", "left").select(
        "eval_doc_id",
        F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
        F.coalesce("n_shingles_leaked", F.lit(0)).alias("n_shingles_leaked"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_train_docs", F.lit(0)) > 0).cast("int").alias("is_leaked"),
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard: candidate pairs share a blocking key
    (lang + first two words — near-dups share their prefix), then exact
    word-set Jaccard ≥ 0.5. Blocking bounds the pair space the same way
    LSH bucketing does, with the exact measure as the verifier stage.

    Scale shape (mirrors lsh_candidate_pairs): instead of a self-join on
    bkey — where one boilerplate prefix shared by 10⁸ docs makes a
    single merge-join key O(k²) and melts that task — each block is
    grouped, capped at BUCKET_CAP members, and expanded to its ordered
    pairs in-row with the Jaccard computed inline. ONE shuffle of
    (doc_id, bkey, wset) instead of two self-join sides, and the O(k²)
    expansion is hard-bounded: an over-full block is mass-duplicated
    boilerplate, the upstream exact-dedup filter's job, not blocking's."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    return _ngram_jaccard_pairs(
        docs.select("doc_id", "lang", fx.tokenize_ws().alias("ws"))
    )


def _pair_jaccard(x: F.Column, y: F.Column) -> F.Column:
    """Exact word-set Jaccard between two (doc_id, wset) member structs."""
    return F.round(
        F.size(F.array_intersect(x["wset"], y["wset"])).cast("double")
        / F.size(F.array_union(x["wset"], y["wset"])),
        4,
    )


def _blocked_pair_expand(tok: DataFrame, pair_struct) -> DataFrame:
    """THE shared blocking stage for the exact word-set near-dup family
    (n-gram Jaccard, containment): block on lang + first-two-words
    prefix, ONE shuffle of (doc_id, bkey, wset), per-block in-row i<j
    pair expansion hard-capped at BUCKET_CAP members. `pair_struct(x,
    y)` builds the per-pair measure struct from two (doc_id, wset)
    member structs and must lead with doc_a/doc_b — the expanded
    struct's fields become the output columns. One recipe, every
    detector: a change to the block key or cap lands in all consumers
    at once (the lsh_candidate_pairs/zm_zorder_rows pattern)."""
    words = F.col("ws")
    keyed = tok.filter(F.size(words) >= 2).select(
        "doc_id",
        _block_key(words).alias("bkey"),
        F.array_distinct(words).alias("wset"),
    )
    return _blocked_pairs_from_keyed(keyed, pair_struct)


def _block_key(words: F.Column) -> F.Column:
    """lang + first-two-words blocking key. Callers must have
    established size(words) >= 2 (filter or a when() guard)."""
    return F.concat(
        "lang", F.lit("|"), F.element_at(words, 1), F.lit(" "), F.element_at(words, 2)
    )


def _blocked_pairs_from_keyed(keyed: DataFrame, pair_struct) -> DataFrame:
    """Cap + in-row i<j expansion over a pre-built (doc_id, bkey, wset)
    frame — split out so pair_strategy_agreement can feed it from its
    persisted pre-reduced base while standalone keys come through
    _blocked_pair_expand; the cap/expansion recipe stays singular."""
    # array_sort on struct(doc_id, wset) orders by doc_id (first field),
    # so in-row expansion of i<j positions yields doc_a < doc_b.
    blocks = (
        keyed.groupBy("bkey")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "wset"))).alias("members"))
        .filter(F.size("members").between(2, BUCKET_CAP))
    )
    pair_arr = F.flatten(
        F.transform(
            "members",
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + F.lit(2), F.size("members")),
                lambda y: pair_struct(x, y),
            ),
        )
    )
    return blocks.select(F.explode(pair_arr).alias("p")).select("p.*")


def _ngram_jaccard_pairs(tok: DataFrame) -> DataFrame:
    """Blocked Jaccard pair stage over a pre-tokenized (doc_id, lang,
    ws) frame — shared between the standalone key and
    pair_strategy_agreement's common-scan path."""
    return _blocked_pair_expand(
        tok,
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            _pair_jaccard(x, y).alias("jaccard"),
        ),
    ).filter(F.col("jaccard") >= 0.5)


def dedup_pair_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the MinHash-LSH candidate-pair graph: how
    many documents have exactly k near-dup partners. The hub alarm the
    cluster-size histogram can't give: dedup_cluster_sizes reports
    components AFTER closure, where one boilerplate hub and its
    thousand satellites are a single number; the degree distribution
    shows the hub itself (one doc at degree 1000), which is what tells
    an operator to fix the upstream exact-dedup or boilerplate filter
    rather than distrust the clustering.

    Shape: both pair endpoints explode IN-ROW (one subtree — a
    two-branch union would evaluate the whole LSH pipeline twice),
    then two map-side-combined counts: per-doc degree (keys = docs
    with ≥1 pair), then per-degree doc count (keys ≤ max degree,
    bounded by BUCKET_CAP-capped bucket expansion)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    ends = pairs.select(
        F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc")
    )
    deg = ends.groupBy("doc").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


#: (bands, rows_per_band) grid for the banding sensitivity sweep —
#: r·b = N_HASHES throughout: max-recall (every hash its own band),
#: the production config, and max-precision (one 9-row band).
MB_CONFIGS = [(9, 1), (3, 3), (1, 9)]


def minhash_banding_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning curve — the banding analogue of
    quality_threshold_sweep: candidate-pair count, strong-pair count
    (signature-estimated Jaccard ≥ 0.5), and mean estimated Jaccard
    for each (bands, rows-per-band) split of the same N_HASHES
    signature. The S-curve tradeoff made measurable: 9×1 banding
    shows the recall ceiling and its false-positive cost, 1×9 the
    precision floor, and the production 3×3 sits between — the table
    an operator reads before moving BAND_ROWS.

    Shape: ONE signature build (cached for the run of this call —
    three band configs and both sides of every agreement join consume
    it; the sweep table leaves as a local relation; the _mbs marker
    keeps the cached plan operator-unique), then per config the same
    capped bucket-expand as production (lsh_candidate_pairs with
    band_rows overridden) and an O(pairs) agreement join. Integer
    end to end."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    sig = minhash_signatures(docs).withColumn("_mbs", F.lit(1))
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(N_HASHES)
    )
    out = None
    for bands, rws in MB_CONFIGS:
        pairs = lsh_candidate_pairs(sig, band_rows=rws)
        matched = (
            pairs.join(a.hint("merge"), "doc_a")
            .join(b.hint("merge"), "doc_b")
            .select(n_match.alias("nm"))
        )
        row = matched.agg(
            F.count("*").alias("n_pairs"),
            F.coalesce(
                F.sum((F.col("nm") * 2 >= N_HASHES).cast("long")), F.lit(0)
            ).alias("n_strong_pairs"),
            F.coalesce(F.sum("nm"), F.lit(0)).alias("_nm_sum"),
        ).select(
            F.lit(bands).cast("int").alias("bands"),
            F.lit(rws).cast("int").alias("rows_per_band"),
            "n_pairs",
            "n_strong_pairs",
            F.expr(
                f"CASE WHEN n_pairs > 0"
                f" THEN _nm_sum * 1000000 div ({N_HASHES} * n_pairs)"
                f" ELSE 0 END"
            ).alias("mean_est_jaccard_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    with fx.cache_scope() as scope:
        scope.hold(sig)
        return fx.eager_report(spark, out)


def pair_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the LSH candidate-pair graph: edge count,
    triangle count, wedge count (paths of length 2), and the global
    clustering coefficient (3·triangles/wedges, ppm). Near-dup
    evidence should be transitive — if A~B and B~C, A~C should usually
    hold — so LOW transitivity means the banding is minting spurious
    pairs (hash collisions, boilerplate hubs) and dedup_cluster's
    components will over-merge. The one-number health check for the
    pair layer, complementing the per-doc view (dedup_pair_degree_hist)
    and the cross-strategy view (pair_strategy_agreement).

    Shape: edges are canonically ordered (doc_a < doc_b), so each
    triangle a<b<c is found exactly once by the standard two-join
    enumeration: (a,b)⋈(b,c) on the shared middle vertex, then a semi
    join confirming (a,c). Both joins are equi-joins on vertex ids —
    at 100 TB this is the textbook distributed triangle count (join
    cost ~ Σ deg², the same wedge bound the output reports). The edge
    frame feeds three consumers, so it is cached for the run of this
    call and the one-row report leaves as a local relation (the _tri
    marker keeps its cached plan unique)."""
    edges = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("_tri", F.lit(1))
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    wedges2 = e1.join(e2, "b").select("a", "b", "c")
    closing = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = wedges2.join(closing, ["a", "c"], "left_semi").agg(
        F.count("*").alias("n_triangles")
    )
    deg = edges.select(
        F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc")
    ).groupBy("doc").agg(F.count("*").alias("d"))
    wedge_total = deg.agg(
        F.coalesce(F.sum(F.expr("d * (d - 1) div 2")), F.lit(0)).alias("n_wedges")
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    report = (
        n_edges.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedge_total))
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN 3 * n_triangles * 1000000 div n_wedges"
                " ELSE 0 END"
            ).alias("transitivity_ppm"),
        )
    )
    with fx.cache_scope() as scope:
        scope.hold(edges)
        return fx.eager_report(spark, report)


def _winnow_fp_oracle() -> str:
    """text.py's doc_winnow_fingerprints oracle, composed verbatim so
    the pair oracle below can never drift from the fingerprint
    definition (ADVICE r4). Lazy import: text does not import dedup,
    but keeping it function-local avoids ever creating the cycle."""
    from flinkproj_spark.operators import text

    return text.ORACLE["doc_winnow_fingerprints"]


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_keyed_latest": dedup_keyed_latest,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_cluster": dedup_cluster,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_substring": dedup_substring,
    "winnow_overlap_pairs": winnow_overlap_pairs,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_pair_degree_hist": dedup_pair_degree_hist,
    "pair_graph_triangles": pair_graph_triangles,
    "pair_strategy_agreement": pair_strategy_agreement,
    "substring_dedup_clean": substring_dedup_clean,
    "decontaminate": decontaminate,
    "eval_leak_report": eval_leak_report,
}

_SHINGLES_SQL = f"""
    list_distinct(list_transform(
      range(1, GREATEST(len({_WORDS_SQL}) - 2, 1) + 1),
      i -> array_to_string(({_WORDS_SQL})[i:i+2], ' ')))
"""

_N_BANDS = N_HASHES // BAND_ROWS

_MINHASH_PAIRS_SQL = f"""
        WITH x AS (
          SELECT doc_id,
                 ('0x' || substr(md5(unnest({_SHINGLES_SQL})), 1, 8))::BIGINT AS x
          FROM documents WHERE len({_WORDS_SQL}) >= 3),
        sig AS (
          SELECT doc_id,
                 {", ".join(f"MIN(({a} * x + {b}) % {MINHASH_P}) AS s{i}" for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))}
          FROM x GROUP BY doc_id),
        bands AS (
          SELECT doc_id,
                 unnest([{", ".join(
                     "'" + str(bnd) + "|' || " + " || '|' || ".join(
                         f"CAST(s{bnd * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS))
                     for bnd in range(_N_BANDS))}]) AS band_key
          FROM sig),
        bsz AS (
          SELECT band_key, COUNT(DISTINCT doc_id) AS k, MIN(doc_id) AS rep
          FROM bands GROUP BY band_key)
        -- small buckets: full pair expansion; over-cap buckets: STAR
        -- pairs against the minimum doc_id (mirrors lsh_candidate_pairs)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        JOIN bsz ON a.band_key = bsz.band_key
          AND bsz.k BETWEEN 2 AND {BUCKET_CAP}
        UNION
        SELECT DISTINCT bsz.rep AS doc_a, a.doc_id AS doc_b
        FROM bands a JOIN bsz ON a.band_key = bsz.band_key
        WHERE bsz.k > {BUCKET_CAP} AND a.doc_id <> bsz.rep
"""

ORACLE = {
    "dedup_exact": """
        SELECT MIN(doc_id) AS doc_id, md5(text) AS content_fp, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_keyed_latest": """
        SELECT user_id, event_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec
        FROM (SELECT user_id, event_id, ts,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
    "dedup_minhash_lsh": _MINHASH_PAIRS_SQL,
    "dedup_pair_degree_hist": f"""
        WITH p AS ({_MINHASH_PAIRS_SQL}),
        ends AS (SELECT unnest([doc_a, doc_b]) AS doc FROM p),
        deg AS (SELECT doc, COUNT(*) AS degree FROM ends GROUP BY 1)
        SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY 1
    """,
    "pair_graph_triangles": f"""
        WITH e AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
        tri AS (
          SELECT COUNT(*) AS n_triangles
          FROM e e1 JOIN e e2 ON e2.doc_a = e1.doc_b
          WHERE EXISTS (SELECT 1 FROM e e3
                        WHERE e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)),
        deg AS (
          SELECT doc, COUNT(*) AS d FROM (
            SELECT unnest([doc_a, doc_b]) AS doc FROM e) GROUP BY 1),
        wt AS (SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT)
                 AS n_wedges FROM deg)
        SELECT (SELECT COUNT(*) FROM e) AS n_edges,
               tri.n_triangles, wt.n_wedges,
               CAST(CASE WHEN wt.n_wedges > 0
                         THEN 3 * tri.n_triangles * 1000000 // wt.n_wedges
                         ELSE 0 END AS BIGINT) AS transitivity_ppm
        FROM tri CROSS JOIN wt
    """,
    "dedup_cluster_sizes": f"""
        WITH RECURSIVE sym AS (
          SELECT doc_a AS src, doc_b AS dst FROM ({_MINHASH_PAIRS_SQL})
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM ({_MINHASH_PAIRS_SQL})),
        reach AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        labels AS (
          SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
          FROM reach GROUP BY src),
        sizes AS (
          SELECT cluster_id, COUNT(*) AS cluster_size
          FROM labels GROUP BY 1)
        SELECT cluster_size, COUNT(*) AS n_clusters
        FROM sizes GROUP BY 1
    """,
    "dedup_cluster": f"""
        WITH RECURSIVE sym AS (
          SELECT doc_a AS src, doc_b AS dst FROM ({_MINHASH_PAIRS_SQL})
          UNION
          SELECT doc_b AS src, doc_a AS dst FROM ({_MINHASH_PAIRS_SQL})),
        reach AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    """,
    "dedup_simhash": f"""
        WITH h AS (
          SELECT doc_id,
                 list_transform({_WORDS_SQL},
                   w -> ('0x' || substr(md5(w), 1, 8))::BIGINT) AS hashes
          FROM documents WHERE len({_WORDS_SQL}) >= 1),
        wgt AS (
          SELECT doc_id,
                 list_transform(range(0, 32),
                   j -> list_sum(list_transform(hashes,
                        h -> (CAST(FLOOR(h / pow(2.0, j)) AS BIGINT) % 2) * 2 - 1))) AS weights
          FROM h)
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 32),
                 j -> CASE WHEN weights[j + 1] >= 0
                           THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
        FROM wgt
    """,
    "dedup_substring": f"""
        WITH d AS (
          SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
          WHERE len({_WORDS_SQL}) >= {SUB_L}),
        pos AS (
          SELECT doc_id, ws, len(ws) AS n_tokens,
                 unnest(range(1, len(ws) - {SUB_L} + 2)) AS p
          FROM d),
        gr AS (
          SELECT doc_id, n_tokens, p,
                 md5(array_to_string(ws[p : p + {SUB_L} - 1], ' ')) AS h
          FROM pos),
        freq AS (
          SELECT h FROM gr GROUP BY h HAVING COUNT(*) >= 2),
        dup AS (
          SELECT doc_id, n_tokens, p FROM gr JOIN freq USING (h)),
        iv AS (
          SELECT doc_id, n_tokens, p,
                 LEAD(p) OVER (PARTITION BY doc_id ORDER BY p) AS np
          FROM dup)
        SELECT doc_id,
               CAST(MIN(n_tokens) AS INT) AS n_tokens,
               COUNT(*) AS n_dup_grams,
               CAST(SUM(CASE WHEN np IS NULL THEN {SUB_L}
                             ELSE LEAST({SUB_L}, np - p) END) AS BIGINT) AS dup_tokens,
               CAST(SUM(CASE WHEN np IS NULL THEN {SUB_L}
                             ELSE LEAST({SUB_L}, np - p) END) * 1000000
                    // MIN(n_tokens) AS BIGINT) AS dup_ratio_e6
        FROM iv GROUP BY doc_id
    """,
    "winnow_overlap_pairs": f"""
        -- fingerprints come verbatim from text.py's
        -- doc_winnow_fingerprints oracle (composed, not re-inlined, so
        -- a change to _WINNOW_W or the shingle width there can never
        -- desynchronize this oracle from the operator)
        WITH fp AS (
          SELECT doc_id, fp FROM ({_winnow_fp_oracle()})),
        ok AS (
          SELECT fp FROM fp GROUP BY fp
          HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {BUCKET_CAP})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        JOIN ok ON a.fp = ok.fp
        GROUP BY 1, 2
        HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
    "substring_dedup_clean": f"""
        WITH d AS (
          SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
          WHERE len({_WORDS_SQL}) >= 1),
        pos AS (
          SELECT doc_id, ws,
                 unnest(range(1, len(ws) - {SUB_L} + 2)) AS p
          FROM d WHERE len(ws) >= {SUB_L}),
        gr AS (
          SELECT doc_id, p,
                 md5(array_to_string(ws[p : p + {SUB_L} - 1], ' ')) AS h
          FROM pos),
        freq AS (SELECT h FROM gr GROUP BY h HAVING COUNT(*) >= 2),
        dupp AS (SELECT gr.doc_id, gr.p FROM gr JOIN freq USING (h)),
        tw AS (
          SELECT doc_id, tpos, ws[tpos] AS w FROM (
            SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS tpos
            FROM d)),
        cov AS (
          SELECT t.doc_id, t.tpos, t.w,
                 EXISTS (SELECT 1 FROM dupp dp
                         WHERE dp.doc_id = t.doc_id
                           AND dp.p <= t.tpos
                           AND t.tpos <= dp.p + {SUB_L} - 1) AS covered
          FROM tw t)
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN NOT covered THEN 1 ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               md5(COALESCE(string_agg(CASE WHEN NOT covered THEN w END,
                                       ' ' ORDER BY tpos), '')) AS cleaned_fp
        FROM cov GROUP BY doc_id
    """,
    "decontaminate": f"""
        WITH sh AS (
          SELECT doc_id, md5(unnest({_SHINGLES_SQL})) AS h
          FROM documents WHERE len({_WORDS_SQL}) >= 3),
        ev AS (
          SELECT DISTINCT h FROM sh WHERE doc_id % {EVAL_MOD} = 0),
        train AS (
          SELECT doc_id, h FROM sh WHERE doc_id % {EVAL_MOD} <> 0),
        o AS (
          SELECT t.doc_id, COUNT(DISTINCT t.h) AS n_shared
          FROM train t JOIN ev ON t.h = ev.h
          GROUP BY t.doc_id)
        SELECT b.doc_id,
               COALESCE(o.n_shared, 0) AS n_shared,
               COALESCE(o.n_shared, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM documents
              WHERE len({_WORDS_SQL}) >= 3 AND doc_id % {EVAL_MOD} <> 0) b
        LEFT JOIN o ON b.doc_id = o.doc_id
    """,
    "eval_leak_report": f"""
        WITH sh AS (
          SELECT doc_id, md5(unnest({_SHINGLES_SQL})) AS h
          FROM documents WHERE len({_WORDS_SQL}) >= 3),
        ev AS (
          SELECT DISTINCT doc_id AS eval_doc_id, h FROM sh
          WHERE doc_id % {EVAL_MOD} = 0),
        train AS (
          SELECT doc_id, h FROM sh WHERE doc_id % {EVAL_MOD} <> 0),
        hits AS (
          SELECT ev.eval_doc_id, t.doc_id, t.h
          FROM train t JOIN ev ON t.h = ev.h),
        per_eval AS (
          SELECT eval_doc_id,
                 COUNT(DISTINCT doc_id) AS n_train_docs,
                 COUNT(DISTINCT h) AS n_shingles_leaked,
                 COUNT(*) AS n_hits
          FROM hits GROUP BY 1)
        SELECT b.eval_doc_id,
               COALESCE(p.n_train_docs, 0) AS n_train_docs,
               COALESCE(p.n_shingles_leaked, 0) AS n_shingles_leaked,
               COALESCE(p.n_hits, 0) AS n_hits,
               CAST(COALESCE(p.n_train_docs, 0) > 0 AS INT) AS is_leaked
        FROM (SELECT doc_id AS eval_doc_id FROM documents
              WHERE len({_WORDS_SQL}) >= 3 AND doc_id % {EVAL_MOD} = 0) b
        LEFT JOIN per_eval p ON b.eval_doc_id = p.eval_doc_id
    """,
    "dedup_ngram_jaccard": f"""
        WITH k AS (
          SELECT doc_id,
                 lang || '|' || ({_WORDS_SQL})[1] || ' ' || ({_WORDS_SQL})[2] AS bkey,
                 list_distinct({_WORDS_SQL}) AS wset
          FROM documents WHERE len({_WORDS_SQL}) >= 2),
        ok AS (
          SELECT bkey FROM k GROUP BY bkey
          HAVING COUNT(*) BETWEEN 2 AND {BUCKET_CAP})
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 ROUND(CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE) /
                       len(list_distinct(list_concat(a.wset, b.wset))), 4) AS jaccard
          FROM k a JOIN k b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
          JOIN ok ON a.bkey = ok.bkey)
        WHERE jaccard >= 0.5
    """,
}


def _agreement_oracle() -> str:
    combos = [
        ("minhash_lsh", "lshp", "ngram_jaccard", "ngp"),
        ("minhash_lsh", "lshp", "winnow", "wnp"),
        ("ngram_jaccard", "ngp", "winnow", "wnp"),
    ]
    selects = []
    for name_a, cte_a, name_b, cte_b in combos:
        selects.append(f"""
        SELECT '{name_a}' AS strategy_a, '{name_b}' AS strategy_b,
               (SELECT COUNT(*) FROM {cte_a}) AS n_pairs_a,
               (SELECT COUNT(*) FROM {cte_b}) AS n_pairs_b,
               (SELECT COUNT(*) FROM {cte_a} x
                WHERE EXISTS (SELECT 1 FROM {cte_b} y
                              WHERE y.doc_a = x.doc_a AND y.doc_b = x.doc_b))
                 AS n_shared""")
    return f"""
        WITH lshp AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
        ngp AS (SELECT doc_a, doc_b FROM ({ORACLE["dedup_ngram_jaccard"]})),
        wnp AS (SELECT doc_a, doc_b FROM ({ORACLE["winnow_overlap_pairs"]}))
        {" UNION ALL ".join(selects)}
    """


ORACLE["pair_strategy_agreement"] = _agreement_oracle()


def _banding_sensitivity_oracle() -> str:
    """Generated DuckDB twin of minhash_banding_sensitivity: one
    shared shingle+signature build, then per MB_CONFIGS entry the same
    capped bucket-expand (full pairs under BUCKET_CAP, star pairs
    above) and signature-agreement aggregate. Literals all derive from
    the module constants, so the oracle tracks the operator."""
    sig_cols = ", ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    ctes = [
        f"""x AS (
          SELECT doc_id,
                 ('0x' || substr(md5(unnest({_SHINGLES_SQL})), 1, 8))::BIGINT AS x
          FROM documents WHERE len({_WORDS_SQL}) >= 3)""",
        f"sig AS (SELECT doc_id, {sig_cols} FROM x GROUP BY doc_id)",
    ]
    selects = []
    nm = " + ".join(
        f"CAST(sa.s{i} = sb.s{i} AS BIGINT)" for i in range(N_HASHES)
    )
    for bands, rws in MB_CONFIGS:
        n_b = N_HASHES // rws
        band_list = ", ".join(
            "'" + str(bnd) + "|' || "
            + " || '|' || ".join(
                f"CAST(s{bnd * rws + r} AS VARCHAR)" for r in range(rws)
            )
            for bnd in range(n_b)
        )
        tag = f"{bands}x{rws}"
        ctes.append(
            f"bands_{tag} AS (SELECT doc_id, unnest([{band_list}]) AS band_key FROM sig)"
        )
        ctes.append(
            f"""bsz_{tag} AS (
              SELECT band_key, COUNT(DISTINCT doc_id) AS k, MIN(doc_id) AS rep
              FROM bands_{tag} GROUP BY band_key)"""
        )
        ctes.append(
            f"""pairs_{tag} AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands_{tag} a JOIN bands_{tag} b
                ON a.band_key = b.band_key AND a.doc_id < b.doc_id
              JOIN bsz_{tag} ON a.band_key = bsz_{tag}.band_key
                AND bsz_{tag}.k BETWEEN 2 AND {BUCKET_CAP}
              UNION
              SELECT DISTINCT bsz_{tag}.rep AS doc_a, a.doc_id AS doc_b
              FROM bands_{tag} a JOIN bsz_{tag} ON a.band_key = bsz_{tag}.band_key
              WHERE bsz_{tag}.k > {BUCKET_CAP} AND a.doc_id <> bsz_{tag}.rep)"""
        )
        ctes.append(
            f"""m_{tag} AS (
              SELECT ({nm}) AS nm
              FROM pairs_{tag} p
              JOIN sig sa ON sa.doc_id = p.doc_a
              JOIN sig sb ON sb.doc_id = p.doc_b)"""
        )
        selects.append(
            f"""SELECT CAST({bands} AS INT) AS bands,
                   CAST({rws} AS INT) AS rows_per_band,
                   COUNT(*) AS n_pairs,
                   CAST(COALESCE(SUM(CASE WHEN nm * 2 >= {N_HASHES}
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_strong_pairs,
                   CAST(CASE WHEN COUNT(*) > 0
                             THEN COALESCE(SUM(nm), 0) * 1000000
                                  // ({N_HASHES} * COUNT(*))
                             ELSE 0 END AS BIGINT) AS mean_est_jaccard_ppm
            FROM m_{tag}"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


QUERIES["minhash_banding_sensitivity"] = minhash_banding_sensitivity
ORACLE["minhash_banding_sensitivity"] = _banding_sensitivity_oracle()


def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup observability: for every source, how many docs
    the exact stage would remove (non-minimal doc of a content group)
    and how many the MinHash-LSH stage flags as near-dup candidates
    (condemned = larger id of a candidate pair) — the table an ingest
    owner reads to see WHICH feed is flooding the corpus with copies,
    before deciding what to re-crawl or down-weight. Rates in ppm.

    Shape: the exact side is one md5 groupBy + an equi-join of
    (fp, winner) back onto (doc_id, source, fp) rows — text never
    moves after the in-row hash; the near side reuses the banded LSH
    pair list (dedup_minhash_lsh's plan — Σ band-bucket², never
    corpus²) collapsed to a distinct condemned-id set, which joins on
    doc_id. Final rollup is one map-side-combined groupBy(source) —
    sources × 4 longs out. Integer ppm via `div`."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    winners = docs.groupBy("fp").agg(F.min("doc_id").alias("wid"))
    condemned = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_nr", F.lit(1))
    )
    flagged = (
        docs.join(winners, "fp")
        .join(condemned, "doc_id", "left")
        .select(
            "source",
            (F.col("doc_id") > F.col("wid")).cast("long").alias("ex"),
            F.coalesce("_nr", F.lit(0)).cast("long").alias("nr"),
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ex").alias("n_exact_dup"),
            F.sum("nr").alias("n_near_flagged"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_exact_dup",
            "n_near_flagged",
            "n_exact_dup * 1000000 div n_docs AS exact_ppm",
            "n_near_flagged * 1000000 div n_docs AS near_ppm",
        )
    )


QUERIES["dedup_impact_report"] = dedup_impact_report
ORACLE["dedup_impact_report"] = f"""
    WITH d AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
    w AS (SELECT fp, MIN(doc_id) AS wid FROM d GROUP BY 1),
    p AS ({_MINHASH_PAIRS_SQL}),
    c AS (SELECT DISTINCT doc_b AS doc_id FROM p),
    f AS (
      SELECT d.source,
             CASE WHEN d.doc_id > w.wid THEN 1 ELSE 0 END AS ex,
             CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS nr
      FROM d JOIN w USING (fp) LEFT JOIN c ON d.doc_id = c.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ex) AS BIGINT) AS n_exact_dup,
           CAST(SUM(nr) AS BIGINT) AS n_near_flagged,
           CAST(SUM(ex) * 1000000 // COUNT(*) AS BIGINT) AS exact_ppm,
           CAST(SUM(nr) * 1000000 // COUNT(*) AS BIGINT) AS near_ppm
    FROM f GROUP BY 1
"""


# --- Edit-distance near-dup: character-level fidelity -----------------
#
# The one dedup modality the registry lacked: token-set strategies
# (minhash/jaccard/simhash) are blind to small character-level edits
# inside tokens, and winnowing fingerprints whole k-gram windows;
# Levenshtein measures the actual edit script. Reference parity: the
# reference engine has no fuzzy dedup at all (its dedup surface is the
# keyed-latest semantics in its window jobs) — this family is part of
# the training-pipeline extension surface.

_EDIT_CHUNK = 32  # aligned candidate-chunk width (chars)
_EDIT_NCHUNKS = 3  # chunks drawn from the first 96 chars
_EDIT_DUP_PERMILLE = 100  # is_dup threshold: lev <= 10% of longer doc


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed Levenshtein near-dup: candidate pairs share an ALIGNED
    32-char chunk among the first 3 chunks of the text (a deliberate,
    documented blocking rule — cheap, positional, and precise on
    near-identical docs whose edits are local); each candidate pair is
    then verified with an exact character-level Levenshtein distance
    and scored as dist_permille = lev*1000 div max(len). is_dup
    flags pairs within 10% relative edit distance.

    Shape: banding join on (chunk_idx, 32-char chunk) — shuffle rows
    are (doc_id, 32 chars), never full texts and never all-pairs; the
    distinct candidate list (tiny vs corpus²) joins back to the corpus
    twice to fetch the two texts, and the O(len²) Levenshtein runs
    JVM-side (codegen'd StringUtils DP) only on candidates. At 100 TB
    the verify stage would pass a threshold to levenshtein(l, r, k)
    for the banded early-exit DP; kept unbounded here because the
    report column IS the distance."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.substring("text", 1 + i * _EDIT_CHUNK, _EDIT_CHUNK)
                    for i in range(_EDIT_NCHUNKS)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    ).filter(F.length("chunk") == _EDIT_CHUNK)
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    pairs = cand.join(
        docs.select(
            F.col("doc_id").alias("id_a"),
            F.col("text").alias("text_a"),
            F.col("n_chars").alias("len_a"),
        ),
        "id_a",
    ).join(
        docs.select(
            F.col("doc_id").alias("id_b"),
            F.col("text").alias("text_b"),
            F.col("n_chars").alias("len_b"),
        ),
        "id_b",
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.levenshtein("text_a", "text_b").alias("lev"),
            F.greatest("len_a", "len_b").alias("len_max"),
        )
        .withColumn("dist_permille", F.expr("lev * 1000 div len_max"))
        .withColumn(
            "is_dup",
            (F.col("dist_permille") <= _EDIT_DUP_PERMILLE).cast("int"),
        )
    )


QUERIES["dedup_edit_distance"] = dedup_edit_distance
ORACLE["dedup_edit_distance"] = f"""
    WITH ch AS (
      SELECT doc_id, i AS chunk_idx,
             substr(text, 1 + i*{_EDIT_CHUNK}, {_EDIT_CHUNK}) AS chunk
      FROM documents, UNNEST([0,1,2]) AS t(i)
      WHERE length(substr(text, 1 + i*{_EDIT_CHUNK}, {_EDIT_CHUNK}))
            = {_EDIT_CHUNK}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ch a JOIN ch b
        ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
       AND a.doc_id < b.doc_id),
    v AS (
      SELECT c.id_a, c.id_b,
             CAST(levenshtein(a.text, b.text) AS INT) AS lev,
             CAST(greatest(a.n_chars, b.n_chars) AS BIGINT) AS len_max
      FROM cand c
      JOIN documents a ON a.doc_id = c.id_a
      JOIN documents b ON b.doc_id = c.id_b)
    SELECT id_a, id_b, lev, len_max,
           CAST(lev * 1000 // len_max AS BIGINT) AS dist_permille,
           CAST(lev * 1000 // len_max <= {_EDIT_DUP_PERMILLE} AS INT)
             AS is_dup
    FROM v
"""


# --- Cross-source Jaccard matrix: mergeable sketch vs exact -----------


def source_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair shingle overlap, estimated from per-source MinHash
    sketches AND verified exactly — the corpus-level provenance
    question ("which sources are republishing each other?") plus a
    live accuracy monitor for the sketch parameters the whole dedup
    family relies on. One row per source pair: signature agreement
    (of N_HASHES), its Jaccard estimate, the exact intersection /
    union / Jaccard over distinct shingle sets, and the estimate's
    absolute error, all exact integer ppm.

    Shape: a per-source minhash is the min over the source's WHOLE
    shingle set — min is associative, so the sketch is mergeable and
    the groupBy(source) combines map-side (20 rows out regardless of
    corpus size; at 100 TB this is the cheap always-on path). The
    exact side joins distinct (source, shingle-hash) rows on the hash
    — shingle-vocabulary-sized, the expensive audit you run sampled
    in production; both reduce to the sources² matrix (tiny by
    construction). The pair frame is a broadcast non-equi self-join
    of the 20-row sketch table."""
    # NOT fan_out: the shingle frame is consumed twice (sketch agg +
    # exact self-join), so an up-front full-table exchange runs the
    # scan redistribution before BOTH consumers and measured ~40%
    # slower at sf0.1 (5.4 s vs 3.7 s warm) than letting the distinct
    # exchange parallelize the downstream work.
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(docs, "source").distinct()
    sigs = sh.groupBy("source").agg(F.count("*").alias("n_shingles"), *minhash_mins())
    a = sigs.select(
        F.col("source").alias("src_a"),
        F.col("n_shingles").alias("na"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    b = sigs.select(
        F.col("source").alias("src_b"),
        F.col("n_shingles").alias("nb"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    nm = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long") for i in range(N_HASHES)
    )
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b")).select(
        "src_a", "src_b", "na", "nb", nm.alias("n_sig_match")
    )
    inter = (
        sh.alias("l")
        .join(
            sh.alias("r"),
            (F.col("l.x") == F.col("r.x"))
            & (F.col("l.source") < F.col("r.source")),
        )
        .groupBy(
            F.col("l.source").alias("src_a"), F.col("r.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        pairs.join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn("n_union", F.expr("na + nb - n_inter"))
        .withColumn("est_ppm", F.expr(f"n_sig_match * 1000000 div {N_HASHES}"))
        .withColumn("exact_ppm", F.expr("n_inter * 1000000 div n_union"))
        .withColumn("err_ppm", F.expr("abs(est_ppm - exact_ppm)"))
    )
    return out.select(
        "src_a", "src_b", "n_sig_match", "est_ppm",
        "n_inter", "n_union", "exact_ppm", "err_ppm",
    )


QUERIES["source_jaccard_matrix"] = source_jaccard_matrix
ORACLE["source_jaccard_matrix"] = f"""
    WITH sh AS (
      SELECT DISTINCT source,
             ('0x' || substr(md5(unnest({_SHINGLES_SQL})), 1, 8))::BIGINT AS x
      FROM documents WHERE len({_WORDS_SQL}) >= 3),
    sigs AS (
      SELECT source, COUNT(*) AS n_shingles,
             {", ".join(f"MIN(({a} * x + {b}) % {MINHASH_P}) AS s{i}" for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))}
      FROM sh GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.n_shingles AS na, b.n_shingles AS nb,
             ({" + ".join(f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))}) AS n_sig_match
      FROM sigs a JOIN sigs b ON a.source < b.source),
    inter AS (
      SELECT l.source AS src_a, r.source AS src_b, COUNT(*) AS n_inter
      FROM sh l JOIN sh r ON l.x = r.x AND l.source < r.source
      GROUP BY 1, 2)
    SELECT src_a, src_b,
           CAST(n_sig_match AS BIGINT) AS n_sig_match,
           CAST(n_sig_match AS BIGINT) * 1000000 // {N_HASHES} AS est_ppm,
           CAST(COALESCE(n_inter, 0) AS BIGINT) AS n_inter,
           CAST(na + nb - COALESCE(n_inter, 0) AS BIGINT) AS n_union,
           CAST(COALESCE(n_inter, 0) AS BIGINT) * 1000000
             // CAST(na + nb - COALESCE(n_inter, 0) AS BIGINT) AS exact_ppm,
           abs(CAST(n_sig_match AS BIGINT) * 1000000 // {N_HASHES}
               - CAST(COALESCE(n_inter, 0) AS BIGINT) * 1000000
                 // CAST(na + nb - COALESCE(n_inter, 0) AS BIGINT)) AS err_ppm
    FROM pairs LEFT JOIN inter USING (src_a, src_b)
"""


# --- Train/val/test split-leakage matrix ------------------------------


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination matrix: how many near-dup (MinHash-LSH) and
    exact-dup document pairs STRADDLE the deterministic 80/10/10
    train/val/test split — the audit every eval pipeline needs,
    because a hash split scatters duplicate content across splits
    (deduplicating per-split hides it; only the pairwise view shows a
    test doc whose near-twin sits in train). One row per unordered
    split pair; off-diagonal rows ARE the leaks, diagonal rows are the
    in-split dup mass dedup will handle.

    Shape: the split is a PURE function of doc_id (same md5 coin as
    sampling.stratified_split), so both endpoints' splits compute
    in-row on the candidate-pair frame — zero extra joins or shuffles
    beyond the pair generators themselves: the shared LSH pipeline
    (narrow (doc_id, 9 longs) shuffles) and the exact-dup self-join on
    the 16-byte content fingerprint. Both matrices reduce to ≤ 6 rows
    and full-outer-merge trivially."""
    from flinkproj_spark.operators.sampling import (
        _SPLIT_SALT,
        _TRAIN_CEIL,
        _VAL_CEIL,
    )

    docs = fan_out(
        spark, sf_dir, "documents", load_table(spark, sf_dir, "documents")
    )

    def split_of(col):
        h = F.substring(
            F.md5(F.concat(col.cast("string"), F.lit(_SPLIT_SALT))), 1, 2
        )
        return (
            F.when(h < _TRAIN_CEIL, "train")
            .when(h < _VAL_CEIL, "val")
            .otherwise("test")
        )

    near = lsh_candidate_pairs(minhash_signatures(docs)).select(
        split_of(F.col("doc_a")).alias("sa"),
        split_of(F.col("doc_b")).alias("sb"),
    )
    fp = docs.select("doc_id", F.md5("text").alias("h"))
    exact = (
        fp.alias("l")
        .join(
            fp.alias("r"),
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            split_of(F.col("l.doc_id")).alias("sa"),
            split_of(F.col("r.doc_id")).alias("sb"),
        )
    )

    def matrix(pairs, name):
        return (
            pairs.select(
                F.least("sa", "sb").alias("split_a"),
                F.greatest("sa", "sb").alias("split_b"),
            )
            .groupBy("split_a", "split_b")
            .agg(F.count("*").alias(name))
        )

    out = matrix(near, "n_near_pairs").join(
        matrix(exact, "n_exact_pairs"), ["split_a", "split_b"], "full"
    )
    return (
        out.withColumn("n_near_pairs", F.coalesce("n_near_pairs", F.lit(0)))
        .withColumn("n_exact_pairs", F.coalesce("n_exact_pairs", F.lit(0)))
        .withColumn(
            "is_leak", (F.col("split_a") != F.col("split_b")).cast("int")
        )
    )


QUERIES["split_leakage_report"] = split_leakage_report
_SPLIT_CASE_SQL = """CASE WHEN substring(md5(CAST({c} AS VARCHAR) || '{salt}'), 1, 2)
                       < '{tc}' THEN 'train'
                  WHEN substring(md5(CAST({c} AS VARCHAR) || '{salt}'), 1, 2)
                       < '{vc}' THEN 'val'
                  ELSE 'test' END"""
ORACLE["split_leakage_report"] = f"""
    WITH near AS (
      SELECT {_SPLIT_CASE_SQL.format(c='doc_a', salt='split0', tc='cc', vc='e6')} AS sa,
             {_SPLIT_CASE_SQL.format(c='doc_b', salt='split0', tc='cc', vc='e6')} AS sb
      FROM ({_MINHASH_PAIRS_SQL})),
    fp AS (SELECT doc_id, md5(text) AS h FROM documents),
    exact AS (
      SELECT {_SPLIT_CASE_SQL.format(c='l.doc_id', salt='split0', tc='cc', vc='e6')} AS sa,
             {_SPLIT_CASE_SQL.format(c='r.doc_id', salt='split0', tc='cc', vc='e6')} AS sb
      FROM fp l JOIN fp r ON l.h = r.h AND l.doc_id < r.doc_id),
    nm AS (
      SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
             COUNT(*) AS n_near_pairs
      FROM near GROUP BY 1, 2),
    em AS (
      SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
             COUNT(*) AS n_exact_pairs
      FROM exact GROUP BY 1, 2)
    SELECT split_a, split_b,
           CAST(COALESCE(n_near_pairs, 0) AS BIGINT) AS n_near_pairs,
           CAST(COALESCE(n_exact_pairs, 0) AS BIGINT) AS n_exact_pairs,
           CAST(split_a <> split_b AS INT) AS is_leak
    FROM nm FULL JOIN em USING (split_a, split_b)
"""


# --- Link prediction over the near-dup graph --------------------------


def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the thresholded n-gram
    Jaccard graph: for every NON-edge (a, c) sharing at least one
    neighbor, the Jaccard score of their neighborhoods — the "these
    two docs are probably dups the threshold missed" ranking. The
    edge set is dedup_ngram_jaccard's (exact Jaccard ≥ 0.5), whose
    hard threshold breaks transitivity and leaves genuine open
    wedges: a~b and b~c at 0.55 with a~c at 0.45 is precisely the
    chain a transitive-closure merge will fuse, surfaced here with a
    score instead of silently. (The LSH candidate graph is the wrong
    substrate — its banding makes components cliques, zero open
    wedges on this corpus.) Completes the graph-audit family
    (degree hist → triangles → prediction).

    Shape: wedge enumeration is the bucketed pattern — symmetrize
    edges, self-join on the SHARED MIDPOINT (one hash exchange on the
    midpoint; cost Σ deg², the wedge count the triangle audit already
    reports), exclude existing edges with a left-anti join, and
    re-attach the two degree counts. Neighborhood union is
    |N(a)|+|N(c)|−common (a∉N(c) by the anti-join), so no set
    materialization — everything stays integer counts.

    Round-13 lineage fix (guide §2.4, the pagerank/LPA lesson): the
    edge frame is PERSISTED — it feeds the symmetrized frame (itself
    referenced three ways: both self-join sides and the degree
    aggregate) plus the anti join, five consumers of the expensive
    ngram-Jaccard pair derivation whose deduplication previously
    relied on best-effort exchange reuse that collapses on tiled
    corpora — and symmetrization is ONE explode emitting (a,b),(b,a)
    per pair instead of a self-union, keeping the cached frame
    single-referenced per consumer. The cache is caller-owned: the
    pair-shaped output is returned lazily over it."""
    from pyspark.storagelevel import StorageLevel

    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("m"), F.col("doc_b").alias("n")),
                F.struct(F.col("doc_b").alias("m"), F.col("doc_a").alias("n")),
            )
        ).alias("e")
    ).select("e.m", "e.n")
    deg = und.groupBy("n").agg(F.count("*").alias("deg"))
    wedges = (
        und.alias("l")
        .join(
            und.alias("r"),
            (F.col("l.m") == F.col("r.m")) & (F.col("l.n") < F.col("r.n")),
        )
        .groupBy(F.col("l.n").alias("doc_a"), F.col("r.n").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    non_edges = wedges.join(edges, ["doc_a", "doc_b"], "left_anti")
    return (
        non_edges.join(
            deg.select(F.col("n").alias("doc_a"), F.col("deg").alias("deg_a")),
            "doc_a",
        )
        .join(
            deg.select(F.col("n").alias("doc_b"), F.col("deg").alias("deg_b")),
            "doc_b",
        )
        .withColumn("n_union", F.expr("deg_a + deg_b - n_common"))
        .withColumn("jaccard_ppm", F.expr("n_common * 1000000 div n_union"))
        .select(
            "doc_a", "doc_b", "n_common", "deg_a", "deg_b", "n_union", "jaccard_ppm"
        )
    )


QUERIES["link_prediction_jaccard"] = link_prediction_jaccard
ORACLE["link_prediction_jaccard"] = f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({ORACLE["dedup_ngram_jaccard"]})),
    und AS (
      SELECT doc_a AS m, doc_b AS n FROM e
      UNION ALL SELECT doc_b AS m, doc_a AS n FROM e),
    deg AS (SELECT n, COUNT(*) AS deg FROM und GROUP BY 1),
    wedges AS (
      SELECT l.n AS doc_a, r.n AS doc_b, COUNT(*) AS n_common
      FROM und l JOIN und r ON l.m = r.m AND l.n < r.n
      GROUP BY 1, 2),
    non_edges AS (
      SELECT w.* FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.doc_a = w.doc_a AND e.doc_b = w.doc_b))
    SELECT w.doc_a, w.doc_b, CAST(w.n_common AS BIGINT) AS n_common,
           CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
           CAST(da.deg + db.deg - w.n_common AS BIGINT) AS n_union,
           CAST(w.n_common AS BIGINT) * 1000000
             // (da.deg + db.deg - w.n_common) AS jaccard_ppm
    FROM non_edges w
    JOIN deg da ON da.n = w.doc_a
    JOIN deg db ON db.n = w.doc_b
"""


# ---------------------------------------------------------------------------
# Attribute-partition modularity over the near-dup graph (round 7)
# ---------------------------------------------------------------------------


def graph_modularity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the SOURCE partition over the n-gram
    Jaccard near-dup graph: does duplication structure align with
    where documents came from, or do near-dups straddle sources?
    (Probed live: at sf0.01 only 4 of 34 edges are intra-source, so
    the partition cuts hard and per-source contributions go negative
    — exactly the "your dedup must run globally, not per-source"
    evidence a pipeline review wants. The lang partition is NOT used:
    every edge on this corpus is intra-lang, a dead cut dimension.)

    Exactness: Q = sum_c (in_c/m - (d_c/2m)^2) is held as the integer
    numerator 4*m*in_c - d_c^2 over the common denominator 4m^2, and
    reported per source as q_ppm = (4*m*in_c - d_c^2) * 1e6 // 4m^2 —
    pure BIGINT, no float accumulation.

    Shape: the edge list (tiny — pair graphs are sparse by the LSH/
    threshold construction) joins the (doc_id, source) projection
    twice on its endpoint keys; degrees and per-source tallies are
    map-side-combined aggregates of that edge frame; m rides a
    broadcast 1-row aggregate. The corpus text itself never moves —
    only doc_id/source pairs shuffle.
    """
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    lab = (
        edges.join(src.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("source", "src_a")
        .join(src.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("source", "src_b")
    )
    # Round-13 lineage fix (guide §2.4, the pagerank/LPA lesson): `lab`
    # — carrying the whole ngram-Jaccard pair derivation — was
    # referenced FIVE times (two self-union branches for the endpoint
    # tally, two more for the node census, plus the m count); ONE
    # explode emits both endpoint rows per edge, the persisted endpoint
    # frame feeds all three aggregates, and m is its row count div 2
    # (each edge contributes exactly two endpoint rows). The cache
    # lives only for this call.
    epts = (
        lab.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc"), F.col("src_a").alias("source")
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc"), F.col("src_b").alias("source")
                    ),
                )
            ).alias("e"),
            (F.col("src_a") == F.col("src_b")).alias("intra"),
        )
        .select("e.doc", "e.source", "intra")
    )
    m_row = epts.agg(F.expr("count(*) div 2").alias("m"))
    per = epts.groupBy("source").agg(
        F.count("*").alias("deg_sum"),
        # each intra edge contributes BOTH endpoints to its community,
        # so in_c = intra-endpoint-count / 2 — kept doubled to stay int:
        F.sum(F.col("intra").cast("long")).alias("in2"),
    )
    nodes = (
        epts.select(F.col("doc").alias("doc_id"), "source")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("n_nodes"))
    )
    # q_num = 4*m*in_c - d_c^2 = 2*m*in2 - d_c^2   (in2 = 2*in_c)
    out = (
        per.join(nodes, "source")
        .crossJoin(F.broadcast(m_row))
        .select(
            "source",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            (F.col("in2") / 2).cast("long").alias("in_edges"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            F.col("m").cast("long").alias("m_edges"),
            (
                (F.lit(2) * F.col("m") * F.col("in2") - F.col("deg_sum") * F.col("deg_sum"))
                * 1000000
            )
            .cast("long")
            .alias("q_num_e6"),
            F.expr(
                "(2 * m * in2 - deg_sum * deg_sum) * 1000000 div (4 * m * m)"
            ).alias("q_ppm"),
        )
    )
    with fx.cache_scope() as scope:
        scope.hold(epts)
        return fx.eager_report(spark, out)


QUERIES["graph_modularity_report"] = graph_modularity_report
ORACLE["graph_modularity_report"] = f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({ORACLE["dedup_ngram_jaccard"]})),
    lab AS (
      SELECT e.doc_a, e.doc_b, da.source AS src_a, db.source AS src_b
      FROM e JOIN documents da ON da.doc_id = e.doc_a
             JOIN documents db ON db.doc_id = e.doc_b),
    m_row AS (SELECT COUNT(*) AS m FROM lab),
    und AS (
      SELECT src_a AS source, (src_a = src_b) AS intra FROM lab
      UNION ALL SELECT src_b AS source, (src_a = src_b) AS intra FROM lab),
    per AS (
      SELECT source, COUNT(*) AS deg_sum,
             SUM(CASE WHEN intra THEN 1 ELSE 0 END) AS in2
      FROM und GROUP BY 1),
    nodes AS (
      SELECT source, COUNT(*) AS n_nodes FROM (
        SELECT DISTINCT doc_id, source FROM (
          SELECT doc_a AS doc_id, src_a AS source FROM lab
          UNION ALL SELECT doc_b AS doc_id, src_b AS source FROM lab))
      GROUP BY 1)
    SELECT p.source,
           CAST(n.n_nodes AS BIGINT) AS n_nodes,
           CAST(p.in2 // 2 AS BIGINT) AS in_edges,
           CAST(p.deg_sum AS BIGINT) AS deg_sum,
           CAST(m.m AS BIGINT) AS m_edges,
           CAST((2 * m.m * p.in2 - p.deg_sum * p.deg_sum) * 1000000 AS BIGINT)
             AS q_num_e6,
           CAST((2 * m.m * p.in2 - p.deg_sum * p.deg_sum) * 1000000
                // (4 * m.m * m.m) AS BIGINT) AS q_ppm
    FROM per p JOIN nodes n USING (source) CROSS JOIN m_row m
"""


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count audit (round 8)
# ---------------------------------------------------------------------------

#: HLL register count (m = 2^4) and its standard bias constant alpha_16
#: = 0.673, carried as ppm so the estimator is integer end-to-end.
HLL_M = 16
HLL_ALPHA_PPM = 673_000
#: Width of the rank field read from the md5 suffix, in bits.
HLL_BITS = 52


def hll_register_rows(docs: DataFrame) -> DataFrame:
    """(b, m) register-update rows for the HLL sketch: md5(text) →
    4-bit register index + 52-bit rank field with the x=0 rank capped
    at HLL_BITS (the round-9 negative-shift guard). Shared by the
    batch audit and the streaming register build
    (streaming/monitor.py::stream_hll_registers) so the two can never
    disagree on the hash-to-register mapping."""
    fp = docs.select(F.md5("text").alias("h"))
    fields = fp.select(
        F.conv(F.substring("h", 1, 1), 16, 10).cast("long").alias("b"),
        F.conv(F.substring("h", 2, 13), 16, 10).cast("long").alias("x"),
    )
    rank = F.when(F.col("x") == 0, F.lit(HLL_BITS)).otherwise(
        F.lit(HLL_BITS + 1) - F.length(F.bin("x"))
    )
    return fields.select("b", rank.alias("m"))


def hll_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-text estimate audited against the exact
    count: md5(text) splits into a 4-bit register index and a 52-bit
    rank field whose leading-zero count (+1) feeds the register max —
    the MERGEABLE sketch shape (16 small ints; union = elementwise max)
    that counts distincts across shards/streams without a distinct
    shuffle. The raw estimator alpha*m^2/sum(2^-M) runs as exact
    integers — S = sum(2^(52-M)) in BIGINT, the quotient through
    DECIMAL(38,0) — so the estimate, not just the registers, is
    engine-reproducible; err_ppm against the exact distinct is the
    audit (m=16 → ~26% typical error, the honest budget sketch;
    production raises m, same plumbing). Raw estimator only — the
    small-range linear-counting correction needs ln() and is out of
    integer scope, which is why the subject is the corpus-wide distinct
    (n >> 2.5m at every SF, where raw HLL is in its valid regime).

    Shape: one scan to md5 fingerprints, one groupBy(16 registers)
    max-aggregate (map-side combined — the sketch build), one 16-row
    rollup; the exact count is the one distinct shuffle, present only
    because this key IS the audit of sketch vs truth."""
    docs = load_table(spark, sf_dir, "documents")
    # x = 0 is capped at HLL_BITS, not BITS+1 (inside
    # hll_register_rows): rank 53 would make the register term
    # shiftleft(1, 52 - mx) a NEGATIVE shift — DuckDB errors, Spark
    # masks mod 64 and corrupts the sum. Probability 2^-52 per row,
    # but it is the only input that breaks the estimator, and the cap
    # changes nothing else (round-9 advice fix).
    regs = hll_register_rows(docs).groupBy("b").agg(F.max("m").alias("mx"))
    grid = spark.range(HLL_M).select(F.col("id").alias("b"))
    dense = grid.join(regs, "b", "left").select(
        F.coalesce("mx", F.lit(0)).alias("mx")
    )
    sketch = dense.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_BITS} - CAST(mx AS INT))")).alias("s"),
        F.sum(F.expr("CASE WHEN mx > 0 THEN 1 ELSE 0 END")).cast("long").alias("nonzero_regs"),
    )
    exact = docs.agg(F.count_distinct("text").cast("long").alias("exact_distinct"))
    return sketch.crossJoin(F.broadcast(exact)).select(
        F.lit(HLL_M).cast("int").alias("m"),
        "nonzero_regs",
        "exact_distinct",
        F.expr(
            f"CAST(CAST({HLL_ALPHA_PPM} AS DECIMAL(38,0)) * {HLL_M * HLL_M}"
            f" * shiftleft(CAST(1 AS BIGINT), {HLL_BITS})"
            " div (CAST(1000000 AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("hll_est"),
        F.expr(
            f"CAST(abs(CAST(CAST({HLL_ALPHA_PPM} AS DECIMAL(38,0)) * {HLL_M * HLL_M}"
            f" * shiftleft(CAST(1 AS BIGINT), {HLL_BITS})"
            " div (CAST(1000000 AS DECIMAL(38,0)) * s) AS BIGINT)"
            " - exact_distinct) * 1000000 div exact_distinct AS BIGINT)"
        ).alias("err_ppm"),
    )


QUERIES["hll_distinct_report"] = hll_distinct_report
ORACLE["hll_distinct_report"] = f"""
    WITH fp AS (SELECT md5(text) AS h FROM documents),
    fields AS (
      SELECT ('0x' || substr(h, 1, 1))::BIGINT AS b,
             ('0x' || substr(h, 2, 13))::BIGINT AS x
      FROM fp),
    ranks AS (
      SELECT b, CASE WHEN x = 0 THEN {HLL_BITS}
                     ELSE {HLL_BITS + 1} - length(bin(x)) END AS m
      FROM fields),
    regs AS (SELECT b, MAX(m) AS mx FROM ranks GROUP BY 1),
    dense AS (
      SELECT COALESCE(r.mx, 0) AS mx
      FROM (SELECT unnest(range(0, {HLL_M})) AS b) g
      LEFT JOIN regs r USING (b)),
    sketch AS (
      SELECT SUM(1::BIGINT << ({HLL_BITS} - mx)) AS s,
             SUM(CASE WHEN mx > 0 THEN 1 ELSE 0 END) AS nonzero_regs
      FROM dense),
    ex AS (SELECT COUNT(DISTINCT text) AS exact_distinct FROM documents)
    SELECT CAST({HLL_M} AS INT) AS m,
           CAST(nonzero_regs AS BIGINT) AS nonzero_regs,
           CAST(exact_distinct AS BIGINT) AS exact_distinct,
           CAST(CAST({HLL_ALPHA_PPM} AS HUGEINT) * {HLL_M * HLL_M}
                * (1::BIGINT << {HLL_BITS})
                // (1000000::HUGEINT * s) AS BIGINT) AS hll_est,
           CAST(ABS(CAST(CAST({HLL_ALPHA_PPM} AS HUGEINT) * {HLL_M * HLL_M}
                * (1::BIGINT << {HLL_BITS})
                // (1000000::HUGEINT * s) AS BIGINT) - exact_distinct)
                * 1000000 // exact_distinct AS BIGINT) AS err_ppm
    FROM sketch CROSS JOIN ex
"""


# ---------------------------------------------------------------------------
# Survivorship election over the near-dup graph (round 8)
# ---------------------------------------------------------------------------

#: Min-label propagation rounds for dedup_survivorship's clustering.
SURV_ROUNDS = 5


def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy over near-duplicate clusters: group the
    ngram-Jaccard pair graph into clusters (SURV_ROUNDS synchronous
    min-label rounds — near-dup components are dense blocks that
    converge in 1-2 rounds; a pathological chain of diameter >
    2*SURV_ROUNDS would split, the fixed horizon is what keeps the
    plan static and the oracle replayable) and elect each cluster's
    KEPT document by the longest-text policy (max n_chars, tie ->
    smallest doc_id) instead of first-occurrence — the curation choice
    that keeps the most complete variant of a boilerplate family, not
    whichever crawled first. Election is min(struct(-n_chars, doc_id))
    — the LPA argmax trick, no window, no sort.

    Shape: the pair stage is the blocked-bounded dedup_ngram_jaccard
    (never all-pairs); each label round is one shuffle of the
    (near-dup nodes) frame — dup-subset-sized, far below corpus rows;
    the n_chars join touches only those nodes. At 100 TB: 5 bounded
    shuffles of the duplicate subgraph, one corpus scan.

    Iteration lineage (the round-13 optimization-round lesson, both
    regimes measured): written as labels ∪ messages, each round
    references `labels` TWICE, so the lazy loop carries 2^SURV_ROUNDS
    copies of the label subtree — exchange reuse dedupes them at
    sf0.1 but collapses on tiled x10 corpora (this key's x10 probe:
    256.7 s plain vs 25.6 s with the edge frame persisted), while the
    edge-only persist regressed sf0.1 2-4× with huge variance
    (13.4/30.6 s vs 6.5/7.7 s plain, interleaved fresh-JVM A/B) —
    the 2^rounds branches each re-shuffle the cache. The shipped
    round is SELF-LOOP AUGMENTED: propagate over sym ∪ {(v,v)} and
    the self-message carries the node's own previous label, so
    labels ∪ msgs ≡ msgs alone and each round references `labels`
    exactly ONCE. The lazy plan is linear in rounds — one join + one
    map-side-combined min per round, no driver barrier, no reuse
    dependence, no double-reference race — and the persisted
    self-loop edge frame is the only thing read per round at any
    scale. Interleaved fresh-JVM A/B at sf0.1: 4.2/4.5 s vs
    5.2/6.2 s plain (and vs 12.7/25.8 s for the eager per-round
    persist variant, whose ~1.4 s/round driver-action overhead
    dominates at small SF). The cache is caller-owned: the per-cluster
    output is returned lazily over it."""
    from pyspark.storagelevel import StorageLevel

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # Symmetrize + self-loop by ONE explode: `pairs ∪ pairs.swap ∪
    # nodes` would reference the pair-derivation subtree three times
    # and the round-13 pagerank plan audit showed AQE materializing
    # each union branch separately during a cache fill. Four rows per
    # pair — (a,b), (b,a), (a,a), (b,b) — keep it single-referenced;
    # self-loops arrive once per incident pair instead of once per
    # node, which is harmless because min() over a multiset ignores
    # multiplicity.
    sym_loops = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a"), F.col("doc_b")),
                F.struct(
                    F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
                ),
                F.struct(F.col("doc_a"), F.col("doc_a").alias("doc_b")),
                F.struct(
                    F.col("doc_b").alias("doc_a"), F.col("doc_b").alias("doc_b")
                ),
            )
        ).alias("e")
    ).select("e.doc_a", "e.doc_b").persist(StorageLevel.MEMORY_AND_DISK)
    # labels₀ reads the node set back out of the persisted frame (the
    # self-loops make doc_a's distinct exactly the node set), so round
    # 1 does not re-derive the pair subtree outside the cache.
    labels = (
        sym_loops.select(F.col("doc_a").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
    )
    for _ in range(SURV_ROUNDS):
        labels = (
            sym_loops.join(labels, sym_loops.doc_a == labels.v)
            .select(F.col("doc_b").alias("v"), "lbl")
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
        )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = labels.join(docs, labels.v == docs.doc_id).select(
        F.col("lbl").alias("cluster_id"), "doc_id", "n_chars"
    )
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min(F.struct((-F.col("n_chars")).alias("neg"), "doc_id")).alias(
                "_w"
            ),
        )
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "n_members",
            F.col("_w.doc_id").cast("long").alias("survivor_doc"),
            (-F.col("_w.neg")).cast("long").alias("survivor_chars"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
    )


QUERIES["dedup_survivorship"] = dedup_survivorship


def _survivorship_oracle() -> str:
    """Pairs CTE = dedup_ngram_jaccard's oracle verbatim; then
    SURV_ROUNDS chained min-label CTEs and the longest-text election
    via min(struct)-equivalent ordering."""
    parts = [
        f"pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({ORACLE['dedup_ngram_jaccard']}))",
        "sym AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS v, doc_a AS lbl FROM sym)",
    ]
    for k in range(1, SURV_ROUNDS + 1):
        parts.append(
            f"""l{k} AS MATERIALIZED (
          SELECT v, MIN(lbl) AS lbl FROM (
            SELECT v, lbl FROM l{k - 1}
            UNION ALL
            SELECT s.doc_b AS v, l.lbl FROM sym s JOIN l{k - 1} l ON l.v = s.doc_a)
          GROUP BY v)"""
        )
    parts.append(
        f"""sel AS (
      SELECT m.lbl, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY m.lbl
               ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY m.lbl) AS n
      FROM l{SURV_ROUNDS} m JOIN documents d ON d.doc_id = m.v)"""
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + """
    SELECT CAST(lbl AS BIGINT) AS cluster_id,
           CAST(n AS BIGINT) AS n_members,
           CAST(doc_id AS BIGINT) AS survivor_doc,
           CAST(n_chars AS BIGINT) AS survivor_chars,
           CAST(n - 1 AS BIGINT) AS n_dropped
    FROM sel WHERE rn = 1"""
    )

ORACLE["dedup_survivorship"] = _survivorship_oracle()


# ---------------------------------------------------------------------------
# k-core decomposition of the near-dup graph (round 9): the robustness
# screen that completes the graph-audit family (degree hist →
# triangles → modularity → link prediction → survivorship).
# ---------------------------------------------------------------------------

#: Core order for dedup_graph_kcore. k=2 separates pendant pairs
#: (safely handled pairwise) from the densely tangled region where
#: survivorship elections and transitive merges actually matter.
KCORE_K = 2
#: Synchronous peel rounds. The ngram graph's periphery is 1-2 levels
#: deep at every test SF; the fixpoint test fails if the corpus ever
#: needs more.
KCORE_ROUNDS = 3


def dedup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=KCORE_K) of the thresholded ngram-
    Jaccard near-dup graph: KCORE_ROUNDS synchronous peel rounds —
    drop every node with degree < k, delete its edges, repeat — with
    per-doc verdicts: initial degree, whether the doc survives in the
    2-core, and its within-core degree. The core is the graph region
    where pairwise dedup reasoning breaks down (chains/clusters that
    need survivorship elections or transitive merges); the peeled
    periphery is pendant near-dup pairs a cheap keep-first rule
    handles. Synchronous peeling is exact: after enough rounds the
    survivor set IS the maximal k-core (Matula/Beck), and the fixpoint
    on this corpus is pinned by
    tests/test_operators.py::test_kcore_matches_true_fixpoint.

    Shape: the graph is the DUP-SUBSET (nodes = docs with at least one
    near-dup pair), orders of magnitude smaller than the corpus, and
    each round is one map-side-combined degree aggregate plus two
    semi-joins on (doc_id) — bounded shuffles of 2-long rows, the
    dedup_survivorship discipline. Document text never enters the
    plan (edges arrive as id pairs).

    Iteration lineage (the round-13 optimization-round lesson, both
    regimes measured): the peel loop references `cur` twice per round
    (degree aggregate + semi-join), so a fully lazy loop carries
    2^KCORE_ROUNDS copies of the edge-derivation subtree. Exchange
    reuse dedupes the copies at sf0.1 (round-9 A/B: 5.43 vs 5.74 s
    parity) but COLLAPSES at x10 tiled corpus: interleaved fresh-JVM
    A/B (round 13, x10, 3 passes) measured plain at 102/405/485 s vs
    24.3-25.3 s with the edge frame persisted. Persisting ONLY the
    edge frame, in turn, kept a 2^rounds plan whose branches each
    re-shuffle the cache — sf0.1 regressed to 9.9/13.0 s vs 8.6/8.8 s
    plain, and a LAZY per-round persist was bimodal (min 17.3 s but
    one 177 s pass at x10 — the lazy persist races its own double
    reference). The shipped shape is the textbook synchronous-peel
    plan: hold the symmetrized edge frame once, then hold each round's
    surviving-edge frame (filled eagerly, the previous round released)
    so the executed plan is linear in rounds and the race cannot
    happen; the last round is read only once, by the output fill. The per-round count() is a driver scalar on the dup-subset
    frame — the dedup_cluster trainer-sync contract. The returned
    per-node frame is itself cached (caller-owned, one row per
    dup-graph node) and filled before the round caches are dropped."""
    from pyspark.storagelevel import StorageLevel

    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # Explode-symmetrize (see dedup_survivorship): one Generate keeps
    # the pair-derivation subtree single-referenced in the cache-fill
    # plan instead of a self-union that executes it twice.
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("m"), F.col("doc_b").alias("n")
                    ),
                    F.struct(
                        F.col("doc_b").alias("m"), F.col("doc_a").alias("n")
                    ),
                )
            ).alias("e")
        )
        .select("e.m", "e.n")
    )

    def peel(cur: DataFrame) -> DataFrame:
        keep = (
            cur.groupBy("m")
            .agg(F.count("*").alias("_d"))
            .filter(F.col("_d") >= KCORE_K)
            .select("m")
        )
        return cur.join(keep, "m", "left_semi").join(
            keep.select(F.col("m").alias("n")), "n", "left_semi"
        )

    with fx.cache_scope() as scope:
        cur = und = scope.hold(und)
        for _ in range(KCORE_ROUNDS - 1):
            nxt = scope.hold(peel(cur))
            if cur is not und:
                scope.release(cur)
            cur = nxt
        deg0 = und.groupBy("m").agg(F.count("*").alias("deg0"))
        # the last round is read once, by the output fill below
        core_deg = peel(cur).groupBy("m").agg(F.count("*").alias("core_deg"))
        out = (
            deg0.join(core_deg, "m", "left")
            .select(
                F.col("m").cast("long").alias("doc_id"),
                F.col("deg0").cast("long").alias("deg0"),
                F.when(F.col("core_deg").isNotNull(), F.lit(1))
                .otherwise(F.lit(0))
                .cast("int")
                .alias("in_core"),
                F.coalesce("core_deg", F.lit(0)).cast("long").alias("core_deg"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        out.count()
    return out


QUERIES["dedup_graph_kcore"] = dedup_graph_kcore
ORACLE["dedup_graph_kcore"] = f"""
    WITH prs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({ORACLE["dedup_ngram_jaccard"]})),
    e0 AS MATERIALIZED (
      SELECT doc_a AS m, doc_b AS n FROM prs
      UNION ALL SELECT doc_b AS m, doc_a AS n FROM prs),
    deg0 AS (SELECT m, COUNT(*) AS deg0 FROM e0 GROUP BY 1),
    k1 AS MATERIALIZED (
      SELECT m FROM e0 GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    e1 AS MATERIALIZED (
      SELECT e.m, e.n FROM e0 e
      JOIN k1 a ON e.m = a.m JOIN k1 b ON e.n = b.m),
    k2 AS MATERIALIZED (
      SELECT m FROM e1 GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    e2 AS MATERIALIZED (
      SELECT e.m, e.n FROM e1 e
      JOIN k2 a ON e.m = a.m JOIN k2 b ON e.n = b.m),
    k3 AS MATERIALIZED (
      SELECT m FROM e2 GROUP BY 1 HAVING COUNT(*) >= {KCORE_K}),
    e3 AS MATERIALIZED (
      SELECT e.m, e.n FROM e2 e
      JOIN k3 a ON e.m = a.m JOIN k3 b ON e.n = b.m),
    cd AS (SELECT m, COUNT(*) AS core_deg FROM e3 GROUP BY 1)
    SELECT CAST(d.m AS BIGINT) AS doc_id,
           CAST(d.deg0 AS BIGINT) AS deg0,
           CAST(CASE WHEN cd.m IS NULL THEN 0 ELSE 1 END AS INT) AS in_core,
           CAST(COALESCE(cd.core_deg, 0) AS BIGINT) AS core_deg
    FROM deg0 d LEFT JOIN cd ON cd.m = d.m
"""


# ---------------------------------------------------------------------------
# Containment dedup + degree assortativity over the near-dup graph
# (round 9): the near-SUPERSET detector Jaccard misses, and the
# hub-structure audit of the pair graph itself.
# ---------------------------------------------------------------------------

#: Containment threshold: |A∩B| / min(|A|,|B|) ≥ 0.8 flags a pair where
#: the smaller word set is almost entirely inside the larger one.
CONTAINMENT_MIN = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact set-containment pairs: |A∩B| / min(|A|,|B|) ≥ 0.8
    over distinct word sets — the near-SUPERSET detector. Jaccard
    under-scores a short doc embedded in a long one (the union is
    dominated by the long side), so boilerplate-wrapped reposts and
    quote-expansions pass a Jaccard gate; containment normalizes by
    the SMALLER set and catches exactly those. `superset_only` marks
    the pairs invisible to the Jaccard ≥ 0.5 key (probed live before
    wiring: 9 of 39 containment pairs at sf0.01 are superset-only).

    Not in the reference (1,000-LoC streaming demo, no set similarity
    anywhere — SURVEY.md §2.9); extension mandated by the build plan.

    Shape: _blocked_pair_expand, the SAME shared stage as
    dedup_ngram_jaccard — ONE shuffle of (doc_id, bkey, wset), per-block
    in-row i<j pair expansion hard-capped at BUCKET_CAP, both measures
    computed inline on the same array_intersect. Never an all-pairs
    join."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    return (
        _blocked_pair_expand(
            docs.select("doc_id", "lang", fx.tokenize_ws().alias("ws")),
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                F.round(
                    F.size(F.array_intersect(x["wset"], y["wset"])).cast("double")
                    / F.least(F.size(x["wset"]), F.size(y["wset"])),
                    4,
                ).alias("containment"),
                _pair_jaccard(x, y).alias("jaccard"),
            ),
        )
        .filter(F.col("containment") >= CONTAINMENT_MIN)
        .withColumn("superset_only", (F.col("jaccard") < 0.5).cast("int"))
    )


QUERIES["dedup_containment"] = dedup_containment
ORACLE["dedup_containment"] = f"""
    WITH k AS (
      SELECT doc_id,
             lang || '|' || ({_WORDS_SQL})[1] || ' ' || ({_WORDS_SQL})[2] AS bkey,
             list_distinct({_WORDS_SQL}) AS wset
      FROM documents WHERE len({_WORDS_SQL}) >= 2),
    ok AS (
      SELECT bkey FROM k GROUP BY bkey
      HAVING COUNT(*) BETWEEN 2 AND {BUCKET_CAP}),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND(CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE) /
                   least(len(a.wset), len(b.wset)), 4) AS containment,
             ROUND(CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE) /
                   len(list_distinct(list_concat(a.wset, b.wset))), 4) AS jaccard
      FROM k a JOIN k b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
      JOIN ok ON a.bkey = ok.bkey)
    SELECT doc_a, doc_b, containment, jaccard,
           CAST(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END AS INT)
             AS superset_only
    FROM p WHERE containment >= {CONTAINMENT_MIN}
"""


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the n-gram Jaccard near-dup graph: the
    Pearson correlation of endpoint degrees over symmetrized edges —
    negative (disassortative) means hubs attach to satellites (one
    boilerplate template spraying near-dups at many singletons, the
    star shape dedup_pair_degree_hist hints at), positive means dup
    mass forms dense cliques of mutually-similar docs. The one-number
    structure audit that decides whether hub-excision or clique
    -collapse is the right dedup strategy.

    Exactness: over symmetrized ends both marginals are identical, so
    Pearson reduces to the PURE RATIONAL (n·Σxy − (Σx)²) / (n·Σx² −
    (Σx)²) — no square roots. cov/var are exact BIGINTs (degree is
    BUCKET_CAP-bounded by the blocked pair construction, so Σx² ≤
    cap²·n), the ppm is one DECIMAL(38,0) cross-multiplied div
    (truncation toward zero matches DuckDB HUGEINT //).

    Shape: the edge list is pair-graph-sized (sparse by construction);
    ends explode in-row, the degree groupBy and the two endpoint-degree
    hash joins all move only (doc_id, long) rows; one final 1-row
    aggregate. The corpus text never shuffles."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    pairs = _ngram_jaccard_pairs(
        docs.select("doc_id", "lang", fx.tokenize_ws().alias("ws"))
    ).select("doc_a", "doc_b")
    # Round-13 lineage fix (guide §2.4): symmetrize by ONE explode —
    # the self-union referenced the Jaccard pair derivation twice —
    # and persist the directed-end frame, which three consumers read
    # (the degree aggregate and both endpoint-degree joins), for the
    # run of this call only.
    ends = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("s"), F.col("doc_b").alias("d")),
                    F.struct(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
    )
    deg = ends.groupBy("s").agg(F.count("*").alias("deg"))
    ed = ends.join(
        deg.select(F.col("s"), F.col("deg").alias("dx")), "s"
    ).join(
        deg.select(F.col("s").alias("d"), F.col("deg").alias("dy")), "d"
    )
    m = ed.agg(
        F.count("*").alias("n_ends"),
        F.sum("dx").alias("sum_deg"),
        F.sum(F.col("dx") * F.col("dx")).alias("sum_deg2"),
        F.sum(F.col("dx") * F.col("dy")).alias("sum_dxdy"),
    )
    out = m.select(
        F.col("n_ends").cast("long").alias("n_ends"),
        F.col("sum_deg").cast("long").alias("sum_deg"),
        F.col("sum_deg2").cast("long").alias("sum_deg2"),
        F.col("sum_dxdy").cast("long").alias("sum_dxdy"),
        F.expr(
            "CAST((CAST(n_ends AS DECIMAL(38,0)) * sum_dxdy"
            " - CAST(sum_deg AS DECIMAL(38,0)) * sum_deg) * 1000000"
            " div nullif(CAST(n_ends AS DECIMAL(38,0)) * sum_deg2"
            " - CAST(sum_deg AS DECIMAL(38,0)) * sum_deg, 0) AS BIGINT)"
        ).alias("assort_ppm"),
    )
    with fx.cache_scope() as scope:
        scope.hold(ends)
        return fx.eager_report(spark, out)


QUERIES["graph_degree_assortativity"] = graph_degree_assortativity
ORACLE["graph_degree_assortativity"] = f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({ORACLE["dedup_ngram_jaccard"]})),
    ends AS (
      SELECT doc_a AS s, doc_b AS d FROM e
      UNION ALL SELECT doc_b AS s, doc_a AS d FROM e),
    deg AS (SELECT s, COUNT(*) AS deg FROM ends GROUP BY 1),
    ed AS (
      SELECT da.deg AS dx, db.deg AS dy
      FROM ends JOIN deg da ON ends.s = da.s JOIN deg db ON ends.d = db.s),
    m AS (
      SELECT COUNT(*) AS n_ends, SUM(dx) AS sum_deg,
             SUM(dx * dx) AS sum_deg2, SUM(dx * dy) AS sum_dxdy
      FROM ed)
    SELECT CAST(n_ends AS BIGINT) AS n_ends,
           CAST(sum_deg AS BIGINT) AS sum_deg,
           CAST(sum_deg2 AS BIGINT) AS sum_deg2,
           CAST(sum_dxdy AS BIGINT) AS sum_dxdy,
           CAST((CAST(n_ends AS HUGEINT) * sum_dxdy
                 - CAST(sum_deg AS HUGEINT) * sum_deg) * 1000000
                // nullif(CAST(n_ends AS HUGEINT) * sum_deg2
                          - CAST(sum_deg AS HUGEINT) * sum_deg, 0)
                AS BIGINT) AS assort_ppm
    FROM m
"""
