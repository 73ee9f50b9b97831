"""Similarity search over embedding vectors.

Extensions from the build plan (SURVEY.md §7 Phase 3): brute-force
cosine top-k as the correctness baseline, a sign-LSH bucketed ANN as
the scale path, and LSH-blocked near-duplicate pairs.

Scale design:
  * vectors are quantized to int64 once (floor(x*1000+0.5)) — all dot
    products are exact integer folds: order-independent, identical
    across engines, immune to float-sum reassociation at any
    parallelism;
  * brute force broadcasts the (small) query set against the corpus —
    a map-side cross join, no shuffle of the corpus, O(|Q|·N) but
    embarrassingly parallel: this is the right plan when |Q| is small;
  * sign-LSH reduces candidates to one bucket: corpus and queries are
    sketched with the same deterministic hyperplanes (md5-seeded
    integer weights), candidates meet in an equi-join on the bucket id
    — at 100 TB this is the difference between a cross join and a
    hash join; recall is tuned by plane count / multi-probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.sources.tables import fan_out, load_table

DIM = 64
N_QUERIES = 8          # query set: vec_id < 8
TOP_K = 5
N_PLANES_TOPK = 6      # 64 buckets — sized to the corpus (500-2000 vecs)
N_PLANES_NEARDUP = 4   # 16 buckets
NEARDUP_MIN_COS = 0.25


def quantized_vectors(vecs: DataFrame, *keep: str) -> DataFrame:
    """The keep columns of a frame with an `embedding` column, plus its
    quantized vector `q` and that vector's L2 `norm`."""
    return vecs.select(
        *keep, fx.quantize_embedding(F.col("embedding")).alias("q")
    ).withColumn("norm", F.sqrt(fx.dot("q", "q").cast("double")))


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantized_vectors(load_table(spark, sf_dir, "embeddings"), "vec_id", "label")


def ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors against the
    corpus (map-side nested loop — the corpus never shuffles), rank per
    query. The exact baseline the LSH variant trades recall against."""
    from pyspark.sql import Window

    base = _quantized(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                fx.dot("q", "qv").cast("double") / (F.col("norm") * F.col("qnorm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cos", "rank")
    )


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-k with multi-probe: sketch corpus and
    queries with the same deterministic hyperplanes, then each query
    probes its own bucket PLUS every Hamming-distance-1 and -2 bucket
    (flip one or two sign bits) — the classic multi-probe trick: near
    neighbors that fall just across one or two hyperplanes are
    recovered without adding planes. The probe expansion happens on the
    tiny query side (1+6+15 = 22 buckets per query, exploded before the
    broadcast), so the corpus still sees one equi-join on its single
    bucket id — the 100 TB plan: candidates meet in a hash join, the
    corpus never cross-joins. Measured recall vs brute-force at sf0.01:
    0.075 single-probe → 0.25 distance-1 → 0.60 distance-2, at
    identical corpus-side cost (next knob: OR-banding over L
    independent tables, which multiplies corpus map-side rows by L).
    Recall floor pinned by tests/test_operators.py."""
    from pyspark.sql import Window

    planes = fx.lsh_planes(N_PLANES_TOPK, DIM)
    base = _quantized(spark, sf_dir).withColumn("bucket", fx.sign_lsh_bucket(F.col("q"), planes))
    masks = [1 << p for p in range(N_PLANES_TOPK)] + [
        (1 << p1) | (1 << p2)
        for p1 in range(N_PLANES_TOPK)
        for p2 in range(p1 + 1, N_PLANES_TOPK)
    ]
    probe_arr = F.array(
        F.col("bucket"),
        *[F.expr(f"bucket ^ {m}").cast("long") for m in masks],
    )
    queries = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.explode(probe_arr).alias("qbucket"),
        )
    )
    cands = (
        base.join(F.broadcast(queries), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                fx.dot("q", "qv").cast("double") / (F.col("norm") * F.col("qnorm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cos", "rank")
    )


N_TABLES = 3  # OR-banding: L independent sign-LSH tables


def ann_topk_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-banded sign-LSH ANN top-k: L independent hash tables (disjoint
    plane sets from the shared deterministic codebook), each with
    Hamming-distance-≤2 multi-probe; a corpus vector is a candidate if
    it collides with the query in ANY table — the classic
    recall-multiplier on top of single-table multi-probe (failure
    probability compounds as pᴸ). Measured recall vs brute at sf0.01:
    0.975 (vs 0.60 single-table d2); floor pinned by test.

    Probe-trim trade study (measured, sf0.01 recall / probe rows per
    query / scored-candidate fraction L·probes/2^planes — the term that
    dominates at corpus scale): this 3×22-probe config is the knee.
    (a) d≤1 with more tables: 4 tbl → 28 rows but recall 0.55; 6 tbl →
    42 rows, 0.85. (b) wider 4-plane tables, d≤2: 3×11 rows, recall
    0.975 — but candidate fraction doubles (2.06 vs 1.03), slower at
    sf0.1 and strictly worse as the corpus grows. (c) query-adaptive
    multi-probe (Lv et al.: flip lowest-|margin| bits; margins are
    exact integer dots, so cross-engine deterministic): 1+3+C(4,2)=10
    rows → 0.775; recall only returns to 0.975 at 1+4+C(6,2)=20 rows —
    pair flips are NOT margin-concentrated at moderate neighbor
    cosines, so adaptive saves just 2 of 22 probes at equal recall and
    regresses to 0.875 on the sf0.001 draw. Kept: uniform d≤2.

    Scale shape: the corpus emits L (table, bucket) entries in a
    map-side explode — L× map rows, still ZERO corpus shuffles because
    the probe side stays broadcast; the equi-join key is (table,
    bucket). Dedup of cross-table collisions happens on (query,
    vec_id) before scoring — at most L copies of a candidate, dropped
    before the dot product so each pair is scored once."""
    from pyspark.sql import Window

    all_planes = fx.lsh_planes(N_TABLES * N_PLANES_TOPK, DIM)
    base = _quantized(spark, sf_dir)
    tagged = base.select(
        "vec_id",
        "q",
        "norm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        fx.sign_lsh_bucket(
                            F.col("q"),
                            all_planes[t * N_PLANES_TOPK : (t + 1) * N_PLANES_TOPK],
                        ).alias("bucket"),
                    )
                    for t in range(N_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "q", "norm", "tb.tbl", "tb.bucket")
    probes = (
        tagged.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.col("tbl").alias("ptbl"),
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.expr(f"bucket ^ {m}").cast("long")
                        for m in (
                            [1 << p for p in range(N_PLANES_TOPK)]
                            + [
                                (1 << p1) | (1 << p2)
                                for p1 in range(N_PLANES_TOPK)
                                for p2 in range(p1 + 1, N_PLANES_TOPK)
                            ]
                        )
                    ],
                )
            ).alias("qbucket"),
        )
    )
    cands = (
        tagged.join(
            F.broadcast(probes),
            (F.col("tbl") == F.col("ptbl")) & (F.col("bucket") == F.col("qbucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q", "qv", "norm", "qnorm")
        .dropDuplicates(["query_id", "vec_id"])
        .select(
            "query_id",
            "vec_id",
            F.round(
                fx.dot("q", "qv").cast("double") / (F.col("norm") * F.col("qnorm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cos", "rank")
    )


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a query: per-query recall of the LSH
    top-k against the exact brute-force top-k (the metric every ANN
    deployment monitors). Both inputs are deterministic operators, so
    the whole evaluation is oracle-checkable — integer arithmetic for
    the percentage. Shape: two small per-query result sets (|Q|·k rows
    each) joined on (query_id, vec_id) — negligible next to either
    input pipeline; the corpus is touched exactly twice (once per
    variant), never cross-joined."""
    brute = ann_topk_brute(spark, sf_dir).select("query_id", "vec_id")
    lsh = ann_topk_lsh(spark, sf_dir).select("query_id", "vec_id")
    hits = brute.join(lsh, ["query_id", "vec_id"], "left_semi")
    per_q = brute.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hit_q = hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    return (
        per_q.join(hit_q, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
        .selectExpr("query_id", "n_exact", "n_hit", "(n_hit * 100) div n_exact AS recall_pct")
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-blocked with multi-probe:
    the smaller-id side probes its own coarse sign-LSH bucket plus
    every Hamming-distance-1 bucket, so pairs whose sketches differ by
    at most one hyperplane sign meet; exact quantized cosine filters.
    Each pair meets in exactly ONE (probe, bucket) combination — the
    probe values are distinct — so no dedup pass is needed. Candidate
    volume grows ×(1+N_PLANES) on the probe side only; recall at
    sf0.01 vs the exact O(n²) truth: 0.125 single-probe → 0.47
    multi-probe. Same shape as dedup_minhash_lsh otherwise: an
    equi-join on the bucket instead of a cross join."""
    planes = fx.lsh_planes(N_PLANES_NEARDUP, DIM)
    # The per-pair dot products run on the probe side of a broadcast
    # join — fan out the single-split scan so they parallelize (3× at
    # sf0.1; no-op on a multi-split layout).
    base = fan_out(spark, sf_dir, "embeddings", _quantized(spark, sf_dir)).withColumn(
        "bucket", fx.sign_lsh_bucket(F.col("q"), planes)
    )
    probe_arr = F.array(
        F.col("bucket"),
        *[F.expr(f"bucket ^ {1 << p}").cast("long") for p in range(N_PLANES_NEARDUP)],
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"),
        F.col("norm").alias("na"), F.explode(probe_arr).alias("pa"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"),
        F.col("norm").alias("nb"), F.col("bucket").alias("bb"),
    )
    pairs = (
        a.join(b, (F.col("pa") == F.col("bb")) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a",
            "vec_b",
            F.round(fx.dot("qa", "qb").cast("double") / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= NEARDUP_MIN_COS)
    )
    return pairs


N_CENTROIDS = 16       # IVF cells; centroid ids N_QUERIES..N_QUERIES+15
N_PROBE = 6            # cells each query searches (6/16: recall ~0.5 vs brute)


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-build step as a reusable frame: every vector's
    nearest-centroid cell — (vec_id, label, cell). Broadcast-centroid
    map-side argmax (max_by over a lexicographic struct), one
    map-side-combined shuffle on vec_id; the corpus never cross-joins.
    Materialize with sources/files.py::write_ivf_index so probes
    become partition-pruned scans (pinned by tests/test_plans.py)."""
    base = _quantized(spark, sf_dir)
    cent = base.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cv"), F.col("norm").alias("cnorm")
    )
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "cid",
        (fx.dot("q", "cv").cast("double") / (F.col("norm") * F.col("cnorm"))).alias("csim"),
    )
    return scored.groupBy("vec_id").agg(
        F.max_by("cid", F.struct(F.col("csim"), (-F.col("cid")).cast("double"))).alias("cell"),
        F.first("label").alias("label"),
    )


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k: the corpus is partitioned into
    cells by nearest centroid; each query searches only its N_PROBE
    nearest cells. Centroids here are a fixed deterministic subset of
    the corpus (vec_id N_QUERIES..N_QUERIES+N_CENTROIDS-1) standing in
    for a k-means codebook — the *plan* is the point: assignment is a
    broadcast map-side argmax (max_by over a lexicographic struct, no
    window shuffle), and the candidate join is an equi-join on cell id.
    At 100 TB the cell assignment is write-time metadata (a partition
    column), making probes partition-pruned scans."""
    from pyspark.sql import Window

    base = _quantized(spark, sf_dir)
    cent = base.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cv"), F.col("norm").alias("cnorm")
    )
    scored_cells = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        (fx.dot("q", "cv").cast("double") / (F.col("norm") * F.col("cnorm"))).alias("csim"),
    )
    # argmax centroid per vector: max_by over (csim, -cid) — highest
    # similarity, smallest cid on ties; pure map-side agg, one shuffle
    # on vec_id with partial combine.
    assign = scored_cells.groupBy("vec_id").agg(
        F.max_by("cid", F.struct(F.col("csim"), (-F.col("cid")).cast("double"))).alias("cell")
    )
    corpus = base.join(assign, "vec_id")
    qw = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cid")
    )
    probes = (
        scored_cells.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .withColumn("prank", F.row_number().over(qw))
        .filter(F.col("prank") <= N_PROBE)
        .select("query_id", F.col("cid").alias("cell"))
    )
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    probe_vec = probes.join(F.broadcast(queries), "query_id")
    cands = (
        corpus.join(F.broadcast(probe_vec), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                fx.dot("q", "qv").cast("double") / (F.col("norm") * F.col("qnorm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cos", "rank")
    )


SEMDEDUP_MIN_COS = 0.35  # within-cell prune threshold (SemDeDup tau)


def _argmax_cos(arr, id_field: str, v_field: str, n_field: str, q, norm):
    """In-row argmax-by-cosine over an ascending-id-sorted array of
    (id, vec, norm) centroid structs: strict `>` keeps the earlier
    (smaller-id) entry on ties — the house argmax tie-break (higher
    cosine, then smaller centroid id), identical to the oracles'
    ROW_NUMBER ... ORDER BY csim DESC, cid."""
    best = F.aggregate(
        arr,
        F.struct(
            F.lit(-2.0).alias("s"), F.lit(-1).cast("long").alias("i")
        ),
        lambda acc, c: F.when(
            (fx.dot(c[v_field], q).cast("double") / (c[n_field] * norm))
            > acc["s"],
            F.struct(
                (fx.dot(c[v_field], q).cast("double") / (c[n_field] * norm)).alias(
                    "s"
                ),
                c[id_field].cast("long").alias("i"),
            ),
        ).otherwise(acc),
    )
    return best["i"]


def _semdedup_codebook(base: DataFrame) -> DataFrame:
    """The frozen two-level semdedup quantizer as ONE broadcastable
    row: `_coarse` — the c = ceil(√k) coarse centroids (ascending-id
    struct array) — and `_cmap` — a map from coarse id to that group's
    fine centroids (each group array ascending-id too). k = ceil(√N)
    fine centroids are the deterministic id range
    [N_QUERIES, N_QUERIES + k) of the corpus itself (the
    ivf_assignments stand-in-for-k-means convention); the first c of
    them double as the coarse level, and each fine centroid belongs to
    its nearest coarse centroid (argmax cosine, ties to the smaller
    id). k and c are 1-row aggregates broadcast into the centroid
    filters — fully declarative, no driver collect — and DuckDB
    reproduces the whole derivation with the shared scalar-subquery
    fragment (_SEMDEDUP_ASSIGN_SQL).

    The single row costs O(k·d): the standard IVF deployment artifact
    (every production ANN system ships its quantizer as exactly this
    broadcast structure). At extreme N where √N·d outgrows a broadcast,
    the map splits into a grp-keyed frame and the fine stage becomes an
    equi-join on grp — same math, one extra shuffle of the arrivals."""
    kc = base.agg(
        F.ceil(F.sqrt(F.count("*"))).cast("long").alias("k")
    ).select("k", F.ceil(F.sqrt(F.col("k"))).cast("long").alias("c"))
    cent = (
        base.crossJoin(F.broadcast(kc))
        .filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < F.col("k") + N_QUERIES)
        )
        .select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("cv"),
            F.col("norm").alias("cnorm"),
        )
    )
    coarse_row = (
        base.crossJoin(F.broadcast(kc))
        .filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < F.col("c") + N_QUERIES)
        )
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("ccid"),
                        F.col("q").alias("ccv"),
                        F.col("norm").alias("ccnorm"),
                    )
                )
            ).alias("_coarse")
        )
    )
    cmap_row = (
        cent.crossJoin(F.broadcast(coarse_row))
        .select(
            "cid",
            "cv",
            "cnorm",
            _argmax_cos(
                F.col("_coarse"), "ccid", "ccv", "ccnorm",
                F.col("cv"), F.col("cnorm"),
            ).alias("grp"),
        )
        .groupBy("grp")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cid", "cv", "cnorm"))
            ).alias("cl")
        )
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("grp", "cl"))
            ).alias("_cmap")
        )
    )
    return coarse_row.crossJoin(F.broadcast(cmap_row))


def _with_cells(base: DataFrame) -> DataFrame:
    """`base` plus its semdedup `cell` column, computed entirely
    IN-ROW against the broadcast two-level codebook (√N cells; see
    _semdedup_codebook).

    Why √N cells: the two stages this geometry feeds pull in opposite
    directions — the within-cell pair stage costs ~N·(N/k), so
    k = √N balances pair cost at N^1.5 (the SemDeDup paper's own
    sizing). Both failure modes were MEASURED on the x30 tiled corpus
    (BASELINE.md round-11 record): a fixed codebook sends the pair
    stage quadratic (semdedup_cells 8.3→47→178 s at x1/x10/x30), and a
    pinned-occupancy k = N/64 sends assignment quadratic (466 s at
    x30). Why two-level assignment: the r11 flat argmax's N·k = N^1.5
    scoring term dominated the measured exponent (0.87 at x30);
    hierarchical assignment scores N·(c + E[group]) ≈ N·2·√k ≈ N^1.25
    with the same cell geometry feeding the pair stage — measured at
    x30 on the honest v2 corpus (SCALE_BENCH_R12.json, round-12
    BASELINE record): semdedup_cells 118→50 s, e 0.874→0.545;
    semdedup_greedy_keep 206→45 s, e 1.066→0.584.

    Shape: coarse argmax over c = ⁴√N-ish centroids picks the group,
    fine argmax over only that group's ~√k fine centroids picks the
    cell — ~2·√k dots per vector instead of the flat argmax's k, and
    ZERO shuffles on the corpus side (the r11 flat version shuffled N
    rows through a groupBy(vec_id) and its consumers re-joined on
    vec_id; this is a pure projection over the scan).

    The cell FUNCTION changes vs the flat argmax (a vector near a
    group boundary can land in a different — equally valid — cell):
    the standard IVF coarse-quantization trade, sound here because the
    codebook is a partitioner, not a model — cell geometry (√N cells,
    ~√N occupancy) is what the pair stage's Σcell² bound needs, not
    any particular cell identity. Oracle parity stays exact at every
    SF because DuckDB replays the identical two-level derivation
    (shared fragment, shared tie-breaks).

    A coarse centroid that WINS some vector normally self-assigns as
    a fine centroid (cos(x,x)=1, ties to the smaller id), so its group
    contains at least itself — but that proof covers EXACT ties only:
    under double rounding a near-parallel smaller-id coarse centroid
    can capture the self-assignment (cos rounds to exactly 1.0) while
    a vector still argmax-selects the now-orphaned group. The fine
    lookup therefore COALESCEs to the coarse centroid's own id — a
    valid fine-centroid id, since the coarse set is the first c fine
    centroids — instead of emitting a NULL cell; the oracle's assign
    CTE mirrors this with a LEFT JOIN + COALESCE(cid, grp) so both
    engines degrade identically on the orphan path."""
    return assign_cells(base, _semdedup_codebook(base))


def assign_cells(vecs: DataFrame, codebook: DataFrame) -> DataFrame:
    """`vecs` (with q and norm) plus the `cell` the broadcast two-level
    codebook row assigns each vector: the coarse argmax picks the
    group, the fine argmax over that group's centroids picks the cell,
    and an orphaned group falls back to its own id (see _with_cells)."""
    staged = vecs.crossJoin(F.broadcast(codebook))
    staged = staged.withColumn(
        "_grp",
        _argmax_cos(
            F.col("_coarse"), "ccid", "ccv", "ccnorm",
            F.col("q"), F.col("norm"),
        ),
    )
    return staged.withColumn(
        "cell",
        F.coalesce(
            _argmax_cos(
                F.element_at(F.col("_cmap"), F.col("_grp")),
                "cid", "cv", "cnorm", F.col("q"), F.col("norm"),
            ),
            F.col("_grp"),
        ),
    ).drop("_coarse", "_cmap", "_grp")


#: The oracle twins of _semdedup_codebook's centroid windows — shared
#: by both semdedup oracles so the two engines can never disagree on
#: k, c, or the two-level assignment itself.
_SEMDEDUP_CENT_SQL = f"""
      SELECT vec_id AS cid, q AS cv, norm AS cnorm FROM base
      WHERE vec_id >= {N_QUERIES}
        AND vec_id < {N_QUERIES} + (SELECT CAST(CEIL(SQRT(COUNT(*)))
              AS BIGINT) FROM base)"""

_SEMDEDUP_COARSE_SQL = f"""
      SELECT vec_id AS ccid, q AS ccv, norm AS ccnorm FROM base
      WHERE vec_id >= {N_QUERIES}
        AND vec_id < {N_QUERIES} + (SELECT CAST(CEIL(SQRT(CEIL(SQRT(
              COUNT(*))))) AS BIGINT) FROM base)"""


def semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster dedup in the SemDeDup mold (Abbas et al.
    2023): cluster the embedding space, then inside each cluster drop
    vectors that are cosine-similar (≥ SEMDEDUP_MIN_COS) to earlier
    ones — the standard embedding-dedup mode, where LSH pair mining
    (embedding_neardup) is the recall-oriented complement. Keep rule
    here is the ANY-PRIOR-NEIGHBOR rule, deliberately NOT the paper's
    sequential greedy: a vector is dropped iff ANY smaller-id
    cell-mate sits above the threshold, whether or not that mate was
    itself dropped. This is a strict superset of the greedy's drop set
    (greedy condemns only on KEPT mates, and kept ⊆ prior), so on
    similarity chains a–b–c it drops both b and c where the greedy
    would resurrect c — conservative toward MORE dedup, and in
    exchange the verdict is one join + one aggregate, no iterative
    closure. The exact kept-set greedy is the separate
    `semdedup_greedy_keep` key; `pipeline_curate_v4` uses this
    conservative rule and documents that choice. Emits one row per
    vector — cell, how many prior neighbors condemned it, the
    strongest such similarity, and the verdict — so the drop rate and
    its evidence are auditable.

    Shape (the 100 TB formulation): cell assignment is the IN-ROW
    two-level broadcast-codebook argmax (_with_cells — √N cells so the
    pair stage stays N^1.5-bounded, ~2·√k dots per vector, zero
    corpus-side shuffles; the fixed ivf_assignments codebook measured
    quadratic on the tiled corpus, see _with_cells); pair
    generation is an EQUI-JOIN on cell (merge-pinned: both sides are
    corpus-proportional, broadcast would cap scale; pinned by
    tests/test_plans.py). The verdict aggregation is a
    map-side-combined groupBy on the larger id. Only (id, cell,
    quantized vec, norm) rows ever move.

    The assigned corpus is PERSISTED for the run of this plan (r14):
    the frame is referenced three times (both pair sides + the verdict
    spine), and each reference re-derived the codebook aggregates and
    re-ran the two-level argmax over the scan — the argmax is a nested
    higher-order-function chain that evaluates interpreted, so paying
    it once instead of three times dominates the cache cost at every
    scale (interleaved A/B at sf0.1: 2.42 -> 1.78 s; x10 17.3 -> 10.4).
    The cache is caller-owned: the one-row-per-vector output is returned
    lazily over it."""
    from pyspark.storagelevel import StorageLevel

    base = _quantized(spark, sf_dir)
    corpus = _with_cells(base).persist(StorageLevel.MEMORY_AND_DISK)
    left = corpus.select(
        F.col("cell"),
        F.col("vec_id").alias("va"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
    )
    right = corpus.select(
        F.col("cell"),
        F.col("vec_id").alias("vb"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
    )
    pairs = (
        left.hint("merge")
        .join(right, "cell")
        .filter(F.col("va") < F.col("vb"))
        .select(
            "vb",
            F.round(
                fx.dot("qa", "qb").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_MIN_COS)
    )
    condemned = pairs.groupBy(F.col("vb").alias("vec_id")).agg(
        F.count("*").alias("n_similar_prior"),
        F.max("cos").alias("max_prior_cos"),
    )
    return (
        corpus.select("vec_id", "cell")
        .join(condemned, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_similar_prior", F.lit(0)).alias("n_similar_prior"),
            "max_prior_cos",
            F.col("max_prior_cos").isNotNull().cast("int").alias("is_dropped"),
        )
    )


def _greedy_keep_cell(pdf):
    """One cell's sequential greedy over its (va < vb) similarity
    edges: scan the edge-touched ids ascending and keep an id unless an
    already-kept id is its neighbor. Returns (vec_id, is_kept) for
    every id the edges touch."""
    import pandas as pd

    pred: dict[int, list[int]] = {}
    vs: set[int] = set()
    for va, vb in zip(pdf["va"], pdf["vb"]):
        pred.setdefault(int(vb), []).append(int(va))
        vs.add(int(va))
        vs.add(int(vb))
    kept: set[int] = set()
    for v in sorted(vs):
        if all(u not in kept for u in pred.get(v, ())):
            kept.add(v)
    order = sorted(vs)
    return pd.DataFrame(
        {"vec_id": order, "is_kept": [1 if v in kept else 0 for v in order]}
    )


def semdedup_greedy_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact kept-set greedy of SemDeDup (Abbas et al. 2023) —
    the faithful companion to semdedup_cells' conservative
    any-prior-neighbor rule: within each IVF cell, vectors are scanned
    in ascending id order and a vector is dropped iff it is
    cosine-similar (≥ SEMDEDUP_MIN_COS) to an already-KEPT cell-mate.
    On similarity chains a–b–c (where a~b, b~c, a≁c) the greedy drops
    only b and RESURRECTS c; semdedup_cells drops both. Emits
    (vec_id, cell, is_kept) for every vector, so the two rules'
    kept-set difference is directly queryable (pinned subset + chain
    semantics in tests/test_operators.py).

    Shape: pair generation is the same cell equi-join as
    semdedup_cells (cost Σ cell², never corpus²; only ids cross the
    shuffle after the cos filter). The sequential dependency never
    leaves a cell (edges are cell-local by construction), so the
    greedy runs as ONE grouped-map pass — groupBy(cell) →
    applyInPandas replaying the ascending-id scan per cell — exactly
    the per-cluster sequential dedup of the SemDeDup paper, one
    shuffle of (cell, id-pair) rows and zero driver rounds. The Arrow
    task holds a cell's EDGE list (dedup-rate-sized), not its vectors;
    ivf_cell_balance_report monitors the cell-size bound. The DuckDB
    oracle replays the identical greedy as one ordered list_reduce. The
    cell-assigned corpus cache is caller-owned: the one-row-per-vector
    output is returned lazily over it."""
    from pyspark.storagelevel import StorageLevel

    base = _quantized(spark, sf_dir)
    # Persisted for the same reason as semdedup_cells (r14): three
    # references (pair sides + vertex spine) each re-ran the
    # interpreted two-level argmax and the codebook aggregates; the
    # cache replaces the old vertex-only persist and covers all three.
    corpus = _with_cells(base).persist(StorageLevel.MEMORY_AND_DISK)
    left = corpus.select(
        "cell",
        F.col("vec_id").alias("va"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
    )
    right = corpus.select(
        "cell",
        F.col("vec_id").alias("vb"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
    )
    edges = (
        left.hint("merge")
        .join(right, "cell")
        .filter(F.col("va") < F.col("vb"))
        .select(
            "cell",
            "va",
            "vb",
            F.round(
                fx.dot("qa", "qb").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_MIN_COS)
        .select("cell", "va", "vb")
    )
    verts = corpus.select("vec_id", "cell")
    decided = edges.groupBy("cell").applyInPandas(
        _greedy_keep_cell, "vec_id long, is_kept int"
    )
    return verts.join(decided, "vec_id", "left").select(
        "vec_id",
        "cell",
        # edge-free vectors never reach the grouped map: kept outright.
        F.coalesce("is_kept", F.lit(1)).cast("int").alias("is_kept"),
    )


OUT_FACTOR = 4  # outlier: squared distance > 4× the label mean


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection (the vector-quality filter a
    curation pipeline runs before indexing): flag vectors whose squared
    L2 distance to their LABEL's centroid exceeds OUT_FACTOR× the
    label's mean squared distance — mislabeled or corrupted embeddings
    light up, dense cluster cores stay dark.

    Exactness: the centroid mean is rational (sum/n), so distances are
    computed n²-scaled — d2n2 = Σ(n·x_i − sum_i)² — entirely in
    integers; the flag compares d2n2·n_label > OUT_FACTOR·Σd2n2 with
    DECIMAL(38,0) one-operand casts so nothing wraps at any corpus
    size, and both engines agree bit-for-bit (no float mean, no sqrt).

    Shape: pass 1 builds per-label per-dim sums (posexplode +
    map-side-combined groupBy — the embedding_centroids shape),
    reassembled into one sums-array row per label (labels × 64 longs —
    tiny) that BROADCASTS back onto the corpus; the distance is an
    in-row zip_with fold; pass 2's label stats are another tiny
    aggregate that broadcasts back. The corpus is scanned twice and
    shuffles never carry vectors.

    On the driver's clean Gaussian corpus no vector flags — CORRECT
    (high-dimensional distances concentrate; there are no outliers to
    find). The gate fires on genuinely corrupted vectors — pinned by
    tests/test_operators.py::test_embedding_outliers_flags_planted_corruption."""
    emb = fan_out(spark, sf_dir, "embeddings", load_table(spark, sf_dir, "embeddings"))
    q = emb.select("vec_id", "label", fx.quantize_embedding(F.col("embedding")).alias("q"))
    sums = (
        q.select("label", F.posexplode("q").alias("pos0", "qv"))
        .groupBy("label", "pos0")
        .agg(F.count("*").alias("n_pos"), F.sum("qv").alias("sum_q"))
        .groupBy("label")
        .agg(
            F.max("n_pos").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "sum_q"))),
                lambda s: s["sum_q"],
            ).alias("sums"),
        )
    )
    dec = "decimal(38,0)"
    d2n2 = F.aggregate(
        F.zip_with(
            "q",
            "sums",
            lambda x, s: (
                (F.col("n") * x - s).cast(dec) * (F.col("n") * x - s)
            ),
        ),
        F.lit(0).cast(dec),
        lambda acc, x: acc + x,
    )
    scored = q.join(F.broadcast(sums), "label").select(
        "vec_id", "label", d2n2.alias("d2n2"), "n"
    )
    stats = scored.groupBy("label").agg(F.sum("d2n2").alias("tot"))
    return (
        scored.join(F.broadcast(stats), "label")
        .select(
            "vec_id",
            "label",
            "d2n2",
            (
                F.col("d2n2") * F.col("n")
                > F.lit(OUT_FACTOR) * F.col("tot")
            ).cast("int").alias("is_outlier"),
        )
    )


PQ_M = 8               # product-quantization subspaces
PQ_SUB = DIM // PQ_M   # dims per subspace
PQ_K = 16              # codewords per subspace (4-bit codes)
PQ_SHORTLIST = 100     # ADC shortlist depth fed to the exact rerank


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k, full production funnel: encode →
    ADC shortlist → exact rerank. Each vector is encoded as PQ_M 4-bit
    codes (nearest codeword per subspace); queries score ALL candidates
    with asymmetric distance computation — a per-query lookup table of
    query↔codeword subdistances summed over the code, PQ_M table
    lookups per candidate instead of DIM multiplies — keep the
    PQ_SHORTLIST best, and rerank only those with the exact integer
    squared-L2 on the full vectors (the FAISS IndexPQ + refine shape).
    Output: exact-distance top-k of the shortlist.

    Codewords are a fixed deterministic corpus subset (vec_id
    N_QUERIES..N_QUERIES+PQ_K-1, per subspace), standing in for a
    trained codebook exactly as ann_topk_ivf's centroids do — the
    PLAN is the point: encoding is a broadcast-codebook map-side
    argmin (128 tiny rows), the corpus never shuffles raw vectors
    (the ADC pass touches 8-byte codes only; the rerank fetches full
    vectors for |Q|·PQ_SHORTLIST ids via a broadcast semi-join), and
    the distance tables (PQ_M·PQ_K longs per query) broadcast to meet
    the codes map-side. All distances are integer, so rank order is
    bit-identical in DuckDB at any parallelism.

    At 100 TB: codes are write-time columns (8 B/vec beside the
    payload), the ADC scan is embarrassingly parallel, and the same
    two-level layout as IVF (cell partition column + in-cell codes)
    turns probes into partition-pruned code scans. Recall against
    exact L2 is pinned by ann_pq_recall_eval + tests (the untrained
    subset codebook on near-orthogonal synthetic vectors is the
    recall floor; a k-means codebook only raises it)."""
    from pyspark.sql import Window

    base = _quantized(spark, sf_dir)
    scored = _pq_adc_scores(base)
    return _pq_shortlist_rerank(base, scored, PQ_SHORTLIST)


def _pq_enc(base: DataFrame) -> DataFrame:
    """(vec_id, m, cid, d2): squared-L2 of every vector's m-th
    subvector to every codeword — the shared input of both the code
    assignment (argmin per (vec, m)) and the per-query ADC distance
    tables. Broadcast-codebook map-side; PQ_M·PQ_K rows per vector."""
    sub_arr = F.array(
        *[F.slice("q", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )
    cb = (
        base.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
        .select((F.col("vec_id") - N_QUERIES).alias("cid"), F.posexplode(sub_arr).alias("m", "cw"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sub"), F.col("cw"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        base.select("vec_id", F.posexplode(sub_arr).alias("m", "sub"))
        .join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cid", d2.alias("d2"))
    )


def pq_codes(base: DataFrame) -> DataFrame:
    """(vec_id, codes): each vector's PQ_M nearest-codeword ids in
    subspace order — the 8-byte compressed representation a write path
    stores beside (or instead of) the payload."""
    return (
        _pq_enc(base)
        .groupBy("vec_id", "m")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("code"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def _pq_qtables(base: DataFrame) -> DataFrame:
    """(query_id, dtq): per-query flattened ADC lookup table —
    dtq[m·PQ_K + cid + 1] = squared-L2 of the query's m-th subvector
    to codeword cid. PQ_M·PQ_K longs per query, broadcastable."""
    return (
        _pq_enc(base)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("m") * PQ_K + F.col("cid")).alias("idx"),
            "d2",
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "d2"))),
                lambda s: s["d2"],
            ).alias("dtq")
        )
    )


def _pq_adc_scores(base: DataFrame) -> DataFrame:
    """(query_id, vec_id, adist2): asymmetric distance of every
    (query, candidate) pair — PQ_M table lookups per pair, computed
    where the codes live (the broadcast query tables come to them)."""
    adist = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(PQ_M - 1)),
            F.col("codes"),
            lambda m, c: F.element_at("dtq", (m * PQ_K + c + 1).cast("int")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        pq_codes(base).crossJoin(F.broadcast(_pq_qtables(base)))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adist.alias("adist2"))
    )


def _pq_shortlist_rerank(
    base: DataFrame, scored: DataFrame, shortlist_n: int
) -> DataFrame:
    """ADC shortlist (top shortlist_n by approximate distance) → exact
    integer-L2 rerank on the full vectors → top-k. The rerank fetches
    |Q|·shortlist_n full vectors via a broadcast join; the corpus side
    never shuffles."""
    from pyspark.sql import Window

    ws = Window.partitionBy("query_id").orderBy("adist2", "vec_id")
    shortlist = (
        scored.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist_n)
        .select("query_id", "vec_id")
    )
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with("q", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rerank = base.join(
        F.broadcast(shortlist.join(queries, "query_id")), "vec_id"
    ).select("query_id", "vec_id", d2.alias("d2"))
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "d2", "rank")
    )


IVFPQ_SHORTLIST = 50   # per-query ADC shortlist within the probed cells


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF+PQ ANN (the FAISS IndexIVFPQ shape, composed from
    this module's index primitives): coarse quantizer prunes the
    search to each query's N_PROBE nearest cells (ivf_assignments /
    the partition-pruned layout of files.write_ivf_index), the PQ
    codes of ONLY those cells are ADC-scanned (PQ_M table lookups per
    candidate), and the shortlist reranks with exact integer L2 —
    cells × codes × rerank, each stage cutting the next stage's input
    by orders of magnitude.

    Scale shape: cell assignment and codes are write-time columns;
    the probe list (|Q|·N_PROBE rows), distance tables, and rerank
    shortlist all broadcast, so the corpus-side plan is a
    partition-prunable scan + in-row lookups — no corpus shuffle
    anywhere. All distances integer; DuckDB twin hash-matches."""
    base = _quantized(spark, sf_dir)
    cent = base.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cv"), F.col("norm").alias("cnorm")
    )
    from pyspark.sql import Window

    qw = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            "cid",
            (fx.dot("q", "cv").cast("double") / (F.col("norm") * F.col("cnorm"))).alias("csim"),
        )
        .withColumn("prank", F.row_number().over(qw))
        .filter(F.col("prank") <= N_PROBE)
        .select("query_id", F.col("cid").alias("cell"))
    )
    coded = pq_codes(base).join(
        ivf_assignments(spark, sf_dir).select("vec_id", "cell"), "vec_id"
    )
    cands = (
        coded.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "codes")
    )
    adist = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(PQ_M - 1)),
            F.col("codes"),
            lambda m, c: F.element_at("dtq", (m * PQ_K + c + 1).cast("int")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cands.join(F.broadcast(_pq_qtables(base)), "query_id").select(
        "query_id", "vec_id", adist.alias("adist2")
    )
    return _pq_shortlist_rerank(base, scored, IVFPQ_SHORTLIST)


def _l2_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer squared-L2 top-k (the ground truth PQ
    approximates): broadcast the query vectors, fold the distance
    in-row, per-query heap. d2 is bounded by DIM·(2·max|q|)² ≈ 4e9 —
    BIGINT-exact at any corpus size."""
    from pyspark.sql import Window

    base = _quantized(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with("q", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id")
    )


def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall of the PQ top-k against the exact squared-L2
    top-k — the quality gate every compressed index ships with (PQ
    approximates L2, so L2 brute force is its ground truth, not the
    cosine ranking ann_recall_eval uses for LSH). Same two-small-
    result-sets join shape as ann_recall_eval; integer percentage."""
    exact = _l2_topk_brute(spark, sf_dir)
    pq = ann_topk_pq(spark, sf_dir).select("query_id", "vec_id")
    hits = exact.join(pq, ["query_id", "vec_id"], "left_semi")
    per_q = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hit_q = hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    return (
        per_q.join(hit_q, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        )
        .selectExpr(
            "query_id", "n_exact", "n_hit", "(n_hit * 100) div n_exact AS recall_pct"
        )
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components: quantize once, posexplode to
    (label, pos, q) rows, one map-side-combined groupBy(label, pos) —
    sums are integer-exact at any parallelism, the mean is one double
    division at the end. The output IS a k-means maximization step
    (given labels as assignments), i.e. the codebook builder the IVF
    index needs — at 100 TB the shuffle carries 64 longs per (label,
    partition), nothing else."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = fx.quantize_embedding(F.col("embedding"))
    return (
        emb.select("label", F.posexplode(q).alias("pos0", "qv"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.count("*").alias("n"), F.sum("qv").alias("sum_q"))
        .select(
            "label", "pos", "n", "sum_q",
            F.round(F.col("sum_q").cast("double") / F.col("n").cast("double"), 4).alias("mean_q"),
        )
    )


DRIFT_MEAN_Q = 100  # alarm when a dim's mean shifts > 0.1 (100 e3-units)


def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift between two corpus snapshots (the
    vec_id-parity split stands in for old/new ingest batches): exact
    integer sums and counts per side, the mean shift in quantized
    (e3) units, and a drift verdict at |shift| > DRIFT_MEAN_Q — the
    regression check a pipeline runs when the upstream embedding model
    is swapped, before mixing incompatible vectors into one index.

    Exactness: the shift compares cross-multiplied integer sums
    (sum_new·n_old − sum_old·n_new), so the verdict never touches a
    float; magnitudes stay < 2⁶³ by corpus construction. Shape: one
    posexplode + ONE map-side-combined groupBy(dim) with conditional
    sums per side — DIM output groups, shuffle size independent of
    corpus size (embedding_dim_stats' shape, one pass for both
    snapshots). On the synthetic corpus both halves draw from the
    same distribution so every verdict is 0 — correct, not dead: the
    planted-shift fixture test proves the alarm fires."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = fx.quantize_embedding(F.col("embedding"))
    is_new = (F.col("vec_id") % 2 == 1).cast("long")
    expl = emb.select(
        is_new.alias("is_new"), F.posexplode(q).alias("pos0", "qv")
    )
    per_dim = expl.groupBy((F.col("pos0") + 1).alias("dim")).agg(
        F.sum(1 - F.col("is_new")).alias("n_old"),
        F.sum("is_new").alias("n_new"),
        F.sum(F.col("qv") * (1 - F.col("is_new"))).alias("sum_old"),
        F.sum(F.col("qv") * F.col("is_new")).alias("sum_new"),
    )
    return drift_verdicts(per_dim)


def dim_moments(vecs: DataFrame, prefix: str) -> DataFrame:
    """Per-dimension (n_<prefix>, sum_<prefix>) integer moments of an
    embedding frame — the decomposable state both the batch report and
    the streaming monitor accumulate (sums and counts merge across
    batches without loss, the IVM property)."""
    q = fx.quantize_embedding(F.col("embedding"))
    return (
        vecs.select(F.posexplode(q).alias("pos0", "qv"))
        .groupBy((F.col("pos0") + 1).alias("dim"))
        .agg(
            F.count("*").alias(f"n_{prefix}"),
            F.sum("qv").alias(f"sum_{prefix}"),
        )
    )


def drift_verdicts(per_dim: DataFrame) -> DataFrame:
    """The report tail shared by embedding_drift_report and the
    streaming monitor's view: exact cross-multiplied shift + verdict
    over a (dim, n_old, n_new, sum_old, sum_new) frame."""
    shift_num = F.col("sum_new") * F.col("n_old") - F.col("sum_old") * F.col("n_new")
    denom = F.col("n_old") * F.col("n_new")
    return per_dim.select(
        "dim",
        "n_old",
        "n_new",
        "sum_old",
        "sum_new",
        # |shift| and sign separately: nonnegative integer division
        # agrees between engines; signed division rounding would not
        F.when(
            denom > 0,
            F.expr("abs(sum_new * n_old - sum_old * n_new) div (n_old * n_new)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("abs_shift_q"),
        F.signum(shift_num).cast("int").alias("shift_sign"),
        F.when(
            denom > 0,
            (F.abs(shift_num) > F.lit(DRIFT_MEAN_Q) * denom).cast("int"),
        )
        .otherwise(F.lit(0))
        .alias("is_drifted"),
    )


def ivf_cell_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health: per-cell population and corpus share — the
    skew audit an index maintainer watches, because at 100 TB a cell
    is a storage partition and an over-full cell is both a hot probe
    (every query touching it scans it all) and a straggler task. When
    the report shows imbalance, the fix is re-training the codebook
    or splitting the hot cell, and this table says which one.

    Shape: the shared broadcast-argmax assignment (ivf_assignments)
    → ONE map-side-combined count per cell (N_CENTROIDS groups) with
    the corpus total as a broadcast 1-row aggregate."""
    assign = ivf_assignments(spark, sf_dir)
    sizes = assign.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    total = sizes.agg(F.sum("n_vecs").alias("_t"))
    return (
        sizes.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vecs",
            F.expr("n_vecs * 1000000 div _t").alias("share_ppm"),
        )
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column —
    count, exact quantized mean, min/max, and spread — the calibration
    pass a quantizer/whitener runs before fixing its codebook (dead or
    low-variance dimensions show up immediately).

    Shape: quantize once, posexplode to (pos, q) rows, ONE map-side-
    combined groupBy(pos) with 64 output groups — the shuffle carries
    64 partial rows per map partition regardless of corpus size.
    Integer sums (reassociation-immune), min/max order-free; the mean
    is one double division at the end."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = fx.quantize_embedding(F.col("embedding"))
    return (
        emb.select(F.posexplode(q).alias("pos0", "qv"))
        .groupBy((F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("sum_q"),
            F.min("qv").alias("min_q"),
            F.max("qv").alias("max_q"),
        )
        .select(
            "pos",
            "n",
            "sum_q",
            "min_q",
            "max_q",
            F.round(
                F.col("sum_q").cast("double") / F.col("n").cast("double"), 4
            ).alias("mean_q"),
            (F.col("max_q") - F.col("min_q")).alias("range_q"),
        )
    )


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by majority vote: each query vector takes
    the label most common among its 5 exact-cosine nearest neighbors
    (tie → smaller label). The standard eval that turns a similarity
    index into a classifier — and the quality probe for the embedding
    space itself.

    Shape: identical to ann_topk_brute's broadcast plan (queries
    broadcast, corpus never shuffles), then the vote is a combined
    groupBy over ≤ k·|Q| candidate rows — driver-scale. Determinism:
    quantized-integer dot products, cosine rounded before ranking,
    (cos, vec_id) and (votes, label) orderings are total."""
    from pyspark.sql import Window

    base = _quantized(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("nb_label"),
            "vec_id",
            F.round(
                fx.dot("q", "qv").cast("double") / (F.col("norm") * F.col("qnorm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    nn = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )
    votes = nn.groupBy("query_id", "true_label", "nb_label").agg(
        F.count("*").alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nb_label")
    )
    return (
        votes.withColumn("vrank", F.row_number().over(wv))
        .filter(F.col("vrank") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("nb_label").alias("pred_label"),
            "votes",
            (F.col("nb_label") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


KCENTER_K = 8


def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the
    embedding-space core-set picker of Sener & Savarese 2018, public):
    seed with the smallest vec_id, then 7 rounds of "add the point
    farthest from its nearest chosen center" (squared L2 over the
    shared millis-quantized integer vectors — BIGINT-exact, ties →
    smallest vec_id). Output: the selection order with each center's
    coverage radius² at pick time — the radius column IS the k-center
    objective trace a curation owner reads to choose k.

    Shape: the quantized corpus persists once; each round is one
    in-row distance map against the 64 broadcast literals of the
    newest center, a LEAST() fold into a flat (vec_id, q, mind2)
    frame (held per round, predecessor released — constant lineage),
    and a TakeOrderedAndProject argmax (per-partition heaps, no global
    sort). The 1-row collect per round is the algorithm's own
    synchronization point (center k+1 depends on center k), the
    dedup_cluster driver-scalar contract. Nothing corpus-shaped ever
    reaches the driver, and rounds scale with scan bandwidth — the
    standard distributed k-center layout at 100 TB."""
    with fx.cache_scope() as scope:
        cur = scope.hold(
            _quantized(spark, sf_dir).select(
                "vec_id", "q", F.lit(None).cast("long").alias("mind2")
            )
        )
        first = cur.orderBy("vec_id").limit(1).collect()[0]
        chosen: list[tuple[int, int, int]] = [(1, first.vec_id, 0)]
        last_q = first.q
        for rank in range(2, KCENTER_K + 1):
            cq = F.array(*[F.lit(int(v)) for v in last_q])
            d2 = F.aggregate(
                F.zip_with("q", cq, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            nxt = scope.hold(
                cur.select("vec_id", "q", F.least(F.col("mind2"), d2).alias("mind2"))
            )
            scope.release(cur)
            cur = nxt
            far = (
                cur.filter(~F.col("vec_id").isin([c[1] for c in chosen]))
                .orderBy(F.col("mind2").desc(), "vec_id")
                .limit(1)
                .collect()[0]
            )
            chosen.append((rank, far.vec_id, far.mind2))
            last_q = far.q
    return spark.createDataFrame(
        chosen, "center_rank int, vec_id bigint, radius2 bigint"
    )


PI_ROUNDS = 3
PI_SCALE = 1000  # iterate vector held at max |component| = 1000


def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the corpus embedding second-moment
    matrix by POWER ITERATION (uncentered — the Gram/second-moment
    eigenvector, stated plainly; mean-centering would only add a rank-1
    correction): 3 rounds of v ← Σᵢ (qᵢ·v)·qᵢ over the millis-quantized
    integer vectors, renormalized each round to max |component| =
    1000 by integer division. The direction a drift monitor projects
    onto, and the first axis a quantizer/IVF designer aligns cells to.

    Exactness: qᵢ·v and the rescale are BIGINT (truncation toward zero
    — identical in both engines, verified including negatives); the
    64 per-dimension sums accumulate in DECIMAL(38,0) (at 100 TB
    Σᵢ sᵢ·qᵢ reaches ~10²¹, past BIGINT — the pagerank one-operand-cast
    pattern). Result is therefore partitioning- and order-independent.

    Shape (round-13 optimization, guide §1.2 "algorithm first"): the
    second-moment matrix A = Σᵢ qᵢqᵢᵀ is FIXED across rounds, so it is
    computed once by _pi_gram (ONE corpus scan) and every matvec is
    exact driver-side integer arithmetic on the 64×64 table — the old
    shape re-scanned the persisted corpus per matvec (one scan + one
    64-wide DECIMAL aggregate + one codegen'd plan per round), which
    is 2·PI_ROUNDS scans for the deflated trainer and was measured
    build-dominated at sf0.1 (each round pays plan+codegen+decimal
    aggregation on a corpus that never changes). One scan is also the
    I/O floor at 100 TB: the matvec chain is a linear recurrence in a
    fixed matrix, so nothing beyond A is ever needed from the data."""
    base = _quantized(spark, sf_dir).select("q")
    v = [PI_SCALE] * DIM
    G = _pi_gram(base)
    for _ in range(PI_ROUNDS):
        v = _pi_rescale(_gram_matvec(G, v))
    return spark.createDataFrame(
        [(d, v[d]) for d in range(DIM)], "dim int, comp_e3 bigint"
    )


def _pi_gram(base: DataFrame) -> list[list[int]]:
    """The 64×64 second-moment (Gram) matrix A[i][j] = Σ_rows qᵢ·qⱼ in
    ONE scan: posexplode(q) fans each row to 64 (i, qᵢ, q) rows and a
    map-side-combined groupBy(i) sums the 64 BIGINT products — 64 rows
    × 65 columns ever shuffle, nothing corpus-shaped moves, and the
    matvec chain downstream is driver-side exact-int arithmetic.

    Layout note (measured): a single 2080-expression upper-triangle
    aggregate computes the same matrix in one operator but falls out
    of whole-stage codegen (spark.sql.codegen.maxFields) and ran
    18.8 s LONG / 36 s DECIMAL at sf0.1 vs 0.94 s for this 64-wide
    shape — expression count, not row count, was the cost.

    Overflow: |q| ≤ ~10³ (quantize_embedding at 3 decimals on
    unit-scale embeddings; measured max 577 on this corpus), so each
    product is ≤ ~10⁶ and the BIGINT sums hold to ~9·10¹² rows ≈ 5 PB
    of raw 64-dim embedding payload — two orders past the 100 TB
    target. Past that, move the sums to DECIMAL(38,0) (measured 3.3×
    the aggregate cost at sf0.1)."""
    rows = (
        base.select(F.posexplode(F.col("q")).alias("i", "qi"), F.col("q"))
        .groupBy("i")
        .agg(
            *[
                F.sum(F.col("qi") * F.element_at("q", j + 1)).alias(f"g{j}")
                for j in range(DIM)
            ]
        )
        .collect()
    )
    G = [[0] * DIM for _ in range(DIM)]
    for r in rows:
        for j in range(DIM):
            G[int(r["i"])][j] = int(r[f"g{j}"])
    return G


def _gram_matvec(G: list[list[int]], v: list[int]) -> list[int]:
    """u = A·v on the driver in exact Python ints — bit-identical to
    the per-scan formulation Σᵢ (qᵢ·v)·qᵢ by commuting the two finite
    sums (both are exact integer sums, no rounding anywhere)."""
    return [sum(G[d][k] * v[k] for k in range(DIM)) for d in range(DIM)]


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero (b > 0) — Python's //
    floors, but Spark `div` and DuckDB HUGEINT `//` truncate; every
    driver-side quotient in the trainers must match them."""
    return a // b if a >= 0 else -((-a) // b)


def _pi_rescale(u: list[int]) -> list[int]:
    m = max(max(abs(x) for x in u), 1)
    return [_tdiv(x * PI_SCALE, m) for x in u]


def embedding_pca2_deflated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction of the embedding second-moment matrix
    by DEFLATED power iteration: run embedding_top_component's exact
    loop to get v1, then iterate w ← A·w − v1·((v1·A·w) div (v1·v1))
    from an alternating-sign start — the Hotelling deflation with the
    projection coefficient in truncating integer division, so the whole
    two-direction basis is bit-deterministic and oracle-replayable.
    The truncated coefficient leaves ≤1-unit residual v1 leakage per
    round (~0.1 % of PI_SCALE — the orthogonality test bounds it);
    that is the price of an integer-exact trainer, stated plainly.
    Output: per dimension, both directions (comp1_e3, comp2_e3) — the
    2-D projection basis a drift monitor or visualization samples onto.

    Shape (round-13 optimization): both directions iterate in the SAME
    fixed second-moment matrix, so ONE _pi_gram scan replaces what was
    a persisted corpus re-scanned per matvec (2·PI_ROUNDS = 6 scans,
    each paying plan+codegen+a 64-wide DECIMAL aggregate — measured
    build-dominated, 6.2 s of the key's 6.5 s at sf0.1); every matvec
    including the deflation is now exact driver-side integer
    arithmetic on the 64×64 table, bit-identical by commuting the two
    finite integer sums. No persist either — the corpus is read
    exactly once, the 100 TB I/O floor for this computation."""
    base = _quantized(spark, sf_dir).select("q")
    G = _pi_gram(base)
    v1 = [PI_SCALE] * DIM
    for _ in range(PI_ROUNDS):
        v1 = _pi_rescale(_gram_matvec(G, v1))
    v1v1 = sum(x * x for x in v1)
    w = [PI_SCALE if d % 2 == 0 else -PI_SCALE for d in range(DIM)]
    for _ in range(PI_ROUNDS):
        u = _gram_matvec(G, w)
        p = _tdiv(sum(a * b for a, b in zip(v1, u)), v1v1)
        w = _pi_rescale([u[d] - v1[d] * p for d in range(DIM)])
    return spark.createDataFrame(
        [(d, v1[d], w[d]) for d in range(DIM)],
        "dim int, comp1_e3 bigint, comp2_e3 bigint",
    )


KM_K = 8
KM_ITERS = 3


def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means codebook training by 3 Lloyd iterations over the
    quantized embeddings (K=8, seeded with the vectors of vec_id 0..7
    — the deterministic stand-in for random init): assign each vector
    to its nearest centroid (squared L2, ties → smallest centroid id),
    recompute centroids as per-dimension integer means, repeat. The
    trainer behind every IVF/PQ codebook; embedding_centroids is its
    single maximization step, this is the full alternation. Output:
    (cid, dim, comp, n_members) — the trained codebook plus cluster
    occupancy.

    Exactness: distances are BIGINT; the assignment argmin is
    array_min over (m, cid) structs where m = |c|² − 2·q·c — the
    squared distance minus the per-row constant |q|², an exact integer
    shift that cannot reorder or untie any comparison, so the argmin
    (ties → smallest cid) is identical to the full-d² form while
    halving the in-row work (one multiply per element instead of
    subtract+square; round-13, guide §1.2 step 2). Centroid means are
    SUM div COUNT with BIGINT sums — |q| ≤ ~10³ bounds Σ|q_d| under
    BIGINT to ~9·10¹⁵ rows, four orders past 100 TB (the previous
    DECIMAL(38,0) accumulate was measured 3.3× the aggregate cost in
    the _pi_gram layout experiment); truncating division is identical
    in both engines, so the trained codebook is bit-stable under any
    partitioning. Shape: per iteration, ONE scan computes all K in-row
    scores against centroid literals (the codebook is driver-sized by
    definition), then one map-side-combined groupBy(cid) with 64 long
    sums; the K-row collect per iteration is the trainer
    synchronization contract."""
    with fx.cache_scope() as scope:
        base = scope.hold(_quantized(spark, sf_dir).select("vec_id", "q"))
        cents = [
            (int(r.vec_id), [int(x) for x in r.q])
            for r in base.filter(F.col("vec_id") < KM_K).orderBy("vec_id").collect()
        ]
        cents = [(i, v) for i, (_, v) in enumerate(cents)]
        counts: dict[int, int] = {}
        for _ in range(KM_ITERS):
            # score m = |c|² − 2·q·c: argmin-equivalent to the squared
            # distance (the per-row |q|² shift cancels in every
            # comparison, ties included) at half the in-row ops; |c|²
            # is driver arithmetic. The codebook rides in as a
            # broadcast 1-row ARRAY column rather than 8×64 literals:
            # the per-round plan keeps one constant codegen source
            # (round 2+ hit the compile cache) instead of re-compiling
            # a literal-inflated expression tree every iteration —
            # measured 4.64→3.46 s at sf0.1 with bit-identical output
            # (round-13; the per-round cost here is plan+codegen, not
            # arithmetic: the corpus is small at bench SF).
            cdf = spark.createDataFrame(
                [
                    (
                        [
                            {"cid": cid, "m0": sum(x * x for x in v), "v": v}
                            for cid, v in cents
                        ],
                    )
                ],
                "cents array<struct<cid:int,m0:bigint,v:array<bigint>>>",
            )
            assigned = base.crossJoin(F.broadcast(cdf)).select(
                "q",
                F.array_min(
                    F.transform(
                        "cents",
                        lambda c: F.struct(
                            (
                                c["m0"]
                                - 2
                                * F.aggregate(
                                    F.zip_with("q", c["v"], lambda a, b: a * b),
                                    F.lit(0).cast("long"),
                                    lambda acc, x: acc + x,
                                )
                            ).alias("m"),
                            c["cid"].alias("cid"),
                        ),
                    )
                )
                .getField("cid")
                .alias("cid"),
            )
            rows = (
                assigned.groupBy("cid")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.expr(
                            f"CAST(sum(element_at(q, {d + 1}))"
                            f" div count(*) AS BIGINT)"
                        ).alias(f"c{d}")
                        for d in range(DIM)
                    ],
                )
                .collect()
            )
            cents = sorted(
                (int(r.cid), [int(r[f"c{d}"]) for d in range(DIM)]) for r in rows
            )
            counts = {int(r.cid): int(r.n) for r in rows}
    out = [
        (cid, d, v[d], counts[cid])
        for cid, v in cents
        for d in range(DIM)
    ]
    return spark.createDataFrame(
        out, "cid int, dim int, comp bigint, n_members bigint"
    )



def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the TOP_K highest-cosine corpus vectors with a DIFFERENT
    label — the negatives that sit closest to the decision boundary,
    which is what a retriever/embedder trainer actually wants (random
    negatives are trivially separable and teach nothing). Each row
    also carries the query's best same-label cosine and the margin to
    this negative, so a downstream curriculum can sort by difficulty
    and an auditor can see label collisions (negative scoring above
    the best positive = margin < 0).

    Shape: identical to ann_topk_brute's 100 TB plan — the query set
    broadcasts, the corpus never shuffles, and the per-query rank
    window partitions on query_id (bounded rows per query). The
    positive baseline is a per-query max aggregate (N_QUERIES rows)
    that re-attaches by broadcast. Cosines are the quantized-int dot
    products rounded to 6 dp, same determinism contract as the rest
    of the ANN family."""
    from pyspark.sql import Window

    base = _quantized(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                fx.dot("q", "qv").cast("double") / (F.col("norm") * F.col("qnorm")), 6
            ).alias("cos"),
        )
    )
    pos_best = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(F.max("cos").alias("pos_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    negs = (
        scored.filter(F.col("label") != F.col("qlabel"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )
    return (
        negs.join(F.broadcast(pos_best), "query_id")
        .withColumn("margin", F.round(F.col("pos_cos") - F.col("cos"), 6))
        .select(
            "query_id", "qlabel", "vec_id",
            F.col("label").alias("neg_label"),
            "cos", "rank", "pos_cos", "margin",
        )
    )


QUERIES = {
    "hard_negative_mining": hard_negative_mining,
    "ann_topk_brute": ann_topk_brute,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_topk_lsh_banded": ann_topk_lsh_banded,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_recall_eval": ann_recall_eval,
    "embedding_neardup": embedding_neardup,
    "embedding_centroids": embedding_centroids,
    "embedding_dim_stats": embedding_dim_stats,
    "knn_label_vote": knn_label_vote,
    "ann_topk_pq": ann_topk_pq,
    "ann_pq_recall_eval": ann_pq_recall_eval,
    "ivf_pq_topk": ivf_pq_topk,
    "embedding_outliers": embedding_outliers,
    "semdedup_cells": semdedup_cells,
    "semdedup_greedy_keep": semdedup_greedy_keep,
    "embedding_drift_report": embedding_drift_report,
    "ivf_cell_balance_report": ivf_cell_balance_report,
    "kcenter_coreset": kcenter_coreset,
    "embedding_top_component": embedding_top_component,
    "embedding_pca2_deflated": embedding_pca2_deflated,
    "kmeans_lloyd": kmeans_lloyd,
}


_QUANT_SQL = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {DIM} + 1), i -> {a}[i] * {b}[i]))"
    )


def _planes_sql(n_planes: int) -> str:
    rows = fx.lsh_planes(n_planes, DIM)
    return "[" + ", ".join("[" + ", ".join(str(w) for w in r) + "]" for r in rows) + "]"


def _sketch_sql(vec: str, n_planes: int) -> str:
    planes = _planes_sql(n_planes)
    return f"""CAST(list_sum(list_transform(range(0, {n_planes}),
        p -> CASE WHEN list_sum(list_transform(range(1, {DIM} + 1),
                       i -> ({planes})[p + 1][i] * {vec}[i])) >= 0
                  THEN CAST(pow(2.0, p) AS BIGINT) ELSE 0 END)) AS BIGINT)"""


def _sketch_slice_sql(vec: str, start: int, n_planes: int) -> str:
    """Sketch over the [start, start+n) slice of the shared codebook —
    one OR-banding table's bucket id."""
    rows = fx.lsh_planes(start + n_planes, DIM)[start : start + n_planes]
    planes = "[" + ", ".join("[" + ", ".join(str(w) for w in r) + "]" for r in rows) + "]"
    return f"""CAST(list_sum(list_transform(range(0, {n_planes}),
        p -> CASE WHEN list_sum(list_transform(range(1, {DIM} + 1),
                       i -> ({planes})[p + 1][i] * {vec}[i])) >= 0
                  THEN CAST(pow(2.0, p) AS BIGINT) ELSE 0 END)) AS BIGINT)"""


_BASE_SQL = f"""
    SELECT vec_id, label, {_QUANT_SQL} AS q,
           sqrt(CAST({_dot_sql(_QUANT_SQL, _QUANT_SQL)} AS DOUBLE)) AS norm
    FROM embeddings
"""

ORACLE = {
    "embedding_centroids": """
        WITH x AS (
          SELECT label,
                 unnest(generate_series(1, len(embedding))) AS pos,
                 CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0 + 0.5)
                      AS BIGINT) AS qv
          FROM embeddings)
        SELECT label, pos, COUNT(*) AS n,
               CAST(SUM(qv) AS BIGINT) AS sum_q,
               ROUND(CAST(SUM(qv) AS DOUBLE) / COUNT(*), 4) AS mean_q
        FROM x GROUP BY 1, 2
    """,
    "ann_topk_ivf": f"""
        WITH base AS ({_BASE_SQL}),
        cent AS (
          SELECT vec_id AS cid, q AS cv, norm AS cnorm FROM base
          WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}),
        scored_cells AS (
          SELECT b.vec_id, c.cid,
                 CAST({_dot_sql('b.q', 'c.cv')} AS DOUBLE) / (b.norm * c.cnorm) AS csim
          FROM base b CROSS JOIN cent c),
        assign AS (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS arn
            FROM scored_cells)
          WHERE arn = 1),
        probes AS (
          SELECT query_id, cid AS cell FROM (
            SELECT vec_id AS query_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS prank
            FROM scored_cells WHERE vec_id < {N_QUERIES})
          WHERE prank <= {N_PROBE}),
        cands AS (
          SELECT p.query_id, b.vec_id,
                 ROUND(CAST({_dot_sql('b.q', 'q2.q')} AS DOUBLE) / (b.norm * q2.norm), 6) AS cos
          FROM base b
          JOIN assign a ON b.vec_id = a.vec_id
          JOIN probes p ON a.cell = p.cell
          JOIN base q2 ON q2.vec_id = p.query_id
          WHERE b.vec_id <> p.query_id)
        SELECT query_id, vec_id, cos, rank FROM (
          SELECT query_id, vec_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id) AS rank
          FROM cands)
        WHERE rank <= {TOP_K}
    """,
    "ann_topk_brute": f"""
        WITH base AS ({_BASE_SQL}),
        scored AS (
          SELECT q2.vec_id AS query_id, b.vec_id,
                 ROUND(CAST({_dot_sql('b.q', 'q2.q')} AS DOUBLE) / (b.norm * q2.norm), 6) AS cos
          FROM base b JOIN base q2 ON q2.vec_id < {N_QUERIES} AND b.vec_id <> q2.vec_id)
        SELECT query_id, vec_id, cos, rank FROM (
          SELECT query_id, vec_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
        WHERE rank <= {TOP_K}
    """,
    "ann_topk_lsh": f"""
        WITH base AS (
          SELECT vec_id, q, norm, {_sketch_sql('q', N_PLANES_TOPK)} AS bucket
          FROM ({_BASE_SQL})),
        probes AS (
          SELECT vec_id, q, norm,
                 unnest([bucket,
                         {", ".join(f"xor(bucket, {m})" for m in ([1 << p for p in range(N_PLANES_TOPK)] + [(1 << p1) | (1 << p2) for p1 in range(N_PLANES_TOPK) for p2 in range(p1 + 1, N_PLANES_TOPK)]))}
                        ]) AS pb
          FROM base WHERE vec_id < {N_QUERIES}),
        cands AS (
          SELECT q2.vec_id AS query_id, b.vec_id,
                 ROUND(CAST({_dot_sql('b.q', 'q2.q')} AS DOUBLE) / (b.norm * q2.norm), 6) AS cos
          FROM base b JOIN probes q2
            ON b.bucket = q2.pb
           AND b.vec_id <> q2.vec_id)
        SELECT query_id, vec_id, cos, rank FROM (
          SELECT query_id, vec_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id) AS rank
          FROM cands)
        WHERE rank <= {TOP_K}
    """,
    "embedding_neardup": f"""
        WITH base AS (
          SELECT vec_id, q, norm, {_sketch_sql('q', N_PLANES_NEARDUP)} AS bucket
          FROM ({_BASE_SQL})),
        probes AS (
          SELECT vec_id, q, norm,
                 unnest([bucket,
                         {", ".join(f"xor(bucket, {1 << p})" for p in range(N_PLANES_NEARDUP))}
                        ]) AS pb
          FROM base)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(CAST({_dot_sql('a.q', 'b.q')} AS DOUBLE) / (a.norm * b.norm), 6) AS cos
        FROM probes a JOIN base b
          ON a.pb = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND(CAST({_dot_sql('a.q', 'b.q')} AS DOUBLE) / (a.norm * b.norm), 6) >= {NEARDUP_MIN_COS}
    """,
}

_BANDED_TAGGED_SQL = " UNION ALL ".join(
    f"SELECT vec_id, q, norm, {t} AS tbl, "
    f"{_sketch_slice_sql('q', t * N_PLANES_TOPK, N_PLANES_TOPK)} AS bucket FROM base"
    for t in range(N_TABLES)
)

ORACLE["embedding_outliers"] = f"""
    WITH q AS (
      SELECT vec_id, label, {_QUANT_SQL} AS q FROM embeddings),
    s AS (
      SELECT label, pos, COUNT(*) AS n_pos, CAST(SUM(qv) AS BIGINT) AS sum_q
      FROM (SELECT label,
                   unnest(generate_series(1, len(q))) AS pos,
                   unnest(q) AS qv
            FROM q)
      GROUP BY 1, 2),
    cent AS (
      SELECT label, MAX(n_pos) AS n, list(sum_q ORDER BY pos) AS sums
      FROM s GROUP BY 1),
    d AS (
      -- unnest + SUM, not list_sum: list_sum accumulates HUGEINT
      -- lists in DOUBLE and loses exactness past 2^53
      SELECT vec_id, label, n, SUM(t * t) AS d2n2
      FROM (
        SELECT q.vec_id, q.label, c.n,
               CAST(c.n AS HUGEINT) * unnest(q.q)
                 - unnest(c.sums) AS t
        FROM q JOIN cent c USING (label))
      GROUP BY 1, 2, 3),
    st AS (SELECT label, SUM(d2n2) AS tot FROM d GROUP BY 1)
    -- BIGINT output (HUGEINT surfaces as float64 in pandas and breaks
    -- the value hash); exact at oracle scale, and the COMPARISON above
    -- stays HUGEINT so the verdict itself never wraps
    SELECT d.vec_id, d.label, CAST(d.d2n2 AS BIGINT) AS d2n2,
           CAST(d.d2n2 * d.n > {OUT_FACTOR} * st.tot AS INT) AS is_outlier
    FROM d JOIN st USING (label)
"""

_PQ_CTES = f"""
    ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    cb AS (
      SELECT b.vec_id - {N_QUERIES} AS cid, ms.m,
             b.q[ms.m * {PQ_SUB} + 1 : ms.m * {PQ_SUB} + {PQ_SUB}] AS cw
      FROM base b CROSS JOIN ms
      WHERE b.vec_id >= {N_QUERIES} AND b.vec_id < {N_QUERIES + PQ_K}),
    enc AS (
      SELECT b.vec_id, c.m, c.cid,
             list_sum(list_transform(range(1, {PQ_SUB} + 1),
               i -> (b.q[c.m * {PQ_SUB} + i] - c.cw[i])
                  * (b.q[c.m * {PQ_SUB} + i] - c.cw[i]))) AS d2
      FROM base b CROSS JOIN cb c),
    codes AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, cid) AS rn
        FROM enc)
      WHERE rn = 1)"""

ORACLE["ann_topk_pq"] = f"""
    WITH base AS ({_BASE_SQL}),
    {_PQ_CTES},
    -- ADC as a join: each (query, vec) pair sums its PQ_M table cells
    adist AS (
      SELECT t.vec_id AS query_id, k.vec_id, CAST(SUM(t.d2) AS BIGINT) AS adist2
      FROM codes k
      JOIN enc t ON k.m = t.m AND k.code = t.cid
      WHERE t.vec_id < {N_QUERIES} AND k.vec_id <> t.vec_id
      GROUP BY 1, 2),
    shortlist AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist2, vec_id) AS srank
        FROM adist)
      WHERE srank <= {PQ_SHORTLIST}),
    rerank AS (
      SELECT s.query_id, s.vec_id,
             CAST(list_sum(list_transform(range(1, {DIM} + 1),
               i -> (a.q[i] - q2.q[i]) * (a.q[i] - q2.q[i]))) AS BIGINT) AS d2
      FROM shortlist s
      JOIN base a ON a.vec_id = s.vec_id
      JOIN base q2 ON q2.vec_id = s.query_id)
    SELECT query_id, vec_id, d2, rank FROM (
      SELECT query_id, vec_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, vec_id) AS rank
      FROM rerank)
    WHERE rank <= {TOP_K}
"""

_D2_SQL = (
    f"CAST(list_sum(list_transform(range(1, {DIM} + 1), "
    "i -> (a.q[i] - q2.q[i]) * (a.q[i] - q2.q[i]))) AS BIGINT)"
)

# d2 <= DIM*(2*max|q|)^2 ~ 4e9 < 2^53, so the DOUBLE list_sum is exact
ORACLE["ann_pq_recall_eval"] = f"""
    WITH base AS ({_BASE_SQL}),
    l2 AS (
      SELECT query_id, vec_id FROM (
        SELECT q2.vec_id AS query_id, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q2.vec_id
                                  ORDER BY {_D2_SQL}, a.vec_id) AS rank
        FROM base a JOIN base q2 ON q2.vec_id < {N_QUERIES}
        WHERE a.vec_id <> q2.vec_id)
      WHERE rank <= {TOP_K}),
    pq AS (SELECT query_id, vec_id FROM ({ORACLE["ann_topk_pq"]})),
    hits AS (
      SELECT e.query_id, e.vec_id FROM l2 e
      JOIN pq p ON e.query_id = p.query_id AND e.vec_id = p.vec_id),
    per_q AS (SELECT query_id, COUNT(*) AS n_exact FROM l2 GROUP BY 1),
    hit_q AS (SELECT query_id, COUNT(*) AS n_hit FROM hits GROUP BY 1)
    SELECT p.query_id, p.n_exact,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           (CAST(COALESCE(h.n_hit, 0) AS BIGINT) * 100) // p.n_exact AS recall_pct
    FROM per_q p LEFT JOIN hit_q h ON p.query_id = h.query_id
"""

ORACLE["ivf_pq_topk"] = f"""
    WITH base AS ({_BASE_SQL}),
    {_PQ_CTES},
    cent AS (
      SELECT vec_id AS cid, q AS cv, norm AS cnorm FROM base
      WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}),
    scored_cells AS (
      SELECT b.vec_id, c.cid,
             CAST({_dot_sql('b.q', 'c.cv')} AS DOUBLE) / (b.norm * c.cnorm) AS csim
      FROM base b CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid) AS arn
        FROM scored_cells)
      WHERE arn = 1),
    probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT vec_id AS query_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid) AS prank
        FROM scored_cells WHERE vec_id < {N_QUERIES})
      WHERE prank <= {N_PROBE}),
    cands AS (
      SELECT p.query_id, a.vec_id
      FROM assign a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    adist AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(t.d2) AS BIGINT) AS adist2
      FROM cands c
      JOIN codes k ON k.vec_id = c.vec_id
      JOIN enc t ON t.vec_id = c.query_id AND t.m = k.m AND t.cid = k.code
      GROUP BY 1, 2),
    shortlist AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist2, vec_id) AS srank
        FROM adist)
      WHERE srank <= {IVFPQ_SHORTLIST}),
    rerank AS (
      SELECT s.query_id, s.vec_id,
             CAST(list_sum(list_transform(range(1, {DIM} + 1),
               i -> (a.q[i] - q2.q[i]) * (a.q[i] - q2.q[i]))) AS BIGINT) AS d2
      FROM shortlist s
      JOIN base a ON a.vec_id = s.vec_id
      JOIN base q2 ON q2.vec_id = s.query_id)
    SELECT query_id, vec_id, d2, rank FROM (
      SELECT query_id, vec_id, d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, vec_id) AS rank
      FROM rerank)
    WHERE rank <= {TOP_K}
"""

ORACLE["ann_topk_lsh_banded"] = f"""
    WITH base AS ({_BASE_SQL}),
    tagged AS ({_BANDED_TAGGED_SQL}),
    probes AS (
      SELECT vec_id, tbl,
             unnest([bucket,
                     {", ".join(f"xor(bucket, {m})" for m in ([1 << p for p in range(N_PLANES_TOPK)] + [(1 << p1) | (1 << p2) for p1 in range(N_PLANES_TOPK) for p2 in range(p1 + 1, N_PLANES_TOPK)]))}
                    ]) AS pb
      FROM tagged WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT DISTINCT p.vec_id AS query_id, b.vec_id
      FROM tagged b JOIN probes p
        ON b.tbl = p.tbl AND b.bucket = p.pb AND b.vec_id <> p.vec_id),
    scored AS (
      SELECT c.query_id, c.vec_id,
             ROUND(CAST({_dot_sql('b.q', 'q2.q')} AS DOUBLE) / (b.norm * q2.norm), 6) AS cos
      FROM cand c
      JOIN base b ON b.vec_id = c.vec_id
      JOIN base q2 ON q2.vec_id = c.query_id)
    SELECT query_id, vec_id, cos, rank FROM (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
    WHERE rank <= {TOP_K}
"""

# Composed from the two variants' own oracle bodies so the evaluation
# can never drift from what it evaluates.
ORACLE["ann_recall_eval"] = f"""
    WITH brute AS ({ORACLE["ann_topk_brute"]}),
         lshr AS ({ORACLE["ann_topk_lsh"]}),
         hits AS (
           SELECT b.query_id, b.vec_id FROM brute b
           JOIN lshr l ON b.query_id = l.query_id AND b.vec_id = l.vec_id),
         per_q AS (SELECT query_id, COUNT(*) AS n_exact FROM brute GROUP BY 1),
         hit_q AS (SELECT query_id, COUNT(*) AS n_hit FROM hits GROUP BY 1)
    SELECT p.query_id, p.n_exact,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           (CAST(COALESCE(h.n_hit, 0) AS BIGINT) * 100) // p.n_exact AS recall_pct
    FROM per_q p LEFT JOIN hit_q h ON p.query_id = h.query_id
"""

ORACLE["embedding_dim_stats"] = """
    WITH x AS (
      SELECT unnest(generate_series(1, len(embedding))) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings)
    SELECT pos, COUNT(*) AS n,
           CAST(SUM(qv) AS BIGINT) AS sum_q,
           MIN(qv) AS min_q, MAX(qv) AS max_q,
           ROUND(CAST(SUM(qv) AS DOUBLE) / COUNT(*), 4) AS mean_q,
           MAX(qv) - MIN(qv) AS range_q
    FROM x GROUP BY 1
"""

ORACLE["knn_label_vote"] = f"""
    WITH base AS ({_BASE_SQL}),
    q AS (
      SELECT vec_id AS query_id, label AS true_label,
             q AS qv, norm AS qnorm
      FROM base WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, q.true_label, b.label AS nb_label, b.vec_id,
             ROUND(CAST({_dot_sql('b.q', 'q.qv')} AS DOUBLE)
                   / (b.norm * q.qnorm), 6) AS cos
      FROM base b CROSS JOIN q
      WHERE b.vec_id <> q.query_id),
    nn AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
      WHERE rank <= {TOP_K}),
    votes AS (
      SELECT query_id, true_label, nb_label, COUNT(*) AS votes
      FROM nn GROUP BY 1, 2, 3)
    SELECT query_id, true_label, nb_label AS pred_label, votes,
           CAST(nb_label = true_label AS INT) AS correct
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY votes DESC, nb_label) AS vrank
      FROM votes)
    WHERE vrank = 1
"""

# The two-level assignment replayed set-based, shared verbatim by both
# semdedup oracles: fine centroids group under their nearest coarse
# centroid, vectors pick a coarse group, then argmax over only that
# group's fine centroids — tie-breaks (csim DESC, cid ASC) identical to
# the Spark fold's strict-> over ascending-id arrays.
_SEMDEDUP_ASSIGN_SQL = f"""cent AS ({_SEMDEDUP_CENT_SQL}),
    coarse AS ({_SEMDEDUP_COARSE_SQL}),
    cent_grp AS (
      SELECT cid, cv, cnorm, ccid AS grp FROM (
        SELECT c.cid, c.cv, c.cnorm, g.ccid,
               ROW_NUMBER() OVER (PARTITION BY c.cid
                 ORDER BY CAST({_dot_sql('c.cv', 'g.ccv')} AS DOUBLE)
                          / (c.cnorm * g.ccnorm) DESC, g.ccid) AS grn
        FROM cent c CROSS JOIN coarse g)
      WHERE grn = 1),
    vgrp AS (
      SELECT vec_id, ccid AS grp FROM (
        SELECT b.vec_id, g.ccid,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                 ORDER BY CAST({_dot_sql('b.q', 'g.ccv')} AS DOUBLE)
                          / (b.norm * g.ccnorm) DESC, g.ccid) AS vrn
        FROM base b CROSS JOIN coarse g)
      WHERE vrn = 1),
    assign AS (
      -- LEFT JOIN + COALESCE(cid, grp): if double rounding orphans a
      -- coarse group (its self-assignment captured by a near-parallel
      -- smaller-id coarse mate), fall back to the coarse centroid's
      -- own id — the exact twin of _with_cells' F.coalesce guard.
      SELECT vec_id, COALESCE(cid, grp) AS cell FROM (
        SELECT b.vec_id, v.grp, c.cid,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                 ORDER BY CAST({_dot_sql('b.q', 'c.cv')} AS DOUBLE)
                          / (b.norm * c.cnorm) DESC, c.cid) AS arn
        FROM base b JOIN vgrp v USING (vec_id)
        LEFT JOIN cent_grp c ON c.grp = v.grp)
      WHERE arn = 1)"""

ORACLE["semdedup_cells"] = f"""
    WITH base AS ({_BASE_SQL}),
    {_SEMDEDUP_ASSIGN_SQL},
    pairs AS (
      SELECT b.vec_id AS vb,
             ROUND(CAST({_dot_sql('ba.q', 'bb.q')} AS DOUBLE)
                   / (ba.norm * bb.norm), 6) AS cos
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN base ba ON ba.vec_id = a.vec_id
      JOIN base bb ON bb.vec_id = b.vec_id),
    condemned AS (
      SELECT vb AS vec_id, COUNT(*) AS n_similar_prior,
             MAX(cos) AS max_prior_cos
      FROM pairs WHERE cos >= {SEMDEDUP_MIN_COS} GROUP BY 1)
    SELECT a.vec_id, a.cell,
           COALESCE(c.n_similar_prior, 0) AS n_similar_prior,
           c.max_prior_cos,
           CAST(c.max_prior_cos IS NOT NULL AS INT) AS is_dropped
    FROM assign a LEFT JOIN condemned c ON a.vec_id = c.vec_id
"""

# The greedy replayed sequentially: vertices in ascending id order fold
# through ONE list_reduce whose accumulator is the kept-id list; each
# element is the flat encoding [v, nbr1, nbr2, ...] (DuckDB 1.0's
# list_reduce has no initial-value form and mangles list-typed struct
# fields, so the accumulator IS the first element — sound because the
# globally smallest id has no earlier neighbor, making its encoding
# [v0] exactly the kept list after step one).
ORACLE["semdedup_greedy_keep"] = f"""
    WITH base AS ({_BASE_SQL}),
    {_SEMDEDUP_ASSIGN_SQL},
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             ROUND(CAST({_dot_sql('ba.q', 'bb.q')} AS DOUBLE)
                   / (ba.norm * bb.norm), 6) AS cos
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN base ba ON ba.vec_id = a.vec_id
      JOIN base bb ON bb.vec_id = b.vec_id),
    inn AS (
      SELECT vb AS vec_id, list(va ORDER BY va) AS nbrs
      FROM pairs WHERE cos >= {SEMDEDUP_MIN_COS} GROUP BY 1),
    o AS (
      SELECT a.vec_id, a.cell, COALESCE(i.nbrs, []) AS nbrs
      FROM assign a LEFT JOIN inn i USING (vec_id)),
    seq AS (
      SELECT list(list_concat([vec_id], nbrs) ORDER BY vec_id) AS items
      FROM o),
    red AS (
      -- always-append form: a lambda branch that returns acc unchanged
      -- corrupts the accumulator in DuckDB 1.0, so dropped vertices
      -- append NULL (invisible to list_intersect) and are filtered out
      SELECT list_filter(
               list_reduce(items, (acc, x) ->
                 list_append(acc,
                   CASE WHEN len(list_intersect(x[2:], acc)) = 0
                        THEN x[1] ELSE NULL END)),
               y -> y IS NOT NULL) AS kept
      FROM seq)
    SELECT o.vec_id, o.cell,
           CAST(list_contains((SELECT kept FROM red), o.vec_id) AS INT)
             AS is_kept
    FROM o
"""

ORACLE["embedding_drift_report"] = f"""
    WITH expl AS (
      SELECT CAST(vec_id % 2 AS BIGINT) AS is_new,
             unnest(range(1, {DIM} + 1)) AS dim,
             unnest({_QUANT_SQL}) AS qv
      FROM embeddings),
    per_dim AS (
      SELECT dim,
             CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
             CAST(SUM(is_new) AS BIGINT) AS n_new,
             CAST(SUM(qv * (1 - is_new)) AS BIGINT) AS sum_old,
             CAST(SUM(qv * is_new) AS BIGINT) AS sum_new
      FROM expl GROUP BY 1)
    SELECT dim, n_old, n_new, sum_old, sum_new,
           CAST(CASE WHEN n_old * n_new > 0
                     THEN abs(sum_new * n_old - sum_old * n_new)
                          // (n_old * n_new)
                     ELSE 0 END AS BIGINT) AS abs_shift_q,
           CAST(sign(sum_new * n_old - sum_old * n_new) AS INT) AS shift_sign,
           CAST(CASE WHEN n_old * n_new > 0
                     THEN abs(sum_new * n_old - sum_old * n_new)
                          > {DRIFT_MEAN_Q} * n_old * n_new
                     ELSE FALSE END AS INT) AS is_drifted
    FROM per_dim
"""

ORACLE["ivf_cell_balance_report"] = f"""
    WITH base AS ({_BASE_SQL}),
    cent AS (
      SELECT vec_id AS cid, q AS cv, norm AS cnorm FROM base
      WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}),
    scored_cells AS (
      SELECT b.vec_id, c.cid,
             CAST({_dot_sql('b.q', 'c.cv')} AS DOUBLE) / (b.norm * c.cnorm) AS csim
      FROM base b CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid) AS arn
        FROM scored_cells)
      WHERE arn = 1),
    sizes AS (SELECT cell, COUNT(*) AS n_vecs FROM assign GROUP BY 1),
    total AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS t FROM sizes)
    SELECT cell, n_vecs,
           CAST(n_vecs * 1000000 // t AS BIGINT) AS share_ppm
    FROM sizes CROSS JOIN total
"""


def _kcenter_oracle() -> str:
    """Chained-CTE replay of the greedy: round k's argmax is computed
    from the min-distance frame that rounds 1..k-1 built, each center
    a scalar subquery — the selection order is DERIVED in SQL, so a
    drifting tie-break or distance overflow fails the hash. All CTEs
    MATERIALIZED (each is referenced twice; default inlining would
    re-expand the whole chain exponentially)."""
    d2 = (
        "CAST(list_sum(list_transform(range(1, {dim} + 1), "
        "i -> (m.q[i] - c.q[i]) * (m.q[i] - c.q[i]))) AS BIGINT)"
    ).format(dim=DIM)
    parts = [
        f"base AS MATERIALIZED (SELECT vec_id, {_QUANT_SQL} AS q, "
        "CAST(NULL AS BIGINT) AS mind2 FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT vec_id, q, CAST(0 AS BIGINT) AS mind2 "
        "FROM base ORDER BY vec_id LIMIT 1)",
    ]
    prev = "base"
    for k in range(2, KCENTER_K + 1):
        taken = " UNION ALL ".join(
            f"SELECT vec_id FROM c{j}" for j in range(1, k)
        )
        parts.append(
            f"m{k - 1} AS MATERIALIZED (SELECT m.vec_id, m.q, "
            f"LEAST(COALESCE(m.mind2, {d2}), {d2}) AS mind2 "
            f"FROM {prev} m, c{k - 1} c)"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT vec_id, q, mind2 FROM m{k - 1} "
            f"WHERE vec_id NOT IN ({taken}) "
            f"ORDER BY mind2 DESC, vec_id LIMIT 1)"
        )
        prev = f"m{k - 1}"
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS center_rank, vec_id, mind2 AS radius2 FROM c{k}"
        for k in range(1, KCENTER_K + 1)
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT center_rank, vec_id, radius2 FROM ({sel}) ORDER BY center_rank"
    )


ORACLE["kcenter_coreset"] = _kcenter_oracle()


def _power_iter_oracle() -> str:
    """Chained-CTE replay of the power iteration: each round's rescaled
    vector is a list aggregate (ordered by dimension) consumed by the
    next round's projection — derived in SQL end to end, so a rescale
    or accumulation-width drift fails the hash. HUGEINT sums mirror the
    Spark side's DECIMAL(38,0); `//` truncates toward zero in both
    engines (verified for negatives)."""
    v0 = "[" + ", ".join([str(PI_SCALE)] * DIM) + "]"
    parts = [
        f"base AS MATERIALIZED (SELECT {_QUANT_SQL} AS q FROM embeddings)",
        f"v0 AS MATERIALIZED (SELECT {v0} AS v)",
    ]
    for k in range(1, PI_ROUNDS + 1):
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT q, CAST(list_sum(list_transform("
            f"range(1, {DIM} + 1), i -> q[i] * v[i])) AS BIGINT) AS s "
            f"FROM base CROSS JOIN v{k - 1})"
        )
        parts.append(
            f"u{k} AS MATERIALIZED (SELECT d, "
            f"CAST(SUM(CAST(q[d] AS HUGEINT) * s) AS HUGEINT) AS u "
            f"FROM s{k}, (SELECT unnest(range(1, {DIM} + 1)) AS d) "
            f"GROUP BY d)"
        )
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM u{k})"
        )
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT list(CAST(u * {PI_SCALE} // m AS BIGINT) "
            f"ORDER BY d) AS v FROM u{k} CROSS JOIN m{k})"
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT CAST(d - 1 AS INT) AS dim, CAST(v[d] AS BIGINT) AS comp_e3
    FROM v{PI_ROUNDS}, (SELECT unnest(range(1, {DIM} + 1)) AS d)"""
    )


ORACLE["embedding_top_component"] = _power_iter_oracle()


def _pca2_oracle() -> str:
    """Chained-CTE replay of the deflated power iteration: the v-chain
    is _power_iter_oracle's verbatim, then each w-round computes the
    matvec, the truncating HUGEINT projection coefficient against the
    final v, the deflated vector, and the rescale. DuckDB HUGEINT `//`
    truncates toward zero like the Spark driver's _tdiv (verified for
    negatives, r7 memory); MATERIALIZED throughout — every CTE feeds
    two consumers."""
    v0 = "[" + ", ".join([str(PI_SCALE)] * DIM) + "]"
    w0 = "[" + ", ".join(
        str(PI_SCALE if d % 2 == 0 else -PI_SCALE) for d in range(DIM)
    ) + "]"
    parts = [
        f"base AS MATERIALIZED (SELECT {_QUANT_SQL} AS q FROM embeddings)",
        f"v0 AS MATERIALIZED (SELECT {v0} AS v)",
    ]
    for k in range(1, PI_ROUNDS + 1):
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT q, CAST(list_sum(list_transform("
            f"range(1, {DIM} + 1), i -> q[i] * v[i])) AS BIGINT) AS s "
            f"FROM base CROSS JOIN v{k - 1})"
        )
        parts.append(
            f"u{k} AS MATERIALIZED (SELECT d, "
            f"CAST(SUM(CAST(q[d] AS HUGEINT) * s) AS HUGEINT) AS u "
            f"FROM s{k}, (SELECT unnest(range(1, {DIM} + 1)) AS d) "
            f"GROUP BY d)"
        )
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM u{k})"
        )
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT list(CAST(u * {PI_SCALE} // m AS BIGINT) "
            f"ORDER BY d) AS v FROM u{k} CROSS JOIN m{k})"
        )
    parts.append(
        f"vv AS MATERIALIZED (SELECT v, CAST(list_sum(list_transform("
        f"range(1, {DIM} + 1), i -> v[i] * v[i])) AS HUGEINT) AS v1v1 "
        f"FROM v{PI_ROUNDS})"
    )
    parts.append(f"w0 AS MATERIALIZED (SELECT {w0} AS w)")
    for k in range(1, PI_ROUNDS + 1):
        parts.append(
            f"sw{k} AS MATERIALIZED (SELECT q, CAST(list_sum(list_transform("
            f"range(1, {DIM} + 1), i -> q[i] * w[i])) AS BIGINT) AS s "
            f"FROM base CROSS JOIN w{k - 1})"
        )
        parts.append(
            f"uw{k} AS MATERIALIZED (SELECT d, "
            f"CAST(SUM(CAST(q[d] AS HUGEINT) * s) AS HUGEINT) AS u "
            f"FROM sw{k}, (SELECT unnest(range(1, {DIM} + 1)) AS d) "
            f"GROUP BY d)"
        )
        parts.append(
            f"pw{k} AS MATERIALIZED (SELECT CAST(SUM(CAST(vv.v[d] AS HUGEINT)"
            f" * uw{k}.u) // ANY_VALUE(vv.v1v1) AS HUGEINT) AS p "
            f"FROM uw{k} CROSS JOIN vv)"
        )
        parts.append(
            f"dw{k} AS MATERIALIZED (SELECT d, "
            f"CAST(uw{k}.u - CAST(vv.v[d] AS HUGEINT) * pw{k}.p AS HUGEINT) AS u "
            f"FROM uw{k} CROSS JOIN vv CROSS JOIN pw{k})"
        )
        parts.append(
            f"mw{k} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM dw{k})"
        )
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT list(CAST(u * {PI_SCALE} // m AS BIGINT) "
            f"ORDER BY d) AS w FROM dw{k} CROSS JOIN mw{k})"
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT CAST(d - 1 AS INT) AS dim,
           CAST(vv.v[d] AS BIGINT) AS comp1_e3,
           CAST(w{PI_ROUNDS}.w[d] AS BIGINT) AS comp2_e3
    FROM vv CROSS JOIN w{PI_ROUNDS},
         (SELECT unnest(range(1, {DIM} + 1)) AS d)"""
    )


ORACLE["embedding_pca2_deflated"] = _pca2_oracle()


def _kmeans_oracle() -> str:
    """Chained-CTE replay of the Lloyd alternation: each iteration's
    assignment is a row_number argmin over the centroid CTE, each
    centroid recompute a per-dimension HUGEINT mean re-listed in
    dimension order. Empty clusters drop out of the centroid CTE in
    both engines (the shared convention). MATERIALIZED throughout —
    every CTE is referenced twice."""
    d2 = (
        "list_sum(list_transform(range(1, {dim} + 1), "
        "i -> (b.q[i] - c.c[i]) * (b.q[i] - c.c[i])))"
    ).format(dim=DIM)
    parts = [
        f"base AS MATERIALIZED (SELECT vec_id, {_QUANT_SQL} AS q FROM embeddings)",
        f"cent0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, q AS c "
        f"FROM base WHERE vec_id < {KM_K})",
    ]
    for k in range(1, KM_ITERS + 1):
        parts.append(
            f"""a{k} AS MATERIALIZED (
          SELECT vec_id, q, cid FROM (
            SELECT b.vec_id, b.q, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                      ORDER BY {d2}, c.cid) AS rn
            FROM base b CROSS JOIN cent{k - 1} c)
          WHERE rn = 1)"""
        )
        parts.append(
            f"""cent{k} AS MATERIALIZED (
          SELECT cid, MAX(ncnt) AS n, list(comp ORDER BY d) AS c FROM (
            SELECT cid, d, COUNT(*) AS ncnt,
                   CAST(SUM(CAST(q[d] AS HUGEINT)) // COUNT(*) AS BIGINT) AS comp
            FROM a{k}, (SELECT unnest(range(1, {DIM} + 1)) AS d)
            GROUP BY cid, d)
          GROUP BY cid)"""
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT cid, CAST(d - 1 AS INT) AS dim, CAST(c[d] AS BIGINT) AS comp,
           CAST(n AS BIGINT) AS n_members
    FROM cent{KM_ITERS}, (SELECT unnest(range(1, {DIM} + 1)) AS d)"""
    )


ORACLE["kmeans_lloyd"] = _kmeans_oracle()


ORACLE["hard_negative_mining"] = f"""
    WITH base AS ({_BASE_SQL}),
    scored AS (
      SELECT q2.vec_id AS query_id, q2.label AS qlabel,
             b.vec_id, b.label,
             ROUND(CAST({_dot_sql('b.q', 'q2.q')} AS DOUBLE)
                   / (b.norm * q2.norm), 6) AS cos
      FROM base b JOIN base q2
        ON q2.vec_id < {N_QUERIES} AND b.vec_id <> q2.vec_id),
    pos AS (
      SELECT query_id, MAX(cos) AS pos_cos FROM scored
      WHERE label = qlabel GROUP BY 1),
    negs AS (
      SELECT query_id, qlabel, vec_id, label AS neg_label, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored WHERE label <> qlabel)
    SELECT n.query_id, n.qlabel, n.vec_id, n.neg_label, n.cos,
           CAST(n.rank AS INT) AS rank, p.pos_cos,
           ROUND(p.pos_cos - n.cos, 6) AS margin
    FROM negs n JOIN pos p USING (query_id)
    WHERE n.rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluation (round 7)
# ---------------------------------------------------------------------------

MRL_DIMS = (16, 32)  # truncation budgets evaluated against full DIM


def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit: brute-force top-k recall of
    PREFIX-truncated embeddings (16 and 32 of 64 dims) against the
    full-dimension ranking — the measurement that decides whether a
    cheaper truncated index (2-4x less memory and bandwidth) is good
    enough to serve retrieval from.

    Shape: one quantized scan feeds all three rankings; each ranking
    is the ann_topk_brute plan (query vectors broadcast against the
    corpus — the corpus never shuffles), and the overlap join runs on
    the (query, vec) pairs of two TOP-K frames (k*|queries| rows —
    trivially small at any corpus size). Cosine stays exact: integer
    dot products over the quantized prefix, one final rounded double.
    Recall varies 0-5/5 on this corpus (probed live — 16-dim is
    near-random, 32-dim recovers ~half).
    """
    base = _quantized(spark, sf_dir)

    def topk(qcol, d: int) -> DataFrame:
        from pyspark.sql import Window

        frame = base.select(
            "vec_id",
            qcol.alias("qd"),
        ).withColumn("nd", F.sqrt(fx.dot("qd", "qd").cast("double")))
        queries = frame.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("qd").alias("qv"),
            F.col("nd").alias("qnorm"),
        )
        scored = (
            frame.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                F.round(
                    fx.dot("qd", "qv").cast("double") / (F.col("nd") * F.col("qnorm")),
                    6,
                ).alias("cos"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id")
        )

    full = topk(F.col("q"), DIM)
    out = None
    for d in MRL_DIMS:
        hits = (
            topk(F.slice("q", 1, d), d)
            .join(full, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias("hits"))
        )
        per_dim = (
            full.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                F.lit(d).alias("dim"),
                "query_id",
                F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
                # integer div mirrors the oracle's `//` exactly for ANY
                # TOP_K — float `/`+cast matched only because 1e6
                # divides evenly at TOP_K=5 (round-7 ADVICE).
                F.expr(f"coalesce(hits, 0) * 1000000 div {TOP_K}")
                .cast("long")
                .alias("recall_ppm"),
            )
        )
        out = per_dim if out is None else out.unionByName(per_dim)
    return out


QUERIES["embedding_matryoshka_eval"] = embedding_matryoshka_eval


def _mrl_topk_sql(d: int) -> str:
    qd = f"(q[1:{d}])"
    dot = f"list_sum(list_transform(range(1, {d} + 1), i -> b.qd[i] * q2.qd[i]))"
    return f"""
        SELECT query_id, vec_id FROM (
          SELECT q2.vec_id AS query_id, b.vec_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY q2.vec_id
                   ORDER BY ROUND(CAST({dot} AS DOUBLE) / (b.nd * q2.nd), 6)
                              DESC, b.vec_id) AS rank
          FROM sl{d} b JOIN sl{d} q2
            ON q2.vec_id < {N_QUERIES} AND b.vec_id <> q2.vec_id)
        WHERE rank <= {TOP_K}"""


def _mrl_slice_sql(d: int) -> str:
    qd = f"(q[1:{d}])"
    norm = f"sqrt(CAST(list_sum(list_transform(range(1, {d} + 1), i -> {qd}[i] * {qd}[i])) AS DOUBLE))"
    return f"SELECT vec_id, q[1:{d}] AS qd, {norm} AS nd FROM base"


ORACLE["embedding_matryoshka_eval"] = f"""
    WITH base AS (SELECT vec_id, {_QUANT_SQL} AS q FROM embeddings),
    {", ".join(f"sl{d} AS ({_mrl_slice_sql(d)})" for d in (*MRL_DIMS, DIM))},
    full_k AS ({_mrl_topk_sql(DIM)}),
    {", ".join(f"top{d} AS ({_mrl_topk_sql(d)})" for d in MRL_DIMS)},
    qs AS (SELECT DISTINCT query_id FROM full_k)
    {" UNION ALL ".join(f'''
    SELECT {d} AS dim, qs.query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           CAST(COALESCE(h.hits, 0) * 1000000 // {TOP_K} AS BIGINT) AS recall_ppm
    FROM qs LEFT JOIN (
      SELECT t.query_id, COUNT(*) AS hits
      FROM top{d} t JOIN full_k f
        ON f.query_id = t.query_id AND f.vec_id = t.vec_id
      GROUP BY 1) h ON h.query_id = qs.query_id''' for d in MRL_DIMS)}
"""
