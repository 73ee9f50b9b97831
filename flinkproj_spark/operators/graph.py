"""Iterative graph analytics over the event interaction graph:
fixed-point PageRank and synchronous label propagation — bounded
rounds, integer arithmetic, oracle-replayable. Split out of
operators/analytic.py in round 10 (pure move)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.sources.tables import load_table

ORACLE = {}


_PR_SCALE = 1_000_000_000_000  # rank fixed-point scale (10^12)


_PR_ITERS = 3


_PR_DAMP_NUM, _PR_DAMP_DEN = 85, 100


_PR_TOP = 30


def pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the customer–supplier trade graph
    (an edge per distinct customer/supplier pair that shares an order,
    both directions), 3 iterations, damping 0.85 — the canonical
    iterative-algorithm shape on Spark.

    Exactness: ranks are fixed-point BIGINTs at scale 10¹². Each step
    is rank' = base + (85 · Σ (rank_u div deg_u)) div 100 — integer
    division only, so both engines agree bit-for-bit and the result is
    independent of partitioning and aggregation order (a double
    PageRank is neither).

    Shape: the edge list (with out-degree attached once) shuffles onto
    src per iteration to meet the rank frame, then combines map-side
    onto dst — two exchanges per iteration, the irreducible cost of
    synchronous PageRank. 3 iterations keep lineage shallow; at 10+
    iterations reuse the reliable-checkpoint pattern from
    dedup_cluster (operators/dedup.py). Output: top-30 nodes, returned
    as a local relation; the edge frame's cache lives only for this
    call."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Integer node ids (customer = 2k, supplier = 2k+1): every downstream
    # shuffle/join/groupBy keys on a BIGINT instead of a concat'd string
    # — measured ~2× on the iteration joins; the readable label is
    # reconstructed only for the 30 output rows.
    pairs = (
        orders.join(li.hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    # Symmetrize by EXPLODE, not union: `pairs ∪ pairs.swap` references
    # the orders⋈lineitem-distinct subtree twice, and the round-13 plan
    # audit caught AQE materializing BOTH branches (two full SMJ+distinct
    # executions in the cache-fill plan — exchange reuse did not fire
    # across the union). One Generate per row keeps the derivation
    # single-referenced at every scale. The out-degree is a window count
    # over the same src partitioning the iteration join needs — it
    # shares that one exchange instead of adding a groupBy+join pair
    # (guide §2.4: operations keyed the same way share one exchange).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # The degree-annotated edge frame is read once PER ITERATION: without
    # a cache, every iteration's plan re-runs the orders⋈lineitem
    # distinct from scratch (measured 7.8 s → the join chain dominates).
    ed = edges.withColumn("deg", F.count("*").over(Window.partitionBy("src")))
    base = _PR_SCALE * (_PR_DAMP_DEN - _PR_DAMP_NUM) // _PR_DAMP_DEN
    # Round 1 collapsed algebraically (r14): the initial rank frame is
    # the CONSTANT _PR_SCALE on exactly the distinct-src node set, and
    # every edge's src is in that set by construction, so the first
    # ed⋈ranks join is a no-op enrichment — contrib₁ ≡ SCALE div deg
    # in-row. Removes one SortMergeJoin + the ranks-init distinct
    # exchange from every run; rounds 2+ are unchanged, so the result
    # is bit-identical (same integer expression tree).
    contrib = ed.select(
        "dst", F.expr(f"{_PR_SCALE} div deg").alias("contrib")
    )
    ranks = None
    for _ in range(_PR_ITERS):
        if ranks is not None:
            contrib = ed.join(
                ranks, ed.src == ranks.node
            ).select("dst", F.expr("rank div deg").alias("contrib"))
        ranks = contrib.groupBy("dst").agg(
            (
                # sum(contrib) is cast to DECIMAL(38,0) BEFORE the damping
                # multiply (the one-operand-cast pattern from
                # anomaly_rolling_z): a mega-hub whose incoming sum tops
                # ~1.08e17 would wrap the BIGINT 85·sum silently under
                # non-ANSI Spark while DuckDB promotes to HUGEINT. `div`
                # on decimals yields an exact BIGINT quotient.
                F.lit(base)
                + F.expr(
                    f"{_PR_DAMP_NUM} * CAST(sum(contrib) AS DECIMAL(38,0))"
                    f" div {_PR_DAMP_DEN}"
                )
            ).cast("long").alias("rank")
        ).select(F.col("dst").alias("node"), "rank")
    label = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), (F.col("node") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long")))
    top = (
        ranks.orderBy(F.col("rank").desc(), "node")
        .limit(_PR_TOP)
        .select(label.alias("node"), "rank")
    )
    with fx.cache_scope() as scope:
        scope.hold(ed)
        return fx.eager_report(spark, top)


_LPA_ITERS = 3


_LPA_TOP = 30


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007, public) over the same customer–supplier trade graph
    as pagerank_fixed: every node starts as its own label; each of 3
    rounds, a node adopts the most frequent label among its neighbors
    (ties → smallest label — the deterministic variant, so the result
    is partitioning-independent and oracle-checkable, unlike the
    random-order original). Output: the 30 largest communities with
    member counts — the "which suppliers/customers trade in one
    cluster" question a mixing or sharding owner asks of a 100 TB
    order graph.

    Exactness: labels are BIGINT node ids and votes are integer
    counts end to end. Shape: per round, the persisted degree-free
    edge list shuffles onto src to meet the label frame, then a
    map-side-combined groupBy(dst, label) counts votes and a second
    combinable aggregate — min(struct(-count, label)) over dst —
    picks the argmax without any sort (interleaved `bench.py --repo` A/B vs
    the row_number-window formulation measured wall-time PARITY at
    sf0.1 — the win is structural: no per-round sort of the vote
    frame, which is what matters when votes stop fitting a task);
    the join exchange is
    the irreducible synchronous-LPA cost, same as PageRank's; the
    vote frame is community-bounded (nodes × distinct neighbor
    labels, collapsing every round), never corpus-shaped. The edge
    frame is cached (read once per round) for this call only; the
    top-30 is returned as a local relation."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li.hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    # Explode-symmetrize (see pagerank_fixed): one Generate instead of a
    # self-union that executes the orders⋈lineitem-distinct subtree
    # twice during the cache fill.
    # The cache is laid out FOR the per-round join (r14): hash-partition
    # and sort by src before caching, so every round's SortMergeJoin
    # reads the cached frame with zero exchange and zero re-sort — the
    # r14 plan audit caught the unpartitioned cache being exchanged AND
    # sorted per round (3 corpus-shaped shuffles per run; pagerank never
    # paid this because its window already partitioned on src).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").repartition(F.col("src")).sortWithinPartitions("src")
    # Round 1 collapsed algebraically (r14): initial labels are
    # label(node) = node on exactly the distinct-src set, so round-1
    # votes are (dst, src) pairs with count 1 each (edges are distinct)
    # and the argmax-by-count tie-break picks the SMALLEST label —
    # labels₁ ≡ min(src) per dst, one map-side-combined aggregate, no
    # join and no init-distinct. Rounds 2+ unchanged → bit-identical.
    labels = (
        edges.groupBy("dst")
        .agg(F.min("src").alias("label"))
        .select(F.col("dst").alias("node"), "label")
    )
    for _ in range(_LPA_ITERS - 1):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax-by-count, ties -> smallest label, as min(struct(-c,
        # label)) — a map-side-combinable aggregate instead of a
        # row_number window; drops the per-round sort (interleaved
        # A/B: wall-time parity at sf0.1, structural win at scale)
        labels = (
            votes.groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), F.col("m.label").alias("label"))
        )
    readable = F.when(
        F.col("label") % 2 == 0,
        F.concat(F.lit("c"), F.expr("label div 2")),
    ).otherwise(F.concat(F.lit("s"), F.expr("(label - 1) div 2")))
    top = (
        labels.groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            F.sum((F.col("node") % 2 == 0).cast("long")).alias("n_customers"),
            F.sum((F.col("node") % 2 == 1).cast("long")).alias("n_suppliers"),
        )
        .orderBy(F.col("n_members").desc(), "label")
        .limit(_LPA_TOP)
        .select(readable.alias("community"), "n_members", "n_customers", "n_suppliers")
    )
    with fx.cache_scope() as scope:
        scope.hold(edges)
        return fx.eager_report(spark, top)


QUERIES = {
    "pagerank_fixed": pagerank_fixed,
    "label_propagation": label_propagation,
}


_PR_BASE = _PR_SCALE * (_PR_DAMP_DEN - _PR_DAMP_NUM) // _PR_DAMP_DEN


_PR_ITER_SQL = "".join(
    f""",
    it{i + 1} AS (
      SELECT e.dst AS node,
             {_PR_BASE} + {_PR_DAMP_NUM} * SUM(r.rank // e.deg)
                          // {_PR_DAMP_DEN} AS rank
      FROM ed e JOIN it{i} r ON e.src = r.node
      GROUP BY 1)"""
    for i in range(_PR_ITERS)
)


ORACLE["pagerank_fixed"] = f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
    it0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg)
    {_PR_ITER_SQL}
    SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS BIGINT)
                ELSE 's' || CAST((node - 1) // 2 AS BIGINT) END AS node,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT node, rank FROM it{_PR_ITERS}
      ORDER BY rank DESC, node LIMIT {_PR_TOP})
"""


_LPA_ITER_SQL = "".join(
    f""",
    l{i + 1} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT e.dst AS node, r.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, r.label) AS rn
        FROM edges e JOIN l{i} r ON e.src = r.node
        GROUP BY e.dst, r.label)
      WHERE rn = 1)"""
    for i in range(_LPA_ITERS)
)


ORACLE["label_propagation"] = f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM edges)
    {_LPA_ITER_SQL}
    SELECT CASE WHEN label % 2 = 0 THEN 'c' || CAST(label // 2 AS BIGINT)
                ELSE 's' || CAST((label - 1) // 2 AS BIGINT) END AS community,
           n_members, n_customers, n_suppliers
    FROM (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_customers,
             CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_suppliers
      FROM l{_LPA_ITERS} GROUP BY 1
      ORDER BY n_members DESC, label LIMIT {_LPA_TOP})
"""
