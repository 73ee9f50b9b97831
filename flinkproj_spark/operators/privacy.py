"""Privacy / disclosure-risk operators: k-anonymity report &
repair ladder, l-diversity, t-closeness, anonymized release, DP
sensitivity & clamped release. Split out of operators/analytic.py
in round 10 (pure move)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark.operators.relational import _cents
from flinkproj_spark.sources.tables import load_table

QUERIES = {}
ORACLE = {}


# ---------------------------------------------------------------------------
# k-anonymity privacy audit (round 7)
# ---------------------------------------------------------------------------
K_ANON_QIDS = ("c_nationkey", "c_mktsegment")


K_ANON_KS = (2, 10, 100, 300)  # k=2/10/100 split live at sf0.001/0.01/0.1


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifiers
    (nation, market segment): for each candidate k, how many QID
    equivalence classes fall below k members and how many rows those
    classes expose — the release-gate check a privacy review runs
    before sharing a derived table.

    Shape: ONE groupBy collapses the table to its QID-class frame
    (bounded by the QID domain product, not row count), then the
    4-row k list joins in as a broadcast and a second tiny aggregate
    produces the per-k report. The fact table is scanned once and
    only (nation, segment) columns are read — at 100 TB the class
    frame is still |nations| x |segments| rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(*K_ANON_QIDS).agg(F.count("*").alias("gsz"))
    ks = spark.createDataFrame([(k,) for k in K_ANON_KS], "k int")
    below = F.col("gsz") < F.col("k")
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum("gsz").cast("long").alias("n_rows"),
            F.sum(below.cast("long")).alias("n_classes_below"),
            F.coalesce(F.sum(F.when(below, F.col("gsz"))), F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.min("gsz").cast("long").alias("min_class_size"),
        )
        .select(
            "k",
            "n_classes",
            "n_rows",
            "n_classes_below",
            "n_rows_at_risk",
            "min_class_size",
        )
    )


QUERIES["k_anonymity_report"] = k_anonymity_report


ORACLE["k_anonymity_report"] = f"""
    WITH classes AS (
      SELECT {', '.join(K_ANON_QIDS)}, COUNT(*) AS gsz
      FROM customer GROUP BY {', '.join(str(i + 1) for i in range(len(K_ANON_QIDS)))}),
    ks AS (SELECT unnest([{', '.join(str(k) for k in K_ANON_KS)}]) AS k)
    SELECT CAST(k AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(gsz) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN gsz < k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below,
           CAST(COALESCE(SUM(CASE WHEN gsz < k THEN gsz END), 0) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(gsz) AS BIGINT) AS min_class_size
    FROM classes CROSS JOIN ks
    GROUP BY k
"""


# QID for the l-diversity audit: nation x account-balance band (a
# 2000.00-wide bucket of exact cents); sensitive attribute = segment.
L_DIV_QID_BUCKET_C = 200_000


L_DIV_LS = (2, 3, 4, 5)


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al.) — the step AFTER
    k-anonymity: a QID class can be large yet still leak the sensitive
    attribute if every member shares one value. Per candidate l, how
    many (nation, balance-band) classes carry fewer than l distinct
    market segments, how many rows those classes expose, and the
    corpus-wide minimum diversity. The nation-only QID is saturated
    (every nation has all 5 segments — verified before wiring); the
    balance band is what makes the audit live.

    Shape: one scan → groupBy QID with countDistinct(sensitive) (the
    two-phase distinct aggregate; class frame bounded by the QID
    domain, not rows), then the 4-row l list joins in as a broadcast
    — same release-gate shape as k_anonymity_report, sharing its
    scale argument."""
    cust = load_table(spark, sf_dir, "customer")
    bal_b = F.expr(
        f"CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) div {L_DIV_QID_BUCKET_C}"
    )
    classes = cust.groupBy(
        F.col("c_nationkey").alias("nat"),
        bal_b.alias("bal_b"),
    ).agg(
        F.count("*").alias("gsz"),
        F.countDistinct("c_mktsegment").alias("ldiv"),
    )
    ls = spark.createDataFrame([(l,) for l in L_DIV_LS], "l int")
    below = F.col("ldiv") < F.col("l")
    return (
        classes.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum(below.cast("long")).alias("n_classes_below"),
            F.coalesce(F.sum(F.when(below, F.col("gsz"))), F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.min("ldiv").cast("long").alias("min_l"),
        )
        .select("l", "n_classes", "n_classes_below", "n_rows_at_risk", "min_l")
    )


QUERIES["l_diversity_report"] = l_diversity_report


ORACLE["l_diversity_report"] = f"""
    WITH classes AS (
      SELECT c_nationkey AS nat,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
               // {L_DIV_QID_BUCKET_C} AS bal_b,
             COUNT(*) AS gsz,
             COUNT(DISTINCT c_mktsegment) AS ldiv
      FROM customer GROUP BY 1, 2),
    ls AS (SELECT unnest([{', '.join(str(l) for l in L_DIV_LS)}]) AS l)
    SELECT CAST(l AS INT) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN ldiv < l THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below,
           CAST(COALESCE(SUM(CASE WHEN ldiv < l THEN gsz END), 0) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(ldiv) AS BIGINT) AS min_l
    FROM classes CROSS JOIN ls
    GROUP BY l
"""


def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al.) — the third rung of the privacy
    ladder after k_anonymity_report and l_diversity_report, on the
    SAME QID (nation x balance band) and sensitive attribute (market
    segment): a class can be large AND diverse yet still leak if its
    sensitive distribution diverges from the corpus-wide one. Per QID
    class: the exact variational distance t = 1/2 * sum_j |p_j - q_j|
    as cross-multiplied ppm (t_ppm = sum_j |c_j*N - g_j*n_c| * 1e6
    div (2*n_c*N) — no per-class float division), plus the flag
    against the conventional t=0.2 release threshold.

    Shape: ONE scan -> groupBy (QID, segment) bounded by QID domain x
    |segments|; the global segment distribution is a 5-row broadcast;
    the per-class sum runs on the class x segment grid (a left join
    against the dense grid supplies the zero cells so missing
    segments still pay |0 - q_j|)."""
    cust = load_table(spark, sf_dir, "customer")
    bal_b = F.expr(
        f"CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) div {L_DIV_QID_BUCKET_C}"
    )
    cells = cust.groupBy(
        F.col("c_nationkey").alias("nat"),
        bal_b.alias("bal_b"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count("*").alias("c"))
    gseg = cells.groupBy("seg").agg(F.sum("c").alias("g"))
    n_all = cells.agg(F.sum("c").alias("n_tot"))
    classes = cells.groupBy("nat", "bal_b").agg(F.sum("c").alias("gsz"))
    grid = classes.crossJoin(F.broadcast(gseg.select("seg")))
    dense = grid.join(cells, ["nat", "bal_b", "seg"], "left").select(
        "nat", "bal_b", "seg", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    return (
        dense.join(F.broadcast(gseg), "seg")
        .join(classes, ["nat", "bal_b"])
        .crossJoin(F.broadcast(n_all))
        .groupBy("nat", "bal_b", "gsz", "n_tot")
        .agg(
            F.sum(
                F.abs(F.col("c") * F.col("n_tot") - F.col("g") * F.col("gsz"))
            ).alias("t_num")
        )
        .select(
            F.col("nat").cast("int").alias("nat"),
            F.col("bal_b").cast("long").alias("bal_b"),
            F.col("gsz").cast("long").alias("gsz"),
            F.expr(
                "CAST(CAST(t_num AS DECIMAL(38,0)) * 1000000"
                " div (2 * CAST(gsz AS DECIMAL(38,0)) * n_tot) AS BIGINT)"
            ).alias("t_ppm"),
            F.expr(
                "CAST(CASE WHEN CAST(t_num AS DECIMAL(38,0)) * 1000000"
                " div (2 * CAST(gsz AS DECIMAL(38,0)) * n_tot) > 200000"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("exceeds_t02"),
        )
    )


QUERIES["t_closeness_report"] = t_closeness_report


ORACLE["t_closeness_report"] = f"""
    WITH cells AS (
      SELECT c_nationkey AS nat,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
               // {200000} AS bal_b,
             c_mktsegment AS seg, COUNT(*) AS c
      FROM customer GROUP BY 1, 2, 3),
    gseg AS (SELECT seg, SUM(c) AS g FROM cells GROUP BY 1),
    n_all AS (SELECT SUM(c) AS n_tot FROM cells),
    classes AS (SELECT nat, bal_b, SUM(c) AS gsz FROM cells GROUP BY 1, 2),
    grid AS (SELECT cl.nat, cl.bal_b, cl.gsz, gs.seg, gs.g
             FROM classes cl CROSS JOIN gseg gs),
    dense AS (
      SELECT gr.nat, gr.bal_b, gr.gsz, gr.g, COALESCE(ce.c, 0) AS c
      FROM grid gr LEFT JOIN cells ce
        ON ce.nat = gr.nat AND ce.bal_b = gr.bal_b AND ce.seg = gr.seg)
    SELECT CAST(d.nat AS INT) AS nat,
           CAST(d.bal_b AS BIGINT) AS bal_b,
           CAST(d.gsz AS BIGINT) AS gsz,
           CAST(CAST(SUM(ABS(d.c * a.n_tot - d.g * d.gsz)) AS HUGEINT)
                * 1000000 // (2 * CAST(d.gsz AS HUGEINT) * a.n_tot)
                AS BIGINT) AS t_ppm,
           CAST(CASE WHEN CAST(SUM(ABS(d.c * a.n_tot - d.g * d.gsz))
                               AS HUGEINT) * 1000000
                          // (2 * CAST(d.gsz AS HUGEINT) * a.n_tot) > 200000
                     THEN 1 ELSE 0 END AS INT) AS exceeds_t02
    FROM dense d CROSS JOIN n_all a
    GROUP BY d.nat, d.bal_b, d.gsz, a.n_tot
"""


# ---------------------------------------------------------------------------
# Privacy repair (round 8): the remediation step on top of the k/l/t
# audit ladder — audits say WHICH classes leak; this says what the
# released table looks like after bottom-up local generalization.
# ---------------------------------------------------------------------------

#: Target class size for k_anonymity_repair. K=10 exercises the full
#: ladder at the driver's correctness SF (sf0.01: 88 classes pass at
#: level 0, 7 repair at level 1, 3 at nation-only, 14 suppress —
#: verified in DuckDB before wiring, per the liveness rule).
K_REPAIR = 10


def k_anonymity_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity REPAIR over the l/t-ladder QID (nation x $2000
    account-balance band): bottom-up local recoding with a fixed
    generalization ladder — level 0 keeps the $2000 band, level 1
    widens failing classes to $8000 bands, level 2 drops the band
    (nation only), level 3 suppresses what still can't reach K — and
    reports, per ORIGINAL level-0 class, the level its rows are
    released at and the size of the anonymized class they land in.
    Local recoding (only FAILING classes promote; satisfied classes
    keep their granularity) is what production anonymizers do —
    full-domain recoding would widen every band because one sparse
    nation leaks.

    Shape: one customer scan collapses to the level-0 QID-class frame
    (bounded by |nations| x balance-band domain, never rows); every
    later stage — the two promotion regroups and the three left joins
    stitching the verdicts back — runs on that tiny frame with
    broadcast joins. At 100 TB the scan is the only data-sized stage,
    exactly like the audits this repairs."""
    cust = load_table(spark, sf_dir, "customer")
    b0 = F.expr(
        f"CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) div {L_DIV_QID_BUCKET_C}"
    )
    l0 = cust.groupBy(
        F.col("c_nationkey").alias("nat"), b0.alias("bal_b")
    ).agg(F.count("*").alias("n"))
    f0 = l0.filter(F.col("n") < K_REPAIR)
    l1 = f0.groupBy(
        "nat", F.expr("bal_b div 4").alias("b1")
    ).agg(F.sum("n").alias("n1"))
    f1 = l1.filter(F.col("n1") < K_REPAIR)
    l2 = f1.groupBy("nat").agg(F.sum("n1").alias("n2"))
    return (
        l0.withColumn("b1", F.expr("bal_b div 4"))
        .join(F.broadcast(l1), ["nat", "b1"], "left")
        .join(F.broadcast(l2), ["nat"], "left")
        .select(
            F.col("nat").cast("int").alias("nat"),
            F.col("bal_b").cast("long").alias("bal_b"),
            F.col("n").cast("long").alias("n_rows"),
            F.expr(
                f"CAST(CASE WHEN n >= {K_REPAIR} THEN 0"
                f" WHEN n1 >= {K_REPAIR} THEN 1"
                f" WHEN n2 >= {K_REPAIR} THEN 2"
                " ELSE 3 END AS INT)"
            ).alias("final_level"),
            F.expr(
                f"CAST(CASE WHEN n >= {K_REPAIR} THEN n"
                f" WHEN n1 >= {K_REPAIR} THEN n1"
                f" WHEN n2 >= {K_REPAIR} THEN n2"
                " ELSE 0 END AS BIGINT)"
            ).alias("anon_k"),
        )
    )


QUERIES["k_anonymity_repair"] = k_anonymity_repair


ORACLE["k_anonymity_repair"] = f"""
    WITH c AS (
      SELECT c_nationkey AS nat,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
               // {L_DIV_QID_BUCKET_C} AS bal_b
      FROM customer),
    l0 AS (SELECT nat, bal_b, COUNT(*) AS n FROM c GROUP BY 1, 2),
    f0 AS (SELECT * FROM l0 WHERE n < {K_REPAIR}),
    l1 AS (SELECT nat, bal_b // 4 AS b1, SUM(n) AS n1 FROM f0 GROUP BY 1, 2),
    f1 AS (SELECT * FROM l1 WHERE n1 < {K_REPAIR}),
    l2 AS (SELECT nat, SUM(n1) AS n2 FROM f1 GROUP BY 1)
    SELECT CAST(l0.nat AS INT) AS nat,
           CAST(l0.bal_b AS BIGINT) AS bal_b,
           CAST(l0.n AS BIGINT) AS n_rows,
           CAST(CASE WHEN l0.n >= {K_REPAIR} THEN 0
                     WHEN l1.n1 >= {K_REPAIR} THEN 1
                     WHEN l2.n2 >= {K_REPAIR} THEN 2
                     ELSE 3 END AS INT) AS final_level,
           CAST(CASE WHEN l0.n >= {K_REPAIR} THEN l0.n
                     WHEN l1.n1 >= {K_REPAIR} THEN l1.n1
                     WHEN l2.n2 >= {K_REPAIR} THEN l2.n2
                     ELSE 0 END AS BIGINT) AS anon_k
    FROM l0
    LEFT JOIN l1 ON l1.nat = l0.nat AND l1.b1 = l0.bal_b // 4
    LEFT JOIN l2 ON l2.nat = l0.nat
"""


def anonymized_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELEASED table k_anonymity_repair plans: one row per
    customer carrying exactly the quasi-identifier granularity its
    class was generalized to — level 0 keeps the $2000 band id,
    level 1 the $8000 band id, level 2 nation only (band withheld),
    suppressed rows carry neither QID — so every released (qid_nat,
    qid_band) combination has ≥ K_REPAIR members by construction
    (audit → repair plan → release artifact: the full ladder).
    Band ids with an explicit width column (not bounds) keep negative
    balances exact under truncating div.

    Shape: the repair plan is a QID-domain-bounded frame, broadcast
    onto the customer scan — one data-sized stage, no window, no sort.
    The release is recomputable and idempotent: same corpus, same
    table."""
    cust = load_table(spark, sf_dir, "customer")
    b0 = F.expr(
        f"CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) div {L_DIV_QID_BUCKET_C}"
    )
    plan = k_anonymity_repair(spark, sf_dir).select(
        "nat", "bal_b", "final_level"
    )
    return (
        cust.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_nationkey").alias("nat"),
            b0.alias("bal_b"),
        )
        .join(F.broadcast(plan), ["nat", "bal_b"])
        .select(
            "custkey",
            F.col("final_level").alias("released_level"),
            F.expr("CASE WHEN final_level <= 2 THEN CAST(nat AS INT) END").alias(
                "qid_nat"
            ),
            F.expr(
                "CAST(CASE WHEN final_level = 0 THEN bal_b"
                " WHEN final_level = 1 THEN bal_b div 4 END AS BIGINT)"
            ).alias("qid_band"),
            F.expr(
                f"CAST(CASE WHEN final_level = 0 THEN {L_DIV_QID_BUCKET_C}"
                f" WHEN final_level = 1 THEN {L_DIV_QID_BUCKET_C * 4} END"
                " AS BIGINT)"
            ).alias("qid_band_w_c"),
            F.expr(
                "CAST(CASE WHEN final_level = 3 THEN 1 ELSE 0 END AS INT)"
            ).alias("suppressed"),
        )
    )


QUERIES["anonymized_release"] = anonymized_release


ORACLE["anonymized_release"] = f"""
    WITH c AS (
      SELECT c_custkey AS custkey, c_nationkey AS nat,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
               // {L_DIV_QID_BUCKET_C} AS bal_b
      FROM customer),
    l0 AS (SELECT nat, bal_b, COUNT(*) AS n FROM c GROUP BY 1, 2),
    f0 AS (SELECT * FROM l0 WHERE n < {K_REPAIR}),
    l1 AS (SELECT nat, bal_b // 4 AS b1, SUM(n) AS n1 FROM f0 GROUP BY 1, 2),
    f1 AS (SELECT * FROM l1 WHERE n1 < {K_REPAIR}),
    l2 AS (SELECT nat, SUM(n1) AS n2 FROM f1 GROUP BY 1),
    plan AS (
      SELECT l0.nat, l0.bal_b,
             CASE WHEN l0.n >= {K_REPAIR} THEN 0
                  WHEN l1.n1 >= {K_REPAIR} THEN 1
                  WHEN l2.n2 >= {K_REPAIR} THEN 2
                  ELSE 3 END AS final_level
      FROM l0
      LEFT JOIN l1 ON l1.nat = l0.nat AND l1.b1 = l0.bal_b // 4
      LEFT JOIN l2 ON l2.nat = l0.nat)
    SELECT c.custkey,
           CAST(p.final_level AS INT) AS released_level,
           CAST(CASE WHEN p.final_level <= 2 THEN c.nat END AS INT) AS qid_nat,
           CAST(CASE WHEN p.final_level = 0 THEN c.bal_b
                     WHEN p.final_level = 1 THEN c.bal_b // 4 END AS BIGINT)
             AS qid_band,
           CAST(CASE WHEN p.final_level = 0 THEN {L_DIV_QID_BUCKET_C}
                     WHEN p.final_level = 1 THEN {L_DIV_QID_BUCKET_C * 4} END
             AS BIGINT) AS qid_band_w_c,
           CAST(CASE WHEN p.final_level = 3 THEN 1 ELSE 0 END AS INT)
             AS suppressed
    FROM c JOIN plan p ON p.nat = c.nat AND p.bal_b = c.bal_b
"""


def dp_sensitivity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation L1-sensitivity audit for a differentially-private
    revenue release: each nation's exact revenue, its contributor
    count, the largest single-customer contribution, and that
    maximum's share (ppm) — the Δf that calibrates Laplace/Gaussian
    noise for a SUM release, and the "one whale dominates this cell"
    flag that says clamp contributions before adding noise. The audit
    UPSTREAM of the k/l/t privacy ladder: those grade the released
    table, this grades the aggregation's exposure to one individual.

    Not in the reference (no aggregation surface beyond windowed
    count+max, SURVEY.md §2.9); privacy-governance extension on the
    k_anonymity family.

    Shape: one map-side-combined groupBy(custkey) collapses orders to
    per-customer totals BEFORE the customer join (orders-sized
    exchange, then a key-sized join — both data-sized at 100 TB, no
    broadcast), then a ~25-row nation aggregate. The ppm routes
    through DECIMAL(38,0) (nation revenue × 1e6 wraps BIGINT at
    scale, the round-8 ADVICE class)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nat"),
    )
    per_cust = (
        orders.select("o_custkey", _cents("o_totalprice").alias("rev_c"))
        .groupBy("o_custkey")
        .agg(F.sum("rev_c").alias("rev_c"))
        .join(cust, "o_custkey")
    )
    return (
        per_cust.groupBy("nat")
        .agg(
            F.count("*").alias("n_contributors"),
            F.sum("rev_c").alias("rev_c"),
            F.max("rev_c").alias("max_contrib_c"),
        )
        .select(
            F.col("nat").cast("int").alias("nat"),
            "n_contributors",
            F.col("rev_c").cast("long").alias("rev_c"),
            F.col("max_contrib_c").cast("long").alias("max_contrib_c"),
            F.expr(
                "CAST(CAST(max_contrib_c AS DECIMAL(38,0)) * 1000000"
                " div CAST(rev_c AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("sens_ppm"),
        )
    )


QUERIES["dp_sensitivity_report"] = dp_sensitivity_report


ORACLE["dp_sensitivity_report"] = """
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1),
    j AS (
      SELECT c.c_nationkey AS nat, p.rev_c
      FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey)
    SELECT CAST(nat AS INT) AS nat,
           COUNT(*) AS n_contributors,
           CAST(SUM(rev_c) AS BIGINT) AS rev_c,
           CAST(MAX(rev_c) AS BIGINT) AS max_contrib_c,
           CAST(CAST(MAX(rev_c) AS HUGEINT) * 1000000 // SUM(rev_c)
                AS BIGINT) AS sens_ppm
    FROM j GROUP BY nat
"""


#: Clamp-grid width for dp_clamped_release: per-customer revenue is
#: quantized to 2^20-cent ($10.5k) buckets before the nearest-rank
#: scan, so the cumulative window runs over a domain-bounded histogram
#: (per-customer revenue is order-history-bounded, not corpus-sized) —
#: the same value-grid class as gini_revenue_lorenz's 2^24 frame.
DP_CLAMP_GRID = 1 << 20


#: Clamp percentile: contributions above the grid-aligned p99 ceiling
#: are clipped.
DP_CLAMP_PCT = 99


def dp_clamped_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair step on top of dp_sensitivity_report: per-customer
    revenue contributions are CLAMPED at the grid-aligned p99 ceiling
    (the smallest 2^20-cent bucket boundary covering 99% of
    customers), and the per-nation release is recomputed from the
    clamped values — with the clipped mass (ppm) and clipped-customer
    count that quantify what the clamp cost. Contribution clamping is
    THE standard precondition for a DP sum release: it caps Δf at the
    threshold instead of the worst whale, so the audit → clamp pair
    mirrors the k-anonymity audit → repair ladder.

    Not in the reference (SURVEY.md §2.9); privacy-governance
    extension completing the dp_sensitivity family.

    Exactness: the threshold is DETERMINISTIC — nearest-rank on the
    quantized revenue histogram, reported as threshold_c on every row
    — and all clipped/clamped arithmetic is BIGINT cents with the ppm
    through DECIMAL(38,0).

    Shape: one groupBy(custkey) collapse, a domain-bounded histogram
    (≤ max_rev/2^20 rows) whose cumulative window never sees customer
    rows, the 1-row threshold broadcast back, in-row clamping, then
    the customer join and ~25-row nation aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nat"),
    )
    per_cust = (
        orders.select("o_custkey", _cents("o_totalprice").alias("rev_c"))
        .groupBy("o_custkey")
        .agg(F.sum("rev_c").alias("rev_c"))
    )
    hist = per_cust.groupBy(
        F.expr(f"rev_c div {DP_CLAMP_GRID}").alias("b")
    ).agg(F.count("*").alias("n"))
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    thr = (
        hist.select(
            "b",
            F.sum("n").over(w_cum).alias("cum_n"),
            F.sum("n").over(w_tot).alias("total"),
        )
        .agg(
            F.min(
                F.when(
                    F.col("cum_n") * 100 >= F.lit(DP_CLAMP_PCT) * F.col("total"),
                    (F.col("b") + 1) * DP_CLAMP_GRID,
                )
            ).alias("threshold_c")
        )
    )
    clamped = per_cust.crossJoin(F.broadcast(thr)).select(
        "o_custkey",
        "rev_c",
        "threshold_c",
        F.least(F.col("rev_c"), F.col("threshold_c")).alias("clamped_c"),
    )
    return (
        clamped.join(cust, "o_custkey")
        .groupBy("nat")
        .agg(
            F.max("threshold_c").alias("threshold_c"),
            F.sum("rev_c").alias("rev_c"),
            F.sum("clamped_c").alias("clamped_rev_c"),
            F.sum((F.col("rev_c") > F.col("threshold_c")).cast("long")).alias(
                "n_clipped"
            ),
        )
        .select(
            F.col("nat").cast("int").alias("nat"),
            "threshold_c",
            F.col("rev_c").cast("long").alias("rev_c"),
            F.col("clamped_rev_c").cast("long").alias("clamped_rev_c"),
            "n_clipped",
            F.expr(
                "CAST(CAST(rev_c - clamped_rev_c AS DECIMAL(38,0)) * 1000000"
                " div CAST(rev_c AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("clipped_ppm"),
        )
    )


QUERIES["dp_clamped_release"] = dp_clamped_release


ORACLE["dp_clamped_release"] = f"""
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1),
    hist AS (
      SELECT rev_c // {DP_CLAMP_GRID} AS b, COUNT(*) AS n
      FROM per_cust GROUP BY 1),
    cum AS (
      SELECT b,
             SUM(n) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
             SUM(n) OVER () AS total
      FROM hist),
    thr AS (
      SELECT MIN(CASE WHEN cum_n * 100 >= {DP_CLAMP_PCT} * total
                      THEN (b + 1) * {DP_CLAMP_GRID} END) AS threshold_c
      FROM cum),
    clamped AS (
      SELECT p.o_custkey, p.rev_c, t.threshold_c,
             least(p.rev_c, t.threshold_c) AS clamped_c
      FROM per_cust p CROSS JOIN thr t)
    SELECT CAST(c.c_nationkey AS INT) AS nat,
           CAST(MAX(cl.threshold_c) AS BIGINT) AS threshold_c,
           CAST(SUM(cl.rev_c) AS BIGINT) AS rev_c,
           CAST(SUM(cl.clamped_c) AS BIGINT) AS clamped_rev_c,
           CAST(SUM(CASE WHEN cl.rev_c > cl.threshold_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(CAST(SUM(cl.rev_c) - SUM(cl.clamped_c) AS HUGEINT) * 1000000
                // SUM(cl.rev_c) AS BIGINT) AS clipped_ppm
    FROM clamped cl JOIN customer c ON c.c_custkey = cl.o_custkey
    GROUP BY c.c_nationkey
"""
