"""TPC-H-adapted query family, part 2: the remaining plan shapes.

Completes the TPC-H-style surface begun in relational.py (Q1/Q3/Q5/Q6)
and tpch.py (Q4/Q7/Q10/Q13/Q14/Q18/Q19/Q22) with the ten queries whose
shapes were still missing: correlated-min supplier selection (Q2),
market-share ratios (Q8), profit decomposition (Q9), value-concentration
HAVING over a scalar subquery (Q11), lateness-banded conditional counts
(Q12), view-over-aggregate + scalar max (Q15), distinct-supplier counts
with anti-join exclusion (Q16), correlated-avg small-quantity scan
(Q17), nested semi-join chains (Q20), and the exists/not-exists
self-join (Q21).

The corpus schema is the simplified TPC-H of TESTDATA.md — no partsupp
table and no shipmode/commitdate/receiptdate columns — so predicates are
adapted (documented per query); the *plan shapes* are faithful.

Scale discipline (same as relational.py/tpch.py):
  * money/quantity math in exact integer cents (``_cents``) so partial
    aggregation is order-independent at any parallelism — correlated
    comparisons (Q17's ``qty < 0.2*avg``) are restated as pure-integer
    cross-multiplications so Spark and the oracle agree bit-for-bit;
  * dimension sides (part/supplier/nation/customer at these shapes)
    broadcast; filters precede joins so they reach the parquet scan;
  * EXISTS/NOT-EXISTS become left_semi/left_anti (only keys shuffle),
    or one per-group aggregate when the original is a self-join on the
    fact (Q21) — one shuffle instead of three fact-fact joins;
  * scalar subqueries (Q11/Q15/Q17 thresholds) are 1-row/`small`
    DataFrames broadcast onto the probe side, never collected to the
    driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark.operators.relational import _cents
from flinkproj_spark.operators.tpch import _REV_E4_SQL, _rev_e4
from flinkproj_spark.sources.tables import load_table

_QTY_C_SQL = "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (minimum-cost supplier, adapted): for each PROMO part of size
    < 10, the supplier(s) with the lowest account balance among those
    who have shipped it (s_acctbal stands in for ps_supplycost; the
    part-supplier relation comes from lineitem). Correlated-min via a
    window over the candidate set — one shuffle on p_partkey, both
    dimension sides broadcast. Ties are kept, as in the original."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") < 10)
    ).select("p_partkey", "p_name")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # Semi-join the fact against the (broadcast) filtered part list
    # BEFORE the distinct: the PROMO/size<10 predicate is ~4% selective,
    # so the distinct's shuffle shrinks by 25× — Catalyst won't push an
    # inner join below an Aggregate on its own, so order it by hand.
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(part.select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .distinct()
    )
    cand = (
        pairs
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    best = cand.withColumn("_min_bal_c", F.min(_cents("s_acctbal")).over(w)).filter(
        _cents("s_acctbal") == F.col("_min_bal_c")
    )
    return (
        best.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 (national market share, adapted): NATION_5 suppliers' share of
    ECONOMY-part revenue sold to ASIA customers, per order year 1995-96.
    The fact narrows through broadcast part first (smallest selectivity),
    then orders; all dims broadcast; the share is a conditional-aggregate
    ratio over exact e4 cents."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders.hint("merge"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_5", _rev_e4()).otherwise(F.lit(0))
        ).alias("_nat_e4"),
        F.sum(_rev_e4()).alias("_tot_e4"),
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("_nat_e4").cast("double") / F.col("_tot_e4").cast("double"), 6
        ).alias("mkt_share"),
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 (product-type profit, adapted): per supplier nation and order
    year, profit on STANDARD parts. The missing ps_supplycost becomes
    10% of p_retailprice; profit stays integer by scaling to e5 units
    (10*rev_e4 - qty_c*retail_c) before one final double division."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey", "p_retailprice")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    profit_e5 = (
        F.lit(10) * _rev_e4()
        - _cents("l_quantity") * _cents("p_retailprice")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(F.sum(profit_e5).alias("_profit_e5"))
    return agg.select(
        "nation",
        "o_year",
        (F.col("_profit_e5").cast("double") / F.lit(100000.0)).alias("sum_profit"),
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 (important stock, adapted): parts whose shipped value from
    NATION_3 suppliers concentrates more than 0.1% of that nation's
    total shipped value. The total is a 1-row aggregate broadcast back
    onto the per-part aggregate — the classic HAVING-over-scalar-subquery
    shape with no driver round-trip."""
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    ).select("n_nationkey")
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left_semi"
    )
    li = load_table(spark, sf_dir, "lineitem")
    flow = li.join(F.broadcast(nat_supp), li.l_suppkey == nat_supp.s_suppkey)
    per_part = flow.groupBy("l_partkey").agg(
        F.sum(_cents("l_extendedprice")).alias("_val_c")
    )
    total = per_part.agg(F.sum("_val_c").alias("_tot_c"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_val_c").cast("double") > 0.001 * F.col("_tot_c").cast("double"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("_val_c").cast("double") / F.lit(100.0)).alias("value"),
        )
    )


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 (shipping modes & priority, adapted): lineitems shipped in
    1996 more than 90 days after the order date ("late"), bucketed by
    l_linestatus (stands in for l_shipmode), counting high- vs
    low-priority orders. lineitem⋈orders is fact-fact: pinned to a
    sort-merge shuffle join on the order key (broadcasting the pruned
    orders projection only works while it fits one executor — not at
    100 TB; AQE still demotes to broadcast at runtime when small).
    The date arithmetic is codegen'd, no UDF."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    joined = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 (top supplier): supplier(s) achieving the maximum revenue over
    1996Q1 shipments. The revenue "view" aggregates once; the scalar max
    is a 1-row broadcast joined back — ties kept as in the original."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_e4()).alias("_rev_e4")
    )
    top = revenue.agg(F.max("_rev_e4").alias("_max_e4"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top))
        .filter(F.col("_rev_e4") == F.col("_max_e4"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("_rev_e4").cast("double") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 (part/supplier relationship, adapted): how many distinct
    suppliers ship each (brand, type, size) combination, excluding
    Brand#1, PROMO-type parts, and suppliers in bad standing
    (s_acctbal < 0 stands in for the complaints NOT IN). The exclusion
    is a left_anti on the tiny supplier side; the distinct count
    shuffles only after the broadcast-narrowed join."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    # Same manual reorder as tpch_q2: semi-join the broadcast part list
    # (and anti-join the bad suppliers) below the distinct so the
    # distinct's shuffle only carries qualifying pairs.
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(part.select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .distinct()
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt")
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 (small-quantity-order revenue): average yearly revenue lost if
    Brand#3 orders below 20% of that part's average quantity were not
    filled. The correlated AVG becomes a per-part aggregate joined back;
    the `qty < 0.2*avg(qty)` comparison is cross-multiplied to integers
    (5*qty_c*n < sum_qty_c) so no engine-specific float rounding can
    flip a boundary row."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_partkey", "l_quantity", "l_extendedprice"
    )
    stats = brand_li.groupBy(F.col("p_partkey").alias("_sp")).agg(
        F.sum(_cents("l_quantity")).alias("_sum_qty_c"),
        F.count("*").alias("_n"),
    )
    small = brand_li.join(
        F.broadcast(stats), F.col("p_partkey") == F.col("_sp")
    ).filter(_cents("l_quantity") * 5 * F.col("_n") < F.col("_sum_qty_c"))
    return small.agg(
        F.round(
            F.sum(_cents("l_extendedprice")).cast("double") / F.lit(100.0) / F.lit(7.0), 6
        ).alias("avg_yearly")
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 (potential part promotion, adapted): NATION_7 suppliers who
    shipped more than 60 units of some PROMO part during 1996 — a chain
    of semi joins ending in the supplier projection. The heavy work is
    one aggregate over the part-narrowed fact; every join side above it
    broadcasts."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_cents("l_quantity")).alias("_qty_c"))
        .filter(F.col("_qty_c") > 60 * 100)
        .select("l_suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    ).select("n_nationkey")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left_semi")
        .join(shipped, supp.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 (suppliers who kept orders waiting, adapted): per supplier,
    how many finalized multi-supplier orders had ONLY that supplier
    return items. The original's EXISTS + NOT-EXISTS self-joins on
    lineitem collapse into one per-order aggregate (distinct suppliers,
    distinct returning suppliers) re-joined to the returned rows — one
    fact shuffle on l_orderkey instead of three fact-fact joins, which
    is the difference between feasible and not at 100 TB."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    # fact-fact semi join: pinned to shuffle (the filtered orders key
    # column is corpus-proportional, broadcast would cap scale)
    fli = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey, "left_semi")
    per_order = fli.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("_n_supp"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("_n_ret_supp"),
    )
    lone = per_order.filter((F.col("_n_supp") > 1) & (F.col("_n_ret_supp") == 1)).select(
        F.col("l_orderkey").alias("_ok")
    )
    waiting = (
        fli.filter(F.col("l_returnflag") == "R")
        .join(lone.hint("merge"), F.col("l_orderkey") == F.col("_ok"), "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


QUERIES = {
    "tpch_q2": tpch_q2,
    "tpch_q8": tpch_q8,
    "tpch_q9": tpch_q9,
    "tpch_q11": tpch_q11,
    "tpch_q12": tpch_q12,
    "tpch_q15": tpch_q15,
    "tpch_q16": tpch_q16,
    "tpch_q17": tpch_q17,
    "tpch_q20": tpch_q20,
    "tpch_q21": tpch_q21,
}

ORACLE = {
    "tpch_q2": """
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        cand AS (
          SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
                 s.s_nationkey,
                 CAST(FLOOR(s.s_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
          FROM part p
          JOIN ps ON p.p_partkey = ps.l_partkey
          JOIN supplier s ON ps.l_suppkey = s.s_suppkey
          WHERE p.p_type = 'PROMO' AND p.p_size < 10)
        SELECT c.s_acctbal, c.s_name, n.n_name, c.p_partkey, c.p_name
        FROM cand c JOIN nation n ON c.s_nationkey = n.n_nationkey
        WHERE c.bal_c = (SELECT MIN(c2.bal_c) FROM cand c2
                         WHERE c2.p_partkey = c.p_partkey)
    """,
    "tpch_q8": f"""
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_5'
                                   THEN {_REV_E4_SQL} ELSE 0 END) AS DOUBLE)
                     / CAST(SUM({_REV_E4_SQL}) AS DOUBLE), 6) AS mkt_share
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "tpch_q9": f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(SUM(10 * {_REV_E4_SQL}
                        - {_QTY_C_SQL} *
                          CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100000.0 AS sum_profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_type = 'STANDARD'
        GROUP BY 1, 2
    """,
    "tpch_q11": """
        WITH flow AS (
          SELECT l.l_partkey,
                 SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS val_c
          FROM lineitem l
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          WHERE n.n_name = 'NATION_3'
          GROUP BY 1)
        SELECT l_partkey AS p_partkey, CAST(val_c AS DOUBLE) / 100.0 AS value
        FROM flow
        WHERE CAST(val_c AS DOUBLE) >
              0.001 * (SELECT CAST(SUM(val_c) AS DOUBLE) FROM flow)
    """,
    "tpch_q12": """
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        GROUP BY 1
    """,
    "tpch_q15": f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no, SUM({_REV_E4_SQL}) AS rev_e4
          FROM lineitem l
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s.s_suppkey, s.s_name,
               CAST(r.rev_e4 AS DOUBLE) / 10000.0 AS total_revenue
        FROM revenue r JOIN supplier s ON r.supplier_no = s.s_suppkey
        WHERE r.rev_e4 = (SELECT MAX(rev_e4) FROM revenue)
    """,
    "tpch_q16": """
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
        FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
          AND ps.l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """,
    "tpch_q17": f"""
        WITH brand_li AS (
          SELECT p.p_partkey, l.l_quantity, l.l_extendedprice,
                 {_QTY_C_SQL} AS qty_c
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE p.p_brand = 'Brand#3'),
        stats AS (
          SELECT p_partkey AS sp, SUM(qty_c) AS sum_qty_c, COUNT(*) AS n
          FROM brand_li GROUP BY 1)
        SELECT ROUND(CAST(SUM(CAST(FLOOR(b.l_extendedprice * 100 + 0.5) AS BIGINT))
                          AS DOUBLE) / 100.0 / 7.0, 6) AS avg_yearly
        FROM brand_li b JOIN stats s ON b.p_partkey = s.sp
        WHERE b.qty_c * 5 * s.n < s.sum_qty_c
    """,
    "tpch_q20": f"""
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_7'
          AND s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_type = 'PROMO'
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING SUM({_QTY_C_SQL}) > 6000)
    """,
    "tpch_q21": """
        WITH fli AS (
          SELECT l.* FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderstatus = 'F'),
        per_order AS (
          SELECT l_orderkey,
                 COUNT(DISTINCT l_suppkey) AS n_supp,
                 COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                                     THEN l_suppkey END) AS n_ret_supp
          FROM fli GROUP BY 1),
        waiting AS (
          SELECT DISTINCT f.l_orderkey, f.l_suppkey
          FROM fli f
          JOIN per_order po ON f.l_orderkey = po.l_orderkey
          WHERE f.l_returnflag = 'R' AND po.n_supp > 1 AND po.n_ret_supp = 1)
        SELECT s.s_name, COUNT(*) AS numwait
        FROM waiting w JOIN supplier s ON w.l_suppkey = s.s_suppkey
        GROUP BY 1
    """,
}
