"""Analytic shapes beyond rollup/cube/pivot: grouping sets, interval
self-join, exact percentiles, and fixed-width histograms.

The reference has no aggregation surface beyond windowed count+max
(SURVEY.md §2.5/§2.9); Spark provides these natively and this module
declares them so the oracle exercises the remaining aggregate/join
shapes: explicit GROUPING SETS (the general form rollup/cube are sugar
for), a time-interval self-join (the range-join family), interpolated
percentile aggregates, and value binning.

Scale notes:
  * grouping sets run as one pass with Expand — no N-pass unions;
  * the interval self-join shuffles both sides on the equi-key
    (customer) once, and the date-band predicate runs codegen'd inside
    the joined partition — never a cross join;
  * percentiles use Spark's exact `percentile` (single shuffle,
    per-group t-digest-free exact path) over integer cents so the
    interpolation arithmetic is engine-identical;
  * histogram buckets quantize the measure to integer e6 units before
    summing — order-independent partial aggregation, no float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark.operators.relational import _cents
from flinkproj_spark.sources.tables import load_table

def grouping_sets_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts + exact revenue per status, per priority, and grand
    total — GROUPING SETS ((status),(priority),()) in ONE Expand pass."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(_cents("o_totalprice")).alias("_total_c"),
    )
    return agg.select(
        "o_orderstatus",
        "o_orderpriority",
        "n_orders",
        (F.col("_total_c").cast("double") / F.lit(100.0)).alias("total_price"),
    )


def interval_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer, how many ordered pairs of their orders fall within
    30 days of each other — the interval/range-join shape. Equi-key
    (o_custkey) carries the shuffle; the band predicate is evaluated
    post-join inside each customer partition, so work is
    O(orders_per_customer²) per key, never O(n²) global."""
    o1 = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderdate").alias("d1"),
    )
    o2 = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey2"),
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderdate").alias("d2"),
    )
    # fact self-join: pinned to shuffle on the equi key (stats at small
    # SF would broadcast one orders projection — corpus-proportional)
    pairs = o1.join(o2.hint("merge"), F.col("custkey") == F.col("custkey2")).filter(
        (F.col("d2") > F.col("d1"))
        & (F.col("d2") <= F.col("d1") + F.expr("INTERVAL 30 DAYS"))
    )
    return pairs.groupBy("custkey").agg(F.count("*").alias("pair_cnt"))


def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: how many users progressed view → click
    → purchase IN TEMPORAL ORDER (a later-stage event only counts if it
    happens strictly after the user's earliest qualifying prior stage).

    Shape: ONE exchange on user_id, then three chained window passes
    over the same partitioning (each stage's earliest-qualifying
    timestamp references the previous stage's column — Spark reuses the
    sort/partition, no new shuffle), then a 1-row conditional
    aggregate. At 100 TB this is a single fact shuffle; the per-user
    event timeline never leaves its partition."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s1 = events.select(
        "user_id",
        "event_type",
        "ts",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w).alias("t1"),
    )
    s2 = s1.select(
        "*",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(w).alias("t2"),
    )
    s3 = s2.select(
        "*",
        F.min(
            F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts"))
        ).over(w).alias("t3"),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max(F.col("t1").isNotNull().cast("int")).alias("r1"),
        F.max(F.col("t2").isNotNull().cast("int")).alias("r2"),
        F.max(F.col("t3").isNotNull().cast("int")).alias("r3"),
    )
    agg = per_user.agg(
        F.sum("r1").alias("n_view"),
        F.sum("r2").alias("n_view_click"),
        F.sum("r3").alias("n_view_click_purchase"),
    )
    return agg.selectExpr(
        "CAST(n_view AS BIGINT) AS n_view",
        "CAST(n_view_click AS BIGINT) AS n_view_click",
        "CAST(n_view_click_purchase AS BIGINT) AS n_view_click_purchase",
        "(n_view_click * 100) div nullif(n_view, 0) AS pct_click",
        "(n_view_click_purchase * 100) div nullif(n_view, 0) AS pct_purchase",
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted as retained in each later week they were active — the
    standard growth-analytics triangle.

    Shape: per-user first week via one map-side-combined min aggregate,
    joined back on user_id (one narrow shuffle — 2 longs per row),
    distinct (cohort, offset, user) then the cohort rollup. Weeks are
    integer epoch-DAY divisions (datediff is exact integer arithmetic
    in both engines — epoch-second doubles are not)."""
    events = load_table(spark, sf_dir, "events")
    week = F.floor(F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / 7).cast("long")
    acts = events.select("user_id", week.alias("week")).distinct()
    first = acts.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = acts.join(first, "user_id").select(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"), "user_id"
    )
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_PATH_LEN = 5


_PATH_TOP = 20


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for every ordered (prev_type, next_type) pair of
    consecutive events (by time, tie → event_id, within one user), the
    transition count and row-normalized probability in ppm — the
    companion of event_path_topk (full conditional structure instead
    of top prefixes; what journey-simulation and anomaly baselines
    consume).

    Shape: ONE shuffle on user_id feeds the lag window (per-user
    ordering, bounded by the user's own events); pair counting is a
    map-side-combined groupBy on (prev, next) — a key space of
    event-type², corpus-size-independent; row totals re-attach by
    broadcast. Integer ppm via div — bit-identical at any
    partitioning."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    trans = steps.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_trans")
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n_trans").alias("row_total"))
    return trans.join(F.broadcast(totals), "prev_type").selectExpr(
        "prev_type",
        "next_type",
        "n_trans",
        # DECIMAL(38,0) numerator: n_trans is corpus-sized, so ×1e6
        # wraps BIGINT past ~9.2e12 transitions (round-7 ADVICE —
        # same one-operand-cast pattern as hhi_by_nation).
        "CAST(CAST(n_trans AS DECIMAL(38,0)) * 1000000"
        " div row_total AS BIGINT) AS p_ppm",
    )


def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey prefixes: each user's first 5 event types
    (by time) joined into a path string, ranked by how many users share
    the path — the product-analytics "common flows" query.

    Shape: ONE shuffle on user_id serves both the row_number window
    and the per-user path assembly (same partitioning — Spark reuses
    the exchange); the path frequency count is map-side combined and
    the final top-k is TakeOrderedAndProject. The collect_list is
    bounded at 5 structs per user by the rank filter BEFORE the
    aggregation, so no unbounded per-key buffer exists at any scale."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_n = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_LEN)
    )
    paths = first_n.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOP)
    )


def event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types: for every ordered pair
    (a < b), how many users did both, and the lift
    n_ab·N·10⁶ div (n_a·n_b) — >1e6 means the behaviors attract,
    <1e6 they repel. The cross-sell/affinity primitive over the
    behavioral log.

    Shape: one groupBy(user) collect_set of types (bounded by type
    cardinality, so the agg buffer is tiny and map-side combined),
    in-row ordered-pair expansion of the sorted set, a pair count,
    and the per-type marginals re-attached by broadcast (the type
    vocabulary is small by nature). Integer lift — DECIMAL casts keep
    n_ab·N·10⁶ exact at any user count."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    pair_arr = F.flatten(
        F.transform(
            "types",
            lambda x, i: F.transform(
                F.slice(F.col("types"), i + F.lit(2), F.size("types")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pair_counts = (
        per_user.select(F.explode(pair_arr).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.count("*").alias("n_ab"))
    )
    marg = per_user.select(F.explode("types").alias("t")).groupBy("t").agg(
        F.count("*").alias("n_t")
    )
    n_users = per_user.agg(F.count("*").alias("n_users"))
    return (
        pair_counts.join(
            F.broadcast(marg.select(F.col("t").alias("a"), F.col("n_t").alias("n_a"))), "a"
        )
        .join(
            F.broadcast(marg.select(F.col("t").alias("b"), F.col("n_t").alias("n_b"))), "b"
        )
        .crossJoin(F.broadcast(n_users))
        .selectExpr(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            "n_users",
            "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_users * 1000000)"
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) AS lift_e6",
        )
    )


_BASKET_TOP = 30


def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-level market-basket analysis: the TOP 30 part pairs by
    co-purchase count, each with support and lift
    (n_ab·N·10⁶ div (n_a·n_b)) — the cross-sell primitive over actual
    baskets, complementing event_cooccurrence_lift's user-level twin.
    Lift > 1e6 means the parts attract (bought together beyond
    chance); ties rank deterministically by (count desc, part_a,
    part_b).

    Shape: one groupBy(order) collects the distinct sorted basket
    (baskets are order-bounded — single-digit items — so the agg
    buffer and the in-row C(k,2) pair expansion are tiny), one pair
    count, and part marginals re-attached by plain equi-joins (the
    part catalog is dimension-proportional, NOT broadcast by
    construction — AQE may broadcast at runtime when it fits). The
    lift numerator n_ab·N·10⁶ runs in DECIMAL(38,0), exact at any
    order count; top-k compiles to TakeOrderedAndProject, never a
    global sort."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_arr = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + F.lit(2), F.size("parts")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pair_counts = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .agg(F.count("*").alias("n_ab"))
    )
    marg = baskets.select(F.explode("parts").alias("t")).groupBy("t").agg(
        F.count("*").alias("n_t")
    )
    n_orders = baskets.agg(F.count("*").alias("n_orders"))
    joined = (
        pair_counts.join(
            marg.select(F.col("t").alias("part_a"), F.col("n_t").alias("n_a")),
            "part_a",
        )
        .join(
            marg.select(F.col("t").alias("part_b"), F.col("n_t").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    scored = joined.select(
        "part_a",
        "part_b",
        "n_ab",
        "n_a",
        "n_b",
        "n_orders",
        F.expr("n_ab * 1000000 div n_orders").alias("support_ppm"),
        F.expr(
            "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000)"
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
        ).alias("lift_ppm"),
    )
    return scored.orderBy(
        F.col("n_ab").desc(), "part_a", "part_b"
    ).limit(_BASKET_TOP)


_CEP_WITHIN_US = 3 * 86400 * 1_000_000  # max gap per transition: 3 days


def cep_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern matching — the Flink feature family the reference
    never used (SURVEY §2.9 lists CEP as an explicit gap) re-expressed
    Spark-first: detect every NON-OVERLAPPING view → click → purchase
    sequence per user where each transition happens within 3 days,
    with skip-till-next-match semantics (mid-pattern views are
    ignored, an overdue transition expires the partial match, a
    completed match resets the machine). One row per match with the
    three event times and the end-to-end duration — the per-match
    output funnel_steps' aggregate view cannot give.

    Shape: ONE exchange on user_id builds each user's time-ordered
    event array in-row (per-key timelines are activity-bounded, the
    same state-size argument as the streaming ring buffers; at 100 TB
    you sessionize first or run the streaming twin), then the greedy
    state machine runs as a codegen'd F.aggregate fold — stage,
    two timestamps, and the emitted matches ride one accumulator
    struct, no Python, no per-event shuffle. The DuckDB oracle walks
    the identical machine with a recursive CTE (depth = max events
    per user), so the exact greedy semantics are cross-checked, not
    just row counts. Timestamps are epoch MICROseconds end to end —
    no second-truncation ties, timezone-free."""
    events = load_table(spark, sf_dir, "events")
    evs = events.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("ts"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        ).alias("e"),
    ).groupBy("user_id").agg(F.sort_array(F.collect_list("e")).alias("evs"))
    W = _CEP_WITHIN_US
    eff = (
        "CASE WHEN (acc.stage = 1 AND e.ts - acc.t1 > {W})"
        "       OR (acc.stage = 2 AND e.ts - acc.t2 > {W}) THEN 0"
        "     ELSE acc.stage END"
    ).format(W=W)
    fold = f"""
      aggregate(
        evs,
        named_struct(
          'stage', 0,
          't1', CAST(0 AS BIGINT),
          't2', CAST(0 AS BIGINT),
          'ms', CAST(array() AS ARRAY<STRUCT<t1: BIGINT, t2: BIGINT, t3: BIGINT>>)),
        (acc, e) -> named_struct(
          'stage', CASE WHEN ({eff}) = 0 AND e.et = 'view' THEN 1
                        WHEN ({eff}) = 1 AND e.et = 'click' THEN 2
                        WHEN ({eff}) = 2 AND e.et = 'purchase' THEN 0
                        ELSE ({eff}) END,
          't1', CASE WHEN ({eff}) = 0 AND e.et = 'view' THEN e.ts ELSE acc.t1 END,
          't2', CASE WHEN ({eff}) = 1 AND e.et = 'click' THEN e.ts ELSE acc.t2 END,
          'ms', CASE WHEN ({eff}) = 2 AND e.et = 'purchase'
                     THEN concat(acc.ms, array(named_struct(
                            't1', acc.t1, 't2', acc.t2, 't3', e.ts)))
                     ELSE acc.ms END)
      ).ms
    """
    matched = evs.select("user_id", F.expr(fold).alias("ms"))
    out = matched.select(
        "user_id", F.posexplode("ms").alias("pos", "m")
    )
    return out.select(
        "user_id",
        (F.col("pos") + 1).cast("int").alias("match_seq"),
        F.col("m.t1").alias("t_view_us"),
        F.col("m.t2").alias("t_click_us"),
        F.col("m.t3").alias("t_purchase_us"),
        F.expr("(m.t3 - m.t1) div 1000000").alias("duration_sec"),
    )


QUERIES = {
    "cep_pattern_matches": cep_pattern_matches,
    "basket_pair_lift": basket_pair_lift,
    "grouping_sets_counts": grouping_sets_counts,
    "interval_join_pairs": interval_join_pairs,
    "funnel_steps": funnel_steps,
    "retention_cohorts": retention_cohorts,
    "event_path_topk": event_path_topk,
    "event_transition_matrix": event_transition_matrix,
    "event_cooccurrence_lift": event_cooccurrence_lift,
}


_FUNNEL_SQL = """
        WITH u AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
          FROM events GROUP BY 1),
        u2 AS (
          SELECT e.user_id, u.t1,
                 MIN(CASE WHEN e.event_type = 'click' AND e.ts > u.t1
                          THEN e.ts END) AS t2
          FROM events e JOIN u USING (user_id) GROUP BY 1, 2),
        u3 AS (
          SELECT e.user_id, u2.t1, u2.t2,
                 MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.t2
                          THEN e.ts END) AS t3
          FROM events e JOIN u2 USING (user_id) GROUP BY 1, 2, 3),
        agg AS (
          SELECT SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS n_view,
                 SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS n_view_click,
                 SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS n_view_click_purchase
          FROM u3)
        SELECT CAST(n_view AS BIGINT) AS n_view,
               CAST(n_view_click AS BIGINT) AS n_view_click,
               CAST(n_view_click_purchase AS BIGINT) AS n_view_click_purchase,
               CAST(n_view_click * 100 // NULLIF(n_view, 0) AS BIGINT) AS pct_click,
               CAST(n_view_click_purchase * 100 // NULLIF(n_view, 0) AS BIGINT) AS pct_purchase
        FROM agg
"""


_RETENTION_SQL = """
        WITH acts AS (
          SELECT DISTINCT user_id,
                 CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                      AS BIGINT) AS week
          FROM events),
        cohort AS (
          SELECT user_id, MIN(week) AS cohort_week FROM acts GROUP BY 1)
        SELECT c.cohort_week,
               a.week - c.cohort_week AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM acts a JOIN cohort c USING (user_id)
        GROUP BY 1, 2
"""


ORACLE = {
    "grouping_sets_counts": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "interval_join_pairs": """
        SELECT o1.o_custkey AS custkey, COUNT(*) AS pair_cnt
        FROM orders o1 JOIN orders o2 ON o1.o_custkey = o2.o_custkey
        WHERE o2.o_orderdate > o1.o_orderdate
          AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 30 DAY
        GROUP BY 1
    """,
}


ORACLE["funnel_steps"] = _FUNNEL_SQL


ORACLE["retention_cohorts"] = _RETENTION_SQL


ORACLE["event_path_topk"] = f"""
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= {_PATH_LEN} GROUP BY 1)
    SELECT path, COUNT(*) AS n_users
    FROM p GROUP BY 1
    ORDER BY n_users DESC, path LIMIT {_PATH_TOP}
"""


ORACLE["event_cooccurrence_lift"] = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    m AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
    p AS (
      SELECT x.event_type AS a, y.event_type AS b, COUNT(*) AS n_ab
      FROM ut x JOIN ut y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2)
    SELECT p.a, p.b, p.n_ab,
           ma.n_t AS n_a, mb.n_t AS n_b,
           CAST(n.n_users AS BIGINT) AS n_users,
           CAST((CAST(p.n_ab AS HUGEINT) * n.n_users * 1000000)
                // (CAST(ma.n_t AS HUGEINT) * mb.n_t) AS BIGINT) AS lift_e6
    FROM p
    JOIN m ma ON p.a = ma.event_type
    JOIN m mb ON p.b = mb.event_type
    CROSS JOIN n
"""


ORACLE["event_transition_matrix"] = """
    WITH steps AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
      FROM steps WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    totals AS (SELECT prev_type, SUM(n_trans) AS row_total FROM trans GROUP BY 1)
    SELECT t.prev_type, t.next_type, CAST(t.n_trans AS BIGINT) AS n_trans,
           CAST(t.n_trans * 1000000 // x.row_total AS BIGINT) AS p_ppm
    FROM trans t JOIN totals x USING (prev_type)
"""


ORACLE["basket_pair_lift"] = f"""
    WITH b AS (
      SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
      FROM lineitem GROUP BY 1),
    pairs AS (
      SELECT unnest(flatten(list_transform(parts,
               (x, i) -> list_transform(parts[i+1:], y -> [x, y])))) AS p
      FROM b),
    pc AS (
      SELECT p[1] AS part_a, p[2] AS part_b, COUNT(*) AS n_ab
      FROM pairs GROUP BY 1, 2),
    marg AS (
      SELECT t, COUNT(*) AS n_t
      FROM (SELECT unnest(parts) AS t FROM b) GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_orders FROM b)
    SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(ma.n_t AS BIGINT) AS n_a, CAST(mb.n_t AS BIGINT) AS n_b,
           CAST(n.n_orders AS BIGINT) AS n_orders,
           CAST(n_ab AS BIGINT) * 1000000 // n.n_orders AS support_ppm,
           CAST(CAST(n_ab AS HUGEINT) * n.n_orders * 1000000
                // (CAST(ma.n_t AS HUGEINT) * mb.n_t) AS BIGINT) AS lift_ppm
    FROM pc
    JOIN marg ma ON ma.t = pc.part_a
    JOIN marg mb ON mb.t = pc.part_b
    CROSS JOIN n
    ORDER BY n_ab DESC, part_a, part_b LIMIT {_BASKET_TOP}
"""


def _cep_oracle() -> str:
    W = _CEP_WITHIN_US
    eff = (
        f"CASE WHEN (w.stage = 1 AND s.ts - w.t1 > {W})"
        f"       OR (w.stage = 2 AND s.ts - w.t2 > {W}) THEN 0"
        f"     ELSE w.stage END"
    )
    return f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, epoch_us(ts) AS ts, event_type AS et,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events),
    walk(user_id, rn, stage, t1, t2, m_t1, m_t2, m_t3) AS (
      SELECT user_id, 0, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      FROM (SELECT DISTINCT user_id FROM seq)
      UNION ALL
      SELECT w.user_id, w.rn + 1,
             CASE WHEN ({eff}) = 0 AND s.et = 'view' THEN 1
                  WHEN ({eff}) = 1 AND s.et = 'click' THEN 2
                  WHEN ({eff}) = 2 AND s.et = 'purchase' THEN 0
                  ELSE ({eff}) END,
             CASE WHEN ({eff}) = 0 AND s.et = 'view' THEN s.ts ELSE w.t1 END,
             CASE WHEN ({eff}) = 1 AND s.et = 'click' THEN s.ts ELSE w.t2 END,
             CASE WHEN ({eff}) = 2 AND s.et = 'purchase' THEN w.t1 END,
             CASE WHEN ({eff}) = 2 AND s.et = 'purchase' THEN w.t2 END,
             CASE WHEN ({eff}) = 2 AND s.et = 'purchase' THEN s.ts END
      FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1)
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY m_t3) AS INT)
             AS match_seq,
           m_t1 AS t_view_us, m_t2 AS t_click_us, m_t3 AS t_purchase_us,
           (m_t3 - m_t1) // 1000000 AS duration_sec
    FROM walk WHERE m_t3 IS NOT NULL
"""


ORACLE["cep_pattern_matches"] = _cep_oracle()


# ---------------------------------------------------------------------------
# Signup→purchase conversion-lag curve (round 7)
# ---------------------------------------------------------------------------
def conversion_lag_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival-style conversion curve: for users whose first purchase
    follows their first signup, the day-offset histogram and the
    cumulative share of the signup cohort converted by each offset —
    the activation-latency chart growth teams watch (KM curve with
    no censoring beyond the corpus horizon).

    Shape: two conditional aggregates collapse the fact scan to one
    row per user (map-side combined), the purchase stream joins the
    signup frame on user_id (one hash exchange — at 100 TB this is
    the only data-sized shuffle), and the curve itself is a window
    over the DAY-OFFSET histogram, whose row count is bounded by the
    calendar. The cohort size rides a broadcast 1-row aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    signup = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(signup, "user_id")
        .filter(F.col("ts") >= F.col("st"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"), F.min("st").alias("st"))
        .select(F.datediff(F.to_date("pt"), F.to_date("st")).alias("lag_days"))
    )
    hist = conv.groupBy("lag_days").agg(F.count("*").alias("n_at"))
    cohort = signup.agg(F.count("*").alias("cohort_n"))
    w = Window.orderBy("lag_days").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.withColumn("cum_converted", F.sum("n_at").over(w))
        .crossJoin(F.broadcast(cohort))
        .select(
            F.col("lag_days").cast("int").alias("lag_days"),
            F.col("n_at").cast("long").alias("n_at"),
            F.col("cum_converted").cast("long").alias("cum_converted"),
            F.col("cohort_n").cast("long").alias("cohort_n"),
            F.expr("cum_converted * 1000000 div cohort_n").alias("conv_ppm"),
        )
    )


QUERIES["conversion_lag_curve"] = conversion_lag_curve


ORACLE["conversion_lag_curve"] = """
    WITH s AS (
      SELECT user_id, MIN(ts) AS st FROM events
      WHERE event_type = 'signup' GROUP BY 1),
    conv AS (
      SELECT date_diff('day', CAST(MIN(s.st) AS DATE), CAST(MIN(e.ts) AS DATE))
               AS lag_days
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s.st
      GROUP BY e.user_id),
    hist AS (SELECT lag_days, COUNT(*) AS n_at FROM conv GROUP BY 1),
    cohort AS (SELECT COUNT(*) AS cohort_n FROM s)
    SELECT CAST(lag_days AS INT) AS lag_days,
           CAST(n_at AS BIGINT) AS n_at,
           CAST(SUM(n_at) OVER (ORDER BY lag_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_converted,
           CAST(cohort_n AS BIGINT) AS cohort_n,
           CAST(SUM(n_at) OVER (ORDER BY lag_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             * 1000000 // cohort_n AS conv_ppm
    FROM hist CROSS JOIN cohort
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer, recency (days since
    last order, against the corpus max order date), frequency (order
    count), monetary (lifetime spend in exact cents), each scored into
    quintiles 1-5 (5 = best: most recent / most frequent / highest
    spend), plus the concatenated RFM code marketing pipelines key on.

    Quintile boundaries are NOT ntile() (whose remainder distribution
    is engine lore): the score is the closed form
    q = (rank-1)*5 div n + 1 over a fully tie-broken rank
    ((metric, custkey) total order), so both engines derive identical
    buckets by construction.

    Shape: one orders scan -> groupBy(custkey) collapses to the
    CUSTOMER-DIMENSION frame; the max-order-date scalar and the n
    scalar ride 1-row broadcasts; the three quintile ranks are each the
    skew-safe two-pass bucketed row_number (functions.
    bucketed_row_number — round-8 generalization of the
    quality_rank_per_lang pattern): recency buckets by 16-day calendar
    ranges, frequency by 4-order ranges, monetary by 2^24-cent ranges,
    so every unpartitioned window runs over a bucket-COUNT frame
    bounded by the metric's DOMAIN (calendar span / order-count range /
    money range), never by |customers| — a naive Window.orderBy would
    sort the whole customer dimension in one task at 100×. At 100 TB
    the orders scan is the only data-sized stage."""
    from flinkproj_spark.functions import bucketed_row_number

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count("*").cast("long").alias("f_n"),
        F.sum(_cents("o_totalprice")).alias("m_c"),
    )
    horizon = orders.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    base = per_cust.crossJoin(F.broadcast(horizon)).select(
        "custkey",
        F.datediff(F.col("h"), F.col("last_d")).cast("long").alias("r_days"),
        "f_n",
        "m_c",
    )
    counted = base.crossJoin(F.broadcast(base.agg(F.count("*").alias("n"))))
    ranked = bucketed_row_number(
        counted,
        F.expr("r_days div 16"),
        [F.col("r_days").desc(), F.col("custkey").asc()],  # oldest first
        "rn_r",
        descending=True,
    )
    ranked = bucketed_row_number(
        ranked,
        F.expr("f_n div 4"),
        [F.col("f_n").asc(), F.col("custkey").asc()],
        "rn_f",
    )
    ranked = bucketed_row_number(
        ranked,
        F.expr("m_c div 16777216"),
        [F.col("m_c").asc(), F.col("custkey").asc()],
        "rn_m",
    )
    return ranked.select(
        "custkey",
        "r_days",
        "f_n",
        "m_c",
        F.expr("(rn_r - 1) * 5 div n + 1").alias("r_q"),
        F.expr("(rn_f - 1) * 5 div n + 1").alias("f_q"),
        F.expr("(rn_m - 1) * 5 div n + 1").alias("m_q"),
        F.expr(
            "CAST((rn_r - 1) * 5 div n + 1 AS STRING)"
            " || CAST((rn_f - 1) * 5 div n + 1 AS STRING)"
            " || CAST((rn_m - 1) * 5 div n + 1 AS STRING)"
        ).alias("rfm_code"),
    )


QUERIES["rfm_segmentation"] = rfm_segmentation


ORACLE["rfm_segmentation"] = """
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_d,
             COUNT(*) AS f_n,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS m_c
      FROM orders GROUP BY 1),
    horizon AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders),
    base AS (
      SELECT custkey, date_diff('day', last_d, h) AS r_days, f_n, m_c,
             COUNT(*) OVER () AS n
      FROM per_cust CROSS JOIN horizon),
    ranked AS (
      SELECT *,
        (ROW_NUMBER() OVER (ORDER BY r_days DESC, custkey) - 1) * 5 // n + 1 AS r_q,
        (ROW_NUMBER() OVER (ORDER BY f_n ASC, custkey) - 1) * 5 // n + 1 AS f_q,
        (ROW_NUMBER() OVER (ORDER BY m_c ASC, custkey) - 1) * 5 // n + 1 AS m_q
      FROM base)
    SELECT custkey, CAST(r_days AS BIGINT) AS r_days,
           CAST(f_n AS BIGINT) AS f_n, CAST(m_c AS BIGINT) AS m_c,
           CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
           CAST(m_q AS BIGINT) AS m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) ||
             CAST(m_q AS VARCHAR) AS rfm_code
    FROM ranked
"""


def customer_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers are cohorted by first-
    order month; for each (cohort, age-in-months) cell the cohort's
    revenue at that age, the running cumulative revenue, and the
    cumulative LTV per cohort member in exact cents — the money twin
    of retention_cohorts (which counts activity; this one prices it).

    Shape: groupBy(custkey) derives each customer's cohort month
    (customer-dimension frame), joined back to orders on the custkey
    hash exchange (both sides corpus/dimension-proportional — a
    broadcast would cap scale); the (cohort, age) rollup is then
    map-side combined and every later stage (cumulative window
    partitioned by cohort, cohort-size join) runs on the cohort x age
    grid, bounded by months^2, not rows."""
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        ((F.year("o_orderdate") - F.lit(1995)) * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("mi"),
        _cents("o_totalprice").alias("rev_c"),
    )
    first = om.groupBy("o_custkey").agg(F.min("mi").alias("cohort_mi"))
    sizes = first.groupBy("cohort_mi").agg(
        F.count("*").cast("long").alias("cohort_n")
    )
    cells = (
        om.join(first, "o_custkey")
        .groupBy("cohort_mi", (F.col("mi") - F.col("cohort_mi")).alias("age_m"))
        .agg(F.sum("rev_c").alias("rev_c"))
    )
    w = (
        Window.partitionBy("cohort_mi")
        .orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.withColumn("cum_rev_c", F.sum("rev_c").over(w))
        .join(F.broadcast(sizes), "cohort_mi")
        .select(
            F.col("cohort_mi").cast("long").alias("cohort_mi"),
            F.col("age_m").cast("long").alias("age_m"),
            F.col("rev_c").cast("long").alias("rev_c"),
            F.col("cum_rev_c").cast("long").alias("cum_rev_c"),
            "cohort_n",
            F.expr("cum_rev_c div cohort_n").alias("ltv_c_per_cust"),
        )
    )


QUERIES["customer_ltv_cohort"] = customer_ltv_cohort


ORACLE["customer_ltv_cohort"] = """
    WITH om AS (
      SELECT o_custkey,
             (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS rev_c
      FROM orders),
    first_o AS (SELECT o_custkey, MIN(mi) AS cohort_mi FROM om GROUP BY 1),
    sizes AS (SELECT cohort_mi, COUNT(*) AS cohort_n FROM first_o GROUP BY 1),
    cells AS (
      SELECT f.cohort_mi, o.mi - f.cohort_mi AS age_m, SUM(o.rev_c) AS rev_c
      FROM om o JOIN first_o f USING (o_custkey)
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_mi, age_m, rev_c,
             SUM(rev_c) OVER (PARTITION BY cohort_mi ORDER BY age_m
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev_c
      FROM cells)
    SELECT CAST(c.cohort_mi AS BIGINT) AS cohort_mi,
           CAST(c.age_m AS BIGINT) AS age_m,
           CAST(c.rev_c AS BIGINT) AS rev_c,
           CAST(c.cum_rev_c AS BIGINT) AS cum_rev_c,
           CAST(s.cohort_n AS BIGINT) AS cohort_n,
           CAST(c.cum_rev_c // s.cohort_n AS BIGINT) AS ltv_c_per_cust
    FROM cum c JOIN sizes s USING (cohort_mi)
"""


def stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per Monday-aligned week — the product-
    engagement ratio ("what fraction of the week's actives show up on
    an average day"): sum of daily distinct users over the week's
    active days, divided by (active days x weekly distinct users),
    exact ppm with no pre-truncated intermediate average. The week key
    is pure integer arithmetic (days since Monday 1970-01-05 div 7),
    identical in both engines — no locale-sensitive week-of-year
    formatting.

    Shape: one events scan -> groupBy (week, day) with a distinct-user
    aggregate (two-phase, keys bounded by the calendar), a second
    distinct aggregate per week for WAU, joined on the tiny week grid.
    At 100 TB the only data-sized stages are the two distinct
    aggregates, both map-side partial."""
    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        F.expr("datediff(to_date(ts), date'1970-01-05') div 7").alias("wk"),
        F.to_date("ts").alias("d"),
        "user_id",
    )
    daily = keyed.groupBy("wk", "d").agg(
        F.countDistinct("user_id").alias("dau")
    )
    per_week = daily.groupBy("wk").agg(
        F.count("*").alias("n_days"), F.sum("dau").alias("sum_dau")
    )
    wau = keyed.groupBy("wk").agg(F.countDistinct("user_id").alias("wau"))
    return (
        per_week.join(wau, "wk")
        .select(
            F.col("wk").cast("long").alias("wk"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("sum_dau").cast("long").alias("sum_dau"),
            F.expr("sum_dau div n_days").alias("avg_dau"),
            F.col("wau").cast("long").alias("wau"),
            F.expr("sum_dau * 1000000 div (n_days * wau)").alias(
                "stickiness_ppm"
            ),
        )
    )


QUERIES["stickiness_dau_wau"] = stickiness_dau_wau


ORACLE["stickiness_dau_wau"] = """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
               AS wk,
             CAST(ts AS DATE) AS d,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1, 2),
    per_week AS (
      SELECT wk, COUNT(*) AS n_days, SUM(dau) AS sum_dau
      FROM daily GROUP BY 1),
    wau AS (
      SELECT date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
               AS wk,
             COUNT(DISTINCT user_id) AS wau
      FROM events GROUP BY 1)
    SELECT CAST(p.wk AS BIGINT) AS wk,
           CAST(p.n_days AS BIGINT) AS n_days,
           CAST(p.sum_dau AS BIGINT) AS sum_dau,
           CAST(p.sum_dau // p.n_days AS BIGINT) AS avg_dau,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(p.sum_dau * 1000000 // (p.n_days * w.wau) AS BIGINT)
             AS stickiness_ppm
    FROM per_week p JOIN wau w USING (wk)
"""


#: activity_migration_matrix parameters: the year pair being compared
#: and the order-count tier edges (1 order = low, 2 = mid, 3+ = high —
#: probed live: all 15 matrix cells populated at sf0.01).
AM_YEAR_FROM = 1996


AM_YEAR_TO = 1997


def activity_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer activity migration: each customer's
    order-count tier in AM_YEAR_FROM (absent/low/mid/high) against
    their tier in AM_YEAR_TO — the churn/acquisition/upgrade matrix a
    retention team reads (absent→x rows are acquisition, x→absent are
    churn, the diagonal is retention). Live in every cell on this
    corpus because ORDERS span 1995–2001 (the events table's 30-day
    span is why the weekly-churn report was dropped in round 8 — this
    is that report rebuilt on the table whose history supports it).

    Not in the reference (SURVEY.md §2.9); product-analytics extension
    in the retention_cohorts/rfm family.

    Shape: ONE scan with the two year filters as conditional
    aggregates of a single groupBy(custkey) — no self-join, no pivot
    — then tier classification in-row and a ≤16-row matrix rollup
    with the share over a broadcast 1-row total."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    per_cust = (
        orders.select("o_custkey", yr.alias("yr"))
        .filter(F.col("yr").isin(AM_YEAR_FROM, AM_YEAR_TO))
        .groupBy("o_custkey")
        .agg(
            F.sum((F.col("yr") == AM_YEAR_FROM).cast("long")).alias("n_from"),
            F.sum((F.col("yr") == AM_YEAR_TO).cast("long")).alias("n_to"),
        )
    )

    def tier(n):
        return (
            F.when(n == 0, "absent")
            .when(n <= 1, "low")
            .when(n <= 2, "mid")
            .otherwise("high")
        )

    mat = per_cust.select(
        tier(F.col("n_from")).alias("tier_from"),
        tier(F.col("n_to")).alias("tier_to"),
    ).groupBy("tier_from", "tier_to").agg(F.count("*").alias("n_customers"))
    tot = mat.agg(F.sum("n_customers").alias("total"))
    return mat.crossJoin(F.broadcast(tot)).select(
        "tier_from",
        "tier_to",
        "n_customers",
        F.expr(
            "CAST(CAST(n_customers AS DECIMAL(38,0)) * 1000000"
            " div total AS BIGINT)"
        ).alias("share_ppm"),
    )


QUERIES["activity_migration_matrix"] = activity_migration_matrix


ORACLE["activity_migration_matrix"] = f"""
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CASE WHEN EXTRACT(year FROM CAST(o_orderdate AS DATE))
                      = {AM_YEAR_FROM} THEN 1 ELSE 0 END) AS n_from,
             SUM(CASE WHEN EXTRACT(year FROM CAST(o_orderdate AS DATE))
                      = {AM_YEAR_TO} THEN 1 ELSE 0 END) AS n_to
      FROM orders
      WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE))
            IN ({AM_YEAR_FROM}, {AM_YEAR_TO})
      GROUP BY 1),
    mat AS (
      SELECT CASE WHEN n_from = 0 THEN 'absent' WHEN n_from <= 1 THEN 'low'
                  WHEN n_from <= 2 THEN 'mid' ELSE 'high' END AS tier_from,
             CASE WHEN n_to = 0 THEN 'absent' WHEN n_to <= 1 THEN 'low'
                  WHEN n_to <= 2 THEN 'mid' ELSE 'high' END AS tier_to,
             COUNT(*) AS n_customers
      FROM per_cust GROUP BY 1, 2),
    tot AS (SELECT SUM(n_customers) AS total FROM mat)
    SELECT tier_from, tier_to, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(CAST(n_customers AS HUGEINT) * 1000000 // total AS BIGINT)
             AS share_ppm
    FROM mat CROSS JOIN tot
"""
