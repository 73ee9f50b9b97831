"""Warehouse audit screens & sketch audits: schema drift,
ANALYZE-style stats, CMS/quantile sketch audits, z-order & zone-map
layout effectiveness, join-strategy advisor, SRM and conformal
coverage experiment screens. Split out of operators/analytic.py in
round 10 (pure move)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark.operators.relational import _cents
from flinkproj_spark.sources.tables import load_table

ORACLE = {}


CMS_D = 4      # count-min sketch depth (hash rows)


CMS_W = 1024   # counters per row


CMS_TOP = 20


def cms_hash_rows(df: DataFrame) -> DataFrame:
    """Shared CMS bucket expansion: (user_id, r, b) — one row per hash
    row per input record, md5-derived buckets. Used by the batch sketch
    and the streaming monitor twin so the two can never disagree on
    hashing."""
    buckets = [
        (
            r,
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"cms{r}:"), F.col("user_id").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % CMS_W
            ),
        )
        for r in range(CMS_D)
    ]
    return df.select(
        "user_id",
        F.explode(
            F.array(
                *[F.struct(F.lit(r).alias("r"), b.alias("b")) for r, b in buckets]
            )
        ).alias("h"),
    ).select("user_id", "h.r", "h.b")


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter audit (Cormode & Muthukrishnan
    2005, public): build a 4×1024 CMS over event user_ids, then report
    the sketch's estimate next to the exact count for the 20 heaviest
    users — the overestimate table that tells a monitoring owner
    whether this sketch geometry is tight enough before deploying it
    where exact counting is unaffordable. The estimate is min over the
    4 hashed counters, so est ≥ true always (pinned in tests);
    over_ppm quantifies collision damage per user.

    Unlike the HLL estimate (engine sketches differ; its key
    approx_distinct_counts is oracled via a within-band verdict), a CMS is
    DETERMINISTIC given its hash functions — md5-derived buckets make
    the whole sketch bit-identical in both engines, so this key is
    fully oracle-checked. Shape: the build is one map-side-combined
    groupBy on (row, bucket) — the exchange carries ≤ 4·1024 counter
    keys regardless of corpus size (sketches are mergeable: partial
    counters combine associatively, the whole point at 100 TB); the
    audit side joins the top-20 candidates' 4 hash rows against the
    BROADCAST sketch and takes one min per user. Integer ppm via div."""
    events = load_table(spark, sf_dir, "events").select("user_id")
    hashed = cms_hash_rows(events)
    sketch = hashed.groupBy("r", "b").agg(F.count("*").alias("counter"))
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "user_id")
        .limit(CMS_TOP)
    )
    cand = top.select("user_id", "true_cnt").join(
        hashed.select("user_id", "r", "b").distinct(), "user_id"
    )
    return (
        cand.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("counter").alias("est_cnt"))
        .selectExpr(
            "user_id",
            "true_cnt",
            "est_cnt",
            "(est_cnt - true_cnt) * 1000000 div true_cnt AS over_ppm",
        )
    )


_Z_BITS = 16  # bits per dimension interleaved into the Morton code


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit for the events table: interleave
    the low 16 bits of user_id with the low 16 bits of the epoch-minute
    into a 32-bit curve position, bucket by the top byte, and report
    each bucket's extent in BOTH dimensions. This is the layout a
    100 TB lake sorts/writes by so that min-max file statistics prune
    scans on user_id AND time simultaneously — the narrow per-bucket
    key/time ranges in the output ARE the data-skipping evidence.

    Pure bit arithmetic (shift/and/or), codegen'd in-row; one combined
    groupBy over 256 buckets. Identical in DuckDB, so the curve math
    is hash-verified rather than trusted. The corresponding WRITE path
    (materialize the layout the audit scores) is
    sources/files.py::write_zorder_layout."""
    from flinkproj_spark import functions as fx

    events = load_table(spark, sf_dir, "events")
    z = fx.morton2(
        F.col("user_id"),
        (F.unix_timestamp("ts") / 60).cast("long"),
        _Z_BITS,
    )
    coded = events.select(
        z.alias("zcode"),
        F.col("user_id").alias("uid"),
        (F.unix_timestamp("ts") / 60).cast("long").alias("minute"),
    )
    return (
        coded.groupBy(F.shiftright("zcode", 24).alias("zbucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("uid").alias("min_uid"),
            F.max("uid").alias("max_uid"),
            F.min("minute").alias("min_minute"),
            F.max("minute").alias("max_minute"),
        )
    )


_DRIFT_COLS = ("user_id", "event_type", "value", "props")


def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot column-profile drift: for every payload
    column of the events table, compare the old half (ts < T0) with
    the new half — row counts, null-rate ppm, and exact distinct
    counts — one row per column. This is the ingest monitor that
    catches "the upstream started sending nulls" or "cardinality
    exploded" before a downstream join melts; the ppm deltas are what
    an alert thresholds on.

    Shape: ONE scan computes every profile in a single global
    aggregate using conditional aggregation (FILTER-style CASE inside
    count/count_distinct) — no per-column scan, no join between the
    halves; the per-column rows are then unpivoted from the one
    aggregate row with an in-row stack. Exact count_distinct is the
    honest default at audit cadence; swap approx_count_distinct for
    per-minute monitoring. Integer ppm arithmetic both engines."""
    events = load_table(spark, sf_dir, "events")
    old = F.col("ts") < F.lit(_IVM_T0)
    aggs = [
        F.sum(old.cast("long")).alias("n_old"),
        F.sum((~old).cast("long")).alias("n_new"),
    ]
    for c in _DRIFT_COLS:
        col = F.col(c)
        aggs += [
            F.sum((old & col.isNull()).cast("long")).alias(f"{c}__nulls_old"),
            F.sum(((~old) & col.isNull()).cast("long")).alias(f"{c}__nulls_new"),
            F.count_distinct(F.when(old, col)).alias(f"{c}__dist_old"),
            F.count_distinct(F.when(~old, col)).alias(f"{c}__dist_new"),
        ]
    one = events.agg(*aggs)
    per_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"{c}__nulls_old").alias("nulls_old"),
                    F.col(f"{c}__nulls_new").alias("nulls_new"),
                    F.col(f"{c}__dist_old").alias("dist_old"),
                    F.col(f"{c}__dist_new").alias("dist_new"),
                )
                for c in _DRIFT_COLS
            ]
        )
    )
    return (
        one.select("n_old", "n_new", per_col.alias("p"))
        .select("p.column", "n_old", "n_new", "p.nulls_old", "p.nulls_new",
                "p.dist_old", "p.dist_new")
        .selectExpr(
            "column",
            "n_old",
            "n_new",
            "(nulls_old * 1000000) div n_old AS null_ppm_old",
            "(nulls_new * 1000000) div n_new AS null_ppm_new",
            "dist_old",
            "dist_new",
        )
    )


_IVM_T0 = "2024-01-02 00:00:00"  # base-rollup / delta-batch boundary


def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a minute×event_type
    rollup is kept current by MERGING a delta batch's partial
    aggregates into the existing base rollup — never recomputing over
    history. This is the continuous-aggregate refresh every 100 TB
    deployment runs instead of full rebuilds: the base side is the
    stored rollup (bounded by bucket cardinality, not event count),
    and only the delta scans raw events.

    The merge is a full-outer join on the group key with coalesced
    SUM/SUM/MAX combination — valid because count, integer-cent sum,
    and max are all decomposable aggregates (partial ⊕ partial =
    total). The oracle states the CONTRACT: the merged view equals the
    rollup computed over ALL events from scratch — the invariant that
    makes incremental refresh trustworthy. Both engines integer-exact."""
    events = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.date_format(F.date_trunc("minute", "ts"), fmt).alias("bucket"),
                "event_type",
                _cents("value").alias("v_c"),
            )
            .groupBy("bucket", "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("v_c").alias("sum_c"),
                F.max("v_c").alias("max_c"),
            )
        )

    base = rollup(events.filter(F.col("ts") < F.lit(_IVM_T0)))
    delta = rollup(events.filter(F.col("ts") >= F.lit(_IVM_T0)))
    b = base.select(
        "bucket",
        "event_type",
        F.col("n").alias("b_n"),
        F.col("sum_c").alias("b_sum"),
        F.col("max_c").alias("b_max"),
    )
    merged = b.join(delta, ["bucket", "event_type"], "full_outer").select(
        "bucket",
        "event_type",
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("n", F.lit(0))).alias("n"),
        (F.coalesce("b_sum", F.lit(0)) + F.coalesce("sum_c", F.lit(0))).alias(
            "_sum_c"
        ),
        F.greatest(
            F.coalesce("b_max", F.lit(-(1 << 62))),
            F.coalesce("max_c", F.lit(-(1 << 62))),
        ).alias("_max_c"),
    )
    return merged.select(
        "bucket",
        "event_type",
        "n",
        (F.col("_sum_c").cast("double") / F.lit(100.0)).alias("value_sum"),
        (F.col("_max_c").cast("double") / F.lit(100.0)).alias("value_max"),
    )


#: table -> profiled columns (ids, categoricals, small ints — the CBO
#: decision inputs; floats/arrays excluded from min/max-free profiling).
_ANALYZE_COLS = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_nationkey", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey", "p_brand", "p_type", "p_size"),
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    "events": ("event_id", "user_id", "event_type", "props"),
    "documents": ("doc_id", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "label"),
}


def analyze_tables_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE for the whole star schema: one row per profiled
    (table, column) with row count, null count/ppm, and exact distinct
    count — the statistics a cost-based optimizer feeds on (join-side
    sizing, broadcast decisions, selectivity). This corpus carries no
    nulls, so the null columns pin ZERO (the planted-nulls test proves
    the counting path fires); the NDV column is fully live and is the
    one that drives plans.

    Shape: each table computes its whole profile in ONE aggregate row
    (count + per-column conditional null sums + count_distinct), then
    unpivots in-row with stack — one scan per table, no per-column
    scans, no joins; the ten 1-row aggregates union into a ~35-row
    report. Exact count_distinct is the audit-cadence choice; the
    sketch variant for continuous refresh is approx_distinct_counts.
    At 100 TB each profile is a single map-side-combinable pass whose
    exchange carries one partial row per partition."""
    out = None
    for table, cols in _ANALYZE_COLS.items():
        t = load_table(spark, sf_dir, table)
        aggs = [F.count("*").alias("_n")]
        for c in cols:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__ndv"))
        one = t.agg(*aggs)
        stack = ", ".join(
            f"'{c}', {c}__nulls, {c}__ndv" for c in cols
        )
        rows = one.select(
            F.lit(table).alias("table_name"),
            F.col("_n").alias("n_rows"),
            F.expr(
                f"stack({len(cols)}, {stack}) AS (column_name, n_nulls, n_distinct)"
            ),
        ).withColumn("null_ppm", F.expr("n_nulls * 1000000 div n_rows"))
        out = rows if out is None else out.unionAll(rows)
    return out.select(
        "table_name", "column_name", "n_rows", "n_nulls", "n_distinct", "null_ppm"
    )


QUERIES = {
    "analyze_tables_report": analyze_tables_report,
    "cms_heavy_hitters": cms_heavy_hitters,
    "zorder_layout": zorder_layout,
    "incremental_rollup_merge": incremental_rollup_merge,
    "schema_drift_report": schema_drift_report,
}


_Z_INTERLEAVE_SQL = " | ".join(
    f"(((u >> {i}) & 1) << {2 * i}) | (((m >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


ORACLE["zorder_layout"] = f"""
    WITH sec AS (
      -- integer seconds FIRST: DuckDB's // on DOUBLE operands does not
      -- floor, so epoch(ts)//60 followed by a (rounding) BIGINT cast
      -- lands in the next minute for fractions > .5
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
    coded AS (
      SELECT ({_Z_INTERLEAVE_SQL}) AS zcode,
             user_id AS uid,
             s // 60 AS minute
      FROM (
        SELECT user_id & {(1 << _Z_BITS) - 1} AS u,
               (s // 60) & {(1 << _Z_BITS) - 1} AS m,
               user_id, s
        FROM sec))
    SELECT CAST(zcode >> 24 AS BIGINT) AS zbucket,
           COUNT(*) AS n_events,
           MIN(uid) AS min_uid, MAX(uid) AS max_uid,
           MIN(minute) AS min_minute, MAX(minute) AS max_minute
    FROM coded GROUP BY 1
"""


# The invariant, not the mechanism: merged(base, delta) must equal the
# rollup over ALL events computed from scratch.
ORACLE["incremental_rollup_merge"] = """
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS value_sum,
           CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS value_max
    FROM events GROUP BY 1, 2
"""


ORACLE["schema_drift_report"] = f"""
    WITH e AS (SELECT *, ts < TIMESTAMP '{_IVM_T0}' AS old FROM events),
    a AS (
      SELECT CAST(SUM(CASE WHEN old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN NOT old THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        CAST(SUM(CASE WHEN old AND user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id__nulls_old,
        CAST(SUM(CASE WHEN NOT old AND user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id__nulls_new,
        COUNT(DISTINCT CASE WHEN old THEN user_id END) AS user_id__dist_old,
        COUNT(DISTINCT CASE WHEN NOT old THEN user_id END) AS user_id__dist_new,
        CAST(SUM(CASE WHEN old AND event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type__nulls_old,
        CAST(SUM(CASE WHEN NOT old AND event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type__nulls_new,
        COUNT(DISTINCT CASE WHEN old THEN event_type END) AS event_type__dist_old,
        COUNT(DISTINCT CASE WHEN NOT old THEN event_type END) AS event_type__dist_new,
        CAST(SUM(CASE WHEN old AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value__nulls_old,
        CAST(SUM(CASE WHEN NOT old AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value__nulls_new,
        COUNT(DISTINCT CASE WHEN old THEN value END) AS value__dist_old,
        COUNT(DISTINCT CASE WHEN NOT old THEN value END) AS value__dist_new,
        CAST(SUM(CASE WHEN old AND props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS props__nulls_old,
        CAST(SUM(CASE WHEN NOT old AND props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS props__nulls_new,
        COUNT(DISTINCT CASE WHEN old THEN props END) AS props__dist_old,
        COUNT(DISTINCT CASE WHEN NOT old THEN props END) AS props__dist_new
      FROM e)
    
      SELECT 'user_id' AS "column", n_old, n_new,
             (user_id__nulls_old * 1000000) // n_old AS null_ppm_old,
             (user_id__nulls_new * 1000000) // n_new AS null_ppm_new,
             user_id__dist_old AS dist_old, user_id__dist_new AS dist_new
      FROM a UNION ALL 
      SELECT 'event_type' AS "column", n_old, n_new,
             (event_type__nulls_old * 1000000) // n_old AS null_ppm_old,
             (event_type__nulls_new * 1000000) // n_new AS null_ppm_new,
             event_type__dist_old AS dist_old, event_type__dist_new AS dist_new
      FROM a UNION ALL 
      SELECT 'value' AS "column", n_old, n_new,
             (value__nulls_old * 1000000) // n_old AS null_ppm_old,
             (value__nulls_new * 1000000) // n_new AS null_ppm_new,
             value__dist_old AS dist_old, value__dist_new AS dist_new
      FROM a UNION ALL 
      SELECT 'props' AS "column", n_old, n_new,
             (props__nulls_old * 1000000) // n_old AS null_ppm_old,
             (props__nulls_new * 1000000) // n_new AS null_ppm_new,
             props__dist_old AS dist_old, props__dist_new AS dist_new
      FROM a
"""


_CMS_BK = " UNION ALL ".join(
    f"SELECT user_id, {r} AS r, ('0x' || substr(md5('cms{r}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {CMS_W} AS b FROM events"
    for r in range(CMS_D)
)


ORACLE["cms_heavy_hitters"] = f"""
    WITH hashed AS MATERIALIZED ({_CMS_BK}),
    sketch AS MATERIALIZED (
      SELECT r, b, COUNT(*) AS counter FROM hashed GROUP BY 1, 2),
    top AS MATERIALIZED (
      SELECT user_id, COUNT(*) AS true_cnt FROM events
      GROUP BY 1 ORDER BY true_cnt DESC, user_id LIMIT {CMS_TOP})
    SELECT t.user_id, CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(MIN(s.counter) AS BIGINT) AS est_cnt,
           CAST((MIN(s.counter) - t.true_cnt) * 1000000 // t.true_cnt
                AS BIGINT) AS over_ppm
    FROM top t
    JOIN (SELECT DISTINCT user_id, r, b FROM hashed) h USING (user_id)
    JOIN sketch s USING (r, b)
    GROUP BY t.user_id, t.true_cnt
"""


ORACLE["analyze_tables_report"] = "\nUNION ALL\n".join(
    f"""
    SELECT '{table}' AS table_name, '{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // COUNT(*) AS null_ppm
    FROM {table}"""
    for table, cols in _ANALYZE_COLS.items()
    for col in cols
)


# ---------------------------------------------------------------------------
# Mergeable quantile sketch audit (round 9): the quantile member of
# the sketch-audit family — cms_heavy_hitters (counts),
# hll_distinct_report (distincts), and now deciles — each a mergeable
# summary whose estimate is audited against the exact answer in the
# same oracled key.
# ---------------------------------------------------------------------------

#: Sub-buckets per power-of-two octave for quantile_sketch_audit.
#: 16 linear sub-buckets bound the relative error of any estimate by
#: the widest bucket's width/lo = 1/16 = 62_500 ppm.
QSK_SUB = 16


#: Bits kept from the top of v to index a sub-bucket: log2(QSK_SUB)+1
#: (the leading 1 plus log2(QSK_SUB) linear bits). Derived, not
#: hardcoded, so changing QSK_SUB keeps the bucket geometry consistent
#: everywhere the pair is interpolated (Spark, oracle, streaming twin).
QSK_TOP = QSK_SUB.bit_length()


assert QSK_SUB & (QSK_SUB - 1) == 0, "QSK_SUB must be a power of two"


def qsk_bucket_col() -> F.Column:
    """Sketch bucket id for a positive BIGINT column `v`: log2 octave
    (length(bin(v))) x QSK_SUB linear sub-buckets from the top QSK_TOP
    bits, exact below QSK_SUB. Monotone (weakly) in v, deterministic,
    and order-independent — shared by the batch audit and the streaming
    register build so the two provably sketch identically."""
    return F.expr(
        f"CASE WHEN v < {QSK_SUB} THEN v"
        f" ELSE length(bin(v)) * {QSK_SUB}"
        f" + (shiftright(v, length(bin(v)) - {QSK_TOP}) - {QSK_SUB}) END"
    )


def qsk_hi_col() -> F.Column:
    """Upper bound of sketch bucket `bid` — the decile estimate
    representative (>= every member value, < (1+1/QSK_SUB)x the
    smallest member)."""
    return F.expr(
        f"CASE WHEN bid < {QSK_SUB} THEN bid"
        f" ELSE shiftleft({QSK_SUB} + bid % {QSK_SUB},"
        f" CAST(bid div {QSK_SUB} AS INT) - {QSK_TOP})"
        f" + shiftleft(CAST(1 AS BIGINT),"
        f" CAST(bid div {QSK_SUB} AS INT) - {QSK_TOP}) - 1 END"
    )


def qsk_decile_estimates(sk: DataFrame) -> DataFrame:
    """Decile estimates from a (bid, cnt) register frame — the read
    side shared by the batch audit and the streaming monitor's view.
    Nearest-rank targets over the register cumulative; the two-pass
    bucketed cumsum keeps the only unpartitioned window on the ≤64-row
    octave offset frame."""
    from flinkproj_spark.functions import bucketed_cumsum

    spark = sk.sparkSession
    rep = sk.withColumn("hi", qsk_hi_col())
    cum_sk = bucketed_cumsum(
        rep, F.expr(f"bid div {QSK_SUB}"), [F.col("bid").asc()], ["cnt"]
    ).select(
        "bid", "hi", "cnt",
        F.col("cum_cnt").alias("cum"),
        (F.col("cum_cnt") - F.col("cnt")).alias("cumb"),
    )
    tot = sk.agg(F.sum("cnt").alias("n"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    tgt = grid.crossJoin(F.broadcast(tot)).select(
        "decile", F.expr("(decile * n + 9) div 10").alias("r")
    )
    return cum_sk.join(
        F.broadcast(tgt),
        (F.col("cum") >= F.col("r")) & (F.col("cumb") < F.col("r")),
    ).select("decile", F.col("hi").alias("est_c"))


def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style mergeable quantile sketch audited against exact
    deciles of order revenue (o_totalprice in cents): values land in
    log2-octave x 16-linear-sub-bucket bins — a DETERMINISTIC,
    order-independent register set (unlike GK/KLL, whose compactions
    depend on arrival order or randomness), so shards/streams merge by
    ADDING bucket counts and two engines agree bit-for-bit. Per decile
    d in 1..9: the exact nearest-rank value, the sketch estimate (the
    straddling bucket's upper bound — always >= exact, relative error
    < 1/QSK_SUB by construction), and err_ppm. The register count is
    bounded by the VALUE DOMAIN (octaves x 16 ~ 1k buckets for any
    corpus), which is what makes the sketch worth shipping at 100 TB:
    a distributed groupBy onto ~1k cells with map-side combine, no
    distinct shuffle, no sort of the data. Mergeability is pinned by
    tests/test_operators.py::test_quantile_sketch_is_mergeable.

    Shape: one scan -> ~1k-cell sketch aggregate; the exact side is
    the one count-of-values histogram (present only because this key
    IS the audit of sketch vs truth), cumulated with the two-pass
    bucketed cumsum (log2-magnitude buckets), so the only
    unpartitioned windows are the <=64-row octave/magnitude offset
    frames; the 9-row decile grid and 1-row total ride broadcasts."""
    from flinkproj_spark.functions import bucketed_cumsum

    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v")
    )
    sk = vals.select(qsk_bucket_col().alias("bid")).groupBy("bid").agg(
        F.count("*").alias("cnt")
    )
    est = qsk_decile_estimates(sk)
    tot = vals.agg(F.count("*").alias("n"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    tgt = grid.crossJoin(F.broadcast(tot)).select(
        "decile", F.expr("(decile * n + 9) div 10").alias("r")
    )
    hist = vals.groupBy("v").agg(F.count("*").alias("hc"))
    cum_ex = bucketed_cumsum(
        hist, F.length(F.bin("v")), [F.col("v").asc()], ["hc"]
    )
    exact = (
        cum_ex.join(F.broadcast(tgt), F.col("cum_hc") >= F.col("r"))
        .groupBy("decile")
        .agg(F.min("v").alias("exact_c"))
    )
    return exact.join(est, "decile").select(
        "decile",
        F.col("exact_c").cast("long").alias("exact_c"),
        F.col("est_c").cast("long").alias("est_c"),
        F.expr(
            "CAST(CAST(est_c - exact_c AS DECIMAL(38,0)) * 1000000"
            " div exact_c AS BIGINT)"
        ).alias("err_ppm"),
    )


QUERIES["quantile_sketch_audit"] = quantile_sketch_audit


ORACLE["quantile_sketch_audit"] = f"""
    WITH vals AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      FROM orders),
    sk AS (
      SELECT CASE WHEN v < {QSK_SUB} THEN v
                  ELSE length(bin(v)) * {QSK_SUB}
                       + ((v >> (length(bin(v)) - {QSK_TOP})) - {QSK_SUB}) END AS bid,
             COUNT(*) AS cnt
      FROM vals GROUP BY 1),
    rep AS (
      SELECT bid, cnt,
             CASE WHEN bid < {QSK_SUB} THEN bid
                  ELSE (({QSK_SUB} + bid % {QSK_SUB})
                        << (bid // {QSK_SUB} - {QSK_TOP}))
                       + (1::BIGINT << (bid // {QSK_SUB} - {QSK_TOP})) - 1 END AS hi
      FROM sk),
    cum AS (
      SELECT bid, hi, cnt,
             SUM(cnt) OVER (ORDER BY bid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM rep),
    tot AS (SELECT COUNT(*) AS n FROM vals),
    tgt AS (
      SELECT dec, (dec * n + 9) // 10 AS r
      FROM (SELECT unnest(range(1, 10)) AS dec) g CROSS JOIN tot),
    est AS (
      SELECT t.dec, c.hi AS est_c
      FROM tgt t JOIN cum c ON c.cum >= t.r AND c.cum - c.cnt < t.r),
    hist AS (
      SELECT v, SUM(COUNT(*)) OVER (ORDER BY v) AS cumv
      FROM vals GROUP BY v),
    exact AS (
      SELECT t.dec, MIN(h.v) AS exact_c
      FROM tgt t JOIN hist h ON h.cumv >= t.r GROUP BY 1)
    SELECT CAST(x.dec AS INT) AS decile,
           CAST(x.exact_c AS BIGINT) AS exact_c,
           CAST(e.est_c AS BIGINT) AS est_c,
           CAST(CAST(e.est_c - x.exact_c AS HUGEINT) * 1000000
                // x.exact_c AS BIGINT) AS err_ppm
    FROM exact x JOIN est e USING (dec)
"""


# ---------------------------------------------------------------------------
# Join-strategy advisor (round 9): the consumer of
# analyze_tables_report's statistics — per FK edge of the star schema,
# the physical join strategy a cost-based planner would pick.
# ---------------------------------------------------------------------------

#: Broadcast ceiling in build-side ROWS — the row-count proxy for the
#: session's 10 MB autoBroadcastJoinThreshold at the ~1 KB star-schema
#: row. An advisor on a real catalog would read bytes; the stats table
#: this composes over carries rows/NDV, so the proxy is documented
#: rather than hidden.
JSA_BROADCAST_MAX_ROWS = 10_000


#: Average probe-side fanout (rows per distinct key) at or above which
#: the edge gets a skew hint (salting / AQE skew-join).
JSA_SKEW_FANOUT = 16


#: The star schema's FK join graph: (fact_table, fact_key, dim_table,
#: dim_key) — every equi-join the TPC-H-ish queries in this repo run.
JSA_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-join advisor over the star schema's FK graph: for each
    edge, the statistics a CBO consults (probe rows, probe-key NDV,
    build rows, average fanout, referenced-dim coverage) and the
    verdicts — broadcast vs shuffle by build-side size, a skew hint
    when the average fanout says the probe key is hot (salting / AQE
    skew-join territory), and a bucket-both hint for the big-big edges
    where co-partitioned layouts amortize the shuffle across queries.
    This is the advisor that reads what analyze_tables_report writes:
    composing the two keys is exactly the ANALYZE -> plan loop a real
    warehouse runs, and the verdict thresholds are the ones this
    repo's own operators apply by hand (F.broadcast on dims, salting
    on skewed keys, bucketing for lineitem><orders).

    Shape: the stats frame is ~35 rows (tables x profiled columns) and
    the edge grid is a 7-row literal — every join here is a broadcast
    of dimension-free frames. Round-13 (guide §2.4): the fact and dim
    projections are DIFFERENT subtrees, so their two BroadcastExchanges
    are not deduplicated by reuse and the all-tables ANALYZE pass was
    measured executing TWICE (probe: advisor exec 3.74 s ≈ 2× the
    3.7-s stats key's own 1.9-s exec); the stats frame is now
    cached for the run of this call and the 7-row advice table leaves
    as a local relation, so every table scan happens exactly once.
    Advice is integer arithmetic (div / ppm) end to end."""
    from flinkproj_spark import functions as fx

    stats = analyze_tables_report(spark, sf_dir)
    edges = spark.createDataFrame(
        list(JSA_EDGES), "fact_table string, fact_key string,"
        " dim_table string, dim_key string"
    )
    fact = stats.select(
        F.col("table_name").alias("fact_table"),
        F.col("column_name").alias("fact_key"),
        F.col("n_rows").alias("fact_rows"),
        F.col("n_distinct").alias("fact_key_ndv"),
    )
    dim = stats.select(
        F.col("table_name").alias("dim_table"),
        F.col("column_name").alias("dim_key"),
        F.col("n_rows").alias("dim_rows"),
    )
    out = (
        edges.join(F.broadcast(fact), ["fact_table", "fact_key"])
        .join(F.broadcast(dim), ["dim_table", "dim_key"])
        .select(
            "fact_table",
            "fact_key",
            "dim_table",
            "dim_key",
            F.col("fact_rows").cast("long").alias("fact_rows"),
            F.col("fact_key_ndv").cast("long").alias("fact_key_ndv"),
            F.col("dim_rows").cast("long").alias("dim_rows"),
            F.expr("fact_rows div fact_key_ndv").alias("avg_fanout"),
            F.expr(
                "CAST(CAST(fact_key_ndv AS DECIMAL(38,0)) * 1000000"
                " div dim_rows AS BIGINT)"
            ).alias("ref_cover_ppm"),
            F.expr(
                f"CASE WHEN dim_rows <= {JSA_BROADCAST_MAX_ROWS}"
                " THEN 'broadcast' ELSE 'shuffle' END"
            ).alias("strategy"),
            F.expr(
                f"CAST(CASE WHEN fact_rows div fact_key_ndv >="
                f" {JSA_SKEW_FANOUT} THEN 1 ELSE 0 END AS INT)"
            ).alias("skew_salt_hint"),
            F.expr(
                f"CAST(CASE WHEN dim_rows > {JSA_BROADCAST_MAX_ROWS}"
                f" AND fact_rows div fact_key_ndv < {JSA_SKEW_FANOUT}"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("bucket_both_hint"),
        )
    )
    with fx.cache_scope() as scope:
        scope.hold(stats)
        return fx.eager_report(spark, out)


QUERIES["join_strategy_advisor"] = join_strategy_advisor


_JSA_VALUES = ", ".join(
    f"('{ft}', '{fk}', '{dt}', '{dk}')" for ft, fk, dt, dk in JSA_EDGES
)


ORACLE["join_strategy_advisor"] = f"""
    WITH stats AS ({ORACLE["analyze_tables_report"]}),
    edges(fact_table, fact_key, dim_table, dim_key) AS (
      VALUES {_JSA_VALUES})
    SELECT e.fact_table, e.fact_key, e.dim_table, e.dim_key,
           CAST(f.n_rows AS BIGINT) AS fact_rows,
           CAST(f.n_distinct AS BIGINT) AS fact_key_ndv,
           CAST(d.n_rows AS BIGINT) AS dim_rows,
           CAST(f.n_rows // f.n_distinct AS BIGINT) AS avg_fanout,
           CAST(CAST(f.n_distinct AS HUGEINT) * 1000000 // d.n_rows
                AS BIGINT) AS ref_cover_ppm,
           CASE WHEN d.n_rows <= {JSA_BROADCAST_MAX_ROWS}
                THEN 'broadcast' ELSE 'shuffle' END AS strategy,
           CAST(CASE WHEN f.n_rows // f.n_distinct >= {JSA_SKEW_FANOUT}
                THEN 1 ELSE 0 END AS INT) AS skew_salt_hint,
           CAST(CASE WHEN d.n_rows > {JSA_BROADCAST_MAX_ROWS}
                AND f.n_rows // f.n_distinct < {JSA_SKEW_FANOUT}
                THEN 1 ELSE 0 END AS INT) AS bucket_both_hint
    FROM edges e
    JOIN stats f ON f.table_name = e.fact_table
                AND f.column_name = e.fact_key
    JOIN stats d ON d.table_name = e.dim_table
                AND d.column_name = e.dim_key
"""


# ---------------------------------------------------------------------------
# Round 9: experiment/release governance trio — DP sensitivity audit,
# A/B sample-ratio-mismatch check, and split-conformal coverage.
# ---------------------------------------------------------------------------

#: Salt for the experiment bucket coin — deliberately DISTINCT from
#: every sampling/split salt (sampling._SALT, _SPLIT_SALT), so variant
#: assignment is independent of all other hash coins (the round-9
#: ADVICE lesson on salt reuse).
SRM_SALT = "exp0"


#: Salt for the conformal calibration/test coin — same independence rule.
CONF_SALT = "conf0"


#: Conformal target: the calibration q90 should cover ~90% of test.
CONF_PCT = 90


def srm_variant() -> Column:
    """A user's experiment variant: the first hex digit of the salted
    md5 of user_id, below '8' → control, else treatment (50/50)."""
    return F.when(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(SRM_SALT))), 1, 1
        )
        < "8",
        F.lit("control"),
    ).otherwise(F.lit("treatment"))


def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment health check: deterministic 50/50 hash
    assignment of users to control/treatment, per-variant user/event/
    purchase tallies with user-level conversion ppm, and the
    sample-ratio-mismatch chi-square — for a 2-cell 50/50 design chi²
    reduces EXACTLY to (a−b)²/(a+b), reported ×1e6 as the pure
    integer srm_chi2_e6 (≥ 3.84e6 ≈ p<0.05 means the assignment is
    broken and every downstream metric is untrustworthy). The gate an
    experimentation pipeline runs before reading any lift number.

    Not in the reference (SURVEY.md §2.9 — no analytics surface);
    experimentation-governance extension over the events table.

    Shape: ONE corpus shuffle (groupBy user_id folds events to
    per-user rows with the variant computed in-row from the md5
    coin), then a 2-row variant aggregate; the chi² cross-term rides
    a broadcast 1-row pivot of that same 2-row frame. ppm/chi²
    numerators route through DECIMAL(38,0)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_ev"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purch"),
        )
        .select(srm_variant().alias("variant"), "n_ev", "n_purch")
    )
    per_var = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("n_ev").alias("n_events"),
        F.sum("n_purch").alias("n_purchases"),
        F.sum((F.col("n_purch") > 0).cast("long")).alias("n_converted"),
    )
    tot = per_var.agg(
        F.sum("n_users").alias("tot_users"),
        F.coalesce(
            F.max(F.when(F.col("variant") == "control", F.col("n_users"))), F.lit(0)
        ).alias("a"),
        F.coalesce(
            F.max(F.when(F.col("variant") == "treatment", F.col("n_users"))), F.lit(0)
        ).alias("b"),
    )
    return per_var.crossJoin(F.broadcast(tot)).select(
        "variant",
        "n_users",
        "n_events",
        "n_purchases",
        "n_converted",
        F.expr(
            "CAST(CAST(n_converted AS DECIMAL(38,0)) * 1000000"
            " div n_users AS BIGINT)"
        ).alias("conv_ppm"),
        F.expr(
            "CAST(CAST(a - b AS DECIMAL(38,0)) * (a - b) * 1000000"
            " div tot_users AS BIGINT)"
        ).alias("srm_chi2_e6"),
    )


QUERIES["srm_check"] = srm_check


ORACLE["srm_check"] = f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)
                                     || '{SRM_SALT}'), 1, 1) < '8'
                  THEN 'control' ELSE 'treatment' END AS variant,
             COUNT(*) AS n_ev,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purch
      FROM events GROUP BY 1, 2),
    per_var AS (
      SELECT variant, COUNT(*) AS n_users, SUM(n_ev) AS n_events,
             SUM(n_purch) AS n_purchases,
             SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS n_converted
      FROM per_user GROUP BY 1),
    tot AS (
      SELECT SUM(n_users) AS tot_users,
             COALESCE(MAX(CASE WHEN variant = 'control'
                               THEN n_users END), 0) AS a,
             COALESCE(MAX(CASE WHEN variant = 'treatment'
                               THEN n_users END), 0) AS b
      FROM per_var)
    SELECT variant,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           CAST(n_converted AS BIGINT) AS n_converted,
           CAST(CAST(n_converted AS HUGEINT) * 1000000 // n_users
                AS BIGINT) AS conv_ppm,
           CAST(CAST(a - b AS HUGEINT) * (a - b) * 1000000 // tot_users
                AS BIGINT) AS srm_chi2_e6
    FROM per_var CROSS JOIN tot
"""


def conformal_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal coverage audit per event type: a deterministic
    hash coin splits events into calibration/test halves, the
    calibration side yields the exact nearest-rank q90 of the value
    (integer cents), and the test side measures how many of its
    values that threshold actually covers (ppm — should sit near
    900000; a type drifting away means the calibration quantile no
    longer transfers, the basic health check of any conformal
    prediction deployment).

    Not in the reference (SURVEY.md §2.9); ML-evaluation extension in
    the quantile family (nearest-rank machinery shared with
    shipping_lag_report / quantile_sketch_audit).

    Shape: the calibration side collapses to a (type, cents)
    HISTOGRAM — bounded by the value domain (~49k distinct cents),
    corpus-size-independent — and the per-type threshold comes from
    the histogram's running count (cum·100 ≥ p·N integer comparison,
    window partitioned per type over histogram rows, never event
    rows). Thresholds broadcast back onto the test scan; one
    map-side-combined groupBy(type) folds coverage. Two scans of
    events, zero corpus-sized sorts."""
    ev = load_table(spark, sf_dir, "events")
    is_cal = (
        F.substring(
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(CONF_SALT))), 1, 1
        )
        < "8"
    )
    base = ev.select(
        "event_type", _cents("value").alias("v_c"), is_cal.alias("is_cal")
    )
    cal_hist = (
        base.filter(F.col("is_cal"))
        .groupBy("event_type", "v_c")
        .agg(F.count("*").alias("n"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v_c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    thr = (
        cal_hist.select(
            "event_type",
            "v_c",
            F.sum("n").over(w_cum).alias("cum_n"),
            F.sum("n").over(w_tot).alias("n_cal"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.min(
                F.when(
                    F.col("cum_n") * 100 >= F.lit(CONF_PCT) * F.col("n_cal"),
                    F.col("v_c"),
                )
            ).alias("q90_c"),
        )
    )
    test = base.filter(~F.col("is_cal")).select("event_type", "v_c")
    return (
        test.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count("*").alias("n_test"),
            F.max("q90_c").alias("q90_c"),
            F.sum((F.col("v_c") <= F.col("q90_c")).cast("long")).alias("n_covered"),
        )
        .select(
            "event_type",
            "n_cal",
            "n_test",
            "q90_c",
            "n_covered",
            F.expr(
                "CAST(CAST(n_covered AS DECIMAL(38,0)) * 1000000"
                " div n_test AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


QUERIES["conformal_coverage_report"] = conformal_coverage_report


ORACLE["conformal_coverage_report"] = f"""
    WITH base AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c,
             substring(md5(CAST(event_id AS VARCHAR)
                           || '{CONF_SALT}'), 1, 1) < '8' AS is_cal
      FROM events),
    hist AS (
      SELECT event_type, v_c, COUNT(*) AS n
      FROM base WHERE is_cal GROUP BY 1, 2),
    cum AS (
      SELECT event_type, v_c,
             SUM(n) OVER (PARTITION BY event_type ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
             SUM(n) OVER (PARTITION BY event_type) AS n_cal
      FROM hist),
    thr AS (
      SELECT event_type, MAX(n_cal) AS n_cal,
             MIN(CASE WHEN cum_n * 100 >= {CONF_PCT} * n_cal
                      THEN v_c END) AS q90_c
      FROM cum GROUP BY 1)
    SELECT b.event_type,
           CAST(MAX(t.n_cal) AS BIGINT) AS n_cal,
           COUNT(*) AS n_test,
           CAST(MAX(t.q90_c) AS BIGINT) AS q90_c,
           CAST(SUM(CASE WHEN b.v_c <= t.q90_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(CAST(SUM(CASE WHEN b.v_c <= t.q90_c THEN 1 ELSE 0 END)
                     AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
             AS coverage_ppm
    FROM base b JOIN thr t ON t.event_type = b.event_type
    WHERE NOT b.is_cal
    GROUP BY b.event_type
"""


#: zonemap_effectiveness parameters: probe workload size (smallest-k
#: distinct users — literal-k bounded) and the Morton dimension width
#: (8 bits per dim: uid & 255 interleaved with hour & 255, so the
#: curve partitions the live uid domain — the audit's point is the
#: CONTRAST between layouts, not a production curve; the production
#: 16-bit curve is zorder_layout/write_zorder_layout).
ZM_PROBES = 20


ZM_BITS = 8


def zm_zorder_rows(events: DataFrame) -> DataFrame:
    """(b, uid) zone-map update rows for the Morton layout — the
    bin id and probe dimension zonemap_effectiveness aggregates and
    streaming/monitor.py::stream_zonemap_monitor maintains live, as
    ONE shared expression so the nightly audit and the ingest-time
    monitor can never disagree on the binning."""
    from flinkproj_spark import functions as fx

    minute = (F.unix_timestamp("ts") / 60).cast("long")
    base = events.select(F.col("user_id").alias("uid"), minute.alias("minute"))
    zc = fx.morton2(F.col("uid"), F.expr("minute div 60"), ZM_BITS)
    return base.select(zc.alias("zc"), "uid").select(
        F.shiftright("zc", ZM_BITS).alias("b"), "uid"
    )


def zonemap_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit: for the SAME point-lookup workload (the
    ZM_PROBES smallest user ids), what fraction of file-level zone
    maps (min/max user_id per file bin) must be scanned under (a) the
    natural time-partitioned layout — one bin per day — versus (b) a
    Morton-curve layout interleaving user and hour bits. Each bin's
    (min_uid, max_uid) IS the parquet footer statistic a lake scan
    planner consults; `scan_ppm` is the fraction of bins the probe
    cannot prune. Probed live before wiring: at sf0.01 the time
    layout scans 985000 ppm (every day-file spans every user) while
    the z-order layout scans ~100000 ppm — the 10× skip that
    justifies write_zorder_layout, here measured instead of asserted.

    Not in the reference (SURVEY.md §2.9); lake-layout extension in
    the zorder_layout/compaction_plan family.

    Shape: two bounded bin frames (≤ calendar days and ≤ 2^ZM_BITS
    curve buckets) built by map-side-combined groupBys, a literal-k
    probe frame (TakeOrderedAndProject), and broadcast range joins of
    probes × bins — nothing corpus-sized moves after the scans."""
    events = load_table(spark, sf_dir, "events")
    minute = (F.unix_timestamp("ts") / 60).cast("long")
    base = events.select(F.col("user_id").alias("uid"), minute.alias("minute"))
    bins_t = base.groupBy(F.expr("minute div 1440").alias("b")).agg(
        F.min("uid").alias("mn"), F.max("uid").alias("mx")
    )
    bins_z = zm_zorder_rows(events).groupBy("b").agg(
        F.min("uid").alias("mn"), F.max("uid").alias("mx")
    )
    probes = base.select("uid").distinct().orderBy("uid").limit(ZM_PROBES)

    def _row(label: str, bins: DataFrame) -> DataFrame:
        nb = bins.agg(F.count("*").alias("n_bins"))
        npr = probes.agg(F.count("*").alias("n_probes"))
        sc = probes.join(
            F.broadcast(bins),
            (F.col("uid") >= F.col("mn")) & (F.col("uid") <= F.col("mx")),
        ).agg(F.count("*").alias("n_scanned"))
        return (
            sc.crossJoin(F.broadcast(nb))
            .crossJoin(F.broadcast(npr))
            .select(
                F.lit(label).alias("layout"),
                "n_bins",
                "n_probes",
                "n_scanned",
                F.expr(
                    "CAST(CAST(n_scanned AS DECIMAL(38,0)) * 1000000"
                    " div (n_bins * n_probes) AS BIGINT)"
                ).alias("scan_ppm"),
            )
        )

    return _row("time", bins_t).unionAll(_row("zorder", bins_z))


QUERIES["zonemap_effectiveness"] = zonemap_effectiveness


_ZM_INTERLEAVE_SQL = " | ".join(
    f"(((u >> {i}) & 1) << {2 * i}) | (((m >> {i}) & 1) << {2 * i + 1})"
    for i in range(ZM_BITS)
)


ORACLE["zonemap_effectiveness"] = f"""
    WITH sec AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
    base AS (SELECT user_id AS uid, s // 60 AS minute FROM sec),
    bins_t AS (
      SELECT minute // 1440 AS b, MIN(uid) AS mn, MAX(uid) AS mx
      FROM base GROUP BY 1),
    coded AS (
      SELECT ({_ZM_INTERLEAVE_SQL}) AS zc, uid
      FROM (SELECT uid & {(1 << ZM_BITS) - 1} AS u,
                   (minute // 60) & {(1 << ZM_BITS) - 1} AS m, uid
            FROM base)),
    bins_z AS (
      SELECT zc >> {ZM_BITS} AS b, MIN(uid) AS mn, MAX(uid) AS mx
      FROM coded GROUP BY 1),
    probes AS (
      SELECT DISTINCT uid FROM base ORDER BY uid LIMIT {ZM_PROBES}),
    t AS (
      SELECT 'time' AS layout,
             (SELECT COUNT(*) FROM bins_t) AS n_bins,
             (SELECT COUNT(*) FROM probes) AS n_probes,
             (SELECT COUNT(*) FROM probes p
              JOIN bins_t ON p.uid BETWEEN bins_t.mn AND bins_t.mx)
               AS n_scanned),
    z AS (
      SELECT 'zorder' AS layout,
             (SELECT COUNT(*) FROM bins_z) AS n_bins,
             (SELECT COUNT(*) FROM probes) AS n_probes,
             (SELECT COUNT(*) FROM probes p
              JOIN bins_z ON p.uid BETWEEN bins_z.mn AND bins_z.mx)
               AS n_scanned),
    u AS (SELECT * FROM t UNION ALL SELECT * FROM z)
    SELECT layout, n_bins, n_probes, CAST(n_scanned AS BIGINT) AS n_scanned,
           CAST(CAST(n_scanned AS HUGEINT) * 1000000
                // (n_bins * n_probes) AS BIGINT) AS scan_ppm
    FROM u
"""
