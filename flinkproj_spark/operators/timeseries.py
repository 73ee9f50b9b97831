"""Time-series operators: multi-resolution rollups, rolling
robust stats, EWMA/CUSUM anomaly screens, autocorrelation,
seasonality, backtests, TWAP, inter-event gap profiles. Split out
of operators/analytic.py in round 10 (pure move)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark.operators.relational import TD_MOD, _cents
from flinkproj_spark.sources.tables import load_table
# seasonality_profile composes the OLS trend fit (function AND oracle),
# which lives in the stats seam module since the round-10 split
from flinkproj_spark.operators.stats import ORACLE as _STATS_ORACLE
from flinkproj_spark.operators.stats import monthly_revenue, ols_trend_monthly

def time_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (the continuous-aggregate
    analog): minute/hour/day time buckets per event_type, computed in ONE
    Expand pass via GROUPING SETS — the scan reads events once and the
    single shuffle carries already-combined partial aggregates for all
    three resolutions. At 100 TB this replaces three separate rollup jobs
    with one, and the coarse resolutions come almost free (their
    cardinality is dwarfed by minute's). Value sums use exact integer
    cents (see relational._cents) so hashes match across engines."""
    events = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    base = events.select(
        F.date_format(F.date_trunc("minute", "ts"), fmt).alias("b_min"),
        F.date_format(F.date_trunc("hour", "ts"), fmt).alias("b_hour"),
        F.date_format(F.date_trunc("day", "ts"), fmt).alias("b_day"),
        "event_type",
        _cents("value").alias("v_c"),
    )
    agg = base.groupingSets(
        [["b_min", "event_type"], ["b_hour", "event_type"], ["b_day", "event_type"]],
        "b_min",
        "b_hour",
        "b_day",
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum("v_c").alias("_v"),
        F.grouping("b_min").alias("_g_min"),
        F.grouping("b_hour").alias("_g_hour"),
    )
    res = (
        F.when(F.col("_g_min") == 0, F.lit("minute"))
        .when(F.col("_g_hour") == 0, F.lit("hour"))
        .otherwise(F.lit("day"))
    )
    return agg.select(
        res.alias("resolution"),
        F.coalesce("b_min", "b_hour", "b_day").alias("bucket"),
        "event_type",
        "n",
        (F.col("_v").cast("double") / F.lit(100.0)).alias("value_sum"),
    )


_ROLL_WIN = 20   # rolling frame: the 20 preceding events


_ROLL_MIN = 10   # emit a verdict only with >= 10 history rows


def anomaly_rolling_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over the event value stream,
    per event_type: each event is judged against the mean/variance of
    its 20 predecessors, flagged when (v - μ)² > 9σ² (|z| > 3).

    Exactness: values are integer cents, and the rule is evaluated as
    (n·v - s)² > 9·(n·ss - s²) — count and sum are BIGINT window sums;
    the squares (per-row v², the deviation square, and s²) run in
    DECIMAL(38,0) with one operand cast BEFORE multiplying, because a
    LongType square wraps (or throws under ANSI) around |v_c| ≈ 3·10⁹
    while the Python-int streaming twin stays exact. The verdict is
    integer arithmetic end to end: no float mean, no sqrt, no
    cross-engine ulp flips, immune to how either engine accumulates
    the sliding frame. One shuffle on event_type; the frame is
    ROWS-bounded so state per key is O(1)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ROLL_WIN, -1)
    )
    v = _cents("value")
    dec = "decimal(38,0)"
    base = events.select(
        "event_id", "event_type", "ts", v.alias("v_c")
    ).select(
        "event_id",
        "event_type",
        "ts",
        "v_c",
        F.count("v_c").over(w).alias("n"),
        F.sum("v_c").over(w).alias("s"),
        F.sum(F.col("v_c").cast(dec) * F.col("v_c")).over(w).alias("ss"),
    )
    dev = F.col("n").cast(dec) * F.col("v_c") - F.col("s")
    var_n2 = F.col("n").cast(dec) * F.col("ss") - F.col("s").cast(dec) * F.col("s")
    return (
        base.filter(F.col("n") >= _ROLL_MIN)
        .select(
            "event_id",
            "event_type",
            "v_c",
            "n",
            "s",
            (dev * dev > F.lit(9) * var_n2).cast("int").alias("is_anomaly"),
        )
    )


def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median of the event value per event_type: each
    event judged against the interpolated p50 of its 20 predecessors —
    the robust-baseline twin of anomaly_rolling_z (median shrugs off
    the outliers that inflate a rolling mean). Emitted with the same
    ≥10-history gate.

    Exactness: inputs are integer cents; `percentile` interpolates
    between two integers with one multiply-add, and both engines
    (Spark percentile, DuckDB quantile_cont) implement the same
    definition over the same ROWS frame and (ts, event_id) order, so
    the doubles agree bit-for-bit. One shuffle on event_type; the
    frame is ROWS-bounded so window state is O(1) per key."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ROLL_WIN, -1)
    )
    base = events.select(
        "event_id",
        "event_type",
        _cents("value").alias("v_c"),
        F.count("*").over(w).alias("n"),
        F.percentile(_cents("value"), F.lit(0.5)).over(w).alias("_med_c"),
    )
    return base.filter(F.col("n") >= _ROLL_MIN).select(
        "event_id",
        "event_type",
        "v_c",
        "n",
        F.round(F.col("_med_c") / F.lit(100.0), 6).alias("rolling_median"),
        (F.col("v_c").cast("double") > F.lit(2.0) * F.col("_med_c"))
        .cast("int").alias("above_2x_median"),
    )


QUERIES = {
    "time_rollup_multires": time_rollup_multires,
    "anomaly_rolling_z": anomaly_rolling_z,
    "rolling_median": rolling_median,
}


ORACLE = {
    "time_rollup_multires": """
        WITH base AS (
          SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS b_min,
                 strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS b_hour,
                 strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS b_day,
                 event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c
          FROM events)
        SELECT CASE WHEN GROUPING(b_min) = 0 THEN 'minute'
                    WHEN GROUPING(b_hour) = 0 THEN 'hour'
                    ELSE 'day' END AS resolution,
               COALESCE(b_min, b_hour, b_day) AS bucket,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(v_c) AS DOUBLE) / 100.0 AS value_sum
        FROM base
        GROUP BY GROUPING SETS ((b_min, event_type), (b_hour, event_type),
                                (b_day, event_type))
    """,
}


ORACLE["anomaly_rolling_z"] = f"""
    WITH v AS (
      SELECT event_id, event_type, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c
      FROM events),
    st AS (
      SELECT event_id, event_type, v_c,
             COUNT(v_c) OVER w AS n,
             CAST(SUM(v_c) OVER w AS BIGINT) AS s,
             SUM(CAST(v_c AS HUGEINT) * v_c) OVER w AS ss
      FROM v
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {_ROLL_WIN} PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, v_c, n, s,
           CAST((CAST(n AS HUGEINT) * v_c - s) * (CAST(n AS HUGEINT) * v_c - s)
                > 9 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
                AS INT) AS is_anomaly
    FROM st WHERE n >= {_ROLL_MIN}
"""


ORACLE["rolling_median"] = f"""
    WITH v AS (
      SELECT event_id, event_type, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c
      FROM events),
    st AS (
      SELECT event_id, event_type, v_c,
             COUNT(*) OVER w AS n,
             quantile_cont(v_c, 0.5) OVER w AS med_c
      FROM v
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {_ROLL_WIN} PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, v_c, n,
           ROUND(med_c / 100.0, 6) AS rolling_median,
           CAST(CAST(v_c AS DOUBLE) > 2.0 * med_c AS INT) AS above_2x_median
    FROM st WHERE n >= {_ROLL_MIN}
"""


# ---------------------------------------------------------------------------
# EWMA daily anomaly monitor (round 7)
# ---------------------------------------------------------------------------

# Truncated-EWMA weights, alpha = 1/4 over the 8 prior days, held as
# exact integers scaled by 4^8: w_j = 3^(j-1) * 4^(8-j) for lag j in
# 1..8.  Their sum is the telescoped 4^8 - 3^8 = 58975, so
# `n * EWMA_WSUM` and the weighted lag sum live on the same scale and
# the deviation test is pure BIGINT — no float smoothing state, no
# cross-engine drift.
EWMA_WEIGHTS = tuple(3 ** (j - 1) * 4 ** (8 - j) for j in range(1, 9))


EWMA_WSUM = 4**8 - 3**8  # 58975


EWMA_FLAG_PCT = 20  # flag when |n - ewma| > 20% of ewma


def ewma_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily volume anomaly: an exponentially weighted
    moving average (alpha=1/4, truncated at 8 days) of the PRIOR days'
    counts, and a flag where today deviates more than 20% from it —
    the classic ops-dashboard "volume looks wrong" alarm, exact.

    The reference has no anomaly surface at all (SURVEY.md §2.9 — no
    analytic windows); this is the standing monitor a training-data
    ingest pipeline runs per source/type.

    Shape: one groupBy collapses the fact scan to the |types| x |days|
    dimension frame (map-side combined), and the 8 lags run as ONE
    Window pass partitioned by event_type over that tiny frame — the
    window never sees fact rows, so the sort is bounded by the
    calendar, not the data. EWMA state is an integer linear form
    (weights scaled by 4^8), so partial-agg order never changes a
    bit. At 100 TB the daily frame is still |types| x |days| rows.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "n",
        *[F.lag("n", j).over(w).alias(f"_l{j}") for j in range(1, 9)],
    )
    ewma = sum(
        F.col(f"_l{j}") * F.lit(wt) for j, wt in enumerate(EWMA_WEIGHTS, start=1)
    )
    dev = F.col("n") * F.lit(EWMA_WSUM) - F.col("_ewma")
    return (
        lagged.filter(F.col("_l8").isNotNull())
        .withColumn("_ewma", ewma.cast("long"))
        .select(
            "event_type",
            "day",
            F.col("n").cast("long").alias("n"),
            F.col("_ewma").alias("ewma_num"),
            dev.cast("long").alias("dev_num"),
            (F.abs(dev) * 100 > F.lit(EWMA_FLAG_PCT) * F.col("_ewma"))
            .cast("int")
            .alias("flagged"),
        )
    )


QUERIES["ewma_daily_anomaly"] = ewma_daily_anomaly


_EWMA_TERMS = " + ".join(
    f"l{j} * {wt}" for j, wt in enumerate(EWMA_WEIGHTS, start=1)
)


_EWMA_LAGS = ", ".join(f"lag(c, {j}) OVER w AS l{j}" for j in range(1, 9))


ORACLE["ewma_daily_anomaly"] = f"""
    WITH d AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS dday,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, dday, c, {_EWMA_LAGS}
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY dday)),
    e AS (
      SELECT event_type, dday, c, {_EWMA_TERMS} AS ewma_num
      FROM l WHERE l8 IS NOT NULL)
    SELECT event_type, dday AS day, CAST(c AS BIGINT) AS n,
           CAST(ewma_num AS BIGINT) AS ewma_num,
           CAST(c * {EWMA_WSUM} - ewma_num AS BIGINT) AS dev_num,
           CAST(CASE WHEN ABS(c * {EWMA_WSUM} - ewma_num) * 100
                          > {EWMA_FLAG_PCT} * ewma_num
                     THEN 1 ELSE 0 END AS INT) AS flagged
    FROM e
"""


def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the event value per user (TWAP): each
    observation is held until the next one, so its weight is the gap
    to the successor in whole epoch seconds, and the average is the
    exact rational sum(value_c * dt_s) / span_s — the metric that makes
    irregular event streams comparable (a plain AVG over-counts burst
    periods; TWAP is duration-faithful). The trailing observation
    carries no weight (nothing is held after it); single-event users
    have no span and are excluded by the n >= 2 predicate.

    All integer-exact: cents x whole seconds (unix_micros div 1e6 on
    both engines — identical truncation by construction), one
    truncating division at the end. Per-term bound is
    max_value_cents * user_span_s, so the per-user sum stays far
    inside int64 for any realistic retention window.

    Shape: ONE corpus pass; the lead() window partitions by user (key-
    bounded partitions — the same contract as sessionize/rolling), the
    groupBy(user) that follows reuses the exchange AQE already placed
    for the window, and output is one row per multi-event user."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("t_s"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    ).withColumn("next_t", F.lead("t_s").over(w))
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.max("t_s") - F.min("t_s")).cast("long").alias("span_s"),
            F.sum(
                F.when(
                    F.col("next_t").isNotNull(),
                    F.col("vc") * (F.col("next_t") - F.col("t_s")),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("twsum"),
        )
        .filter(F.col("n_events") >= 2)
        .select(
            "user_id",
            "n_events",
            "span_s",
            "twsum",
            F.expr("twsum div span_s").alias("twap_c"),
        )
    )


QUERIES["twap_user_value"] = twap_user_value


ORACLE["twap_user_value"] = """
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS t_s,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             LEAD(epoch_us(ts) // 1000000)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_t
      FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(t_s) - MIN(t_s) AS BIGINT) AS span_s,
           CAST(SUM(CASE WHEN next_t IS NOT NULL
                         THEN vc * (next_t - t_s) ELSE 0 END) AS BIGINT)
             AS twsum,
           CAST(SUM(CASE WHEN next_t IS NOT NULL
                         THEN vc * (next_t - t_s) ELSE 0 END)
                // (MAX(t_s) - MIN(t_s)) AS BIGINT) AS twap_c
    FROM seq
    GROUP BY user_id
    HAVING COUNT(*) >= 2
"""


def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality profile on top of the OLS trend fit: the
    detrended residuals of ols_trend_monthly, grouped by calendar
    month (Jan..Dec), as an exact ppm share of the pivot revenue —
    trend/seasonal decomposition's second step. A flat profile (this
    corpus) is itself the finding: monthly revenue deviations carry
    no calendar structure, so a forecaster needs no seasonal term.

    Shape: everything downstream of the one data-sized pass inside
    ols_trend_monthly runs on the 80-row months frame; this adds one
    12-row aggregate to that plan."""
    fit = ols_trend_monthly(spark, sf_dir)
    cy = fit.agg(
        (F.sum("rev_c") - F.sum("resid_c")).alias("fit_total"),
        F.count("*").alias("n_months"),
    )
    return (
        fit.groupBy((F.col("mi") % 12).cast("int").alias("cal_month"))
        .agg(
            F.count("*").cast("long").alias("n_m"),
            F.sum("resid_c").cast("long").alias("sum_resid_c"),
        )
        .crossJoin(F.broadcast(cy))
        .select(
            "cal_month",
            "n_m",
            "sum_resid_c",
            F.expr(
                "CAST(CAST(sum_resid_c AS DECIMAL(38,0)) * 1000000 * n_months"
                " div (CAST(n_m AS DECIMAL(38,0)) * fit_total) AS BIGINT)"
            ).alias("seas_ppm"),
        )
    )


QUERIES["seasonality_profile"] = seasonality_profile


ORACLE["seasonality_profile"] = f"""
    WITH ols AS ({_STATS_ORACLE["ols_trend_monthly"]}),
    cy AS (SELECT SUM(rev_c) - SUM(resid_c) AS fit_total,
                  COUNT(*) AS n_months FROM ols)
    SELECT CAST(mi % 12 AS INT) AS cal_month,
           CAST(COUNT(*) AS BIGINT) AS n_m,
           CAST(SUM(resid_c) AS BIGINT) AS sum_resid_c,
           CAST(CAST(SUM(resid_c) AS HUGEINT) * 1000000 * n_months
                // (CAST(COUNT(*) AS HUGEINT) * fit_total) AS BIGINT)
             AS seas_ppm
    FROM ols CROSS JOIN cy
    GROUP BY 1, fit_total, n_months
"""


ACF_LAGS = (1, 2, 3, 7, 14, 28)


def daily_revenue(orders: DataFrame) -> DataFrame:
    """The daily revenue grid: (di, rev_c) — days since 1995-01-01 and
    that day's o_totalprice in exact cents. One map-side-combined
    groupBy; the grid is calendar-bounded (~2.4k rows)."""
    return orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("di")
    ).agg(F.sum(_cents("o_totalprice")).alias("rev_c"))


def autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact autocorrelation function of daily revenue at the classic
    lags (1,2,3 days; 1,2,4 weeks): acf_ppm(k) = 1e6 * sum((y_t-c)
    *(y_{t+k}-c)) div sum((y_t-c)^2) over the integer floor-mean pivot
    c — near-zero everywhere on this corpus (orders are i.i.d. across
    days), which is exactly the finding that licenses the i.i.d.
    assumption the forecasting family (OLS trend, EWMA) rests on.
    Denominator uses the full series; the lag product pairs (t, t+k)
    via an equi-join on the day index, so no window function at all.

    Shape: ONE data-sized pass (groupBy day); the day grid (~2.4k
    rows) then self-joins on di+k per broadcast lag — grid-sized work;
    pivot and denominator ride 1-row broadcasts. Deviation products
    bound everything by n_days*max_dev^2 (shift-invariance again)."""
    daily = daily_revenue(load_table(spark, sf_dir, "orders"))
    pivot = daily.agg(
        F.expr("sum(rev_c) div count(*)").alias("cy"),
        F.count("*").alias("n_days"),
    )
    dev = daily.crossJoin(F.broadcast(pivot)).select(
        "di", (F.col("rev_c") - F.col("cy")).alias("dy"), "n_days"
    )
    den = dev.agg(
        F.sum(F.expr("CAST(dy AS DECIMAL(38,0)) * dy")).alias("s_dd")
    )
    lags = spark.createDataFrame([(k,) for k in ACF_LAGS], "lag int")
    pairs = (
        dev.crossJoin(F.broadcast(lags))
        .withColumn("di_next", F.col("di") + F.col("lag"))
        .alias("l")
        .join(
            dev.select(F.col("di").alias("di_next"), F.col("dy").alias("dy2")),
            "di_next",
        )
    )
    return (
        pairs.groupBy("lag", "n_days")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.expr("CAST(dy AS DECIMAL(38,0)) * dy2")).alias("s_lag"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n_days").cast("long").alias("n_days"),
            "n_pairs",
            F.expr("CAST(s_lag * 1000000 div s_dd AS BIGINT)").alias(
                "acf_ppm"
            ),
        )
    )


QUERIES["autocorr_daily_revenue"] = autocorr_daily_revenue


ORACLE["autocorr_daily_revenue"] = f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS di,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1),
    piv AS (SELECT SUM(rev_c) // COUNT(*) AS cy, COUNT(*) AS n_days
            FROM daily),
    dev AS (SELECT di, rev_c - cy AS dy, n_days FROM daily CROSS JOIN piv),
    den AS (SELECT SUM(CAST(dy AS HUGEINT) * dy) AS s_dd FROM dev),
    lags AS (SELECT unnest([{', '.join(str(k) for k in ACF_LAGS)}]) AS lag)
    SELECT CAST(l.lag AS INT) AS lag,
           CAST(ANY_VALUE(a.n_days) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(a.dy AS HUGEINT) * b.dy) * 1000000
                // ANY_VALUE(d.s_dd) AS BIGINT) AS acf_ppm
    FROM dev a CROSS JOIN lags l
    JOIN dev b ON b.di = a.di + l.lag
    CROSS JOIN den d
    GROUP BY l.lag
"""


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift scan over daily revenue: the running sum of
    deviations from the integer pivot mean, its absolute peak flagged
    as the changepoint candidate, and each day's |cusum| as a share of
    the peak — the classic Page-style drift detector. On this corpus
    the curve is a random walk whose flagged peak carries no external
    shift — the near-uniform ppm plateau around the peak says
    "no structural break", which is the detector's honest output here.

    Shape: one data-sized pass to the day grid; the cumulative sum
    runs over the ~2.4k-row date grid (plan-lint whitelisted global
    window over a date-bounded frame); peak extraction is a 1-row
    broadcast aggregate of the same grid."""
    daily = daily_revenue(load_table(spark, sf_dir, "orders"))
    pivot = daily.agg(
        F.expr("sum(rev_c) div count(*)").alias("cy"),
        F.count("*").alias("n_days"),
    )
    w = Window.orderBy("di").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.crossJoin(F.broadcast(pivot))
        .withColumn("cusum_c", F.sum(F.col("rev_c") - F.col("cy")).over(w))
        .select("di", "rev_c", "cusum_c")
    )
    peak = cum.agg(F.max(F.abs("cusum_c")).alias("peak_abs"))
    peak_di = (
        cum.crossJoin(F.broadcast(peak))
        .filter(F.abs("cusum_c") == F.col("peak_abs"))
        .agg(F.min("di").alias("peak_di"), F.min("peak_abs").alias("peak_abs"))
    )
    return (
        cum.crossJoin(F.broadcast(peak_di))
        .select(
            "di",
            F.col("rev_c").cast("long").alias("rev_c"),
            F.col("cusum_c").cast("long").alias("cusum_c"),
            F.expr(
                "CAST(abs(cusum_c) * 1000000 div peak_abs AS BIGINT)"
            ).alias("peak_share_ppm"),
            (F.col("di") == F.col("peak_di")).cast("int").alias("is_peak"),
        )
    )


QUERIES["cusum_changepoint"] = cusum_changepoint


ORACLE["cusum_changepoint"] = """
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS di,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1),
    piv AS (SELECT SUM(rev_c) // COUNT(*) AS cy FROM daily),
    cum AS (
      SELECT di, rev_c,
             SUM(rev_c - cy) OVER (ORDER BY di
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_c
      FROM daily CROSS JOIN piv),
    peak AS (
      SELECT MIN(di) FILTER (WHERE ABS(cusum_c) = m) AS peak_di, ANY_VALUE(m) AS peak_abs
      FROM cum CROSS JOIN (SELECT MAX(ABS(cusum_c)) AS m FROM cum))
    SELECT c.di,
           CAST(c.rev_c AS BIGINT) AS rev_c,
           CAST(c.cusum_c AS BIGINT) AS cusum_c,
           CAST(ABS(c.cusum_c) * 1000000 // p.peak_abs AS BIGINT)
             AS peak_share_ppm,
           CAST(CASE WHEN c.di = p.peak_di THEN 1 ELSE 0 END AS INT) AS is_peak
    FROM cum c CROSS JOIN peak p
"""


def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue (above/below the
    integer pivot mean): observed runs vs the expected
    1 + 2*n1*n2/n, as an exact cross-multiplied ratio — too FEW runs
    means positive serial dependence (streaks), too many means
    oscillation. Complements the ACF (linear dependence) with an
    ordering-based randomness check; on this corpus the ratio hugs
    1e6, the i.i.d. verdict again. One output row.

    Shape: one data-sized pass to the ~2.4k-day grid; the
    run-boundary lag runs over that date-bounded grid (plan-lint
    whitelisted), and the expected-runs arithmetic is a 1-row
    aggregate: runs_ratio_ppm = obs_runs * n * 1e6 div (n + 2*n1*n2)."""
    daily = daily_revenue(load_table(spark, sf_dir, "orders"))
    piv = daily.agg(F.expr("sum(rev_c) div count(*)").alias("cy"))
    signed = daily.crossJoin(F.broadcast(piv)).select(
        "di", (F.col("rev_c") > F.col("cy")).cast("int").alias("s")
    )
    w = Window.orderBy("di")
    runs = signed.withColumn("prev_s", F.lag("s").over(w)).agg(
        F.count("*").alias("n"),
        F.sum("s").alias("n1"),
        F.sum(
            (F.col("prev_s").isNull() | (F.col("s") != F.col("prev_s"))).cast(
                "long"
            )
        ).alias("obs_runs"),
    )
    return runs.select(
        F.col("n").cast("long").alias("n"),
        F.col("n1").cast("long").alias("n1"),
        (F.col("n") - F.col("n1")).cast("long").alias("n2"),
        F.col("obs_runs").cast("long").alias("obs_runs"),
        F.expr("(n + 2 * n1 * (n - n1)) * 1000 div n").alias("exp_runs_milli"),
        F.expr(
            "obs_runs * n * 1000000 div (n + 2 * n1 * (n - n1))"
        ).alias("runs_ratio_ppm"),
    )


QUERIES["runs_test_daily"] = runs_test_daily


ORACLE["runs_test_daily"] = """
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS di,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1),
    piv AS (SELECT SUM(rev_c) // COUNT(*) AS cy FROM daily),
    signed AS (
      SELECT di, CASE WHEN rev_c > cy THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN piv),
    lagged AS (
      SELECT s, LAG(s) OVER (ORDER BY di) AS prev_s FROM signed),
    agg AS (
      SELECT COUNT(*) AS n, SUM(s) AS n1,
             SUM(CASE WHEN prev_s IS NULL OR s <> prev_s THEN 1 ELSE 0 END)
               AS obs_runs
      FROM lagged)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n1 AS BIGINT) AS n1,
           CAST(n - n1 AS BIGINT) AS n2,
           CAST(obs_runs AS BIGINT) AS obs_runs,
           CAST((n + 2 * n1 * (n - n1)) * 1000 // n AS BIGINT)
             AS exp_runs_milli,
           CAST(obs_runs * n * 1000000 // (n + 2 * n1 * (n - n1)) AS BIGINT)
             AS runs_ratio_ppm
    FROM agg
"""


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict this month =
    same month last year) over monthly revenue: per month with a
    year-ago counterpart, the forecast, the signed error in cents and
    the absolute percentage error in exact ppm — the baseline every
    forecasting pipeline must beat before a fancier model earns its
    keep, and the shape (join the month grid to itself at lag 12) is
    the template for any lag-k backtest. Integer end-to-end: the APE
    numerator routes through DECIMAL(38,0) (|err|*1e6 on monthly
    revenue cents wraps BIGINT at 100 TB).

    Shape: one orders scan collapses to the month grid; the lag-12
    self-join and every later stage run on that calendar-bounded frame
    as broadcast joins — no window at all."""
    monthly = monthly_revenue(load_table(spark, sf_dir, "orders"))
    prior = monthly.select(
        (F.col("mi") + 12).alias("mi"), F.col("rev_c").alias("fcst_c")
    )
    return (
        monthly.join(F.broadcast(prior), "mi")
        .select(
            "month_ym",
            "mi",
            F.col("rev_c").cast("long").alias("rev_c"),
            F.col("fcst_c").cast("long").alias("fcst_c"),
            (F.col("rev_c") - F.col("fcst_c")).cast("long").alias("err_c"),
            F.expr(
                "CAST(abs(CAST(rev_c - fcst_c AS DECIMAL(38,0))) * 1000000"
                " div CAST(rev_c AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("ape_ppm"),
        )
    )


QUERIES["seasonal_naive_backtest"] = seasonal_naive_backtest


ORACLE["seasonal_naive_backtest"] = """
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month_ym,
             (EXTRACT(year FROM o_orderdate) - 1995) * 12
               + EXTRACT(month FROM o_orderdate) - 1 AS mi,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1, 2)
    SELECT a.month_ym, CAST(a.mi AS BIGINT) AS mi,
           CAST(a.rev_c AS BIGINT) AS rev_c,
           CAST(b.rev_c AS BIGINT) AS fcst_c,
           CAST(a.rev_c - b.rev_c AS BIGINT) AS err_c,
           CAST(ABS(CAST(a.rev_c - b.rev_c AS HUGEINT)) * 1000000
                // a.rev_c AS BIGINT) AS ape_ppm
    FROM monthly a JOIN monthly b ON b.mi = a.mi - 12
"""


def interevent_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-event burstiness: within each (user, event_type)
    stream the whole-second gaps between consecutive events, reduced
    to exact moments and the Fano factor (variance-to-mean ratio,
    ×1e6) — Fano ≈ mean (for exponential gaps, fano_e6 ≈ mean_gap_s ×
    1e6 / 2... strictly: var=mean² → fano=mean) says Poisson arrivals,
    far above says bursts (retry storms for `error`, bot loops for
    `click`), far below says a metronome (scheduled jobs pretending to
    be users). The traffic-shape screen upstream of anomaly_rolling_z.

    Not in the reference (SURVEY.md §2.9); temporal-statistics
    extension in the moment_stats family.

    Exactness: gaps are unix_micros diffs floored to whole seconds
    (micros-exact on both engines — the relational.py asof idiom);
    Fano = (n·Σg² − (Σg)²)/(n·Σg) cross-multiplied in DECIMAL(38,0)
    (Σg² is corpus × domain²-sized — wraps BIGINT long before the
    output does). The sum_gap2 OUTPUT is reduced mod 2⁶¹−1 (TD_MOD,
    the table_digest_report trick) before the BIGINT cast — identity
    below 2.3e18, and past it both engines agree on the residue
    instead of diverging (Spark NULL vs DuckDB cast error). The Fano
    denominator is nullif-guarded on both sides: a theoretical
    all-zero-gap type yields NULL, not an engine split.

    Shape: one window partitioned by (user_id, event_type) — a
    corpus-sized frame but partitioned on a key whose cardinality
    scales with the data, never single-task — then one
    map-side-combined 5-row groupBy(event_type)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.expr(
        "(unix_micros(ts) - unix_micros(lag_ts)) div 1000000"
    )
    gaps = (
        ev.select(
            "event_type", "ts", "event_id", F.lag("ts").over(w).alias("lag_ts")
        )
        .filter(F.col("lag_ts").isNotNull())
        .select("event_type", gap.alias("g"))
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("g").alias("sum_gap_s"),
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("_ss"),
            F.min("g").alias("min_gap_s"),
            F.max("g").alias("max_gap_s"),
        )
        .select(
            "event_type",
            "n_gaps",
            F.col("sum_gap_s").cast("long").alias("sum_gap_s"),
            F.expr(f"CAST(_ss % {TD_MOD} AS BIGINT)").alias("sum_gap2"),
            "min_gap_s",
            "max_gap_s",
            F.expr("sum_gap_s div n_gaps").alias("mean_gap_s"),
            F.expr(
                "CAST((CAST(n_gaps AS DECIMAL(38,0)) * _ss"
                " - CAST(sum_gap_s AS DECIMAL(38,0)) * sum_gap_s) * 1000000"
                " div nullif(CAST(n_gaps AS DECIMAL(38,0)) * sum_gap_s, 0)"
                " AS BIGINT)"
            ).alias("fano_e6"),
        )
    )


QUERIES["interevent_gap_profile"] = interevent_gap_profile


ORACLE["interevent_gap_profile"] = f"""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id)) // 1000000 AS g
      FROM events),
    gaps AS (SELECT event_type, g FROM g WHERE g IS NOT NULL)
    SELECT event_type,
           COUNT(*) AS n_gaps,
           CAST(SUM(g) AS BIGINT) AS sum_gap_s,
           CAST(SUM(CAST(g AS HUGEINT) * g) % {TD_MOD} AS BIGINT) AS sum_gap2,
           CAST(MIN(g) AS BIGINT) AS min_gap_s,
           CAST(MAX(g) AS BIGINT) AS max_gap_s,
           CAST(SUM(g) // COUNT(*) AS BIGINT) AS mean_gap_s,
           CAST((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(g AS HUGEINT) * g)
                 - CAST(SUM(g) AS HUGEINT) * SUM(g)) * 1000000
                // NULLIF(CAST(COUNT(*) AS HUGEINT) * SUM(g), 0)
                AS BIGINT) AS fano_e6
    FROM gaps GROUP BY event_type
"""
