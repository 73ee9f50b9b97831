"""Distribution / robust statistics over the corpus: exact and
self-auditing percentiles, z/MAD outlier screens, OLS & Theil-Sen
trends, correlation, moments, Benford, Gini/Lorenz, HHI. Split out
of operators/analytic.py in round 10 (pure move — same operators,
same oracles, same hashes)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.operators.relational import _cents
from flinkproj_spark.sources.tables import load_table

def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median / p90 of customer balance per market
    segment, computed over integer cents so Spark and the oracle share
    the same interpolation inputs bit-for-bit."""
    cust = load_table(spark, sf_dir, "customer")
    bal_c = _cents("c_acctbal")
    agg = cust.groupBy("c_mktsegment").agg(
        F.percentile(bal_c, F.lit(0.5)).alias("_p50_c"),
        F.percentile(bal_c, F.lit(0.9)).alias("_p90_c"),
        F.count("*").alias("n_cust"),
    )
    return agg.select(
        "c_mktsegment",
        F.round(F.col("_p50_c") / F.lit(100.0), 6).alias("median_bal"),
        F.round(F.col("_p90_c") / F.lit(100.0), 6).alias("p90_bal"),
        "n_cust",
    )


def outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly counts per event type: events whose value sits
    more than 3 population standard deviations from the type mean —
    the data-quality screen every ingest pipeline runs.

    Shape: ONE map-side-combined aggregate produces exact integer
    moments (value quantized to e4; the squared sums accumulate in
    DECIMAL(38,0) so they stay exact at 100 TB row counts, where a
    BIGINT sum of squares would overflow); the 5-row stats frame
    broadcasts back onto the scan for the outlier count — two passes
    over the fact, zero fact shuffles. Mean/std become doubles only at
    the very end, in an expression mirrored exactly by the oracle."""
    events = load_table(spark, sf_dir, "events")
    v_e4 = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    stats = (
        events.select("event_type", v_e4.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("_s"),
            # cast BEFORE multiplying: a LongType v*v wraps (or throws
            # under ANSI) for |value| ≳ 3e5; decimal(38,0)*long is exact
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("_ss"),
        )
    )
    mean = F.col("_s").cast("double") / F.col("n")
    var = F.col("_ss").cast("double") / F.col("n") - mean * mean
    enriched = stats.select(
        "event_type", "n", mean.alias("_mean"), F.sqrt(var).alias("_std")
    )
    joined = events.select("event_type", v_e4.alias("v")).join(
        F.broadcast(enriched), "event_type"
    )
    out = joined.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(
            (F.abs(F.col("v") - F.col("_mean")) > F.lit(3.0) * F.col("_std")).cast("long")
        ).alias("n_outliers"),
        F.max(F.round(F.col("_mean") / F.lit(10000.0), 4)).alias("mean_value"),
        F.max(F.round(F.col("_std") / F.lit(10000.0), 4)).alias("std_value"),
    )
    return out.select("event_type", "n", "mean_value", "std_value", "n_outliers")


#: approx_percentile_stats error band: the GK estimate must sit within
#: 5% of the exact interpolated quantile (with a 100-cent absolute
#: floor for near-zero quantiles). GK at accuracy=10000 guarantees rank
#: error <= n/10000; on the fixture corpus the measured value error is
#: far below 5% at every SF, while a broken sketch (wrong accuracy,
#: wrong fraction) lands whole segments away.
APS_BAND_PCT = 5


def approx_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median / p90 per market segment via Spark's
    Greenwald-Khanna quantile sketch (`approx_percentile`),
    SELF-AUDITING: the 100 TB path where exact percentile's full
    per-group sort is too big — fixed-size mergeable sketch per group,
    map-side combinable, constant memory at any cardinality.

    The raw estimate can never hash-match a DuckDB oracle (engine
    sketches differ), so — the audit-twin pattern of
    quantile_sketch_audit / approx_distinct_counts — the key outputs
    the exact interpolated quantiles plus the estimate's GUARANTEE: a
    within-APS_BAND_PCT verdict on the GK values, which the oracle pins
    to 1. A sketch regression flips the flag and hash-mismatches
    instead of hiding behind a rows-only check.

    Shape: ONE map-side-combined aggregate carries both the GK sketch
    and the exact percentile; at true 100 TB the exact anchor is the
    expensive half — this key is the VALIDATION run, the production
    path calls the sketch alone."""
    cust = load_table(spark, sf_dir, "customer")
    bal_c = _cents("c_acctbal")
    agg = cust.groupBy("c_mktsegment").agg(
        F.approx_percentile(bal_c, F.lit(0.5), F.lit(10000)).alias("_a50_c"),
        F.approx_percentile(bal_c, F.lit(0.9), F.lit(10000)).alias("_a90_c"),
        F.percentile(bal_c, F.lit(0.5)).alias("_p50_c"),
        F.percentile(bal_c, F.lit(0.9)).alias("_p90_c"),
        F.count("*").alias("n_cust"),
    )
    pct = F.lit(APS_BAND_PCT / 100.0)
    within = (
        F.abs(F.col("_a50_c") - F.col("_p50_c"))
        <= F.greatest(F.lit(100.0), pct * F.abs(F.col("_p50_c")))
    ) & (
        F.abs(F.col("_a90_c") - F.col("_p90_c"))
        <= F.greatest(F.lit(100.0), pct * F.abs(F.col("_p90_c")))
    )
    return agg.select(
        "c_mktsegment",
        "n_cust",
        F.round(F.col("_p50_c") / F.lit(100.0), 6).alias("median_bal"),
        F.round(F.col("_p90_c") / F.lit(100.0), 6).alias("p90_bal"),
        within.cast("int").alias("gk_within_band"),
    )


def histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value (width 10): per bucket, row
    count and exact sum (value quantized to e6 integer units pre-sum).
    The streaming twin is the SAME histogram_registers derivation run
    on the event stream in complete/update mode."""
    events = load_table(spark, sf_dir, "events")
    return histogram_from_registers(histogram_registers(events))


def histogram_registers(events: DataFrame) -> DataFrame:
    """THE per-bucket (n, _sum_e6) registers: one shared derivation for
    the batch key (histogram_value) and the streaming monitor (this
    function on a stream) — decomposable count/sum on the same
    width-10 bucket expression, so the live histogram and the nightly
    one can never disagree on binning or quantization."""
    v_e6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    return events.groupBy(
        F.floor(F.col("value") / 10).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum(v_e6).alias("_sum_e6"),
    )


def histogram_from_registers(agg: DataFrame) -> DataFrame:
    """Presentation finisher from the per-bucket registers — shared by
    the batch key and the streaming monitor read side."""
    return agg.select(
        "bucket",
        "n",
        (F.col("_sum_e6").cast("double") / F.lit(1000000.0)).alias("sum_value"),
    )


def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell χ² association table between document language and
    source — the drift detector for "did source X suddenly change its
    language mix". Emits, for every (lang, source) cell, the observed
    count, the integer-e6 expected count, and the integer-e6 χ²
    contribution (O·N − R·C)²·10⁶ div (N·R·C).

    Exactness: no float expectation — the deviation (O·N − R·C) and
    its square run in DECIMAL (one operand cast before multiplying, so
    nothing wraps), and both e6 fixed-points use integer floor
    division. Shape: one combined groupBy(lang, source) builds the
    contingency table; row/column marginals are tiny aggregates of it
    that re-attach via broadcast — the corpus is scanned once."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    row = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    col = obs.groupBy("source").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cell = (
        obs.join(F.broadcast(row), "lang")
        .join(F.broadcast(col), "source")
        .crossJoin(F.broadcast(tot))
    )
    dev = F.col("o").cast("decimal(38,0)") * F.col("n") - F.col("r").cast(
        "decimal(38,0)"
    ) * F.col("c")
    return cell.select(
        "lang",
        "source",
        "o",
        # r·c·10⁶ overflows BIGINT at big-corpus marginals — decimal here too
        F.expr(
            "CAST((CAST(r AS DECIMAL(38,0)) * c * 1000000) div n AS BIGINT)"
        ).alias("expected_e6"),
        (dev * dev).cast("decimal(38,0)").alias("_d2"),
        F.col("n"),
        F.col("r"),
        F.col("c"),
    ).select(
        "lang",
        "source",
        "o",
        "expected_e6",
        F.expr(
            "CAST((_d2 * 1000000) div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
        ).alias("chi2_e6"),
    )


QUERIES = {
    "percentile_stats": percentile_stats,
    "approx_percentile_stats": approx_percentile_stats,
    "histogram_value": histogram_value,
    "outlier_zscore": outlier_zscore,
    "chi2_lang_source": chi2_lang_source,
}


ORACLE = {
    "approx_percentile_stats": """
        SELECT c_mktsegment,
               COUNT(*) AS n_cust,
               ROUND(quantile_cont(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT), 0.5)
                     / 100.0, 6) AS median_bal,
               ROUND(quantile_cont(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT), 0.9)
                     / 100.0, 6) AS p90_bal,
               CAST(1 AS INT) AS gk_within_band
        FROM customer
        GROUP BY 1
    """,
    "percentile_stats": """
        SELECT c_mktsegment,
               ROUND(quantile_cont(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT), 0.5)
                     / 100.0, 6) AS median_bal,
               ROUND(quantile_cont(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT), 0.9)
                     / 100.0, 6) AS p90_bal,
               COUNT(*) AS n_cust
        FROM customer
        GROUP BY 1
    """,
    "histogram_value": """
        SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 AS sum_value
        FROM events
        GROUP BY 1
    """,
}


# Mirrors outlier_zscore exactly: integer e4 moments, double math only
# in the final mean/var expressions (same shape, same rounding).
ORACLE["outlier_zscore"] = """
    WITH q AS (
      SELECT event_type,
             CAST(FLOOR("value" * 10000 + 0.5) AS BIGINT) AS v
      FROM events),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(v) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS ss
      FROM q GROUP BY 1),
    enriched AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS m,
             sqrt(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd
      FROM stats)
    SELECT q.event_type,
           CAST(MAX(e.n) AS BIGINT) AS n,
           MAX(ROUND(e.m / 10000.0, 4)) AS mean_value,
           MAX(ROUND(e.sd / 10000.0, 4)) AS std_value,
           CAST(SUM(CASE WHEN ABS(q.v - e.m) > 3.0 * e.sd THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM q JOIN enriched e USING (event_type)
    GROUP BY 1
"""


ORACLE["chi2_lang_source"] = """
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
    r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs)
    SELECT obs.lang, obs.source, obs.o,
           CAST((CAST(r.r AS HUGEINT) * c.c * 1000000) // n.n AS BIGINT)
             AS expected_e6,
           CAST(((CAST(obs.o AS HUGEINT) * n.n - CAST(r.r AS HUGEINT) * c.c)
                 * (CAST(obs.o AS HUGEINT) * n.n - CAST(r.r AS HUGEINT) * c.c)
                 * 1000000)
                // (CAST(n.n AS HUGEINT) * r.r * c.c) AS BIGINT) AS chi2_e6
    FROM obs
    JOIN r ON obs.lang = r.lang
    JOIN c ON obs.source = c.source
    CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# Exact OLS monthly trend fit (round 7)
# ---------------------------------------------------------------------------
def month_index() -> Column:
    """An order's month index: months since 1995-01 of o_orderdate."""
    return (
        (F.year("o_orderdate") - F.lit(1995)) * 12 + F.month("o_orderdate") - 1
    ).cast("long")


def monthly_revenue(orders: DataFrame) -> DataFrame:
    """The monthly revenue series: (month_ym, mi, rev_c) — 'yyyy-MM',
    month_index and that month's o_totalprice in exact cents. One
    map-side-combined groupBy onto the calendar-bounded month grid."""
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month_ym"),
        month_index().alias("mi"),
    ).agg(F.sum(_cents("o_totalprice")).alias("rev_c"))


def ols_trend_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer OLS trend fit of monthly revenue (cents) against
    the month index: per month, the observed revenue, the fitted value
    from the least-squares line, and the residual — the trend/seasonal
    decomposition primitive a forecasting pipeline starts from. The
    partial trailing month surfaces as a huge negative residual, which
    is exactly the data-quality signal the residual column is for.

    All arithmetic is exact: slope = num/den is carried as a BIGINT
    rational (num = n*Sdxdy - Sdx*Sdy, den = n*Sdxdx - Sdx^2), and the
    fitted value is the single truncating division
    (den*Sdy + num*(n*dx - Sdx)) div (n*den) + cy over DECIMAL(38,0)
    products (Spark `div` on decimals truncates toward zero exactly
    like DuckDB HUGEINT //; its LONG result is safe because the
    quotient is a monthly-revenue-sized number). Covariance is
    shift-invariant, so both x and y are first pivoted by their
    integer floor-means — at 100 TB the deviation sums stay bounded by
    n*max_deviation instead of n*max_value, which is what keeps the
    products inside 128-bit no matter how many months or how large the
    revenue.

    Shape: ONE data-sized pass (map-side-combined groupBy month on two
    read columns); everything after operates on the months frame
    (80 rows here, thousands at most ever) with 1-row broadcast
    pivots/statistics — no second scan, no driver loop.
    """
    monthly = monthly_revenue(load_table(spark, sf_dir, "orders"))
    pivots = monthly.agg(
        F.count("*").alias("n"),
        F.expr("sum(mi) div count(*)").alias("cx"),
        F.expr("sum(rev_c) div count(*)").alias("cy"),
    )
    dev = monthly.crossJoin(F.broadcast(pivots)).select(
        "month_ym", "mi", "rev_c", "n", "cx", "cy",
        (F.col("mi") - F.col("cx")).alias("dx"),
        (F.col("rev_c") - F.col("cy")).alias("dy"),
    )
    stats = dev.groupBy("n", "cy").agg(
        F.sum("dx").alias("sdx"),
        F.sum("dy").alias("sdy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sdxdy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sdxdx"),
    ).select(
        "n", "cy", "sdx", "sdy",
        (F.col("n") * F.col("sdxdy") - F.col("sdx") * F.col("sdy")).alias(
            "slope_num"
        ),
        (F.col("n") * F.col("sdxdx") - F.col("sdx") * F.col("sdx")).alias(
            "slope_den"
        ),
    )
    fitted = (
        "cy + CAST((CAST(slope_den AS DECIMAL(38,0)) * CAST(sdy AS DECIMAL(38,0))"
        " + CAST(slope_num AS DECIMAL(38,0))"
        "   * CAST(n * dx - sdx AS DECIMAL(38,0)))"
        " div (CAST(n AS DECIMAL(38,0)) * CAST(slope_den AS DECIMAL(38,0)))"
        " AS BIGINT)"
    )
    return (
        dev.select("month_ym", "mi", "rev_c", "dx")
        .crossJoin(F.broadcast(stats))
        .select(
            "month_ym",
            F.col("mi").cast("long").alias("mi"),
            F.col("rev_c").cast("long").alias("rev_c"),
            F.expr(fitted).alias("fitted_c"),
            (F.col("rev_c") - F.expr(fitted)).cast("long").alias("resid_c"),
            F.col("n").cast("long").alias("n"),
            F.col("slope_num").cast("long").alias("slope_num"),
            F.col("slope_den").cast("long").alias("slope_den"),
            F.expr("slope_num div slope_den").alias("slope_c_per_month"),
        )
    )


QUERIES["ols_trend_monthly"] = ols_trend_monthly


ORACLE["ols_trend_monthly"] = """
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month_ym,
             (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mi,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1, 2),
    pivots AS (
      SELECT COUNT(*) AS n, SUM(mi) // COUNT(*) AS cx,
             SUM(rev_c) // COUNT(*) AS cy
      FROM monthly),
    dev AS (
      SELECT m.*, p.n, p.cx, p.cy, m.mi - p.cx AS dx, m.rev_c - p.cy AS dy
      FROM monthly m CROSS JOIN pivots p),
    stats AS (
      SELECT n, cy, SUM(dx) AS sdx, SUM(dy) AS sdy,
             n * SUM(dx * dy) - SUM(dx) * SUM(dy) AS slope_num,
             n * SUM(dx * dx) - SUM(dx) * SUM(dx) AS slope_den
      FROM dev GROUP BY 1, 2)
    SELECT d.month_ym,
           CAST(d.mi AS BIGINT) AS mi,
           CAST(d.rev_c AS BIGINT) AS rev_c,
           CAST(s.cy + (CAST(s.slope_den AS HUGEINT) * s.sdy
                        + CAST(s.slope_num AS HUGEINT) * (s.n * d.dx - s.sdx))
                       // (CAST(s.n AS HUGEINT) * s.slope_den) AS BIGINT)
             AS fitted_c,
           CAST(d.rev_c - (s.cy + (CAST(s.slope_den AS HUGEINT) * s.sdy
                        + CAST(s.slope_num AS HUGEINT) * (s.n * d.dx - s.sdx))
                       // (CAST(s.n AS HUGEINT) * s.slope_den)) AS BIGINT)
             AS resid_c,
           CAST(s.n AS BIGINT) AS n,
           CAST(s.slope_num AS BIGINT) AS slope_num,
           CAST(s.slope_den AS BIGINT) AS slope_den,
           CAST(s.slope_num // s.slope_den AS BIGINT) AS slope_c_per_month
    FROM dev d CROSS JOIN stats s
"""


def corr_pairs_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation report over document metric pairs —
    (chars, words), (words, distinct words), and a (chars, doc_id%7)
    null control that pins the statistic's discrimination: the real
    pairs score high corr2_ppm, the control scores ~0. Everything is
    integer-exact: with centered sums num = n*Sdxdy - Sdx*Sdy and
    den_x = n*Sdxdx - Sdx^2, corr^2 = num^2/(den_x*den_y) exactly, so
    corr2_ppm = num^2 * 1e6 div (den_x * den_y) is order-independent
    and engine-identical (no float sqrt — the sign rides separately).

    Shape: ONE documents scan computes the per-doc metric row; a
    3-way stack unpivots it to (pair, x, y) so all pairs share one
    map-side-combined groupBy(pair). Pivoting x and y by their integer
    floor-means first (shift-invariance of covariance) bounds every
    product by n*max_DEVIATION^2, which is what keeps the DECIMAL(38)
    squares in range at any corpus size; the per-pair pivot/stat
    frames are 3 rows and ride broadcasts.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    m = docs.select(
        F.col("n_chars").cast("long").alias("nc"),
        F.size(words).cast("long").alias("nw"),
        F.size(F.array_distinct(words)).cast("long").alias("nd"),
        (F.col("doc_id") % 7).cast("long").alias("null7"),
    )
    pairs = m.select(
        F.expr(
            "stack(3, 'chars_words', nc, nw,"
            " 'words_distinct', nw, nd,"
            " 'chars_null7', nc, null7) AS (pair, x, y)"
        )
    )
    pivots = pairs.groupBy("pair").agg(
        F.count("*").alias("n"),
        F.expr("sum(x) div count(*)").alias("cx"),
        F.expr("sum(y) div count(*)").alias("cy"),
    )
    dev = pairs.join(F.broadcast(pivots), "pair").select(
        "pair", "n",
        (F.col("x") - F.col("cx")).alias("dx"),
        (F.col("y") - F.col("cy")).alias("dy"),
    )
    stats = dev.groupBy("pair", "n").agg(
        F.sum("dx").alias("sdx"),
        F.sum("dy").alias("sdy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sdxdy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sdxdx"),
        F.sum(F.col("dy") * F.col("dy")).alias("sdydy"),
    )
    return stats.select(
        "pair",
        F.col("n").cast("long").alias("n"),
        F.expr("n * sdxdy - sdx * sdy").alias("cov_num"),
        F.expr("n * sdxdx - sdx * sdx").alias("varx_num"),
        F.expr("n * sdydy - sdy * sdy").alias("vary_num"),
        F.expr(
            "CAST((CAST(n * sdxdy - sdx * sdy AS DECIMAL(38,0))"
            " * CAST(n * sdxdy - sdx * sdy AS DECIMAL(38,0))"
            " * CAST(1000000 AS DECIMAL(38,0)))"
            " div (CAST(n * sdxdx - sdx * sdx AS DECIMAL(38,0))"
            "      * CAST(n * sdydy - sdy * sdy AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("corr2_ppm"),
        F.signum(F.expr("n * sdxdy - sdx * sdy")).cast("int").alias("corr_sign"),
    )


QUERIES["corr_pairs_report"] = corr_pairs_report


ORACLE["corr_pairs_report"] = """
    WITH m AS (
      SELECT CAST(n_chars AS BIGINT) AS nc,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                  AS BIGINT) AS nw,
             CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                                w -> w <> ''))) AS BIGINT)
               AS nd,
             CAST(doc_id % 7 AS BIGINT) AS null7
      FROM documents),
    pairs AS (
      SELECT 'chars_words' AS pair, nc AS x, nw AS y FROM m
      UNION ALL SELECT 'words_distinct', nw, nd FROM m
      UNION ALL SELECT 'chars_null7', nc, null7 FROM m),
    pivots AS (
      SELECT pair, COUNT(*) AS n, SUM(x) // COUNT(*) AS cx,
             SUM(y) // COUNT(*) AS cy
      FROM pairs GROUP BY 1),
    dev AS (
      SELECT p.pair, v.n, p.x - v.cx AS dx, p.y - v.cy AS dy
      FROM pairs p JOIN pivots v USING (pair)),
    stats AS (
      SELECT pair, n, SUM(dx) AS sdx, SUM(dy) AS sdy,
             SUM(dx * dy) AS sdxdy, SUM(dx * dx) AS sdxdx,
             SUM(dy * dy) AS sdydy
      FROM dev GROUP BY 1, 2)
    SELECT pair,
           CAST(n AS BIGINT) AS n,
           CAST(n * sdxdy - sdx * sdy AS BIGINT) AS cov_num,
           CAST(n * sdxdx - sdx * sdx AS BIGINT) AS varx_num,
           CAST(n * sdydy - sdy * sdy AS BIGINT) AS vary_num,
           CAST(CAST(n * sdxdy - sdx * sdy AS HUGEINT)
                * CAST(n * sdxdy - sdx * sdy AS HUGEINT) * 1000000
                // (CAST(n * sdxdx - sdx * sdx AS HUGEINT)
                    * CAST(n * sdydy - sdy * sdy AS HUGEINT)) AS BIGINT)
             AS corr2_ppm,
           CAST(CASE WHEN n * sdxdy - sdx * sdy > 0 THEN 1
                     WHEN n * sdxdy - sdx * sdy < 0 THEN -1
                     ELSE 0 END AS INT) AS corr_sign
    FROM stats
"""


def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-numbers screen: per leading digit, the observed count
    and ppm share against the Benford expectation ppm (fixed integer
    constants of floor(log10(1+1/d)*1e6), identical literals in both
    engines — no runtime logarithms). TPC-H-style uniform pricing is
    NOT Benford-distributed, and the report shows exactly that — the
    audit firing on synthetic data is the audit working.

    Shape: one scan, first digit extracted from the cents BIGINT's
    decimal string (no float log), map-side-combined groupBy on a
    9-value key, total rides a broadcast 1-row aggregate."""
    benford = spark.createDataFrame(
        list(BENFORD_PPM.items()), "digit string, benford_ppm long"
    )
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        orders.select(
            F.substring(_cents("o_totalprice").cast("string"), 1, 1).alias(
                "digit"
            )
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .join(F.broadcast(benford), "digit")
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.expr("n * 1000000 div total").alias("share_ppm"),
            "benford_ppm",
            F.expr("n * 1000000 div total - benford_ppm").alias("dev_ppm"),
        )
    )


# floor(log10(1 + 1/d) * 1e6) — Benford first-digit expectation, ppm.
BENFORD_PPM = {
    "1": 301029, "2": 176091, "3": 124938, "4": 96910, "5": 79181,
    "6": 66946, "7": 57991, "8": 51152, "9": 45757,
}


QUERIES["benford_deviation"] = benford_deviation


def gini_revenue_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Lorenz curve by customer-spend decile
    plus the exact-integer Gini coefficient in ppm — "what share of
    revenue do the bottom k/10 of customers carry". Gini uses the
    rank identity G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    the fully tie-broken (spend, custkey) ascending order; deciles use
    the same closed-form bucketing as rfm_segmentation.

    Shape: the orders scan collapses to the customer-dimension spend
    frame; the rank is the skew-safe two-pass bucketed row_number
    (functions.bucketed_row_number, the quality_rank_per_lang pattern
    generalized in round 8) — the spend axis is cut into fixed 2^24-cent
    ranges, so the only unpartitioned window runs over the BUCKET-COUNT
    frame (spend-range/2^24 rows, money-domain-bounded, never
    |customers|) and the per-customer sort happens within buckets. A
    naive Window.orderBy here would sort billions of customers in one
    task at 100×. Products route through DECIMAL(38)/HUGEINT so
    rank*spend sums stay exact at any customer count."""
    from flinkproj_spark.functions import bucketed_row_number

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(_cents("o_totalprice")).alias("m_c")
    )
    ranked = bucketed_row_number(
        spend,
        F.expr("m_c div 16777216"),
        [F.col("m_c").asc(), F.col("custkey").asc()],
        "rk",
    )
    tot = ranked.agg(
        F.count("*").alias("n"),
        F.sum("m_c").alias("sum_m"),
        F.sum(
            F.col("rk").cast("decimal(38,0)") * F.col("m_c").cast("decimal(38,0)")
        ).alias("sum_rx"),
    )
    deciles = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("(rk - 1) * 10 div n + 1").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("m_c").cast("long").alias("dec_m_c"),
            F.first("n").alias("n"),
            F.first("sum_m").alias("sum_m"),
            F.first("sum_rx").alias("sum_rx"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.withColumn("cum_m_c", F.sum("dec_m_c").over(wc))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_cust",
            "dec_m_c",
            F.col("cum_m_c").cast("long").alias("cum_m_c"),
            F.expr(
                "CAST(CAST(cum_m_c AS DECIMAL(38,0)) * 1000000"
                " div CAST(sum_m AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("cum_share_ppm"),
            F.expr(
                "CAST((2 * sum_rx - (CAST(n AS DECIMAL(38,0)) + 1)"
                " * CAST(sum_m AS DECIMAL(38,0))) * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * CAST(sum_m AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


QUERIES["gini_revenue_lorenz"] = gini_revenue_lorenz


ORACLE["benford_deviation"] = f"""
    WITH benford(digit, benford_ppm) AS (VALUES
      {', '.join(f"('{d}', {p})" for d, p in BENFORD_PPM.items())}),
    counts AS (
      SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                         AS VARCHAR), 1, 1) AS digit,
             COUNT(*) AS n
      FROM orders GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT c.digit,
           CAST(c.n AS BIGINT) AS n,
           CAST(c.n * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
           CAST(c.n * 1000000 // t.total - b.benford_ppm AS BIGINT) AS dev_ppm
    FROM counts c CROSS JOIN tot t JOIN benford b USING (digit)
"""


ORACLE["gini_revenue_lorenz"] = """
    WITH spend AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS m_c
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT custkey, m_c,
             ROW_NUMBER() OVER (ORDER BY m_c ASC, custkey) AS rk
      FROM spend),
    tot AS (
      SELECT COUNT(*) AS n, SUM(m_c) AS sum_m,
             SUM(CAST(rk AS HUGEINT) * m_c) AS sum_rx
      FROM ranked),
    deciles AS (
      SELECT (rk - 1) * 10 // n + 1 AS decile,
             COUNT(*) AS n_cust, SUM(m_c) AS dec_m_c,
             ANY_VALUE(n) AS n, ANY_VALUE(sum_m) AS sum_m,
             ANY_VALUE(sum_rx) AS sum_rx
      FROM ranked CROSS JOIN tot
      GROUP BY 1)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_cust AS BIGINT) AS n_cust,
           CAST(dec_m_c AS BIGINT) AS dec_m_c,
           CAST(SUM(dec_m_c) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_m_c,
           CAST(CAST(SUM(dec_m_c) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
                * 1000000 // sum_m AS BIGINT) AS cum_share_ppm,
           CAST((2 * sum_rx - (CAST(n AS HUGEINT) + 1) * sum_m) * 1000000
                // (CAST(n AS HUGEINT) * sum_m) AS BIGINT) AS gini_ppm
    FROM deciles
"""


def moment_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape report per document source: exact integer
    central-moment sums and the shape ratios screening pipelines
    compare across ingest feeds — population kurtosis
    kurt_ppm = M4*1e6 div M2^2 (the n's cancel: M2 = n*S2-S1^2,
    M3 = n^2*S3-3n*S1*S2+2*S1^3, M4 = n^3*S4-4n^2*S1*S3+6n*S1^2*S2
    -3*S1^4 over mean-pivot deviations satisfy mu4/mu2^2 = M4/M2^2
    exactly), and squared skewness via the two-step truncating
    evaluation t = M3*1e3 div M2; skew2_ppm = t^2*1e6 div (M2*1e6)
    (== g1^2*1e6 up to the one truncation at t — relative error
    ~1e-9 here, and both engines compute the identical integer). Sign
    rides separately (no sqrt anywhere). Bound: products stay inside
    128-bit while n*max_deviation^2 < ~1e18 per group; past that,
    moment sums are exactly mergeable (they're sums), so the
    production path is per-shard partials + pairwise combine, not a
    wider integer.

    Shape: one scan -> groupBy(source) for integer floor-mean pivots
    (source-dimension frame, broadcast back), one more
    map-side-combined groupBy over deviations, then arithmetic on the
    tiny per-source frame."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("x")
    )
    pivots = docs.groupBy("source").agg(
        F.expr("sum(x) div count(*)").alias("cx")
    )
    dev = docs.join(F.broadcast(pivots), "source").select(
        "source", "cx", (F.col("x") - F.col("cx")).alias("dx")
    )
    s = dev.groupBy("source", "cx").agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("s1"),
        F.sum(F.expr("dx * dx")).alias("s2"),
        F.sum(F.expr("dx * dx * dx")).alias("s3"),
        F.sum(F.expr("dx * dx * dx * dx")).alias("s4"),
    )
    m = s.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.expr("cx + s1 div n").alias("mean_chars"),
        F.expr("n * s2 - s1 * s1").alias("m2"),
        F.expr("n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1").alias("m3"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * n * n * s4"
            " - 4 * CAST(n AS DECIMAL(38,0)) * n * s1 * s3"
            " + 6 * CAST(n AS DECIMAL(38,0)) * s1 * s1 * s2"
            " - 3 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1 * s1"
        ).alias("m4d"),
    )
    return m.select(
        "source",
        "n",
        "mean_chars",
        "m2",
        "m3",
        F.expr(
            "CAST(CAST(m3 AS DECIMAL(38,0)) * 1000 div CAST(m2 AS DECIMAL(38,0))"
            " AS DECIMAL(38,0))"
        ).alias("_t"),
        F.signum("m3").cast("int").alias("skew_sign"),
        F.expr("CAST(m4d * 1000000 div (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)").alias(
            "kurt_ppm"
        ),
    ).select(
        "source",
        "n",
        "mean_chars",
        "m2",
        "m3",
        F.expr(
            "CAST(_t * _t * 1000000 div (CAST(m2 AS DECIMAL(38,0)) * 1000000)"
            " AS BIGINT)"
        ).alias("skew2_ppm"),
        "skew_sign",
        "kurt_ppm",
    )


QUERIES["moment_stats_by_source"] = moment_stats_by_source


ORACLE["moment_stats_by_source"] = """
    WITH docs AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
    pivots AS (
      SELECT source, SUM(x) // COUNT(*) AS cx FROM docs GROUP BY 1),
    dev AS (
      SELECT d.source, p.cx, d.x - p.cx AS dx
      FROM docs d JOIN pivots p USING (source)),
    s AS (
      SELECT source, cx, COUNT(*) AS n, SUM(dx) AS s1,
             SUM(dx * dx) AS s2, SUM(dx * dx * dx) AS s3,
             SUM(dx * dx * dx * dx) AS s4
      FROM dev GROUP BY 1, 2),
    m AS (
      SELECT source, n, cx + s1 // n AS mean_chars,
             n * s2 - s1 * s1 AS m2,
             n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3,
             CAST(n AS HUGEINT) * n * n * s4
               - 4 * CAST(n AS HUGEINT) * n * s1 * s3
               + 6 * CAST(n AS HUGEINT) * s1 * s1 * s2
               - 3 * CAST(s1 AS HUGEINT) * s1 * s1 * s1 AS m4h
      FROM s)
    SELECT source,
           CAST(n AS BIGINT) AS n,
           CAST(mean_chars AS BIGINT) AS mean_chars,
           CAST(m2 AS BIGINT) AS m2,
           CAST(m3 AS BIGINT) AS m3,
           CAST((CAST(m3 AS HUGEINT) * 1000 // m2)
                * (CAST(m3 AS HUGEINT) * 1000 // m2) * 1000000
                // (CAST(m2 AS HUGEINT) * 1000000) AS BIGINT) AS skew2_ppm,
           CAST(CASE WHEN m3 > 0 THEN 1 WHEN m3 < 0 THEN -1 ELSE 0 END
                AS INT) AS skew_sign,
           CAST(m4h * 1000000 // (CAST(m2 AS HUGEINT) * m2) AS BIGINT)
             AS kurt_ppm
    FROM m
"""


def hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration of revenue across
    customer nations: per nation its exact revenue share (ppm) and
    concentration rank, plus the corpus-wide HHI in the conventional
    0-10000 points (sum of squared percent shares) computed as ONE
    cross-multiplied division: hhi_e4 = sum(rev_i^2) * 10000 div
    (sum(rev))^2 — the antitrust/portfolio-concentration screen, dual
    of the Simpson diversity index. CR4 falls out of the cumulative
    share column (rank <= 4).

    Shape: orders joins customer on the custkey hash exchange (both
    sides data-sized at 100 TB — no broadcast), collapses to the
    ~25-row nation frame; ranking and squared-share sums run there
    (plan-lint whitelisted dimension window). rev^2 routes through
    DECIMAL(38): nation revenue is corpus-sized, its square is not
    int64."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nat"),
    )
    per_nat = (
        orders.select("o_custkey", _cents("o_totalprice").alias("rev_c"))
        .join(cust, "o_custkey")
        .groupBy("nat")
        .agg(F.sum("rev_c").alias("rev_c"))
    )
    tot = per_nat.agg(
        F.sum("rev_c").alias("sum_rev"),
        F.sum(
            F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")
        ).alias("sum_rev2"),
    )
    w = Window.orderBy(F.col("rev_c").desc(), "nat")
    wc = Window.orderBy(F.col("rev_c").desc(), "nat").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_nat.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn("cum_rev", F.sum("rev_c").over(wc))
        .select(
            F.col("nat").cast("int").alias("nat"),
            "rank",
            F.col("rev_c").cast("long").alias("rev_c"),
            # same DECIMAL(38,0) route as cum_share_ppm: rev_c * 1e6
            # wraps BIGINT once one nation's revenue passes ~9.2e12
            # cents — the exact scale this key's docstring claims to
            # survive (round-7 ADVICE).
            F.expr(
                "CAST(CAST(rev_c AS DECIMAL(38,0)) * 1000000"
                " div CAST(sum_rev AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("share_ppm"),
            F.expr(
                "CAST(CAST(cum_rev AS DECIMAL(38,0)) * 1000000"
                " div CAST(sum_rev AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("cum_share_ppm"),
            F.expr(
                "CAST(sum_rev2 * 10000 div (CAST(sum_rev AS DECIMAL(38,0))"
                " * sum_rev) AS BIGINT)"
            ).alias("hhi_e4"),
        )
    )


QUERIES["hhi_by_nation"] = hhi_by_nation


ORACLE["hhi_by_nation"] = """
    WITH per_nat AS (
      SELECT c.c_nationkey AS nat,
             SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1),
    tot AS (
      SELECT SUM(rev_c) AS sum_rev,
             SUM(CAST(rev_c AS HUGEINT) * rev_c) AS sum_rev2
      FROM per_nat),
    ranked AS (
      SELECT nat, rev_c,
             ROW_NUMBER() OVER (ORDER BY rev_c DESC, nat) AS rank,
             SUM(rev_c) OVER (ORDER BY rev_c DESC, nat
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      FROM per_nat)
    SELECT CAST(r.nat AS INT) AS nat,
           CAST(r.rank AS INT) AS rank,
           CAST(r.rev_c AS BIGINT) AS rev_c,
           CAST(r.rev_c * 1000000 // t.sum_rev AS BIGINT) AS share_ppm,
           CAST(CAST(r.cum_rev AS HUGEINT) * 1000000 // t.sum_rev AS BIGINT)
             AS cum_share_ppm,
           CAST(t.sum_rev2 * 10000 // (CAST(t.sum_rev AS HUGEINT) * t.sum_rev)
                AS BIGINT) AS hhi_e4
    FROM ranked r CROSS JOIN tot t
"""


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier screen (round 8)
# ---------------------------------------------------------------------------
def mad_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source document-length outlier screen: median and
    median-absolute-deviation of n_chars per source, and how many docs
    sit beyond the 3-MAD fence — the screen that, unlike
    outlier_zscore, a handful of monster documents cannot drag (mean
    and stddev both chase the outliers they're supposed to find;
    median/MAD don't). Medians are exact nearest-rank (lower median,
    rank (n+1) div 2) computed from value HISTOGRAMS — the
    shipping_lag_report technique — so no per-source sort of document
    rows ever happens and the arithmetic is all-integer.

    Shape: one scan collapses to the (source, n_chars) histogram
    (sources x distinct-length grid, value-domain-bounded); both
    median extractions are cumulative windows PARTITIONED by source
    over that grid; the deviation histogram is a regroup of the same
    grid. At 100 TB every post-scan frame is still grid-sized."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    hist = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("cnt")
    )
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    wsrc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        hist.withColumn("cum", F.sum("cnt").over(wsrc))
        .join(F.broadcast(tot), "source")
        .filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("source")
        .agg(F.min("v").alias("med"))
    )
    devh = (
        hist.join(F.broadcast(med), "source")
        .groupBy("source", F.abs(F.col("v") - F.col("med")).alias("dev"))
        .agg(F.sum("cnt").alias("cnt"), F.first("med").alias("med"))
    )
    wdev = (
        Window.partitionBy("source")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mad = (
        devh.withColumn("cum", F.sum("cnt").over(wdev))
        .join(F.broadcast(tot), "source")
        .filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("source")
        .agg(F.min("dev").alias("mad"))
    )
    fenced = (
        devh.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_out"),
        )
    )
    return fenced.join(F.broadcast(tot), "source").select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.col("med").cast("long").alias("med_chars"),
        F.col("mad").cast("long").alias("mad_chars"),
        F.col("n_out").cast("long").alias("n_outliers"),
        # DECIMAL(38,0) numerator: n_out * 1e6 wraps BIGINT once a
        # source holds ~9.2e12 outliers (round-9 advice fix — the
        # oracle sums in HUGEINT, so the engines would diverge first).
        F.expr(
            "CAST(CAST(n_out AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
        ).alias("outlier_ppm"),
    )


QUERIES["mad_outlier_report"] = mad_outlier_report


ORACLE["mad_outlier_report"] = """
    WITH hist AS (
      SELECT source, n_chars AS v, COUNT(*) AS cnt
      FROM documents GROUP BY 1, 2),
    tot AS (SELECT source, SUM(cnt) AS n FROM hist GROUP BY 1),
    med AS (
      SELECT source, MIN(v) AS med FROM (
        SELECT h.source, h.v,
               SUM(h.cnt) OVER (PARTITION BY h.source ORDER BY h.v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               t.n
        FROM hist h JOIN tot t USING (source))
      WHERE cum >= (n + 1) // 2 GROUP BY 1),
    devh AS (
      SELECT h.source, ABS(h.v - m.med) AS dev, SUM(h.cnt) AS cnt,
             ANY_VALUE(m.med) AS med
      FROM hist h JOIN med m USING (source) GROUP BY 1, 2),
    mad AS (
      SELECT source, MIN(dev) AS mad FROM (
        SELECT d.source, d.dev,
               SUM(d.cnt) OVER (PARTITION BY d.source ORDER BY d.dev
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               t.n
        FROM devh d JOIN tot t USING (source))
      WHERE cum >= (n + 1) // 2 GROUP BY 1),
    fenced AS (
      SELECT d.source, ANY_VALUE(d.med) AS med, ANY_VALUE(a.mad) AS mad,
             SUM(CASE WHEN d.dev > 3 * a.mad THEN d.cnt ELSE 0 END) AS n_out
      FROM devh d JOIN mad a USING (source) GROUP BY 1)
    SELECT f.source,
           CAST(t.n AS BIGINT) AS n_docs,
           CAST(f.med AS BIGINT) AS med_chars,
           CAST(f.mad AS BIGINT) AS mad_chars,
           CAST(f.n_out AS BIGINT) AS n_outliers,
           CAST(f.n_out * 1000000 // t.n AS BIGINT) AS outlier_ppm
    FROM fenced f JOIN tot t USING (source)
"""


# ---------------------------------------------------------------------------
# Robust statistics, continued (round 8): Theil-Sen trend + winsorized
# mean — the robust twins of ols_trend_monthly and the plain mean, the
# way mad_outlier_report twins outlier_zscore.
# ---------------------------------------------------------------------------
def theil_sen_trend_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue: the median of all
    pairwise slopes (y_j - y_i)/(x_j - x_i) over the month grid, plus
    the median-intercept — up to ~29% of months can be arbitrarily
    corrupted (a refund storm, a backfill gap) without moving the
    estimate, where ols_trend_monthly's least squares chases every
    outlier. Slopes are carried as the deterministic truncated key
    dy*1e6 div dx (cents-per-month ppm-resolution; exact-fraction ties
    below 1e-6 collapse — immaterial and identical in both engines),
    the median is nearest-rank (lower) over the slope histogram, and
    the intercept is the median of rev_c - slope*mi over months.

    Shape: the orders scan collapses to the month grid (80 rows,
    thousands at most ever); the pair frame is months² — bounded by
    the CALENDAR, independent of data volume — built as a broadcast
    range self-join; both medians are cumulative windows over
    calendar-bounded histograms. dy*1e6 routes through DECIMAL(38,0)
    (monthly revenue cents ×1e6 passes BIGINT at 100 TB)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(month_index().alias("mi")).agg(
        F.sum(_cents("o_totalprice")).alias("rev_c")
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.mi") > F.col("a.mi")).select(
        F.expr(
            "CAST(CAST(b.rev_c - a.rev_c AS DECIMAL(38,0)) * 1000000"
            " div (b.mi - a.mi) AS BIGINT)"
        ).alias("slope_e6")
    )
    hist = pairs.groupBy("slope_e6").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("slope_e6").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = hist.agg(F.sum("cnt").alias("n_pairs"))
    slope = (
        hist.withColumn("cum", F.sum("cnt").over(wcum))
        .crossJoin(F.broadcast(tot))
        .filter(F.expr("cum >= (n_pairs + 1) div 2"))
        .agg(
            F.min("slope_e6").alias("ts_slope_e6"),
            F.first("n_pairs").alias("n_pairs"),
        )
    )
    resid = monthly.crossJoin(F.broadcast(slope)).select(
        F.expr(
            "rev_c - CAST(CAST(ts_slope_e6 AS DECIMAL(38,0)) * mi"
            " div 1000000 AS BIGINT)"
        ).alias("ic")
    )
    whist = resid.groupBy("ic").agg(F.count("*").alias("cnt"))
    wcum2 = Window.orderBy("ic").rowsBetween(Window.unboundedPreceding, 0)
    mtot = whist.agg(F.sum("cnt").alias("n_months"))
    intercept = (
        whist.withColumn("cum", F.sum("cnt").over(wcum2))
        .crossJoin(F.broadcast(mtot))
        .filter(F.expr("cum >= (n_months + 1) div 2"))
        .agg(
            F.min("ic").alias("ts_intercept_c"),
            F.first("n_months").alias("n_months"),
        )
    )
    return slope.crossJoin(F.broadcast(intercept)).select(
        F.col("n_months").cast("long").alias("n_months"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("ts_slope_e6").cast("long").alias("ts_slope_e6"),
        F.col("ts_intercept_c").cast("long").alias("ts_intercept_c"),
    )


QUERIES["theil_sen_trend_monthly"] = theil_sen_trend_monthly


ORACLE["theil_sen_trend_monthly"] = """
    WITH monthly AS (
      SELECT (EXTRACT(year FROM o_orderdate) - 1995) * 12
               + EXTRACT(month FROM o_orderdate) - 1 AS mi,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT CAST(CAST(b.rev_c - a.rev_c AS HUGEINT) * 1000000
                  // (b.mi - a.mi) AS BIGINT) AS slope_e6
      FROM monthly a JOIN monthly b ON b.mi > a.mi),
    hist AS (SELECT slope_e6, COUNT(*) AS cnt FROM pairs GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n_pairs FROM hist),
    slope AS (
      SELECT MIN(slope_e6) AS ts_slope_e6, ANY_VALUE(n_pairs) AS n_pairs
      FROM (SELECT slope_e6,
                   SUM(cnt) OVER (ORDER BY slope_e6
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM hist) CROSS JOIN tot
      WHERE cum >= (n_pairs + 1) // 2),
    resid AS (
      SELECT rev_c - CAST(CAST(ts_slope_e6 AS HUGEINT) * mi
                          // 1000000 AS BIGINT) AS ic
      FROM monthly CROSS JOIN slope),
    whist AS (SELECT ic, COUNT(*) AS cnt FROM resid GROUP BY 1),
    mtot AS (SELECT SUM(cnt) AS n_months FROM whist),
    icept AS (
      SELECT MIN(ic) AS ts_intercept_c, ANY_VALUE(n_months) AS n_months
      FROM (SELECT ic,
                   SUM(cnt) OVER (ORDER BY ic
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM whist) CROSS JOIN mtot
      WHERE cum >= (n_months + 1) // 2)
    SELECT CAST(i.n_months AS BIGINT) AS n_months,
           CAST(s.n_pairs AS BIGINT) AS n_pairs,
           CAST(s.ts_slope_e6 AS BIGINT) AS ts_slope_e6,
           CAST(i.ts_intercept_c AS BIGINT) AS ts_intercept_c
    FROM slope s CROSS JOIN icept i
"""


def winsorized_mean_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of document length per source: values clamped at
    the exact nearest-rank P5/P95 (ranks ceil(0.05n)/ceil(0.95n) from
    the value histogram) before averaging — the robust location
    estimate that keeps the mean's units and efficiency while capping
    any single monster document's pull at the fence value. Reported in
    centichars (mean_e2 = sum*100 div n) next to the raw mean so the
    gap itself is the tail-weight signal.

    Shape: identical to mad_outlier_report — one scan to the
    (source, n_chars) histogram, fences from source-partitioned
    cumulative windows over that value grid, the clamped mean a second
    pass over the HISTOGRAM (cnt-weighted), never over document rows."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    hist = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("cnt")
    )
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    wsrc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wsrc)).join(
        F.broadcast(tot), "source"
    )
    lo = (
        cum.filter(F.expr("cum >= (5 * n + 99) div 100"))
        .groupBy("source")
        .agg(F.min("v").alias("lo_v"))
    )
    hi = (
        cum.filter(F.expr("cum >= (95 * n + 99) div 100"))
        .groupBy("source")
        .agg(F.min("v").alias("hi_v"))
    )
    return (
        hist.join(F.broadcast(lo), "source")
        .join(F.broadcast(hi), "source")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.first("lo_v").cast("long").alias("lo_chars"),
            F.first("hi_v").cast("long").alias("hi_chars"),
            F.sum(F.col("cnt") * F.col("v")).alias("_raw_sum"),
            F.sum(
                F.col("cnt")
                * F.greatest(F.least(F.col("v"), F.col("hi_v")), F.col("lo_v"))
            ).alias("_win_sum"),
        )
        .select(
            "source",
            "n_docs",
            "lo_chars",
            "hi_chars",
            F.expr("_raw_sum * 100 div n_docs").alias("raw_mean_e2"),
            F.expr("_win_sum * 100 div n_docs").alias("wins_mean_e2"),
        )
    )


QUERIES["winsorized_mean_by_source"] = winsorized_mean_by_source


ORACLE["winsorized_mean_by_source"] = """
    WITH hist AS (
      SELECT source, n_chars AS v, COUNT(*) AS cnt
      FROM documents GROUP BY 1, 2),
    tot AS (SELECT source, SUM(cnt) AS n FROM hist GROUP BY 1),
    cum AS (
      SELECT h.source, h.v, h.cnt, t.n,
             SUM(h.cnt) OVER (PARTITION BY h.source ORDER BY h.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM hist h JOIN tot t USING (source)),
    lo AS (SELECT source, MIN(v) AS lo_v FROM cum
           WHERE cum >= (5 * n + 99) // 100 GROUP BY 1),
    hi AS (SELECT source, MIN(v) AS hi_v FROM cum
           WHERE cum >= (95 * n + 99) // 100 GROUP BY 1)
    SELECT h.source,
           CAST(SUM(h.cnt) AS BIGINT) AS n_docs,
           CAST(ANY_VALUE(lo.lo_v) AS BIGINT) AS lo_chars,
           CAST(ANY_VALUE(hi.hi_v) AS BIGINT) AS hi_chars,
           CAST(SUM(h.cnt * h.v) * 100 // SUM(h.cnt) AS BIGINT)
             AS raw_mean_e2,
           CAST(SUM(h.cnt * GREATEST(LEAST(h.v, hi.hi_v), lo.lo_v)) * 100
                // SUM(h.cnt) AS BIGINT) AS wins_mean_e2
    FROM hist h JOIN lo USING (source) JOIN hi USING (source)
    GROUP BY 1
"""
