"""Dimension-table builders.

The reference's dimension source is a Redis hash polled every 60 s
(`MyRedisSource.java:27-75`): {AREA_US: "US", AREA_CT: "TW,HK", ...}
inverted into a country→area map and broadcast to every task. Here a
dimension is just a small DataFrame; the inversion is a declarative
explode(split(...)), and "broadcast to every task" is the broadcast()
join hint at the join site (SURVEY.md §2.1 S2, §2.4 J1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The reference's Redis `areas` hash, verbatim (MyRedisSource.java:16-19).
AREA_HASH: dict[str, str] = {
    "AREA_US": "US",
    "AREA_CT": "TW,HK",
    "AREA_AR": "PK,KW,SA",
    "AREA_IN": "IN",
}


def dim_area(spark: SparkSession) -> DataFrame:
    """country→area dimension: invert AREA_HASH's {area: "C1,C2"} by
    exploding the comma list. 7 rows; always broadcast-sized."""
    rows = list(AREA_HASH.items())
    raw = spark.createDataFrame(rows, "area string, countries string")
    return _invert(raw)


def _invert(raw: DataFrame) -> DataFrame:
    return raw.select(
        F.explode(F.split("countries", ",")).alias("country"),
        "area",
    )


def jdbc_driver_available(spark: SparkSession, driver_class: str) -> bool:
    """True iff `driver_class` is loadable in the JVM (same gate shape
    as sources.kafka — import of this module is always safe)."""
    try:
        spark._jvm.java.lang.Class.forName(driver_class)
        return True
    except Exception:
        return False


def dim_area_from_jdbc(
    spark: SparkSession,
    url: str,
    table: str = "areas",
    driver: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Live dimension loader — the store-backed twin of the reference's
    Redis source (`MyRedisSource.java:27-75`, SURVEY.md §2.1 S2): read
    {area, countries} rows from any JDBC store and invert with the same
    explode(split(...)) shape as `dim_area`. The reference's 60 s poll
    becomes a per-micro-batch reload when this is passed as
    `stream_clean`'s dim_loader (strictly fresher: staleness ≤ one
    batch). Redis itself has no JDBC driver — front it with anything
    JDBC-addressable (or keep the literal/parquet `dim_area` and sync
    out-of-band); the engine contract is only "small (area, countries)
    relation, reloaded per batch"."""
    if driver and not jdbc_driver_available(spark, driver):
        raise RuntimeError(
            f"JDBC driver {driver} not on classpath; add the driver jar "
            "via spark.jars / --packages"
        )
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return _invert(reader.load().select("area", "countries"))
