"""Public scalar-function library: reusable Column expressions.

Every function here returns a `pyspark.sql.Column` built ONLY from
built-in `pyspark.sql.functions` (higher-order array functions, regexp,
hashes) — they stay inside whole-stage codegen, never touch Python at
execution time, and compose freely with any DataFrame plan. This is the
engine's UDF surface: where the reference expresses custom logic as
Flink user-function classes (MapFunction, FlatMapFunction, …,
SURVEY.md §2.9), this engine expresses it as JVM-side column algebra.

The operator modules (`operators/text.py`, `operators/dedup.py`,
`operators/similarity.py`, `operators/sampling.py`) build on these; the
library is exported so engine users can compose the same primitives
into their own queries. `cache_scope` is the one cache lifetime every
operator that reads a frame more than once goes through.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class CacheScope:
    """The frames one call holds cached; see `cache_scope`."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def hold(self, df: DataFrame) -> DataFrame:
        """Persist df (MEMORY_AND_DISK: spills instead of OOMing, and an
        executor loss recomputes from lineage) and fill it NOW with a
        count(). Holding in dependency order fills every tier exactly
        once: a lazily-filled cache referenced k times inside one job
        races its own fill (block-level getOrElseUpdate gives concurrent
        stages no cross-task fill lock, so each of the k subtrees
        recomputes the partitions — measured r13: pair_strategy_agreement
        at x10 ran 135.7 s against a ~50 s stage sum)."""
        df = self._persist(df)
        df.count()
        return df

    def hold_values(self, df: DataFrame, col: str) -> tuple[DataFrame, list]:
        """`hold`, but the job that fills df also returns the distinct
        values of col: a scan of a held frame builds every column of
        every partition, so listing col costs no second job (and, in a
        micro-batch, no second run of the stateful plan)."""
        df = self._persist(df)
        return df, [r[0] for r in df.select(col).distinct().collect()]

    def _persist(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._held.append(df)
        return df

    def release(self, df: DataFrame) -> None:
        """Unpersist df now if this scope holds it — an iterative trainer
        drops each superseded round frame once its successor is filled,
        so at most two round frames are live."""
        if any(d is df for d in self._held):
            self._held = [d for d in self._held if d is not df]
            df.unpersist()


@contextmanager
def cache_scope() -> Iterator[CacheScope]:
    """The engine's one cache lifetime: every frame that more than one
    action (or one job, more than once) reads is held in a scope, and
    the scope unpersists all of it on exit — also when the body raises
    — so no cache outlives the call that built it. Results that must
    outlive the scope leave it materialized (`eager_report`, or a
    driver-side collect); only a key whose corpus-shaped output is
    returned lazily keeps a caller-owned cache instead.

    A plan built from a frame before the frame is held still reads the
    cache: Spark substitutes cached plans when a query executes, so a
    report may be assembled first and run inside the scope."""
    scope = CacheScope()
    try:
        yield scope
    finally:
        for df in reversed(scope._held):
            df.unpersist()


def eager_report(spark: SparkSession, report: DataFrame) -> DataFrame:
    """Run a BOUNDED report now and hand it back as a local relation,
    so it stays valid after the cache scope it read from has closed.
    Only for a handful of output rows (funnel counters, sweep tables,
    top-N) — the collect is O(rows_out), never corpus-shaped."""
    return spark.createDataFrame(report.collect(), report.schema)


# BPE-ish token regex: letter runs, digit runs, single punctuation.
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokenize_ws(col: Column | str = "text") -> Column:
    """Whitespace tokenizer: split on single spaces, drop empties.
    Identical semantics to DuckDB's string_split + list_filter, which is
    what keeps the text operators oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda w: w != "")


def token_count() -> Column:
    """BPE-ish token count of `text` via one regexp_count pass (no
    array built)."""
    return F.regexp_count(F.col("text"), F.lit(TOKEN_RE))


def normalize_text() -> Column:
    """Lowercase, collapse whitespace runs, trim `text` — the canonical
    form used by exact-dup hashing and fingerprints."""
    return F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))


def ngrams(words: Column, n: int) -> Column:
    """Positional (non-distinct) word n-grams, built in O(len) per doc
    by zipping the word array against its shifted tails (the
    transform-over-index + slice formulation is O(len²) per doc and
    goes pathological on long docs). Callers should filter
    size(words) >= n first."""
    m = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    out = F.slice(words, 1, m)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(words, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


SHINGLE_WORDS = 3  # words per shingle in every near-dup/overlap operator
QUANT_PLACES = 3  # decimals kept when an embedding is quantized


def shingles(words: Column) -> Column:
    """Distinct word SHINGLE_WORDS-shingles (see ngrams for the O(len)
    shape)."""
    return F.array_distinct(ngrams(words, SHINGLE_WORDS))


def quantize_embedding(col: Column) -> Column:
    """float embedding → exact int64 at QUANT_PLACES decimals. All
    similarity math downstream is integer-exact, which is what makes
    cosine results hash-comparable against a SQL oracle (float
    summation order would differ between engines)."""
    scale = float(10**QUANT_PLACES)
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast("long")
    )


def dot(a: Column, b: Column) -> Column:
    """Exact integer dot product as a sequential fold — zip_with +
    aggregate stays in codegen; no Python, no shuffle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def sign_lsh_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """Sign-LSH bucket id over integer plane weights: bit p of the id is
    (planes[p] · vec >= 0). 2^len(planes) buckets; candidate pairs meet
    in a bucket, turning an O(n²) similarity self-join into an equi-join."""
    planes_col = F.array(*[F.array(*[F.lit(w) for w in row]) for row in planes])
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(len(planes) - 1)),
        lambda p: F.when(
            dot(F.element_at(planes_col, p + F.lit(1)), vec) >= 0,
            F.pow(F.lit(2.0), p.cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic hyperplane weights in [-1000, 1000]: seeded by
    md5(f"{plane}_{dim}") so Spark, DuckDB SQL, and driver Python all
    derive the identical codebook with no RNG state to ship."""
    return [
        [
            int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hash_keep(key: Column, salt: str = "s0") -> Column:
    """Deterministic sampling predicate material: the first 2 hex chars
    of md5(key || salt). Comparing against a threshold selects a
    reproducible ~(threshold/256) fraction with no RNG, no state, and no
    shuffle — the only sampling that is stable across engines, retries,
    and partitionings (rand()-based sampling is none of those)."""
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 2)


def morton2(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low `bits` bits of two integer
    columns into a single curve position: bit i of x lands at 2i, bit i
    of y at 2i+1. Sorting/range-partitioning a table by this code keeps
    rows that are close in BOTH dimensions inside the same file, so
    parquet min-max statistics prune scans on either column — the
    data-skipping layout a 100 TB lake writes by (see
    sources/files.py::write_zorder_layout, audited by the
    `zorder_layout` query key). Pure shift/and/or bit arithmetic,
    codegen'd in-row, identical in DuckDB."""
    lo = F.lit((1 << bits) - 1)
    xb = x.bitwiseAND(lo)
    yb = y.bitwiseAND(lo)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xb, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(yb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _require_bucket(bucket: Column) -> Column:
    """Fail-fast guard for the two-pass bucketed helpers: a NULL
    bucket value would vanish through the inner offset join instead
    of erroring, so raise in-row the moment one appears. One codegen'd
    null-check per row — free next to the window it feeds."""
    return F.when(bucket.isNotNull(), bucket).otherwise(
        F.raise_error(
            "bucketed rank/cumsum bucket expression evaluated to NULL;"
            " coalesce nullable ordering values into a sentinel bucket"
        )
    )


def bucketed_row_number(
    df: DataFrame,
    bucket: Column,
    order: Sequence[Column],
    out: str,
    descending: bool = False,
    partition: Sequence[str] = (),
) -> DataFrame:
    """Skew-safe exact global row_number(): the two-pass bucketed rank
    (generalized from quality_rank_per_lang, the round-7 fix) that
    replaces a single-task `Window.orderBy(...)` whose frame GROWS with
    data — customer dimensions, vocabularies — with many small sorts.

    `bucket` must be an integer Column, WEAKLY MONOTONE in the first
    ordering column under the requested direction (ties in the ordering
    value must share a bucket, so the later tie-break columns stay
    bucket-local): truncating `div` of the value, `length(bin(value))`
    (integer log2), or a calendar grain all qualify. Pass 1 counts rows
    per (partition, bucket) — a frame bounded by the bucket DOMAIN
    (value range / width), independent of row count — and a cumulative
    window over that tiny frame yields each bucket's rank offset. Pass 2
    broadcast-joins the offsets back and runs row_number() WITHIN
    (partition, bucket), so no task ever sorts more than one bucket.
    Output is bit-identical to the single-window formulation; only the
    physical plan changes. Bucket width tunes balance, never
    correctness; exact ties necessarily stay in one bucket (rank among
    ties is decided by the tie-break columns inside that bucket's sort).

    `bucket` must be NON-NULL for every row: the offsets come back via
    an inner equi-join on the bucket column, and a NULL bucket never
    equi-matches, so its rows would be silently DROPPED — unlike the
    single-window reference, which ranks NULL ordering values (FIRST
    or LAST per direction). Callers with a nullable ordering value
    must coalesce it into a sentinel bucket themselves; the assert
    below fails fast in the common case of a literally-nullable
    bucket expression rather than losing rows.
    """
    from pyspark.sql.window import Window

    pcols = list(partition)
    work = df.withColumn("_rkb", _require_bucket(bucket))
    counts = work.groupBy(*pcols, "_rkb").agg(F.count("*").alias("_bn"))
    border = F.col("_rkb").desc() if descending else F.col("_rkb").asc()
    woff = (
        Window.partitionBy(*pcols)
        .orderBy(border)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *pcols,
        "_rkb",
        F.coalesce(F.sum("_bn").over(woff), F.lit(0)).alias("_rkoff"),
    )
    win = Window.partitionBy(*pcols, "_rkb").orderBy(*order)
    return (
        work.join(F.broadcast(offsets), pcols + ["_rkb"])
        .withColumn(
            out, (F.row_number().over(win) + F.col("_rkoff")).cast("long")
        )
        .drop("_rkb", "_rkoff")
    )


def bucketed_cumsum(
    df: DataFrame,
    bucket: Column,
    order: Sequence[Column],
    cols: Sequence[str],
) -> DataFrame:
    """Skew-safe running total over an ordered frame: same two-pass
    shape as bucketed_row_number but for cumulative SUMS — coarse
    per-bucket totals, a cumulative window over the bucket frame
    (domain-bounded, `len(cols)` longs per row), then the fine
    cumulative window WITHIN each bucket plus the bucket's offset.
    For each name in `cols` the result gains `cum_<name>` =
    sum of that column over all rows at-or-before the row in the
    (bucket, *order) total order — bit-identical to a single
    unpartitioned cumulative window. `bucket` must be weakly monotone
    ascending in the ordering, and NON-NULL for every row (the offset
    join is an inner equi-join; a NULL bucket would silently drop its
    rows — see bucketed_row_number)."""
    from pyspark.sql.window import Window

    work = df.withColumn("_csb", _require_bucket(bucket))
    coarse = work.groupBy("_csb").agg(
        *[F.sum(c).alias(f"_cs_{c}") for c in cols]
    )
    woff = (
        Window.orderBy(F.col("_csb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = coarse.select(
        "_csb",
        *[
            F.coalesce(F.sum(f"_cs_{c}").over(woff), F.lit(0)).alias(f"_co_{c}")
            for c in cols
        ],
    )
    wfine = (
        Window.partitionBy("_csb")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    res = work.join(F.broadcast(offsets), "_csb")
    for c in cols:
        res = res.withColumn(
            f"cum_{c}", F.sum(c).over(wfine) + F.col(f"_co_{c}")
        )
    return res.drop("_csb", *[f"_co_{c}" for c in cols])
