"""Property tests for the public function library: each Column-algebra
primitive is compared against an independent pure-Python reference on a
seeded random corpus (adversarial whitespace, punctuation, digits,
empty strings). One DataFrame per test — hundreds of cases per Spark
job, not one job per case."""

from __future__ import annotations

import math
import random
import re

from pyspark.sql import functions as F

from flinkproj_spark import functions as fx

_ALPHABET = ["the", "a", "Spark", "x1", "99", "!", "...", "é", "word", "q-q"]


def _random_texts(n: int = 300, seed: int = 7) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        k = rng.randint(0, 12)
        # random runs of spaces stress empty-token filtering
        text = "".join(
            rng.choice(_ALPHABET) + " " * rng.randint(1, 3) for _ in range(k)
        ).rstrip()
        out.append((i, text))
    out += [(n, ""), (n + 1, "   "), (n + 2, "one"), (n + 3, "a  b")]
    return out


def _py_words(s: str) -> list[str]:
    return [w for w in s.split(" ") if w != ""]


def test_tokenize_ws_matches_python_reference(spark):
    rows = _random_texts()
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.w for r in df.select("id", fx.tokenize_ws().alias("w")).collect()}
    for i, s in rows:
        assert got[i] == _py_words(s), f"id={i} text={s!r}"


def test_token_count_matches_python_regex(spark):
    rows = _random_texts(seed=11)
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.n for r in df.select("id", fx.token_count().alias("n")).collect()}
    for i, s in rows:
        assert got[i] == len(re.findall(fx.TOKEN_RE, s)), f"id={i} text={s!r}"


def test_shingles_match_python_reference(spark):
    rows = _random_texts(seed=13)
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r.sh
        for r in df.select(
            "id", fx.shingles(fx.tokenize_ws()).alias("sh")
        ).collect()
    }
    for i, s in rows:
        words = _py_words(s)
        ref, seen = [], set()
        for j in range(max(len(words) - 2, 0)):
            g = " ".join(words[j : j + 3])
            if g not in seen:
                seen.add(g)
                ref.append(g)
        assert got[i] == ref, f"id={i} words={words}"


def test_quantize_and_dot_are_integer_exact(spark):
    rng = random.Random(17)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(16)], [rng.uniform(-2, 2) for _ in range(16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    qa, qb = fx.quantize_embedding(F.col("a")), fx.quantize_embedding(F.col("b"))
    got = {
        r.id: (r.qa, r.d)
        for r in df.select(
            "id", qa.alias("qa"), fx.dot(qa, qb).alias("d")
        ).collect()
    }
    for i, a, b in rows:
        ref_a = [math.floor(x * 1000.0 + 0.5) for x in a]
        ref_b = [math.floor(x * 1000.0 + 0.5) for x in b]
        assert got[i][0] == ref_a, f"id={i}"
        assert got[i][1] == sum(x * y for x, y in zip(ref_a, ref_b)), f"id={i}"


def test_normalize_text_reference(spark):
    rows = [(0, "  A  b\tC  "), (1, "x"), (2, ""), (3, "Mixed   CASE here")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.n for r in df.select("id", fx.normalize_text().alias("n")).collect()}
    for i, s in rows:
        assert got[i] == re.sub(r"\s+", " ", s.lower()).strip(), f"id={i}"


def test_hash_keep_fraction_and_determinism(spark):
    df = spark.range(20000).select(fx.hash_keep(F.col("id")).alias("h"))
    kept = df.filter(F.col("h") < "28").count()
    # '28' hex = 40/256 ≈ 15.6%; md5 uniformity keeps this tight
    assert abs(kept / 20000 - 40 / 256) < 0.02
    again = spark.range(20000).select(fx.hash_keep(F.col("id")).alias("h")).filter(
        F.col("h") < "28"
    ).count()
    assert kept == again


def test_paragraph_spans_match_python_reference(spark):
    """paragraph_dedup's in-row span construction vs a pure-Python
    reference, stressing the 16-word boundary (n = 1, 15, 16, 17, 31,
    32, 33, ...): span index, md5 fingerprint, and span length must all
    agree for every doc."""
    import hashlib

    from flinkproj_spark.operators.curation import SPAN_WORDS

    rng = random.Random(13)
    rows = []
    sizes = [1, 2, 15, 16, 17, 31, 32, 33, 48, 49, 5, 100]
    for i, n in enumerate(sizes):
        words = [rng.choice(_ALPHABET[:5]) for _ in range(n)]
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    words_col = fx.tokenize_ws()
    staged = df.select(
        "doc_id", words_col.alias("ws"), F.monotonically_increasing_id().alias("_nc")
    )
    ws = F.col("ws")
    n = F.size(ws)
    n_spans = F.floor((n + F.lit(SPAN_WORDS - 1)) / F.lit(SPAN_WORDS)).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            i.alias("span_idx"),
            F.md5(F.array_join(F.slice(ws, i * SPAN_WORDS + 1, SPAN_WORDS), " ")).alias("h"),
            F.least(n - i * SPAN_WORDS, F.lit(SPAN_WORDS)).alias("span_len"),
        ),
    )
    got = {}
    out = staged.select("doc_id", F.explode(spans_arr).alias("sp")).select(
        "doc_id", "sp.span_idx", "sp.h", "sp.span_len"
    )
    for r in out.collect():
        got.setdefault(r.doc_id, []).append((r.span_idx, r.h, r.span_len))

    for i, text in rows:
        pywords = [w for w in text.split(" ") if w]
        expect = []
        for si in range(0, (len(pywords) + SPAN_WORDS - 1) // SPAN_WORDS):
            chunk = pywords[si * SPAN_WORDS : si * SPAN_WORDS + SPAN_WORDS]
            expect.append(
                (si, hashlib.md5(" ".join(chunk).encode()).hexdigest(), len(chunk))
            )
        assert sorted(got[i]) == expect, f"doc {i} ({len(pywords)} words)"


def test_morton2_matches_python_reference(spark):
    """morton2's bit interleave must equal an independent Python
    reference for random coordinate pairs, including values exceeding
    the masked bit width (high bits must be ignored, not leak)."""
    import random

    import pyspark.sql.functions as F

    from flinkproj_spark import functions as fx

    rng = random.Random(42)
    rows = [
        (rng.randrange(0, 1 << 20), rng.randrange(0, 1 << 20))
        for _ in range(200)
    ]

    def ref(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", fx.morton2(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r.z == ref(r.x, r.y), (r.x, r.y)


def test_bucketed_row_number_equals_global_rank(spark):
    """Property pin for the two-pass bucketed rank (round 8): across
    seeded random frames with heavy ties, negative values, descending
    order, outer partitions, and several bucket widths — including
    width 1 (every value its own bucket) and a width larger than the
    value range (everything in ONE bucket, degenerating to the plain
    window) — the helper's output must equal the single-window
    row_number computed in pure Python. Correctness may never depend
    on the bucket choice; only the physical plan does."""
    import random

    rng = random.Random(13)
    rows = [
        (
            rng.choice(["p0", "p1", "p2"]),
            rng.randint(-40, 40),
            i,
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "part string, val long, k long")

    for width, descending, use_part in [
        (1, False, False),
        (7, False, False),
        (7, True, False),
        (1000, False, False),  # one bucket: degenerates to the window
        (7, False, True),
        (16, True, True),
    ]:
        bucket = F.expr(
            f"CASE WHEN val >= 0 THEN val div {width}"
            f" ELSE -((-val) div {width}) - 1 END"  # monotone for negatives
        )
        got = {
            (r.part, r.k): r.rk
            for r in fx.bucketed_row_number(
                df,
                bucket,
                [
                    F.col("val").desc() if descending else F.col("val").asc(),
                    F.col("k").asc(),
                ],
                "rk",
                descending=descending,
                partition=["part"] if use_part else (),
            ).collect()
        }
        expect = {}
        groups = {}
        for part, val, k in rows:
            groups.setdefault(part if use_part else "", []).append((val, k, part))
        for g, items in groups.items():
            items.sort(key=lambda t: (-t[0] if descending else t[0], t[1]))
            for i, (val, k, part) in enumerate(items, start=1):
                expect[(part, k)] = i
        assert got == expect, (width, descending, use_part)


def test_bucketed_cumsum_equals_global_window(spark):
    """Same property for the two-pass cumulative sum: equal to the
    unpartitioned running total for any bucket width, including
    negative order keys and multiple summed columns."""
    import random

    rng = random.Random(17)
    rows = [
        (rng.randint(-30, 30), rng.randint(-5, 9), rng.randint(0, 4))
        for _ in range(300)
    ]
    # unique order keys (cumsum over a total order)
    rows = [(i, a, b) for i, (_, a, b) in enumerate(rows)]
    rows = [(k - 150, a, b) for k, a, b in rows]  # negative keys too
    df = spark.createDataFrame(rows, "ok long, a long, b long")

    for width in (1, 11, 10_000):
        bucket = F.expr(
            f"CASE WHEN ok >= 0 THEN ok div {width}"
            f" ELSE -((-ok) div {width}) - 1 END"
        )
        got = {
            r.ok: (r.cum_a, r.cum_b)
            for r in fx.bucketed_cumsum(
                df, bucket, [F.col("ok").asc()], ["a", "b"]
            ).collect()
        }
        ca = cb = 0
        expect = {}
        for ok, a, b in sorted(rows):
            ca += a
            cb += b
            expect[ok] = (ca, cb)
        assert got == expect, width


def test_bucketed_helpers_reject_null_bucket(spark):
    """Contract guard (round-9 advice): a NULL bucket would silently
    drop its rows through the inner offset join — both helpers must
    raise in-row instead."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "ok long, v long"
    )
    nullable_bucket = F.col("v")  # NULL for ok=2
    with pytest.raises(SparkRuntimeException, match="NULL"):
        fx.bucketed_row_number(
            df, nullable_bucket, [F.col("ok").asc()], "rk"
        ).collect()
    with pytest.raises(SparkRuntimeException, match="NULL"):
        fx.bucketed_cumsum(
            df, nullable_bucket, [F.col("ok").asc()], ["ok"]
        ).collect()
