"""Multimodal (binary) column operators.

Extensions from the build plan (SURVEY.md §7 Phase 3): image/audio/video
payloads are opaque `binary` columns with typed metadata; decode /
feature-extract run as Arrow-batched Pandas UDFs via mapInPandas so the
bytes never round-trip through Python row-at-a-time.

The container has no image/audio codecs, so `decode` operates on a
codec-free container format: payloads are fabricated as binary
PGM-style images (`P5 <w> <h> 255\n<data>`) and the Arrow stage does a
REAL decode — header parse (dimensions recovered from the bytes, not
passed alongside) + zero-copy pixel statistics. The same decode is
mirrored in DuckDB SQL over the ASCII byte stream, so the mapInPandas
path is value-hash-verified end-to-end. Swap `_decode_pgm` for
PIL/ffmpeg calls on a real cluster — the plumbing is identical.

Scale notes: binary payloads dominate row width, so the operators
project the payload away as soon as features are extracted, and
mapInPandas processes whole Arrow record batches (no per-row serde).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproj_spark.sources.tables import load_table

DECODE_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, "
    "mean_byte double, max_byte int, n_frames int"
)


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus has no binary table; fabricate one deterministically
    from documents: payload = utf-8 bytes of the text (an opaque blob as
    far as the operators care), metadata derived from doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        (F.lit(32) + F.col("doc_id") % 64).cast("int").alias("width"),
        (F.lit(32) + F.col("doc_id") % 48).cast("int").alias("height"),
        F.lit("fake/blob").alias("mime"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads — byte length and
    content hash computed JVM-side (no decode, no Python)."""
    p = _payloads(spark, sf_dir)
    return p.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        "width",
        "height",
        "mime",
    )


def _pgm_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each payload in a PGM-style binary container:
    ``P5 <width> <height> 255\\n`` header followed by the raw bytes.
    Built JVM-side (binary concat of encoded header + payload) so the
    decode stage receives ONE opaque blob per row — dimensions must be
    recovered by parsing, exactly like a real image decode."""
    p = _payloads(spark, sf_dir)
    hdr = F.concat_ws(
        " ",
        F.lit("P5"),
        F.col("width").cast("string"),
        F.col("height").cast("string"),
        F.lit("255"),
    )
    return p.select(
        "doc_id",
        F.concat(F.encode(F.concat(hdr, F.lit("\n")), "UTF-8"), F.col("payload")).alias(
            "payload"
        ),
    )


def _decode_pgm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real decode of the codec-free PGM-style container: parse the
    ASCII header out of the blob (magic, width, height, maxval), then
    one zero-copy numpy pass over the pixel bytes. Deterministic and
    SQL-mirrorable, so the Arrow path is oracle-verified end-to-end.
    Real deployment: replace with PIL/ffmpeg, batch-at-a-time."""
    import numpy as np

    def parse(b: bytes):
        nl = b.index(b"\n")
        magic, w, h, _maxval = b[:nl].split(b" ")
        assert magic == b"P5", magic
        data = np.frombuffer(b, dtype=np.uint8, offset=nl + 1)
        return int(w), int(h), len(b), data

    for pdf in batches:
        parsed = pdf["payload"].map(parse)
        mean_byte = parsed.map(
            lambda t: float(t[3].sum(dtype=np.int64)) / t[3].size if t[3].size else 0.0
        )
        n_data = parsed.map(lambda t: t[3].size)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": parsed.map(lambda t: t[2]).astype("int32"),
                "width": parsed.map(lambda t: t[0]).astype("int32"),
                "height": parsed.map(lambda t: t[1]).astype("int32"),
                "mean_byte": mean_byte,
                "max_byte": parsed.map(
                    lambda t: int(t[3].max()) if t[3].size else 0
                ).astype("int32"),
                # "frame sample": every 64-pixel-byte slice is one frame
                "n_frames": n_data.map(lambda n: (n + 63) // 64).astype("int32"),
            }
        )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary image payloads
    via mapInPandas: header parse + pixel stats, batch-at-a-time. The
    DuckDB oracle recomputes the identical decode over the ASCII byte
    stream, so this is value-hash-verified, not rows-only."""
    p = _pgm_payloads(spark, sf_dir)
    return p.mapInPandas(_decode_pgm, schema=DECODE_SCHEMA)


def _pcm_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Audio-shaped decode: interpret the payload as little-endian
    int16 PCM samples (trailing odd byte dropped) and emit exact
    integer waveform statistics plus an RMS double derived from them.
    One zero-copy numpy view per blob, batch-at-a-time — the same
    Arrow shape a real audio feature extractor uses."""
    import math

    import numpy as np

    for pdf in batches:
        views = pdf["payload"].map(
            lambda b: np.frombuffer(b[: len(b) - (len(b) % 2)], dtype="<i2")
        )
        n = views.map(lambda a: a.size)
        sumsq = views.map(
            lambda a: int((a.astype(np.int64) ** 2).sum()) if a.size else 0
        )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_samples": n.astype("int64"),
                "sum_abs": views.map(
                    lambda a: int(np.abs(a.astype(np.int64)).sum()) if a.size else 0
                ).astype("int64"),
                "max_abs": views.map(
                    lambda a: int(np.abs(a.astype(np.int64)).max()) if a.size else 0
                ).astype("int64"),
                # math.sqrt is correctly-rounded IEEE (x**0.5 is pow,
                # which is not guaranteed bit-identical to sqrt)
                "rms": [
                    math.sqrt(s / c) if c else 0.0 for s, c in zip(sumsq, n)
                ],
            }
        )


def multimodal_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform statistics over binary payloads via mapInPandas: the
    payload is decoded as int16 PCM (the audio twin of the PGM image
    decode), emitting exact integer aggregates and an RMS double
    computed from them — so the Arrow stage is value-hash-verified by
    a DuckDB twin that rebuilds the samples with byte arithmetic."""
    p = _payloads(spark, sf_dir)
    return p.select("doc_id", "payload").mapInPandas(
        _pcm_stats,
        schema="doc_id long, n_samples long, sum_abs long, max_abs long, rms double",
    )


FRAME_BYTES = 64
FRAME_STRIDE = 4  # keep every 4th frame


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads, entirely JVM-side: the blob
    is sliced into FRAME_BYTES-byte frames, every FRAME_STRIDE-th frame
    kept, fingerprinted with md5 — explode + substring on the binary
    column, no Python. At 100 TB this is the shape of video
    frame-extraction: 1→N explode bounded by payload size, with the
    payload column projected away immediately after slicing.

    (Oracle note: corpus text is pure ASCII, so the DuckDB twin slices
    the VARCHAR — byte-per-char equality makes the md5s identical.)"""
    p = _payloads(spark, sf_dir)
    n_frames = F.ceil(F.length("payload") / F.lit(FRAME_BYTES)).cast("int")
    frames = p.select(
        "doc_id",
        "payload",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).filter(F.col("frame_idx") % FRAME_STRIDE == 0)
    frame = F.expr(f"substring(payload, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})")
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length(frame).alias("frame_len"),
        F.md5(frame).alias("frame_md5"),
    )


THUMB_LEN = 64  # target "thumbnail" sample count per payload


def _fake_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB resize: stride-resample the byte stream down to ≤ THUMB_LEN
    samples (stands in for a pixel-space downscale; swap for a real
    resampler on a cluster with codecs). Deterministic and cheap enough
    that the DuckDB oracle can recompute it, so the mapInPandas path
    itself is hash-verified."""
    import numpy as np

    for pdf in batches:
        views = pdf["payload"].map(lambda b: np.frombuffer(b, dtype=np.uint8))
        stride = views.map(lambda a: max(1, -(-a.size // THUMB_LEN)))
        sampled = [a[::k] for a, k in zip(views, stride)]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "stride": stride.astype("int32"),
                "thumb_len": pd.Series([s.size for s in sampled], dtype="int32"),
                "thumb_checksum": pd.Series(
                    [int(s.sum(dtype=np.int64)) for s in sampled], dtype="int64"
                ),
            }
        )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched downsample of binary payloads via mapInPandas:
    every payload reduced to ≤ THUMB_LEN stride-sampled bytes, emitting
    the stride, sample count, and checksum. Unlike multimodal_decode
    this stub's arithmetic is SQL-expressible, so the Pandas-UDF
    plumbing (Arrow batching, schema, partition preservation) is
    verified end-to-end by the oracle, not just rows-only."""
    p = _payloads(spark, sf_dir)
    return p.select("doc_id", "payload").mapInPandas(
        _fake_resize, schema="doc_id long, stride int, thumb_len int, thumb_checksum long"
    )


PHASH_BITS = 60  # gradient bits; 60 keeps 2^k inside a signed BIGINT
PHASH_SCHEMA = "doc_id long, phash long"


def phash60(b: bytes) -> int | None:
    """The 60-bit dHash of ONE PGM payload (None if fewer than
    PHASH_BITS+1 pixel bytes — no hash is defined): parse past the
    header, then 60 gradient bits (pixel[k] < pixel[k+1]) packed into
    one BIGINT — the difference-hash every image-dedup pipeline
    computes after decode. The single hashing core shared by the batch
    Arrow stage (_phash_pgm) and the streaming admission gate
    (streaming/multimodal.py::stream_phash_gate), so the two can never
    disagree on what an image hashes to. numpy over the zero-copy byte
    view."""
    import numpy as np

    nl = b.index(b"\n")
    data = np.frombuffer(b, dtype=np.uint8, offset=nl + 1)
    if data.size < PHASH_BITS + 1:
        return None
    bits = data[: PHASH_BITS] < data[1 : PHASH_BITS + 1]
    return sum(int(bit) << k for k, bit in enumerate(bits))


def _phash_pgm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow stage around phash60: (doc_id, payload) → (doc_id, phash),
    skipping payloads too short to hash."""
    for pdf in batches:
        ids: list[int] = []
        hashes: list[int] = []
        for did, b in zip(pdf["doc_id"], pdf["payload"]):
            h = phash60(b)
            if h is None:
                continue
            ids.append(int(did))
            hashes.append(h)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "phash": pd.Series(hashes, dtype="int64"),
            }
        )


def multimodal_phash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate buckets by perceptual hash: decode each
    payload (Arrow batch), compute the 60-bit dHash, and group payloads
    whose hashes collide — bucket size + representative (min doc_id).
    The image twin of exact text dedup: at 100 TB the grouping key is
    ONE BIGINT per image (the payload is projected away inside the
    Arrow stage before the exchange), and collision buckets feed a
    verify stage exactly like MinHash candidates do. Payloads shorter
    than 61 pixel bytes are skipped (no hash is defined)."""
    p = _pgm_payloads(spark, sf_dir)
    ph = p.mapInPandas(_phash_pgm, schema=PHASH_SCHEMA)
    return ph.groupBy("phash").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("rep_doc"),
    )


PHASH_BANDS = 4          # 4 bands x 15 bits
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_MAX_HAMMING = 3    # pigeonhole: <=3 flipped bits leave >=1 band intact


def phash_band_rows(df: DataFrame, keep: list[str]) -> DataFrame:
    """Explode a frame carrying a `phash` column into its 4×15-bit
    pigeonhole band rows (band, bval), keeping `keep` + phash — the
    ONE banding geometry, shared by the batch pair build
    (dedup_phash_hamming) and the streaming admission gate so a future
    band-count change can never desynchronize the two detectors (the
    shared-helper rule _blocked_pair_expand set for the text family)."""
    return df.select(
        *keep,
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("phash", i * PHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                        .alias("bval"),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select(*keep, "phash", "bv.band", "bv.bval")


def dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate PAIRS by perceptual hash: every payload is
    paired with its exact-hash bucket representative (hamming 0), and
    bucket representatives are paired with each other when their
    hashes differ in ≤ 3 of 60 bits — dHash dedup with tolerance, the
    image twin of MinHash near-dup text pairs.

    The near-dup stage is complete by construction, not
    probabilistically: the 60-bit hash splits into 4 disjoint 15-bit
    bands, and ≤ 3 flipped bits corrupt at most 3 bands — so a
    qualifying pair MUST collide on an intact band (pigeonhole).
    Candidates meet in an equi-join on (band_idx, band_value) with
    100% recall at d≤3; the exact bit_count(xor) verify runs only on
    collisions. The oracle states the DEFINITION (star pairs to the
    min-id representative + all representative pairs within d≤3); the
    banded plan provably equals it.

    Scale: exact duplicates collapse to one representative per hash
    BEFORE pair work, so a viral image repeated 10⁶ times costs 10⁶
    star rows (linear, the dedup answer itself) — never 10¹² pairs —
    and the rep-rep band join is on a bounded-width integer key, not
    all-pairs. Payloads are projected away at hash time. On this
    synthetic corpus, near-identical payloads are hash-IDENTICAL (the
    planted dups share their first 61 bytes), so the d≥1 tail is
    empty and the star pairs carry the dedup signal; the planted-
    payload unit test proves the ≤3-bit recovery path end to end."""
    p = _pgm_payloads(spark, sf_dir)
    return phash_pair_rows(p.mapInPandas(_phash_pgm, schema=PHASH_SCHEMA))


def phash_pair_rows(ph: DataFrame) -> DataFrame:
    """The dHash dedup-pair builder over any (doc_id, phash) frame:
    exact-dup star pairs to the min-id representative (hamming 0) plus
    banded rep-rep near pairs at hamming ≤ PHASH_MAX_HAMMING — the ONE
    pair stage shared by the corpus-wide detector (dedup_phash_hamming)
    and the multimodal curation funnel (pipeline_multimodal), so the
    two can never desynchronize on dedup semantics (the shared-helper
    rule phash_band_rows set for the banding geometry)."""
    # exact-duplicate collapse: one representative per distinct hash
    rep = ph.groupBy("phash").agg(F.min("doc_id").alias("doc_id"))
    star = (
        ph.join(rep.select("phash", F.col("doc_id").alias("doc_a")), "phash")
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"), F.lit(0).alias("hamming"))
    )
    bands = phash_band_rows(rep, ["doc_id"])
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("ph_a"), "band", "bval"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("ph_b"), "band", "bval"
    )
    cands = (
        a.join(b.hint("merge"), ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
    )
    dist = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    near = cands.select(
        "doc_a", "doc_b", dist.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    return star.unionAll(near)


MM_IMG_TOKENS = 32   # fixed per-image token budget (placeholder patches)
MM_CHUNK = 64        # text chunk size, in words
MM_PACK_CAP = 256    # training-row capacity, in tokens


def multimodal_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved multimodal sequence packing — the layout multimodal
    training actually consumes: each document becomes an ordered item
    stream of image placeholders (fixed MM_IMG_TOKENS budget each) and
    MM_CHUNK-word text chunks, and the streams are packed
    greedy-contiguously into MM_PACK_CAP-token training rows per
    source, preserving document order within a pack (sequence_pack's
    windowed-offset formulation, sampling.py). Image count per doc is
    metadata-derived (doc_id % 3, the _payloads convention): one image
    leads the doc; a second, when present, splits the text at its
    midpoint — deterministic interleaving, not image-always-first.
    An item belongs to the pack where it starts (the same straddle
    accounting as sequence_pack).

    Shape: the item stream is built and offset IN-ROW (struct arrays +
    an O(items²) prefix fold over ≤ a dozen items/doc); ONE hash
    exchange on source feeds the window cumsum, and the final
    groupBy(source, pack_id) reuses that partitioning (subset key) —
    single-exchange end to end, plan-pinned. Per-pack doc counts avoid
    count_distinct (which would re-partition): an item opens a doc's
    run in a pack iff it is the doc's first item or its predecessor
    landed in an earlier pack."""
    from pyspark.sql import Window

    from flinkproj_spark import functions as fx

    docs = load_table(spark, sf_dir, "documents")
    nw = F.size(fx.tokenize_ws())
    base = docs.select(
        "doc_id",
        "source",
        nw.alias("nw"),
        (F.col("doc_id") % 3).cast("int").alias("n_imgs"),
    ).withColumn("nc", F.ceil(F.col("nw") / F.lit(MM_CHUNK)).cast("int"))
    item_t = "array<struct<kind:string,tokens:bigint>>"
    chunks = F.when(
        F.col("nc") > 0,
        F.transform(
            F.sequence(F.lit(1), F.col("nc")),
            lambda i: F.struct(
                F.lit("txt").alias("kind"),
                F.least(
                    F.lit(MM_CHUNK), F.col("nw") - (i - 1) * MM_CHUNK
                ).cast("long").alias("tokens"),
            ),
        ),
    ).otherwise(F.expr(f"CAST(array() AS {item_t})"))
    img = F.array(
        F.struct(
            F.lit("img").alias("kind"),
            F.lit(MM_IMG_TOKENS).cast("long").alias("tokens"),
        )
    )
    h = F.ceil(F.col("nc") / F.lit(2)).cast("int")
    staged = base.withColumn("chunks", chunks).withColumn(
        "items",
        F.when(F.col("n_imgs") == 0, F.col("chunks"))
        .when(F.col("n_imgs") == 1, F.concat(img, F.col("chunks")))
        .otherwise(
            F.concat(
                img,
                F.slice("chunks", 1, h),
                img,
                F.slice("chunks", h + 1, F.greatest(F.col("nc") - h, F.lit(0))),
            )
        ),
    )
    doc_tokens = F.aggregate(
        "items", F.lit(0).cast("long"), lambda acc, x: acc + x["tokens"]
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = staged.select(
        "doc_id",
        "source",
        "items",
        (F.sum(doc_tokens).over(w) - doc_tokens).alias("doc_start"),
    )
    expl = offs.select(
        "doc_id",
        "source",
        "doc_start",
        "items",
        F.posexplode("items").alias("pos", "item"),
    ).withColumn(
        "offset",
        F.col("doc_start")
        + F.aggregate(
            F.slice("items", 1, F.col("pos")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x["tokens"],
        ),
    ).withColumn(
        "pack_id", F.expr(f"offset div {MM_PACK_CAP}")
    ).withColumn(
        # CASE WHEN (not Or-short-circuit) so items[pos-1] is only ever
        # evaluated with pos >= 1 — an Or's right side may still be
        # evaluated under ANSI mode, where items[-1] throws
        "opens_doc_run",
        F.when(F.col("pos") == 0, F.lit(True)).otherwise(
            F.expr(f"(offset - items[pos - 1].tokens) div {MM_PACK_CAP}")
            < F.col("pack_id")
        ),
    )
    return expl.groupBy("source", "pack_id").agg(
        F.sum(F.col("opens_doc_run").cast("long")).alias("n_docs"),
        F.sum((F.col("item.kind") == "img").cast("long")).alias("n_images"),
        F.sum((F.col("item.kind") == "txt").cast("long")).alias("n_chunks"),
        F.sum("item.tokens").alias("n_tokens"),
    )


QUERIES = {
    "multimodal_meta": multimodal_meta,
    "multimodal_decode": multimodal_decode,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_resize": multimodal_resize,
    "multimodal_pcm_stats": multimodal_pcm_stats,
    "multimodal_phash_buckets": multimodal_phash_buckets,
    "dedup_phash_hamming": dedup_phash_hamming,
    "multimodal_pack": multimodal_pack,
}

ORACLE = {
    # md5 over the utf-8 payload == md5 over the source text.
    "multimodal_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               md5(text) AS content_md5,
               CAST(32 + doc_id % 64 AS INTEGER) AS width,
               CAST(32 + doc_id % 48 AS INTEGER) AS height,
               'fake/blob' AS mime
        FROM documents
    """,
    # The decode twin: rebuild the PGM header the payload fabricator
    # writes, then mirror the pixel statistics over the ASCII byte
    # stream (ord(char) == byte). mean_byte is an UNROUNDED double —
    # an exact-int sum divided by an exact-int count is correctly
    # rounded IEEE in both engines, so the hash matches bit-for-bit.
    "multimodal_decode": """
        WITH s AS (
          SELECT doc_id,
                 strlen('P5 ' || CAST(32 + doc_id % 64 AS INTEGER)
                        || ' ' || CAST(32 + doc_id % 48 AS INTEGER)
                        || ' 255') + 1 AS hdr_len,
                 CAST(32 + doc_id % 64 AS INTEGER) AS width,
                 CAST(32 + doc_id % 48 AS INTEGER) AS height,
                 strlen(text) AS nd,
                 list_transform(range(1, strlen(text) + 1),
                                i -> ord(substr(text, CAST(i AS BIGINT), 1))) AS bs
          FROM documents)
        SELECT doc_id,
               CAST(hdr_len + nd AS INTEGER) AS n_bytes,
               width, height,
               CASE WHEN nd = 0 THEN 0.0
                    ELSE CAST(list_sum(bs) AS DOUBLE) / nd END AS mean_byte,
               CAST(CASE WHEN nd = 0 THEN 0 ELSE list_max(bs) END AS INTEGER) AS max_byte,
               CAST((nd + 63) // 64 AS INTEGER) AS n_frames
        FROM s
    """,
    # ASCII corpus: ord(char) == byte, octet_length == length.
    "multimodal_resize": f"""
        WITH b AS (
          SELECT doc_id,
                 strlen(text) AS n,
                 GREATEST(1, CAST(CEIL(strlen(text) / {THUMB_LEN}.0) AS BIGINT)) AS k,
                 text
          FROM documents)
        SELECT doc_id,
               CAST(k AS INTEGER) AS stride,
               CAST(CEIL(n / CAST(k AS DOUBLE)) AS INTEGER) AS thumb_len,
               CAST(COALESCE(list_sum(list_transform(
                     range(0, CAST(CEIL(n / CAST(k AS DOUBLE)) AS BIGINT)),
                     i -> ord(substr(text, CAST(1 + i * k AS BIGINT), 1)))), 0)
                 AS BIGINT) AS thumb_checksum
        FROM b
    """,
    # ASCII corpus → byte == ord(char); little-endian int16 sample i is
    # ord(2i+1) + 256*ord(2i+2), sign-corrected above 32767 (never
    # fires on ASCII but the arithmetic is the real decoder's).
    "multimodal_pcm_stats": """
        WITH b AS (
          SELECT doc_id, text,
                 strlen(text) - (strlen(text) % 2) AS n2
          FROM documents),
        s AS (
          SELECT doc_id,
                 list_transform(range(0, n2 // 2),
                   i -> CASE WHEN ord(substr(text, CAST(2*i+1 AS BIGINT), 1))
                               + 256 * ord(substr(text, CAST(2*i+2 AS BIGINT), 1)) >= 32768
                             THEN ord(substr(text, CAST(2*i+1 AS BIGINT), 1))
                               + 256 * ord(substr(text, CAST(2*i+2 AS BIGINT), 1)) - 65536
                             ELSE ord(substr(text, CAST(2*i+1 AS BIGINT), 1))
                               + 256 * ord(substr(text, CAST(2*i+2 AS BIGINT), 1)) END) AS v
          FROM b)
        SELECT doc_id,
               CAST(len(v) AS BIGINT) AS n_samples,
               CAST(COALESCE(list_sum(list_transform(v, x -> abs(x))), 0) AS BIGINT) AS sum_abs,
               CAST(COALESCE(list_max(list_transform(v, x -> abs(x))), 0) AS BIGINT) AS max_abs,
               CASE WHEN len(v) = 0 THEN 0.0
                    ELSE sqrt(CAST(list_sum(list_transform(v, x -> CAST(x AS BIGINT) * x)) AS DOUBLE)
                              / len(v)) END AS rms
        FROM s
    """,
    "multimodal_frame_sample": f"""
        WITH f AS (
          SELECT doc_id, text,
                 unnest(range(0, CAST(CEIL(length(text) / {FRAME_BYTES}.0) AS BIGINT))) AS frame_idx
          FROM documents)
        SELECT doc_id,
               CAST(frame_idx AS INTEGER) AS frame_idx,
               CAST(length(substring(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES})) AS INTEGER) AS frame_len,
               md5(substring(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES})) AS frame_md5
        FROM f WHERE frame_idx % {FRAME_STRIDE} = 0
    """,
}

_PHASH_SQL = (
    "CAST(list_sum(list_transform(range(0, " + str(PHASH_BITS) + "), k -> "
    "CASE WHEN ord(text[k + 1]) < ord(text[k + 2]) "
    "THEN CAST(pow(2.0, k) AS BIGINT) ELSE 0 END)) AS BIGINT)"
)

ORACLE["multimodal_phash_buckets"] = f"""
    WITH ph AS (
      SELECT doc_id, {_PHASH_SQL} AS phash
      FROM documents
      WHERE strlen(text) >= {PHASH_BITS + 1})
    SELECT phash, COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc
    FROM ph GROUP BY 1
"""

# Brute-force DEFINITION of the banded plan's output: all representative
# pairs within Hamming distance PHASH_MAX_HAMMING (3). The 4x15-bit
# banding is provably complete at d <= BANDS-1 = 3 (pigeonhole: 3
# flipped bits corrupt at most 3 of 4 bands), so implementation ==
# definition.
ORACLE["dedup_phash_hamming"] = f"""
    WITH ph AS (
      SELECT doc_id, {_PHASH_SQL} AS phash
      FROM documents
      WHERE strlen(text) >= {PHASH_BITS + 1}),
    rep AS (
      SELECT phash, MIN(doc_id) AS doc_id FROM ph GROUP BY 1)
    SELECT r.doc_id AS doc_a, p.doc_id AS doc_b, 0 AS hamming
    FROM ph p JOIN rep r ON p.phash = r.phash
    WHERE p.doc_id <> r.doc_id
    UNION ALL
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM rep a JOIN rep b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""

ORACLE["multimodal_pack"] = f"""
    WITH base AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), w -> w != '')) AS nw,
             CAST(doc_id % 3 AS INT) AS n_imgs
      FROM documents),
    sized AS (
      SELECT *, CAST(CEIL(nw / {MM_CHUNK}.0) AS INT) AS nc,
             CAST(CEIL(CAST(CEIL(nw / {MM_CHUNK}.0) AS INT) / 2.0) AS INT) AS h
      FROM base),
    built AS (
      SELECT doc_id, source,
             CASE WHEN nc > 0
                  THEN list_transform(range(1, nc + 1),
                       i -> struct_pack(kind := 'txt',
                            tokens := CAST(LEAST({MM_CHUNK}, nw - (i - 1) * {MM_CHUNK}) AS BIGINT)))
                  ELSE [] END AS chunks
             , n_imgs, nc, h
      FROM sized),
    itemed AS (
      SELECT doc_id, source,
             CASE
               WHEN n_imgs = 0 THEN chunks
               WHEN n_imgs = 1 THEN list_concat(
                 [struct_pack(kind := 'img', tokens := CAST({MM_IMG_TOKENS} AS BIGINT))], chunks)
               ELSE list_concat(list_concat(list_concat(
                 [struct_pack(kind := 'img', tokens := CAST({MM_IMG_TOKENS} AS BIGINT))],
                 chunks[1:h]),
                 [struct_pack(kind := 'img', tokens := CAST({MM_IMG_TOKENS} AS BIGINT))]),
                 chunks[h+1:])
             END AS items
      FROM built),
    offs AS (
      SELECT doc_id, source, items,
             CAST(COALESCE(SUM(COALESCE(list_sum(list_transform(items, x -> x.tokens)), 0))
                    OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
                  - COALESCE(list_sum(list_transform(items, x -> x.tokens)), 0)
                  AS BIGINT) AS doc_start
      FROM itemed),
    expl AS (
      SELECT doc_id, source, items, doc_start,
             unnest(range(1, len(items) + 1)) AS pos1,
             unnest(items) AS item
      FROM offs),
    placed AS (
      SELECT doc_id, source, items, pos1, item,
             doc_start + CAST(COALESCE(list_sum(
               list_transform(items[1:pos1 - 1], x -> x.tokens)), 0) AS BIGINT)
               AS "offset"
      FROM expl),
    packed AS (
      SELECT source, item, pos1, items,
             "offset" // {MM_PACK_CAP} AS pack_id,
             CASE WHEN pos1 = 1
                       OR ("offset" - items[pos1 - 1].tokens) // {MM_PACK_CAP}
                          < "offset" // {MM_PACK_CAP}
                  THEN 1 ELSE 0 END AS opens_doc_run
      FROM placed)
    SELECT source, pack_id,
           CAST(SUM(opens_doc_run) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN item.kind = 'img' THEN 1 ELSE 0 END) AS BIGINT) AS n_images,
           CAST(SUM(CASE WHEN item.kind = 'txt' THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks,
           CAST(SUM(item.tokens) AS BIGINT) AS n_tokens
    FROM packed GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Voice-activity segmentation (round 9): energy VAD + run-length
# ---------------------------------------------------------------------------

#: VAD parameters: frame width in samples and the per-sample mean-abs
#: energy threshold (frame is voiced when sum_abs > FRAME * THRESH).
#: Probed live: 259/500 docs at the test SF have MIXED voiced/unvoiced
#: frames at this threshold, so the run-length stage is exercised raw.
VAD_FRAME = 8
VAD_THRESH = 20000


def _vad_segments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Energy VAD over int16 PCM: frame the samples, threshold the
    per-frame absolute energy, and collapse voiced runs to segments —
    the classic pre-ASR trim. Vectorized numpy per blob (the padded
    np.diff trick finds run starts/ends with no Python loop over
    frames)."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            v = np.frombuffer(b[: len(b) - (len(b) % 2)], dtype="<i2").astype(
                np.int64
            )
            nf = v.size // VAD_FRAME
            if nf:
                fr = np.abs(v[: nf * VAD_FRAME]).reshape(nf, VAD_FRAME).sum(axis=1)
                vo = (fr > VAD_FRAME * VAD_THRESH).astype(np.int8)
            else:
                vo = np.zeros(0, dtype=np.int8)
            pad = np.concatenate([[0], vo, [0]])
            d = np.diff(pad)
            seg_lens = np.flatnonzero(d == -1) - np.flatnonzero(d == 1)
            out.append(
                (
                    doc_id,
                    int(nf),
                    int(vo.sum()),
                    int(seg_lens.size),
                    int(seg_lens.max()) if seg_lens.size else 0,
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "n_frames",
                "n_voiced",
                "n_segments",
                "longest_segment",
            ],
        )


def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over binary payloads: int16 PCM
    decode, VAD_FRAME-sample frames, absolute-energy threshold, then
    run-length collapse of voiced frames into segments per blob —
    frame count, voiced count, segment count, longest segment. The
    trim/segment step a speech pipeline runs before feature
    extraction, with the decode in the sanctioned Arrow stage
    (mapInPandas, batch-vectorized numpy — never per-row Python) and
    the arithmetic value-hash-verified by a DuckDB twin that rebuilds
    the samples with byte arithmetic (the multimodal family contract;
    see multimodal_pcm_stats).

    Not in the reference (SURVEY.md 2.9); multimodal extension.

    Shape: one scan, one Arrow stage, per-doc output — embarrassingly
    parallel, nothing shuffles."""
    p = _payloads(spark, sf_dir)
    return p.select("doc_id", "payload").mapInPandas(
        _vad_segments,
        schema=(
            "doc_id long, n_frames long, n_voiced long,"
            " n_segments long, longest_segment long"
        ),
    )


QUERIES["multimodal_vad_segments"] = multimodal_vad_segments
ORACLE["multimodal_vad_segments"] = f"""
    WITH b AS (
      SELECT doc_id, text, strlen(text) - (strlen(text) % 2) AS n2
      FROM documents),
    s AS (
      SELECT doc_id,
             list_transform(range(0, n2 // 2), i ->
               CASE WHEN ord(substr(text, CAST(2*i+1 AS BIGINT), 1))
                         + 256 * ord(substr(text, CAST(2*i+2 AS BIGINT), 1))
                         >= 32768
                    THEN ord(substr(text, CAST(2*i+1 AS BIGINT), 1))
                         + 256 * ord(substr(text, CAST(2*i+2 AS BIGINT), 1))
                         - 65536
                    ELSE ord(substr(text, CAST(2*i+1 AS BIGINT), 1))
                         + 256 * ord(substr(text, CAST(2*i+2 AS BIGINT), 1))
               END) AS v
      FROM b),
    f AS (
      SELECT doc_id, len(v) // {VAD_FRAME} AS nf,
             list_transform(range(0, len(v) // {VAD_FRAME}), k ->
               CASE WHEN list_sum(list_transform(
                      list_slice(v, {VAD_FRAME}*k + 1, {VAD_FRAME}*k + {VAD_FRAME}),
                      x -> abs(x))) > {VAD_FRAME * VAD_THRESH}
                    THEN 1 ELSE 0 END) AS vo
      FROM s),
    seg AS (
      SELECT doc_id, nf, vo,
             list_filter(range(0, nf),
               i -> vo[i + 1] = 1 AND (i = 0 OR vo[i] = 0)) AS starts,
             list_filter(range(0, nf),
               i -> vo[i + 1] = 1 AND (i = nf - 1 OR vo[i + 2] = 0)) AS ends
      FROM f)
    SELECT doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(COALESCE(list_sum(vo), 0) AS BIGINT) AS n_voiced,
           CAST(len(starts) AS BIGINT) AS n_segments,
           CAST(COALESCE(list_max(list_transform(range(0, len(starts)),
                k -> ends[k + 1] - starts[k + 1] + 1)), 0) AS BIGINT)
             AS longest_segment
    FROM seg
"""


#: pipeline_multimodal admission gate: minimum decoded frame count and
#: minimum mean pixel byte. Probed live before wiring (house rule):
#: at sf0.01 the corpus is 500 docs → 493 hashable → 486 with ≥2
#: frames → 373 above the mean-byte floor; every stage drops rows at
#: every test SF, and the thresholds sit mid-distribution (corpus mean
#: ≈ 94.5, range ≈ 92–99) so the gate is a real classifier, not a
#: tautology.
MM_GATE_FRAMES = 2
MM_GATE_MEAN = 94.0


def pipeline_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image-curation funnel — the multimodal twin of
    pipeline_curate: DECODE (the audited Arrow stage extracts pixel
    stats) → GATE (≥ MM_GATE_FRAMES frames and mean byte ≥
    MM_GATE_MEAN — the too-short / too-dark screen a real image
    pipeline runs on decoded features, never raw bytes) → EXACT DEDUP
    (keep the min-id representative per dHash) → NEAR-DUP REMOVAL
    (drop the younger member of every rep-rep pair within Hamming ≤ 3,
    via the shared phash_pair_rows builder). Returns the surviving
    (doc_id, width, height, n_frames, phash).

    Not in the reference (SURVEY.md §2.9); composes the audited
    multimodal stages exactly as data_card_report composes its audit
    subplans — the funnel cannot disagree with the per-stage keys.

    Shape: two Arrow mapInPandas passes over the payloads (stats +
    hash; payload bytes projected away inside each stage — a
    production fuse would combine them into one pass, this funnel
    deliberately reuses the two individually-audited stages), then
    everything downstream operates on narrow stats rows: one hash
    exchange for the dedup groupBy, the banded rep-rep join on a
    bounded integer key, and a doc_id anti join. The gated frame is
    PERSISTED (MEMORY_AND_DISK — narrow stats rows, never payloads):
    the pair builder and the anti join consume it through four
    subtrees, and a persist is the only contractual way to run each
    payload decode ONCE (ReusedExchange is best-effort; the plan pin
    in test_plans counts the Arrow stages). The cache is caller-owned:
    the surviving corpus is returned lazily over it. The near-dup drop
    set is corpus-proportional → NOT broadcast (pipeline_curate's
    rule)."""
    from pyspark.storagelevel import StorageLevel

    p = _pgm_payloads(spark, sf_dir)
    feats = p.mapInPandas(_decode_pgm, schema=DECODE_SCHEMA)
    ph = p.mapInPandas(_phash_pgm, schema=PHASH_SCHEMA)
    gated = (
        feats.filter(
            (F.col("n_frames") >= MM_GATE_FRAMES)
            & (F.col("mean_byte") >= MM_GATE_MEAN)
        )
        .join(ph, "doc_id")  # inner join also enforces "hashable"
        .withColumn("_mm_funnel", F.lit(1))  # operator-unique cache marker
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = phash_pair_rows(gated.select("doc_id", "phash"))
    dropped = pairs.select("doc_b").distinct()
    return (
        gated.join(dropped, gated.doc_id == dropped.doc_b, "left_anti")
        .select("doc_id", "width", "height", "n_frames", "phash")
    )


QUERIES["pipeline_multimodal"] = pipeline_multimodal
ORACLE["pipeline_multimodal"] = f"""
    WITH s AS (
      SELECT doc_id,
             CAST(32 + doc_id % 64 AS INTEGER) AS width,
             CAST(32 + doc_id % 48 AS INTEGER) AS height,
             strlen(text) AS nd,
             CAST((strlen(text) + 63) // 64 AS INTEGER) AS n_frames,
             CASE WHEN strlen(text) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(range(1, strlen(text) + 1),
                         i -> ord(substr(text, CAST(i AS BIGINT), 1)))) AS DOUBLE)
                       / strlen(text) END AS mean_byte,
             text
      FROM documents),
    gated AS (
      SELECT doc_id, width, height, n_frames, {_PHASH_SQL} AS phash
      FROM s
      WHERE n_frames >= {MM_GATE_FRAMES} AND mean_byte >= {MM_GATE_MEAN}
        AND nd >= {PHASH_BITS + 1}),
    rep AS (SELECT phash, MIN(doc_id) AS doc_id FROM gated GROUP BY 1),
    near_b AS (
      SELECT b.doc_id AS doc_b
      FROM rep a JOIN rep b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}),
    star_b AS (
      SELECT g.doc_id AS doc_b
      FROM gated g JOIN rep r ON g.phash = r.phash
      WHERE g.doc_id <> r.doc_id)
    SELECT doc_id, width, height, n_frames, phash
    FROM gated
    WHERE doc_id NOT IN (SELECT doc_b FROM near_b
                         UNION ALL SELECT doc_b FROM star_b)
"""
