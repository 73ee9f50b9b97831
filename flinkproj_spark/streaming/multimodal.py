"""Streaming twin of the multimodal decode path: the continuous-ingest
form a production corpus builder runs — binary payloads arrive on a
stream, the SAME Arrow-batched mapInPandas decode used by the batch
operator (operators/multimodal.py::_decode_pgm) extracts features
batch-at-a-time, and only the narrow stats rows reach the sink (the
payload bytes never travel past the decode stage).

The decode is stateless, so mapInPandas composes with readStream
directly — no watermark, no state store; exactly-once comes from the
file sink's transaction log + checkpoint, as with every stateless map
stage. Convergence to the batch operator is pinned by
tests/test_streaming_ext.py."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flinkproj_spark.operators.multimodal import DECODE_SCHEMA, _decode_pgm


def stream_multimodal_decode(payloads: DataFrame) -> DataFrame:
    """Decode a stream of PGM-container binary payloads into feature
    rows. Input stream needs (doc_id, payload binary); output schema is
    the batch operator's DECODE_SCHEMA, so downstream consumers are
    interchangeable between the batch sweep and the ingest stream."""
    return payloads.select("doc_id", "payload").mapInPandas(
        _decode_pgm, schema=DECODE_SCHEMA
    )


def _phash_with_ts(batches):
    """Arrow stage for the ingest stream: (doc_id, ts, payload) →
    (doc_id, ts, phash), the same phash60 core as the batch stage but
    preserving the event-time column the watermark rides on. Payload
    bytes are projected away here — before any exchange."""
    import pandas as pd

    from flinkproj_spark.operators.multimodal import phash60

    for pdf in batches:
        hashes = pdf["payload"].map(phash60)
        keep = hashes.notna()
        out = pdf.loc[keep, ["doc_id", "ts"]].copy()
        out["phash"] = hashes[keep].astype("int64")
        yield out


def stream_phash_gate(new_payloads: DataFrame, base_payloads: DataFrame) -> DataFrame:
    """Streaming image-admission gate — the multimodal twin of
    stream_snapshot_dedup's stream-static shape: continuous image
    ingest is admitted only if the payload's 60-bit dHash is NOT
    within PHASH_MAX_HAMMING bits of any image already in the corpus
    (the batch verdicts of operators/multimodal.py::
    dedup_phash_hamming), after within-stream exact copies collapse
    via dropDuplicatesWithinWatermark.

    Recall is complete by construction, not probabilistic: the base
    side reuses multimodal_phash_buckets' exact-dup collapse (one row
    per DISTINCT hash) exploded through the SAME phash_band_rows
    4×15-bit pigeonhole banding as the batch pair build — ≤ 3 flipped
    bits corrupt at most 3 bands, so a qualifying near-dup MUST
    collide on an intact band; bit_count(xor) then verifies exactly.
    An admission decision is a NEGATION ("no base image within 3
    bits"), so it finalizes on watermark expiry: the per-doc verdict
    is a watermarked groupBy over the doc's ≤ PHASH_BANDS candidate
    rows — append-mode emits each admitted doc exactly once.

    Scale shape: the static side is corpus-proportional → NOT
    broadcast-hinted, re-resolved per micro-batch (a compaction /
    ingest job refreshes it, same rule as stream_snapshot_dedup); the
    stream side's decode+hash is one Arrow mapInPandas stage; state is
    one (doc_id, bool) per in-flight doc per INGEST_HORIZON plus the dedup
    hash set. Input stream needs (doc_id, ts, payload binary); base
    needs (doc_id, payload binary)."""
    from flinkproj_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        PHASH_SCHEMA,
        _phash_pgm,
        phash_band_rows,
    )
    from flinkproj_spark.streaming.curate import INGEST_HORIZON

    base_bands = phash_band_rows(
        base_payloads.select("doc_id", "payload")
        .mapInPandas(_phash_pgm, schema=PHASH_SCHEMA)
        .select("phash")
        .distinct(),
        [],
    ).select("band", "bval", F.col("phash").alias("ph_b"))

    incoming = (
        new_payloads.select("doc_id", "ts", "payload")
        .mapInPandas(_phash_with_ts, schema="doc_id long, ts timestamp, phash long")
        .withWatermark("ts", INGEST_HORIZON)
        .dropDuplicatesWithinWatermark(["phash"])
    )
    cand = phash_band_rows(incoming, ["doc_id", "ts"]).join(
        base_bands, ["band", "bval"], "left"
    )
    hit = F.bit_count(F.col("phash").bitwiseXOR(F.col("ph_b"))) <= PHASH_MAX_HAMMING
    verdict = (
        cand.withColumn("hit", F.coalesce(hit, F.lit(False)))
        .groupBy("doc_id", "ts", "phash")
        .agg(F.max("hit").alias("_dup"))
    )
    return verdict.filter(~F.col("_dup")).select("doc_id", "ts", "phash")
