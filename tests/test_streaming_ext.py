"""Streaming extensions: stream-stream interval join, streaming dedup,
sliding-window counts — state bounded by watermarks, results converge
to the equivalent batch computation."""

from __future__ import annotations

from datetime import datetime, timedelta

from flinkproj_spark.streaming.joins import (
    stream_dedup,
    stream_sliding_counts,
    stream_stream_join,
)

T0 = datetime(2018, 1, 1, 10, 0, 0)


def _sec(s):
    return T0 + timedelta(seconds=s)


def _feed(spark, src, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)


def _run(df, out, ckpt, mode="append"):
    q = (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


class TestStreamStreamJoin:
    def test_attributes_clicks_within_delay(self, spark, tmp_path):
        imp_src, clk_src, out, ckpt = (
            str(tmp_path / d) for d in ("imp", "clk", "out", "ckpt")
        )
        _feed(spark, imp_src, [(1, _sec(0)), (2, _sec(0))], "ad_id long, imp_ts timestamp")
        # ad 1 clicked in-window; ad 2 clicked 20 min later (outside 10m);
        # ad 3 clicked but never impressed
        _feed(
            spark,
            clk_src,
            [(1, _sec(120)), (2, _sec(1200)), (3, _sec(60))],
            "ad_id long, click_ts timestamp",
        )
        imp = spark.readStream.schema("ad_id long, imp_ts timestamp").parquet(imp_src)
        clk = spark.readStream.schema("ad_id long, click_ts timestamp").parquet(clk_src)
        _run(stream_stream_join(imp, clk), out, ckpt)

        got = {(r.ad_id, r.imp_ts, r.click_ts) for r in spark.read.parquet(out).collect()}
        assert got == {(1, _sec(0), _sec(120))}


class TestStreamDedup:
    def test_drops_redeliveries_across_batches(self, spark, tmp_path):
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        schema = "event_id long, ts timestamp"
        _feed(spark, src, [(1, _sec(0)), (2, _sec(1))], schema)
        _run(stream_dedup(spark.readStream.schema(schema).parquet(src)), out, ckpt)
        # redelivery of id 1 in a later batch within the horizon + a new id
        _feed(spark, src, [(1, _sec(5)), (3, _sec(6))], schema)
        _run(stream_dedup(spark.readStream.schema(schema).parquet(src)), out, ckpt)

        ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
        assert ids == [1, 2, 3]


class TestStreamSlidingCounts:
    def test_converges_to_batch_sliding_window(self, spark, tmp_path):
        import pyspark.sql.functions as F

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        schema = "ts timestamp, event_type string"
        rows = [
            (_sec(5), "click"),
            (_sec(12), "click"),
            (_sec(25), "view"),
            # closer event far past the horizon so every window finalizes
            (_sec(3600), "view"),
        ]
        _feed(spark, src, rows, schema)
        _run(
            stream_sliding_counts(spark.readStream.schema(schema).parquet(src)),
            out,
            ckpt,
        )

        batch = (
            spark.createDataFrame(rows, schema)
            .groupBy(F.window("ts", "30 seconds", "10 seconds").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("win_start"), "event_type", "cnt")
        )
        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        want = {tuple(r) for r in batch.collect()}
        # append mode emits only watermark-finalized windows; everything
        # emitted must match the batch result, and the early windows must
        # all have been finalized by the closer event
        assert got <= want
        finalized = {t for t in want if t[0] < _sec(3000)}
        assert finalized <= got


class TestStreamCurate:
    def test_gates_and_dedups_match_batch(self, spark, tmp_path):
        from flinkproj_spark.streaming.curate import curate_gate, stream_curate

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        schema = "doc_id long, ts timestamp, text string"
        good = "the quick value " + "word data table spark query join row " * 5
        low_quality = "the " * 30  # all stopwords -> quality 0
        no_markers = "zz yy xx " * 10
        rows = [
            (1, _sec(0), good),
            (2, _sec(1), low_quality),
            (3, _sec(2), no_markers),
            (4, _sec(3), good),  # byte-identical duplicate of 1
        ]
        _feed(spark, src, rows, schema)
        _run(stream_curate(spark.readStream.schema(schema).parquet(src)), out, ckpt)
        # duplicate redelivered in a later micro-batch, still within horizon
        _feed(spark, src, [(5, _sec(10), good)], schema)
        _run(stream_curate(spark.readStream.schema(schema).parquet(src)), out, ckpt)

        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1]

        # the stateless gate itself matches the batch filter exactly
        batch_ids = sorted(
            r.doc_id
            for r in curate_gate(spark.createDataFrame(rows, schema)).collect()
        )
        assert batch_ids == [1, 4]


class TestStreamSnapshotDedup:
    def test_drops_base_content_and_stream_copies(self, spark, tmp_path):
        from flinkproj_spark.streaming.curate import stream_snapshot_dedup

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        schema = "doc_id long, ts timestamp, text string"
        base = spark.createDataFrame(
            [(100, "seen before"), (101, "also seen")], "doc_id long, text string"
        )
        rows = [
            (1, _sec(0), "brand new doc"),
            (2, _sec(1), "seen before"),     # exists in base -> dropped
            (3, _sec(2), "another new doc"),
            (4, _sec(3), "brand new doc"),   # within-stream copy -> dropped
        ]
        _feed(spark, src, rows, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        _run(stream_snapshot_dedup(stream, base), out, ckpt)
        # a later micro-batch redelivers base content and a stream copy
        _feed(spark, src, [(5, _sec(10), "also seen"), (6, _sec(11), "another new doc")], schema)
        _run(stream_snapshot_dedup(stream, base), out, ckpt)

        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 3]


class TestStreamRollingAnomaly:
    def test_converges_to_batch_rolling_z(self, spark, sf_dir, tmp_path):
        """Replay the events table through the stateful ring-buffer
        operator in event-time order, split across micro-batches; the
        emitted verdicts must equal the batch anomaly_rolling_z rows
        (same BIGINT math, state carried across the batch boundary)."""
        from flinkproj_spark.operators.timeseries import anomaly_rolling_z
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.stateful import stream_rolling_anomaly
        import pyspark.sql.functions as F

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "event_type", "value")
            .orderBy("ts", "event_id")
        )
        n = ev.count()
        pdf = ev.toPandas()
        # three time-ordered chunk files -> three micro-batches
        for i, lo in enumerate(range(0, n, (n + 2) // 3)):
            chunk = pdf.iloc[lo : lo + (n + 2) // 3]
            spark.createDataFrame(chunk).coalesce(1).write.parquet(
                f"{src}/b{i}", mode="overwrite"
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            stream_rolling_anomaly(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got = {
            (r.event_id, r.v_c, r.n, r.s, r.is_anomaly)
            for r in spark.read.parquet(out).collect()
        }
        want = {
            (r.event_id, r.v_c, r.n, r.s, r.is_anomaly)
            for r in anomaly_rolling_z(spark, sf_dir).collect()
        }
        assert got == want


class TestStreamWarehouse:
    """The r3 warehouse ops' streaming twins: foreachBatch MERGE onto a
    versioned keyed store must converge to the batch operators'
    results when the same events arrive split across micro-batches."""

    def _split_feed(self, spark, sf_dir, src, cols, schema):
        import pyspark.sql.functions as F

        from flinkproj_spark.sources.tables import load_table

        events = load_table(spark, sf_dir, "events").select(*cols)
        mid = events.selectExpr(
            "percentile(cast(ts as long), 0.5) AS m"
        ).collect()[0][0]
        first = events.filter(F.unix_timestamp("ts") < mid)
        second = events.filter(F.unix_timestamp("ts") >= mid)
        assert first.count() > 0 and second.count() > 0
        return events, first, second

    def test_cdc_merge_converges_to_batch_contract(self, spark, sf_dir, tmp_path):
        import pyspark.sql.functions as F

        from flinkproj_spark.streaming.warehouse import (
            _cdc_latest,
            cdc_state_view,
            stream_cdc_merge,
        )

        src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
        cols = ("user_id", "ts", "event_type", "value", "event_id")
        schema = "user_id bigint, ts timestamp, event_type string, value double, event_id bigint"
        events, first, second = self._split_feed(spark, sf_dir, src, cols, schema)

        for chunk in (first, second):
            chunk.coalesce(1).write.mode("append").parquet(src)
            q = stream_cdc_merge(
                spark.readStream.schema(schema).parquet(src), state, ckpt
            )
            q.awaitTermination(180)

        got = {tuple(r) for r in cdc_state_view(spark, state).collect()}
        expected = {
            tuple(r)
            for r in _cdc_latest(events)
            .filter(F.col("event_type") != "error")
            .select(
                "user_id",
                F.col("ts").alias("last_ts"),
                F.col("event_type").alias("last_type"),
                F.col("value").alias("last_value"),
            )
            .collect()
        }
        assert got == expected

        # replay: re-delivering an already-merged chunk must be a no-op
        # (last-writer-wins over identical events is idempotent)
        second.coalesce(1).write.mode("append").parquet(src)
        q = stream_cdc_merge(
            spark.readStream.schema(schema).parquet(src), state, ckpt
        )
        q.awaitTermination(180)
        assert {tuple(r) for r in cdc_state_view(spark, state).collect()} == expected

    def test_scd2_converges_to_batch_history(self, spark, sf_dir, tmp_path):
        from flinkproj_spark.operators.relational import scd2_history
        from flinkproj_spark.streaming.warehouse import scd2_view, stream_scd2

        src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
        cols = ("user_id", "ts", "event_type", "event_id")
        schema = "user_id bigint, ts timestamp, event_type string, event_id bigint"
        _, first, second = self._split_feed(spark, sf_dir, src, cols, schema)

        for chunk in (first, second):
            chunk.coalesce(1).write.mode("append").parquet(src)
            q = stream_scd2(
                spark.readStream.schema(schema).parquet(src), store, ckpt
            )
            q.awaitTermination(180)

        got = {tuple(r) for r in scd2_view(spark, store).collect()}
        expected = {tuple(r) for r in scd2_history(spark, sf_dir).collect()}
        assert got == expected

        # replay: re-delivering already-applied events must not create
        # new intervals (each run's pseudo-event absorbs same-type
        # re-deliveries; distinct types re-collapse identically)
        second.coalesce(1).write.mode("append").parquet(src)
        q = stream_scd2(
            spark.readStream.schema(schema).parquet(src), store, ckpt
        )
        q.awaitTermination(180)
        assert {tuple(r) for r in scd2_view(spark, store).collect()} == expected

    def test_state_discovery_gating(self, spark, tmp_path):
        """The version store's failure semantics (ADVICE r4): a missing
        store dir means 'first epoch' (empty), but an UNCOMMITTED dir —
        no _SUCCESS, e.g. a crashed overwrite — must be skipped by both
        the open-store version resolution and the closed-epoch reader,
        never surfaced as partial state."""
        import os

        import pyspark.sql.functions as F

        from flinkproj_spark.streaming.warehouse import (
            _latest_before,
            _versions,
            scd2_view,
        )

        store = str(tmp_path / "nope")
        assert _versions(spark, store) == []
        assert _latest_before(spark, store) is None

        # committed v1, uncommitted (crashed) v2 -> v1 is the latest
        open_store = str(tmp_path / "s" / "open")
        one = (
            spark.createDataFrame([(1, "a")], "user_id bigint, event_type string")
            .withColumn("valid_from", F.lit("2024-01-01").cast("timestamp"))
            .withColumn("event_id", F.lit(1).cast("bigint"))
        )
        one.write.parquet(os.path.join(open_store, "v1"))
        one.write.parquet(os.path.join(open_store, "v2"))
        os.remove(os.path.join(open_store, "v2", "_SUCCESS"))
        assert _versions(spark, open_store) == [1]

        # closed epoch without _SUCCESS is invisible to scd2_view
        closed = str(tmp_path / "s" / "closed")
        one.select(
            "user_id", "event_type", "valid_from",
            one.valid_from.alias("valid_to"),
        ).write.parquet(os.path.join(closed, "epoch=7"))
        os.remove(os.path.join(closed, "epoch=7", "_SUCCESS"))
        hist = scd2_view(spark, str(tmp_path / "s")).collect()
        assert all(r.is_current == 1 for r in hist)  # only the open run


class TestStreamDecontaminate:
    def test_flags_converge_to_batch_decontaminate(self, spark, sf_dir, tmp_path):
        """The streaming quarantine channel must flag exactly the docs
        the batch decontaminate marks contaminated, across a two-batch
        split, each exactly once."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.dedup import EVAL_MOD, decontaminate
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import stream_contamination_flags

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        docs = load_table(spark, sf_dir, "documents")
        eval_docs = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
        train = docs.filter(F.col("doc_id") % EVAL_MOD != 0).select(
            "doc_id",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
            "text",
        )
        half = [train.filter(F.col("doc_id") % 2 == i) for i in (0, 1)]
        schema = "doc_id bigint, ts timestamp, text string"
        for chunk in half:
            chunk.coalesce(1).write.mode("append").parquet(src)
            q = (
                stream_contamination_flags(
                    spark.readStream.schema(schema).parquet(src), eval_docs
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        flagged = [r.doc_id for r in spark.read.parquet(out).collect()]
        assert len(flagged) == len(set(flagged))  # exactly once per doc
        expected = {
            r.doc_id
            for r in decontaminate(spark, sf_dir).filter("contaminated").collect()
        }
        assert set(flagged) == expected and expected


class TestStreamIvfAssign:
    def test_converges_to_batch_assignments(self, spark, sf_dir, tmp_path):
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.similarity import (
            N_CENTROIDS,
            N_QUERIES,
            _quantized,
            ivf_assignments,
        )
        from flinkproj_spark.streaming.curate import stream_ivf_assign
        from flinkproj_spark.sources.tables import load_table

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
            "embedding",
        )
        cent = _quantized(spark, sf_dir).filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
        ).select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("cv"),
            F.col("norm").alias("cnorm"),
        )
        schema = "vec_id bigint, ts timestamp, embedding array<float>"
        for i in (0, 1):
            emb.filter(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                stream_ivf_assign(
                    spark.readStream.schema(schema).parquet(src), cent
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got = {(r.vec_id, r.cell) for r in spark.read.parquet(out).collect()}
        expected = {
            (r.vec_id, r.cell) for r in ivf_assignments(spark, sf_dir).collect()
        }
        assert got == expected


class TestStreamRollingMedian:
    def test_converges_to_batch_rolling_median(self, spark, sf_dir, tmp_path):
        """Ring-buffer median stream across micro-batch boundaries must
        equal the batch rolling_median rows; med2_c = 2x median cents
        makes the comparison integer-exact (batch emits the rounded
        double, reconstructed via round(x*200))."""
        from flinkproj_spark.operators.timeseries import rolling_median
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.stateful import stream_rolling_median

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "event_type", "value")
            .orderBy("ts", "event_id")
        )
        n = ev.count()
        pdf = ev.toPandas()
        for i, lo in enumerate(range(0, n, (n + 2) // 3)):
            chunk = pdf.iloc[lo : lo + (n + 2) // 3]
            spark.createDataFrame(chunk).coalesce(1).write.parquet(
                f"{src}/b{i}", mode="overwrite"
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            stream_rolling_median(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got = {
            (r.event_id, r.v_c, r.n, r.med2_c, r.above_2x_median)
            for r in spark.read.parquet(out).collect()
        }
        want = {
            (r.event_id, r.v_c, r.n, round(r.rolling_median * 200), r.above_2x_median)
            for r in rolling_median(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0


class TestStreamQualityScores:
    def test_converges_to_batch_classifier(self, spark, sf_dir, tmp_path):
        """The in-row streaming formulation must score every doc
        identically to the batch exploded-groupBy operator (same
        integer features, same weights), across a two-batch feed."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.text import quality_classifier_linear
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import stream_quality_scores

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
            "text",
        )
        schema = "doc_id bigint, ts timestamp, text string"
        for i in (0, 1):
            docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                stream_quality_scores(
                    spark.readStream.schema(schema).parquet(src)
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got = {
            (r.doc_id, r.n_words, r.score_e6, r.keep)
            for r in spark.read.parquet(out).collect()
        }
        want = {
            (r.doc_id, r.n_words, r.score_e6, r.keep)
            for r in quality_classifier_linear(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0


class TestStreamMultimodalDecode:
    def test_converges_to_batch_decode(self, spark, sf_dir, tmp_path):
        """The streaming Arrow decode must produce exactly the batch
        operator's feature rows across a two-batch split, each doc
        exactly once — the continuous-ingest path of the multimodal
        family."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.multimodal import (
            _pgm_payloads,
            multimodal_decode,
        )
        from flinkproj_spark.streaming.multimodal import stream_multimodal_decode

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        payloads = _pgm_payloads(spark, sf_dir)
        for i in (0, 1):
            payloads.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                stream_multimodal_decode(
                    spark.readStream.schema("doc_id bigint, payload binary")
                    .parquet(src)
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        want = {tuple(r) for r in multimodal_decode(spark, sf_dir).collect()}
        assert got == want and len(got) > 0


class TestStreamBpeEncode:
    def test_converges_to_batch_encoding(self, spark, sf_dir, tmp_path):
        """The ingest-time encoder must produce exactly the batch
        bpe_apply rows across a two-batch split, each doc once."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.text import bpe_apply
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import stream_bpe_encode

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
            "text",
        )
        schema = "doc_id bigint, ts timestamp, text string"
        for i in (0, 1):
            docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                stream_bpe_encode(spark.readStream.schema(schema).parquet(src))
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got = {
            (r.doc_id, r.n_tokens, r.n_oov, r.ids_fp, r.oov_ppm)
            for r in spark.read.parquet(out).collect()
        }
        want = {
            (r.doc_id, r.n_tokens, r.n_oov, r.ids_fp, r.oov_ppm)
            for r in bpe_apply(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0


class TestStreamDriftMonitor:
    def test_converges_to_batch_drift_report(self, spark, sf_dir, tmp_path):
        """Stream the NEW snapshot (odd vec_ids) in two micro-batches
        against the static baseline (even vec_ids): after the stream
        drains, drift_view must equal embedding_drift_report row for
        row — same integer moments, same verdicts."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.similarity import embedding_drift_report
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import (
            drift_view,
            stream_drift_monitor,
        )

        src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") % 2 == 0)
        new = emb.filter(F.col("vec_id") % 2 == 1)
        schema = "vec_id bigint, embedding array<float>"
        for i in (0, 1):
            new.filter(F.expr("vec_id div 2") % 2 == i).select(
                "vec_id", "embedding"
            ).coalesce(1).write.mode("append").parquet(src)
            q = stream_drift_monitor(
                spark.readStream.schema(schema).parquet(src), state, ckpt
            )
            q.awaitTermination(180)

        got = {tuple(r) for r in drift_view(spark, state, base).collect()}
        want = {tuple(r) for r in embedding_drift_report(spark, sf_dir).collect()}
        assert got == want and len(got) > 0

        # replay idempotency: re-running with no new files must not
        # double-count the accumulated moments
        q = stream_drift_monitor(
            spark.readStream.schema(schema).parquet(src), state, ckpt
        )
        q.awaitTermination(180)
        assert {tuple(r) for r in drift_view(spark, state, base).collect()} == want


class TestStreamAttribution:
    def test_converges_to_batch_attribution(self, spark, sf_dir, tmp_path):
        """Replay events in event-time order across two micro-batches;
        the per-purchase attribution rows must equal the batch
        attribution_first_last output exactly (state carries first/
        last/count across the batch boundary)."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.relational import attribution_first_last
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.stateful import stream_attribution

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type", "event_id"
        )
        cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").collect()[0].c
        schema = "user_id bigint, ts timestamp, event_type string, event_id bigint"
        for cond in (
            F.expr(f"unix_micros(ts) <= {int(cut)}"),
            F.expr(f"unix_micros(ts) > {int(cut)}"),
        ):
            ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
            q = (
                stream_attribution(spark.readStream.schema(schema).parquet(src))
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        want = {tuple(r) for r in attribution_first_last(spark, sf_dir).collect()}
        assert got == want and len(got) > 0


class TestStreamStreamLeftJoin:
    def test_unmatched_impressions_emit_null_click(self, spark, tmp_path):
        """Ad 1 converts in-window; ad 2's click lands outside the
        delay; ad 4 never clicks. The left join must emit ALL of ads
        1/2/4 — the unattributed ones with a null click_ts once a
        later event advances the watermark past their horizon."""
        from flinkproj_spark.streaming.joins import stream_stream_left_join

        imp_src, clk_src, out, ckpt = (
            str(tmp_path / d) for d in ("imp", "clk", "out", "ckpt")
        )
        _feed(
            spark, imp_src,
            [(1, _sec(0)), (2, _sec(0)), (4, _sec(0)),
             # far-future impression pushes the watermark so the
             # earlier horizons close and unmatched rows emit
             (9, _sec(7200))],
            "ad_id long, imp_ts timestamp",
        )
        _feed(
            spark, clk_src,
            [(1, _sec(120)), (2, _sec(1200)), (3, _sec(60)),
             (9, _sec(10800))],
            "ad_id long, click_ts timestamp",
        )
        imp = spark.readStream.schema("ad_id long, imp_ts timestamp").parquet(imp_src)
        clk = spark.readStream.schema("ad_id long, click_ts timestamp").parquet(clk_src)
        _run(stream_stream_left_join(imp, clk), out, ckpt)

        got = {
            (r.ad_id, r.imp_ts, r.click_ts)
            for r in spark.read.parquet(out).collect()
            if r.ad_id != 9
        }
        assert got == {
            (1, _sec(0), _sec(120)),
            (2, _sec(0), None),
            (4, _sec(0), None),
        }


class TestStreamDsirGate:
    def test_converges_to_batch_scorer(self, spark, sf_dir, tmp_path):
        """The frozen-model streaming gate must reproduce the batch
        DSIR scorer bit-for-bit on the same corpus: identical per-doc
        evidence sums and identical verdicts (the threshold is the one
        frozen from the batch corpus)."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.curation import dsir_importance_weights
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import (
            build_dsir_model,
            stream_dsir_gate,
        )

        model = build_dsir_model(spark, sf_dir)
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.timestamp_seconds(F.col("doc_id")).alias("ts"), "text"
        )
        docs.write.parquet(src)
        schema = "doc_id long, ts timestamp, text string"
        _run(
            stream_dsir_gate(spark.readStream.schema(schema).parquet(src), model),
            out,
            ckpt,
        )
        got = {
            r.doc_id: (r.n_words, r.dsir_sum_ppb, r.target_like)
            for r in spark.read.parquet(out).collect()
        }
        want = {
            r.doc_id: (r.n_words, r.dsir_sum_ppb, r.target_like)
            for r in dsir_importance_weights(spark, sf_dir).collect()
        }
        assert got == want
        assert any(v[2] == 1 for v in got.values())
        assert any(v[2] == 0 for v in got.values())

    def test_model_fold_equals_batch_derivation(self, spark, sf_dir):
        """Round-13: build_dsir_model folds diffs/s_all/n_docs from ONE
        histogram pass (Σ_docs Σ_tokens diff = Σ_bk cr·diff is an
        exact reordering of a BIGINT sum; `//` == `div` on the
        non-negative Laplace operands; unseen buckets score 0). Pin
        the fold against the original three-pass batch derivation."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.curation import (
            DSIR_BUCKETS,
            dsir_bucket_model,
            dsir_importance_weights,
        )
        from flinkproj_spark.streaming.curate import build_dsir_model

        got = build_dsir_model(spark, sf_dir)
        diffs = [0] * DSIR_BUCKETS
        for r in dsir_bucket_model(spark, sf_dir).collect():
            diffs[int(r.bk)] = int(r.qt - r.qr)
        tot = (
            dsir_importance_weights(spark, sf_dir)
            .agg(
                F.sum("dsir_sum_ppb").alias("s_all"),
                F.count("*").alias("n_docs"),
            )
            .collect()[0]
        )
        assert got == {
            "diffs": diffs,
            "s_all": int(tot.s_all),
            "n_docs": int(tot.n_docs),
        }


class TestStreamCmsSketch:
    def test_sketch_converges_to_batch_build(self, spark, sf_dir, tmp_path):
        """Micro-batched sketch counters must equal the batch build over
        the same records (decomposable counts), and the est >= true CMS
        property must hold when estimating from the streamed sketch."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.screens import cms_hash_rows
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_cms_sketch

        src = str(tmp_path / "src")
        events = load_table(spark, sf_dir, "events").select("user_id")
        # two separate files -> at least two micro-batches merge state
        events.filter(F.col("user_id") % 2 == 0).write.parquet(src)
        events.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_cms_sketch(
                spark.readStream.schema("user_id long").parquet(src)
            )
            .writeStream.format("memory")
            .queryName("cms_sketch")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.r, r.b): r.counter
            for r in spark.sql("select * from cms_sketch").collect()
        }
        want = {
            (r.r, r.b): r.counter
            for r in cms_hash_rows(events)
            .groupBy("r", "b")
            .agg(F.count("*").alias("counter"))
            .collect()
        }
        assert got == want
        true_cnt = {
            r.user_id: r.c
            for r in events.groupBy("user_id").agg(F.count("*").alias("c")).collect()
        }
        hashes = {
            u: [(r.r, r.b) for r in cms_hash_rows(
                spark.createDataFrame([(u,)], "user_id long")).collect()]
            for u in list(true_cnt)[:5]
        }
        for u, hs in hashes.items():
            est = min(got[h] for h in hs)
            assert est >= true_cnt[u]


class TestStreamSourceSketch:
    def test_sketch_converges_to_batch_signatures(self, spark, sf_dir, tmp_path):
        """The streamed per-source minhash must equal the batch
        signatures over the same documents (min is decomposable), with
        the corpus split across files so at least two micro-batches
        merge state."""
        import pyspark.sql.functions as F

        from flinkproj_spark import functions as fx
        from flinkproj_spark.operators.dedup import (
            MINHASH_A,
            MINHASH_B,
            MINHASH_P,
            N_HASHES,
        )
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_source_sketch

        src = str(tmp_path / "docs_src")
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_source_sketch(
                spark.readStream.schema(
                    "doc_id long, source string, text string"
                ).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("source_sketch")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r.source: tuple(r[f"s{i}"] for i in range(N_HASHES))
            for r in spark.sql("select * from source_sketch").collect()
        }
        words = fx.tokenize_ws()
        base = F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long")
        want = {
            r.source: tuple(r[f"s{i}"] for i in range(N_HASHES))
            for r in docs.filter(F.size(words) >= 3)
            .select("source", F.explode(fx.shingles(words)).alias("sh"))
            .select("source", base.alias("x"))
            .groupBy("source")
            .agg(
                *[
                    F.min(
                        (F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)
                    ).alias(f"s{i}")
                    for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
                ]
            )
            .collect()
        }
        assert got == want and len(got) == 20


class TestStreamCep:
    def test_converges_to_batch_cep(self, spark, sf_dir, tmp_path):
        """Replay events in event-time order across two micro-batches;
        the streamed CEP matches must equal the batch
        cep_pattern_matches rows exactly — partial-match state (stage,
        timestamps, match counter) must survive the batch boundary."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.analytic import cep_pattern_matches
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.stateful import stream_cep_matches

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type", "event_id"
        )
        cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").collect()[0].c
        schema = "user_id bigint, ts timestamp, event_type string, event_id bigint"
        for cond in (
            F.expr(f"unix_micros(ts) <= {int(cut)}"),
            F.expr(f"unix_micros(ts) > {int(cut)}"),
        ):
            ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
            q = (
                stream_cep_matches(spark.readStream.schema(schema).parquet(src))
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        want = {tuple(r) for r in cep_pattern_matches(spark, sf_dir).collect()}
        assert got == want and len(got) > 0


class TestStreamClusterLabels:
    def test_converges_to_batch_connected_components(
        self, spark, sf_dir, tmp_path
    ):
        """Stream the near-dup edge list in two micro-batches (split so
        components can straddle the boundary); the final state labels
        must equal batch dedup_cluster's canonical min-id labeling —
        including components fused ACROSS batches via virtual edges."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.dedup import (
            dedup_cluster,
            dedup_minhash_lsh,
        )
        from flinkproj_spark.streaming.warehouse import (
            cluster_state_view,
            stream_cluster_labels,
        )

        src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        want = {r.doc_id: r.cluster_id for r in dedup_cluster(spark, sf_dir).collect()}
        # split edges by their rank WITHIN each batch component, so any
        # component with >= 2 edges is guaranteed to straddle batches
        edge_rows = sorted((r.doc_a, r.doc_b) for r in pairs.collect())
        rank_in_comp: dict[int, int] = {}
        halves: dict[int, list] = {0: [], 1: []}
        for a, b in edge_rows:
            comp = want[a]
            rk = rank_in_comp.get(comp, 0)
            rank_in_comp[comp] = rk + 1
            halves[rk % 2].append((a, b))
        assert halves[1], "no component has >= 2 edges - nothing straddles"
        persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        for half in (0, 1):
            spark.createDataFrame(
                halves[half], "doc_a long, doc_b long"
            ).coalesce(1).write.mode("append").parquet(src)
            q = stream_cluster_labels(
                spark.readStream.schema("doc_a long, doc_b long").parquet(src),
                store,
                ckpt,
            )
            q.awaitTermination(180)
        # each round's labels live only in the micro-batch's cache scope
        assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == persisted

        got = {r.node: r.label for r in cluster_state_view(spark, store).collect()}
        assert len(got) > 0
        # dedup_cluster labels every doc in the pair graph; state holds
        # exactly those nodes, with identical canonical labels
        assert got == {n: want[n] for n in got}
        assert set(got) == set(want)


class TestStreamTwap:
    def test_converges_to_batch_twap(self, spark, sf_dir, tmp_path):
        """Replay events through the 5-long TWAP state split across
        micro-batches; each user's LAST emitted row must equal the
        batch twap_user_value row (state correctly bridges the batch
        boundary), and running rows must be n-monotone."""
        from flinkproj_spark.operators.timeseries import twap_user_value
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.stateful import stream_twap

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "value")
            .orderBy("ts", "event_id")
        )
        n = ev.count()
        pdf = ev.toPandas()
        for i, lo in enumerate(range(0, n, (n + 2) // 3)):
            chunk = pdf.iloc[lo : lo + (n + 2) // 3]
            spark.createDataFrame(chunk).coalesce(1).write.parquet(
                f"{src}/b{i}", mode="overwrite"
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            stream_twap(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got_rows = spark.read.parquet(out).collect()
        last = {}
        for r in got_rows:
            if r.user_id not in last or r.n_events > last[r.user_id].n_events:
                last[r.user_id] = r
        want = {r.user_id: r for r in twap_user_value(spark, sf_dir).collect()}
        assert set(last) == set(want)
        for u, w in want.items():
            g = last[u]
            assert (g.n_events, g.span_s, g.twsum, g.twap_c) == (
                w.n_events,
                w.span_s,
                w.twsum,
                w.twap_c,
            )


class TestStreamShardPublisher:
    def test_manifest_converges_and_survives_replay(self, spark, sf_dir, tmp_path):
        """The continuous shard publisher: after feeding the corpus in
        two batches, (a) the published manifest equals the batch
        shard_manifest computed over the published data directory,
        (b) its totals row equals the source corpus_receipt (nothing
        lost, minted, or mutated in flight), (c) the stream-assigned
        shards match the batch writer's deterministic assignment, and
        (d) replaying the last EPOCH (re-running from a checkpoint
        snapshot taken before it — the crash-recovery path foreachBatch
        guarantees at-least-once for) changes neither the data nor the
        manifest. Row-level re-delivery is the SOURCE's exactly-once
        job (the file source provides it via this same checkpoint);
        the sink's contract is epoch idempotence."""
        import shutil

        import pyspark.sql.functions as F

        from flinkproj_spark.sources.files import corpus_receipt, shard_manifest
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.warehouse import (
            shard_publisher_manifest,
            stream_shard_publisher,
        )

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        ckpt_snap = str(tmp_path / "ckpt_snap")
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        mid = docs.selectExpr("percentile(doc_id, 0.5) AS m").collect()[0][0]
        first = docs.filter(F.col("doc_id") < mid)
        second = docs.filter(F.col("doc_id") >= mid)
        assert first.count() > 0 and second.count() > 0

        schema = "doc_id bigint, text string"
        for i, chunk in enumerate((first, second)):
            chunk.coalesce(1).write.mode("append").parquet(src)
            if i == 1:  # crash-recovery snapshot: before the last epoch
                shutil.copytree(ckpt, ckpt_snap)
            q = stream_shard_publisher(
                spark.readStream.schema(schema).parquet(src), out, ckpt
            )
            q.awaitTermination(180)
        published = {
            tuple(r) for r in shard_publisher_manifest(spark, out).collect()
        }

        # epoch replay: restore the pre-epoch checkpoint and re-run —
        # the second chunk re-executes under the SAME epoch id
        shutil.rmtree(ckpt)
        shutil.copytree(ckpt_snap, ckpt)
        q = stream_shard_publisher(
            spark.readStream.schema(schema).parquet(src), out, ckpt
        )
        q.awaitTermination(180)

        final = {
            tuple(r) for r in shard_publisher_manifest(spark, out).collect()
        }
        batch_view = {
            tuple(r)
            for r in shard_manifest(spark, out + "/data").collect()
        }
        assert final == batch_view  # incremental receipt == recount
        assert final == published  # replay changed nothing

        total = next(r for r in shard_publisher_manifest(spark, out).collect()
                     if r.shard == -1)
        receipt = corpus_receipt(docs).collect()[0]
        assert (total.n_rows, total.n_tokens, total.content_sum) == (
            receipt.n_rows, receipt.n_tokens, receipt.content_sum
        )

        # deterministic cross-writer shard assignment: every published
        # doc sits in the shard the batch writer would pick
        from flinkproj_spark.sources.files import write_training_shards

        ref = str(tmp_path / "ref")
        write_training_shards(docs, ref)
        got = {
            (r.doc_id, r.shard)
            for r in spark.read.parquet(out + "/data").select("doc_id", "shard").collect()
        }
        want = {
            (r.doc_id, r.shard)
            for r in spark.read.parquet(ref).select("doc_id", "shard").collect()
        }
        assert got == want


class TestStreamPiiGate:
    def test_converges_to_batch_scan(self, spark, sf_dir, tmp_path):
        """The stateless PII gate must reproduce the batch scan's
        per-source totals over the same corpus fed as a stream —
        including planted identifiers — and flag exactly the planted
        doc."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.curation import pii_scan_report
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import stream_pii_gate

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        planted = spark.createDataFrame(
            [(10_000_000, "src0",
              "mail me: eve@evil.example.net or dial 555-987-6543")],
            "doc_id long, source string, text string",
        )
        feed = docs.unionByName(planted)
        feed.coalesce(2).write.mode("append").parquet(src)
        _run(
            stream_pii_gate(
                spark.readStream.schema(
                    "doc_id long, source string, text string"
                ).parquet(src).select("doc_id", "text")
            ),
            out,
            ckpt,
        )
        got = spark.read.parquet(out)
        flagged = [r.doc_id for r in got.filter("pii_flagged = 1").collect()]
        assert flagged == [10_000_000]
        one = got.filter("doc_id = 10000000").collect()[0]
        assert (one.email_hits, one.phone_hits, one.ssn_hits, one.ipv4_hits) == (
            1, 1, 0, 0
        )
        # totals equal the batch scan over the same tampered corpus
        tampered_dir = tmp_path / "tampered_sf"
        tampered_dir.mkdir()
        feed_pdf = feed.toPandas()
        import pandas as pd  # noqa: F401

        feed_pdf.to_parquet(tampered_dir / "documents.parquet", index=False)
        batch = pii_scan_report(spark, str(tampered_dir)).agg(
            F.sum("email_hits"), F.sum("phone_hits"),
            F.sum("ssn_hits"), F.sum("ipv4_hits"), F.sum("docs_flagged")
        ).collect()[0]
        stream_tot = got.agg(
            F.sum("email_hits"), F.sum("phone_hits"),
            F.sum("ssn_hits"), F.sum("ipv4_hits"), F.sum("pii_flagged")
        ).collect()[0]
        assert tuple(batch) == tuple(stream_tot)


class TestStreamQuantileSketch:
    def test_sketch_converges_to_batch_registers_and_deciles(
        self, spark, sf_dir, tmp_path
    ):
        """Streamed quantile registers must equal the batch build over
        the same orders (decomposable counts, order-independent — the
        property GK/KLL compactors lack), and decile estimates read
        from the streamed sketch must equal the batch audit's est_c
        column exactly."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.screens import (
            qsk_bucket_col,
            qsk_decile_estimates,
            quantile_sketch_audit,
        )
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_quantile_sketch

        src = str(tmp_path / "src")
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        # two files -> at least two micro-batches merge registers
        orders.filter(F.col("o_orderkey") % 2 == 0).write.parquet(src)
        orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_quantile_sketch(
                spark.readStream.schema(
                    "o_orderkey long, o_totalprice double"
                ).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("qsk_sketch")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.sql("select * from qsk_sketch")
        got = {(r.bid): r.cnt for r in streamed.collect()}
        want = {
            (r.bid): r.cnt
            for r in orders.select(
                F.expr(
                    "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
                ).alias("v")
            )
            .select(qsk_bucket_col().alias("bid"))
            .groupBy("bid")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        assert got == want and len(got) > 10
        est_stream = {
            r.decile: r.est_c for r in qsk_decile_estimates(streamed).collect()
        }
        est_batch = {
            r.decile: r.est_c
            for r in quantile_sketch_audit(spark, sf_dir).collect()
        }
        assert est_stream == est_batch


class TestStreamFileInventory:
    def test_inventory_converges_and_plans_match(self, spark, sf_dir, tmp_path):
        """The streamed (type, day) inventory must equal the batch
        aggregate over the same events (decomposable count/sum), and
        compaction_bins over the streamed inventory must equal the
        batch compaction_plan bin for bin."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.sampling import (
            compaction_bins,
            compaction_plan,
        )
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.operators.sampling import event_day_inventory

        src = str(tmp_path / "src")
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "props"
        )
        events.filter(F.col("event_id") % 2 == 0).write.parquet(src)
        events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            event_day_inventory(
                spark.readStream.schema(
                    "event_id long, ts timestamp, event_type string,"
                    " props string"
                ).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("file_inventory")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.sql("select * from file_inventory")
        got_inv = {
            (r.event_type, r.d): (r.n_rows, r.bytes)
            for r in streamed.collect()
        }
        want_inv = {
            (r.event_type, r.d): (r.n_rows, r.bytes)
            for r in event_day_inventory(events).collect()
        }
        assert got_inv == want_inv and len(got_inv) > 50
        key = lambda r: (r.event_type, r.bin_id)
        got_plan = {
            key(r): (r.n_files, r.n_rows, r.bytes, r.first_day, r.last_day)
            for r in compaction_bins(streamed).collect()
        }
        want_plan = {
            key(r): (r.n_files, r.n_rows, r.bytes, r.first_day, r.last_day)
            for r in compaction_plan(spark, sf_dir).collect()
        }
        assert got_plan == want_plan
        # the retention view over the SAME live inventory equals the
        # nightly vacuum plan (vacuum_sweep is the one shared rollup)
        from flinkproj_spark.operators.sampling import (
            vacuum_plan, vacuum_sweep)

        vrow = lambda r: (r.cutoff_day, r.n_files_delete, r.n_rows_delete,
                          r.bytes_reclaimed, r.n_files_keep, r.bytes_kept)
        got_vac = {r.event_type: vrow(r)
                   for r in vacuum_sweep(streamed).collect()}
        want_vac = {r.event_type: vrow(r)
                    for r in vacuum_plan(spark, sf_dir).collect()}
        assert got_vac == want_vac
        assert any(v[1] > 0 for v in got_vac.values())  # deletes live
        assert any(v[4] > 0 for v in got_vac.values())  # keeps live
        # the live per-file verdict monitor over the SAME inventory
        # equals the batch lake_file_verdicts key row for row, and all
        # three verdicts are live
        from flinkproj_spark.operators.sampling import (
            lake_file_verdicts, lake_file_verdicts_from_inventory)

        frow = lambda r: (r.n_rows, r.bytes, r.age_days, r.verdict)
        got_f = {(r.event_type, r.day): frow(r)
                 for r in lake_file_verdicts_from_inventory(streamed).collect()}
        want_f = {(r.event_type, r.day): frow(r)
                  for r in lake_file_verdicts(spark, sf_dir).collect()}
        assert got_f == want_f
        verdicts = {v[3] for v in got_f.values()}
        assert verdicts == {"vacuum", "compact", "keep"}


class TestStreamConformalGate:
    def test_gate_matches_batch_coverage(self, spark, sf_dir, tmp_path):
        """The frozen-threshold streaming gate must agree with the
        batch conformal report: on the test half, per-type non-flagged
        counts equal n_covered; every verdict equals the direct
        comparison; the flag is live in both directions."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.screens import (
            CONF_SALT,
            conformal_coverage_report,
        )
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import (
            build_conformal_thresholds,
            stream_conformal_gate,
        )

        thresholds = build_conformal_thresholds(spark, sf_dir)
        assert set(thresholds) == {"click", "signup", "purchase", "error", "view"}
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        ).write.parquet(src)
        schema = "event_id long, ts timestamp, event_type string, value double"
        _run(
            stream_conformal_gate(
                spark.readStream.schema(schema).parquet(src), thresholds
            ),
            out,
            ckpt,
        )
        gated = spark.read.parquet(out)
        rows = gated.collect()
        assert all(r.exceeds_q90 == (1 if r.v_c > r.q90_c else 0) for r in rows)
        assert any(r.exceeds_q90 == 1 for r in rows)
        assert any(r.exceeds_q90 == 0 for r in rows)
        # test-half agreement with the batch report
        is_test = (
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit(CONF_SALT))),
                1,
                1,
            )
            >= "8"
        )
        got = {
            r.event_type: (r.n, r.n_ok)
            for r in gated.filter(is_test)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(1 - F.col("exceeds_q90")).alias("n_ok"),
            )
            .collect()
        }
        want = {
            r.event_type: (r.n_test, r.n_covered)
            for r in conformal_coverage_report(spark, sf_dir).collect()
        }
        assert got == want


class TestStreamHllRegisters:
    def test_registers_and_estimate_converge_to_batch(
        self, spark, sf_dir, tmp_path
    ):
        """Streamed HLL registers must equal the batch build over the
        same documents (register max is idempotent + commutative), and
        the integer raw estimator computed from the streamed registers
        must equal the batch audit's hll_est exactly."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.dedup import (
            HLL_ALPHA_PPM,
            HLL_BITS,
            HLL_M,
            hll_distinct_report,
            hll_register_rows,
        )
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_hll_registers

        src = str(tmp_path / "src")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        # two files -> at least two micro-batches merge register maxima
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_hll_registers(
                spark.readStream.schema("doc_id long, text string").parquet(src)
            )
            .writeStream.format("memory")
            .queryName("hll_regs")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {r.b: r.mx for r in spark.sql("select * from hll_regs").collect()}
        want = {
            r.b: r.mx
            for r in hll_register_rows(docs)
            .groupBy("b")
            .agg(F.max("m").alias("mx"))
            .collect()
        }
        assert got == want and len(got) >= 2
        # integer raw estimator from the streamed registers
        s = sum(1 << (HLL_BITS - got.get(b, 0)) for b in range(HLL_M))
        est = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << HLL_BITS) // (1_000_000 * s)
        batch = hll_distinct_report(spark, sf_dir).collect()[0]
        assert est == batch.hll_est


class TestStreamZonemapMonitor:
    def test_zone_maps_converge_to_batch_bins(self, spark, sf_dir, tmp_path):
        """Streamed per-bin (min_uid, max_uid) must equal the batch
        zone-map build over the same events — min/max merge exactly
        across micro-batches in any order."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.screens import zm_zorder_rows
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_zonemap_monitor

        src = str(tmp_path / "src")
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        events.filter(F.col("event_id") % 2 == 0).write.parquet(src)
        events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_zonemap_monitor(
                spark.readStream.schema(
                    "event_id long, user_id long, ts timestamp"
                ).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("zm_bins")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r.b: (r.mn, r.mx)
            for r in spark.sql("select * from zm_bins").collect()
        }
        want = {
            r.b: (r.mn, r.mx)
            for r in zm_zorder_rows(events)
            .groupBy("b")
            .agg(F.min("uid").alias("mn"), F.max("uid").alias("mx"))
            .collect()
        }
        assert got == want and len(got) >= 2


def test_lsh_planner_scurve_shape(spark, sf_dir):
    """The planner grid must reproduce hand-computed S-curve points
    (j=0.5: 9x1 collision ~1-(0.5)^... etc), be monotone in j for
    every config, and rank recall max-bands > production > one-band
    at the production threshold j=0.5."""
    from flinkproj_spark.operators.curation import lsh_parameter_planner

    rows = lsh_parameter_planner(spark, sf_dir).collect()
    assert len(rows) == 27
    by = {(r.bands, r.rows_per_band, r.j_ppm): r for r in rows}
    # hand-computed truncating-ppm points
    assert by[(3, 3, 500_000)].band_match_ppm == 125_000  # 0.5^3
    assert by[(3, 3, 500_000)].collision_ppm == 330_079  # 1-0.875^3 (trunc)
    assert by[(1, 9, 500_000)].band_match_ppm == 1_953  # 0.5^9 (trunc)
    assert by[(9, 1, 500_000)].band_match_ppm == 500_000
    for b, r in [(9, 1), (3, 3), (1, 9)]:
        seq = [by[(b, r, j * 100_000)].collision_ppm for j in range(1, 10)]
        assert seq == sorted(seq)  # monotone in j
    # recall ordering at the production threshold
    assert (
        by[(9, 1, 500_000)].collision_ppm
        > by[(3, 3, 500_000)].collision_ppm
        > by[(1, 9, 500_000)].collision_ppm
    )


class TestStreamSrmMonitor:
    def test_variant_counts_converge_to_batch(self, spark, sf_dir, tmp_path):
        """Streamed per-variant user counts (first-event admission)
        must equal the batch srm_check's n_users over the same events,
        across multiple micro-batches."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.screens import srm_check
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_srm_monitor

        src = str(tmp_path / "src")
        events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        events.filter(F.col("event_id") % 2 == 0).write.parquet(src)
        events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_srm_monitor(
                spark.readStream.schema(
                    "event_id long, user_id long, ts timestamp"
                ).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("srm_mon")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r.variant: r.n_users
            for r in spark.sql("select * from srm_mon").collect()
        }
        want = {r.variant: r.n_users for r in srm_check(spark, sf_dir).collect()}
        assert got == want and set(got) == {"control", "treatment"}


class TestStreamDigestMonitor:
    def test_live_digest_equals_batch(self, spark, sf_dir, tmp_path):
        """The streamed running digest must equal the batch
        table_digest_report row for documents — additivity makes the
        convergence exact across micro-batches."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.relational import table_digest_report
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_digest_monitor

        src = str(tmp_path / "src")
        docs = load_table(spark, sf_dir, "documents")
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_digest_monitor(
                spark.readStream.schema(
                    "doc_id long, text string, lang string,"
                    " source string, n_chars long"
                ).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("digest_mon")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql("select * from digest_mon").collect()[0]
        want = {
            r.table_name: (r.n_rows, r.digest)
            for r in table_digest_report(spark, sf_dir).collect()
        }["documents"]
        assert (got.n_rows, got.digest) == want


class TestStreamPhashGate:
    @staticmethod
    def _pgm(bits):
        """Synthesize a PGM payload whose 60-bit dHash is exactly
        `bits`: each gradient bit k is (pixel[k] < pixel[k+1]), so walk
        ±1 from 128."""
        vals = [128]
        for b in bits:
            vals.append(vals[-1] + (1 if b else -1))
        return b"P5 8 8 255\n" + bytes(vals)

    def test_admits_only_images_far_from_base(self, spark, tmp_path, monkeypatch):
        """Convergence to the batch dedup_phash_hamming verdicts: the
        gate must reject exactly the incoming images whose dHash is
        within PHASH_MAX_HAMMING of some base image (computed brute
        force via the shared phash60 core), drop within-stream exact
        copies, and admit the rest — across a micro-batch boundary."""
        from flinkproj_spark.operators.multimodal import (
            PHASH_MAX_HAMMING, phash60)
        from flinkproj_spark.streaming import curate
        from flinkproj_spark.streaming.multimodal import stream_phash_gate

        monkeypatch.setattr(curate, "INGEST_HORIZON", "0 seconds")

        a_bits = [1] * 60
        b_bits = [0] * 60
        near_a = list(a_bits); near_a[0] = near_a[1] = near_a[2] = 0   # d=3
        far_a = list(a_bits)
        far_a[10] = far_a[11] = far_a[12] = far_a[13] = 0              # d=4
        fresh = [1, 0] * 30                                            # d=30

        base_rows = [(100, self._pgm(a_bits)), (101, self._pgm(b_bits))]
        incoming = [
            (1, _sec(0), self._pgm(fresh)),    # admitted
            (2, _sec(1), self._pgm(a_bits)),   # exact copy of base -> rejected
            (3, _sec(2), self._pgm(near_a)),   # 3 bits off base -> rejected
            (4, _sec(3), self._pgm(fresh)),    # within-stream copy -> dropped
            (5, _sec(4), self._pgm(far_a)),    # 4 bits off base -> admitted
        ]

        # batch-definition verdicts via the SAME hashing core
        base_ph = [phash60(p) for _, p in base_rows]
        expected = sorted(
            did for did, _, p in incoming
            if did != 4  # the within-stream copy
            and min(bin(phash60(p) ^ bp).count("1") for bp in base_ph)
            > PHASH_MAX_HAMMING
        )

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        schema = "doc_id long, ts timestamp, payload binary"
        base = spark.createDataFrame(base_rows, "doc_id long, payload binary")
        _feed(spark, src, incoming, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        _run(stream_phash_gate(stream, base), out, ckpt)
        # advance the watermark so every run-1 verdict finalizes (the
        # admission NEGATION emits on expiry); the flush row itself
        # stays pending, which is the correct append-mode semantics
        _feed(spark, src, [(99, _sec(7200), self._pgm(b_bits))], schema)
        _run(stream_phash_gate(stream, base), out, ckpt)

        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == expected == [1, 5]


class TestStreamLangMixGate:
    def test_converges_to_batch_lang_mix_stage(self, spark, sf_dir, tmp_path):
        """Replay real corpus documents through the stateless gate; the
        per-doc verdicts must equal the batch lang_mix_report's per-doc
        stage (re-derived by re-aggregating the stream output into the
        report cells)."""
        from flinkproj_spark.operators.text import lang_mix_report
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import stream_lang_mix_gate
        import pyspark.sql.functions as F

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        # deterministic subset (a re-evaluated limit() could pick
        # different rows between the write and the expectation pass)
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 5 < 2
        ).select("doc_id", F.lit(_sec(0)).alias("ts"), "text", "lang")
        n_replayed = docs.count()
        assert n_replayed > 100
        docs.select("doc_id", "ts", "text").coalesce(2).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        ).parquet(src)
        _run(stream_lang_mix_gate(stream), out, ckpt)

        got = spark.read.parquet(out)
        assert got.count() == n_replayed
        # re-aggregate the stream verdicts into report cells and compare
        # against the batch report restricted to the replayed docs
        cells = {
            (r.lang, r.n_langs_detected): (r.n_docs, r.sum_marker_hits)
            for r in got.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang", "n_langs_detected")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("marker_hits").alias("sum_marker_hits"))
            .collect()
        }
        full = lang_mix_report(spark, sf_dir)
        batch = {
            (r.lang, r.n_langs_detected): (r.n_docs, r.sum_marker_hits)
            for r in full.collect()
        }
        # the replay is the doc_id<limit prefix; with limit==table size
        # at sf0.001 (500 > 200 docs) compare only the replayed subset
        ids = {r.doc_id for r in docs.select("doc_id").collect()}
        from flinkproj_spark.operators.text import (
            _LANG_MARKERS, _LANG_ORDER)
        raw = {r.doc_id: (r.lang, r.text)
               for r in load_table(spark, sf_dir, "documents").collect()
               if r.doc_id in ids}
        expect = {}
        for did, (lang, text) in raw.items():
            words = [w.lower() for w in text.split(" ") if w]
            hs = [sum(w in _LANG_MARKERS[l2] for w in words) for l2 in _LANG_ORDER]
            nl = sum(1 for h in hs if h > 0)
            n, s = expect.get((lang, nl), (0, 0))
            expect[(lang, nl)] = (n + 1, s + sum(hs))
        assert cells == expect
        # and the mixed flag is exactly n_langs_detected >= 2
        assert got.filter(
            (F.col("mixed") == 1) != (F.col("n_langs_detected") >= 2)
        ).count() == 0


class TestStreamTokenMass:
    def test_live_quota_equals_batch_allocator(self, spark, sf_dir, tmp_path):
        """Replay the documents table through the streaming token-mass
        counters split across two micro-batch files; the converged
        per-lang sums must equal the batch scan's, and the shared
        largest-remainder rollup over them must equal
        token_budget_allocator exactly (quota conservation included)."""
        from flinkproj_spark.operators.sampling import (
            TB_BUDGET, token_budget_allocator, token_budget_from_counts)
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.monitor import stream_token_mass
        import pyspark.sql.functions as F

        src = str(tmp_path / "src")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            stream_token_mass(
                spark.readStream.schema(
                    "doc_id long, lang string, text string"
                ).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("token_mass")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.sql("select * from token_mass")

        row = lambda r: (r.t, r.floor_quota, r.extra, r.quota)
        got = {r.lang: row(r)
               for r in token_budget_from_counts(streamed).collect()}
        want = {r.lang: row(r)
                for r in token_budget_allocator(spark, sf_dir).collect()}
        assert got == want and len(got) >= 3
        assert sum(v[3] for v in got.values()) == TB_BUDGET


class TestStreamValueHistogram:
    def test_live_histogram_equals_batch_key(self, spark, sf_dir, tmp_path):
        """Replay the events table through the streaming per-bucket
        registers split across two micro-batch files; the shared
        finisher over the converged state must equal the batch
        histogram_value key row for row."""
        from flinkproj_spark.operators.stats import (
            histogram_from_registers, histogram_value)
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.operators.stats import histogram_registers
        import pyspark.sql.functions as F

        src = str(tmp_path / "src")
        ev = load_table(spark, sf_dir, "events").select("event_id", "value")
        ev.filter(F.col("event_id") % 2 == 0).write.parquet(src)
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            histogram_registers(
                spark.readStream.schema("event_id long, value double")
                .parquet(src)
            )
            .writeStream.format("memory")
            .queryName("value_histogram")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.sql("select * from value_histogram")

        got = {r.bucket: (r.n, r.sum_value)
               for r in histogram_from_registers(streamed).collect()}
        want = {r.bucket: (r.n, r.sum_value)
                for r in histogram_value(spark, sf_dir).collect()}
        assert got == want and len(got) > 1


class TestStreamShardBalance:
    def test_live_skew_equals_batch_audit(self, spark, sf_dir, tmp_path):
        """Replay the documents table through the streaming per-shard
        registers split across two micro-batch files; the converged
        (n_docs, n_tokens) cells must equal the batch derivation, and
        the shared skew finisher over them must equal
        shard_balance_report row for row (all shards present)."""
        from flinkproj_spark.operators.sampling import (
            _N_SHARDS, shard_balance_from_counts, shard_balance_report)
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.operators.sampling import shard_doc_counts
        import pyspark.sql.functions as F

        src = str(tmp_path / "src")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            shard_doc_counts(
                spark.readStream.schema("doc_id long, text string").parquet(src)
            )
            .writeStream.format("memory")
            .queryName("shard_balance")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.sql("select * from shard_balance")

        row = lambda r: (r.n_docs, r.n_tokens, r.docs_skew_ppm,
                         r.tokens_skew_ppm)
        got = {r.shard: row(r)
               for r in shard_balance_from_counts(streamed).collect()}
        want = {r.shard: row(r)
                for r in shard_balance_report(spark, sf_dir).collect()}
        assert got == want and len(got) == _N_SHARDS


class TestStreamFunnelStage:
    def test_converges_to_batch_funnel_counters(self, spark, sf_dir, tmp_path):
        """Replay the events table in event-time order split across
        three micro-batches; users' max emitted stages must reproduce
        the batch funnel_steps counters exactly, each stage must fire
        at most once per user, and stage timestamps must be strictly
        increasing within a user."""
        from flinkproj_spark.operators.analytic import funnel_steps
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.stateful import stream_funnel_stage
        import pyspark.sql.functions as F

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type")
            .orderBy("ts", "event_id")
        )
        n = ev.count()
        pdf = ev.toPandas()
        for i, lo in enumerate(range(0, n, (n + 2) // 3)):
            chunk = pdf.iloc[lo : lo + (n + 2) // 3]
            spark.createDataFrame(chunk).coalesce(1).write.parquet(
                f"{src}/b{i}", mode="overwrite"
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            stream_funnel_stage(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        rows = spark.read.parquet(out).collect()
        per_user: dict[int, dict[int, object]] = {}
        for r in rows:
            per_user.setdefault(r.user_id, {})
            assert r.stage not in per_user[r.user_id]  # fires once
            per_user[r.user_id][r.stage] = r.ts
        for stages in per_user.values():
            if 2 in stages:
                assert 1 in stages and stages[2] > stages[1]
            if 3 in stages:
                assert 2 in stages and stages[3] > stages[2]
        got = [
            sum(1 for s in per_user.values() if k in s) for k in (1, 2, 3)
        ]
        b = funnel_steps(spark, sf_dir).collect()[0]
        assert got == [b.n_view, b.n_view_click, b.n_view_click_purchase]
        # monotone and live (at sf0.001 every viewer eventually
        # purchases — 15/15/15 — so strict drop-off can't be asserted)
        assert got[0] >= got[1] >= got[2] > 0


class TestStreamSemdedupGate:
    def test_converges_to_batch_verdicts_on_snapshot_replay(
        self, spark, sf_dir, tmp_path
    ):
        """The frozen-codebook admission gate must reproduce batch
        semdedup_cells bit-for-bit when the snapshot it was built from
        is replayed as the arrival stream: identical cells (the frozen
        two-level quantizer is the batch assignment function), identical
        n_similar_prior / max_prior_cos / verdicts (the mate_id <
        vec_id guard reproduces the batch smaller-id rule on replay; on
        live data every frozen id is smaller, so the guard is a no-op).
        Split across two micro-batches to cross a trigger boundary."""
        import pyspark.sql.functions as F

        from flinkproj_spark.operators.similarity import semdedup_cells
        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import (
            build_semdedup_model,
            stream_semdedup_gate,
        )

        model = build_semdedup_model(spark, sf_dir)
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.timestamp_seconds(F.col("vec_id")).alias("ts"),
            "embedding",
        )
        schema = "vec_id long, ts timestamp, embedding array<float>"
        for i in (0, 1):
            emb.filter(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _run(
                stream_semdedup_gate(
                    spark.readStream.schema(schema).parquet(src), model
                ),
                out,
                ckpt,
            )

        rows = spark.read.parquet(out).collect()
        got = {
            r.vec_id: (r.cell, r.n_similar_prior, r.max_prior_cos, r.is_dropped)
            for r in rows
        }
        want = {
            r.vec_id: (r.cell, r.n_similar_prior, r.max_prior_cos, r.is_dropped)
            for r in semdedup_cells(spark, sf_dir).collect()
        }
        assert got == want
        assert any(v[3] == 1 for v in got.values())  # gate actually drops
        assert any(v[3] == 0 for v in got.values())
        # replayed snapshot ids all violate the monotone-id assumption,
        # and the gate says so on every row
        assert all(r.id_overlap == 1 for r in rows)

    def test_live_arrival_gated_against_frozen_mates_only(
        self, spark, sf_dir, tmp_path
    ):
        """A genuinely new arrival (id above every frozen id) must be
        judged against ALL frozen cell-mates; a planted near-copy of a
        frozen vector is dropped, an orthogonal-ish vector is admitted."""
        import pyspark.sql.functions as F

        from flinkproj_spark.sources.tables import load_table
        from flinkproj_spark.streaming.curate import (
            build_semdedup_model,
            stream_semdedup_gate,
        )

        model = build_semdedup_model(spark, sf_dir)
        base = load_table(spark, sf_dir, "embeddings")
        twin_src = base.orderBy("vec_id").limit(1).collect()[0].embedding
        top = base.agg(F.max("vec_id")).collect()[0][0]
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        rows = [
            (top + 1, [float(x) + 0.001 for x in twin_src]),
            (top + 2, [float((i * 7919 % 13) - 6) for i in range(len(twin_src))]),
        ]
        spark.createDataFrame(
            [(v, i, e) for i, (v, e) in enumerate(rows)],
            "vec_id long, sec int, embedding array<float>",
        ).select(
            "vec_id", F.timestamp_seconds("sec").alias("ts"), "embedding"
        ).coalesce(1).write.parquet(src)
        schema = "vec_id long, ts timestamp, embedding array<float>"
        _run(
            stream_semdedup_gate(
                spark.readStream.schema(schema).parquet(src), model
            ),
            out,
            ckpt,
        )
        got = {r.vec_id: r for r in spark.read.parquet(out).collect()}
        assert got[top + 1].is_dropped == 1
        assert got[top + 1].max_prior_cos > 0.9
        assert got[top + 2].is_dropped in (0, 1)  # verdict emitted either way
        assert len(got) == 2  # every arrival gets exactly one verdict row
        # genuinely-new ids: the monotone-id assumption holds, flag is 0
        assert all(r.id_overlap == 0 for r in got.values())

    def test_model_artifacts_are_materialized_at_build_time(
        self, spark, sf_dir
    ):
        """Round-13: the frozen model must be PERSISTED at build time —
        the lazy form re-derived the codebook + cell assignment over
        the whole corpus on every micro-batch, and a snapshot-dir
        rewrite mid-stream would have silently changed verdicts. All
        three artifacts must report a storage level and already be
        materialized (is_cached via the catalog's storage flag)."""
        from flinkproj_spark.streaming.curate import build_semdedup_model

        model = build_semdedup_model(spark, sf_dir)
        try:
            for name in ("codebook", "mates", "max_id"):
                assert model[name].storageLevel.useMemory, name
        finally:
            for df in model.values():
                df.unpersist()
