"""Streaming twins: the same cores under Structured Streaming converge
to the batch result (SURVEY.md §5.2.3), late data is upserted or split."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from flinkproj_spark.pipelines import report_aggregate, report_parse
from flinkproj_spark.sources.dims import dim_area
from flinkproj_spark.streaming.pipelines import (
    stream_clean,
    stream_report,
    stream_report_with_late_split,
)


def _audit(dt, typ="shelf", area="AREA_US"):
    return json.dumps({"dt": dt, "type": typ, "username": "u", "area": area})


def _write_lines(spark, path, lines, name="part0"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"{name}.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _read_stream(spark, path):
    return spark.readStream.format("text").load(path).withColumnRenamed("value", "value")


def _drain(q):
    """Run a query on the default trigger until its source is drained,
    then stop it."""
    q.processAllAvailable()
    q.stop()
    return q


class TestStreamReport:
    def test_converges_to_batch(self, spark, tmp_path):
        lines = [
            _audit("2018-01-01 10:00:05"),
            _audit("2018-01-01 10:00:29"),
            _audit("2018-01-01 10:00:31", typ="black"),
            _audit("2018-13-99 xx"),  # dropped by parse
        ]
        src, res, late, ckpt = (str(tmp_path / d) for d in ("src", "res", "late", "ckpt"))
        _write_lines(spark, src, lines)
        q = stream_report(spark, _read_stream(spark, src), res, late, ckpt)
        q.awaitTermination(120)

        got = spark.read.parquet(res).drop("kb")
        batch = report_aggregate(report_parse(
            spark.createDataFrame([(l,) for l in lines], "value string")))
        assert sorted(map(tuple, got.select(*batch.columns).collect())) == sorted(
            map(tuple, batch.collect())
        )

    def test_late_record_upserts(self, spark, tmp_path):
        src, res, late, ckpt = (str(tmp_path / d) for d in ("src", "res", "late", "ckpt"))
        _write_lines(spark, src, [_audit("2018-01-01 10:00:05")], "b0")
        q = stream_report(spark, _read_stream(spark, src), res, late, ckpt)
        q.awaitTermination(120)
        # batch 2: a second record in the SAME window arrives later but
        # within the 40 s watermark → window re-fires, upsert overwrites
        _write_lines(spark, src, [_audit("2018-01-01 10:00:10"),
                                  _audit("2018-01-01 10:00:45")], "b1")
        q = stream_report(spark, _read_stream(spark, src), res, late, ckpt)
        q.awaitTermination(120)

        rows = {r.doc_id: r for r in spark.read.parquet(res).collect()}
        first_window = rows["2018-01-01_10:00:10-shelf-AREA_US"]
        assert first_window["count"] == 2  # corrected result, not 1

    def test_late_rows_dropped_once_per_trigger(self, spark, tmp_path):
        """The sink runs each micro-batch plan once, so a trigger whose
        file carries k rows behind the watermark reports exactly k in
        numRowsDroppedByWatermark (each extra run counted them again).
        Spark filters late rows against the PREVIOUS batch's watermark,
        so the late file is the third trigger."""
        k = 3
        src, res, late, ckpt = (str(tmp_path / d) for d in ("src", "res", "late", "ckpt"))
        _write_lines(spark, src, [_audit("2018-01-01 10:10:00")], "b0")
        _write_lines(spark, src, [_audit("2018-01-01 10:10:05")], "b1")
        # one late row per window: the partial aggregate before the state
        # store would merge late rows that share a window into one
        _write_lines(spark, src, [_audit(f"2018-01-01 10:0{i}:00") for i in range(k)]
                     + [_audit("2018-01-01 10:10:10")], "b2")
        for i, name in enumerate(("b0", "b1", "b2")):  # fixes the trigger order
            os.utime(os.path.join(src, f"{name}.txt"), (1_000_000 + i, 1_000_000 + i))
        raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
        q = stream_report(spark, raw, res, late, ckpt)
        q.awaitTermination(120)

        dropped = {
            p["batchId"]: sum(s["numRowsDroppedByWatermark"] for s in p["stateOperators"])
            for p in map(json.loads, (p.json for p in q.recentProgress))
            if p["numInputRows"] > 0
        }
        assert dropped == {0: 0, 1: 0, 2: k}

    def test_checkpoint_leaves_no_temp_file_and_restart_resumes(self, spark, tmp_path):
        """build_session writes checkpoint files through the FileSystem
        API: each log and state file is renamed into place, so no
        temp file is left, and a query restarted on the checkpoint
        resumes at the next batch id."""
        assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
            ".FileSystemBasedCheckpointFileManager")
        src, res, late, ckpt = (str(tmp_path / d) for d in ("src", "res", "late", "ckpt"))

        def run(names):
            for name in names:
                _write_lines(spark, src, [_audit(f"2018-01-01 10:0{name[1]}:05")], name)
                os.utime(os.path.join(src, f"{name}.txt"), (1_000_000 + int(name[1]),) * 2)
            raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
            q = stream_report(spark, raw, res, late, ckpt)
            q.awaitTermination(120)
            return [json.loads(p.json)["batchId"] for p in q.recentProgress]

        first = run(["b0", "b1"])  # two data batches, then a no-data one
        assert [f for _, _, fs in os.walk(ckpt) for f in fs if ".tmp" in f] == []
        committed = max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
        assert committed == max(first)
        assert run(["b2"])[0] == committed + 1
        assert {r.doc_id for r in spark.read.parquet(res).collect()} == {
            f"2018-01-01_10:0{m}:05-shelf-AREA_US" for m in range(3)}

    def test_late_split_side_output(self, spark, tmp_path):
        src, res, late, ckpt = (str(tmp_path / d) for d in ("src", "res", "late", "ckpt"))
        _write_lines(spark, src, [_audit("2018-01-01 10:10:00")], "b0")
        _drain(stream_report_with_late_split(spark, _read_stream(spark, src), res, late, ckpt))
        # > 40 s older than max seen event time → late channel (W4)
        _write_lines(spark, src, [_audit("2018-01-01 10:00:00", typ="black")], "b1")
        _drain(stream_report_with_late_split(spark, _read_stream(spark, src), res, late, ckpt))

        late_lines = [r.value for r in spark.read.text(late).collect()]
        assert any("black" in l for l in late_lines)
        res_types = {r.type for r in spark.read.parquet(res).collect()}
        assert "black" not in res_types  # late record kept out of results


    # a window over two triggers, then a late row in the second trigger
    _REPLAY_FILES = [("b0", [_audit("2018-01-01 10:10:05")]),
                     ("b1", [_audit("2018-01-01 10:10:10"),
                             _audit("2018-01-01 10:00:00", typ="black")])]

    def _run_late_split(self, spark, tmp_path, files, ckpt_scheme=""):
        """Each (name, lines) file is its own trigger, in order. The
        checkpoint is passed as `ckpt_scheme` + its local path."""
        src, res, late, ckpt = (str(tmp_path / d) for d in ("src", "res", "late", "ckpt"))
        for i, (name, lines) in enumerate(files):
            _write_lines(spark, src, lines, name)
            os.utime(os.path.join(src, f"{name}.txt"), (1_000_000 + i, 1_000_000 + i))
        raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
        _drain(stream_report_with_late_split(spark, raw, res, late, ckpt_scheme + ckpt))
        return src, res, late, ckpt

    def _snapshot(self, spark, res, late):
        return (sorted(map(tuple, spark.read.parquet(res).drop("kb").collect())),
                sorted(r.value for r in spark.read.text(late).collect()))

    def _replay_last_epoch(self, spark, src, res, late, ckpt, ckpt_scheme=""):
        """Delete the last commit (and its .crc) and restart the query:
        Spark re-runs that epoch. Returns the ids of the batches that ran
        (an idle trigger's progress has no addBatch)."""
        last = max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
        for name in (str(last), f".{last}.crc"):
            os.remove(os.path.join(ckpt, "commits", name))
        raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
        q = _drain(stream_report_with_late_split(spark, raw, res, late, ckpt_scheme + ckpt))
        return last, [p["batchId"] for p in map(json.loads, (p.json for p in q.recentProgress))
                      if "addBatch" in p["durationMs"]]

    def test_late_split_runs_until_stopped(self, spark, tmp_path):
        """The late split runs on the default trigger, like the deployed
        report job: a drained source leaves the query active."""
        src, res, late, ckpt = (str(tmp_path / d) for d in ("src", "res", "late", "ckpt"))
        _write_lines(spark, src, [_audit("2018-01-01 10:10:00")], "b0")
        q = stream_report_with_late_split(spark, _read_stream(spark, src), res, late, ckpt)
        try:
            q.processAllAvailable()
            assert not q.awaitTermination(2)
            assert q.isActive
        finally:
            q.stop()
        assert spark.read.parquet(res).count() == 1

    def test_late_split_window_over_two_triggers_converges(self, spark, tmp_path):
        """A window whose rows arrive over two triggers gets the batch
        twin's count, not the second trigger's partial count."""
        files = [("b0", [_audit("2018-01-01 10:00:05")]),
                 ("b1", [_audit("2018-01-01 10:00:10"), _audit("2018-01-01 10:00:20")])]
        _, res, _, _ = self._run_late_split(spark, tmp_path, files)

        got = {(r.doc_id, r["count"]) for r in spark.read.parquet(res).collect()}
        twin = report_aggregate(report_parse(spark.createDataFrame(
            [(l,) for _, ls in files for l in ls], "value string")))
        expected = {(r.doc_id, r["count"]) for r in twin.collect()}
        assert expected == {("2018-01-01_10:00:20-shelf-AREA_US", 3)}
        assert expected <= got  # earlier versions stay under older doc ids

    def test_late_split_replayed_epoch_is_a_no_op(self, spark, tmp_path):
        """Losing the last commit makes Spark re-run that epoch on
        restart; the recorded epoch id keeps the re-run from counting
        its rows (or writing its late rows) a second time."""
        src, res, late, ckpt = self._run_late_split(spark, tmp_path, self._REPLAY_FILES)
        before = self._snapshot(spark, res, late)
        assert ("2018-01-01 10:10:10", "shelf", "AREA_US", 2,
                "2018-01-01_10:10:10-shelf-AREA_US") in before[0]
        assert len(before[1]) == 1
        last, rerun = self._replay_last_epoch(spark, src, res, late, ckpt)
        # the epoch did re-run (its rows unread, so numInputRows is 0)
        assert rerun == [last]
        assert self._snapshot(spark, res, late) == before

    def test_late_split_state_stays_on_a_file_uri_checkpoint(
        self, spark, tmp_path, monkeypatch
    ):
        """A `file://` checkpoint keeps the watermark and replay-guard
        state in the checkpoint directory, on the checkpoint's file
        system, not in a `file:` directory under the process's working
        directory; a replayed epoch after the restart is still a no-op."""
        monkeypatch.chdir(tmp_path)
        src, res, late, ckpt = self._run_late_split(
            spark, tmp_path, self._REPLAY_FILES, "file://")
        state = os.path.join(ckpt, "_late_split_watermark.json")
        with open(state) as f:
            assert json.load(f)["max_ts"] == "2018-01-01 10:10:10.000000"
        assert not os.path.exists(tmp_path / "file:")
        before = self._snapshot(spark, res, late)
        last, rerun = self._replay_last_epoch(spark, src, res, late, ckpt, "file://")
        assert rerun == [last]
        assert self._snapshot(spark, res, late) == before
        assert not os.path.exists(tmp_path / "file:")


class TestStreamClean:
    def test_clean_stream_with_dim_reload(self, spark, tmp_path):
        lines = [json.dumps({
            "dt": "2018-01-01 11:11:11", "countryCode": "TW",
            "data": [{"type": "s1", "score": 0.3, "level": "A"}],
        })]
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        _write_lines(spark, src, lines)
        q = stream_clean(spark, _read_stream(spark, src), dim_area, out, ckpt)
        q.awaitTermination(120)
        recs = [json.loads(r.value) for r in spark.read.parquet(out).collect()]
        assert recs == [{"type": "s1", "score": 0.3, "level": "A",
                         "area": "AREA_CT", "dt": "2018-01-01 11:11:11"}]

    def test_replayed_epoch_replaces_its_output(self, spark, tmp_path):
        """Delete the last commit and restart: Spark re-runs that epoch,
        and the store still equals the replay-free run."""
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        for i, code in enumerate(("TW", "US")):
            _write_lines(spark, src, [json.dumps({
                "dt": f"2018-01-01 11:11:1{i}", "countryCode": code,
                "data": [{"type": "s1", "score": 0.3, "level": "A"}],
            })], f"b{i}")
            os.utime(os.path.join(src, f"b{i}.txt"), (1_000_000 + i, 1_000_000 + i))

        def run():
            raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
            q = stream_clean(spark, raw, dim_area, out, ckpt)
            q.awaitTermination(120)
            return [json.loads(p.json)["batchId"] for p in q.recentProgress]

        def store():
            return sorted(map(tuple, spark.read.parquet(out).collect()))

        assert run() == [0, 1]
        before = store()
        assert len(before) == 2
        for name in ("1", ".1.crc"):
            os.remove(os.path.join(ckpt, "commits", name))
        assert run() == [1]
        assert store() == before


class TestStatefulSessionize:
    def _feed(self, spark, src, rows, name):
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(src)

    def test_sessions_close_on_gap_and_converge_to_batch(self, spark, tmp_path):
        from datetime import datetime, timedelta

        from flinkproj_spark.streaming.stateful import stream_sessionize

        t0 = datetime(2018, 1, 1, 10, 0, 0)
        m = timedelta(minutes=1)
        # user 1: two sessions (gap 40 min); user 2: one session; then a
        # far-future closer event per user forces the open session shut
        # in-stream (deterministic — no reliance on timeout firing).
        batch1 = [(1, t0), (1, t0 + 2 * m), (2, t0 + m)]
        batch2 = [(1, t0 + 45 * m), (2, t0 + 10 * m)]
        closer = [(u, t0 + timedelta(hours=5)) for u in (1, 2)]

        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
        for i, rows in enumerate((batch1, batch2, closer)):
            self._feed(spark, src, rows, f"b{i}")

        events = spark.readStream.schema("user_id long, ts timestamp").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            stream_sessionize(events)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(out).collect()
        }
        assert (1, t0, t0 + 2 * m, 2) in got          # first session of user 1
        assert (1, t0 + 45 * m, t0 + 45 * m, 1) in got  # second session of user 1
        assert (2, t0 + m, t0 + 10 * m, 2) in got       # user 2's one session

    def test_state_survives_restart(self, spark, tmp_path):
        from datetime import datetime, timedelta

        from flinkproj_spark.streaming.stateful import stream_sessionize

        t0 = datetime(2018, 1, 1, 10, 0, 0)
        src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

        def run():
            events = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
            q = (
                stream_sessionize(events)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        self._feed(spark, src, [(7, t0), (7, t0 + timedelta(minutes=5))], "b0")
        run()  # session is open in state; nothing emitted yet
        self._feed(spark, src, [(7, t0 + timedelta(hours=2))], "b1")
        run()  # restart from checkpoint; the gap closes the old session

        rows = spark.read.parquet(out).collect()
        assert (7, t0, t0 + timedelta(minutes=5), 2) in {
            (r.user_id, r.session_start, r.session_end, r.n_events) for r in rows
        }
