"""The expected-result replay against the hand cases of
tests/test_streaming.py, and a tiny end-to-end stream through the checks."""

from __future__ import annotations

import json

import stream
from corpus import audit_backlog


def _audit(dt, typ="shelf", area="AREA_US"):
    return json.dumps({"dt": dt, "type": typ, "username": "u", "area": area})


def test_replay_converges_to_batch_case(spark):
    lines = [
        _audit("2018-01-01 10:00:05"),
        _audit("2018-01-01 10:00:29"),
        _audit("2018-01-01 10:00:31", typ="black"),
        _audit("2018-13-99 xx"),  # dropped by parse
    ]
    assert stream.expected_rows(spark, lines) == {
        ("2018-01-01_10:00:29-shelf-AREA_US", 2),
        ("2018-01-01_10:00:31-black-AREA_US", 1),
    }


def test_replay_late_record_upserts_case(spark):
    lines = [_audit("2018-01-01 10:00:05"), _audit("2018-01-01 10:00:10"),
             _audit("2018-01-01 10:00:45")]
    got = dict(stream.expected_rows(spark, lines))
    assert got["2018-01-01_10:00:10-shelf-AREA_US"] == 2  # corrected, not 1
    assert got["2018-01-01_10:00:45-shelf-AREA_US"] == 1


def test_tiny_stream_passes_the_checks(spark, tmp_path):
    from flinkproj_spark.streaming.pipelines import stream_report

    b = audit_backlog(str(tmp_path / "src"), 4, 60, 5)
    raw = (spark.readStream.schema("value string").format("text")
           .option("maxFilesPerTrigger", 1).load(str(tmp_path / "src")))
    res = str(tmp_path / "res")
    q = stream_report(spark, raw, res, str(tmp_path / "late"), str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    batches = [json.loads(p.json) for p in q.recentProgress]
    batches = [p for p in batches if p["numInputRows"] > 0]
    assert len(batches) == 4
    got = {tuple(r) for r in spark.read.parquet(res).select("doc_id", "count").collect()}
    assert stream.expected_rows(spark, b.on_time) <= got
    for p, late in zip(batches, b.late_per_file):
        dropped = sum(s["numRowsDroppedByWatermark"] for s in p["stateOperators"])
        assert stream.drop_count_ok(dropped, late)
    assert b.late_per_file == [0, 0, 3, 3]
