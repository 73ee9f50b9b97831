"""The report_stream workload: DataReport over a backlog of auditLog files.

`streaming.pipelines.stream_report` drains the generated backlog one file
per trigger (`maxFilesPerTrigger=1`, `availableNow`): update mode,
RocksDB state, a 40 s watermark and `sinks.upsert_keyed` into parquet.
An op is one micro-batch; its time is the progress record's
`triggerExecution`. The first `WARM_FILES` triggers are the warm-up.
The timed files number `--seconds / TRIGGER_BUDGET_S`, so a run measures
about `--seconds` of triggers on today's code.

Checks, after the stream ends:
  * every row of the batch twin `report_aggregate(report_parse(on-time
    rows))` is in the result with the same `doc_id` and `count` (earlier
    re-fires leave rows under older doc_ids, per the reference key spec);
  * each trigger's `numRowsDroppedByWatermark` is a whole multiple, at
    least one, of the late rows in its file, and zero when it has none:
    Spark counts a dropped row once per run of the micro-batch plan, and
    `upsert_keyed` runs that plan several times per trigger.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from datetime import datetime

import eventlog
from corpus import audit_backlog
from metrics import Result, percentile

WARM_FILES = 4
TRIGGER_BUDGET_S = 4.0
ROWS_PER_FILE = 1000


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class UpsertTimer:
    """Wraps `sinks.upsert_keyed`, which stream_report imports per call,
    and times the calls of even-numbered batches; odd batches run bare,
    so the two halves give the tracing overhead."""

    def __init__(self):
        from flinkproj_spark import sinks

        self.batches = 0
        self.seconds: dict[int, float] = {}  # batch id -> upsert seconds
        original = sinks.upsert_keyed
        self._restore = lambda: setattr(sinks, "upsert_keyed", original)

        def upsert_keyed(batch, result_dir, key="doc_id"):
            batch_id = self.batches
            self.batches += 1
            if batch_id % 2:
                return original(batch, result_dir, key)
            t0 = time.perf_counter()
            try:
                return original(batch, result_dir, key)
            finally:
                self.seconds[batch_id] = time.perf_counter() - t0

        sinks.upsert_keyed = upsert_keyed

    def close(self) -> None:
        self._restore()


def drop_count_ok(dropped: int, late: int) -> bool:
    """Spark counts a dropped row once per run of the micro-batch plan."""
    return dropped == 0 if late == 0 else dropped >= late and dropped % late == 0


def expected_rows(spark, on_time: list[str]) -> set[tuple[str, int]]:
    """(doc_id, count) of the batch twin over the on-time lines: the final
    version of every window the stream must have upserted."""
    from flinkproj_spark.pipelines import report_aggregate, report_parse

    lines = spark.createDataFrame([(line,) for line in on_time], "value string")
    rows = report_aggregate(report_parse(lines)).select("doc_id", "count").collect()
    return {tuple(r) for r in rows}


def run(host, args, process_start: float) -> Result:
    result = Result()
    work = host.run_dir
    n_timed = max(3, math.ceil(args.seconds / TRIGGER_BUDGET_S))
    backlog = audit_backlog(os.path.join(work, "src"), WARM_FILES + n_timed,
                            ROWS_PER_FILE, args.seed)
    spark = host.start()
    t0 = time.perf_counter()
    from flinkproj_spark.streaming.pipelines import stream_report
    result.layers["registry.import_s"] = time.perf_counter() - t0
    upserts = UpsertTimer() if args.trace else None

    res_dir = os.path.join(work, "result")
    raw = (spark.readStream.schema("value string").format("text")
           .option("maxFilesPerTrigger", 1).load(os.path.join(work, "src")))
    try:
        q = stream_report(spark, raw, res_dir, os.path.join(work, "late"),
                          os.path.join(work, "checkpoint"))
        q.awaitTermination()
    finally:
        if upserts:
            upserts.close()
    progress = [json.loads(p.json) for p in q.recentProgress]
    batches = [p for p in progress if p["numInputRows"] > 0]
    timed = batches[WARM_FILES:]
    ops = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
    result.attempted += len(batches)

    first, last = timed[0], timed[-1]
    wall = _epoch(last["timestamp"]) + ops[-1] - _epoch(first["timestamp"])
    result.end_to_end = {
        "setup_s": _epoch(first["timestamp"]) - process_start,
        "wall_s": wall,
        "op_p50_ms": percentile(ops, 50) * 1e3,
        "op_p90_ms": percentile(ops, 90) * 1e3,
        "rows_per_s": sum(p["numInputRows"] for p in timed) / wall,
    }

    # output checks, outside the timed window and outside setup_s
    result.check(len(batches) == len(backlog.files),
                 f"{len(batches)} data triggers for {len(backlog.files)} files")
    got = {tuple(r) for r in spark.read.parquet(res_dir).select("doc_id", "count").collect()}
    missing = sorted(expected_rows(spark, backlog.on_time) - got)
    result.check(not missing, f"{len(missing)} batch-twin rows missing, e.g. {missing[:3]}")
    runs = []
    for p, late in zip(batches, backlog.late_per_file):
        dropped = sum(s["numRowsDroppedByWatermark"] for s in p["stateOperators"])
        result.check(drop_count_ok(dropped, late),
                     f"batch {p['batchId']}: {dropped} dropped for {late} late rows")
        if late:
            runs.append(dropped / late)

    result.record = {
        "workload": args.workload, "files": len(backlog.files),
        "rows_per_file": ROWS_PER_FILE, "late_rows": backlog.late,
        "timed_triggers": len(timed), "trigger_s": ops,
        "progress": [{"batch": p["batchId"], "durationMs": p["durationMs"],
                      "state": p["stateOperators"]} for p in batches],
    }
    if args.trace:
        lay = result.layers

        def dur(name):
            return statistics.median(p["durationMs"].get(name, 0) for p in timed)

        def state(name):
            return statistics.median(sum(s[name] for s in p["stateOperators"]) for p in timed)

        def half(parity):
            return statistics.median(t for p, t in zip(timed, ops) if p["batchId"] % 2 == parity)

        lay.update({
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.get_batch_ms": dur("getBatch"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.state_rows": state("numRowsTotal"),
            "stream.state_memory_bytes": state("memoryUsedBytes"),
            "stream.rows_dropped_by_watermark": sum(
                s["numRowsDroppedByWatermark"] for p in timed for s in p["stateOperators"]),
            "stream.plan_runs_per_trigger": statistics.median(runs) if runs else 0,
        })
        timed_ids = {p["batchId"] for p in timed}
        calls = [s for b, s in upserts.seconds.items() if b in timed_ids]
        lay["sinks.upsert_calls"] = sum(b in timed_ids for b in range(upserts.batches))
        lay["sinks.upsert_s"] = statistics.median(calls)
        files = [os.path.join(d, f) for d, _, fs in os.walk(res_dir)
                 for f in fs if f.endswith(".parquet")]
        lay["sinks.result_files"] = len(files)
        lay["sinks.result_bytes"] = sum(os.path.getsize(f) for f in files)
        lay["trace.overhead_s"] = (half(0) - half(1)) * len(timed)
        result.trace_reader = lambda res, d: _read_trace(res, d, timed_ids, host.cpus, ops)
    return result


def _read_trace(result: Result, event_dir: str, timed_ids, cpus: int, ops) -> None:
    """Executor metrics per timed trigger, taken as medians over triggers."""
    log = eventlog.read(eventlog.find_log(event_dir))
    per_trigger = []
    for b in sorted(timed_ids):
        jobs = eventlog.jobs_where(log, lambda j: j.batch == b)
        m = eventlog.exec_metrics(log, jobs)
        m.update(eventlog.plan_counts(log, {log.jobs[j].execution for j in jobs
                                            if log.jobs[j].execution is not None}))
        per_trigger.append(m)
    lay = result.layers
    for name in per_trigger[0]:
        lay[name] = statistics.median(m[name] for m in per_trigger)
    lay["exec.cpu_share"] = lay["exec.cpu_s"] / lay["exec.run_s"] if lay["exec.run_s"] else 0
    lay["exec.core_busy_share"] = lay["exec.run_s"] / (cpus * statistics.median(ops))
