from __future__ import annotations

import json

import eventlog


def _write(path, events):
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")


def _task(stage, run_ms, cpu_ns=1_000_000, read=0, write=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": {},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
                "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": write}}}


def test_synthetic_log(tmp_path):
    plan = {"nodeName": "SortMergeJoin", "children": [
        {"nodeName": "Exchange", "children": [{"nodeName": "Scan parquet ", "children": []}]},
        {"nodeName": "MapInPandas", "children": [{"nodeName": "Scan parquet ", "children": []}]}]}
    path = str(tmp_path / "log")
    _write(path, [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "k#0",
                                              "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 20,
         "Stage IDs": [1, 2], "Properties": {"streaming.sql.batchId": "7"}},
        _task(0, 10, write=100), _task(0, 30, write=50), _task(1, 5, read=20),
        {"Event": eventlog.SQL_START, "executionId": 3, "sparkPlanInfo": {"nodeName": "x"}},
        {"Event": eventlog.SQL_AQE, "executionId": 3, "sparkPlanInfo": plan},
    ])
    log = eventlog.read([path])
    assert log.jobs[0].group == "k#0" and log.jobs[0].execution == 3
    assert log.jobs[1].batch == 7 and log.jobs[1].group is None
    m = eventlog.exec_metrics(log, [0, 1])
    assert m["exec.jobs"] == 2 and m["exec.stages"] == 2 and m["exec.tasks"] == 3
    assert m["exec.run_s"] == 0.045 and m["exec.cpu_s"] == 0.003
    assert m["exec.shuffle_write_bytes"] == 150 and m["exec.shuffle_read_bytes"] == 40
    assert m["exec.spill_bytes"] == 15 and m["exec.task_skew"] == 30 / 20
    assert eventlog.plan_counts(log, [3]) == {
        "plan.exchanges": 1, "plan.sort_merge_joins": 1, "plan.broadcast_joins": 0,
        "plan.scans": 2, "plan.python_evals": 1}


def test_tiny_spark_run(spark, event_dir, tmp_path):
    src = str(tmp_path / "t.parquet")
    spark.range(1000).selectExpr("id", "id % 7 AS k").coalesce(1).write.parquet(src)
    df = spark.read.parquet(src).groupBy("k").count()
    sc = spark.sparkContext
    sc.setJobGroup("tiny#0", "tiny")
    rows = df.collect()
    sc.setJobGroup("", "")
    assert len(rows) == 7
    # the log is flushed as events arrive; read it while the app runs
    log = eventlog.read(eventlog.find_log(event_dir))
    jobs = eventlog.jobs_where(log, lambda j: j.group == "tiny#0")
    m = eventlog.exec_metrics(log, jobs)
    # one scan task, then shuffle.partitions = 2 reduce tasks
    assert m["exec.stages"] == 2 and m["exec.tasks"] == 3
    assert m["exec.shuffle_write_bytes"] > 0
    assert m["exec.shuffle_read_bytes"] == m["exec.shuffle_write_bytes"]
    execs = {log.jobs[j].execution for j in jobs}
    assert eventlog.plan_counts(log, execs) == {
        "plan.exchanges": 1, "plan.sort_merge_joins": 0, "plan.broadcast_joins": 0,
        "plan.scans": 1, "plan.python_evals": 0}
