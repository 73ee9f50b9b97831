"""The catalog_small workload: registry keys built and run into a `noop` sink.

One client, the benchmark process, runs a closed loop: build a key's
DataFrame, run it into the `noop` sink, `clearCache()`, next key. The
first pass over the keys is the warm-up and the output check: each key is
collected and compared with its DuckDB `oracle_sql()` twin. The check's
DuckDB and compare time is taken out of `setup_s`. Then come the timed
passes, `round(seconds / PASS_BUDGET_S)` of them and at least two: a fixed
amount of work, so every run measures the same point of the JVM's
warm-up, which goes on for minutes.
"""

from __future__ import annotations

import os
import statistics
import time

import corpus
import eventlog
from metrics import Result, percentile

PASS_BUDGET_S = 15.0  # one timed pass of the keys on a 4-core host


# One registry key from each operator module but graph, whose keys take
# three times the median key and do not fit the run budget. At this
# corpus size fixed per-query cost (table load, plan build over py4j,
# Catalyst, job scheduling) decides each key's time.
KEYS = (
    "json_extract",                  # clean
    "ts_parse",                      # report
    "tpch_q6",                       # relational
    "tpch_q4",                       # tpch
    "tpch_q12",                      # tpch2
    "dedup_exact",                   # dedup
    "paragraph_dedup",               # curation
    "text_token_count",              # text
    "corpus_stats",                  # retrieval
    "embedding_centroids",           # similarity
    "multimodal_meta",               # multimodal
    "percentile_stats",              # stats
    "grouping_sets_counts",          # analytic
    "rolling_median",                # timeseries
    "cms_heavy_hitters",             # screens
    "k_anonymity_report",            # privacy
    "temperature_mix",               # sampling
    "pipeline_report",               # e2e
)


class LoadTimer:
    """Wraps the `load_table` name each flinkproj_spark module imported,
    counting calls and seconds while `active`."""

    def __init__(self):
        import sys

        from flinkproj_spark.sources import tables

        self.active = False
        self.calls, self.seconds = 0, 0.0
        original = tables.load_table

        def load_table(*a, **kw):
            if not self.active:
                return original(*a, **kw)
            t0 = time.perf_counter()
            try:
                return original(*a, **kw)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        for name, mod in list(sys.modules.items()):
            if name.startswith("flinkproj_spark") and getattr(mod, "load_table", None) is original:
                mod.load_table = load_table

    def reset(self) -> None:
        self.calls, self.seconds = 0, 0.0


def _phases_ms(df) -> dict[str, float]:
    """Catalyst phase times from the DataFrame's own QueryExecution; the
    noop write plans the same logical plan again under its own."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


def _check(spark, qs, oracles, keys, sf_dir, result):
    """Warm-up pass: collect each key and compare it with its oracle.
    Returns (result rows per key, seconds spent outside Spark)."""
    import duckdb
    from flinkproj_spark.sources.tables import TABLES
    from oracle_check import _canon

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    rows, outside = {}, 0.0
    for key in keys:
        try:
            got = qs[key](spark, sf_dir).toPandas()
        except Exception as e:  # a failing key is counted, the run goes on
            result.check(False, f"{key}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        want = con.execute(oracles[key]).df()
        result.check(_canon(got) == _canon(want), f"{key}: oracle mismatch")
        rows[key] = len(got)
        outside += time.perf_counter() - t0
    con.close()
    return rows, outside


def run(host, args, process_start: float) -> Result:
    result = Result()
    sf_dir = os.path.join(host.run_dir, "corpus")
    t0 = time.perf_counter()
    corpus.write_corpus(sf_dir, args.seed)
    corpus_s = time.perf_counter() - t0
    spark = host.start()
    t0 = time.perf_counter()
    from flinkproj_spark import registry
    qs, oracles = registry.queries(), registry.oracle_sql()
    result.layers["registry.import_s"] = time.perf_counter() - t0
    loads = LoadTimer() if args.trace else None

    t0 = time.perf_counter()
    rows, check_s = _check(spark, qs, oracles, KEYS, sf_dir, result)
    warm_s = time.perf_counter() - t0 - check_s
    sc = spark.sparkContext
    ops: list[dict] = []
    start = time.time()
    for i in range(max(2, round(args.seconds / PASS_BUDGET_S))):
        for j, key in enumerate(KEYS):
            # every pass holds traced and bare ops, and each key alternates
            traced = bool(args.trace) and (i + j) % 2 == 0
            op = {"key": key, "group": f"{key}#{i}", "traced": traced}
            sc.setJobGroup(op["group"], key)
            if loads:
                loads.reset()
                loads.active = op["traced"]
            t_op = time.perf_counter()
            try:
                df = qs[key](spark, sf_dir)
                op["build_end_ms"] = time.time() * 1e3
                t_build = time.perf_counter() - t_op
                if op["traced"]:
                    op.update(_phases_ms(df))
                    op["sources.load_calls"] = loads.calls
                    op["sources.load_s"] = loads.seconds
                    op["operators.build_s"] = t_build - loads.seconds
                df.write.format("noop").mode("overwrite").save()
                op["t"] = time.perf_counter() - t_op
                if op["traced"]:
                    op["cache.leaked_rdds"] = sc._jsc.getPersistentRDDs().size()
            except Exception as e:  # a failing op is counted, the loop goes on
                result.check(False, f"{key} op {i}: {type(e).__name__}: {str(e)[:200]}")
                continue
            finally:
                spark.catalog.clearCache()
            result.attempted += 1
            ops.append(op)
    sc.setJobGroup("", "")
    wall = time.time() - start
    setup_s = start - process_start - check_s

    times = [op["t"] for op in ops]
    per_key = _per_key(ops, "t", lambda op: not op["traced"])
    result.end_to_end = {
        "setup_s": setup_s,
        "wall_s": wall,
        "op_p50_ms": percentile(times, 50) * 1e3,
        "op_p90_ms": percentile(times, 90) * 1e3,
        "rows_per_s": sum(rows.get(op["key"], 0) for op in ops) / sum(times),
    }
    result.record = {
        "workload": args.workload, "sf": corpus.SF, "keys": list(KEYS),
        "ops": len(ops), "check_s": check_s,
        "setup_parts_s": {"corpus": corpus_s, "session": host.session_start_s,
                          "registry": result.layers["registry.import_s"],
                          "warm_pass": warm_s},
        "key_median_s": per_key, "result_rows": rows,
        "pass_s": [sum(op["t"] for op in ops[i:i + len(KEYS)])
                   for i in range(0, len(ops), len(KEYS))],
    }
    if args.trace:
        traced = _per_key(ops, "t", lambda op: op["traced"])
        result.layers["trace.overhead_s"] = sum(traced.values()) - sum(per_key.values())
        result.trace_reader = lambda res, d: _read_trace(res, d, ops, host.cpus)
    return result


def _per_key(ops, name, keep=lambda op: True) -> dict[str, float]:
    vals: dict[str, list[float]] = {}
    for op in ops:
        if keep(op) and name in op:
            vals.setdefault(op["key"], []).append(op[name])
    return {k: statistics.median(v) for k, v in vals.items()}


def _read_trace(result: Result, event_dir: str, ops: list[dict], cpus: int) -> None:
    """Per-layer metrics: each is the per-key median over that key's ops,
    summed over the keys (one pass's worth). Python-side layers come from
    the instrumented ops, event-log layers from every op."""
    log = eventlog.read(eventlog.find_log(event_dir))
    by_group: dict[str, list[int]] = {}
    for jid, job in log.jobs.items():
        by_group.setdefault(job.group, []).append(jid)
    for op in ops:
        jobs = by_group.get(op["group"], [])
        op.update(eventlog.exec_metrics(log, jobs))
        op.update(eventlog.plan_counts(log, [log.jobs[j].execution for j in jobs
                                             if log.jobs[j].execution is not None]))
        op["operators.eager_jobs"] = sum(log.jobs[j].submit_ms <= op["build_end_ms"]
                                         for j in jobs)
    lay = result.layers
    for name in lay:
        if name.split(".")[0] in ("sources", "operators", "catalyst", "plan", "exec", "cache"):
            per_key = _per_key(ops, name)
            if per_key:
                lay[name] = sum(per_key.values())
    lay["exec.task_skew"] = statistics.median(_per_key(ops, "exec.task_skew").values())
    lay["exec.cpu_share"] = lay["exec.cpu_s"] / lay["exec.run_s"] if lay["exec.run_s"] else 0
    wall = sum(_per_key(ops, "t").values())
    lay["exec.core_busy_share"] = lay["exec.run_s"] / (cpus * wall)
    result.record["op_share"] = {
        "load_build": (lay["sources.load_s"] + lay["operators.build_s"]) / wall,
        "exec_run_per_core": lay["exec.run_s"] / cpus / wall,
    }
