"""Benchmark harness: times registry keys on the corpus at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 corpus, see SF_DIR) on
`build_session`'s default master: local[$SPARK_GRAFT_CPUS], or every
core the process may run on.

    python bench.py [--repo DIR] [--passes N] [KEY ...]

With no KEY it times every registered key, prints the full record
    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "build": {name: sec, ...},
     "compiles": {name: count, ...}, "sf": ..., "config": {...}}
writes it to the timed checkout's BENCH_FULL.json, and ends with ONE
compact summary line for the driver. With KEYs it times only those and
prints only the record. `--repo DIR` imports the engine from another
checkout: run two checkouts alternately the same hour and compare the
printed minima (interleaved fresh-JVM A/B — same-code runs minutes
apart have drifted up to 2.6x, so only interleaved minima compare).

Each key is timed as a full plan execution into a no-op sink (all the
work, none of the driver collect), fresh action per key, shared
SparkSession — per BASELINE.md's measurement plan. `queries` is the
total per key, `build` its plan-construction share (`fn(spark, sf_dir)`:
py4j plan building plus any trainer collects); both are minima over
the passes, and a key that raises on any pass records -1.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from collections.abc import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def warm_up(spark, sf_dir: str) -> None:
    """Charge one-time JVM, reader and worker start-up to no key."""
    from flinkproj_spark.sources.tables import TABLES, load_table

    # JVM/codegen warmup on a trivial plan so query 1 isn't charged for it.
    spark.range(1000).selectExpr("sum(id)").collect()
    # Warm the parquet reader + FS classes with a 1-row peek per table
    # (footer read only) — otherwise whichever query runs first absorbs
    # one-time class-loading that isn't part of its plan. The peek also
    # fills load_table's schema memo, so no key pays a table's inference.
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).limit(1).collect()
        except Exception:
            pass
    # Spawn+warm the Python/Arrow UDF workers (reused session-wide) so
    # the first pandas-UDF query isn't charged ~1 s of worker startup.
    workers = spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long")
    workers.write.format("noop").mode("overwrite").save()


def time_keys(
    spark, sf_dir: str, queries: dict[str, Callable], passes: int
) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
    """Per-key minimum over `passes` of (total, build) seconds; -1 for a
    key that raised on any pass. The third map is each key's Janino
    compiles on the last pass: 0 once its generated classes are cached,
    more for a key whose generated code changes from run to run."""
    # The first pass at each key is still a cold plan (fresh Catalyst
    # analysis + codegen); the minimum rejects host-noise outliers (CPU
    # steal / page-cache stalls measured at 10-15 s on ~0.5 s queries,
    # ~50% of runs) that would otherwise be charged to whichever query
    # they landed on. Steady-state per-key wall time is the metric
    # BASELINE.md declares.
    times: dict[str, float] = {}
    build: dict[str, float] = {}
    compiles: dict[str, int] = {}
    # JVM-wide count of generated classes Janino has compiled so far
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount
    for _pass in range(passes):
        for name, fn in queries.items():
            c0 = compiled()
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                times[name] = min(times.get(name, float("inf")), round(t2 - t0, 3))
                build[name] = min(build.get(name, float("inf")), round(t1 - t0, 3))
            except Exception as e:  # a failing query must not hide the rest
                times[name] = build[name] = -1.0
                print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
            finally:
                # keys that keep a caller-owned cache (the MinHash
                # signature cache, the semdedup corpus) would otherwise
                # accumulate MEMORY_AND_DISK blocks across the 260-key
                # sweep; each key pays its own materialization, none
                # inherits another's cache
                spark.catalog.clearCache()
                compiles[name] = compiled() - c0
    return times, build, compiles


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=HERE,
                    help="checkout whose flinkproj_spark is timed")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("keys", nargs="*", metavar="KEY")
    a = ap.parse_args()
    if a.passes < 1:
        ap.error("--passes must be at least 1")
    root = os.path.abspath(a.repo)
    sf_dir = os.path.abspath(SF_DIR)
    sys.path.insert(0, root)
    # Python workers do not inherit the driver's sys.path: their first
    # import root is the directory the JVM starts in, ahead of any
    # PYTHONPATH entry. Starting it in `root` makes UDFs import the same
    # flinkproj_spark as the driver, whatever directory the run came from.
    os.chdir(root)

    from flinkproj_spark import registry

    queries = registry.queries()
    unknown = [k for k in a.keys if k not in queries]
    if unknown:
        ap.error(f"unknown key(s) {unknown}; `python -m flinkproj_spark list`")
    if a.keys:
        queries = {k: queries[k] for k in a.keys}

    from flinkproj_spark.session import build_session

    spark = build_session("flinkproj_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    times, build, compiles = time_keys(spark, sf_dir, queries, a.passes)

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    total = round(sum(t for t in times.values() if t >= 0), 3)
    config = {
        "spark": spark.version,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    spark.stop()
    full = {
        "metric": "total_wall_sec_all_queries",
        "value": total,
        "unit": "sec",
        "queries": times,
        "build": build,
        "compiles": compiles,
        "sf": sf,
        "config": config,
    }
    # Full per-key record: printed for humans AND, for a full run,
    # persisted in the timed checkout so per-key history survives
    # stdout truncation.
    print(json.dumps(full))
    if a.keys:
        return
    try:
        with open(os.path.join(root, "BENCH_FULL.json"), "w") as f:
            json.dump(full, f, indent=1)
    except OSError as e:
        print(f"BENCH WARN could not write BENCH_FULL.json: {e}", file=sys.stderr)
    # The driver records only the LAST ~2000 chars of stdout and parses
    # the final line as JSON; the full line above is ~10 KB for 260
    # keys and overflows that window. The very last line is therefore a
    # compact summary (aggregates + the slowest keys) guaranteed to fit.
    ok = sorted((t for t in times.values() if t >= 0))
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "total_wall_sec_all_queries",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "n_errors": sum(1 for t in times.values() if t < 0),
        "errors": sorted(k for k, t in times.items() if t < 0),
        "median_sec": round(ok[len(ok) // 2], 3) if ok else None,
        "p95_sec": round(ok[int(len(ok) * 0.95)], 3) if ok else None,
        "max_sec": round(ok[-1], 3) if ok else None,
        "slowest": slowest,
        "compiles": sum(compiles.values()),
        "queries_full_file": "BENCH_FULL.json",
        "config": config,
    }))


if __name__ == "__main__":
    main()
