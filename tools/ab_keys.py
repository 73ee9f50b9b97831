"""Isolated A/B bench for ANY set of registry keys, kept as the house
protocol for adjudicating suspected per-key regressions between two
checkouts.

Usage:
    python tools/ab_keys.py <repo_root> <label> key1 [key2 ...]
    # options via env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
    #                  AB_PASSES (default 3)

Protocol (identical to bench.py's steady-state discipline):
  fresh JVM per invocation; JVM + table-cache + Arrow warmup; noop
  sink (no driver collect); clearCache between keys; N passes with
  per-key MIN kept (host-noise-rejecting). Run the two checkouts
  ALTERNATELY the same day (worktree the older commit, e.g.
  `git worktree add .ab_rX <commit>`) and compare the printed mins —
  same-code runs minutes apart have measured up to 2.6x drift, so
  only interleaved minima are comparable. One JSON line per run.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.abspath(sys.argv[1])
LABEL = sys.argv[2]
KEYS = sys.argv[3:]
if not KEYS:
    print("usage: ab_keys.py <repo_root> <label> key1 [key2 ...]", file=sys.stderr)
    sys.exit(2)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PASSES = int(os.environ.get("AB_PASSES", "3"))

sys.path.insert(0, REPO)

from flinkproj_spark import registry  # noqa: E402
from flinkproj_spark.session import build_session  # noqa: E402


def main() -> None:
    spark = build_session("ab-keys", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    from flinkproj_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        try:
            load_table(spark, SF_DIR, t).limit(1).collect()
        except Exception:
            pass
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    qs = registry.queries()
    times: dict[str, float] = {}
    for _pass in range(PASSES):
        for name in KEYS:
            if name not in qs:
                times[name] = -2.0
                continue
            t0 = time.perf_counter()
            try:
                qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 3)
                times[name] = min(times.get(name, float("inf")), dt)
            except Exception as e:
                times[name] = -1.0
                print(f"AB ERROR {name}: {e}", file=sys.stderr)
            finally:
                spark.catalog.clearCache()
    print(json.dumps({"label": LABEL, "repo": REPO, "sf_dir": SF_DIR,
                      "passes": PASSES, "queries": times}))
    spark.stop()


if __name__ == "__main__":
    main()
