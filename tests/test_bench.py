"""bench.py: the one harness that warms a session and times registry
keys. `main()` is never called here — it stops the session it times on,
which would stop the suite's shared one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from flinkproj_spark import registry

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_build_share_is_within_total(spark, sf_dir):
    key = "window_count"
    times, build, _ = bench.time_keys(
        spark, sf_dir, {key: registry.queries()[key]}, passes=2
    )
    assert 0 <= build[key] <= times[key]


def test_stable_key_compiles_nothing_on_its_second_pass(spark, sf_dir):
    # the codegen cache holds the key's classes from pass 1
    key = "tpch_q6"
    times, _, compiles = bench.time_keys(
        spark, sf_dir, {key: registry.queries()[key]}, passes=2
    )
    assert times[key] >= 0
    assert compiles == {key: 0}


def test_raising_key_records_minus_one_and_the_next_key_runs(spark, sf_dir):
    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    times, build, _ = bench.time_keys(
        spark, sf_dir, {"boom": boom, "after": lambda s, _: s.range(5)}, passes=1
    )
    assert times["boom"] == build["boom"] == -1.0
    assert times["after"] >= 0 and build["after"] >= 0


def test_caller_owned_cache_is_dropped_after_its_key(spark, sf_dir):
    key = "semdedup_cells"  # tests/test_cache_scope.py::CALLER_OWNED
    spark.catalog.clearCache()
    times, _, _ = bench.time_keys(
        spark, sf_dir, {key: registry.queries()[key]}, passes=1
    )
    assert times[key] >= 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_key_run_from_elsewhere_imports_the_engine_in_workers(tmp_path, sf_dir):
    # multimodal_decode's mapInPandas function is pickled by reference,
    # so a Python worker that cannot import flinkproj_spark fails the key
    key = "multimodal_decode"
    full = os.path.join(REPO, "BENCH_FULL.json")
    with open(full, "rb") as f:
        before = f.read()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2",
               SPARK_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--repo", REPO,
         "--passes", "1", key],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    record = json.loads(r.stdout.strip().splitlines()[-1])
    assert record["queries"][key] >= 0, r.stderr[-2000:]
    with open(full, "rb") as f:
        assert f.read() == before  # a KEY run leaves the full record alone


@pytest.mark.parametrize(
    "args, named",
    [(["no_such_key"], "no_such_key"), (["--passes", "0"], "--passes")],
    ids=["unknown_key", "zero_passes"],
)
def test_bad_arguments_exit_2_before_any_jvm(tmp_path, args, named):
    # a JVM launch under a bogus JAVA_HOME would fail with exit 1, so
    # exit 2 plus the message proves the check ran first
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-java"))
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *args],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=120,
    )
    assert r.returncode == 2, r.stderr
    assert named in r.stderr
    assert r.stdout == ""
