"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in a fresh Spark JVM on local[nproc], checks its
outputs, and prints as the last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
the Spark event log is on and the metrics are the per-layer ones. Every
file the run writes goes under `.bench_work/` in the repository root;
`.bench_work/records/` keeps one JSON record per run: the host settings,
per-key or per-trigger times, and with `--trace 1` the per-layer metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
RUN_DIR = os.path.join(WORK, "run")
WORKLOADS = ("catalog_small", "report_stream")


class Host:
    """Pins the Spark host settings before the JVM starts and owns the
    session: one fresh JVM per run, stopped and waited for in `close`."""

    def __init__(self, trace: bool):
        self.cpus = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            total_gb = int(f.readline().split()[1]) // (1024 * 1024)
        # a third of the host's RAM, within 2..8 GB: the heap holds every
        # local task's working set without crowding other processes
        self.driver_mem = f"{max(2, min(8, total_gb // 3))}g"
        self.run_dir = RUN_DIR
        self.event_dir = os.path.join(RUN_DIR, "eventlog")
        tmp = os.path.join(RUN_DIR, "tmp")
        for d in (os.path.join(RUN_DIR, "spark-local"), self.event_dir, tmp):
            os.makedirs(d)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_DRIVER_MEM": self.driver_mem,
            "SPARK_LOCAL_DIRS": os.path.join(RUN_DIR, "spark-local"),
            "TMPDIR": tmp,
            # both JVMs (spark-submit's launcher and Spark's own) keep their
            # temp files in the run directory and write no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # Python workers unpickle functions from the operator modules
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        tempfile.tempdir = tmp
        self.conf = {"spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse")}
        if trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                # the zstd default needs a codec package that is not installed
                "spark.eventLog.compress": "false",
            })
        self.spark = None
        self.session_start_s = 0.0

    def start(self):
        from flinkproj_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session("perfbench", cpus=self.cpus, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def config(self, seed: int) -> dict:
        conf = self.spark.conf
        return {
            "spark": self.spark.version,
            "master": self.spark.sparkContext.master,
            "cpus": self.cpus,
            "driver_memory": self.driver_mem,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "aqe": conf.get("spark.sql.adaptive.enabled"),
            "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "python": platform.python_version(),
            "seed": seed,
        }

    def close(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # the JVM exits when its stdin closes; wait so no process outlives the run
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        self.spark = None


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flinkproj_spark")):
        print(f"flinkproj_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(RUN_DIR)

    import catalog
    import stream

    host = Host(bool(args.trace))
    try:
        if args.workload == "report_stream":
            result = stream.run(host, args, PROCESS_START)
        else:
            result = catalog.run(host, args, PROCESS_START)
        result.record["config"] = host.config(args.seed)
        if args.trace:
            result.layers["jvm.peak_rss_mb"] = host.peak_rss_mb()
            result.layers["session.start_s"] = host.session_start_s
    finally:
        host.close()
    if args.trace:
        result.finish_trace(host.event_dir)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(result.record | {"end_to_end": result.end_to_end, "layers": result.layers,
                                   "failures": result.failures}, f, indent=1)
    metrics = result.layers if args.trace else result.end_to_end
    units = result.units()
    for failure in result.failures:
        print("FAILED", failure, file=sys.stderr)
    print(json.dumps({"config": result.record["config"]}))
    print(json.dumps({
        "correct": not result.failures,
        "attempted": result.attempted,
        "failed": len(result.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
