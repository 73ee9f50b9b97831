"""Per-micro-batch latency of the streaming admission gates vs base
corpus size — the first streaming scale evidence (round-13 verdict
task 4). The batch operators' scale story is measured by
tools/bench_scaled.py; the gates' story is different: their per-batch
cost has a corpus-INDEPENDENT part (the in-row verdict over the
arrival batch) plus a corpus-PROPORTIONAL part that re-resolves every
micro-batch (stream_semdedup_gate's mates side, stream_snapshot_dedup's
base-hash side; stream_dsir_gate freezes its 512-row model at build
time, so its per-batch cost should be FLAT — it is the control).

Protocol: a FIXED arrival batch (1,000 rows drawn deterministically
from sf0.1, ids offset above every frozen id so the gates run in live
mode) is written as 3 identical-sized parquet files; the gate runs as
a real structured-streaming query (file source, maxFilesPerTrigger=1,
availableNow) into a parquet sink, and per-batch latency is read from
the query's OWN progress records (triggerExecution ms). Batch 0 pays
JVM/plan warmup; the MIN over batches is the steady-state per-batch
latency. Model/static-frame build time is timed separately — it is
deploy-time, not per-batch, cost.

Each (factor) runs in its own fresh JVM via subprocess, the
bench_scaled.py isolation discipline.

Usage:
    python tools/bench_stream_gates.py [--factors 1,10,30]
    python tools/bench_stream_gates.py --worker <factor>   # internal
Writes STREAM_SCALE_R13.json and prints a markdown table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
ARRIVALS = 1_000
BATCHES = 3

sys.path.insert(0, REPO)


def corpus_dir(factor: int) -> str:
    if factor == 1:
        return SRC
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_scaled

    return bench_scaled.sf_dir(factor)


def _progress_ms(q) -> list[float]:
    return [
        p["durationMs"]["triggerExecution"]
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p.get("numInputRows", 0) > 0
    ]


def worker(factor: int) -> None:
    from pyspark.sql import functions as F

    from flinkproj_spark.session import build_session
    from flinkproj_spark.sources.tables import load_table
    from flinkproj_spark.streaming.curate import (
        build_dsir_model,
        build_semdedup_model,
        stream_dsir_gate,
        stream_semdedup_gate,
        stream_snapshot_dedup,
    )

    base_dir = corpus_dir(factor)
    spark = build_session(f"stream-gates-x{factor}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    work = tempfile.mkdtemp(prefix=f"sg_x{factor}_")
    out: dict[str, dict[str, float]] = {}

    def run_gate(name, gate_df_fn, src_dir, schema):
        sink = os.path.join(work, name, "out")
        ckpt = os.path.join(work, name, "ckpt")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            gate_df_fn(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        ms = _progress_ms(q)
        rec = out.setdefault(name, {})
        rec["batches"] = len(ms)
        rec["batch_ms"] = [round(x, 1) for x in ms]
        rec["batch_min_s"] = round(min(ms) / 1000.0, 3) if ms else -1.0

    # ---- fixed arrival batches, ids offset clear of every frozen id --
    OFFSET = 10_000_000_000
    emb = (
        load_table(spark, SRC, "embeddings")
        .orderBy("vec_id")
        .limit(ARRIVALS)
        .select(
            (F.col("vec_id") + OFFSET).alias("vec_id"),
            F.timestamp_seconds(F.col("vec_id")).alias("ts"),
            "embedding",
        )
    )
    emb_src = os.path.join(work, "emb_src")
    for _ in range(BATCHES):
        emb.coalesce(1).write.mode("append").parquet(emb_src)
    docs = (
        load_table(spark, SRC, "documents")
        .orderBy("doc_id")
        .limit(ARRIVALS)
        .select(
            (F.col("doc_id") + OFFSET).alias("doc_id"),
            F.timestamp_seconds(F.col("doc_id")).alias("ts"),
            # perturb so snapshot-dedup's anti join doesn't drop all:
            F.concat(F.col("text"), F.lit(" xq~live")).alias("text"),
        )
    )
    doc_src = os.path.join(work, "doc_src")
    for _ in range(BATCHES):
        docs.coalesce(1).write.mode("append").parquet(doc_src)

    # ---- semdedup gate ----------------------------------------------
    t0 = time.perf_counter()
    sem_model = build_semdedup_model(spark, base_dir)
    out.setdefault("stream_semdedup_gate", {})["model_build_s"] = round(
        time.perf_counter() - t0, 3
    )
    run_gate(
        "stream_semdedup_gate",
        lambda s: stream_semdedup_gate(s, sem_model),
        emb_src,
        "vec_id long, ts timestamp, embedding array<float>",
    )

    # ---- snapshot dedup ---------------------------------------------
    base_docs = load_table(spark, base_dir, "documents")
    run_gate(
        "stream_snapshot_dedup",
        lambda s: stream_snapshot_dedup(s, base_docs),
        doc_src,
        "doc_id long, ts timestamp, text string",
    )

    # ---- dsir gate (control: frozen model, flat expected) -----------
    t0 = time.perf_counter()
    dsir_model = build_dsir_model(spark, base_dir)
    out.setdefault("stream_dsir_gate", {})["model_build_s"] = round(
        time.perf_counter() - t0, 3
    )
    run_gate(
        "stream_dsir_gate",
        lambda s: stream_dsir_gate(s, dsir_model),
        doc_src,
        "doc_id long, ts timestamp, text string",
    )

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"factor": factor, "gates": out}))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,10,30")
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--out", default="STREAM_SCALE_R13.json")
    a = ap.parse_args()
    if a.worker is not None:
        worker(a.worker)
        return

    factors = [int(x) for x in a.factors.split(",")]
    rows = []
    for f in factors:
        corpus_dir(f)  # generate the tile before timing anything
        got = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(f)],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        rows.append(json.loads(got))
        print(f"x{f}: done", file=sys.stderr)

    result = {"factors": factors, "arrivals": ARRIVALS,
              "batches": BATCHES, "src": SRC, "rows": rows}
    with open(os.path.join(REPO, a.out), "w") as fh:
        json.dump(result, fh, indent=1)

    gates = sorted({g for r in rows for g in r["gates"]})
    hdr = "| gate | " + " | ".join(
        f"x{f} batch s (model s)" for f in factors) + " |"
    print(hdr)
    print("|" + "---|" * (len(factors) + 1))
    for g in gates:
        cells = []
        for r in rows:
            rec = r["gates"].get(g, {})
            b = rec.get("batch_min_s")
            m = rec.get("model_build_s")
            cells.append(
                (f"{b:.2f}" if b is not None else "—")
                + (f" ({m:.1f})" if m is not None else "")
            )
        print(f"| `{g}` | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
