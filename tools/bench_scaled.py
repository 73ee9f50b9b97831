"""Empirical scaling exponents for the heaviest registry keys — times
each key with `bench.py --passes 1 KEY` (its own fresh JVM, warmup,
noop sink) against the sf0.1 corpus and its deterministic tiled
scale-ups from tools/gen_scaled.py, then fits log(t) ~ e*log(factor)
per key. The bucketed-candidate-generation claims in SCALING.md rule 3
predict e ≈ 1 for the dedup/ANN families; a key whose exponent trends
quadratic is using an all-pairs shape no plan-reading caught.

Interleaving: factors are visited round-robin (x1, x3, x10, x1, ...)
so host drift lands on every factor equally — the same reasoning as
bench.py's interleaved-minima A/B discipline.

Usage:
    python tools/bench_scaled.py [--factors 1,3,10] [--rounds 2]
                                 [--keys k1,k2,...]
Writes SCALE_BENCH.json and prints a markdown table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"

#: r10 bench top-10 heaviest keys + the LSH/phash near-dup family
#: (round-11 verdict task 4's target set).
DEFAULT_KEYS = [
    "dedup_survivorship",
    "dedup_graph_kcore",
    "label_propagation",
    "pagerank_fixed",
    "embedding_pca2_deflated",
    "pipeline_curate_v4",
    "filter_funnel_v3",
    "pair_strategy_agreement",
    "kmeans_lloyd",
    "minhash_banding_sensitivity",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_phash_hamming",
    "ann_topk_lsh_banded",
]


#: bumped when gen_scaled.py's replication contract changes (v2: fixed
#: the sign-hash parity collapse + short-doc perturbation; v3: tag
#: every 2nd token instead of every 3rd — v2 left cross-replica
#: word-set Jaccard at exactly the 0.5 threshold and never tagged the
#: Jaccard block key, so word-set pair counts grew super-linearly in
#: the factor) so stale tiled corpora regenerate instead of being
#: silently reused.
GEN_VERSION = "v3"


def sf_dir(factor: int) -> str:
    if factor == 1:
        return SRC
    out = os.path.join(REPO, ".scaled", f"x{factor}")
    sentinel = os.path.join(out, f".complete-{GEN_VERSION}")
    # the sentinel is written only after generate() finishes ALL three
    # tables + symlinks — documents.parquet alone is written first and
    # would mask a crash mid-generation.
    if not os.path.exists(sentinel):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "gen_scaled.py"),
             "--factor", str(factor), "--out", out],
            check=True,
        )
        with open(sentinel, "w") as fh:
            fh.write("ok\n")
    return out


def run_once(factor: int, keys: list[str]) -> dict[str, float]:
    """One timing pass at `factor`, every key in its OWN fresh JVM: one
    JVM for several keys measured the keys after the first at up to
    8–18× their isolated time on x30 corpora (round-12 BASELINE.md
    record — pipeline_curate_v4 437 s shared vs 54 s solo,
    dedup_simhash 277 vs 15.4)."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir(factor))
    merged: dict[str, float] = {}
    for key in keys:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"),
             "--passes", "1", key],
            capture_output=True, text=True, env=env, check=True,
        ).stdout.strip().splitlines()[-1]
        merged.update(json.loads(out)["queries"])
    return merged


def fit_exponent(points: list[tuple[int, float]]) -> float | None:
    pts = [(math.log(f), math.log(t)) for f, t in points if t and t > 0]
    if len(pts) < 2:
        return None
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    den = n * sxx - sx * sx
    return (n * sxy - sx * sy) / den if den else None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,3,10")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--keys", default=",".join(DEFAULT_KEYS))
    ap.add_argument("--out", default="SCALE_BENCH.json")
    a = ap.parse_args()
    factors = [int(x) for x in a.factors.split(",")]
    keys = [k for k in a.keys.split(",") if k]

    best: dict[int, dict[str, float]] = {f: {} for f in factors}
    for rnd in range(a.rounds):
        for f in factors:
            got = run_once(f, keys)
            for k, t in got.items():
                if t > 0:
                    prev = best[f].get(k)
                    best[f][k] = t if prev is None else min(prev, t)
            print(f"round {rnd} x{f}: done", file=sys.stderr)

    rows = []
    for k in keys:
        pts = [(f, best[f].get(k)) for f in factors]
        exp = fit_exponent([(f, t) for f, t in pts if t])
        rows.append({"key": k,
                     **{f"t_x{f}": best[f].get(k) for f in factors},
                     "exponent": round(exp, 3) if exp is not None else None})

    result = {"factors": factors, "rounds": a.rounds, "src": SRC,
              "rows": rows}
    with open(os.path.join(REPO, a.out), "w") as fh:
        json.dump(result, fh, indent=1)

    hdr = "| key | " + " | ".join(f"x{f} s" for f in factors) + " | exponent |"
    print(hdr)
    print("|" + "---|" * (len(factors) + 2))
    for r in rows:
        cells = " | ".join(
            f"{r[f't_x{f}']:.2f}" if r.get(f"t_x{f}") else "—" for f in factors
        )
        e = r["exponent"]
        print(f"| `{r['key']}` | {cells} | {e if e is not None else '—'} |")


if __name__ == "__main__":
    main()
