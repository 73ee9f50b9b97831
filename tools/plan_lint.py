"""Mechanized physical-plan lint over every registry key.

Builds each queries()[k] DataFrame at a tiny SF and scans its (initial
adaptive) executed plan for the scale anti-patterns this repo bans:

  CARTESIAN   CartesianProduct — an unbroadcast cross join is corpus²
  PY_ROW      BatchEvalPython — row-at-a-time Python in the plan (the
              Arrow stages — ArrowEvalPython / FlatMapGroupsInPandas /
              MapInPandas / FlatMapGroupsInPandasWithState — are the
              sanctioned Python path and are NOT flagged)
  GLOBAL_SORT Sort [...], true — a full-dataset global sort that
              survived into the plan (orderBy+limit compiles to
              TakeOrderedAndProject, so any remaining global sort is
              either intended layout work or a bug)
  GLOBAL_WIN  windowspecdefinition with an empty partition clause —
              a single-task window; legitimate ONLY over
              aggregate-bounded frames (distinct scores / lengths),
              never over corpus rows

Keys with a justified instance carry a WHITELIST entry naming the
reason; an un-whitelisted flag fails the lint (exit 1). The lint runs
plan construction only — trainer keys (bpe_learn_merges, kmeans_lloyd,
kcenter_coreset, …) execute their synchronization collects during
construction, which is why the default SF is the smallest fixture.

Usage: python tools/plan_lint.py [sf_dir]   (default sf0.001)
Writes PLANLINT.json {key: [flags]} for flagged keys only.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Bound classes for GLOBAL_WIN whitelist entries (round-8, verdict
# task 4): every whitelisted single-task window must name WHAT bounds
# its frame. Classes that grow with data (dimension tables, corpus
# rows) are NOT whitelistable — the two-pass bucketed rank/cumsum
# (functions.bucketed_row_number / bucketed_cumsum) is the required
# shape for those; a whitelist entry claiming such a class fails the
# lint itself, so reverting a two-pass fix cannot be papered over.
ALLOWED_BOUND_CLASSES = {
    "literal-k",       # after .limit(k) / a VALUES grid — k rows by construction
    "calendar",        # date/day-offset grain — bounded by the time domain
    "score-grid",      # distinct quantized scores / thresholds
    "value-grid",      # fixed-width integer ranges of a domain-bounded value
    "fixed-dim",       # genuinely tiny dimension (nations ~25, regions 5)
    "corpus-scaled",   # corpus/K for K ≥ 1e5 — honest caveat, K in the reason
}
# corpus-sqrt (distinct-count-of-counts frames) was retired in round 9:
# its only carrier, vocab_prune_sweep, now runs the two-pass bucketed
# cumsum, and a class nobody may claim keeps the revert unwritable.
FORBIDDEN_BOUND_CLASSES = {"dimension", "corpus-linear", "corpus-sqrt"}

# key -> {flag: (bound_class, reason)}; both are part of the audit record.
WHITELIST: dict[str, dict[str, tuple[str, str]]] = {
    # distinct-value running aggregates: the windowed frame is the
    # DISTINCT score/length grid (feature-bounded), never corpus rows.
    "quantile_bucketize": {"GLOBAL_WIN": ("value-grid", "distinct-length grid window")},
    "doc_length_survival": {"GLOBAL_WIN": ("value-grid", "distinct-length grid window")},
    "pareto_frontier": {"GLOBAL_WIN": ("score-grid", "distinct-score marks frame")},
    "curriculum_order": {"GLOBAL_WIN": ("score-grid", "distinct-score offsets frame")},
    "quality_calibration_curve": {"GLOBAL_WIN": ("score-grid", "distinct-score offsets frame")},
    "quality_rank_per_lang": {"GLOBAL_WIN": ("score-grid", "per-(lang) offset frame, bucket-bounded")},
    "quality_threshold_sweep": {"GLOBAL_WIN": ("score-grid", "threshold-grid frame (bounded)")},
    "range_partition_plan": {"GLOBAL_WIN": ("value-grid", "distinct word-count histogram (max-doc-length-bounded), never corpus rows")},
    "vocab_prune_sweep": {"GLOBAL_WIN": ("value-grid", "-length(bin(c)) magnitude buckets — ≤64-row offset frame (two-pass cumsum, round-9; was corpus-sqrt)")},
    # two-pass bucketed ranks (round-8): the only unpartitioned window
    # left is the bucket-count offset frame.
    "zipf_fit_report": {"GLOBAL_WIN": ("value-grid", "length(bin(c)) magnitude buckets — ≤64-row offset frame (two-pass rank)")},
    "rfm_segmentation": {"GLOBAL_WIN": ("value-grid", "16-day/4-order/2^24-cent bucket offset frames (two-pass ranks)")},
    "gini_revenue_lorenz": {"GLOBAL_WIN": ("value-grid", "2^24-cent bucket offset frame (two-pass rank) + 10-row decile grid")},
    "dp_clamped_release": {"GLOBAL_WIN": ("value-grid", "2^20-cent per-customer revenue histogram (order-history-bounded), never customer rows")},
    "cusum_changepoint": {"GLOBAL_WIN": ("calendar", "date-grid cumulative frame (~2.4k distinct days, never order rows)")},
    "runs_test_daily": {"GLOBAL_WIN": ("calendar", "date-grid lag frame (~2.4k distinct days, never order rows)")},
    "hhi_by_nation": {"GLOBAL_WIN": ("fixed-dim", "nation-dimension rank frame (~25 rows, never order rows)")},
    "token_budget_allocator": {"GLOBAL_WIN": ("fixed-dim", "language-dimension remainder rank (|languages| rows, never corpus rows)")},
    "vocab_growth_curve": {"GLOBAL_WIN": ("corpus-scaled", "coarse 4096-checkpoint bucket frame = n_docs/204800 rows (two-pass cumsum; K≈2e5)")},
    "conversion_lag_curve": {"GLOBAL_WIN": ("calendar", "day-offset histogram (calendar-bounded)")},
    "backfill_planner": {"GLOBAL_WIN": ("calendar", "missing-day islands frame (bounded by the calendar span), never order rows")},
    "theil_sen_trend_monthly": {"GLOBAL_WIN": ("calendar", "pairwise-slope histogram over months² (~3.2k rows, calendar-bounded) + months intercept histogram")},
    "quantile_sketch_audit": {"GLOBAL_WIN": ("value-grid", "octave/length(bin) bucket offset frames (≤64 rows each, two-pass cumsums) over the ~1k-cell sketch grid and the exact-side histogram")},
    # rank-of-a-top-k: the window runs AFTER .limit(k) — k rows by
    # construction, never corpus rows.
    "key_skew_profile": {"GLOBAL_WIN": ("literal-k", "ranks the limit-20 heavy-hitter frame")},
    "supplier_scorecard": {"GLOBAL_WIN": ("literal-k", "ranks the limit-20 scorecard frame")},
    "bpe_token_usage": {"GLOBAL_WIN": ("literal-k", "ranks the limit-40 usage frame")},
    "rrf_fusion": {"GLOBAL_WIN": ("literal-k", "ranks bounded per-system top-k lists")},
    # intended layout/global-order work:
    "zorder_layout": {"GLOBAL_SORT": ("corpus-linear", "range partition + local sort IS the layout (sorts distribute; class exempt for GLOBAL_SORT)")},
    "train_shard_shuffle": {"GLOBAL_SORT": ("corpus-linear", "per-shard sort is the written layout (sorts distribute; class exempt for GLOBAL_SORT)")},
}


def _windowspec_args(plan: str):
    """Yield the top-level comma-separated argument list of every
    windowspecdefinition(...) in the plan, split with a paren-balance-
    aware scan — a naive `[^)]*` + split(',') mis-parses an ordering
    expression with nested calls (e.g. `coalesce(a#1, 0) ASC`), letting
    an unpartitioned window slip through (round-7 ADVICE)."""
    needle = "windowspecdefinition("
    start = 0
    while True:
        i = plan.find(needle, start)
        if i < 0:
            return
        j = i + len(needle)
        depth = 1
        args, buf = [], []
        while j < len(plan) and depth > 0:
            ch = plan[j]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    break
            if ch == "," and depth == 1:
                args.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
            j += 1
        if buf:
            args.append("".join(buf).strip())
        yield args
        start = j


def lint_plan(plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BatchEvalPython" in plan:
        flags.append("PY_ROW")
    if re.search(r"\bSort \[[^\]]*\], true\b", plan):
        flags.append("GLOBAL_SORT")
    # windowspecdefinition(<frame...>) with no leading partition column:
    # partition cols print before the ordering spec; an empty partition
    # shows the ordering expression (col ASC/DESC) as the FIRST
    # top-level argument — matched on the FULL balanced argument, so
    # nested commas/parens in the ordering expression cannot hide it.
    for args in _windowspec_args(plan):
        head = args[0] if args else ""
        if " ASC" in head or " DESC" in head:
            flags.append("GLOBAL_WIN")
            break
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from flinkproj_spark import registry
    from flinkproj_spark.session import build_session

    spark = build_session("plan_lint")
    flagged: dict[str, list[str]] = {}
    hard_fail = []
    for k, fn in registry.queries().items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # a key that cannot even plan is a failure
            flagged[k] = [f"PLAN_ERROR: {exc}"]
            hard_fail.append(k)
            continue
        finally:
            spark.catalog.clearCache()
        flags = lint_plan(plan)
        if flags:
            flagged[k] = flags
            allowed = WHITELIST.get(k, {})
            for f in flags:
                if f not in allowed:
                    hard_fail.append(f"{k}:{f}")
                elif f == "GLOBAL_WIN":
                    # a whitelist entry must name an allowed bound class —
                    # dimension-/corpus-sized frames are never whitelistable,
                    # they require the two-pass bucketed rewrite.
                    cls = allowed[f][0]
                    if cls not in ALLOWED_BOUND_CLASSES:
                        hard_fail.append(f"{k}:{f}:bound-class={cls}")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANLINT.json")
    record = {
        "flagged": flagged,
        "whitelist": WHITELIST,
        "violations": hard_fail,
    }
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(f"plan lint: {len(flagged)} flagged, {len(hard_fail)} violations")
    for v in hard_fail:
        print("VIOLATION", v)
    return 1 if hard_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
