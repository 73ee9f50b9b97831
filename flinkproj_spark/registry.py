"""Central registry: collects every operator module's QUERIES/ORACLE
into the driver contract consumed by __spark_entry__.py."""

from __future__ import annotations

import sys
import traceback
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flinkproj_spark.operators import clean, report

_MODULES = [clean, report]

# Module import order only matters as the fallback ordering for keys
# not named in _PRIORITY_KEYS (which fully covers the driver's ~50-key
# verification window each round).
_EXTENSION_MODULES = (
    "curation",
    "relational",
    "dedup",
    "similarity",
    "text",
    "retrieval",
    "multimodal",
    "sampling",
    "e2e",
    "tpch",
    "tpch2",
    "analytic",
    # round-10 family-seam split of the old monolithic analytic.py —
    # order here only affects fallback key ordering, never key identity
    "stats",
    "timeseries",
    "graph",
    "privacy",
    "screens",
)

# Key order == driver check order, and the driver's per-round
# correctness budget covers only the FIRST ~50 keys. Since round 6 the
# window is MECHANICAL, not hand-curated: it must equal
# tools/gen_catalog.expected_window() — never-driver-green keys first,
# then the stalest-green keys (derived from the committed
# CORRECTNESS_r*.json files), tie-broken by module order. Regenerate
# with `python tools/gen_catalog.py --window` after adding keys or
# after a new CORRECTNESS file lands;
# tests/test_contract.py::test_priority_window_is_mechanical pins the
# equality so a stale hand copy fails loudly.
_PRIORITY_KEYS = (
    "bpe_pair_counts",  # last green r9
    "doc_length_survival",  # last green r9
    "quality_classifier_linear",  # last green r9
    "multimodal_vad_segments",  # last green r9
    "compaction_plan",  # last green r9
    "activity_migration_matrix",  # last green r9
    "interevent_gap_profile",  # last green r9
    "dp_sensitivity_report",  # last green r9
    "dp_clamped_release",  # last green r9
    "quantile_sketch_audit",  # last green r9
    "join_strategy_advisor",  # last green r9
    "srm_check",  # last green r9
    "conformal_coverage_report",  # last green r9
    "zonemap_effectiveness",  # last green r9
    "distinct_counts",  # last green r10
    "salted_skew_join",  # last green r10
    "dedup_exact",  # last green r10
    "dedup_keyed_latest",  # last green r10
    "dedup_cluster",  # last green r10
    "dedup_simhash",  # last green r10
    "dedup_ngram_jaccard",  # last green r10
    "dedup_pair_degree_hist",  # last green r10
    "pair_graph_triangles",  # last green r10
    "decontaminate",  # last green r10
    "ann_topk_brute",  # last green r10
    "ann_topk_lsh",  # last green r10
    "ann_topk_ivf",  # last green r10
    "ann_recall_eval",  # last green r10
    "embedding_neardup",  # last green r10
    "embedding_centroids",  # last green r10
    "semdedup_cells",  # last green r10
    "text_token_count",  # last green r10
    "bpe_apply",  # last green r10
    "bpe_token_usage",  # last green r10
    "quality_threshold_sweep",  # last green r10
    "quality_rank_per_lang",  # last green r10
    "text_repetition",  # last green r10
    "text_quality",  # last green r10
    "hapax_rate_by_lang",  # last green r10
    "lang_mix_report",  # last green r10
    "query_expansion_prf",  # last green r10
    "multimodal_pack",  # last green r10
    "pipeline_multimodal",  # last green r10
    "temperature_mix",  # last green r10
    "vacuum_plan",  # last green r10
    "shard_balance_report",  # last green r10
    "pipeline_curate_v3",  # last green r10
    "pipeline_curate_v4",  # last green r10
    "filter_funnel_v3",  # last green r10
    "pipeline_lake",  # last green r10
)


def _reorder(d: dict) -> dict:
    """Priority keys first (those present), then the rest in module order."""
    head = {k: d[k] for k in _PRIORITY_KEYS if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


#: name -> formatted traceback for extension modules that failed to
#: import. A broken module must surface as an ERROR, not as silently
#: missing keys (the driver would misreport those as "not implemented").
IMPORT_ERRORS: dict[str, str] = {}


def _modules():
    # Imported lazily/defensively so one broken extension module doesn't
    # take down the whole contract — but loudly (stderr + IMPORT_ERRORS).
    mods = list(_MODULES)
    for name in _EXTENSION_MODULES:
        try:
            mod = __import__(f"flinkproj_spark.operators.{name}", fromlist=[name])
            mods.append(mod)
        except Exception:
            tb = traceback.format_exc()
            IMPORT_ERRORS[name] = tb
            print(
                f"[flinkproj_spark.registry] ERROR importing operators.{name} — "
                f"its query keys are DROPPED from the contract:\n{tb}",
                file=sys.stderr,
            )
    return mods


def broken() -> dict[str, str]:
    """Modules that failed to import, mapped to their tracebacks."""
    _modules()
    return dict(IMPORT_ERRORS)


def raw_keys() -> tuple[str, ...]:
    """Every registered key in plain module order, WITHOUT the
    _PRIORITY_KEYS reorder — the stable tie-break ordering used by the
    mechanized rotation ledger (tools/gen_catalog.py)."""
    out: list[str] = []
    for mod in _modules():
        out.extend(getattr(mod, "QUERIES", {}).keys())
    return tuple(out)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        for key, fn in getattr(mod, "QUERIES", {}).items():
            if key in out:
                raise ValueError(f"duplicate query key {key!r}")
            out[key] = fn
    return _reorder(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        for key, sql in getattr(mod, "ORACLE", {}).items():
            out[key] = sql
    return _reorder(out)
