"""Cache lifetime: `functions.cache_scope` is the one mechanism that
keeps a frame cached across actions, and no key leaves a cache behind
unless its lazily returned output is corpus-shaped and needs one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flinkproj_spark import registry
from flinkproj_spark.functions import cache_scope

# Keys that return a lazy, corpus-shaped frame over a cache they build:
# the caller owns that cache (spark.catalog.clearCache() after
# consuming). Additions need the same justification — a bounded output
# leaves through fx.eager_report inside a cache scope instead.
CALLER_OWNED = {
    "minhash_jaccard_estimate": "one row per LSH candidate pair, over the signature cache",
    "minhash_containment_estimate": "one row per LSH candidate pair, over the signature cache",
    "link_prediction_jaccard": "one row per open wedge, over the Jaccard edge cache",
    "dedup_survivorship": "one row per near-dup cluster, over the self-loop edge cache",
    "dedup_graph_kcore": "one row per dup-graph node, cached and filled before its round caches drop",
    "pipeline_multimodal": "the surviving images, over the gated decode cache",
    "semdedup_cells": "one row per vector, over the cell-assigned corpus cache",
    "semdedup_greedy_keep": "one row per vector, over the cell-assigned corpus cache",
    "pipeline_curate_v4": "the curated corpus, over semdedup_cells' corpus cache",
}


def _rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scope_unpersists_when_body_raises(spark):
    spark.catalog.clearCache()
    before = _rdd_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with cache_scope() as scope:
            scope.hold(spark.range(100).withColumn("_scope_raise", F.lit(1)))
            assert _rdd_ids(spark) - before, "hold() must fill the cache now"
            raise RuntimeError("boom")
    assert _rdd_ids(spark) == before
    assert _cache_manager_empty(spark)


def test_scope_release_drops_one_frame(spark):
    spark.catalog.clearCache()
    with cache_scope() as scope:
        a = scope.hold(spark.range(10).withColumn("_scope_a", F.lit(1)))
        b = scope.hold(a.withColumn("_scope_b", F.lit(2)))
        scope.release(a)
        assert b.count() == 10 and len(_rdd_ids(spark)) >= 1
        assert not _cache_manager_empty(spark)
    assert _cache_manager_empty(spark)


def test_no_key_leaks_a_cache(spark, sf_dir):
    """Run every key into the noop sink WITHOUT clearCache(): afterwards
    the executors hold no persisted RDD and the CacheManager is empty,
    except for the named caller-owned keys."""
    keys = registry.queries()
    assert set(CALLER_OWNED) <= set(keys)
    assert not {"pagerank_fixed", "label_propagation"} & set(CALLER_OWNED)
    spark.catalog.clearCache()
    baseline = _rdd_ids(spark)
    leaked = set()
    for key, fn in keys.items():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        if _rdd_ids(spark) - baseline or not _cache_manager_empty(spark):
            leaked.add(key)
            spark.catalog.clearCache()
    assert leaked == set(CALLER_OWNED)
