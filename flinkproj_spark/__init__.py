"""flinkproj_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the query/data-processing
capabilities of the reference stream-ETL project (xuwei517/FlinkProj,
surveyed in SURVEY.md), built Spark-first: DataFrame/SQL logical
plans optimized by Catalyst, Structured Streaming for unbounded
inputs, and Arrow-vectorized Pandas UDFs only where built-ins cannot
express the semantics.

Layout:
    sources/    table loaders, dimension builders, synthetic generators
    operators/  the operator library (SURVEY.md §2 + LLM-pipeline extensions)
    plans/      plan-inspection helpers (executed plan, no-Python assertion)
    streaming/  Structured Streaming pipeline twins (watermark, upsert, late split)
    pipelines   the two reference pipelines' batch transforms
"""

__version__ = "0.1.0"
