"""End-to-end pipeline query keys (SURVEY.md §2.10, §5.2.2).

The two reference pipelines as oracle-checked batch queries: wire-format
JSON lines are fabricated deterministically from the events table, then
run through the REAL pipeline cores (from_json → explode → broadcast
join → window agg) — so the driver's correctness gate exercises the
full parser-to-result path, not just individual operators. The oracle
computes the same result relationally (the JSON round-trip is lossless:
Java's shortest-repr double formatting is read back exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkproj_spark import functions as fx
from flinkproj_spark.pipelines import report_aggregate, report_parse, clean_transform
from flinkproj_spark.sources.dims import dim_area
from flinkproj_spark.sources.tables import fan_out, load_table

# 8 countries: 7 from the reference's Redis hash + 'ID' (present in the
# generator but absent from the dim, FIXTURES.md §6.3) → 'other' path.
_CC = ["US", "TW", "HK", "PK", "KW", "SA", "IN", "ID"]
_AREAS = ["AREA_US", "AREA_CT", "AREA_AR", "AREA_IN", "AREA_ID"]


def _alldata_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allData wire JSON fabricated from events: dt from ts, countryCode
    from user_id, a 2-element data array from value (the reference
    generator's shape, kafkaProducer.java:34)."""
    # The whole clean pipeline is map-side (JSON build→parse→explode→
    # broadcast join→to_json) — fan the single-split scan out so it
    # doesn't run on one core (2.6× at sf0.1; no-op at real scale).
    events = fan_out(spark, sf_dir, "events", load_table(spark, sf_dir, "events"))
    cc = F.element_at(
        F.array(*[F.lit(c) for c in _CC]), (F.col("user_id") % 8 + 1).cast("int")
    )
    dt = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    line = F.concat(
        F.lit('{"dt":"'), dt,
        F.lit('","countryCode":"'), cc,
        F.lit('","data":[{"type":"s1","score":'), F.col("value").cast("string"),
        F.lit(',"level":"A"},{"type":"s2","score":'), (F.col("value") + F.lit(1.0)).cast("string"),
        F.lit(',"level":"B"}]}'),
    )
    return events.select(line.alias("value"))


def pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline 1 end-to-end (pre-serialization projection): JSON lines →
    parse → explode → broadcast dim join ('other' default) → enriched
    flat records."""
    raw = _alldata_lines(spark, sf_dir)
    cleaned = clean_transform(raw, dim_area(spark))
    # Re-parse the serialized output so the oracle compares typed columns
    # (proves the to_json edge is lossless too).
    return cleaned.select(
        F.from_json(
            "value",
            "type string, score double, level string, area string, dt string",
        ).alias("j")
    ).select("j.type", "j.score", "j.level", "j.area", "j.dt")


def _auditlog_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auditLog wire JSON from events; error-type rows get a malformed dt
    (the parse-failure path, DataReport.java:100-108)."""
    events = load_table(spark, sf_dir, "events")
    dt = F.when(F.col("event_type") == "error", F.lit("xxxx-bad-date")).otherwise(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    area = F.element_at(
        F.array(*[F.lit(a) for a in _AREAS]), (F.col("user_id") % 5 + 1).cast("int")
    )
    line = F.concat(
        F.lit('{"dt":"'), dt,
        F.lit('","type":"'), F.col("event_type"),
        F.lit('","username":"u","area":"'), area,
        F.lit('"}'),
    )
    return events.select(line.alias("value"))


def pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline 2 end-to-end: JSON lines → tolerant parse → bad-record
    filter → 30 s tumbling (type, area) count + max(ts) + upsert key."""
    raw = _auditlog_lines(spark, sf_dir)
    return report_aggregate(report_parse(raw))


def curate_gate_cond() -> Column:
    """The curation gate over a `text` column: marker-word evidence for
    some language, ≥ 20 words, and quality ≥ 0.3, where quality is
    min(n_words / 100, 1) · (1 − stopword share)."""
    from flinkproj_spark.operators.text import _STOPWORDS, lang_marker_hits

    words = fx.tokenize_ws()
    lower = F.transform(words, lambda w: F.lower(w))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    marker_hits = F.greatest(*lang_marker_hits(lower))
    n_words = F.size(words)
    n_stop = F.size(F.filter(lower, lambda w: F.array_contains(stop_arr, w)))
    quality = (
        F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
        * (F.lit(1.0) - n_stop.cast("double") / n_words.cast("double"))
    )
    return (marker_hits > 0) & (n_words >= 20) & (quality >= 0.3)


def _curate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's gate stage alone: curate_gate_cond's language-
    evidence and length/quality filter, emitting (doc_id, lang,
    n_words, _fp). The filter fuses into the scan (one codegen'd pass)
    and the map-heavy lang/quality stage is fanned out; the content md5
    is projected here — BEFORE any dedup exchange — so document bodies
    never travel through a shuffle."""
    docs = fan_out(spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", "lang", "text", F.size(fx.tokenize_ws()).alias("n_words"))
        .filter(curate_gate_cond())
        .select("doc_id", "lang", "n_words", F.md5("text").alias("_fp"))
    )


def _exact_dedup(kept: DataFrame) -> DataFrame:
    """Exact dedup over a gated frame: keep min doc_id per content
    hash — one window exchange on the 16-byte fingerprint."""
    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy("doc_id")
    return kept.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)


def _curate_gated_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared funnel head: gate (_curate_gate) → exact dedup."""
    return _exact_dedup(_curate_gate(spark, sf_dir))


def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-data curation pipeline end-to-end, one declarative plan:
    language-evidence filter → length/quality filter → exact dedup
    (keep min doc_id per content hash) → near-dup removal (drop the
    younger member of every MinHash-LSH candidate pair). Returns the
    surviving (doc_id, lang, n_words).

    Scale shape: see _curate_gated_deduped for the funnel head;
    near-dup removal is a plain hash anti join on doc_id — the doc_b
    set scales with the corpus (10 % dup rate at 100 TB = billions of
    ids), so it must NOT be broadcast: long-key shuffle is cheap,
    driver OOM is not."""
    from flinkproj_spark.operators.dedup import dedup_minhash_lsh

    deduped = _curate_gated_deduped(spark, sf_dir)
    younger = dedup_minhash_lsh(spark, sf_dir).select("doc_b").distinct()
    return (
        deduped.join(younger, deduped.doc_id == younger.doc_b, "left_anti")
        .select("doc_id", "lang", "n_words")
    )


def pipeline_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-signal curation funnel: same gate + exact dedup as
    pipeline_curate, but near-dup removal drops only candidates the
    embedding cosine CONFIRMS (neardup_semantic_verify, cos ≥ 0.5) —
    lexical recall proposes, semantic precision disposes, so borderline
    MinHash collisions stop deleting real documents.

    Scale shape identical to v1 plus the verify joins: pairs and
    signatures meet by id (merge-pinned), the confirmed doc_b set stays
    an un-broadcast hash anti join."""
    from flinkproj_spark.operators.curation import neardup_semantic_verify

    deduped = _curate_gated_deduped(spark, sf_dir)
    confirmed = (
        neardup_semantic_verify(spark, sf_dir)
        .filter(F.col("confirmed") == 1)
        .select("doc_b")
        .distinct()
    )
    return (
        deduped.join(confirmed, deduped.doc_id == confirmed.doc_b, "left_anti")
        .select("doc_id", "lang", "n_words")
    )


def pipeline_curate_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data funnel: pipeline_curate_v2 (gate → exact
    dedup → semantically-confirmed near-dup removal) plus the
    DECONTAMINATION stage — any doc sharing a word 3-shingle with the
    held-out eval set (operators/dedup.py::decontaminate) is dropped,
    so benchmark text cannot leak into training shards. This is the
    stage every eval-honest pipeline runs last, after dedup has
    already shrunk the corpus.

    Scale shape: the contaminated-id set is corpus-proportional in the
    worst case, so it joins as a plain hash anti join on doc_id — same
    no-broadcast rule as every drop-set in this funnel; the
    decontaminate stage itself broadcasts only the eval shingle set
    (tiny by construction)."""
    from flinkproj_spark.operators.dedup import decontaminate

    contaminated = (
        decontaminate(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    return pipeline_curate_v2(spark, sf_dir).join(
        contaminated, "doc_id", "left_anti"
    )


def pipeline_curate_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with the semantic-cluster dedup stage appended:
    pipeline_curate_v3 (gate → exact dedup → confirmed near-dup
    removal → decontamination) minus every doc whose EMBEDDING
    semdedup_cells prunes (doc_id ↔ vec_id share the id space in this
    corpus, the neardup_semantic_verify convention). LSH near-dup
    removal catches lexical copies; SemDeDup catches semantic
    duplicates that share no shingles — paraphrases, translations,
    templated rewrites — which is why production funnels run both.

    Scale shape: the semantic drop set is corpus-proportional, so it
    joins as a plain hash anti join on doc_id, the same no-broadcast
    rule as every drop-set in this funnel; semdedup's own pair cost is
    cell-bounded (see similarity.semdedup_cells). The curated corpus is
    returned lazily over semdedup_cells' caller-owned cache of the
    cell-assigned embeddings: a long-lived caller clears it
    (spark.catalog.clearCache()) after consuming the result."""
    from flinkproj_spark.operators.similarity import semdedup_cells

    sem_dropped = (
        semdedup_cells(spark, sf_dir)
        .filter(F.col("is_dropped") == 1)
        .select(F.col("vec_id").alias("doc_id"))
    )
    return pipeline_curate_v3(spark, sf_dir).join(
        sem_dropped, "doc_id", "left_anti"
    )


def filter_funnel_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel-wide observability for the v3 curation pipeline: ONE row
    counting survivors at every cumulative stage — total → gate
    (language+length+quality) → exact dedup → LSH near-dup removal
    (= pipeline_curate's output) → semantically-confirmed removal
    (= pipeline_curate_v2's) → decontamination (= pipeline_curate_v3's).
    The per-stage counts are CONTRACTUALLY equal to the pipeline keys'
    own output row counts (pinned by tests/test_contract.py) — the
    observability twin of incremental_rollup_merge's
    merge-equals-recompute pin: the report can never drift from the
    pipeline it reports on.

    Shape (r14): ONE persisted frame and ONE fold. The cache is the
    gate WITH its dedup rank (window over _fp) — n_gated and n_exact
    both fold from it, where the r13 shape persisted only the deduped
    subset and re-derived the whole gate chain (scan + tokenize +
    filters) a second time for the n_gated counter. The three
    drop-stage counters are LEFT-JOIN FLAGS folded in one aggregate:
    the survivors frame left-joins each drop set once (younger /
    confirmed / contaminated are each doc-unique by construction, so
    the joins cannot fan out and Σ[flag IS NULL] is exactly the
    anti-join count) — the r13 shape computed three separate anti-join
    counters, with s2's expensive confirmed subtree referenced TWICE
    (once for its own counter, once inside s3) and only fragile
    exchange reuse between them. Drop sets stay un-broadcast joins —
    each is corpus-proportional in the worst case. The cache lives
    only for this call and the 1-row funnel leaves as a local relation
    (the _ffv marker keeps the cached plan unique to this key).
    Interleaved A/B and the per-stage contract pins live in
    tests/test_contract.py."""
    from pyspark.sql import Window

    from flinkproj_spark.operators.curation import neardup_semantic_verify
    from flinkproj_spark.operators.dedup import decontaminate, dedup_minhash_lsh

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("_fp").orderBy("doc_id")
    gated = (
        _curate_gate(spark, sf_dir)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_ffv", F.lit(1))
    )
    younger = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"), F.lit(1).alias("_y"))
        .distinct()
    )
    confirmed = (
        neardup_semantic_verify(spark, sf_dir)
        .filter(F.col("confirmed") == 1)
        .select(F.col("doc_b").alias("doc_id"), F.lit(1).alias("_c"))
        .distinct()
    )
    contaminated = (
        decontaminate(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id", F.lit(1).alias("_k"))
    )
    flags = (
        gated.filter(F.col("_rn") == 1)
        .select("doc_id")
        .join(younger, "doc_id", "left")
        .join(confirmed, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
    )
    fold = flags.agg(
        F.count("*").alias("n_exact"),
        F.coalesce(
            F.sum(F.col("_y").isNull().cast("long")), F.lit(0)
        ).alias("n_after_neardup"),
        F.coalesce(
            F.sum(F.col("_c").isNull().cast("long")), F.lit(0)
        ).alias("n_after_semantic"),
        F.coalesce(
            F.sum((F.col("_c").isNull() & F.col("_k").isNull()).cast("long")),
            F.lit(0),
        ).alias("n_after_decontam"),
    )
    out = (
        docs.agg(F.count("*").alias("n_total"))
        .crossJoin(F.broadcast(gated.agg(F.count("*").alias("n_gated"))))
        .crossJoin(F.broadcast(fold))
        .select(
            "n_total",
            "n_gated",
            "n_exact",
            "n_after_neardup",
            "n_after_semantic",
            "n_after_decontam",
        )
    )
    with fx.cache_scope() as scope:
        scope.hold(gated)
        return fx.eager_report(spark, out)


def pipeline_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end lake-maintenance pipeline composing the round-9 lake
    family the way pipeline_curate composes the curation funnel:
    PLAN (compaction_bins over the shared day inventory) → EXECUTE
    (write_compacted_files rewrites events to a scratch lake, one file
    per bin under an (event_type, bin_id) layout) → VERIFY (the
    additive mod-(2^61−1) digest of the REWRITTEN table must equal the
    input's — the mergeable row-hash property table_digest_report
    pins; a rewrite that drops, duplicates, or mangles one row flips
    digest_match and hash-mismatches) → AUDIT (file-level day zone
    maps read back FROM the compacted files: the fraction a
    day-predicate probe cannot prune, the time-locality property the
    next-fit planner optimizes for).

    Not in the reference (SURVEY.md §2.9); the plan→execute→verify
    loop every real lake runs after compaction.

    The oracle computes the plan grid, the input digest, and the zone
    maps RELATIONALLY from the source table and pins the two match
    verdicts to 1 — valid because next-fit makes each bin's day range
    a pure function of the inventory, so a correct execution's
    read-back zone maps must equal the plan's. The Spark side earns
    those columns from the actual rewritten parquet.

    Shape at 100 TB: the rewrite is the one corpus-sized move (a
    single repartition on (event_type, bin_id) + write — inherent to
    compaction); everything else reduces to the calendar-bounded
    inventory grid, 1-row digest aggregates, and a broadcast
    probes×bins range join."""
    import atexit
    import os
    import shutil
    import tempfile

    from flinkproj_spark.operators.relational import TD_MOD, td_row_hash
    from flinkproj_spark.operators.sampling import (
        compaction_bins,
        event_day_inventory,
    )
    from flinkproj_spark.sources.files import write_compacted_files

    events = load_table(spark, sf_dir, "events")
    # one scratch lake per application and corpus: a concurrent session
    # on the same corpus must not overwrite the files this one reads
    # back. The lake goes when the driver process exits.
    lake = os.path.join(
        tempfile.gettempdir(), "flinkproj_spark_lake", spark.sparkContext.applicationId
    )
    if not os.path.isdir(lake):
        atexit.register(shutil.rmtree, lake, True)
    out_path = os.path.join(lake, os.path.basename(os.path.normpath(sf_dir)))
    write_compacted_files(spark, sf_dir, out_path)
    compacted = spark.read.parquet(out_path)

    digest = f"CAST(SUM(CAST(h AS DECIMAL(38,0))) % {TD_MOD} AS BIGINT)"
    h = td_row_hash("events")
    dig_in = events.select(h.alias("h")).agg(
        F.expr(digest).alias("digest"),
    )
    dig_out = compacted.select(h.alias("h")).agg(
        F.count("*").alias("_n_rows_out"),
        F.expr(digest).alias("_digest_out"),
    )

    plan = compaction_bins(event_day_inventory(events)).agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n_files").cast("long").alias("n_files_in"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("bytes").cast("long").alias("bytes"),
    )

    day = F.date_trunc("day", "ts").cast("date")
    zone_maps = compacted.groupBy("event_type", "bin_id").agg(
        F.min(day).alias("mn"), F.max(day).alias("mx")
    )
    probes = events.select(day.alias("d")).distinct()
    scan = (
        probes.join(
            F.broadcast(zone_maps),
            (F.col("d") >= F.col("mn")) & (F.col("d") <= F.col("mx")),
        )
        .agg(F.count("*").alias("_n_scanned"))
        .crossJoin(F.broadcast(probes.agg(F.count("*").alias("_n_probes"))))
    )

    return (
        plan.crossJoin(F.broadcast(dig_in))
        .crossJoin(F.broadcast(dig_out))
        .crossJoin(F.broadcast(scan))
        .select(
            "n_bins",
            "n_files_in",
            "n_rows",
            "bytes",
            "digest",
            (F.col("_digest_out") == F.col("digest")).cast("int")
            .alias("digest_match"),
            (F.col("_n_rows_out") == F.col("n_rows")).cast("int")
            .alias("rows_match"),
            F.expr(
                "CAST(CAST(_n_scanned AS DECIMAL(38,0)) * 1000000"
                " div (n_bins * _n_probes) AS BIGINT)"
            ).alias("day_scan_ppm"),
        )
    )


QUERIES = {
    "pipeline_clean": pipeline_clean,
    "pipeline_report": pipeline_report,
    "pipeline_curate": pipeline_curate,
    "pipeline_curate_v2": pipeline_curate_v2,
    "pipeline_curate_v3": pipeline_curate_v3,
    "pipeline_curate_v4": pipeline_curate_v4,
    "filter_funnel_v3": filter_funnel_v3,
    "pipeline_lake": pipeline_lake,
}


def _lake_oracle() -> str:
    from flinkproj_spark.operators.relational import TD_MOD, td_row_hash_sql
    from flinkproj_spark.operators.sampling import (
        CP_ROW_OVERHEAD,
        CP_TARGET_BYTES,
    )

    return f"""
        WITH inv AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                 COUNT(*) AS n_rows,
                 SUM(len(props) + {CP_ROW_OVERHEAD}) AS bytes
          FROM events GROUP BY 1, 2),
        planned AS (
          SELECT *,
                 COALESCE(SUM(bytes) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // {CP_TARGET_BYTES} AS bin_id
          FROM inv),
        bins AS (
          SELECT event_type, bin_id, MIN(d) AS mn, MAX(d) AS mx,
                 COUNT(*) AS n_files, SUM(n_rows) AS n_rows,
                 SUM(bytes) AS bytes
          FROM planned GROUP BY 1, 2),
        probes AS (
          SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d
          FROM events),
        dig AS (
          SELECT COUNT(*) AS n_rows,
                 CAST(SUM(CAST({td_row_hash_sql("events")} AS HUGEINT))
                      % {TD_MOD} AS BIGINT) AS digest
          FROM events),
        sc AS (
          SELECT COUNT(*) AS n_scanned
          FROM probes p JOIN bins b ON p.d BETWEEN b.mn AND b.mx)
        SELECT CAST((SELECT COUNT(*) FROM bins) AS BIGINT) AS n_bins,
               CAST((SELECT SUM(n_files) FROM bins) AS BIGINT) AS n_files_in,
               (SELECT CAST(n_rows AS BIGINT) FROM dig) AS n_rows,
               CAST((SELECT SUM(bytes) FROM bins) AS BIGINT) AS bytes,
               (SELECT digest FROM dig) AS digest,
               CAST(1 AS INT) AS digest_match,
               CAST(1 AS INT) AS rows_match,
               CAST((SELECT CAST(n_scanned AS HUGEINT) FROM sc) * 1000000
                    // ((SELECT COUNT(*) FROM bins)
                        * (SELECT COUNT(*) FROM probes)) AS BIGINT)
                 AS day_scan_ppm
    """

_DIM_SQL = """(VALUES ('US','AREA_US'), ('TW','AREA_CT'), ('HK','AREA_CT'),
    ('PK','AREA_AR'), ('KW','AREA_AR'), ('SA','AREA_AR'),
    ('IN','AREA_IN')) d(country, area)"""

_CC_SQL = "(['US','TW','HK','PK','KW','SA','IN','ID'])[CAST(user_id % 8 + 1 AS INTEGER)]"
_AREA_SQL = ("(['AREA_US','AREA_CT','AREA_AR','AREA_IN','AREA_ID'])"
             "[CAST(user_id % 5 + 1 AS INTEGER)]")

ORACLE = {
    "pipeline_clean": f"""
        WITH src AS (
          SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt,
                 {_CC_SQL} AS cc,
                 "value" AS v
          FROM events),
        flat AS (
          SELECT dt, cc, 's1' AS type, v AS score, 'A' AS level FROM src
          UNION ALL
          SELECT dt, cc, 's2' AS type, v + 1.0 AS score, 'B' AS level FROM src)
        SELECT f.type, f.score, f.level,
               COALESCE(d.area, 'other') AS area,
               f.dt
        FROM flat f LEFT JOIN {_DIM_SQL} ON f.cc = d.country
    """,
    "pipeline_report": f"""
        WITH parsed AS (
          SELECT date_trunc('second', ts) AS ts,
                 event_type AS type,
                 {_AREA_SQL} AS area
          FROM events
          WHERE event_type <> 'error'),
        agg AS (
          SELECT CAST(FLOOR(epoch(ts) / 30) * 30 AS BIGINT) AS wstart,
                 type, area,
                 COUNT(*) AS count,
                 strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS time
          FROM parsed GROUP BY 1, 2, 3)
        SELECT time, type, area, count,
               replace(time, ' ', '_') || '-' || type || '-' || area AS doc_id
        FROM agg
    """,
}


def _gate_sql() -> str:
    """Standalone SELECT for the gate stage (kept docs, pre-dedup) —
    the single source the pipeline oracles AND the funnel report's
    oracle compose from, so the stages can never desynchronize."""
    from flinkproj_spark.operators.text import (
        _BEST,
        _LANG_SCORES,
        _STOP_SQL,
        _WORDS_SQL,
    )

    return f"""
        SELECT doc_id, lang, text, n_words FROM (
          SELECT doc_id, lang, text,
                 len({_WORDS_SQL}) AS n_words,
                 len(list_filter({_WORDS_SQL},
                     w -> list_contains([{_STOP_SQL}], lower(w)))) AS n_stop,
                 {_LANG_SCORES}
          FROM documents)
        WHERE {_BEST} > 0
          AND n_words >= 20
          AND LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0)
              * (1.0 - CAST(n_stop AS DOUBLE) / n_words) >= 0.3
    """


def _deduped_sql() -> str:
    """Gate stage + exact dedup (keep min doc_id per content hash)."""
    return f"""
        SELECT doc_id, lang, n_words FROM (
          SELECT doc_id, lang, n_words,
                 ROW_NUMBER() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rn
          FROM ({_gate_sql()}))
        WHERE rn = 1
    """


def _curate_oracle(drop_set_sql: str | None = None) -> str:
    from flinkproj_spark.operators.dedup import _MINHASH_PAIRS_SQL

    if drop_set_sql is None:
        drop_set_sql = f"SELECT doc_b FROM ({_MINHASH_PAIRS_SQL})"
    return f"""
        SELECT doc_id, lang, n_words FROM ({_deduped_sql()})
        WHERE doc_id NOT IN ({drop_set_sql})
    """


def _curate_v2_oracle() -> str:
    from flinkproj_spark.operators.curation import ORACLE as _CURATION_ORACLE

    verify = _CURATION_ORACLE["neardup_semantic_verify"]
    return _curate_oracle(
        f"SELECT doc_b FROM ({verify}) WHERE confirmed = 1"
    )


def _curate_v3_oracle() -> str:
    from flinkproj_spark.operators.dedup import ORACLE as _DEDUP_ORACLE

    decon = _DEDUP_ORACLE["decontaminate"]
    return f"""
        SELECT * FROM ({_curate_v2_oracle()})
        WHERE doc_id NOT IN (
          SELECT doc_id FROM ({decon}) WHERE contaminated)
    """


def _curate_v4_oracle() -> str:
    from flinkproj_spark.operators.similarity import ORACLE as _SIM_ORACLE

    sem = _SIM_ORACLE["semdedup_cells"]
    return f"""
        SELECT * FROM ({_curate_v3_oracle()})
        WHERE doc_id NOT IN (
          SELECT vec_id FROM ({sem}) WHERE is_dropped = 1)
    """


ORACLE["pipeline_curate"] = _curate_oracle()
ORACLE["pipeline_curate_v2"] = _curate_v2_oracle()
ORACLE["pipeline_curate_v3"] = _curate_v3_oracle()
ORACLE["pipeline_curate_v4"] = _curate_v4_oracle()

# Funnel report composed from the SAME stage SQL the pipeline oracles
# use — scalar-subquery counts, so the report's invariant (stage N
# equals pipeline key N's row count) holds in the oracle by
# construction, exactly as the contract test pins it on the Spark side.
ORACLE["filter_funnel_v3"] = f"""
    SELECT
      (SELECT COUNT(*) FROM documents) AS n_total,
      (SELECT COUNT(*) FROM ({_gate_sql()})) AS n_gated,
      (SELECT COUNT(*) FROM ({_deduped_sql()})) AS n_exact,
      (SELECT COUNT(*) FROM ({_curate_oracle()})) AS n_after_neardup,
      (SELECT COUNT(*) FROM ({_curate_v2_oracle()})) AS n_after_semantic,
      (SELECT COUNT(*) FROM ({_curate_v3_oracle()})) AS n_after_decontam
"""

ORACLE["pipeline_lake"] = _lake_oracle()
