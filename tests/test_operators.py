"""Operator-level semantics the oracle can't see: determinism across
runs, known near-dup recovery, multimodal decode plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F

from flinkproj_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard
from flinkproj_spark.operators.multimodal import multimodal_decode, multimodal_meta
from flinkproj_spark.operators.similarity import ann_topk_brute, ann_topk_lsh
from flinkproj_spark.sources.tables import load_table


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    """The corpus plants near-duplicate documents (shared long prefixes);
    MinHash-LSH must surface them, and candidates must really be similar."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    jacc = dedup_ngram_jaccard(spark, sf_dir)
    p = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    j = {(r.doc_a, r.doc_b) for r in jacc.collect()}
    assert p, "no candidate pairs found despite planted near-dups"
    # LSH candidates and exact-jaccard pairs agree substantially
    assert p & j, "LSH candidates disjoint from exact high-jaccard pairs"


def test_cluster_labels_are_transitive_closure(spark, sf_dir):
    """Connected-components invariants: every candidate pair shares a
    cluster label, the label is the component's min doc_id, and labels
    are stable across runs."""
    from flinkproj_spark.operators.dedup import dedup_cluster

    pairs = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    label = {r.doc_id: r.cluster_id for r in dedup_cluster(spark, sf_dir).collect()}
    for a, b in pairs:
        assert label[a] == label[b], f"pair ({a},{b}) split across clusters"
    for node, lab in label.items():
        assert lab <= node  # min-label: never above the member id
        assert label[lab] == lab  # the labeling is canonical (root maps to itself)


def test_minhash_deterministic_across_runs(spark, sf_dir):
    a = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
    assert a == b


def test_lsh_topk_is_subset_quality_of_brute(spark, sf_dir):
    """LSH trades recall, never precision: every (query, hit) it returns
    must score the same cosine as brute force computes for that pair —
    and the multi-probe recall must not regress below its floor."""
    brute = {(r.query_id, r.vec_id): r.cos for r in ann_topk_brute(spark, sf_dir).collect()}
    lsh = {(r.query_id, r.vec_id): r.cos for r in ann_topk_lsh(spark, sf_dir).collect()}
    for pair, cos in lsh.items():
        if pair in brute:
            assert abs(brute[pair] - cos) < 1e-9
    # measured: 0.475 at the sf0.001 test fixture, 0.60 at sf0.01 —
    # the floor guards the probe set, not a particular corpus draw
    recall = len(set(brute) & set(lsh)) / len(brute)
    assert recall >= 0.4, f"distance-2 multi-probe recall regressed: {recall}"


def test_banded_lsh_recall_beats_single_table(spark, sf_dir):
    """OR-banding (3 tables x d<=2 probes) must hold its recall floor:
    measured 0.90 at sf0.001, 0.975 at sf0.01."""
    from flinkproj_spark.operators.similarity import ann_topk_lsh_banded

    brute = {(r.query_id, r.vec_id) for r in ann_topk_brute(spark, sf_dir).collect()}
    got = {(r.query_id, r.vec_id) for r in ann_topk_lsh_banded(spark, sf_dir).collect()}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.8, f"banded LSH recall regressed: {recall}"


def test_multimodal_decode_schema_and_determinism(spark, sf_dir):
    out = multimodal_decode(spark, sf_dir)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_bytes", "width", "height", "mean_byte", "max_byte", "n_frames"]
    rows = {r.doc_id: r for r in out.collect()}
    meta = {r.doc_id: r for r in multimodal_meta(spark, sf_dir).collect()}
    assert set(rows) == set(meta)
    for did, r in rows.items():
        m = meta[did]
        # n_bytes covers header + pixel data; dimensions must have been
        # recovered from the parsed header, frames count pixel bytes.
        hdr_len = len(f"P5 {m.width} {m.height} 255\n")
        assert r.n_bytes == m.n_bytes + hdr_len
        assert (r.width, r.height) == (m.width, m.height)
        assert r.n_frames == (m.n_bytes + 63) // 64
        assert 0 <= r.mean_byte <= 255
    # deterministic across runs (decode is pinned)
    again = {r.doc_id: r.mean_byte for r in multimodal_decode(spark, sf_dir).collect()}
    assert again == {d: r.mean_byte for d, r in rows.items()}


def test_multimodal_decode_is_arrow_batched(spark, sf_dir):
    plan = multimodal_decode(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_events_timestamps_survive_nanos_roundtrip(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # read the year JVM-side (session TZ = UTC): collecting the raw
    # timestamp renders it in the HOST timezone, which would flip
    # 2024-01-01T00:.. to 2023-12-31 on hosts west of UTC
    mn_year, mn, mx = events.agg(
        F.date_format(F.min("ts"), "yyyy"), F.min("ts"), F.max("ts")
    ).collect()[0]
    assert mn_year == "2024" and mx > mn


def test_sql_api_runs_arbitrary_queries(spark, sf_dir):
    from flinkproj_spark.sql import sql

    df = sql(spark, sf_dir, """
        SELECT n.n_name, COUNT(*) AS n_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n_cust DESC, n.n_name LIMIT 3
    """)
    rows = df.collect()
    assert len(rows) == 3 and all(r.n_cust > 0 for r in rows)


def test_approx_percentile_within_error_bound(spark, sf_dir):
    """The self-auditing key carries its own exact anchor: every
    segment's GK estimate must sit inside the APS_BAND_PCT band (the
    verdict column the DuckDB oracle pins to 1), and the exact columns
    must agree with the exact twin."""
    from flinkproj_spark.operators.stats import (
        approx_percentile_stats,
        percentile_stats,
    )

    exact = {r.c_mktsegment: r for r in percentile_stats(spark, sf_dir).collect()}
    rows = {r.c_mktsegment: r for r in approx_percentile_stats(spark, sf_dir).collect()}
    assert set(exact) == set(rows)
    for seg, a in rows.items():
        e = exact[seg]
        assert a.gk_within_band == 1, (seg, a)
        assert (a.n_cust, a.median_bal, a.p90_bal) == (e.n_cust, e.median_bal, e.p90_bal)


def test_approx_distinct_within_error_bound(spark, sf_dir):
    """Same audit-twin contract for the HLL++ key: the within-band
    verdict holds on every event_type, and the exact anchor agrees with
    the exact twin."""
    from flinkproj_spark.operators.relational import (
        approx_distinct_counts, distinct_counts)

    exact = {r.event_type: r.n_users for r in distinct_counts(spark, sf_dir).collect()}
    rows = {r.event_type: r for r in approx_distinct_counts(spark, sf_dir).collect()}
    assert set(exact) == set(rows)
    for t, a in rows.items():
        assert a.hll_within_band == 1, (t, a)
        assert a.n_users_exact == exact[t]


def test_ann_recall_floors_vs_brute(spark, sf_dir):
    """The approximate variants must stay above their measured recall
    floors against exact brute force — a config regression (fewer
    probes, broken multi-probe expansion) trips this before a user sees
    silently-bad neighbors."""
    from flinkproj_spark.operators.similarity import ann_topk_ivf

    brute = {(r.query_id, r.vec_id) for r in ann_topk_brute(spark, sf_dir).collect()}
    lsh = {(r.query_id, r.vec_id) for r in ann_topk_lsh(spark, sf_dir).collect()}
    ivf = {(r.query_id, r.vec_id) for r in ann_topk_ivf(spark, sf_dir).collect()}
    assert len(lsh & brute) / len(brute) >= 0.15
    assert len(ivf & brute) / len(brute) >= 0.35


def test_pq_rerank_recall_floor(spark, sf_dir):
    """The PQ funnel (ADC shortlist -> exact rerank) must hold its
    measured mean recall floor against exact L2 top-k. The untrained
    subset codebook on near-orthogonal synthetic vectors IS the floor
    case — a trained codebook only improves it — so a dip below means
    the encode/ADC/rerank plumbing broke, not the data."""
    from flinkproj_spark.operators.similarity import ann_pq_recall_eval

    rows = ann_pq_recall_eval(spark, sf_dir).collect()
    mean = sum(r.recall_pct for r in rows) / len(rows)
    assert mean >= 55, f"PQ rerank mean recall regressed: {mean}"


def test_repetition_flags_planted_repetitive_doc(spark, tmp_path):
    """A doc that is one trigram stamped over and over must flag; a
    diverse doc must not; a doc below 3 words is excluded."""
    from flinkproj_spark.operators.text import text_repetition

    rows = [
        (1, ("spam ham eggs " * 20).strip(), "en", "s", 0),
        (2, "every word here appears exactly once in this document", "en", "s", 0),
        (3, "too short", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in text_repetition(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    assert out[1].repetitive == 1 and out[1].dup_trigram_frac > 0.9
    assert out[2].repetitive == 0 and out[2].dup_word_frac == 0.0


def test_train_shard_shuffle_is_dense_balanced_and_shuffled(spark, sf_dir):
    """Every shard's positions are exactly 1..n (dense ranks), shards
    are roughly balanced, and the order is not the input order (it is
    actually shuffled)."""
    from collections import defaultdict

    from flinkproj_spark.operators.sampling import train_shard_shuffle

    rows = train_shard_shuffle(spark, sf_dir).collect()
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r.shard].append((r.pos, r.doc_id))
    n = len(rows)
    for shard, members in by_shard.items():
        assert sorted(p for p, _ in members) == list(range(1, len(members) + 1))
        assert len(members) < 0.5 * n, "one shard holds half the corpus"
        ordered = [d for _, d in sorted(members)]
        assert ordered != sorted(ordered), f"shard {shard} kept input order"


def test_domain_mix_hits_target_mixture(spark, sf_dir):
    """The binding language keeps ~everything and the achieved mixture
    is within sampling noise of the target percents."""
    from collections import Counter

    from flinkproj_spark.operators.sampling import _MIX_PCT, domain_mix
    from flinkproj_spark.sources.tables import load_table

    kept = Counter(r.lang for r in domain_mix(spark, sf_dir).collect())
    orig = Counter(
        r.lang
        for r in load_table(spark, sf_dir, "documents").select("lang").collect()
    )
    total = sum(kept.values())
    binding = min(orig, key=lambda l: orig[l] * 100 / _MIX_PCT[l])
    assert kept[binding] / orig[binding] > 0.9, "binding language was cut"
    for lang, pct in _MIX_PCT.items():
        assert abs(kept[lang] / total - pct / 100) < 0.06, (
            f"{lang}: got {kept[lang] / total:.2f}, want {pct / 100:.2f}"
        )


def test_gopher_filter_rules_are_integer_exact(spark, sf_dir):
    from flinkproj_spark.operators.text import gopher_quality_filter

    df = gopher_quality_filter(spark, sf_dir).toPandas()
    assert set(df["keep"]) <= {0, 1}
    assert (df["keep"] == 1).any() and (df["keep"] == 0).any(), (
        "thresholds should split the corpus, not rubber-stamp it"
    )
    # re-derive the verdict from the reported statistics: the output
    # must be self-consistent (the rules ARE the columns)
    import numpy as np

    n = df["n_words"]
    expect = (
        (n >= 15)
        & (n <= 100_000)
        & (df["word_chars"] >= 2 * n)
        & (df["word_chars"] <= 10 * n)
        & (df["alpha_words"] * 10 >= 8 * n)
        & (df["stop_hits"] >= 2)
    ).astype(int)
    assert (df["keep"] == expect).all()


def test_quantile_buckets_are_equal_frequency(spark, sf_dir):
    from flinkproj_spark.operators.sampling import quantile_bucketize

    df = quantile_bucketize(spark, sf_dir).toPandas().sort_values("bucket")
    assert list(df["bucket"]) == list(range(1, 11))
    total = df["n_docs"].sum()
    # each decile within 2x of ideal (ties can skew but not collapse)
    assert df["n_docs"].max() <= 2 * (total // 10) + 1
    # buckets tile the length axis in order without overlap
    assert (df["min_chars"].values[1:] > df["max_chars"].values[:-1]).all()


def test_stratified_split_shares_sum_per_lang(spark, sf_dir):
    from flinkproj_spark.operators.sampling import stratified_split

    df = stratified_split(spark, sf_dir).toPandas()
    by_lang = df.groupby("lang")["share_ppm"].sum()
    # integer-floor ppm: sums land within 3 ppm below 1e6, never above
    assert ((by_lang <= 1_000_000) & (by_lang >= 1_000_000 - 3)).all()
    tr = df[df["split"] == "train"].set_index("lang")["share_ppm"]
    assert ((tr > 650_000) & (tr < 900_000)).all(), "train share ~80%"


def test_scd2_intervals_tile_per_user(spark, sf_dir):
    from flinkproj_spark.operators.relational import scd2_history

    df = scd2_history(spark, sf_dir).toPandas()
    # exactly one open (current) interval per user
    cur = df.groupby("user_id")["is_current"].sum()
    assert (cur == 1).all()
    # intervals are contiguous: each valid_to equals the next valid_from
    for _, g in df.sort_values(["user_id", "valid_from"]).groupby("user_id"):
        vt = g["valid_to"].iloc[:-1].reset_index(drop=True)
        vf = g["valid_from"].iloc[1:].reset_index(drop=True)
        assert (vt == vf).all()
        # adjacent runs never share an event_type (true change points)
        types = g["event_type"].tolist()
        assert all(a != b for a, b in zip(types, types[1:]))


def test_cdc_merge_equals_latest_with_deletes(spark, sf_dir):
    from flinkproj_spark.operators.relational import cdc_merge_latest
    from flinkproj_spark.sources.tables import load_table
    import pandas as pd

    got = cdc_merge_latest(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").toPandas()
    last = ev.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    expect = last[last["event_type"] != "error"]
    assert set(got["user_id"]) == set(expect["user_id"])
    m = got.set_index("user_id").join(
        expect.set_index("user_id")[["ts", "event_type", "value"]]
    )
    assert (m["last_ts"] == m["ts"]).all()
    assert (m["last_type"] == m["event_type"]).all()


def test_key_skew_profile_is_heavy_hitter_ranked(spark, sf_dir):
    from flinkproj_spark.operators.relational import key_skew_profile

    df = key_skew_profile(spark, sf_dir).toPandas().sort_values("rank")
    assert (df["cnt"].diff().dropna() <= 0).all(), "descending by count"
    assert df["share_ppm"].sum() <= 1_000_000


def test_pagerank_mass_is_conserved_and_ranked(spark, sf_dir):
    from flinkproj_spark.operators.graph import _PR_SCALE, pagerank_fixed

    df = pagerank_fixed(spark, sf_dir).toPandas()
    assert len(df) == 30
    assert (df["rank"] > 0).all()
    # damping leaks at most 15% + integer-floor dust per step; ranks
    # stay within an order of magnitude of the initial mass
    assert df["rank"].max() < 100 * _PR_SCALE
    assert (df["rank"].diff().dropna() <= 0).all()


def test_anomaly_rolling_z_flags_are_sane(spark, sf_dir):
    from flinkproj_spark.operators.timeseries import anomaly_rolling_z

    df = anomaly_rolling_z(spark, sf_dir).toPandas()
    rate = df["is_anomaly"].mean()
    # |z|>3 on a bounded uniform-ish stream: rare but present
    assert 0 <= rate < 0.2
    assert (df["n"] >= 10).all() and (df["n"] <= 20).all()


def test_event_paths_start_with_singleton_prefixes(spark, sf_dir):
    from flinkproj_spark.operators.analytic import event_path_topk

    df = event_path_topk(spark, sf_dir).toPandas()
    assert (df["path"].str.count(">") <= 4).all()
    assert (df["n_users"].diff().dropna() <= 0).all()


def test_knn_vote_accuracy_beats_chance(spark, sf_dir):
    from flinkproj_spark.operators.similarity import knn_label_vote

    df = knn_label_vote(spark, sf_dir).toPandas()
    assert len(df) == 8
    assert (df["votes"] >= 1).all() and (df["votes"] <= 5).all()
    # the synthetic labels are NOT geometrically clustered (measured:
    # 5-NN label distributions are near-uniform), so this op's value on
    # this corpus is the honest eval readout itself — pin structure +
    # determinism, not accuracy
    assert (df["correct"] == (df["true_label"] == df["pred_label"]).astype(int)).all()
    again = knn_label_vote(spark, sf_dir).toPandas()
    assert df.sort_values("query_id").values.tolist() == (
        again.sort_values("query_id").values.tolist()
    )


def test_embedding_dim_stats_covers_all_dims(spark, sf_dir):
    from flinkproj_spark.operators.similarity import embedding_dim_stats

    df = embedding_dim_stats(spark, sf_dir).toPandas()
    assert sorted(df["pos"]) == list(range(1, 65))
    assert (df["range_q"] > 0).all(), "no dimension should be constant"
    assert df["n"].nunique() == 1


def test_tfidf_and_bm25_agree_on_relevance(spark, sf_dir):
    from flinkproj_spark.operators.retrieval import bm25_topk, tfidf_topk

    t = tfidf_topk(spark, sf_dir).toPandas()
    b = bm25_topk(spark, sf_dir).toPandas()
    assert (t["tfidf_cos"] > 0).all()
    assert (t["tfidf_cos"].diff().dropna() <= 1e-12).all()
    # two classical rankers over the same terms: top sets overlap
    overlap = len(set(t["doc_id"]) & set(b["doc_id"]))
    assert overlap >= 5


def test_filter_funnel_is_monotone(spark, sf_dir):
    from flinkproj_spark.operators.curation import filter_funnel_report

    row = filter_funnel_report(spark, sf_dir).toPandas().iloc[0]
    assert (
        row["n_total"]
        >= row["n_tokenizable"]
        >= row["n_lang"]
        >= row["n_quality"]
        >= row["n_unique"]
        > 0
    )


def test_chi2_cells_cover_the_contingency_table(spark, sf_dir):
    from flinkproj_spark.operators.stats import chi2_lang_source
    from flinkproj_spark.sources.tables import load_table

    df = chi2_lang_source(spark, sf_dir).toPandas()
    n_cells = (
        load_table(spark, sf_dir, "documents")
        .select("lang", "source")
        .distinct()
        .count()
    )
    assert len(df) == n_cells
    # observed counts reconstruct the corpus size; chi2 is non-negative
    assert (df["chi2_e6"] >= 0).all()
    assert df["o"].sum() == load_table(spark, sf_dir, "documents").count()


def test_vocab_coverage_rates_are_consistent(spark, sf_dir):
    from flinkproj_spark.operators.text import vocab_coverage

    df = vocab_coverage(spark, sf_dir).toPandas()
    assert (df["n_oov"] <= df["n_tokens"]).all()
    assert (df["oov_ppm"] <= 1_000_000).all() and (df["oov_ppm"] >= 0).all()
    # the synthetic vocabulary is small: top-1000 must cover nearly all
    assert (df["oov_ppm"] < 500_000).all()


def test_phash_buckets_group_identical_payloads(spark, sf_dir):
    from flinkproj_spark.operators.multimodal import multimodal_phash_buckets
    from flinkproj_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    df = multimodal_phash_buckets(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents")
    n_eligible = docs.filter(F.length(F.encode("text", "UTF-8")) >= 61).count()
    assert df["n_docs"].sum() == n_eligible, "every eligible doc is bucketed"
    # the corpus plants exact/near duplicates: some buckets must collide
    assert (df["n_docs"] > 1).any()
    # a bucket's representative is its minimum member id
    assert (df["rep_doc"] >= 0).all()


def test_phash_hamming_recovers_planted_near_dup(spark, tmp_path):
    """Plant two payloads whose dHashes differ in exactly 2 of 60 bits
    (one character dip flips two adjacent gradient comparisons) plus an
    exact duplicate; the banded d<=3 join must recover the near pair,
    and the exact copy must appear as a hamming-0 star pair."""
    import string

    from flinkproj_spark.operators.multimodal import dedup_phash_hamming

    base = (string.ascii_lowercase * 3)[:80]  # strictly rising in runs
    dipped = base[:10] + "a" + base[11:]      # local dip -> 2 flipped bits
    rows = [
        (0, base, "en", "src0", len(base)),
        (1, dipped, "en", "src0", len(dipped)),
        (2, base, "en", "src1", len(base)),   # exact duplicate of 0
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"), mode="overwrite")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup_phash_hamming(spark, str(tmp_path)).collect()
    }
    assert (0, 2, 0) in got, f"exact-dup star pair missing: {got}"
    near = {(a, b) for a, b, h in got if 1 <= h <= 3}
    assert (0, 1) in near, f"planted 2-bit near-dup not recovered: {got}"


def test_round3_ops_survive_empty_inputs(spark, tmp_path):
    """Every round-3 operator must execute (not crash) on structurally
    valid but EMPTY tables — the first micro-batch of a new deployment
    is empty, and an operator that throws there blocks the pipeline."""
    from flinkproj_spark import registry

    schemas = {
        "documents": "doc_id long, text string, lang string, source string, n_chars long",
        "events": "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        "embeddings": "vec_id long, embedding array<float>, label int",
        "orders": "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate date, o_orderpriority string",
        "lineitem": "l_orderkey long, l_suppkey long, l_partkey long, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate date, l_commitdate date, l_receiptdate date",
    }
    for name, schema in schemas.items():
        spark.createDataFrame([], schema).write.parquet(
            str(tmp_path / f"{name}.parquet"), mode="overwrite"
        )
    keys = [
        "gopher_quality_filter", "vocab_coverage", "quantile_bucketize",
        "stratified_split", "scd2_history", "cdc_merge_latest",
        "key_skew_profile", "event_path_topk", "anomaly_rolling_z",
        "pagerank_fixed", "chi2_lang_source", "embedding_dim_stats",
        "knn_label_vote", "tfidf_topk", "filter_funnel_report",
        "multimodal_phash_buckets", "dedup_phash_hamming", "zorder_layout",
    ]
    q = registry.queries()
    failures = {}
    for key in keys:
        try:
            q[key](spark, str(tmp_path)).count()
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures[key] = repr(e)[:160]
    assert not failures, failures


def test_zorder_buckets_are_locality_tight(spark, sf_dir):
    """The point of the curve: each z-bucket must span a narrow band of
    BOTH dimensions relative to the full domain (that is what lets
    min-max file stats prune on either predicate)."""
    from flinkproj_spark.operators.screens import zorder_layout
    from flinkproj_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    df = zorder_layout(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    full_minutes = (hi - lo).total_seconds() / 60
    spans = df["max_minute"] - df["min_minute"]
    # buckets cover the time axis in disjoint-ish slices, each far
    # narrower than the whole range
    assert (spans <= full_minutes / 2).all()
    assert df["n_events"].sum() == ev.count()


def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    """The IVM invariant directly: merging the pre-T0 base rollup with
    the post-T0 delta must reproduce the full-history rollup row for
    row — including buckets present on only one side of the merge."""
    from flinkproj_spark.operators.screens import _IVM_T0, incremental_rollup_merge
    from flinkproj_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    got = incremental_rollup_merge(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    # both sides of the boundary must be non-trivial for the test to bite
    assert ev.filter(F.col("ts") < _IVM_T0).count() > 0
    assert ev.filter(F.col("ts") >= _IVM_T0).count() > 0
    assert got.count() == ev.select(
        F.date_trunc("minute", "ts"), "event_type"
    ).distinct().count()
    assert got.filter(F.col("n") <= 0).count() == 0


def test_substring_clean_matches_report_coverage(spark, sf_dir):
    """The transform and the report must agree: for every doc the
    report flags, tokens_removed == dup_tokens (the interval-union
    length dedup_substring computed), and unflagged docs keep every
    token. Two independent formulations (LEAD interval-union vs
    running-max sweep) meeting on the same number is a strong check
    both are right."""
    from flinkproj_spark.operators.dedup import (
        dedup_substring,
        substring_dedup_clean,
    )

    report = {
        r.doc_id: (r.n_tokens, r.dup_tokens)
        for r in dedup_substring(spark, sf_dir).collect()
    }
    cleaned = {
        r.doc_id: (r.n_tokens, r.n_tokens - r.kept_tokens)
        for r in substring_dedup_clean(spark, sf_dir).collect()
    }
    assert set(report) <= set(cleaned)
    for doc_id, (n, dup) in report.items():
        assert cleaned[doc_id] == (n, dup), doc_id
    for doc_id, (n, removed) in cleaned.items():
        if doc_id not in report:
            assert removed == 0, doc_id
    assert any(removed > 0 for _, removed in cleaned.values())


def test_substring_dedup_hand_computed_fixture(spark, tmp_path):
    """Absolute semantics on a crafted corpus (not just two
    implementations agreeing): doc 1 and doc 2 share an 8-token run;
    doc 3 contains the same run twice internally (overlapping
    coverage); doc 4 is clean; doc 5 is too short for any gram."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.dedup import (
        dedup_substring,
        substring_dedup_clean,
    )

    run = "a b c d e f g h"           # the duplicated 8-token run
    rows = [
        (1, f"{run} tail1 tail2"),     # 10 tokens, run at pos 1
        (2, f"lead1 lead2 {run}"),     # 10 tokens, run at pos 3
        (3, f"{run} {run}"),           # 16 tokens, fully covered
        (4, "q r s t u v w x y z"),    # clean 10 tokens
        (5, "short doc"),              # 2 tokens, no grams
    ]
    spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"), F.length("text").alias("n_chars"),
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    rep = {r.doc_id: (r.n_tokens, r.n_dup_grams, r.dup_tokens)
           for r in dedup_substring(spark, str(tmp_path)).collect()}
    # doc 3's grams: positions 1..9; pos 1 ("a..h") and pos 9 ("a..h"
    # again) duplicate pos-1/pos-9 content; also cross-doc with 1 and 2.
    # every doc-1/2 gram at its run start duplicates across docs.
    assert set(rep) == {1, 2, 3}
    assert rep[1] == (10, 1, 8)        # one dup gram at pos 1, covers 8
    assert rep[2] == (10, 1, 8)        # one dup gram at pos 3, covers 8
    n3, g3, d3 = rep[3]
    assert n3 == 16 and d3 == 16       # overlapping runs cover everything
    assert g3 >= 2                     # at least both run starts flagged

    cln = {r.doc_id: (r.n_tokens, r.kept_tokens)
           for r in substring_dedup_clean(spark, str(tmp_path)).collect()}
    assert cln[1] == (10, 2) and cln[2] == (10, 2)
    assert cln[3] == (16, 0)
    assert cln[4] == (10, 10) and cln[5] == (2, 2)
    import hashlib

    got_fp = {r.doc_id: r.cleaned_fp
              for r in substring_dedup_clean(spark, str(tmp_path)).collect()}
    assert got_fp[1] == hashlib.md5(b"tail1 tail2").hexdigest()
    assert got_fp[2] == hashlib.md5(b"lead1 lead2").hexdigest()
    assert got_fp[3] == hashlib.md5(b"").hexdigest()


def test_embedding_outliers_flags_planted_corruption(spark, tmp_path):
    """On the synthetic Gaussian corpus is_outlier is 0 everywhere —
    correct (no outliers exist; high-dim distances concentrate). Prove
    the gate is LIVE, not dead: plant one corrupted vector (10x
    magnitude) per label and it must flag while the clean ones stay
    dark."""
    import random

    import pyspark.sql.functions as F

    from flinkproj_spark.operators.similarity import DIM, embedding_outliers

    rng = random.Random(7)
    rows = []
    vid = 0
    for label in (0, 1):
        for i in range(30):
            rows.append((vid, [rng.gauss(0, 1) for _ in range(DIM)], label))
            vid += 1
        rows.append((vid, [rng.gauss(0, 10) for _ in range(DIM)], label))
        corrupted = vid
        vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.vec_id: r.is_outlier for r in embedding_outliers(spark, str(tmp_path)).collect()}
    flagged = {v for v, f in out.items() if f == 1}
    assert flagged == {30, 61}, flagged  # exactly the two planted vectors


def test_semantic_verify_confirms_planted_agreeing_pair(spark, tmp_path):
    """On the synthetic corpus `confirmed` is 0 everywhere — correct
    (embeddings are independent of text, so the gate rightly refuses
    to corroborate lexical candidates; that refusal is v2's design
    point). Prove the gate is LIVE: a planted near-dup text pair whose
    embeddings are near-identical must come back confirmed=1."""
    import random

    import pyspark.sql.functions as F

    from flinkproj_spark.operators.curation import neardup_semantic_verify
    from flinkproj_spark.operators.similarity import DIM

    rng = random.Random(11)
    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base_text + " one"),
        (2, base_text + " two"),            # near-dup of 1 (shares shingles)
        (3, "completely different words with no overlap at all here now"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"), F.length("text").alias("n_chars"),
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    v = [rng.gauss(0, 1) for _ in range(DIM)]
    emb = [
        (1, v, 0),
        (2, [x + rng.gauss(0, 0.01) for x in v], 0),  # ~same direction
        (3, [rng.gauss(0, 1) for _ in range(DIM)], 1),
    ]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    rows = {(r.doc_a, r.doc_b): (r.cos, r.confirmed)
            for r in neardup_semantic_verify(spark, str(tmp_path)).collect()}
    assert (1, 2) in rows, rows
    cos, confirmed = rows[(1, 2)]
    assert cos > 0.9 and confirmed == 1


def test_substring_clean_matches_python_reference_randomized(spark, tmp_path):
    """Seeded random corpora with heavy planted repetition, checked
    against an independent pure-Python implementation of the
    exact-substring semantics (gram counting + interval union) —
    catches boundary bugs the hand fixture can't enumerate."""
    import random

    import pyspark.sql.functions as F

    from flinkproj_spark.operators.dedup import SUB_L, substring_dedup_clean

    rng = random.Random(123)
    vocab = [f"w{i}" for i in range(12)]
    runs = [  # shared runs long enough to contain 8-grams
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(8, 14)))
        for _ in range(4)
    ]
    docs = []
    for doc_id in range(40):
        parts = [" ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 12)))]
        if rng.random() < 0.6:  # plant 0-2 shared runs at random offsets
            parts.insert(rng.randrange(len(parts) + 1), rng.choice(runs))
        if rng.random() < 0.3:
            parts.insert(rng.randrange(len(parts) + 1), rng.choice(runs))
        docs.append((doc_id, " ".join(parts)))

    spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("s").alias("source"), F.length("text").alias("n_chars"),
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    # independent reference
    toks = {d: t.split() for d, t in docs}
    from collections import Counter

    gram_count = Counter()
    for d, ws in toks.items():
        for p in range(len(ws) - SUB_L + 1):
            gram_count[" ".join(ws[p : p + SUB_L])] += 1
    expected = {}
    for d, ws in toks.items():
        covered = set()
        for p in range(len(ws) - SUB_L + 1):
            if gram_count[" ".join(ws[p : p + SUB_L])] >= 2:
                covered.update(range(p, p + SUB_L))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        expected[d] = (len(ws), len(kept), " ".join(kept))

    import hashlib

    got = {r.doc_id: (r.n_tokens, r.kept_tokens, r.cleaned_fp)
           for r in substring_dedup_clean(spark, str(tmp_path)).collect()}
    assert set(got) == set(expected)
    n_with_removal = 0
    for d, (n, kept, text) in expected.items():
        fp = hashlib.md5(text.encode()).hexdigest()
        assert got[d] == (n, kept, fp), (d, got[d], (n, kept, text))
        n_with_removal += kept < n
    assert n_with_removal > 5  # the fixture genuinely exercises removal


def test_semdedup_drops_planted_twin_keeps_min_ids(spark, tmp_path):
    """Greedy SemDeDup semantics: a planted near-identical pair in one
    cell loses its larger id; the smaller survives; and — the rule's
    structural invariant — the minimum vec_id of every cell can never
    be dropped (it has no smaller cell-mate to condemn it)."""
    import random

    from flinkproj_spark.operators.similarity import DIM, semdedup_cells

    rng = random.Random(13)
    rows = [(vid, [rng.gauss(0, 1) for _ in range(DIM)], 0) for vid in range(40)]
    twin_src = rows[25][1]
    rows[30] = (30, [x + rng.gauss(0, 0.01) for x in twin_src], 0)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.vec_id: r for r in semdedup_cells(spark, str(tmp_path)).collect()}
    assert out[30].is_dropped == 1 and out[30].max_prior_cos > 0.9
    assert len(out) == 40
    assert sum(r.is_dropped for r in out.values()) < 40  # not all-dark inverse
    cells = {}
    for r in out.values():
        cells.setdefault(r.cell, []).append(r)
    for members in cells.values():
        keeper = min(members, key=lambda r: r.vec_id)
        assert keeper.is_dropped == 0, keeper


def test_bpe_apply_hand_computed_encoding(spark, tmp_path):
    """Exact BPE semantics on a hand-worked fixture: chained merges
    (t,h)->(th,e) collapse 'the' to one id; greedy LTR merging of
    'starts' takes (s,t) at position 0 only; letters outside BPE_VOCAB
    (j, z, q) fall back to id -1 and count as OOV."""
    import hashlib

    import pyspark.sql.functions as F

    from flinkproj_spark.operators.text import BPE_VOCAB, bpe_apply

    vid = {v: i for i, v in enumerate(BPE_VOCAB)}
    docs = [(1, "the tree starts now"), (2, "jazz quiz")]
    spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"), F.length("text").alias("n_chars"),
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in bpe_apply(spark, str(tmp_path)).collect()}
    ids1 = [vid["the"], vid["t"], vid["r"], vid["e"], vid["e"],
            vid["st"], vid["a"], vid["r"], vid["t"], vid["s"],
            vid["n"], vid["ow"]]
    assert out[1].n_tokens == 12 and out[1].n_oov == 0
    assert out[1].ids_fp == hashlib.md5(
        ",".join(map(str, ids1)).encode()).hexdigest()
    ids2 = [-1, vid["a"], -1, -1, -1, vid["u"], vid["i"], -1]
    assert out[2].n_tokens == 8 and out[2].n_oov == 5
    assert out[2].oov_ppm == 5 * 1000000 // 8
    assert out[2].ids_fp == hashlib.md5(
        ",".join(map(str, ids2)).encode()).hexdigest()


def test_multimodal_pack_hand_computed_layout(spark, tmp_path):
    """Hand-worked packing: chunking, image interleaving (0/1/2 images
    by doc_id % 3, second image at the text midpoint), straddle
    accounting (an item belongs to the pack where it starts), and
    doc-run counting across a pack boundary (doc 9 spans packs 2→3 and
    counts once in each)."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.multimodal import multimodal_pack

    sizes = {3: 130, 4: 100, 5: 150, 6: 40, 9: 300}
    docs = [(d, " ".join(["x"] * n)) for d, n in sizes.items()]
    spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("s").alias("source"), F.length("text").alias("n_chars"),
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.pack_id: (r.n_docs, r.n_images, r.n_chunks, r.n_tokens)
        for r in multimodal_pack(spark, str(tmp_path)).collect()
    }
    # doc3 (no img): 64+64+2 @0; doc4 (1 img): 32+64+36 @130 -> pack0
    # doc5 (2 img, h=2): 32+64+64+32+22 @262 -> pack1; doc6: 40 @476
    # doc9: 5 chunks @516,580,644,708 (pack2) + @772 (pack3)
    assert got == {
        0: (2, 1, 5, 262),
        1: (2, 2, 4, 254),
        2: (1, 0, 4, 256),
        3: (1, 0, 1, 44),
    }, got


def test_curate_v4_is_v3_minus_semantic_dups(spark, sf_dir):
    """v4 must be a strict subset of v3 (the semdedup stage only
    removes), and the removed ids must be exactly v3 ∩ semdedup's
    dropped set — the stage composes, it doesn't recompute."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.e2e import pipeline_curate_v3, pipeline_curate_v4
    from flinkproj_spark.operators.similarity import semdedup_cells

    v3 = {r.doc_id for r in pipeline_curate_v3(spark, sf_dir).collect()}
    v4 = {r.doc_id for r in pipeline_curate_v4(spark, sf_dir).collect()}
    dropped = {
        r.vec_id
        for r in semdedup_cells(spark, sf_dir).filter(F.col("is_dropped") == 1).collect()
    }
    assert v4 == v3 - dropped
    assert v4 < v3  # the stage is live on this corpus
    spark.catalog.clearCache()


def test_bpe_token_usage_consistent_with_apply(spark, sf_dir):
    """The usage audit must agree with the per-doc report: total uses
    across ALL ids equals the summed per-doc token counts, ranks are
    1..n in count order, and the surface forms come from BPE_VOCAB."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.text import BPE_VOCAB, bpe_apply, bpe_token_usage

    rows = bpe_token_usage(spark, sf_dir).collect()
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
        range(1, len(rows) + 1)
    )
    counts = [r.n_uses for r in sorted(rows, key=lambda r: r.rank)]
    assert counts == sorted(counts, reverse=True)
    vocab = set(BPE_VOCAB) | {"<unk>"}
    assert all(r.token in vocab for r in rows)
    assert any(len(r.token) > 1 and r.token != "<unk>" for r in rows), (
        "no merged token ranks — the merge table is dead on this corpus"
    )
    total_tokens = bpe_apply(spark, sf_dir).agg(F.sum("n_tokens")).collect()[0][0]
    share_sum = sum(r.share_ppm for r in rows)
    # top-k shares can't exceed the corpus, and with k ~ vocab size
    # they should cover nearly all of it
    assert 0 < share_sum <= 1_000_000
    assert sum(r.n_uses for r in rows) <= total_tokens


def test_pair_graph_triangles_detects_open_wedge(spark, tmp_path):
    """The transitivity alarm must actually fire: a planted A~B~C
    chain whose ends are too different to pair (B bridges two edits
    of the same doc) yields one wedge, zero triangles, transitivity
    0 — while on the real corpus transitivity is 1.0, so this pins
    that the 'low transitivity' verdict path is live, not dead."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.dedup import pair_graph_triangles

    base = ["w%d" % i for i in range(40)]
    b_words = base[:-4] + ["x%d" % i for i in range(4)]
    c_words = list(b_words)
    c_words[5:15] = ["y%d" % i for i in range(10)]
    docs = [(1, " ".join(base)), (2, " ".join(b_words)), (3, " ".join(c_words))]
    spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("s").alias("source"), F.length("text").alias("n_chars"),
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    row = pair_graph_triangles(spark, str(tmp_path)).collect()[0]
    spark.catalog.clearCache()
    assert (row.n_edges, row.n_triangles, row.n_wedges) == (2, 0, 1), row
    assert row.transitivity_ppm == 0


def test_round5_ops_survive_empty_inputs(spark, tmp_path):
    """Round-5 operators must execute (not crash) on structurally
    valid but EMPTY tables — same first-micro-batch contract as the
    round-3 sweep above."""
    from flinkproj_spark import registry

    schemas = {
        "documents": "doc_id long, text string, lang string, source string, n_chars long",
        "embeddings": "vec_id long, embedding array<float>, label int",
    }
    for name, schema in schemas.items():
        spark.createDataFrame([], schema).write.parquet(
            str(tmp_path / f"{name}.parquet"), mode="overwrite"
        )
    keys = [
        "semdedup_cells", "bpe_apply", "bpe_token_usage", "multimodal_pack",
        "filter_funnel_v3", "pipeline_curate_v4", "dedup_pair_degree_hist",
        "pair_graph_triangles", "quality_threshold_sweep",
        "quality_rank_per_lang",
    ]
    q = registry.queries()
    failures = {}
    for key in keys:
        try:
            q[key](spark, str(tmp_path)).count()
        except Exception as e:  # noqa: BLE001 — collecting all failures
            failures[key] = repr(e)[:160]
        finally:
            spark.catalog.clearCache()
    assert not failures, failures


def test_banding_sensitivity_follows_s_curve(spark, sf_dir):
    """The sweep must exhibit the LSH tradeoff it exists to measure:
    fewer rows per band -> more candidates with lower mean estimated
    Jaccard; more rows -> fewer, purer candidates. Production 3x3
    sits strictly between the extremes on this corpus."""
    from flinkproj_spark.operators.dedup import minhash_banding_sensitivity

    rows = {
        (r.bands, r.rows_per_band): r
        for r in minhash_banding_sensitivity(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    hi, mid, lo = rows[(9, 1)], rows[(3, 3)], rows[(1, 9)]
    assert hi.n_pairs > mid.n_pairs > lo.n_pairs
    assert hi.mean_est_jaccard_ppm < mid.mean_est_jaccard_ppm <= lo.mean_est_jaccard_ppm
    assert lo.n_strong_pairs == lo.n_pairs  # 9/9 agreement pairs are all strong


def test_embedding_drift_flags_planted_shift(spark, tmp_path):
    """On the synthetic corpus both snapshot halves share one
    distribution, so is_drifted is 0 everywhere — correct, not dead.
    Plant a +0.5 mean shift on one dimension of the NEW half (odd
    vec_ids) and that dim must flag with the right sign while the
    others stay dark."""
    import random

    from flinkproj_spark.operators.similarity import DIM, embedding_drift_report

    rng = random.Random(21)
    rows = []
    # sigma/n sized so the per-dim mean-difference standard error
    # (sigma*sqrt(2/n) = 0.014 in quantized units: 14) sits far below
    # the 100-unit alarm line — undrifted dims stay dark w.p. ~1
    for vid in range(400):
        v = [rng.gauss(0, 0.2) for _ in range(DIM)]
        if vid % 2 == 1:
            v[4] += 0.5  # dim 5 (1-based) shifts in the new snapshot
        rows.append((vid, v, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.dim: r for r in embedding_drift_report(spark, str(tmp_path)).collect()}
    assert len(out) == DIM
    assert out[5].is_drifted == 1 and out[5].shift_sign == 1
    assert out[5].abs_shift_q > 300
    dark = [d for d, r in out.items() if d != 5 and r.is_drifted == 0]
    assert len(dark) == DIM - 1


def test_eval_leak_report_consistent_with_decontaminate(spark, sf_dir):
    """The two directions of one join must agree: some training doc is
    contaminated iff some eval doc is leaked, and the leak report
    covers every eval doc with a verdict (live on this corpus: the
    synthetic eval split shares shingles with training)."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.dedup import decontaminate, eval_leak_report

    n_contaminated = (
        decontaminate(spark, sf_dir).filter(F.col("contaminated")).count()
    )
    report = eval_leak_report(spark, sf_dir).collect()
    n_leaked = sum(r.is_leaked for r in report)
    assert (n_contaminated > 0) == (n_leaked > 0)
    assert 0 < n_leaked <= len(report)
    for r in report:  # severity columns are mutually consistent
        assert (r.n_train_docs > 0) == (r.is_leaked == 1)
        assert r.n_hits >= max(r.n_train_docs, r.n_shingles_leaked)


def test_epoch_schedule_budget_invariant(spark, sf_dir):
    """The allocation a training run audits before launch: per-source
    targets decompose exactly into integer epochs plus a sub-epoch
    remainder, and the total allocation equals the token budget
    (EPOCH_BUDGET_X x corpus tokens) minus at most one truncated token
    per source."""
    from flinkproj_spark.operators.sampling import EPOCH_BUDGET_X, epoch_schedule

    rows = epoch_schedule(spark, sf_dir).collect()
    assert rows
    budget = EPOCH_BUDGET_X * sum(r.n_tokens for r in rows)
    allocated = sum(r.target_tokens for r in rows)
    assert 0 <= budget - allocated < len(rows)
    for r in rows:
        rem = r.target_tokens - r.epochs * r.n_tokens
        assert 0 <= rem < r.n_tokens
        assert r.epochs_frac_ppm == rem * 1_000_000 // r.n_tokens
        assert r.weight == int(r.n_tokens**0.5)
    # sqrt tempering is live: smaller sources earn MORE epochs
    by_size = sorted(rows, key=lambda r: r.n_tokens)
    small, big = by_size[0], by_size[-1]
    assert small.n_tokens < big.n_tokens
    assert (small.epochs * small.n_tokens + small.n_tokens * small.epochs_frac_ppm / 1e6) / small.n_tokens >= (
        big.epochs + big.epochs_frac_ppm / 1e6
    )


def test_quality_drift_alarm_fires_on_planted_regression(spark):
    """Planted-drift fixture: two sources share a healthy baseline
    half; in the trailing (newer doc_id) half one source degrades to
    spam. The alarm must fire for exactly that source, with a negative
    shift sign, and stay quiet for the stable one."""
    from flinkproj_spark.operators.text import _quality_drift_core

    good = "the cat and the dog are in the house with a friend of mine"
    spam = "zxqwv jjjjjjjjjjjjqqqq xxxxxxxxxxzzzzz qqqqqqqqqqqqqqqwwww"
    rows = []
    for i in range(40):  # doc_ids 0..39: trailing window is 20..39
        rows.append((i, "stable" if i % 2 == 0 else "regressed",
                     spam if (i > 20 and i % 2 == 1) else good))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in _quality_drift_core(docs).collect()}
    assert out["regressed"].is_drifted == 1
    assert out["regressed"].shift_sign == -1
    assert out["stable"].is_drifted == 0
    assert out["stable"].abs_shift_e6 == 0


def test_bounded_reports_release_their_caches(spark, sf_dir):
    """The eager_report contract: the bounded-report operators persist
    internally but must unpersist everything before returning — a
    caller that never calls clearCache() accumulates nothing."""
    from flinkproj_spark.operators.dedup import (
        minhash_banding_sensitivity,
        pair_graph_triangles,
        pair_strategy_agreement,
    )
    from flinkproj_spark.operators.e2e import filter_funnel_v3

    sc = spark.sparkContext
    for fn in (
        pair_strategy_agreement,
        minhash_banding_sensitivity,
        pair_graph_triangles,
        filter_funnel_v3,
    ):
        assert len(fn(spark, sf_dir).collect()) > 0
        n = sc._jsc.sc().getPersistentRDDs().size()
        assert n == 0, f"{fn.__name__} leaked {n} persisted RDD(s)"


def test_semdedup_greedy_vs_any_prior_rule(spark, sf_dir):
    """The two SemDeDup rules' pinned relationship on the real corpus:
    the greedy's drop set is a subset of the conservative any-prior
    rule's (kept is a superset) — greedy never drops what the
    any-prior rule keeps."""
    from flinkproj_spark.operators.similarity import (
        semdedup_cells,
        semdedup_greedy_keep,
    )

    prior = {r.vec_id: r.is_dropped for r in semdedup_cells(spark, sf_dir).collect()}
    greedy = {r.vec_id: r.is_kept for r in semdedup_greedy_keep(spark, sf_dir).collect()}
    assert set(prior) == set(greedy)
    # greedy never drops what the any-prior rule keeps
    assert not [v for v in prior if prior[v] == 0 and greedy[v] == 0]
    assert any(v == 1 for v in prior.values())  # dedup is live at this SF
    spark.catalog.clearCache()


def test_semdedup_greedy_resurrects_planted_chain(spark, tmp_path):
    """Chain resurrection through the FULL semdedup path (two-level
    assignment → cell equi-join → grouped-map greedy), deterministic
    instead of corpus-dependent: a planted 0°/60°/120° chain (cos 0.5,
    0.5, −0.5 around τ=0.35) in a 9-vector corpus where k=3 but only
    centroid id 8 exists, so every vector shares ONE cell. Any-prior
    drops ids 1 AND 2 (1 condemns 2); the greedy drops 1 and
    RESURRECTS 2 (its only condemning neighbor was itself dropped)."""
    import math

    from flinkproj_spark.operators.similarity import (
        DIM,
        semdedup_cells,
        semdedup_greedy_keep,
    )

    def vec(theta_deg):
        t = math.radians(theta_deg)
        v = [0.0] * DIM
        v[0], v[1] = math.cos(t), math.sin(t)
        return v

    # ids 3..8: mutually-orthogonal-ish axes far from the chain plane
    rows = [(0, vec(0), 0), (1, vec(60), 0), (2, vec(120), 0)] + [
        (i, [1.0 if j == i else 0.0 for j in range(DIM)], 0)
        for i in range(3, 9)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    prior = {
        r.vec_id: r.is_dropped
        for r in semdedup_cells(spark, str(tmp_path)).collect()
    }
    greedy = {
        r.vec_id: r.is_kept
        for r in semdedup_greedy_keep(spark, str(tmp_path)).collect()
    }
    assert prior[1] == 1 and prior[2] == 1  # any-prior condemns the chain
    assert greedy[0] == 1 and greedy[1] == 0
    assert greedy[2] == 1, "greedy must resurrect the chain's third vector"
    spark.catalog.clearCache()


def test_greedy_keep_chain_semantics():
    """Exact greedy on a planted chain 1-2-3-4 plus an isolated pair
    (5,6): keep 1, drop 2, resurrect 3, drop 4; keep 5, drop 6 —
    the textbook sequential kept-set semdedup_greedy_keep's per-cell
    grouped map must replay."""
    import pandas as pd

    from flinkproj_spark.operators.similarity import _greedy_keep_cell

    edges = pd.DataFrame({"va": [1, 2, 3, 5], "vb": [2, 3, 4, 6]})
    out = _greedy_keep_cell(edges)
    assert list(out["vec_id"]) == [1, 2, 3, 4, 5, 6]
    assert sorted(out.loc[out["is_kept"] == 1, "vec_id"]) == [1, 3, 5]


def test_bpe_learn_merges_invariants(spark, sf_dir):
    """Trainer invariants: 8 learned rules; rule 1 equals the top pair
    of the candidate scan (bpe_pair_counts); selection counts are
    non-increasing (a merged symbol's pairs are sub-occurrences of
    earlier pairs, so the max pair frequency can only fall); and no
    rule pairs across the '#' word boundary."""
    from flinkproj_spark.operators.text import (
        BPE_LEARN_K,
        bpe_learn_merges,
        bpe_pair_counts,
    )

    rules = bpe_learn_merges(spark, sf_dir).orderBy("merge_rank").collect()
    assert len(rules) == BPE_LEARN_K
    top = bpe_pair_counts(spark, sf_dir).limit(1).collect()[0]
    assert rules[0].lhs + rules[0].rhs == top.pair
    assert rules[0].cnt == top.cnt
    cnts = [r.cnt for r in rules]
    assert cnts == sorted(cnts, reverse=True)
    assert all("#" not in (r.lhs, r.rhs) for r in rules)


def test_kcenter_coreset_invariants(spark, sf_dir):
    """Greedy k-center invariants: 8 distinct centers led by the seed
    (smallest vec_id); the coverage radius² trace is non-increasing
    (each pick is the current farthest point, and adding centers can
    only shrink every point's min distance); all radii positive after
    the seed (the corpus has no 8-fold duplicate vector)."""
    from flinkproj_spark.operators.similarity import KCENTER_K, kcenter_coreset

    rows = kcenter_coreset(spark, sf_dir).orderBy("center_rank").collect()
    assert len(rows) == KCENTER_K
    assert len({r.vec_id for r in rows}) == KCENTER_K
    assert rows[0].center_rank == 1 and rows[0].radius2 == 0
    radii = [r.radius2 for r in rows[1:]]
    assert radii == sorted(radii, reverse=True)
    assert all(r > 0 for r in radii)


def test_label_propagation_partitions_graph(spark, sf_dir):
    """LPA invariants: every community is non-empty, customer+supplier
    splits sum to the member count, members across communities sum to
    the full node population, and at least two communities survive
    (the planted trade graph is not one blob at any SF)."""
    from flinkproj_spark.operators.graph import label_propagation
    from flinkproj_spark.sources.tables import load_table

    out = label_propagation(spark, sf_dir).collect()
    assert len(out) >= 2
    assert all(r.n_customers + r.n_suppliers == r.n_members for r in out)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    n_cust = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).select("o_custkey").distinct().count()
    n_supp = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).select("l_suppkey").distinct().count()
    assert sum(r.n_members for r in out) == n_cust + n_supp
    spark.catalog.clearCache()


def test_pareto_frontier_is_undominated_and_complete(spark, sf_dir):
    """Skyline ground truth by brute force at test scale: the operator's
    frontier must equal the set of docs no other doc dominates on
    (score_e6, n_words)."""
    from flinkproj_spark.operators.text import (
        pareto_frontier,
        quality_classifier_linear,
    )

    all_docs = [
        (r.doc_id, r.score_e6, r.n_words)
        for r in quality_classifier_linear(spark, sf_dir)
        .select("doc_id", "score_e6", "n_words")
        .collect()
    ]
    expected = {
        d
        for d, q, l in all_docs
        if not any(
            (q2 >= q and l2 >= l and (q2 > q or l2 > l))
            for _, q2, l2 in all_docs
        )
    }
    got = {r.doc_id for r in pareto_frontier(spark, sf_dir).collect()}
    assert got == expected and got


def test_curriculum_order_stages_and_positions(spark, sf_dir):
    """Curriculum invariants: stages partition the corpus into four
    near-equal bands ordered by score (every stage-1 doc scores ≥ every
    stage-4 doc); positions are dense 1..n within each (stage, shard);
    the layout is a permutation of the corpus."""
    from flinkproj_spark.operators.sampling import curriculum_order
    from flinkproj_spark.operators.text import quality_classifier_linear

    rows = curriculum_order(spark, sf_dir).collect()
    score = {
        r.doc_id: r.score_e6
        for r in quality_classifier_linear(spark, sf_dir).collect()
    }
    assert len(rows) == len(score) and len({r.doc_id for r in rows}) == len(rows)
    sizes = {}
    for r in rows:
        sizes[r.stage] = sizes.get(r.stage, 0) + 1
    assert set(sizes) == {1, 2, 3, 4}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert min(s for r in rows if r.stage == 1 for s in [score[r.doc_id]]) >= max(
        s for r in rows if r.stage == 4 for s in [score[r.doc_id]]
    )
    by_shard = {}
    for r in rows:
        by_shard.setdefault((r.stage, r.shard), []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """DSIR invariant: the target (English) subcorpus must be
    target-like at a higher rate than every other language — the
    direction of evidence DSIR resamples on — and the relative verdict
    must split the corpus non-degenerately."""
    from flinkproj_spark.operators.curation import dsir_importance_weights
    from flinkproj_spark.sources.tables import load_table

    out = dsir_importance_weights(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = {
        r.lang: (r.n_like, r.n)
        for r in out.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("target_like").alias("n_like"), F.count("*").alias("n")
        )
        .collect()
    }
    en_like, en_n = rates["en"]
    assert 0 < en_like < en_n, "verdict degenerate for the target language"
    for lang, (like, n) in rates.items():
        if lang != "en":
            assert en_like * n >= like * en_n, (
                f"{lang} rated more target-like than the target itself"
            )


def test_tokenizer_fertility_consistency(spark, sf_dir):
    """Fertility table totals must equal bpe_apply's per-doc totals, and
    every language's fertility must be >= 1 token per word (BPE never
    merges across the word boundary)."""
    from flinkproj_spark.operators.text import bpe_apply, tokenizer_fertility

    fert = tokenizer_fertility(spark, sf_dir).collect()
    per_doc = bpe_apply(spark, sf_dir).agg(
        F.sum("n_tokens").alias("t"), F.sum("n_oov").alias("o")
    ).collect()[0]
    assert sum(r.n_tokens for r in fert) == per_doc.t
    assert sum(r.n_oov for r in fert) == per_doc.o
    assert all(r.fertility_ppm >= 1_000_000 for r in fert if r.n_words)


def test_deploy_entrypoints_parse(tmp_path):
    """The YARN driver mains are importable and their CLIs parse — the
    deploy surface ships runnable, not as dead scripts."""
    import subprocess
    import sys

    for script in ("deploy/run_clean.py", "deploy/run_report.py",
               "deploy/run_lake_maintenance.py"):
        r = subprocess.run(
            [sys.executable, script, "--help"], capture_output=True
        )
        assert r.returncode == 0, r.stderr.decode()[:500]


def test_quality_calibration_curve_bands(spark, sf_dir):
    """Calibration audit invariants: all 10 bands present and
    equal-frequency (±1 doc), keep_ppm arithmetically consistent, score
    ranges non-overlapping in band order, and the worst band keeps
    strictly fewer docs than the best band (the curve separates)."""
    from flinkproj_spark.operators.text import quality_calibration_curve

    rows = sorted(
        quality_calibration_curve(spark, sf_dir).collect(), key=lambda r: r.band
    )
    assert [r.band for r in rows] == list(range(1, 11))
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for r in rows:
        assert r.keep_ppm == r.n_keep * 1_000_000 // r.n_docs
    for a, b in zip(rows, rows[1:]):
        assert a.min_score_e6 >= b.max_score_e6
    rates = [r.n_keep * 1_000_000 // r.n_docs for r in rows]
    assert rates[-1] < max(rates)


def test_power_iteration_dominant_direction(spark, sf_dir):
    """Power-iteration invariants: 64 dims, max |component| exactly at
    the renormalization scale, and the returned direction is genuinely
    dominant — projecting the corpus onto it captures more energy than
    projecting onto each of three fixed control directions."""
    from flinkproj_spark.operators.similarity import (
        DIM,
        PI_SCALE,
        _quantized,
        embedding_top_component,
    )

    comp = {r.dim: r.comp_e3 for r in embedding_top_component(spark, sf_dir).collect()}
    assert len(comp) == DIM
    assert max(abs(v) for v in comp.values()) == PI_SCALE
    vecs = [list(r.q) for r in _quantized(spark, sf_dir).select("q").collect()]
    v = [comp[d] for d in range(DIM)]

    def energy(direction):
        num = sum(sum(a * b for a, b in zip(q, direction)) ** 2 for q in vecs)
        den = sum(b * b for b in direction)
        return num / den

    e_top = energy(v)
    for axis in range(3):
        control = [PI_SCALE if d == axis else 0 for d in range(DIM)]
        assert e_top >= energy(control), f"axis {axis} beats the learned direction"
    spark.catalog.clearCache()


def test_dedup_impact_report_totals(spark, sf_dir):
    """Observability cross-check: summed exact-dup counts equal the
    corpus total implied by dedup_exact's copy counts, near-flag counts
    equal the distinct condemned side of the LSH pair list, and ppm
    cells are exact integer ratios."""
    from flinkproj_spark.operators.dedup import (
        dedup_exact,
        dedup_impact_report,
        dedup_minhash_lsh,
    )

    rows = dedup_impact_report(spark, sf_dir).collect()
    total_exact = sum(r.n_exact_dup for r in rows)
    want_exact = sum(
        r.n_copies - 1 for r in dedup_exact(spark, sf_dir).collect()
    )
    assert total_exact == want_exact
    condemned = {r.doc_b for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert sum(r.n_near_flagged for r in rows) == len(condemned)
    for r in rows:
        assert r.exact_ppm == r.n_exact_dup * 1_000_000 // r.n_docs
        assert r.near_ppm == r.n_near_flagged * 1_000_000 // r.n_docs


def test_kmeans_lloyd_partitions_and_improves(spark, sf_dir):
    """Lloyd invariants: member counts sum to the corpus; each final
    centroid is the integer mean of its own assigned members (verified
    by reassigning against the trained codebook — a fixed point after
    re-averaging would match exactly, and after 3 iterations the
    recompute from the final assignment must reproduce the emitted
    n_members totals); and the trained codebook's within-cluster cost
    is no worse than the seed codebook's (Lloyd never increases it)."""
    from flinkproj_spark.operators.similarity import (
        DIM,
        KM_K,
        _quantized,
        kmeans_lloyd,
    )

    rows = kmeans_lloyd(spark, sf_dir).collect()
    cents = {}
    members = {}
    for r in rows:
        cents.setdefault(r.cid, [0] * DIM)[r.dim] = r.comp
        members[r.cid] = r.n_members
    vecs = [list(r.q) for r in _quantized(spark, sf_dir).select("q").collect()]
    assert sum(members.values()) == len(vecs)

    def assign(v, book):
        return min(
            (sum((a - b) ** 2 for a, b in zip(v, c)), cid)
            for cid, c in book.items()
        )

    seed = {i: vecs[i] for i in range(KM_K)}
    cost_trained = sum(assign(v, cents)[0] for v in vecs)
    cost_seed = sum(assign(v, seed)[0] for v in vecs)
    assert cost_trained <= cost_seed
    spark.catalog.clearCache()


def test_cms_estimates_never_undercount(spark, sf_dir):
    """The count-min property: est >= true for every audited user, the
    audit covers the exact top-20, and over_ppm is the exact integer
    ratio. At least one user should estimate exactly (sparse sketch at
    test scale)."""
    from flinkproj_spark.operators.screens import CMS_TOP, cms_heavy_hitters
    from flinkproj_spark.sources.tables import load_table

    rows = cms_heavy_hitters(spark, sf_dir).collect()
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert len(rows) == min(CMS_TOP, n_users)
    for r in rows:
        assert r.est_cnt >= r.true_cnt
        assert r.over_ppm == (r.est_cnt - r.true_cnt) * 1_000_000 // r.true_cnt
    assert any(r.est_cnt == r.true_cnt for r in rows)


def test_transition_matrix_conservation(spark, sf_dir):
    """Markov-matrix invariants: total transitions equal corpus events
    minus distinct users (each user's chain has n-1 steps); every row's
    p_ppm cells are exact integer shares of its row total."""
    from flinkproj_spark.operators.analytic import event_transition_matrix
    from flinkproj_spark.sources.tables import load_table

    rows = event_transition_matrix(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_trans for r in rows) == n_events - n_users
    totals = {}
    for r in rows:
        totals.setdefault(r.prev_type, 0)
        totals[r.prev_type] += r.n_trans
    for r in rows:
        assert r.p_ppm == r.n_trans * 1_000_000 // totals[r.prev_type]


def test_edit_distance_pairs_are_exact_levenshtein(spark, sf_dir):
    """dedup_edit_distance's verify stage must be the exact DP, not an
    approximation: recompute Levenshtein in pure Python for every
    returned candidate pair and pin equality, plus the structural
    invariants (lower triangle, permille arithmetic, dup flag)."""
    from flinkproj_spark.operators.dedup import (
        _EDIT_DUP_PERMILLE,
        dedup_edit_distance,
    )

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rows = dedup_edit_distance(spark, sf_dir).collect()
    assert rows, "no candidate pairs at the test fixture — blocking is dead"
    text = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    for r in rows:
        assert r.id_a < r.id_b  # canonical lower triangle, no mirrors
        assert r.lev == lev(text[r.id_a], text[r.id_b])
        assert r.len_max == max(len(text[r.id_a]), len(text[r.id_b]))
        assert r.dist_permille == r.lev * 1000 // r.len_max
        assert r.is_dup == int(r.dist_permille <= _EDIT_DUP_PERMILLE)


def test_bloom_filter_has_no_false_negatives(spark, sf_dir):
    """The defining Bloom property: a true match can NEVER fail the
    filter. Recompute the bit positions with an engine-independent
    third implementation (hashlib md5) and assert every build-side key
    sets bits the probe test would find; cross-check the report's
    n_match against an independent exact semi-join and the count
    identities."""
    import hashlib

    from flinkproj_spark.operators.relational import (
        _BLOOM_BITS_PER_KEY,
        _BLOOM_K,
        bloom_semi_join,
    )

    users = sorted(
        r.user_id
        for r in load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .collect()
    )
    m = _BLOOM_BITS_PER_KEY * len(users)

    def positions(key: int) -> list[int]:
        hx = hashlib.md5(str(key).encode()).hexdigest()
        return [int(hx[8 * i : 8 * i + 8], 16) % m for i in range(_BLOOM_K)]

    bits = {p for u in users for p in positions(u)}
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    match_by_seg: dict[str, int] = {}
    pass_by_seg: dict[str, int] = {}
    uset = set(users)
    for r in cust.collect():
        ok = all(p in bits for p in positions(r.c_custkey))
        if r.c_custkey in uset:
            assert ok, f"false negative: {r.c_custkey}"  # the Bloom law
            match_by_seg[r.c_mktsegment] = match_by_seg.get(r.c_mktsegment, 0) + 1
        if ok:
            pass_by_seg[r.c_mktsegment] = pass_by_seg.get(r.c_mktsegment, 0) + 1
    report = {r.c_mktsegment: r for r in bloom_semi_join(spark, sf_dir).collect()}
    for seg, r in report.items():
        assert r.n_match == match_by_seg.get(seg, 0)
        assert r.n_pass == pass_by_seg.get(seg, 0)
        assert r.n_false_pos == r.n_pass - r.n_match
        assert 0 <= r.n_pass <= r.n_cust


def test_packing_report_conserves_packs_and_words(spark, sf_dir):
    """The audit must agree with the packer it audits: per source the
    pack count, doc count, and word total equal sequence_pack's own
    output, and the exact/over/under split partitions the packs."""
    from flinkproj_spark.operators.sampling import (
        _PACK_CAPACITY,
        packing_efficiency_report,
        sequence_pack,
    )

    packs: dict[str, list] = {}
    for r in sequence_pack(spark, sf_dir).collect():
        packs.setdefault(r.source, []).append(r)
    for r in packing_efficiency_report(spark, sf_dir).collect():
        mine = packs[r.source]
        assert r.n_packs == len(mine)
        assert r.n_docs == sum(p.n_docs for p in mine)
        assert r.n_words == sum(p.n_words for p in mine)
        assert r.n_exact + r.n_over + r.n_under == r.n_packs
        assert r.max_pack_words == max(p.n_words for p in mine)
        assert r.min_pack_words == min(p.n_words for p in mine)
        assert r.fill_ppm == r.n_words * 1_000_000 // (r.n_packs * _PACK_CAPACITY)


def test_vocab_prune_sweep_matches_bruteforce_topn(spark, sf_dir):
    """The histogram formulation must equal the naive 'sort the vocab,
    take top N' computation — covered tokens, kept types, and the
    marginal word's frequency, for every swept budget."""
    from flinkproj_spark import functions as fx
    from flinkproj_spark.operators.text import _PRUNE_SIZES, vocab_prune_sweep

    wc: dict[str, int] = {}
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(fx.tokenize_ws()).alias("w"))
        .select(F.lower("w").alias("w"))
    )
    for r in tok.collect():
        wc[r.w] = wc.get(r.w, 0) + 1
    ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(wc.values())
    rows = {r.vocab_size: r for r in vocab_prune_sweep(spark, sf_dir).collect()}
    assert set(rows) == set(_PRUNE_SIZES)
    for n in _PRUNE_SIZES:
        top = ranked[:n]
        r = rows[n]
        assert r.n_types_kept == len(top)
        assert r.covered_tokens == sum(c for _, c in top)
        assert r.cutoff_count == top[-1][1]
        assert r.total_tokens == total
        assert r.oov_ppm == (total - r.covered_tokens) * 1_000_000 // total


def test_fk_report_detects_planted_orphans(spark, sf_dir, tmp_path):
    """The corpus is referentially intact, so the live report pins
    orphans at zero — this test proves the orphan machinery actually
    fires: a tampered corpus copy whose events carry unknown user ids
    must surface exactly those keys/rows as orphans, and the clean
    run's coverage direction must match an independent recompute."""
    import shutil

    from flinkproj_spark.operators.relational import (
        _FK_EDGES,
        fk_integrity_report,
    )

    clean = {r.fk_edge: r for r in fk_integrity_report(spark, sf_dir).collect()}
    assert all(r.n_orphan_keys == 0 and r.n_orphan_rows == 0 for r in clean.values())
    users = {
        r.user_id
        for r in load_table(spark, sf_dir, "events").select("user_id").collect()
    }
    custs = {
        r.c_custkey
        for r in load_table(spark, sf_dir, "customer").select("c_custkey").collect()
    }
    ev = clean["events.user_id"]
    assert ev.n_unreferenced_parents == len(custs - users) > 0
    assert ev.n_parent_keys == len(custs)

    # Tamper: re-point 3 distinct event users at ids no customer has.
    import os

    dirty = tmp_path / "dirty_sf"
    dirty.mkdir()
    for child, _, parent, _ in _FK_EDGES:
        for t in (child, parent):
            dst = dirty / f"{t}.parquet"
            if not dst.exists():
                shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), dst)
    events = load_table(spark, sf_dir, "events")
    bad = events.withColumn(
        "user_id",
        F.when(F.col("user_id") < 3, F.col("user_id") + 10_000_000).otherwise(
            F.col("user_id")
        ),
    )
    n_bad_rows = bad.filter(F.col("user_id") >= 10_000_000).count()
    bad.toPandas().to_parquet(str(dirty / "events.parquet"), index=False)
    got = {
        r.fk_edge: r
        for r in fk_integrity_report(spark, str(dirty)).collect()
    }
    r = got["events.user_id"]
    assert r.n_orphan_keys == 3
    assert r.n_orphan_rows == n_bad_rows > 0
    assert r.orphan_row_ppm == n_bad_rows * 1_000_000 // r.n_child_rows
    # untouched edges stay clean
    assert got["orders.o_custkey"].n_orphan_keys == 0


def test_source_minhash_sketch_is_mergeable(spark, sf_dir):
    """The law the matrix relies on: a source's minhash is the min
    over its shingle set, so the sketch of a UNION of sources is the
    element-wise min of their sketches (associative merge). Recompute
    signatures from raw shingle hashes in Python and pin both the
    per-source sketches and the merge identity; cross-check the
    reported signature agreement."""
    from flinkproj_spark import functions as fx
    from flinkproj_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        N_HASHES,
        source_jaccard_matrix,
    )
    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    words = fx.tokenize_ws()
    rows = (
        docs.filter(F.size(words) >= 3)
        .select("source", F.explode(fx.shingles(words)).alias("sh"))
        .distinct()
        .collect()
    )
    xs: dict[str, set[int]] = {}
    for r in rows:
        xs.setdefault(r.source, set()).add(
            int(hashlib.md5(r.sh.encode()).hexdigest()[:8], 16)
        )

    def sig(hset):
        return [
            min((a * x + b) % MINHASH_P for x in hset)
            for a, b in zip(MINHASH_A, MINHASH_B)
        ]

    sigs = {s: sig(h) for s, h in xs.items()}
    srcs = sorted(xs)
    merged = sig(xs[srcs[0]] | xs[srcs[1]])
    assert merged == [
        min(p, q) for p, q in zip(sigs[srcs[0]], sigs[srcs[1]])
    ]
    got = {
        (r.src_a, r.src_b): r
        for r in source_jaccard_matrix(spark, sf_dir).collect()
    }
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    for (sa, sb), r in got.items():
        want = sum(p == q for p, q in zip(sigs[sa], sigs[sb]))
        assert r.n_sig_match == want
        assert r.n_inter == len(xs[sa] & xs[sb])
        assert r.n_union == len(xs[sa] | xs[sb])


def test_split_leakage_conserves_pair_totals(spark, sf_dir):
    """The leakage matrix is a partition of the pair universe: near
    pairs sum to the LSH candidate list, exact pairs sum to
    sum-over-groups C(n,2) from dedup_exact, and each pair's cell
    matches a pure-Python recompute of the split coin."""
    import hashlib

    from flinkproj_spark.operators.dedup import (
        dedup_exact,
        split_leakage_report,
    )
    from flinkproj_spark.operators.sampling import (
        _SPLIT_SALT,
        _TRAIN_CEIL,
        _VAL_CEIL,
    )

    def split_of(doc_id: int) -> str:
        h = hashlib.md5(f"{doc_id}{_SPLIT_SALT}".encode()).hexdigest()[:2]
        return "train" if h < _TRAIN_CEIL else ("val" if h < _VAL_CEIL else "test")

    rows = split_leakage_report(spark, sf_dir).collect()
    pairs = dedup_minhash_lsh(spark, sf_dir).collect()
    want_near: dict[tuple, int] = {}
    for p in pairs:
        key = tuple(sorted((split_of(p.doc_a), split_of(p.doc_b))))
        want_near[key] = want_near.get(key, 0) + 1
    got_near = {(r.split_a, r.split_b): r.n_near_pairs for r in rows}
    assert {k: v for k, v in got_near.items() if v} == want_near
    total_exact = sum(r.n_exact_pairs for r in rows)
    want_exact = sum(
        r.n_copies * (r.n_copies - 1) // 2
        for r in dedup_exact(spark, sf_dir).collect()
    )
    assert total_exact == want_exact
    for r in rows:
        assert r.is_leak == int(r.split_a != r.split_b)


def test_hard_negatives_are_wrong_label_and_score_consistent(spark, sf_dir):
    """Hard negatives must carry a label different from the query's,
    rank contiguously per query, score identically to the brute-force
    cosine for the same pair, and the positive baseline must equal
    the max same-label cosine."""
    from flinkproj_spark import functions as fx
    from flinkproj_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        _quantized,
        hard_negative_mining,
    )

    base = _quantized(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = {
        (r.query_id, r.vec_id): (r.cos, r.label, r.qlabel)
        for r in base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", "label", "qlabel",
            F.round(
                fx.dot("q", "qv").cast("double") / (F.col("norm") * F.col("qnorm")),
                6,
            ).alias("cos"),
        )
        .collect()
    }
    rows = hard_negative_mining(spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        cos, label, qlabel = scored[(r.query_id, r.vec_id)]
        assert r.neg_label == label != qlabel == r.qlabel
        assert r.cos == cos
        assert round(r.pos_cos - r.cos, 6) == r.margin
    for q, rs in per_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, TOP_K + 1))
        want_pos = max(
            c for (qq, _), (c, lab, ql) in scored.items() if qq == q and lab == ql
        )
        assert all(r.pos_cos == want_pos for r in rs)
        # the ranked negatives really are the top wrong-label cosines
        want_negs = sorted(
            (
                (-c, v)
                for (qq, v), (c, lab, ql) in scored.items()
                if qq == q and lab != ql
            ),
        )[:TOP_K]
        assert [(r.vec_id) for r in sorted(rs, key=lambda r: r.rank)] == [
            v for _, v in want_negs
        ]


def test_analyze_report_null_path_fires_on_planted_nulls(spark, sf_dir, tmp_path):
    """The corpus has no nulls, so the live report pins n_nulls == 0
    everywhere — this test proves the null counting actually works: a
    tampered events copy with nulled props/user_id cells must surface
    exact null counts and ppm, and NDV must drop accordingly."""
    import os
    import shutil

    from flinkproj_spark.operators.screens import _ANALYZE_COLS, analyze_tables_report

    live = analyze_tables_report(spark, sf_dir).collect()
    assert len(live) == sum(len(c) for c in _ANALYZE_COLS.values())
    assert all(r.n_nulls == 0 and r.null_ppm == 0 for r in live)
    by_col = {(r.table_name, r.column_name): r for r in live}
    assert by_col[("customer", "c_custkey")].n_distinct == by_col[
        ("customer", "c_custkey")
    ].n_rows  # primary key
    assert by_col[("nation", "n_regionkey")].n_distinct == 5

    dirty = tmp_path / "dirty_sf"
    dirty.mkdir()
    for t in _ANALYZE_COLS:
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), dirty / f"{t}.parquet")
    events = load_table(spark, sf_dir, "events")
    n_nulled = events.filter(F.col("event_id") % 5 == 0).count()
    tampered = events.withColumn(
        "props",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("props")),
    )
    tampered.toPandas().to_parquet(str(dirty / "events.parquet"), index=False)
    got = {
        (r.table_name, r.column_name): r
        for r in analyze_tables_report(spark, str(dirty)).collect()
    }
    r = got[("events", "props")]
    assert r.n_nulls == n_nulled > 0
    assert r.null_ppm == n_nulled * 1_000_000 // r.n_rows
    assert got[("events", "event_id")].n_nulls == 0


def test_basket_pairs_match_bruteforce(spark, sf_dir):
    """The top-k basket pairs must equal a brute-force Python recompute
    over collected baskets — counts, marginals, support, and exact
    integer lift."""
    from itertools import combinations

    from flinkproj_spark.operators.analytic import _BASKET_TOP, basket_pair_lift

    baskets = [
        sorted(set(r.parts))
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .collect()
    ]
    n_orders = len(baskets)
    pc: dict[tuple, int] = {}
    marg: dict[int, int] = {}
    for b in baskets:
        for t in b:
            marg[t] = marg.get(t, 0) + 1
        for a, bb in combinations(b, 2):
            pc[(a, bb)] = pc.get((a, bb), 0) + 1
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:_BASKET_TOP]
    rows = basket_pair_lift(spark, sf_dir).collect()
    assert [((r.part_a, r.part_b), r.n_ab) for r in rows] == want
    for r in rows:
        assert r.n_a == marg[r.part_a] and r.n_b == marg[r.part_b]
        assert r.n_orders == n_orders
        assert r.support_ppm == r.n_ab * 1_000_000 // n_orders
        assert r.lift_ppm == r.n_ab * n_orders * 1_000_000 // (r.n_a * r.n_b)


def test_link_prediction_matches_python_wedge_walk(spark, sf_dir):
    """Every predicted link must be a non-edge with the exact common-
    neighbor count, degrees, and Jaccard a Python adjacency walk
    computes — and every open wedge must be predicted (completeness)."""
    from itertools import combinations

    from flinkproj_spark.operators.dedup import (
        dedup_ngram_jaccard,
        link_prediction_jaccard,
    )

    edges = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for m, ns in adj.items():
        for a, b in combinations(sorted(ns), 2):
            if (a, b) not in edges:
                want[(a, b)] = want.get((a, b), 0) + 1
    rows = link_prediction_jaccard(spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b): r for r in rows}
    assert set(got) == set(want)
    for (a, b), r in got.items():
        assert r.n_common == want[(a, b)]
        assert r.deg_a == len(adj[a]) and r.deg_b == len(adj[b])
        assert r.n_union == r.deg_a + r.deg_b - r.n_common
        assert r.jaccard_ppm == r.n_common * 1_000_000 // r.n_union


def test_shipping_lag_percentiles_are_nearest_rank_exact(spark, sf_dir):
    """The histogram percentiles must equal the nearest-rank value of
    the fully sorted per-priority lag list recomputed in Python, and
    the negative-lag DQ counter must match."""
    import math

    from flinkproj_spark.operators.relational import (
        _LAG_PCTS,
        shipping_lag_report,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags: dict[str, list[int]] = {}
    for r in (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").alias("lag"),
        )
        .collect()
    ):
        lags.setdefault(r.o_orderpriority, []).append(r.lag)
    rows = {r.o_orderpriority: r for r in shipping_lag_report(spark, sf_dir).collect()}
    assert set(rows) == set(lags)
    for prio, vals in lags.items():
        vals.sort()
        r = rows[prio]
        assert r.n_items == len(vals)
        assert r.n_negative == sum(1 for v in vals if v < 0) > 0
        assert r.min_lag == vals[0] and r.max_lag == vals[-1]
        for p in _LAG_PCTS:
            want = vals[math.ceil(p * len(vals) / 100) - 1]
            assert getattr(r, f"p{p}_lag") == want, (prio, p)


def test_cep_matcher_equals_python_state_machine(spark, sf_dir):
    """The CEP fold must equal a third, pure-Python implementation of
    the same greedy skip-till-next-match machine — matches, order,
    timestamps, and the expiry branch (which must actually fire on
    this corpus for the test to mean anything)."""
    from flinkproj_spark.operators.analytic import _CEP_WITHIN_US, cep_pattern_matches

    evs: dict[int, list] = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("ts"), "event_id", "event_type")
        .collect()
    ):
        evs.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    want = []
    n_expired = 0
    for u in sorted(evs):
        stage, t1, t2, seq = 0, 0, 0, 0
        for ts, _eid, et in sorted(evs[u]):
            if (stage == 1 and ts - t1 > _CEP_WITHIN_US) or (
                stage == 2 and ts - t2 > _CEP_WITHIN_US
            ):
                stage = 0
                n_expired += 1
            if stage == 0 and et == "view":
                stage, t1 = 1, ts
            elif stage == 1 and et == "click":
                stage, t2 = 2, ts
            elif stage == 2 and et == "purchase":
                seq += 1
                want.append((u, seq, t1, t2, ts, (ts - t1) // 1_000_000))
                stage = 0
    got = sorted(
        (r.user_id, r.match_seq, r.t_view_us, r.t_click_us, r.t_purchase_us,
         r.duration_sec)
        for r in cep_pattern_matches(spark, sf_dir).collect()
    )
    assert got == sorted(want) and len(got) > 0
    assert n_expired > 0, "expiry branch never fired — widen the corpus window"


def test_ewma_daily_anomaly_matches_python_recursion(spark, sf_dir):
    """The truncated-EWMA linear form must equal a direct Python
    recomputation of the weighted lag sum per (type, day), and the
    20% flag must split live (both flagged and unflagged rows)."""
    from flinkproj_spark.operators.timeseries import (
        EWMA_FLAG_PCT,
        EWMA_WEIGHTS,
        EWMA_WSUM,
        ewma_daily_anomaly,
    )

    assert sum(EWMA_WEIGHTS) == EWMA_WSUM == 4**8 - 3**8
    daily: dict[str, dict[str, int]] = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .count()
        .collect()
    ):
        daily.setdefault(r.event_type, {})[r.day] = r["count"]
    want = {}
    for et, by_day in daily.items():
        days = sorted(by_day)
        for i, d in enumerate(days):
            if i < 8:
                continue
            ew = sum(
                by_day[days[i - j]] * w
                for j, w in enumerate(EWMA_WEIGHTS, start=1)
            )
            n = by_day[d]
            want[(et, d)] = (
                n,
                ew,
                n * EWMA_WSUM - ew,
                int(abs(n * EWMA_WSUM - ew) * 100 > EWMA_FLAG_PCT * ew),
            )
    got = {
        (r.event_type, r.day): (r.n, r.ewma_num, r.dev_num, r.flagged)
        for r in ewma_daily_anomaly(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0
    flags = {v[3] for v in got.values()}
    assert flags == {0, 1}, "flag must split live on this corpus"


def test_k_anonymity_report_matches_python(spark, sf_dir):
    """Per-k class/row tallies must equal a Python recount of the QID
    equivalence classes, and at least one k must be non-degenerate
    (some classes below, some not)."""
    from collections import Counter

    from flinkproj_spark.operators.privacy import (
        K_ANON_KS,
        K_ANON_QIDS,
        k_anonymity_report,
    )

    sizes = Counter(
        tuple(r[q] for q in K_ANON_QIDS)
        for r in load_table(spark, sf_dir, "customer").select(*K_ANON_QIDS).collect()
    )
    got = {r.k: r for r in k_anonymity_report(spark, sf_dir).collect()}
    assert set(got) == set(K_ANON_KS)
    split_seen = False
    for k in K_ANON_KS:
        below = [g for g in sizes.values() if g < k]
        r = got[k]
        assert r.n_classes == len(sizes)
        assert r.n_rows == sum(sizes.values())
        assert r.n_classes_below == len(below)
        assert r.n_rows_at_risk == sum(below)
        assert r.min_class_size == min(sizes.values())
        if 0 < len(below) < len(sizes):
            split_seen = True
    assert split_seen, "every k is degenerate — retune K_ANON_KS"


def test_vocab_growth_curve_matches_python_prefixes(spark, sf_dir):
    """Each checkpoint row must equal a Python recount over the exact
    doc_id prefix, the curve must be monotone, and the bigram column
    must still be growing at the end (unigrams saturate at 31 on this
    corpus — bigrams carry the liveness)."""
    from flinkproj_spark.operators.text import VG_CHECKPOINT, vocab_growth_curve

    docs = {
        r.doc_id: [w for w in r.text.lower().split(" ") if w != ""]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    n_docs = max(docs) + 1
    got = sorted(
        (r.docs_seen, r.cum_tokens, r.cum_unigrams, r.cum_bigrams)
        for r in vocab_growth_curve(spark, sf_dir).collect()
    )
    assert [g[0] for g in got] == list(
        range(VG_CHECKPOINT, n_docs + 1, VG_CHECKPOINT)
    )
    for docs_seen, cum_tokens, cum_uni, cum_bi in got:
        ws = [docs[d] for d in range(docs_seen) if d in docs]
        assert cum_tokens == sum(len(w) for w in ws)
        assert cum_uni == len({t for w in ws for t in w})
        assert cum_bi == len(
            {" ".join(w[i : i + 2]) for w in ws for i in range(len(w) - 1)}
        )
    assert got[-1][3] > got[0][3], "bigram vocab must still grow"


def test_conversion_lag_curve_matches_python(spark, sf_dir):
    """Curve rows must equal a Python replay of first-signup →
    first-subsequent-purchase per user, and the cohort must split
    live (some converted, some not)."""
    from collections import Counter

    from flinkproj_spark.operators.analytic import conversion_lag_curve

    st: dict[int, object] = {}
    purchases: dict[int, list] = {}
    for r in load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).collect():
        if r.event_type == "signup":
            if r.user_id not in st or r.ts < st[r.user_id]:
                st[r.user_id] = r.ts
        elif r.event_type == "purchase":
            purchases.setdefault(r.user_id, []).append(r.ts)
    lags = Counter()
    for u, s in st.items():
        after = [t for t in purchases.get(u, []) if t >= s]
        if after:
            lags[(min(after).date() - s.date()).days] += 1
    got = sorted(
        (r.lag_days, r.n_at, r.cum_converted, r.cohort_n, r.conv_ppm)
        for r in conversion_lag_curve(spark, sf_dir).collect()
    )
    assert [(g[0], g[1]) for g in got] == sorted(lags.items())
    cum = 0
    for lag_days, n_at, cum_converted, cohort_n, conv_ppm in got:
        cum += n_at
        assert cum_converted == cum
        assert cohort_n == len(st)
        assert conv_ppm == cum * 1_000_000 // len(st)
    # sf0.001's tiny cohort converts fully — liveness is the curve's
    # spread across day offsets, not a partial cohort.
    assert 0 < cum <= len(st) and len(got) >= 2


def test_matryoshka_recall_monotone_and_live(spark, sf_dir):
    """Truncated-dim recall must (a) match a Python brute-force replay
    and (b) split live — 16-dim strictly worse than 32-dim on average,
    neither saturated at 0 nor 5 everywhere."""
    from flinkproj_spark.operators.similarity import (
        MRL_DIMS,
        N_QUERIES,
        TOP_K,
        embedding_matryoshka_eval,
    )

    # floor(x*1000+0.5) in pure python, matching the quantizer:
    import math

    vecs = {
        r.vec_id: [int(math.floor(x * 1000.0 + 0.5)) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def topk(d):
        out = {}
        for qid in range(N_QUERIES):
            qv = vecs[qid][:d]
            qn = math.sqrt(sum(v * v for v in qv))
            scored = []
            for vid, v in vecs.items():
                if vid == qid:
                    continue
                vv = v[:d]
                nn = math.sqrt(sum(x * x for x in vv))
                cos = round(sum(a * b for a, b in zip(qv, vv)) / (nn * qn), 6)
                scored.append((-cos, vid))
            scored.sort()
            out[qid] = {vid for _, vid in scored[:TOP_K]}
        return out

    full = topk(64)
    got = {
        (r.dim, r.query_id): (r.hits, r.recall_ppm)
        for r in embedding_matryoshka_eval(spark, sf_dir).collect()
    }
    assert len(got) == len(MRL_DIMS) * N_QUERIES
    means = {}
    for d in MRL_DIMS:
        tk = topk(d)
        for qid in range(N_QUERIES):
            hits = len(tk[qid] & full[qid])
            assert got[(d, qid)] == (hits, hits * 1_000_000 // TOP_K)
        means[d] = sum(got[(d, q)][0] for q in range(N_QUERIES))
    assert means[16] < means[32], "truncation must cost recall monotonically"
    assert 0 < means[32] < N_QUERIES * TOP_K, "32-dim must be partial, not saturated"


def test_graph_modularity_identities(spark, sf_dir):
    """Per-source rows must satisfy the modularity identities:
    sum(deg_sum) = 2m, sum(in_edges) = intra-edge total, q_ppm =
    q_num_e6 // (4 m^2), and the source partition must cut the graph
    (cross-source edges exist → sum(in_edges) < m)."""
    from flinkproj_spark.operators.dedup import graph_modularity_report

    rows = graph_modularity_report(spark, sf_dir).collect()
    assert rows
    m = rows[0].m_edges
    assert all(r.m_edges == m for r in rows)
    assert sum(r.deg_sum for r in rows) == 2 * m
    assert sum(r.in_edges for r in rows) < m, "partition must cut edges"
    for r in rows:
        assert r.q_num_e6 == (4 * m * r.in_edges - r.deg_sum**2) * 1_000_000
        num = r.q_num_e6
        den = 4 * m * m
        t = abs(num) // den
        assert r.q_ppm == (t if num >= 0 else -t), "div must truncate toward zero"
    assert any(r.q_ppm < 0 for r in rows), "negative contributions must be live"


def test_kn_bigram_mass_sums_to_one(spark, sf_dir):
    """Kneser-Ney sanity: for every context w1, the EXACT probability
    mass (observed rows as reported + the interpolated backoff mass of
    unseen followers, recomputed with Fractions) must sum to exactly 1
    — the property that distinguishes KN from an ad-hoc discount."""
    from fractions import Fraction

    from flinkproj_spark.operators.text import kn_bigram_smoothed

    rows = kn_bigram_smoothed(spark, sf_dir).collect()
    assert rows
    by_ctx: dict[str, list] = {}
    prec = {}
    for r in rows:
        by_ctx.setdefault(r.w1, []).append(r)
        prec[r.w2] = r.n_prec
    n_types = rows[0].n_types
    assert n_types == len(rows)
    for w1, rs in by_ctx.items():
        c_a, n_follow = rs[0].c_a, rs[0].n_follow
        assert len(rs) == n_follow
        seen = {r.w2 for r in rs}
        mass = sum(
            Fraction(max(2 * r.c_ab - 1, 0), 2 * c_a)
            + Fraction(n_follow, 2 * c_a) * Fraction(r.n_prec, n_types)
            for r in rs
        )
        unseen = sum(
            Fraction(n_follow, 2 * c_a) * Fraction(np, n_types)
            for w2, np in prec.items()
            if w2 not in seen
        )
        assert mass + unseen == 1, (w1, float(mass + unseen))
        # reported ppm is the floor of the exact rational:
        for r in rs:
            exact = Fraction(max(2 * r.c_ab - 1, 0), 2 * c_a) + Fraction(
                n_follow, 2 * c_a
            ) * Fraction(r.n_prec, n_types)
            assert r.pkn_ppm == (exact.numerator * 1_000_000) // exact.denominator


def test_next_word_suggest_is_true_top3(spark, sf_dir):
    """Every context's suggestions must be its 3 highest-count
    followers (count desc, word asc) with MLE ppm, per a Python
    recount of the bigram table."""
    from collections import Counter

    from flinkproj_spark.operators.text import next_word_suggest

    big = Counter()
    for r in load_table(spark, sf_dir, "documents").collect():
        ws = [w for w in r.text.lower().split(" ") if w != ""]
        for i in range(len(ws) - 1):
            big[(ws[i], ws[i + 1])] += 1
    ctx_tot = Counter()
    followers: dict[str, list] = {}
    for (w1, w2), c in big.items():
        ctx_tot[w1] += c
        followers.setdefault(w1, []).append((-c, w2))
    got: dict[str, list] = {}
    for r in next_word_suggest(spark, sf_dir).collect():
        got.setdefault(r.w1, []).append((r.rank, r.w2, r.c_ab, r.p_mle_ppm))
    assert set(got) == set(followers)
    for w1, fl in followers.items():
        fl.sort()
        want = [
            (i + 1, w2, -negc, (-negc) * 1_000_000 // ctx_tot[w1])
            for i, (negc, w2) in enumerate(fl[:3])
        ]
        assert sorted(got[w1]) == want


def test_ols_trend_is_exact_least_squares(spark, sf_dir):
    """fitted_c must be cy + trunc-toward-zero of the EXACT rational
    (beta0 + beta1*mi - cy), with beta from a Fraction-exact normal
    equation over a Python recount of monthly revenue — and slope_num/
    slope_den must equal the shift-invariant n^2-scaled moments of the
    RAW (unpivoted) series, proving the integer pivots change nothing."""
    from fractions import Fraction

    from flinkproj_spark.operators.stats import ols_trend_monthly

    raw = load_table(spark, sf_dir, "orders").collect()
    monthly: dict[int, int] = {}
    for r in raw:
        d = r.o_orderdate
        mi = (d.year - 1995) * 12 + d.month - 1
        monthly[mi] = monthly.get(mi, 0) + int(r.o_totalprice * 100 + 0.5)
    xs, ys = list(monthly), [monthly[x] for x in monthly]
    n = len(xs)
    num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    den = n * sum(x * x for x in xs) - sum(xs) ** 2
    beta1 = Fraction(num, den)
    beta0 = Fraction(sum(ys) - beta1 * sum(xs), n)
    cy = sum(ys) // n
    rows = ols_trend_monthly(spark, sf_dir).collect()
    assert len(rows) == n
    for r in rows:
        assert (r.slope_num, r.slope_den) == (num, den)
        exact = beta0 + beta1 * r.mi - cy
        t = abs(exact.numerator) // exact.denominator
        assert r.fitted_c == cy + (t if exact >= 0 else -t)
        assert r.resid_c == r.rev_c - r.fitted_c
        assert r.rev_c == monthly[r.mi]
    assert any(r.resid_c != 0 for r in rows)


def test_corr_pairs_discriminates_and_is_exact(spark, sf_dir):
    """corr2_ppm must match a pure-Python integer recount (raw-moment
    formula — pivot shift-invariance again), the real metric pairs must
    score high with positive sign, and the doc_id%7 null control must
    score near zero — the discrimination that makes the report usable."""
    from flinkproj_spark.operators.stats import corr_pairs_report

    docs = load_table(spark, sf_dir, "documents").collect()
    met = [
        (
            r.n_chars,
            len([w for w in r.text.split(" ") if w != ""]),
            len({w for w in r.text.split(" ") if w != ""}),
            r.doc_id % 7,
        )
        for r in docs
    ]
    pairs = {
        "chars_words": [(a, b) for a, b, _, _ in met],
        "words_distinct": [(b, c) for _, b, c, _ in met],
        "chars_null7": [(a, d) for a, _, _, d in met],
    }
    got = {r.pair: r for r in corr_pairs_report(spark, sf_dir).collect()}
    assert set(got) == set(pairs)
    for pair, xy in pairs.items():
        n = len(xy)
        sx, sy = sum(x for x, _ in xy), sum(y for _, y in xy)
        num = n * sum(x * y for x, y in xy) - sx * sy
        vx = n * sum(x * x for x, _ in xy) - sx * sx
        vy = n * sum(y * y for _, y in xy) - sy * sy
        r = got[pair]
        assert (r.n, r.cov_num, r.varx_num, r.vary_num) == (n, num, vx, vy)
        assert r.corr2_ppm == num * num * 1_000_000 // (vx * vy)
        assert r.corr_sign == (num > 0) - (num < 0)
    assert got["chars_words"].corr2_ppm > 900_000
    assert got["words_distinct"].corr2_ppm > 500_000
    assert got["chars_null7"].corr2_ppm < 10_000
    assert got["chars_words"].corr_sign == 1


def test_zipf_fit_report_recount(spark, sf_dir):
    """Rank, share, and zipf-fit ppm must match a pure-Python recount
    with the same (count desc, word asc) tie-break; rank 1 is 1e6 by
    construction and the column must actually vary (live deviation)."""
    from collections import Counter

    from flinkproj_spark.operators.text import zipf_fit_report

    c = Counter()
    for r in load_table(spark, sf_dir, "documents").collect():
        c.update(w for w in r.text.lower().split(" ") if w != "")
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    total, c1 = sum(c.values()), ranked[0][1]
    got = {r.w: r for r in zipf_fit_report(spark, sf_dir).collect()}
    assert len(got) == len(ranked)
    for i, (w, n) in enumerate(ranked, start=1):
        r = got[w]
        assert (r.rank, r.c) == (i, n)
        assert r.zipf_fit_ppm == n * i * 1_000_000 // c1
        assert r.share_ppm == n * 1_000_000 // total
    assert got[ranked[0][0]].zipf_fit_ppm == 1_000_000
    assert len({r.zipf_fit_ppm for r in got.values()}) > 5


def test_l_diversity_report_recount(spark, sf_dir):
    """Per-l class/row exposure must match a Python recount of the
    (nation, balance-band) -> distinct-segment map, and the audit must
    be live: at least one class below the max l."""
    from collections import defaultdict

    from flinkproj_spark.operators.privacy import (
        L_DIV_LS,
        L_DIV_QID_BUCKET_C,
        l_diversity_report,
    )

    import math

    segs = defaultdict(set)
    sizes = defaultdict(int)
    for r in load_table(spark, sf_dir, "customer").collect():
        # _cents is floor(x*100+0.5) (floor, not trunc, on negatives);
        # the bucket div then truncates toward zero like Spark's div.
        cents = math.floor(r.c_acctbal * 100 + 0.5)
        b = (
            cents // L_DIV_QID_BUCKET_C
            if cents >= 0
            else -((-cents) // L_DIV_QID_BUCKET_C)
        )
        key = (r.c_nationkey, b)
        segs[key].add(r.c_mktsegment)
        sizes[key] += 1
    got = {r.l: r for r in l_diversity_report(spark, sf_dir).collect()}
    assert set(got) == set(L_DIV_LS)
    for l in L_DIV_LS:
        below = [k for k in segs if len(segs[k]) < l]
        r = got[l]
        assert r.n_classes == len(segs)
        assert r.n_classes_below == len(below)
        assert r.n_rows_at_risk == sum(sizes[k] for k in below)
        assert r.min_l == min(len(s) for s in segs.values())
    assert got[max(L_DIV_LS)].n_classes_below > 0


def test_twap_differs_from_plain_avg_and_is_exact(spark, sf_dir):
    """twap_c must equal a pure-Python hold-until-next recount, and
    must genuinely differ from the unweighted mean for most users —
    the duration-faithfulness that justifies the operator."""
    from collections import defaultdict

    from flinkproj_spark.operators.timeseries import twap_user_value

    by_user = defaultdict(list)
    for r in load_table(spark, sf_dir, "events").collect():
        t_s = (
            int(r.ts.replace(tzinfo=__import__("datetime").timezone.utc).timestamp() * 1_000_000)
            // 1_000_000
        )
        by_user[r.user_id].append((t_s, r.event_id, int(r.value * 100 + 0.5)))
    got = {r.user_id: r for r in twap_user_value(spark, sf_dir).collect()}
    n_diff = 0
    multi = {u: evs for u, evs in by_user.items() if len(evs) >= 2}
    assert set(got) == set(multi)
    for u, evs in multi.items():
        evs.sort()
        span = evs[-1][0] - evs[0][0]
        tw = sum(vc * (evs[i + 1][0] - t) for i, (t, _, vc) in enumerate(evs[:-1]))
        r = got[u]
        assert (r.n_events, r.span_s, r.twsum) == (len(evs), span, tw)
        assert r.twap_c == tw // span if tw >= 0 else -((-tw) // span)
        mean_c = sum(vc for _, _, vc in evs) // len(evs)
        if abs(r.twap_c - mean_c) > 100:
            n_diff += 1
    assert n_diff > len(multi) // 2, "TWAP must diverge from plain mean"


def test_rfm_quintiles_balanced_and_exact(spark, sf_dir):
    """Quintile sizes must differ by at most 1 (the closed-form
    q = (rank-1)*5 div n + 1 guarantee), scores must match a Python
    recount with the same (metric, custkey) tie-break, and rfm_code
    must be the concatenation."""
    from collections import Counter, defaultdict

    from flinkproj_spark.operators.analytic import rfm_segmentation

    per = defaultdict(lambda: [None, 0, 0])  # last_d, f, m
    horizon = None
    for r in load_table(spark, sf_dir, "orders").collect():
        d = r.o_orderdate.date()
        horizon = d if horizon is None or d > horizon else horizon
        p = per[r.o_custkey]
        p[0] = d if p[0] is None or d > p[0] else p[0]
        p[1] += 1
        p[2] += int(r.o_totalprice * 100 + 0.5)
    n = len(per)

    def quint(order):
        return {
            ck: (i * 5) // n + 1 for i, ck in enumerate(order)
        }

    r_q = quint(sorted(per, key=lambda c: (-(horizon - per[c][0]).days, c)))
    f_q = quint(sorted(per, key=lambda c: (per[c][1], c)))
    m_q = quint(sorted(per, key=lambda c: (per[c][2], c)))
    rows = rfm_segmentation(spark, sf_dir).collect()
    assert len(rows) == n
    for r in rows:
        p = per[r.custkey]
        assert (r.r_days, r.f_n, r.m_c) == ((horizon - p[0]).days, p[1], p[2])
        assert (r.r_q, r.f_q, r.m_q) == (
            r_q[r.custkey],
            f_q[r.custkey],
            m_q[r.custkey],
        )
        assert r.rfm_code == f"{r.r_q}{r.f_q}{r.m_q}"
    for col in ("r_q", "f_q", "m_q"):
        sizes = Counter(getattr(r, col) for r in rows)
        assert set(sizes) == {1, 2, 3, 4, 5}
        assert max(sizes.values()) - min(sizes.values()) <= 1


def test_ltv_cohort_conservation(spark, sf_dir):
    """Money conservation: each cohort's final cumulative revenue must
    equal its members' lifetime spend, the grand total must equal the
    corpus revenue, cum must be monotone in age, and the per-member
    LTV must be the truncating division."""
    from collections import defaultdict

    from flinkproj_spark.operators.analytic import customer_ltv_cohort

    first = {}
    spend = defaultdict(int)
    for r in load_table(spark, sf_dir, "orders").collect():
        mi = (r.o_orderdate.year - 1995) * 12 + r.o_orderdate.month - 1
        first[r.o_custkey] = min(first.get(r.o_custkey, mi), mi)
        spend[r.o_custkey] += int(r.o_totalprice * 100 + 0.5)
    cohort_rev = defaultdict(int)
    cohort_n = defaultdict(int)
    for ck, mi in first.items():
        cohort_rev[mi] += spend[ck]
        cohort_n[mi] += 1
    by_cohort = defaultdict(list)
    for r in customer_ltv_cohort(spark, sf_dir).collect():
        by_cohort[r.cohort_mi].append(r)
    assert set(by_cohort) == set(cohort_rev)
    grand = 0
    for mi, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_m)
        cum = 0
        for r in rs:
            cum += r.rev_c
            assert r.cum_rev_c == cum
            assert r.cohort_n == cohort_n[mi]
            assert r.ltv_c_per_cust == cum // cohort_n[mi]
        assert rs[-1].cum_rev_c == cohort_rev[mi]
        grand += rs[-1].cum_rev_c
    assert grand == sum(spend.values())


def test_seasonality_profile_conserves_residuals(spark, sf_dir):
    """The 12 calendar cells must partition the OLS months exactly:
    cell n_m sums to the month count, cell residual sums to the total
    residual, and each seas_ppm is the exact HUGEINT-style division
    recomputed in Python."""
    from flinkproj_spark.operators.stats import ols_trend_monthly
    from flinkproj_spark.operators.timeseries import seasonality_profile

    fit = ols_trend_monthly(spark, sf_dir).collect()
    fit_total = sum(r.rev_c for r in fit) - sum(r.resid_c for r in fit)
    per_cal = {}
    for r in fit:
        c = per_cal.setdefault(r.mi % 12, [0, 0])
        c[0] += 1
        c[1] += r.resid_c
    rows = seasonality_profile(spark, sf_dir).collect()
    assert len(rows) == 12
    for r in rows:
        n_m, s = per_cal[r.cal_month]
        assert (r.n_m, r.sum_resid_c) == (n_m, s)
        num = s * 1_000_000 * len(fit)
        den = n_m * fit_total
        t = abs(num) // den
        assert r.seas_ppm == (t if num >= 0 else -t)
    assert sum(r.n_m for r in rows) == len(fit)
    assert sum(r.sum_resid_c for r in rows) == sum(r.resid_c for r in fit)


def test_benford_constants_and_recount(spark, sf_dir):
    """BENFORD_PPM must be floor(log10(1+1/d)*1e6) for every digit,
    and the observed counts/shares must match a Python recount —
    with the audit genuinely firing on the synthetic pricing."""
    import math

    from flinkproj_spark.operators.stats import BENFORD_PPM, benford_deviation

    for d, ppm in BENFORD_PPM.items():
        assert ppm == math.floor(math.log10(1 + 1 / int(d)) * 1_000_000)
    from collections import Counter

    c = Counter()
    for r in load_table(spark, sf_dir, "orders").collect():
        c[str(int(r.o_totalprice * 100 + 0.5))[0]] += 1
    total = sum(c.values())
    rows = benford_deviation(spark, sf_dir).collect()
    assert {r.digit for r in rows} == set(c)
    for r in rows:
        assert r.n == c[r.digit]
        assert r.share_ppm == c[r.digit] * 1_000_000 // total
        assert r.dev_ppm == r.share_ppm - BENFORD_PPM[r.digit]
    assert max(abs(r.dev_ppm) for r in rows) > 20_000, "audit must fire"


def test_gini_lorenz_exact_and_monotone(spark, sf_dir):
    """gini_ppm must equal the exact rank-identity recount, decile
    sizes balance to +-1, the Lorenz curve is monotone concave-ish
    (cumulative shares increasing to exactly 1e6... the last cell's
    truncation), and money is conserved."""
    from collections import defaultdict

    from flinkproj_spark.operators.stats import gini_revenue_lorenz

    spend = defaultdict(int)
    for r in load_table(spark, sf_dir, "orders").collect():
        spend[r.o_custkey] += int(r.o_totalprice * 100 + 0.5)
    order = sorted(spend.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(order)
    sum_m = sum(m for _, m in order)
    sum_rx = sum(i * m for i, (_, m) in enumerate(order, start=1))
    gini = (2 * sum_rx - (n + 1) * sum_m) * 1_000_000 // (n * sum_m)
    rows = sorted(
        gini_revenue_lorenz(spark, sf_dir).collect(), key=lambda r: r.decile
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    assert all(r.gini_ppm == gini for r in rows)
    sizes = [r.n_cust for r in rows]
    assert max(sizes) - min(sizes) <= 1 and sum(sizes) == n
    cum = 0
    prev_share = -1
    for r in rows:
        cum += r.dec_m_c
        assert r.cum_m_c == cum
        assert r.cum_share_ppm == cum * 1_000_000 // sum_m
        assert r.cum_share_ppm > prev_share
        prev_share = r.cum_share_ppm
    assert rows[-1].cum_m_c == sum_m
    assert rows[-1].cum_share_ppm == 1_000_000


def test_moment_stats_exact_identities(spark, sf_dir):
    """m2/m3 and the shape ratios must match a pure-Python integer
    recount of the central-moment identities, the kurt_ppm must equal
    floor of the EXACT rational mu4/mu2^2 * 1e6 (Fractions — proving
    the pivot identities), and signs must agree with the exact mu3."""
    from collections import defaultdict
    from fractions import Fraction

    from flinkproj_spark.operators.stats import moment_stats_by_source

    xs = defaultdict(list)
    for r in load_table(spark, sf_dir, "documents").collect():
        xs[r.source].append(r.n_chars)
    got = {r.source: r for r in moment_stats_by_source(spark, sf_dir).collect()}
    assert set(got) == set(xs)
    for src, v in xs.items():
        n = len(v)
        cx = sum(v) // n
        d = [x - cx for x in v]
        s1, s2 = sum(d), sum(y * y for y in d)
        s3, s4 = sum(y**3 for y in d), sum(y**4 for y in d)
        m2 = n * s2 - s1 * s1
        m3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1**3
        m4 = n**3 * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1**4
        r = got[src]
        assert (r.n, r.mean_chars, r.m2, r.m3) == (n, cx + s1 // n, m2, m3)
        # kurt is EXACTLY floor(mu4/mu2^2 * 1e6): the pivot identities
        mean = Fraction(sum(v), n)
        mu2 = sum((Fraction(x) - mean) ** 2 for x in v) / n
        mu4 = sum((Fraction(x) - mean) ** 4 for x in v) / n
        exact_kurt = mu4 / (mu2 * mu2) * 1_000_000
        assert r.kurt_ppm == exact_kurt.numerator // exact_kurt.denominator
        assert r.kurt_ppm == m4 * 1_000_000 // (m2 * m2)
        mu3 = sum((Fraction(x) - mean) ** 3 for x in v) / n
        assert r.skew_sign == (mu3 > 0) - (mu3 < 0)
        t = m3 * 1000 // m2 if m3 >= 0 else -((-m3 * 1000) // m2)
        assert r.skew2_ppm == t * t * 1_000_000 // (m2 * 1_000_000)
        # the truncating evaluation tracks g1^2 within 1 ppm here
        g2 = mu3 * mu3 / (mu2**3) * 1_000_000
        assert abs(r.skew2_ppm - g2.numerator // g2.denominator) <= 1


def test_simpson_diversity_recount(spark, sf_dir):
    """simpson_ppm and eff_vocab must match a pure-Python recount of
    the per-source word distributions, and the index must vary across
    sources (live discrimination on the near-uniform vocabulary)."""
    from collections import Counter, defaultdict

    from flinkproj_spark.operators.text import simpson_diversity_by_source

    per = defaultdict(Counter)
    for r in load_table(spark, sf_dir, "documents").collect():
        per[r.source].update(w for w in r.text.lower().split(" ") if w != "")
    got = {
        r.source: r
        for r in simpson_diversity_by_source(spark, sf_dir).collect()
    }
    assert set(got) == set(per)
    for src, c in per.items():
        tot, s2 = sum(c.values()), sum(v * v for v in c.values())
        r = got[src]
        assert (r.c_total, r.n_vocab, r.sum_c2) == (tot, len(c), s2)
        assert r.simpson_ppm == 1_000_000 - s2 * 1_000_000 // (tot * tot)
        assert r.eff_vocab == tot * tot // s2
    assert len({r.simpson_ppm for r in got.values()}) > 3


def test_ks_drift_exact_two_sample(spark, sf_dir):
    """Each source's ks_num must equal the exact two-sample KS
    numerator max_x |cum_src(x)*n_rest - cum_rest(x)*n_src| recomputed
    in Python over the full length grid, and the statistic must
    discriminate (spread across sources)."""
    from collections import defaultdict

    from flinkproj_spark.operators.text import ks_drift_by_source

    lens = defaultdict(list)
    for r in load_table(spark, sf_dir, "documents").collect():
        lens[r.source].append(r.n_chars)
    all_lens = sorted({x for v in lens.values() for x in v})
    n_tot = sum(len(v) for v in lens.values())
    got = {r.source: r for r in ks_drift_by_source(spark, sf_dir).collect()}
    assert set(got) == set(lens)
    for src, v in lens.items():
        n_s, n_r = len(v), n_tot - len(v)
        rest = [x for s2, vv in lens.items() if s2 != src for x in vv]
        best = 0
        for x in all_lens:
            cs = sum(1 for y in v if y <= x)
            cr = sum(1 for y in rest if y <= x)
            best = max(best, abs(cs * n_r - cr * n_s))
        r = got[src]
        assert (r.n_s, r.n_rest, r.ks_num) == (n_s, n_r, best)
        assert r.ks_ppm == best * 1_000_000 // (n_s * n_r)
    vals = sorted(r.ks_ppm for r in got.values())
    assert vals[-1] > vals[0] * 2, "KS must separate sources"


def _daily_rev(spark, sf_dir):
    from collections import defaultdict
    from datetime import date

    daily = defaultdict(int)
    for r in load_table(spark, sf_dir, "orders").collect():
        di = (r.o_orderdate.date() - date(1995, 1, 1)).days
        daily[di] += int(r.o_totalprice * 100 + 0.5)
    return daily


def test_autocorr_exact_and_iid_finding(spark, sf_dir):
    """acf_ppm per lag must equal the exact integer recount over the
    pivoted daily series, and all lags must sit near zero — the
    corpus's i.i.d.-across-days property the operator exists to
    check."""
    from flinkproj_spark.operators.timeseries import ACF_LAGS, autocorr_daily_revenue

    daily = _daily_rev(spark, sf_dir)
    n = len(daily)
    cy = sum(daily.values()) // n
    dev = {di: v - cy for di, v in daily.items()}
    s_dd = sum(d * d for d in dev.values())
    got = {r.lag: r for r in autocorr_daily_revenue(spark, sf_dir).collect()}
    assert set(got) == set(ACF_LAGS)
    for k in ACF_LAGS:
        pairs = [(d, dev[di + k]) for di, d in dev.items() if di + k in dev]
        s_lag = sum(a * b for a, b in pairs)
        r = got[k]
        assert (r.n_days, r.n_pairs) == (n, len(pairs))
        num = s_lag * 1_000_000
        t = abs(num) // s_dd
        assert r.acf_ppm == (t if num >= 0 else -t)
        assert abs(r.acf_ppm) < 100_000, "corpus must read as ~i.i.d."


def test_cusum_peak_is_argmax(spark, sf_dir):
    """The cusum curve must equal the running-deviation recount, have
    exactly one flagged peak at the min-di argmax of |cusum|, and the
    shares must be the exact ppm of the peak."""
    from flinkproj_spark.operators.timeseries import cusum_changepoint

    daily = _daily_rev(spark, sf_dir)
    cy = sum(daily.values()) // len(daily)
    cum, want = 0, {}
    for di in sorted(daily):
        cum += daily[di] - cy
        want[di] = cum
    peak_abs = max(abs(v) for v in want.values())
    peak_di = min(di for di, v in want.items() if abs(v) == peak_abs)
    rows = cusum_changepoint(spark, sf_dir).collect()
    assert len(rows) == len(want)
    flagged = [r for r in rows if r.is_peak == 1]
    assert [r.di for r in flagged] == [peak_di]
    for r in rows:
        assert r.cusum_c == want[r.di]
        assert r.rev_c == daily[r.di]
        assert r.peak_share_ppm == abs(r.cusum_c) * 1_000_000 // peak_abs


def test_auc_is_exact_pair_probability(spark, sf_dir):
    """auc_ppm must equal a brute-force pair count — wins + half-ties
    over all (source doc, rest doc) pairs — and agree in DIRECTION
    with the mean-length ordering for the extreme sources."""
    from collections import defaultdict

    from flinkproj_spark.operators.text import auc_length_by_source

    lens = defaultdict(list)
    for r in load_table(spark, sf_dir, "documents").collect():
        lens[r.source].append(r.n_chars)
    got = {r.source: r for r in auc_length_by_source(spark, sf_dir).collect()}
    assert set(got) == set(lens)
    for src, v in lens.items():
        rest = [x for s2, vv in lens.items() if s2 != src for x in vv]
        u2 = 0
        for a in v:
            for b in rest:
                u2 += 2 if a > b else (1 if a == b else 0)
        r = got[src]
        assert (r.n_s, r.n_rest, r.u2) == (len(v), len(rest), u2)
        assert r.auc_ppm == u2 * 1_000_000 // (2 * len(v) * len(rest))
    hi = max(got, key=lambda s: got[s].auc_ppm)
    lo = min(got, key=lambda s: got[s].auc_ppm)
    mean = {s: sum(v) / len(v) for s, v in lens.items()}
    assert mean[hi] > mean[lo]
    assert got[hi].auc_ppm > 500_000 > got[lo].auc_ppm


def test_stickiness_dau_wau_recount(spark, sf_dir):
    """Weekly DAU/WAU must match a pure-Python distinct recount with
    the Monday-aligned arithmetic week key, and the ratio must be the
    exact untruncated-intermediate division."""
    from collections import defaultdict
    from datetime import date

    from flinkproj_spark.operators.analytic import stickiness_dau_wau

    day_users = defaultdict(set)
    week_users = defaultdict(set)
    for r in load_table(spark, sf_dir, "events").collect():
        d = r.ts.date()
        wk = (d - date(1970, 1, 5)).days // 7
        day_users[(wk, d)].add(r.user_id)
        week_users[wk].add(r.user_id)
    got = {r.wk: r for r in stickiness_dau_wau(spark, sf_dir).collect()}
    assert set(got) == set(week_users)
    for wk, users in week_users.items():
        days = [k for k in day_users if k[0] == wk]
        sum_dau = sum(len(day_users[k]) for k in days)
        r = got[wk]
        assert (r.n_days, r.sum_dau, r.wau) == (len(days), sum_dau, len(users))
        assert r.avg_dau == sum_dau // len(days)
        assert r.stickiness_ppm == sum_dau * 1_000_000 // (
            len(days) * len(users)
        )
    assert len({r.stickiness_ppm for r in got.values()}) > 1


def test_runs_test_recount(spark, sf_dir):
    """obs_runs must equal the runs count of the above/below-pivot sign
    sequence in day order, and the ratio must sit near 1e6 (the i.i.d.
    verdict that corroborates the ACF)."""
    from flinkproj_spark.operators.timeseries import runs_test_daily

    daily = _daily_rev(spark, sf_dir)
    cy = sum(daily.values()) // len(daily)
    seq = [1 if daily[di] > cy else 0 for di in sorted(daily)]
    runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
    n, n1 = len(seq), sum(seq)
    r = runs_test_daily(spark, sf_dir).collect()[0]
    assert (r.n, r.n1, r.n2, r.obs_runs) == (n, n1, n - n1, runs)
    assert r.exp_runs_milli == (n + 2 * n1 * (n - n1)) * 1000 // n
    assert r.runs_ratio_ppm == runs * n * 1_000_000 // (n + 2 * n1 * (n - n1))
    assert 800_000 < r.runs_ratio_ppm < 1_200_000


def test_t_closeness_exact_variational_distance(spark, sf_dir):
    """Each class's t_ppm must equal the exact cross-multiplied
    variational distance recount (including zero cells for segments
    the class lacks), the flag must be the 0.2 threshold, and the
    audit must fire on some classes while clearing others."""
    import math
    from collections import Counter, defaultdict

    from flinkproj_spark.operators.privacy import L_DIV_QID_BUCKET_C, t_closeness_report

    per_class = defaultdict(Counter)
    glob = Counter()
    for r in load_table(spark, sf_dir, "customer").collect():
        cents = math.floor(r.c_acctbal * 100 + 0.5)
        b = (
            cents // L_DIV_QID_BUCKET_C
            if cents >= 0
            else -((-cents) // L_DIV_QID_BUCKET_C)
        )
        per_class[(r.c_nationkey, b)][r.c_mktsegment] += 1
        glob[r.c_mktsegment] += 1
    n_tot = sum(glob.values())
    got = {(r.nat, r.bal_b): r for r in t_closeness_report(spark, sf_dir).collect()}
    assert set(got) == set(per_class)
    for key, segs in per_class.items():
        gsz = sum(segs.values())
        t_num = sum(
            abs(segs.get(s, 0) * n_tot - g * gsz) for s, g in glob.items()
        )
        r = got[key]
        assert r.gsz == gsz
        assert r.t_ppm == t_num * 1_000_000 // (2 * gsz * n_tot)
        assert r.exceeds_t02 == (1 if r.t_ppm > 200_000 else 0)
    flags = [r.exceeds_t02 for r in got.values()]
    assert sum(flags) > 0, "audit must fire"
    # the statistic must spread (at the driver SFs it also clears
    # some classes; at sf0.001 every 1-2-member class diverges)
    assert len({r.t_ppm for r in got.values()}) > 5


def test_hhi_recount_and_invariants(spark, sf_dir):
    """hhi_e4 must equal the exact cross-multiplied recount, shares
    must be exact ppm with the (rev desc, nat) rank order, cumulative
    shares end at 1e6, and the HHI must sit between perfect-competition
    (1e4/n_nations) and monopoly (10000)."""
    from collections import defaultdict

    from flinkproj_spark.operators.stats import hhi_by_nation

    nat_of = {
        r.c_custkey: r.c_nationkey
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    rev = defaultdict(int)
    for r in load_table(spark, sf_dir, "orders").collect():
        rev[nat_of[r.o_custkey]] += int(r.o_totalprice * 100 + 0.5)
    sum_rev = sum(rev.values())
    hhi = sum(v * v for v in rev.values()) * 10000 // (sum_rev * sum_rev)
    order = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = sorted(hhi_by_nation(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.nat for r in rows] == [n for n, _ in order]
    cum = 0
    for r, (nat, v) in zip(rows, order):
        cum += v
        assert r.rev_c == v
        assert r.share_ppm == v * 1_000_000 // sum_rev
        assert r.cum_share_ppm == cum * 1_000_000 // sum_rev
        assert r.hhi_e4 == hhi
    assert rows[-1].cum_share_ppm == 1_000_000
    assert 10_000 // len(rev) <= hhi <= 10_000


def test_iterative_trainers_are_partitioning_invariant(spark, sf_dir):
    """Round-8 pin (verdict task 6): the two iterative trainers must
    emit BIT-IDENTICAL rows when the shuffle partitioning changes —
    their per-round argmax/argmin synchronization (min(struct(...))
    tie-breaks) is what makes iteration deterministic, and a
    partitioning-sensitive tie-break would silently fork the model on
    any cluster resize. The 4-mode gauntlet covers every oracle key
    generically; these two iterate through driver-side collects, so
    the invariance is pinned explicitly at 7 shuffle partitions (the
    odd-partitioning gauntlet figure)."""
    from flinkproj_spark.operators.graph import label_propagation
    from flinkproj_spark.operators.similarity import kmeans_lloyd

    for fn in (kmeans_lloyd, label_propagation):
        base = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        spark.catalog.clearCache()
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        try:
            odd = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
            spark.catalog.clearCache()
        assert base == odd, fn.__name__


def test_k_anonymity_repair_achieves_k(spark, sf_dir):
    """The repair contract: every non-suppressed class is released in
    an anonymized class of ≥ K_REPAIR members; suppressed classes emit
    anon_k = 0; no customer row is lost or minted across the ladder;
    and classes merged at the same generalization level agree on the
    size of the class they landed in (levels are a real partition of
    the release, not per-row fictions)."""
    from flinkproj_spark.operators.privacy import K_REPAIR, k_anonymity_repair

    rows = k_anonymity_repair(spark, sf_dir).collect()
    assert rows
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r.n_rows for r in rows) == n_cust
    assert {r.final_level for r in rows} >= {1, 3}  # ladder live at sf0.001
    for r in rows:
        if r.final_level == 3:
            assert r.anon_k == 0
        else:
            assert r.anon_k >= K_REPAIR
    # level-1 classes sharing an $8000 band report the same anon_k,
    # and it equals the sum of their level-0 members
    from collections import defaultdict

    by_b1 = defaultdict(list)
    for r in rows:
        if r.final_level == 1:
            # int() truncates toward zero = Spark `div` / DuckDB `//`
            by_b1[(r.nat, int(r.bal_b / 4))].append(r)
    for (nat, b1), grp in by_b1.items():
        ks = {g.anon_k for g in grp}
        assert len(ks) == 1, (nat, b1, grp)


def test_mad_fence_fires_on_planted_monsters(spark, sf_dir, tmp_path):
    """mad_outlier_report liveness both ways: the clean corpus at the
    test SF has zero-to-few outliers, and a tampered copy with three
    100k-char monster docs planted into one source must flag at least
    those three in exactly that source — median/MAD must NOT chase the
    monsters (the fence the z-score screen famously loses)."""
    import shutil

    import pandas as pd

    from flinkproj_spark.operators.stats import mad_outlier_report

    clean = {r.source: r for r in mad_outlier_report(spark, sf_dir).collect()}
    src_name = sorted(clean)[0]

    dirty = tmp_path / "dirty_sf"
    dirty.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", dirty / "documents.parquet")
    pdf = pd.read_parquet(dirty / "documents.parquet")
    victims = pdf.index[pdf.source == src_name][:3]
    assert len(victims) == 3
    pdf.loc[victims, "n_chars"] = 100_000
    pdf.to_parquet(dirty / "documents.parquet", index=False)

    got = {r.source: r for r in mad_outlier_report(spark, str(dirty)).collect()}
    tampered = got[src_name]
    assert tampered.n_outliers >= clean[src_name].n_outliers + 3
    # robustness: the median/MAD stay inside the original length
    # distribution — shifting 3 ranks moves them a few in-range values,
    # never toward 100k (a mean/stddev screen would be dragged there,
    # which is exactly why this key exists alongside outlier_zscore)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    src_max = int(docs[docs.source == src_name].n_chars.max())
    assert tampered.med_chars <= src_max
    assert tampered.mad_chars <= src_max


def test_pii_scan_finds_planted_identifiers(spark, sf_dir, tmp_path):
    """pii_scan_report machinery: the clean corpus pins every count at
    a structurally true zero; a tampered copy with one doc carrying an
    email, a phone, an SSN-shaped id and an IPv4 must surface exactly
    one flagged doc in that source with each class counted."""
    import shutil

    import pandas as pd

    from flinkproj_spark.operators.curation import pii_scan_report

    clean = pii_scan_report(spark, sf_dir).collect()
    assert all(
        r.email_hits == r.phone_hits == r.ssn_hits == r.ipv4_hits
        == r.docs_flagged == 0
        for r in clean
    )

    dirty = tmp_path / "dirty_sf"
    dirty.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", dirty / "documents.parquet")
    pdf = pd.read_parquet(dirty / "documents.parquet")
    victim = pdf.index[pdf.source == "src0"][0]
    pdf.loc[victim, "text"] = (
        "reach bob@example.com or 555-123-4567 ssn 123-45-6789 "
        "from 10.0.0.1 twice: alice@test.org"
    )
    pdf.to_parquet(dirty / "documents.parquet", index=False)

    got = {r.source: r for r in pii_scan_report(spark, str(dirty)).collect()}
    hit = got["src0"]
    assert hit.email_hits == 2
    assert hit.phone_hits == 1
    assert hit.ssn_hits == 1
    assert hit.ipv4_hits == 1
    assert hit.docs_flagged == 1
    assert all(
        r.docs_flagged == 0 for s, r in got.items() if s != "src0"
    )


def test_stratified_split_quotas_are_exact(spark, sf_dir):
    """The splitter's contract: per language, split sizes are the
    exact rank-slice quotas (train gets slices 0-7, val 8, test 9 of
    rank*10 div n — no hash-approximation drift), every doc is
    assigned exactly once, and the assignment is deterministic across
    runs and partitionings."""
    from collections import Counter

    from flinkproj_spark.operators.sampling import stratified_split_assign

    rows = stratified_split_assign(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    per_lang = Counter((r.lang, r.split) for r in rows)
    n_by_lang = Counter(r.lang for r in rows)
    for lang, n in n_by_lang.items():
        expect = Counter()
        for rk in range(1, n + 1):
            s = (rk - 1) * 10 // n
            expect["train" if s < 8 else "val" if s == 8 else "test"] += 1
        for split in ("train", "val", "test"):
            assert per_lang[(lang, split)] == expect[split], (lang, split)
    # determinism under odd partitioning
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        again = {(r.doc_id, r.split) for r in
                 stratified_split_assign(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert again == {(r.doc_id, r.split) for r in rows}


def test_split_rank_independent_of_keep_coin(spark, sf_dir):
    """Regression (round-9 advice): the split rank must use its OWN
    salt. When it reused the keep-coin salt, rank order was a monotone
    function of the sampling coin, so within each language the docs
    stratified_sample keeps were exactly the lowest-ranked docs — a
    composed sample-then-split put every kept doc in 'train' and left
    val/test with zero kept docs. With an independent salt, kept docs
    land in all three splits at roughly the 80/10/10 quota."""
    from collections import Counter

    from flinkproj_spark.operators.sampling import (
        stratified_sample,
        stratified_split_assign,
    )

    kept = {r.doc_id for r in stratified_sample(spark, sf_dir).collect()}
    split = stratified_split_assign(spark, sf_dir).collect()
    by_split = Counter(r.split for r in split if r.doc_id in kept)
    # the old bug made these exactly zero; independence makes each
    # split hold ~ its quota share of the kept set
    assert by_split["val"] > 0 and by_split["test"] > 0
    n_kept = sum(by_split.values())
    assert by_split["train"] < n_kept  # not the whole kept set


def test_token_budget_sums_exactly(spark, sf_dir):
    """Largest-remainder apportionment: quotas sum to EXACTLY the
    budget, every language's quota is its floor share or floor+1, and
    extras go to the largest remainders first."""
    from flinkproj_spark.operators.sampling import (
        TB_BUDGET,
        token_budget_allocator,
    )

    rows = token_budget_allocator(spark, sf_dir).collect()
    assert sum(r.quota for r in rows) == TB_BUDGET
    total = sum(r.t for r in rows)
    for r in rows:
        assert r.floor_quota == r.t * TB_BUDGET // total
        assert r.quota in (r.floor_quota, r.floor_quota + 1)
    rems = sorted(
        ((r.t * TB_BUDGET) % total, r.lang, r.extra) for r in rows
    )
    # once sorted ascending by remainder, extras form a suffix
    flags = [e for _, _, e in rems]
    assert flags == sorted(flags)


def test_pca2_deflation_is_orthogonal_and_live(spark, sf_dir):
    """Deflated power iteration: the two directions are near-orthogonal
    (the integer-truncated projection leaves at most ~0.1% v1 leakage
    per round — bound it at 1%), both are live (non-degenerate across
    dimensions), and comp1 equals embedding_top_component's output
    exactly (the deflation must not perturb the shipped first
    direction)."""
    import math

    from flinkproj_spark.operators.similarity import (
        embedding_pca2_deflated,
        embedding_top_component,
    )

    rows = sorted(embedding_pca2_deflated(spark, sf_dir).collect(),
                  key=lambda r: r.dim)
    v1 = [r.comp1_e3 for r in rows]
    v2 = [r.comp2_e3 for r in rows]
    dot = sum(a * b for a, b in zip(v1, v2))
    cos = dot / math.sqrt(sum(a * a for a in v1) * sum(b * b for b in v2))
    assert abs(cos) < 0.01, cos
    assert sum(1 for x in v2 if x != 0) > len(v2) // 2
    top = {r.dim: r.comp_e3 for r in embedding_top_component(spark, sf_dir).collect()}
    assert v1 == [top[d] for d in range(len(v1))]


def test_theil_sen_resists_planted_corrupt_month(spark, sf_dir, tmp_path):
    """The robust-trend contract: multiplying ONE month's revenue 100x
    in a tampered orders copy leaves the Theil-Sen slope within the
    clean estimate's own scale (a single corrupt month contributes
    <1/40th of pairwise slopes — the median doesn't move past
    neighboring slopes), while the OLS fit visibly chases it. This is
    the reason the key exists next to ols_trend_monthly."""
    import shutil

    import pandas as pd

    from flinkproj_spark.operators.stats import theil_sen_trend_monthly

    clean = theil_sen_trend_monthly(spark, sf_dir).collect()[0]

    dirty = tmp_path / "dirty_sf"
    dirty.mkdir()
    shutil.copy(f"{sf_dir}/orders.parquet", dirty / "orders.parquet")
    pdf = pd.read_parquet(dirty / "orders.parquet")
    mask = pd.to_datetime(pdf.o_orderdate).dt.strftime("%Y-%m") == "1997-06"
    assert mask.sum() > 0
    pdf.loc[mask, "o_totalprice"] = pdf.loc[mask, "o_totalprice"] * 100
    pdf.to_parquet(dirty / "orders.parquet", index=False)

    got = theil_sen_trend_monthly(spark, str(dirty)).collect()[0]
    ts_move = abs(got.ts_slope_e6 - clean.ts_slope_e6) / abs(clean.ts_slope_e6)
    # one corrupt month touches 79/3160 pairwise slopes (2.5%), so the
    # median slides a few order statistics — percent-level, never
    # proportional to the 100x corruption
    assert ts_move < 0.15, ts_move

    def ols_slope(sfd):
        from flinkproj_spark.operators.stats import ols_trend_monthly

        return ols_trend_monthly(spark, sfd).collect()[0].slope_c_per_month

    ols_move = abs(ols_slope(str(dirty)) - ols_slope(sf_dir)) / abs(
        ols_slope(sf_dir)
    )
    assert ols_move > 3 * ts_move, (ols_move, ts_move)


def test_hll_sketch_is_mergeable(spark, sf_dir):
    """The sketch contract that makes HLL worth shipping: registers of
    the full corpus equal the ELEMENTWISE MAX of per-half registers
    (union = max-merge, no rescan), and the estimator is in its raw
    regime (all registers hit, error within ~3 sigma of the m=16
    budget)."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.dedup import (
        HLL_BITS,
        hll_distinct_report,
    )

    docs = load_table(spark, sf_dir, "documents")

    def registers(df):
        fields = df.select(
            F.conv(F.substring(F.md5("text"), 1, 1), 16, 10)
            .cast("long")
            .alias("b"),
            F.conv(F.substring(F.md5("text"), 2, 13), 16, 10)
            .cast("long")
            .alias("x"),
        )
        rank = F.when(F.col("x") == 0, F.lit(HLL_BITS)).otherwise(
            F.lit(HLL_BITS + 1) - F.length(F.bin("x"))
        )
        return {
            r.b: r.mx
            for r in fields.select("b", rank.alias("m"))
            .groupBy("b")
            .agg(F.max("m").alias("mx"))
            .collect()
        }

    mid = docs.selectExpr("percentile(doc_id, 0.5) AS m").collect()[0][0]
    full = registers(docs)
    h1 = registers(docs.filter(F.col("doc_id") < mid))
    h2 = registers(docs.filter(F.col("doc_id") >= mid))
    merged = {
        b: max(h1.get(b, 0), h2.get(b, 0)) for b in set(h1) | set(h2)
    }
    assert merged == full

    row = hll_distinct_report(spark, sf_dir).collect()[0]
    assert row.nonzero_regs == row.m
    assert row.err_ppm < 800_000  # 3 sigma of the 1.04/sqrt(16) budget


def test_survivorship_elects_longest_per_true_component(spark, sf_dir):
    """Cluster + election ground truth in pure Python: the operator's
    clusters must equal TRUE connected components of the pair graph
    (proving SURV_ROUNDS converged on this graph), every survivor must
    be its component's longest doc (tie -> smallest id), and members
    must cover exactly the pair-graph nodes."""
    from flinkproj_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_survivorship,
    )

    pairs = [(r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_dir).collect()]
    assert pairs
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, comps = set(), []
    for start in sorted(adj):
        if start in seen:
            continue
        stack, comp = [start], set()
        while stack:
            v = stack.pop()
            if v in comp:
                continue
            comp.add(v)
            stack.extend(adj[v] - comp)
        seen |= comp
        comps.append(comp)
    chars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    want = {}
    for comp in comps:
        surv = min(comp, key=lambda d: (-chars[d], d))
        want[min(comp)] = (len(comp), surv, chars[surv], len(comp) - 1)
    got = {
        r.cluster_id: (r.n_members, r.survivor_doc, r.survivor_chars, r.n_dropped)
        for r in dedup_survivorship(spark, sf_dir).collect()
    }
    assert got == want


def test_freshness_decay_clamps_ancient_ages(spark, tmp_path):
    """Regression (round-9 advice): the decay exponent is clamped at
    20. Unclamped, age_d >= 448 shifted 1<<64+ — DuckDB raised Out of
    Range and Spark masked the shift mod 64, so the OLDEST day got
    w_ppm = 1e6 (full weight), inverting the decay. A planted corpus
    spanning 500 days must give the ancient day weight 0 and zero
    share of the corpus mass."""
    import pandas as pd

    from flinkproj_spark.operators.curation import freshness_decay_weights

    old = tmp_path / "old_sf"
    old.mkdir()
    ts = pd.to_datetime(
        ["2026-01-01 12:00:00"] * 3 + ["2024-08-20 09:00:00"] * 2
    )
    pd.DataFrame({"ts": ts}).to_parquet(old / "events.parquet", index=False)

    rows = {r.age_d: r for r in freshness_decay_weights(spark, str(old)).collect()}
    assert rows[0].w_ppm == 1_000_000 and rows[0].share_ppm == 1_000_000
    ancient = rows[max(rows)]
    assert max(rows) >= 448
    assert ancient.w_ppm == 0
    assert ancient.day_mass == 0 and ancient.share_ppm == 0


def test_k_anonymity_ladder_rungs_live_at_sf01(spark, tmp_path):
    """Round-9 verdict task: the repair ladder's deeper rungs must be
    PROVABLY live above the driver's correctness SF — at sf0.1 the
    organic corpus satisfies K=10 too early, so a stale ladder could
    go dead there unnoticed. Planted sparse-QID discipline: three
    synthetic nations appended to the sf0.1 customer table, one
    engineered for each rung — 3x4 rows inside one $8000 band (level
    1: bands merge), 4x3 rows across four $8000 bands (level 2: band
    dropped, nation holds), 2 rows total (level 3: suppressed) — and
    the released class sizes must be exactly the engineered sums."""
    import shutil

    import pandas as pd

    from flinkproj_spark.operators.privacy import k_anonymity_repair

    src = "/root/testdata/sf0.1"
    planted = tmp_path / "planted_sf"
    planted.mkdir()
    shutil.copy(f"{src}/customer.parquet", planted / "customer.parquet")
    pdf = pd.read_parquet(planted / "customer.parquet")
    template = pdf.iloc[0].copy()
    next_key = int(pdf.c_custkey.max()) + 1
    extra = []

    def plant(nat, band_k, n):
        nonlocal next_key
        for _ in range(n):
            row = template.copy()
            row.c_custkey = next_key
            next_key += 1
            row.c_nationkey = nat
            row.c_acctbal = band_k * 2000.0 + 100.0  # mid-band, bal_b = band_k
            extra.append(row)

    for k in (80, 81, 82):          # one b1 group (80..83 // 4 == 20)
        plant(101, k, 4)            # level 1: 3 classes of 4, merge to 12
    for k in (100, 108, 116, 124):  # four distinct b1 groups
        plant(102, k, 3)            # level 2: nation total 12
    plant(103, 140, 2)              # level 3: nation total 2 -> suppress
    pd.concat([pdf, pd.DataFrame(extra)], ignore_index=True).to_parquet(
        planted / "customer.parquet", index=False
    )

    rows = k_anonymity_repair(spark, str(planted)).collect()
    mine = [r for r in rows if r.nat in (101, 102, 103)]
    by_nat = {}
    for r in mine:
        by_nat.setdefault(r.nat, []).append(r)
    assert [(r.final_level, r.anon_k, r.n_rows) for r in by_nat[101]] == [
        (1, 12, 4)
    ] * 3
    assert [(r.final_level, r.anon_k, r.n_rows) for r in by_nat[102]] == [
        (2, 12, 3)
    ] * 4
    assert [(r.final_level, r.anon_k, r.n_rows) for r in by_nat[103]] == [
        (3, 0, 2)
    ]
    # every rung of the ladder is represented in the released table
    assert {r.final_level for r in rows} == {0, 1, 2, 3}


def test_quantile_sketch_is_mergeable(spark, sf_dir):
    """The sketch contract that makes the quantile member worth
    shipping (round-9 verdict task): bucket registers of the full
    corpus equal the ELEMENTWISE SUM of per-half registers (union =
    count-add, no rescan, no order sensitivity), every decile estimate
    is >= its exact value, and the relative error honors the
    1/QSK_SUB = 62_500 ppm construction bound."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.screens import QSK_SUB, quantile_sketch_audit

    orders = load_table(spark, sf_dir, "orders")

    def registers(df):
        vals = df.select(
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v")
        )
        bid = F.expr(
            f"CASE WHEN v < {QSK_SUB} THEN v"
            f" ELSE length(bin(v)) * {QSK_SUB}"
            f" + (shiftright(v, length(bin(v)) - 5) - {QSK_SUB}) END"
        )
        return {
            r.bid: r.cnt
            for r in vals.select(bid.alias("bid"))
            .groupBy("bid")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }

    mid = orders.selectExpr("percentile(o_orderkey, 0.5) AS m").collect()[0][0]
    full = registers(orders)
    h1 = registers(orders.filter(F.col("o_orderkey") < mid))
    h2 = registers(orders.filter(F.col("o_orderkey") >= mid))
    merged = {
        b: h1.get(b, 0) + h2.get(b, 0) for b in set(h1) | set(h2)
    }
    assert merged == full

    rows = quantile_sketch_audit(spark, sf_dir).collect()
    assert sorted(r.decile for r in rows) == list(range(1, 10))
    for r in rows:
        assert r.est_c >= r.exact_c, r
        assert 0 <= r.err_ppm <= 1_000_000 // QSK_SUB, r


def test_compaction_plan_is_exact_next_fit(spark, sf_dir):
    """compaction_plan ground truth in pure Python: bins must equal
    next-fit-by-running-size over the day-ordered inventory (no file
    split, no reorder), day spans within a type must be contiguous and
    non-overlapping across ascending bins, totals must reconcile with
    the inventory, and the packing must be LIVE (some bin holds >1
    file, some type spans >1 bin)."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.sampling import (
        CP_ROW_OVERHEAD,
        CP_TARGET_BYTES,
        compaction_plan,
    )

    inv = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.length("props") + CP_ROW_OVERHEAD).alias("bytes"),
        )
        .collect()
    )
    want = {}
    by_type = {}
    for r in inv:
        by_type.setdefault(r.event_type, []).append(r)
    for et, files in by_type.items():
        cum = 0
        for r in sorted(files, key=lambda x: x.d):
            b = cum // CP_TARGET_BYTES
            k = (et, b)
            agg = want.setdefault(k, [0, 0, 0, None, None])
            agg[0] += 1
            agg[1] += r.n_rows
            agg[2] += r.bytes
            agg[3] = min(agg[3] or r.d, r.d)
            agg[4] = max(agg[4] or r.d, r.d)
            cum += r.bytes
    got = {
        (r.event_type, r.bin_id): [
            r.n_files,
            r.n_rows,
            r.bytes,
            r.first_day,
            r.last_day,
        ]
        for r in compaction_plan(spark, sf_dir).collect()
    }
    assert got == {
        k: [a, b, c, str(d0), str(d1)] for k, (a, b, c, d0, d1) in want.items()
    }
    # liveness + locality
    assert any(v[0] > 1 for v in got.values())
    assert any(
        len({k[1] for k in got if k[0] == et}) > 1 for et in by_type
    )
    for et in by_type:
        bins = sorted(
            (k[1], v[3], v[4]) for k, v in got.items() if k[0] == et
        )
        for (b1, f1, l1), (b2, f2, l2) in zip(bins, bins[1:]):
            assert l1 < f2  # contiguous, non-overlapping day ranges


def test_kcore_matches_true_fixpoint(spark, sf_dir):
    """dedup_graph_kcore ground truth in pure Python: peel to the TRUE
    fixpoint (unbounded rounds) and require the operator's bounded
    KCORE_ROUNDS to have converged to exactly that maximal 2-core —
    membership AND within-core degrees — with the periphery live
    (some docs peeled) and the core live (some docs kept)."""
    from flinkproj_spark.operators.dedup import (
        KCORE_K,
        dedup_graph_kcore,
        dedup_ngram_jaccard,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    ]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg0 = {n: len(s) for n, s in adj.items()}
    cur = {n: set(s) for n, s in adj.items()}
    while True:
        drop = [n for n, s in cur.items() if len(s) < KCORE_K]
        if not drop:
            break
        for n in drop:
            for m in cur.get(n, ()):
                cur[m].discard(n)
            cur.pop(n, None)
    want = {
        n: (deg0[n], 1 if n in cur else 0, len(cur[n]) if n in cur else 0)
        for n in adj
    }
    got = {
        r.doc_id: (r.deg0, r.in_core, r.core_deg)
        for r in dedup_graph_kcore(spark, sf_dir).collect()
    }
    assert got == want
    assert any(v[1] == 0 for v in got.values())  # periphery live
    assert any(v[1] == 1 for v in got.values())  # core live


def test_join_advisor_matches_house_strategies(spark, sf_dir):
    """join_strategy_advisor must reproduce the decisions this repo's
    own operators hard-code: every genuine dimension edge broadcasts,
    the one big-big edge (lineitem><orders) is a shuffle with the
    bucket-both hint, hot-fanout keys (l_suppkey at 600x) carry the
    skew hint, and referenced-dim coverage is in (0, 1e6]."""
    from flinkproj_spark.operators.screens import join_strategy_advisor

    # sf0.01: the smallest SF where orders crosses the broadcast
    # ceiling — at sf0.001 every build side fits and all-broadcast is
    # itself the correct advice (rule-liveness needs the bigger dir)
    rows = {
        (r.fact_table, r.fact_key): r
        for r in join_strategy_advisor(spark, "/root/testdata/sf0.01").collect()
    }
    assert len(rows) == 7
    big = rows[("lineitem", "l_orderkey")]
    assert big.strategy == "shuffle" and big.bucket_both_hint == 1
    assert rows[("lineitem", "l_suppkey")].skew_salt_hint == 1
    assert rows[("lineitem", "l_suppkey")].strategy == "broadcast"
    assert rows[("nation", "n_regionkey")].strategy == "broadcast"
    for r in rows.values():
        assert 0 < r.ref_cover_ppm <= 1_000_000
        assert r.avg_fanout >= 1


def test_containment_catches_supersets_jaccard_misses(spark, sf_dir):
    """Every containment pair must satisfy containment >= jaccard and
    the threshold; the superset_only flag must be live (pairs a
    Jaccard >= 0.5 gate would never see) and must agree with the
    jaccard column."""
    from flinkproj_spark.operators.dedup import (
        CONTAINMENT_MIN,
        dedup_containment,
    )

    rows = dedup_containment(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.containment >= CONTAINMENT_MIN
        assert r.containment >= r.jaccard - 1e-9
        assert r.superset_only == (1 if r.jaccard < 0.5 else 0)
        assert r.doc_a < r.doc_b
    assert any(r.superset_only == 1 for r in rows)  # the new signal is live


def test_assortativity_matches_pure_python(spark, sf_dir):
    """assort_ppm must equal the Pearson rational recomputed from the
    edge list in pure Python, and lie in [-1e6, 1e6]."""
    from flinkproj_spark.operators.dedup import (
        dedup_ngram_jaccard,
        graph_degree_assortativity,
    )

    pairs = [
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    ]
    assert pairs
    ends = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    deg = {}
    for s, _ in ends:
        deg[s] = deg.get(s, 0) + 1
    n = len(ends)
    sx = sum(deg[s] for s, _ in ends)
    sxx = sum(deg[s] * deg[s] for s, _ in ends)
    sxy = sum(deg[s] * deg[d] for s, d in ends)
    cov = n * sxy - sx * sx
    var = n * sxx - sx * sx
    row = graph_degree_assortativity(spark, sf_dir).collect()[0]
    assert (row.n_ends, row.sum_deg, row.sum_deg2, row.sum_dxdy) == (
        n,
        sx,
        sxx,
        sxy,
    )
    if var == 0:
        assert row.assort_ppm is None
    else:
        want = abs(cov) * 1_000_000 // var * (1 if cov >= 0 else -1)
        assert row.assort_ppm == want
        assert -1_000_000 <= row.assort_ppm <= 1_000_000


def test_srm_check_chi2_and_partition(spark, sf_dir):
    """srm_check: exactly two variants partitioning the user universe,
    chi2 = (a-b)^2*1e6/(a+b) recomputed from the per-variant counts,
    and conversion counts bounded by user counts."""
    from flinkproj_spark.operators.screens import srm_check
    from flinkproj_spark.sources.tables import load_table

    rows = {r.variant: r for r in srm_check(spark, sf_dir).collect()}
    assert set(rows) == {"control", "treatment"}
    n_users_total = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    a = rows["control"].n_users
    b = rows["treatment"].n_users
    assert a + b == n_users_total
    want_chi2 = (a - b) * (a - b) * 1_000_000 // (a + b)
    for r in rows.values():
        assert r.srm_chi2_e6 == want_chi2
        assert 0 <= r.n_converted <= r.n_users
        assert r.n_purchases <= r.n_events
        assert 0 <= r.conv_ppm <= 1_000_000


def test_conformal_coverage_near_nominal(spark, sf_dir):
    """The calibration q90 must cover roughly 90% of the held-out test
    half for every event type (wide tolerance at toy SF), and the
    cal/test split must partition each type's events."""
    from flinkproj_spark.operators.screens import conformal_coverage_report
    from flinkproj_spark.sources.tables import load_table

    rows = conformal_coverage_report(spark, sf_dir).collect()
    assert len(rows) == 5
    per_type = {
        r.event_type: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
        .collect()
    }
    for r in rows:
        assert r.n_cal + r.n_test == per_type[r.event_type]
        assert r.q90_c is not None
        assert 700_000 <= r.coverage_ppm <= 1_000_000
        assert r.n_covered <= r.n_test


def test_dp_sensitivity_bounds(spark, sf_dir):
    """Per-nation sensitivity: the max contribution is <= the nation
    total, sens_ppm is its exact ppm share, and a single-contributor
    nation (if any) would show ppm 1e6 — all rows in (0, 1e6]."""
    from flinkproj_spark.operators.privacy import dp_sensitivity_report

    rows = dp_sensitivity_report(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.max_contrib_c <= r.rev_c
        assert r.sens_ppm == r.max_contrib_c * 1_000_000 // r.rev_c
        assert 0 < r.sens_ppm <= 1_000_000
        assert r.n_contributors >= 1


def test_dp_clamp_threshold_and_mass(spark, sf_dir):
    """The clamp threshold must be the grid-aligned nearest-rank p99
    of per-customer revenue (recomputed in pure Python), the clamp
    must actually clip someone (live), and per-nation clamped sums
    must equal clamping applied row-wise."""
    from flinkproj_spark.operators.privacy import (
        DP_CLAMP_GRID,
        DP_CLAMP_PCT,
        dp_clamped_release,
    )
    from flinkproj_spark.operators.relational import _cents
    from flinkproj_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    per_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", _cents("o_totalprice").alias("rev_c"))
        .groupBy("o_custkey")
        .agg(F.sum("rev_c").alias("rev_c"))
        .collect()
    )
    revs = sorted(r.rev_c for r in per_cust)
    n = len(revs)
    from collections import Counter

    hist = Counter(v // DP_CLAMP_GRID for v in revs)
    cum = 0
    want_thr = None
    for b in sorted(hist):
        cum += hist[b]
        if cum * 100 >= DP_CLAMP_PCT * n:
            want_thr = (b + 1) * DP_CLAMP_GRID
            break
    rows = dp_clamped_release(spark, sf_dir).collect()
    assert rows and all(r.threshold_c == want_thr for r in rows)
    assert sum(r.n_clipped for r in rows) == sum(1 for v in revs if v > want_thr)
    assert sum(r.n_clipped for r in rows) >= 1  # the clamp is live
    assert sum(r.rev_c - r.clamped_rev_c for r in rows) == sum(
        v - want_thr for v in revs if v > want_thr
    )
    for r in rows:
        assert 0 < r.clamped_rev_c <= r.rev_c
        assert r.clipped_ppm == (r.rev_c - r.clamped_rev_c) * 1_000_000 // r.rev_c


def test_containment_estimate_dominates_jaccard_estimate(spark, sf_dir):
    """Ĉ from the inclusion-exclusion identity must dominate Ĵ for
    every candidate pair (containment >= jaccard carries through the
    integer formula for m <= N_HASHES), match the formula recomputed
    in Python, and stay in [0, 100]."""
    from flinkproj_spark.operators.curation import minhash_containment_estimate
    from flinkproj_spark.operators.dedup import N_HASHES

    rows = minhash_containment_estimate(spark, sf_dir).collect()
    spark.catalog.clearCache()
    assert rows
    for r in rows:
        want = min(
            r.n_match
            * (r.sz_a + r.sz_b)
            * 100
            // ((N_HASHES + r.n_match) * min(r.sz_a, r.sz_b)),
            100,
        )
        assert r.est_containment_pct == want
        assert 0 <= r.est_containment_pct <= 100
        assert r.est_containment_pct >= r.n_match * 100 // N_HASHES
        assert r.sz_a >= 1 and r.sz_b >= 1
    assert any(r.est_containment_pct > 0 for r in rows)


def test_interevent_gap_profile_moments(spark, sf_dir):
    """Gap moments per event type must match a pure-Python recompute
    from the raw events, and Fano must be live (neither zero nor
    degenerate) for every type."""
    from collections import defaultdict

    from flinkproj_spark.operators.timeseries import interevent_gap_profile
    from flinkproj_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in ev:
        seqs[(r.user_id, r.event_type)].append((r.us, r.event_id))
    moments = defaultdict(lambda: [0, 0, 0, None, None])  # n, s, ss, mn, mx
    for k, rows in seqs.items():
        rows.sort()
        for (a, _), (b, _) in zip(rows, rows[1:]):
            g = (b - a) // 1_000_000
            m = moments[k[1]]
            m[0] += 1
            m[1] += g
            m[2] += g * g
            m[3] = g if m[3] is None else min(m[3], g)
            m[4] = g if m[4] is None else max(m[4], g)
    got = {r.event_type: r for r in interevent_gap_profile(spark, sf_dir).collect()}
    assert set(got) == set(moments)
    for t, (n, s, ss, mn, mx) in moments.items():
        r = got[t]
        assert (r.n_gaps, r.sum_gap_s, r.sum_gap2, r.min_gap_s, r.max_gap_s) == (
            n,
            s,
            ss,
            mn,
            mx,
        )
        assert r.mean_gap_s == s // n
        assert r.fano_e6 == (n * ss - s * s) * 1_000_000 // (n * s)
        assert r.fano_e6 > 0


def test_order_total_audit_recompute_and_liveness(spark, sf_dir):
    """Reconciliation counts must match a pure-Python recompute, both
    failure directions (mismatching totals AND itemless orders) must
    be live on the raw corpus, and the partition must be exhaustive:
    itemless + exact + mismatch == n_orders per status."""
    import math
    from collections import defaultdict

    from flinkproj_spark.operators.relational import order_total_audit
    from flinkproj_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    ).collect()
    calc = defaultdict(int)
    for r in li:
        calc[r.l_orderkey] += int(
            math.floor(
                r.l_extendedprice * (1 - r.l_discount) * (1 + r.l_tax) * 100 + 0.5
            )
        )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).collect()
    want = defaultdict(lambda: [0, 0, 0, 0])  # n, itemless, exact, mismatch
    for o in orders:
        w = want[o.o_orderstatus]
        w[0] += 1
        if o.o_orderkey not in calc:
            w[1] += 1
        elif calc[o.o_orderkey] == int(math.floor(o.o_totalprice * 100 + 0.5)):
            w[2] += 1
        else:
            w[3] += 1
    got = {r.o_orderstatus: r for r in order_total_audit(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for st, (n, itemless, exact, mismatch) in want.items():
        r = got[st]
        assert (r.n_orders, r.n_itemless, r.n_exact, r.n_mismatch) == (
            n,
            itemless,
            exact,
            mismatch,
        )
        assert r.n_itemless + r.n_exact + r.n_mismatch == r.n_orders
        assert r.mismatch_ppm == r.n_mismatch * 1_000_000 // r.n_orders
    assert sum(w[3] for w in want.values()) > 0  # drifted totals are live
    assert sum(w[1] for w in want.values()) > 0  # itemless orders are live


def test_zonemap_zorder_prunes_where_time_layout_cannot(spark):
    """At sf0.01 (probed liveness SF) the z-order layout must scan a
    far smaller fraction of its zone maps than the day-partitioned
    layout for the same user-id probes, time bins must span ~every
    probe, and scan_ppm must be the exact ratio of its own columns."""
    from flinkproj_spark.operators.screens import zonemap_effectiveness

    rows = {
        r.layout: r
        for r in zonemap_effectiveness(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(rows) == {"time", "zorder"}
    for r in rows.values():
        assert r.scan_ppm == r.n_scanned * 1_000_000 // (r.n_bins * r.n_probes)
        assert 0 < r.n_scanned <= r.n_bins * r.n_probes
    # the contrast IS the finding: z-order skips, the time layout can't
    assert rows["time"].scan_ppm > 900_000
    assert rows["zorder"].scan_ppm < rows["time"].scan_ppm // 3


def test_activity_migration_matrix_live_in_all_directions(spark, sf_dir):
    """Churn (x->absent), acquisition (absent->x), and retention
    (diagonal) must all be live; cells recompute from raw orders; the
    absent->absent cell must NOT exist (customers with no orders in
    either year are out of frame by construction)."""
    from collections import Counter, defaultdict

    from flinkproj_spark.operators.analytic import (
        AM_YEAR_FROM,
        AM_YEAR_TO,
        activity_migration_matrix,
    )
    from flinkproj_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .filter(F.col("yr").isin(AM_YEAR_FROM, AM_YEAR_TO))
        .collect()
    )
    per = defaultdict(lambda: [0, 0])
    for r in orders:
        per[r.o_custkey][0 if r.yr == AM_YEAR_FROM else 1] += 1

    def tier(n):
        return "absent" if n == 0 else "low" if n <= 1 else "mid" if n <= 2 else "high"

    want = Counter((tier(a), tier(b)) for a, b in per.values())
    got = {
        (r.tier_from, r.tier_to): r.n_customers
        for r in activity_migration_matrix(spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert ("absent", "absent") not in got
    assert any(k[1] == "absent" for k in got)  # churn live
    assert any(k[0] == "absent" for k in got)  # acquisition live
    assert any(k[0] == k[1] for k in got)  # retention live
    total = sum(got.values())
    rows = activity_migration_matrix(spark, sf_dir).collect()
    for r in rows:
        assert r.share_ppm == r.n_customers * 1_000_000 // total


def test_backfill_planner_islands(spark, sf_dir):
    """Backfill windows must exactly cover the missing days of the
    span (recomputed in pure Python), be disjoint and maximal (no two
    adjacent windows), and include a multi-day island at the sparse
    test SF so the run-length coalescing is live."""
    import datetime as dt

    from flinkproj_spark.operators.relational import backfill_planner
    from flinkproj_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    days = {
        r.d
        for r in load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
        .collect()
    }
    lo, hi = min(days), max(days)
    missing = {
        lo + dt.timedelta(days=i)
        for i in range((hi - lo).days + 1)
        if lo + dt.timedelta(days=i) not in days
    }
    rows = backfill_planner(spark, sf_dir).collect()
    covered = set()
    spans = []
    for r in rows:
        s = dt.date.fromisoformat(r.start_day)
        e = dt.date.fromisoformat(r.end_day)
        assert (e - s).days + 1 == r.n_days
        spans.append((s, e))
        for i in range(r.n_days):
            covered.add(s + dt.timedelta(days=i))
    assert covered == missing and missing
    spans.sort()
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert (s2 - e1).days > 1  # maximal: no adjacent windows
    if sum(1 for d in missing) > len(spans):
        assert any(r.n_days > 1 for r in rows)  # coalescing live


def test_vad_segments_match_pure_python(spark, sf_dir):
    """Segment counts must match a pure-Python run-length recompute of
    the same int16 decode, and mixed (voiced+unvoiced) docs must exist
    so the run-length stage is live."""
    import struct

    from flinkproj_spark.operators.multimodal import (
        VAD_FRAME,
        VAD_THRESH,
        multimodal_vad_segments,
    )
    from flinkproj_spark.sources.tables import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {
        r.doc_id: (r.n_frames, r.n_voiced, r.n_segments, r.longest_segment)
        for r in multimodal_vad_segments(spark, sf_dir).collect()
    }
    assert set(got) == set(texts)
    mixed = 0
    for doc_id, text in texts.items():
        b = text.encode()
        n2 = len(b) - (len(b) % 2)
        v = [
            struct.unpack("<h", b[2 * i : 2 * i + 2])[0] for i in range(n2 // 2)
        ]
        nf = len(v) // VAD_FRAME
        vo = [
            1
            if sum(abs(x) for x in v[VAD_FRAME * k : VAD_FRAME * (k + 1)])
            > VAD_FRAME * VAD_THRESH
            else 0
            for k in range(nf)
        ]
        segs = []
        run = 0
        for x in vo + [0]:
            if x:
                run += 1
            elif run:
                segs.append(run)
                run = 0
        want = (nf, sum(vo), len(segs), max(segs) if segs else 0)
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
        if 0 < sum(vo) < nf:
            mixed += 1
    assert mixed > 0


def test_supplier_scorecard_topk_and_dq(spark, sf_dir):
    """The scorecard must rank by exact net revenue (recomputed), its
    ppm/lag columns must be internally consistent, and the negative-
    lag DQ sentinel must be live for at least one top supplier."""
    import math
    from collections import defaultdict

    from flinkproj_spark.operators.relational import (
        SSC_TOP_K,
        supplier_scorecard,
    )
    from flinkproj_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    ).collect()
    rev = defaultdict(int)
    for r in li:
        rev[r.l_suppkey] += int(
            math.floor(r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5)
        )
    want_order = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))[:SSC_TOP_K]
    rows = supplier_scorecard(spark, sf_dir).collect()
    assert [(r.suppkey, r.revenue_c) for r in sorted(rows, key=lambda r: r.rank)] == want_order
    for r in rows:
        assert 0 <= r.return_ppm <= 1_000_000
        assert r.s_name
        assert r.n_neg_lag <= r.n_items
    assert any(r.n_neg_lag > 0 for r in rows)  # the DQ sentinel is live


def test_table_digest_is_additive_and_detects_any_change(spark, sf_dir, tmp_path):
    """The digest must be mergeable (digests of two disjoint halves
    sum mod p to the full digest) and must CHANGE when a single row is
    tampered — the two properties that make it a replica check."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.relational import (
        TD_MOD,
        table_digest_report,
    )
    from flinkproj_spark.sources.tables import load_table

    full = {
        r.table_name: (r.n_rows, r.digest)
        for r in table_digest_report(spark, sf_dir).collect()
    }
    assert len(full) == 10 and all(v[0] > 0 for v in full.values())

    # additivity: split documents by doc_id parity into a tmp corpus
    # copy and digest each half with the SAME operator
    import shutil

    for half, pred in (("even", "doc_id % 2 = 0"), ("odd", "doc_id % 2 = 1")):
        d = tmp_path / half
        d.mkdir()
        for t in (
            "region nation customer supplier part orders lineitem "
            "events embeddings"
        ).split():
            shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
        load_table(spark, sf_dir, "documents").filter(pred).write.parquet(
            str(d / "documents.parquet")
        )
    even = {
        r.table_name: (r.n_rows, r.digest)
        for r in table_digest_report(spark, str(tmp_path / "even")).collect()
    }
    odd = {
        r.table_name: (r.n_rows, r.digest)
        for r in table_digest_report(spark, str(tmp_path / "odd")).collect()
    }
    assert even["documents"][0] + odd["documents"][0] == full["documents"][0]
    assert (even["documents"][1] + odd["documents"][1]) % TD_MOD == full[
        "documents"
    ][1]

    # tamper detection: flip one character of one doc
    d = tmp_path / "tampered"
    d.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events embeddings"
    ).split():
        shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    docs = load_table(spark, sf_dir, "documents")
    tampered = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("x"))).otherwise(
            F.col("text")
        ),
    )
    tampered.write.parquet(str(d / "documents.parquet"))
    t_dig = {
        r.table_name: r.digest
        for r in table_digest_report(spark, str(d)).collect()
    }
    assert t_dig["documents"] != full["documents"][1]
    assert t_dig["orders"] == full["orders"][1]  # untouched tables agree


def test_trade_flow_matrix_conserves_revenue(spark, sf_dir):
    """The matrix must partition total net revenue exactly: cell
    revenues sum to the corpus total (recomputed), shares are each
    cell's exact ppm, and the matrix covers multiple supplier AND
    customer nations (live in both dimensions)."""
    import math

    from flinkproj_spark.operators.relational import trade_flow_matrix
    from flinkproj_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_discount"
    ).collect()
    total = sum(
        int(math.floor(r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5))
        for r in li
    )
    rows = trade_flow_matrix(spark, sf_dir).collect()
    assert sum(r.revenue_c for r in rows) == total
    assert sum(r.n_items for r in rows) == len(li)
    for r in rows:
        assert r.share_ppm == r.revenue_c * 1_000_000 // total
    assert len({r.supp_nation for r in rows}) > 1
    assert len({r.cust_nation for r in rows}) > 1


def test_pipeline_lake_digest_invariance_and_layout(spark, sf_dir):
    """The lake pipeline's two verdicts must hold at test SF: the
    additive digest of the REWRITTEN table equals the input's (rewrite
    lost/duplicated nothing) — and the executed layout must be exactly
    what the plan promised: one parquet data file per (event_type,
    bin_id) bin, n_bins directories on disk."""
    import glob
    import os
    import tempfile

    from flinkproj_spark.operators.e2e import pipeline_lake

    row = pipeline_lake(spark, sf_dir).collect()[0]
    assert row.digest_match == 1 and row.rows_match == 1, row
    assert row.n_bins >= 2  # the planner actually split something

    out_path = os.path.join(
        tempfile.gettempdir(), "flinkproj_spark_lake",
        spark.sparkContext.applicationId,
        os.path.basename(os.path.normpath(sf_dir)),
    )
    bin_dirs = glob.glob(os.path.join(out_path, "event_type=*", "bin_id=*"))
    assert len(bin_dirs) == row.n_bins
    for d in bin_dirs:
        parts = [f for f in os.listdir(d) if f.startswith("part-")]
        assert len(parts) == 1, (d, parts)


def test_pipeline_lake_scratch_lake_is_per_application(spark, sf_dir, monkeypatch):
    """Two sessions compacting the same corpus at once must not share
    a scratch lake (one would read back the other's files): the lake
    pipeline_lake writes and reads is named after its application."""
    import os

    from flinkproj_spark.operators.e2e import pipeline_lake
    from flinkproj_spark.sources import files

    written = []
    write = files.write_compacted_files

    def recording_write(spark_, sf_dir_, out_path):
        written.append(out_path)
        write(spark_, sf_dir_, out_path)

    monkeypatch.setattr(files, "write_compacted_files", recording_write)
    pipeline_lake(spark, sf_dir)
    assert len(written) == 1
    assert spark.sparkContext.applicationId in written[0].split(os.sep), written


def test_pipeline_multimodal_funnel_invariants(spark, sf_dir):
    """The image-curation funnel's three stage invariants at test SF:
    every survivor passes the gate (re-derived from the decode stats),
    survivors are phash-unique (exact dedup held), and no two
    survivors sit within PHASH_MAX_HAMMING bits (near-dup removal
    held) — brute-force verified over the survivor set."""
    from flinkproj_spark.operators.multimodal import (
        MM_GATE_FRAMES, MM_GATE_MEAN, PHASH_MAX_HAMMING,
        multimodal_decode, pipeline_multimodal)

    rows = pipeline_multimodal(spark, sf_dir).collect()
    assert len(rows) > 0
    stats = {r.doc_id: r for r in multimodal_decode(spark, sf_dir).collect()}
    hashes = [r.phash for r in rows]
    assert len(set(hashes)) == len(hashes)  # exact dedup
    for r in rows:
        s = stats[r.doc_id]
        assert s.n_frames >= MM_GATE_FRAMES and s.mean_byte >= MM_GATE_MEAN
        assert (r.width, r.height, r.n_frames) == (s.width, s.height, s.n_frames)
    hs = sorted(hashes)
    for i, a in enumerate(hs):
        for b in hs[i + 1 :]:
            assert bin(a ^ b).count("1") > PHASH_MAX_HAMMING, (a, b)
