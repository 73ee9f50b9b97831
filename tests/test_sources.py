"""File-format sources: CSV/JSON-lines roundtrips with explicit
schemas, corrupt-record routing, streaming drain equivalence."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from flinkproj_spark.sources.files import (
    ingest_to_parquet,
    read_csv,
    read_jsonl,
    stream_jsonl,
)
from flinkproj_spark.sources.tables import load_table

SCHEMA = "event_id long, user_id long, event_type string, value double"


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


def test_csv_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    p = str(tmp_path / "ev_csv")
    ev.write.option("header", True).mode("overwrite").csv(p)
    back = read_csv(spark, p, SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))


def test_jsonl_roundtrip_and_ingest(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    p = str(tmp_path / "ev_json")
    ev.write.mode("overwrite").json(p)
    back = read_jsonl(spark, p, SCHEMA)
    assert back.count() == ev.count()

    pq = str(tmp_path / "ev_pq")
    ingest_to_parquet(back, pq, "event_type")
    again = spark.read.parquet(pq)
    assert again.count() == ev.count()
    # partition pruning works on the ingested layout
    plan = again.filter(F.col("event_type") == "click")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters" in plan or "pushed" in plan.lower()


def test_jsonl_corrupt_records_are_routable(spark, tmp_path):
    p = str(tmp_path / "bad")
    os.makedirs(p)
    with open(os.path.join(p, "a.jsonl"), "w") as f:
        f.write('{"event_id": 1, "user_id": 2, "event_type": "ok", "value": 0.5}\n')
        f.write("this is not json\n")
    df = read_jsonl(spark, p, SCHEMA, keep_corrupt=True).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 1 and bad.count() == 1
    assert bad.select("_corrupt_record").first()[0].startswith("this is")
    df.unpersist()


def test_xml_lines_parse_and_route_malformed(spark, tmp_path):
    from flinkproj_spark.sources.files import read_xml_lines

    p = str(tmp_path / "xml")
    os.makedirs(p)
    with open(os.path.join(p, "a.xml"), "w") as f:
        f.write("<rec><event_id>1</event_id><event_type>ok</event_type><value>0.5</value></rec>\n")
        f.write("<rec><event_id>2</event_id><event_type>ok2</event_type><value>1.5</value></rec>\n")
        f.write("not xml at all\n")
    df = read_xml_lines(
        spark, p, "struct<event_id:long,event_type:string,value:double>"
    ).cache()
    good = df.filter(F.col("xml.event_id").isNotNull()).select("xml.event_id", "xml.value")
    rows = {r.event_id: r.value for r in good.collect()}
    assert rows == {1: 0.5, 2: 1.5}
    # malformed line -> all-null struct, routable like the JSON dead-letter
    assert df.filter(F.col("xml.event_id").isNull()).count() == 1
    df.unpersist()


def test_stream_jsonl_drains_to_batch_result(spark, sf_dir, tmp_path, monkeypatch):
    from flinkproj_spark.sources import files

    monkeypatch.setattr(files, "MAX_FILES_PER_TRIGGER", 2)
    ev = _events(spark, sf_dir).limit(200)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev.coalesce(4).write.mode("overwrite").json(src)
    q = (
        stream_jsonl(spark, src, SCHEMA)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == ev.count()


def test_rate_generators_are_json_line_streams(spark):
    """The two rate-source producers build streaming frames of one
    string `value` column (the JSON line); no query is started."""
    from flinkproj_spark.sources.generators import alldata_stream, auditlog_stream

    for df in (alldata_stream(spark), auditlog_stream(spark)):
        assert df.isStreaming
        assert df.dtypes == [("value", "string")]


def test_orc_roundtrip_matches_parquet(spark, sf_dir, tmp_path, monkeypatch):
    from flinkproj_spark.sources import files
    from flinkproj_spark.sources.files import read_orc, stream_orc, write_orc

    monkeypatch.setattr(files, "MAX_FILES_PER_TRIGGER", 4)

    ev = _events(spark, sf_dir)
    p = str(tmp_path / "ev_orc")
    write_orc(ev, p)
    back = read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))
    # streaming drain over the same directory converges to the batch result
    out = str(tmp_path / "orc_out")
    ck = str(tmp_path / "orc_ck")
    q = (
        stream_orc(spark, p, SCHEMA)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == ev.count()


def test_training_shard_write_matches_shuffle_operator(spark, sf_dir, tmp_path):
    """The landed shard files reproduce train_shard_shuffle exactly: the
    hive shard partition matches the operator's shard, and row order
    inside each shard file is the operator's pos order."""
    from flinkproj_spark.operators.sampling import train_shard_shuffle
    from flinkproj_spark.sources.files import write_training_shards
    from flinkproj_spark.sources.tables import load_table

    out = str(tmp_path / "shards")
    write_training_shards(load_table(spark, sf_dir, "documents"), out)
    expect = {
        r.doc_id: (r.shard, r.pos)
        for r in train_shard_shuffle(spark, sf_dir).collect()
    }
    import glob
    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{out}/shard=*/*.parquet"))
    assert len(files) == 8, f"expected one file per shard, got {len(files)}"
    seen = 0
    for f in files:
        shard = int(f.split("shard=")[1].split("/")[0])
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
        for file_pos, doc_id in enumerate(ids, start=1):
            assert expect[doc_id] == (shard, file_pos), (
                f"doc {doc_id}: file says ({shard},{file_pos}), "
                f"operator says {expect[doc_id]}"
            )
        seen += len(ids)
    assert seen == len(expect)


def test_dim_area_from_jdbc_matches_literal_dim(spark):
    """S2 parity for the store-backed loader: seed an embedded Derby
    (in-JVM, ships with Spark) with the reference's areas hash via the
    JDBC writer, read it back through dim_area_from_jdbc, and the
    inverted country→area rows must equal the literal dim_area."""
    import pytest

    from flinkproj_spark.sources.dims import (
        AREA_HASH,
        dim_area,
        dim_area_from_jdbc,
        jdbc_driver_available,
    )

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    if not jdbc_driver_available(spark, driver):
        pytest.skip("Derby JDBC driver not on classpath")
    url = "jdbc:derby:memory:dimdb;create=true"
    seed = spark.createDataFrame(
        list(AREA_HASH.items()), "area string, countries string"
    )
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "areas")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    got = {(r.country, r.area) for r in dim_area_from_jdbc(
        spark, url, "areas", driver).collect()}
    want = {(r.country, r.area) for r in dim_area(spark).collect()}
    assert got == want and len(got) == 7


def test_dim_area_from_jdbc_gates_on_missing_driver(spark):
    import pytest

    from flinkproj_spark.sources.dims import dim_area_from_jdbc

    with pytest.raises(RuntimeError, match="not on classpath"):
        dim_area_from_jdbc(spark, "jdbc:nope://x", driver="com.example.NoSuchDriver")


def test_zorder_write_shrinks_per_file_extents(spark, sf_dir, tmp_path):
    """The write path for the zorder_layout audit: after
    write_zorder_layout, each parquet file's (user_id × minute)
    bounding rectangle — what min-max row-group stats expose to a
    scan planner — must be dramatically smaller than under a
    round-robin write of the same file count, and the rows must
    round-trip unchanged."""
    import pyspark.sql.functions as F

    from flinkproj_spark.sources.files import write_zorder_layout
    from flinkproj_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", (F.unix_timestamp("ts") / 60).cast("long").alias("minute")
    )
    z_out = str(tmp_path / "zorder")
    rr_out = str(tmp_path / "roundrobin")
    write_zorder_layout(events, z_out, "user_id", "minute")
    events.repartition(8).write.parquet(rr_out)

    def total_extent_area(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("du"),
                (F.max("minute") - F.min("minute")).alias("dm"),
            )
            .collect()
        )
        assert len(per_file) == 8
        return sum((r.du + 1) * (r.dm + 1) for r in per_file)

    back = spark.read.parquet(z_out)
    assert back.count() == events.count()
    assert {r.event_id for r in back.select("event_id").collect()} == {
        r.event_id for r in events.select("event_id").collect()
    }
    z_area = total_extent_area(z_out)
    rr_area = total_extent_area(rr_out)
    # round-robin files each span ~the full rectangle; z-order files
    # tile it — demand at least a 2× total shrink (observed ≫ that)
    assert z_area < rr_area / 2, (z_area, rr_area)


def test_compact_small_files_shrinks_file_count(spark, sf_dir, tmp_path, monkeypatch):
    """128 tiny files compact to the byte-derived target count with
    identical rows; the sorted variant keeps the clustered layout
    (per-file key ranges stay disjoint-ish, not round-robin)."""
    import pyspark.sql.functions as F

    from flinkproj_spark.sources import files
    from flinkproj_spark.sources.files import compact_small_files
    from flinkproj_spark.sources.tables import load_table

    monkeypatch.setattr(files, "TARGET_FILE_BYTES", 1 << 20)

    src = str(tmp_path / "shattered")
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    events.repartition(128).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 128

    out = str(tmp_path / "compacted")
    n = compact_small_files(spark, src, out)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == n and n < 16
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    assert {r.event_id for r in back.collect()} == {r.event_id for r in events.collect()}

    out2 = str(tmp_path / "compacted_sorted")
    compact_small_files(spark, src, out2, sort_cols=("user_id",))
    per_file = (
        spark.read.parquet(out2)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (  _, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert lo_next >= hi_prev  # range-partitioned: files don't interleave


def test_tokenized_shards_roundtrip_to_bpe_apply(spark, sf_dir, tmp_path):
    """The tokenized shard layout must carry exactly the encoder's
    output: reading every shard back and fingerprinting each doc's id
    sequence reproduces bpe_apply's ids_fp for the whole corpus (no
    doc lost, none duplicated, no id reordered inside a doc)."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.text import bpe_apply
    from flinkproj_spark.sources.files import write_tokenized_shards

    out = str(tmp_path / "tok_shards")
    write_tokenized_shards(spark, sf_dir, out)
    back = spark.read.parquet(out).select(
        "doc_id",
        F.md5(
            F.array_join(F.transform("ids", lambda i: i.cast("string")), ",")
        ).alias("ids_fp"),
    )
    got = {(r.doc_id, r.ids_fp) for r in back.collect()}
    want = {(r.doc_id, r.ids_fp) for r in bpe_apply(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_shard_manifest_roundtrips_source(spark, sf_dir, tmp_path):
    """The shard receipt: manifest rows cover every shard, per-shard
    counts/tokens/checksums sum exactly to the totals row, and the
    totals row equals the receipt computed over the source corpus —
    for BOTH layouts (document shards and tokenized shards). A
    tampered layout (one file dropped) must break the equality."""
    from flinkproj_spark.operators.text import _bpe_ids
    from flinkproj_spark.sources.files import (
        corpus_receipt,
        shard_manifest,
        write_tokenized_shards,
        write_training_shards,
    )
    from flinkproj_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cases = []
    out_docs = str(tmp_path / "doc_shards")
    write_training_shards(docs, out_docs)
    cases.append((out_docs, docs))
    out_tok = str(tmp_path / "tok_shards")
    write_tokenized_shards(spark, sf_dir, out_tok)
    cases.append((out_tok, _bpe_ids(spark, sf_dir).drop("_nc")))

    for out, source in cases:
        rows = shard_manifest(spark, out).collect()
        total = next(r for r in rows if r.shard == -1)
        shards = [r for r in rows if r.shard >= 0]
        assert len(shards) == 8
        assert sum(r.n_rows for r in shards) == total.n_rows
        assert sum(r.n_tokens for r in shards) == total.n_tokens
        assert sum(r.content_sum for r in shards) == total.content_sum
        src = corpus_receipt(source).collect()[0]
        assert (total.n_rows, total.n_tokens, total.content_sum) == (
            src.n_rows, src.n_tokens, src.content_sum
        )

    # tamper: drop one shard file -> receipt must no longer match
    import glob
    import os

    victim = sorted(glob.glob(f"{out_docs}/shard=*/*.parquet"))[0]
    os.remove(victim)
    tampered = shard_manifest(spark, out_docs).collect()
    t_total = next(r for r in tampered if r.shard == -1)
    src = corpus_receipt(docs).collect()[0]
    assert t_total.content_sum != src.content_sum


def test_write_compacted_files_executes_the_plan(spark, sf_dir, tmp_path):
    """The rewrite must produce EXACTLY one parquet file per planned
    bin, per-bin row counts must equal the plan's n_rows, no rows may
    be lost, and each file's day span must match the plan's
    first/last day (the time-locality contract)."""
    import pyspark.sql.functions as F

    from flinkproj_spark.operators.sampling import compaction_plan
    from flinkproj_spark.sources.files import write_compacted_files
    from flinkproj_spark.sources.tables import load_table

    out = str(tmp_path / "compacted")
    write_compacted_files(spark, sf_dir, out)
    plan = {
        (r.event_type, r.bin_id): r
        for r in compaction_plan(spark, sf_dir).collect()
    }
    back = spark.read.parquet(out)
    with_file = back.withColumn("_fp", F.col("_metadata.file_path"))
    got = {
        (r.event_type, r.bin_id): r
        for r in with_file.groupBy("event_type", "bin_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("_fp").alias("n_files"),
            F.date_format(
                F.min(F.date_trunc("day", "ts").cast("date")), "yyyy-MM-dd"
            ).alias("first_day"),
            F.date_format(
                F.max(F.date_trunc("day", "ts").cast("date")), "yyyy-MM-dd"
            ).alias("last_day"),
        )
        .collect()
    }
    assert set(got) == set(plan)
    for k, g in got.items():
        p = plan[k]
        assert g.n_files == 1  # one file per bin — the whole point
        assert g.n_rows == p.n_rows
        assert (g.first_day, g.last_day) == (p.first_day, p.last_day)
    assert back.count() == load_table(spark, sf_dir, "events").count()


def test_repeat_load_starts_no_job(spark, sf_dir):
    """The first load of a table infers its schema (a Spark job); a
    repeat load reads with the memoized schema and starts none."""
    load_table(spark, sf_dir, "lineitem")
    sc = spark.sparkContext
    sc.setJobGroup("repeat_load", "second load of one table")
    try:
        load_table(spark, sf_dir, "lineitem")
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("repeat_load") == []


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    """Each load is a fresh relation with its own attribute ids, so a
    self-join on two loads resolves both sides' columns."""
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey).select(a.o_custkey, b.o_custkey)
    assert joined.count() == a.count()


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """A table rewritten with a new schema (new mtime) loads with its
    new columns, not the memoized ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"],
                             "r_comment": ["x", "y"]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    again = load_table(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in again.collect()) == ["x", "y"]


def test_naive_timestamp_loads_as_timestamp_on_repeat(spark, tmp_path):
    """A naive timestamp[us] column (parquet isAdjustedToUTC=false,
    inferred TIMESTAMP_NTZ) loads as timestamp with its epoch micros
    unchanged, on the inferring call and on the memoized one."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [0, 1_500_000_123_456, 1_704_067_207_179_575]
    ts = [datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=m) for m in micros]
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3],
                             "o_orderdate": pa.array(ts, pa.timestamp("us"))}),
                   str(tmp_path / "orders.parquet"))
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "orders")
        assert dict(df.dtypes)["o_orderdate"] == "timestamp"
        got = df.orderBy("o_orderkey").select(F.unix_micros("o_orderdate")).collect()
        assert [r[0] for r in got] == micros


def test_file_uri_load_matches_plain_path(spark, sf_dir):
    """An sf_dir os.stat cannot see (a file:// URI) skips the memo and
    infers on every call; it loads the same rows as the plain path."""
    for name in ("orders", "events"):
        plain = load_table(spark, sf_dir, name)
        uri = load_table(spark, "file://" + os.path.abspath(sf_dir), name)
        assert uri.dtypes == plain.dtypes
        assert sorted(map(tuple, uri.collect())) == sorted(map(tuple, plain.collect()))
