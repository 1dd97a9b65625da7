"""Structured-Streaming: incremental index deltas (availableNow),
TAAT-exact queries pre-compaction, compaction → rank-identical to a
from-scratch batch build; watermarked windowed aggregation."""

import os

import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index.query import QueryEngine, bm25_topk_df
from deces_dataprep_spark.sources.corpus import pages_from_documents
from deces_dataprep_spark.streaming.incremental import (
    compact_deltas,
    incremental_index,
    load_delta_index,
    stream_pages,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """Pages landed as multiple files (arrival units for the stream)."""
    d = tmp_path_factory.mktemp("pages_in")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = pages_from_documents(docs)
    pages.repartition(4).write.mode("overwrite").parquet(str(d / "files"))
    return str(d / "files")


@pytest.fixture(scope="module")
def streamed_wh(spark, pages_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("stream_wh"))
    pages = stream_pages(spark, pages_dir, max_files_per_trigger=1)
    q = incremental_index(spark, pages, wh, n_shards=2, available_now=True)
    q.awaitTermination(300)
    return wh


def test_stream_ingests_multiple_batches(spark, streamed_wh):
    deltas = spark.read.option("basePath", os.path.join(streamed_wh, "postings_delta")) \
        .parquet(os.path.join(streamed_wh, "postings_delta"))
    n_batches = deltas.select("ingest_batch").distinct().count()
    assert n_batches >= 2  # maxFilesPerTrigger=1 over 4 files
    norms = spark.read.option("basePath", os.path.join(streamed_wh, "norms_delta")) \
        .parquet(os.path.join(streamed_wh, "norms_delta"))
    assert norms.count() == 500


def test_streamed_norms_dl_matches_tokenizer(spark, streamed_wh, pages_dir):
    """The norms side computes doc_len with regexp_count (array-free,
    no shared persisted projection) — it must equal size(tokens) for
    every streamed doc, including empty/whitespace-only texts."""
    from deces_dataprep_spark.index.builder import docs_with_tokens

    norms = spark.read.option(
        "basePath", os.path.join(streamed_wh, "norms_delta")) \
        .parquet(os.path.join(streamed_wh, "norms_delta")) \
        .select("doc_id", "doc_len")
    expect = docs_with_tokens(spark.read.parquet(pages_dir)) \
        .select("doc_id", F.col("dl").alias("doc_len"))
    assert norms.exceptAll(expect).count() == 0
    assert expect.exceptAll(norms).count() == 0


def test_regexp_count_dl_parity_edge_cases(spark):
    """null / empty / whitespace / non-ASCII parity of the two dl
    expressions the streaming path relies on being identical. U+0130 İ
    lowers to i + a combining dot, which splits "İstanbul" into two
    tokens: a count over the raw text would say 2 tokens, not 3."""
    from deces_dataprep_spark.functions.analyze import (
        token_count_col,
        tokens_col,
    )

    df = spark.createDataFrame(
        [(1, "a b  c"), (2, ""), (3, None), (4, "   "), (5, "x"),
         (6, "w00123-w4!"), (7, "a" * 500), (8, "İstanbul kebap")],
        "doc_id long, text string")
    rows = df.select(
        "doc_id",
        F.size(tokens_col("text")).cast("long").alias("a"),
        token_count_col("text").cast("long").alias("b"),
    ).collect()
    for r in rows:
        assert r["a"] == r["b"], r
    assert [r["b"] for r in rows if r["doc_id"] == 8] == [3]


def test_delta_index_taat_matches_oracle(spark, streamed_wh, pages_dir):
    pages = spark.read.parquet(pages_dir)
    eng = QueryEngine(load_delta_index(spark, streamed_wh))
    got = eng.search("spark merge sort table", k=10, method="taat")
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_df(spark, pages, "spark merge sort table", 10,
                              round_digits=None).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=1e-9)


def test_compaction_rank_identical_to_batch_build(spark, streamed_wh, pages_dir):
    from deces_dataprep_spark.index.builder import build_index

    pages = spark.read.parquet(pages_dir)
    compacted = compact_deltas(spark, streamed_wh, n_shards=2)
    eng_c = QueryEngine(compacted)

    batch = build_index(spark, pages, n_shards=2)
    batch.postings = batch.postings.cache()
    eng_b = QueryEngine(batch)

    for q in ["spark merge sort table", "the", "key value hash"]:
        got = eng_c.search(q, k=10)  # WAND bounds valid post-compaction
        want = eng_b.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, s1), (_, s2) in zip(got, want):
            assert s1 == pytest.approx(s2, abs=1e-9)


def test_compaction_reingest_replace_semantics(spark, tmp_path):
    """A doc re-ingested in a later micro-batch REPLACES its earlier
    version: compaction must match a from-scratch build over the final
    corpus (not sum/multiply the old and new postings — the round-1 bug)."""
    from deces_dataprep_spark.index.builder import build_index
    from deces_dataprep_spark.streaming.incremental import _append_batch

    wh = str(tmp_path / "wh")
    batch0 = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma gamma") for i in range(8)],
        "doc_id long, text string",
    )
    # doc 3 re-ingested with entirely different text (and different dl)
    batch1 = spark.createDataFrame(
        [(3, "delta epsilon zeta")], "doc_id long, text string"
    )
    _append_batch(spark, batch0, 0, wh, n_shards=2)
    _append_batch(spark, batch1, 1, wh, n_shards=2)
    compacted = compact_deltas(spark, wh, n_shards=2)

    final = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma gamma") for i in range(8) if i != 3]
        + [(3, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    batch = build_index(spark, final, n_shards=2)

    # identical global stats, dictionary, and scores
    s_c = compacted.stats.collect()[0]
    s_b = batch.stats.collect()[0]
    assert int(s_c["n_docs"]) == int(s_b["n_docs"]) == 8
    assert float(s_c["avgdl"]) == pytest.approx(float(s_b["avgdl"]))
    d_c = {r["term"]: (r["df"], r["cf"]) for r in compacted.dictionary.collect()}
    d_b = {r["term"]: (r["df"], r["cf"]) for r in batch.dictionary.collect()}
    assert d_c == d_b
    assert d_c["gamma"] == (7, 14)  # doc 3's old gammas replaced, not summed
    eng_c, eng_b = QueryEngine(compacted), QueryEngine(batch)
    for q in ["gamma alpha", "delta epsilon", "doc3"]:
        assert eng_c.search(q, k=10) == eng_b.search(q, k=10), q


def test_compaction_blocks_spanning_arrow_batches(spark, tmp_path):
    """Regression (round-1 ADVICE): posting blocks of one (batch, shard,
    term) that land in different Arrow batches must decode with their
    own first_doc (abs decode) — forcing 1-row Arrow batches makes any
    prev_last chaining shift every continuation block's doc_ids."""
    from deces_dataprep_spark.index.builder import build_index
    from deces_dataprep_spark.streaming.incremental import _append_batch

    wh = str(tmp_path / "wh")
    # 300 docs sharing one term -> >128 postings per shard -> 2+ blocks
    docs = spark.createDataFrame(
        [(i, f"common uniq{i}") for i in range(300)], "doc_id long, text string"
    )
    _append_batch(spark, docs, 0, wh, n_shards=2)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        compacted = compact_deltas(spark, wh, n_shards=2)
        batch = build_index(spark, docs, n_shards=2)
        eng_c, eng_b = QueryEngine(compacted), QueryEngine(batch)
        got = eng_c.search("common uniq42", k=10)
        want = eng_b.search("common uniq42", k=10)
        assert got == want
        assert got[0][0] == 42
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_windowed_event_counts_streaming(spark, tmp_path):
    """Run the watermarked windowed agg as a real stream (availableNow
    over a file source) and compare to the equivalent batch agg."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev_in")
    events.repartition(2).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory").queryName("win_counts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from win_counts")

    want = (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    # append mode only emits windows closed by the watermark — the last
    # open window(s) may be withheld; everything emitted must match.
    got_map = {(r["window_start"], r["event_type"]): r["n_events"]
               for r in got.collect()}
    want_map = {(r["window_start"], r["event_type"]): r["n_events"]
                for r in want.collect()}
    assert got_map
    for k, v in got_map.items():
        assert want_map[k] == v


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: run the event stream in 3
    arrival chunks (sessions may straddle chunk boundaries — the state
    carries them); every CLOSED session must equal the batch plan's
    (batch sessions minus each user's still-open last session)."""
    from pyspark.sql import Window as W

    from deces_dataprep_spark.streaming.sessions import (
        sessionize,
        sessionize_stream,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "sess_in")
    # land files in event-time order so arrival order == time order
    chunked = events.withColumn(
        "chunk", F.ntile(3).over(W.orderBy("ts", "event_id"))
    )
    for c in (1, 2, 3):
        (chunked.filter(F.col("chunk") == c).drop("chunk")
         .coalesce(1).write.mode("append").parquet(src))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = sessionize_stream(stream, gap_minutes=30)
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"]):
            (r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.sql("select * from sess").collect()
    }

    batch = sessionize(events, gap_minutes=30)
    w = W.partitionBy("user_id")
    closed = batch.withColumn(
        "mx", F.max("session_no").over(w)
    ).filter(F.col("session_no") < F.col("mx"))
    want = {
        (r["user_id"], r["session_start"]):
            (r["session_end"], r["n_events"], r["sum_value"])
        for r in closed.collect()
    }
    assert set(got) == set(want)
    assert len(got) > 0
    for k, (end, n, sv) in want.items():
        g_end, g_n, g_sv = got[k]
        assert (g_end, g_n) == (end, n), k
        assert g_sv == pytest.approx(sv, abs=1e-3), k


def test_compaction_auto_salts_hot_terms(spark, tmp_path, monkeypatch):
    """The streaming→compaction path must keep the batch builder's skew
    contract: a stopword-grade term's compacted postings split across
    salted doc-id ranges (offset block_ids, strictly increasing doc
    ranges) and queries stay rank-identical to an unsalted compaction."""
    from deces_dataprep_spark.index import builder
    from deces_dataprep_spark.sources.corpus import pages_from_documents

    monkeypatch.setattr(builder, "AUTO_SALT_MIN_DOCS", 1)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = pages_from_documents(docs)
    src = str(tmp_path / "in")
    pages.repartition(3).write.mode("overwrite").parquet(src)

    wh_a = str(tmp_path / "wh_a")
    wh_b = str(tmp_path / "wh_b")
    for wh in (wh_a, wh_b):
        q = incremental_index(
            spark, stream_pages(spark, src, max_files_per_trigger=1), wh,
            n_shards=2, available_now=True)
        q.awaitTermination(300)
    t_salted = compact_deltas(spark, wh_a, n_shards=2)
    t_plain = compact_deltas(spark, wh_b, n_shards=2, auto_salt=False)
    t_salted.postings = t_salted.postings.cache()

    hot = "the"
    n_s = t_salted.postings.filter(F.col("term") == hot).count()
    n_p = t_plain.postings.filter(F.col("term") == hot).count()
    assert n_s > n_p, "hot term must split under auto-salt"
    rows = (t_salted.postings.filter(F.col("term") == hot)
            .orderBy("shard", "block_id").collect())
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for rs in by_shard.values():
        for a, b in zip(rs, rs[1:]):
            assert a["block_id"] < b["block_id"]
            assert a["last_doc"] < b["first_doc"]
    e_s, e_p = QueryEngine(t_salted, spark=spark), \
        QueryEngine(t_plain, spark=spark)
    for q_ in ("the", "merge sort table"):
        assert e_s.search(q_, k=10) == pytest.approx(e_p.search(q_, k=10))


def test_wand_refused_on_uncompacted_delta_index(spark, streamed_wh):
    """Delta block_max bounds are batch-local → WAND skipping is unsound
    until compaction. The engine must refuse explicit WAND and keep
    'auto' on exact paths (load_delta_index sets trusted_bounds=False)."""
    tables = load_delta_index(spark, streamed_wh)
    assert tables.trusted_bounds is False
    eng = QueryEngine(tables)
    with pytest.raises(ValueError, match="compact_deltas"):
        eng.search("spark merge sort table", k=10, method="wand")
    # 'auto' silently takes the exact TAAT route instead of raising
    assert eng.search("spark merge sort table", k=10, method="auto")


def test_duplicate_doc_id_in_one_batch_keeps_one_version(spark, tmp_path):
    """A doc_id twice in ONE micro-batch is one doc: the batch keeps the
    latest warc_ts (ties: greater url, then greater text) on both the
    norms and the delta side, so compaction writes one norms row, stats
    over the docs, and the kept version's tfs — not both versions' tfs
    summed and then doubled by a two-row norms join."""
    import datetime as dt

    from deces_dataprep_spark.index.codec import explode_blocks
    from deces_dataprep_spark.streaming.incremental import (
        PAGES_SCHEMA,
        _append_batch,
    )

    wh = str(tmp_path / "wh")
    batch = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple apple cherry"),
         (2, "apple kiwi kiwi kiwi mango"), (3, "kiwi")],
        "doc_id long, text string")
    _append_batch(spark, batch, 0, wh, n_shards=2)
    t = compact_deltas(spark, wh, n_shards=2)

    assert sorted((r["doc_id"], r["doc_len"]) for r in t.norms.collect()) \
        == [(1, 2), (2, 5), (3, 1)]
    stats = t.stats.collect()[0]
    assert (stats["n_docs"], stats["avgdl"]) == (3, 8 / 3)
    assert {r["term"]: (r["df"], r["cf"]) for r in t.dictionary.collect()} \
        == {"apple": (2, 2), "banana": (1, 1), "kiwi": (2, 4),
            "mango": (1, 1)}
    tfs = {(r["term"], r["doc_id"]): r["tf"]
           for r in explode_blocks(t.postings, "shard", "term").join(
               t.norms, ["shard", "docnum"]).collect()}
    assert tfs[("kiwi", 2)] == 3 and tfs[("kiwi", 3)] == 1
    assert tfs[("apple", 2)] == 1

    # the later crawl wins even where its text sorts first
    day = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    wh2 = str(tmp_path / "wh2")
    pages = spark.createDataFrame(
        [("u5", day + dt.timedelta(days=1), None, "aardvark", "en", 5),
         ("u5", day, None, "zebra yak", "en", 5)], PAGES_SCHEMA)
    _append_batch(spark, pages, 0, wh2, n_shards=2)
    t2 = compact_deltas(spark, wh2, n_shards=2)
    assert [(r["doc_id"], r["doc_len"]) for r in t2.norms.collect()] \
        == [(5, 1)]
    assert sorted(r["term"] for r in t2.dictionary.collect()) \
        == ["aardvark"]


def _feed(spark, base: str, rows, s: int) -> str:
    """Land slice ``s`` as one file and run the stream over it; returns
    the warehouse."""
    from stream_fixtures import write_slice

    write_slice(rows, os.path.join(base, "in", f"slice-{s}.parquet"))
    wh = os.path.join(base, "wh")
    incremental_index(spark, stream_pages(spark, os.path.join(base, "in")),
                      wh, n_shards=2,
                      checkpoint=os.path.join(base, "ckpt"),
                      available_now=True).awaitTermination(300)
    return wh


@pytest.fixture(scope="module")
def recrawl_stream(spark, tmp_path_factory):
    """Three streamed slices of web-sized pages; slices 2 and 3
    re-crawl earlier doc_ids. Returns (warehouse, latest page rows)."""
    from stream_fixtures import latest_versions, recrawl_slices

    base = str(tmp_path_factory.mktemp("recrawl"))
    slices = recrawl_slices()
    for s, rows in enumerate(slices):
        wh = _feed(spark, base, rows, s)
    return wh, latest_versions(slices)


def test_compaction_equals_write_index_over_latest_versions(
        spark, recrawl_stream, tmp_path):
    """After a re-crawl stream, compaction writes exactly what a batch
    build over each doc's latest version writes: the same block rows
    (decoded ids and tfs, block bounds), dictionary, norms and stats."""
    from stream_fixtures import pages_df

    from deces_dataprep_spark.snapshots import load_index, write_index

    wh, latest = recrawl_stream
    compacted = compact_deltas(spark, wh, n_shards=2)
    write_index(spark, pages_df(spark, latest), str(tmp_path / "batch"),
                n_shards=2, resume=False)
    built = load_index(spark, str(tmp_path / "batch"))

    cols = {
        "postings": ["shard", "term", "block_id", "n_docs", "first_doc",
                     "last_doc", "doc_gaps", "tfs", "block_max_tfnorm",
                     "sum_tf"],
        "dictionary": ["term", "df", "cf"],
        "norms": ["shard", "doc_id", "doc_len"],
        "stats": ["n_docs", "avgdl"],
    }
    for name, cs in cols.items():
        got = sorted(tuple(r) for r in
                     getattr(compacted, name).select(*cs).collect())
        want = sorted(tuple(r) for r in
                      getattr(built, name).select(*cs).collect())
        assert got == want, name
    assert compacted.stats.collect()[0]["n_docs"] == len(latest)


def test_recrawl_compaction_job_count(spark, recrawl_stream):
    """One stats action, one latest table evaluated once (persisted) and
    joined once, no schema-inference reads: a re-crawl compaction
    launches at most 11 Spark jobs (the pool's writes count too: they
    keep the job group)."""
    wh, _ = recrawl_stream
    sc = spark.sparkContext
    sc.setJobGroup("compaction-jobs", "re-crawl compaction")
    try:
        compact_deltas(spark, wh, n_shards=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("compaction-jobs")
    assert 0 < len(jobs) <= 11, len(jobs)


def test_warm_refresh_compiles_no_new_code(spark, tmp_path):
    """Spark's generated-class cache holds a whole refresh (slice
    write, re-crawl compaction, one Spark-route query): the second
    identical refresh, into a second warehouse, compiles at most 2
    classes. With Spark's default 100-entry cache it recompiles the
    classes the first refresh's later stages evicted."""
    from stream_fixtures import recrawl_slices

    slices = recrawl_slices()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def refresh(base: str, s: int):
        tables = compact_deltas(spark, _feed(spark, base, slices[s], s),
                                n_shards=2)
        QueryEngine(tables, io="spark").search("w1 w7 w42", k=10)

    bases = [str(tmp_path / name) for name in ("a", "b")]
    for base in bases:
        refresh(base, 0)
    compiled = []
    for base in bases:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        refresh(base, 1)
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[1] <= 2, compiled


def test_binary_delta_layout_requires_rebuild(spark, tmp_path):
    """Deltas are read with their known schema, so the varint layout is
    caught first from one delta footer, by compaction and the delta
    index alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deces_dataprep_spark.index.codec import RebuildRequired

    wh = tmp_path / "old"
    for name, cols in {
        "postings_delta": {"shard": [0], "term": ["a"], "block_id": [0],
                           "n_docs": [1], "first_doc": [8], "last_doc": [8],
                           "doc_gaps": pa.array([b"\x08"], pa.binary()),
                           "tfs": pa.array([b"\x01"], pa.binary()),
                           "block_max_tfnorm": [0.5], "sum_tf": [1]},
        "norms_delta": {"shard": [0], "doc_id": [8], "doc_len": [1]},
    }.items():
        part = wh / name / "ingest_batch=0"
        part.mkdir(parents=True)
        pq.write_table(pa.table(cols), str(part / "part-0.parquet"))
    with pytest.raises(RebuildRequired, match="rebuild"):
        compact_deltas(spark, str(wh), n_shards=2)
    with pytest.raises(RebuildRequired, match="rebuild"):
        load_delta_index(spark, str(wh))
