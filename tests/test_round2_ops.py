"""Round-2 additions: decontamination, repetition metrics, facets,
search_after pagination, highlighting, and the Arrow serving reader."""

import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.text import repetition_features
from deces_dataprep_spark.index.arrow_serve import (
    ArrowIndexReader,
    SparkIndexReader,
)
from deces_dataprep_spark.index.highlight import highlight_df
from deces_dataprep_spark.index.query import (
    QueryEngine,
    bm25_search_after_df,
    bm25_topk_df,
    facet_counts_df,
)
from deces_dataprep_spark.operators.decontam import (
    contamination_report,
    drop_contaminated,
)

# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_contamination_report_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            # shingles(n=2): {a b, b c, c d} — 2 of 3 in benchmark
            (1, "a b c d"),
            # {x y, y z} — none in benchmark
            (2, "x y z"),
            # exactly the benchmark text → fully contaminated
            (3, "a b c"),
            # too short for a 2-gram → 0 shingles, contamination 0.0
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("a b c",)], "text string")
    rows = {
        r["doc_id"]: r
        for r in contamination_report(docs, bench, n=2).collect()
    }
    assert rows[1]["n_shingles"] == 3
    assert rows[1]["n_contaminated"] == 2
    assert rows[1]["contamination"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[2]["n_contaminated"] == 0
    assert rows[2]["contamination"] == 0.0
    assert rows[3]["contamination"] == 1.0
    assert rows[4]["n_shingles"] == 0 and rows[4]["contamination"] == 0.0


def test_drop_contaminated(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z"), (3, "a b c")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("a b c",)], "text string")
    kept = sorted(
        r["doc_id"]
        for r in drop_contaminated(docs, bench, max_contamination=0.5,
                                   n=2).collect()
    )
    assert kept == [2]  # doc 1 is 2/3 contaminated, doc 3 fully


# ---------------------------------------------------------------------------
# repetition metrics
# ---------------------------------------------------------------------------


def test_repetition_features_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            # 4 non-empty lines, 'dup' twice: dup_line_frac = 1/4;
            # chars: dup(3)+dup(3)+aa(2)+bbb(3)=11, distinct 8 → 3/11
            (1, "dup\ndup\naa\n\nbbb"),
            # 'x y' bigram twice out of 3: top_bigram_frac = 2/3
            (2, "x y x y"),
            (3, ""),  # degenerate: all zeros
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert rows[1]["n_lines"] == 4
    assert rows[1]["dup_line_frac"] == pytest.approx(0.25)
    assert rows[1]["dup_line_char_frac"] == pytest.approx(3 / 11, abs=1e-6)
    assert rows[2]["top_bigram_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[3]["n_lines"] == 0
    assert rows[3]["dup_line_frac"] == 0.0
    assert rows[3]["top_bigram_frac"] == 0.0


# ---------------------------------------------------------------------------
# facets + search_after
# ---------------------------------------------------------------------------


def test_facet_counts(spark, documents):
    out = facet_counts_df(spark, documents, "table row", "lang", k=5).collect()
    # cross-check against a direct conjunctive filter
    from deces_dataprep_spark.functions.analyze import tokens_col

    toks = tokens_col("text")
    expected = (
        documents.filter(
            F.array_contains(toks, "table") & F.array_contains(toks, "row")
        )
        .groupBy("lang").count()
        .orderBy(F.desc("count"), F.asc("lang")).limit(5).collect()
    )
    assert [(r["lang"], r["n_docs"]) for r in out] == [
        (r["lang"], r["count"]) for r in expected
    ]
    assert len(out) > 0


def test_search_after_page2_equals_offset(spark, documents):
    q = "table row scan"
    top20 = bm25_topk_df(spark, documents, q, 20).collect()
    page1 = bm25_topk_df(spark, documents, q, 10).collect()
    cursor = page1[-1]
    page2 = bm25_search_after_df(
        spark, documents, q, k=10,
        after_score=float(cursor["score"]), after_doc_id=int(cursor["doc_id"]),
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in page2] == [
        (r["doc_id"], r["score"]) for r in top20[10:]
    ]


def test_collapse_one_hit_per_field(spark, documents):
    """collapse: at most one hit per field value, each being that
    value's best-scoring doc."""
    from deces_dataprep_spark.index.query import collapse_topk_df

    out = collapse_topk_df(spark, documents, "table row scan", "lang",
                           k=10).collect()
    langs = [r["lang"] for r in out]
    assert len(langs) == len(set(langs))
    full = {(r["doc_id"], r["score"])
            for r in bm25_topk_df(spark, documents, "table row scan",
                                  10_000).collect()}
    for r in out:
        assert (r["doc_id"], r["score"]) in full


def test_more_like_this(spark):
    """MLT: term selection comes from the source doc (tf·idf ranked,
    df-guarded) and the source doc never ranks itself."""
    from deces_dataprep_spark.index.query import mlt_topk_df

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),   # source: apple is its top term
            (2, "apple apple pear"),
            (3, "banana pear kiwi"),
            (4, "kiwi kiwi pear pear"),
            (5, "apple cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = mlt_topk_df(spark, docs, 1, k=10, max_terms=2, min_df=2,
                      max_df_frac=0.9).collect()
    ids = [r["doc_id"] for r in out]
    assert 1 not in ids                       # source excluded
    assert set(ids) <= {2, 3, 5}              # share apple/banana/cherry
    assert out[0]["score"] >= out[-1]["score"]
    # doc 4 shares no selected term (kiwi/pear are not in doc 1)
    assert 4 not in ids


# ---------------------------------------------------------------------------
# highlighting
# ---------------------------------------------------------------------------


def test_highlight_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            # both terms within a 4-token window starting at 'big' (pos 2)
            (1, "zz yy big cat small dog big"),
            # only 'cat' present; earliest occurrence wins (pos 1)
            (2, "aa cat bb cat"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in highlight_df(spark, docs, "big cat", k=10, window=4).collect()
    }
    assert rows[1]["start"] == 2
    assert rows[1]["n_hits"] == 2
    assert rows[1]["snippet"] == "big cat small dog"
    assert rows[2]["start"] == 1
    assert rows[2]["n_hits"] == 1
    assert rows[2]["snippet"] == "cat bb cat"


def test_highlight_snippets_contain_a_query_term(spark, documents):
    out = highlight_df(spark, documents, "table row scan", k=10,
                       window=8).collect()
    assert len(out) == 10
    for r in out:
        assert any(t in r["snippet"].split() for t in ("table", "row", "scan"))
        assert r["n_hits"] >= 1


def test_ivf_index_persisted_matches_and_prunes(spark, sf_dir, tmp_path):
    """The persisted IVF layout returns exactly ivf_topk's results and
    its plan scans only the probed partitions (PartitionFilters)."""
    from deces_dataprep_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    loc = str(tmp_path / "ivf")
    build_ivf_index(emb, cents, loc)

    live = ivf_topk(emb, cents, qvec, k=10, n_probe=3).collect()
    idx = ivf_topk_from_index(spark, loc, cents, qvec, k=10, n_probe=3)
    assert [(r["vec_id"], r["cosine"]) for r in idx.collect()] == [
        (r["vec_id"], r["cosine"]) for r in live
    ]
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan


# ---------------------------------------------------------------------------
# Arrow serving reader
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def arrow_warehouse(spark, documents, tmp_path_factory):
    from deces_dataprep_spark.snapshots import write_index

    wh = str(tmp_path_factory.mktemp("arrow_wh"))
    write_index(spark, documents.limit(300), wh, n_shards=4)
    return wh


def test_arrow_engine_rank_identical_to_spark_engine(spark, arrow_warehouse):
    from deces_dataprep_spark.snapshots import load_index

    tables = load_index(spark, arrow_warehouse)
    assert tables.files and "postings" in tables.files
    eng_arrow = QueryEngine(tables, io="arrow", spark=spark)
    eng_spark = QueryEngine(load_index(spark, arrow_warehouse), io="spark",
                            spark=spark)
    assert isinstance(eng_arrow.reader, ArrowIndexReader)
    assert isinstance(eng_spark.reader, SparkIndexReader)
    assert eng_arrow.n_docs == eng_spark.n_docs
    assert eng_arrow.avgdl == pytest.approx(eng_spark.avgdl)
    for q in ("table row scan", "stream batch", "nosuchterm", "a the value"):
        a = eng_arrow.search(q, k=10)
        s = eng_spark.search(q, k=10)
        assert [(d, round(sc, 9)) for d, sc in a] == [
            (d, round(sc, 9)) for d, sc in s
        ], q


def test_optimize_postings_rank_identical_and_time_travel(spark, arrow_warehouse):
    """force_merge analogue: the optimized snapshot serves rank-identical
    results on BOTH engines, and the pre-optimize snapshot remains
    loadable (old files untouched)."""
    from deces_dataprep_spark.snapshots import load_index, optimize_postings

    before = load_index(spark, arrow_warehouse)
    snap = optimize_postings(spark, arrow_warehouse, files_per_shard=2)
    after = load_index(spark, arrow_warehouse)
    assert after.files["postings"] != before.files["postings"]
    e_new = QueryEngine(after, io="arrow", spark=spark)
    e_old = QueryEngine(before, io="spark", spark=spark)
    for q in ("table row scan", "stream batch", "a the value"):
        assert e_new.search(q, 10) == e_old.search(q, 10), q
    # time travel to the pre-optimize snapshot still works
    prev = load_index(spark, arrow_warehouse,
                      snapshot_id=snap["parent_id"])
    assert prev.postings.count() > 0


def test_fuzzy_from_index_matches_scan(spark, documents, arrow_warehouse):
    """Index-backed fuzzy (dictionary expansion -> postings) returns the
    same doc set as the full-scan fuzzy_match over the same corpus."""
    from deces_dataprep_spark.index.query import fuzzy_match_from_index
    from deces_dataprep_spark.operators.es_fields import fuzzy_match
    from deces_dataprep_spark.snapshots import load_index

    tables = load_index(spark, arrow_warehouse)
    # exactly the indexed subset (limit(300) is not deterministic)
    corpus = documents.join(tables.norms.select("doc_id"), "doc_id",
                            "left_semi")
    for q, edits in (("tabel", 1), ("scam", 1), ("qqqqqq", 1)):
        scan = sorted(r["doc_id"] for r in
                      fuzzy_match(corpus, "text", q, edits).select(
                          "doc_id").collect())
        idx = sorted(r["doc_id"] for r in
                     fuzzy_match_from_index(spark, tables, q, edits).collect())
        assert idx == scan, q


def test_broadcast_route_rank_identical(spark, arrow_warehouse):
    """The zero-shuffle broadcast plan must be rank-identical to the
    driver route and the distributed plan across query shapes."""
    eng = QueryEngine(load_index_(spark, arrow_warehouse), spark=spark)
    for q in ("table row scan", "stream batch", "a the value", "nosuchterm"):
        base = [(d, round(s, 6)) for d, s in eng.search(q, k=10)]
        bcast = [(d, round(s, 6)) for d, s in eng.search(q, k=10,
                                                         method="broadcast")]
        dist = [(d, round(s, 6)) for d, s in eng.search(q, k=10,
                                                        method="distributed")]
        assert bcast == base == dist, q


def load_index_(spark, wh):
    from deces_dataprep_spark.snapshots import load_index

    return load_index(spark, wh)


def test_export_restore_roundtrip(spark, arrow_warehouse, tmp_path):
    """ES backup-push/restore parity (Makefile:206-264): export a
    snapshot to a repository dir, restore into a FRESH warehouse, and
    prove table-content equality + identical query results."""
    from deces_dataprep_spark.snapshots import (
        export_snapshot,
        load_index,
        restore_snapshot,
    )

    repo = str(tmp_path / "repo")
    wh2 = str(tmp_path / "wh2")
    out = export_snapshot(arrow_warehouse, repo)
    assert out.startswith(repo) and "esdata_" in out
    snap = restore_snapshot(out, wh2)
    assert snap["snapshot_id"] == 1

    orig = load_index(spark, arrow_warehouse)
    rest = load_index(spark, wh2)
    for name in ("postings", "dictionary", "norms", "stats"):
        a, b = getattr(orig, name), getattr(rest, name)
        assert a.count() == b.count(), name
        assert a.exceptAll(b).count() == 0, name
    ea = QueryEngine(orig, spark=spark)
    eb = QueryEngine(rest, spark=spark)
    assert ea.search("table row scan", 10) == eb.search("table row scan", 10)


def test_phrase_through_serving_tier(spark, documents, tmp_path):
    """QueryEngine.phrase (arrow AND spark routes) matches the native
    scan-path phrase_match; optimize_postings re-sorts the positional
    table without changing results."""
    from deces_dataprep_spark.index.positions import phrase_match
    from deces_dataprep_spark.snapshots import (
        load_index,
        optimize_postings,
        write_index,
    )

    docs = documents.filter(F.col("doc_id") < 300)  # deterministic subset
    wh = str(tmp_path / "wh_pos")
    write_index(spark, docs, wh, n_shards=4, with_positions=True)
    expected = sorted(r["doc_id"]
                      for r in phrase_match(docs, "merge sort").collect())
    assert expected  # fixture must actually contain the phrase
    e_arrow = QueryEngine(load_index(spark, wh), io="arrow", spark=spark)
    e_spark = QueryEngine(load_index(spark, wh), io="spark", spark=spark)
    assert e_arrow.phrase("merge sort") == expected
    assert e_spark.phrase("merge sort") == expected
    assert e_arrow.phrase("nosuchword here") == []
    optimize_postings(spark, wh, files_per_shard=2)
    e_opt = QueryEngine(load_index(spark, wh), io="arrow", spark=spark)
    assert e_opt.phrase("merge sort") == expected


def test_phrase_routes_identical_and_threshold_routed(spark, documents,
                                                      tmp_path):
    """Regression (r2 scale finding): QueryEngine.phrase must route to
    the distributed positional plan for high-df phrases instead of
    collecting corpus-sized position rows driver-side, and both routes
    must return identical doc_id sets."""
    from deces_dataprep_spark.snapshots import load_index, write_index

    docs = documents.filter(F.col("doc_id") < 300)
    wh = str(tmp_path / "wh_pos_route")
    write_index(spark, docs, wh, n_shards=4, with_positions=True)
    eng = QueryEngine(load_index(spark, wh), io="arrow", spark=spark)
    for ph in ("merge sort", "the", "data the"):
        driver = eng.phrase(ph, method="driver")
        dist = eng.phrase(ph, method="distributed")
        assert driver == dist, ph
    # a stopword-df phrase must auto-route distributed once the summed
    # df crosses the threshold
    eng.PHRASE_DF_THRESHOLD = 1
    calls = {}
    orig = eng.reader.term_positions

    def spy(ts):
        calls["driver_fetch"] = True
        return orig(ts)

    eng.reader.term_positions = spy
    got = eng.phrase("the data")
    assert got == eng.phrase("the data", method="distributed")
    assert "driver_fetch" not in calls, \
        "high-df phrase still collected positions driver-side"


def test_arrow_engine_search_after(spark, arrow_warehouse):
    from deces_dataprep_spark.snapshots import load_index

    eng = QueryEngine(load_index(spark, arrow_warehouse), io="arrow",
                      spark=spark)
    q = "table row scan"
    full = eng.search(q, k=20)
    page1 = eng.search(q, k=10)
    page2 = eng.search_after(q, k=10, after=(page1[-1][1], page1[-1][0]))
    assert page2 == full[10:20]
    # distributed route agrees
    page2d = eng.search_after(q, k=10, after=(page1[-1][1], page1[-1][0]),
                              method="distributed")
    assert [(d, round(s, 6)) for d, s in page2] == [
        (d, round(s, 6)) for d, s in page2d
    ]


def test_contamination_probe_equals_join_path(spark, documents):
    """The row-local broadcast probe (default) and the explode →
    broadcast-join → groupBy shape must agree row-for-row — same
    distinct-shingle semantics, two plans."""
    bench = documents.filter(F.col("doc_id") % 7 == 0).select("text")
    a = {r["doc_id"]: (r["n_shingles"], r["n_contaminated"],
                       r["contamination"])
         for r in contamination_report(documents, bench).collect()}
    b = {r["doc_id"]: (r["n_shingles"], r["n_contaminated"],
                       r["contamination"])
         for r in contamination_report(documents, bench,
                                       method="join").collect()}
    assert a == b


def test_contamination_fast_equals_probe_path(spark, documents):
    """The numeric hash path (JVM xxhash64 + rolling shingle hashes +
    searchsorted) must agree with the exact-string probe on a real
    corpus — equal counts modulo 64-bit collisions, which at test scale
    (~50k shingles vs 2^64) have probability ~1e-10."""
    bench = documents.filter(F.col("doc_id") % 7 == 0).select("text")
    a = {r["doc_id"]: (r["n_shingles"], r["n_contaminated"],
                       r["contamination"])
         for r in contamination_report(documents, bench).collect()}
    c = {r["doc_id"]: (r["n_shingles"], r["n_contaminated"],
                       r["contamination"])
         for r in contamination_report(documents, bench,
                                       method="fast").collect()}
    assert a == c
