"""Doc numbers: built and compacted indexes key their posting blocks by
each doc's dense per-shard rank (``docnum``), and every read maps
``(shard, docnum)`` back to doc_id through the norms. These tests pin
the numbering, the mapping against doc_id-keyed references, route
identity on the awkward corpora (ties at k, salted, re-crawled), the
rebuild refusal for doc_id-keyed warehouses, and that the build's
thread pools keep the caller's job group."""

import os

import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index.builder import term_frequencies
from deces_dataprep_spark.index.codec import RebuildRequired, explode_blocks
from deces_dataprep_spark.index.query import QueryEngine, bm25_topk_df
from deces_dataprep_spark.snapshots import SnapshotLog, load_index, write_index


def _mapped_postings(tables):
    """(shard, term, doc_id, tf): every posting decoded and mapped
    through the norms, the way the Spark routes read them."""
    return explode_blocks(tables.postings, "shard", "term").join(
        tables.norms.select("shard", "docnum", "doc_id"),
        ["shard", "docnum"]).select("shard", "term", "doc_id", "tf")


def _assert_same_rows(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _assert_dense_ranks(norms):
    """Each shard numbers its docs 0..n-1 in doc_id order."""
    by_shard = {}
    for r in norms.select("shard", "doc_id", "docnum").collect():
        by_shard.setdefault(r["shard"], []).append((r["doc_id"], r["docnum"]))
    assert by_shard
    for rows in by_shard.values():
        rows.sort()
        assert [n for _, n in rows] == list(range(len(rows)))


def _assert_routes_match(spark, tables, docs, queries, k=10):
    """Every search route over ``tables`` (arrow and Spark readers when
    the tables carry files) equals the raw-docs oracle: same doc_ids in
    the same order, scores to 1e-6."""
    engines = [QueryEngine(tables, io="spark")]
    if tables.files:
        engines.append(QueryEngine(tables, io="arrow"))
    for q in queries:
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk_df(spark, docs, q, k=k, round_digits=None).collect()]
        assert want, q
        for eng in engines:
            for method in ("wand", "taat", "broadcast", "distributed"):
                got = eng.search(q, k=k, method=method)
                assert [d for d, _ in got] == [d for d, _ in want], (q, method)
                for (_, s1), (_, s2) in zip(got, want):
                    assert s1 == pytest.approx(s2, abs=1e-6), (q, method)


def test_write_index_postings_map_to_doc_id_reference(spark, documents,
                                                      tmp_path):
    """Decoded postings mapped through the written norms equal the
    doc_id-keyed (shard, term, doc_id, tf) reference, and the stored
    keys are small: the docnums of a 3-shard build."""
    wh = str(tmp_path / "wh")
    write_index(spark, documents, wh, n_shards=3, resume=False)
    t = load_index(spark, wh)
    _assert_dense_ranks(t.norms)
    _assert_same_rows(
        _mapped_postings(t),
        term_frequencies(documents, 3).select("shard", "term", "doc_id",
                                              "tf"))
    n_docs = t.norms.count()
    assert t.postings.agg(F.max("last_doc")).collect()[0][0] < n_docs


def test_compaction_postings_map_to_doc_id_reference(spark, tmp_path):
    """After a re-crawl stream, the compacted postings mapped through
    the compacted norms equal the reference over each doc's latest
    version; every route serves them rank-identically."""
    from stream_fixtures import latest_versions, pages_df, recrawl_slices

    from deces_dataprep_spark.streaming.incremental import (
        _append_batch,
        compact_deltas,
        load_delta_index,
    )

    wh = str(tmp_path / "wh")
    slices = recrawl_slices()
    for s, rows in enumerate(slices):
        _append_batch(spark, pages_df(spark, rows), s, wh, n_shards=2)
    latest = pages_df(spark, latest_versions(slices)).select("doc_id", "text")
    delta = load_delta_index(spark, wh)
    assert delta.norms.filter(F.col("docnum") != F.col("doc_id")).count() == 0

    compacted = compact_deltas(spark, wh, n_shards=2)
    _assert_dense_ranks(compacted.norms)
    _assert_same_rows(
        _mapped_postings(compacted),
        term_frequencies(latest, 2).select("shard", "term", "doc_id", "tf"))
    _assert_routes_match(spark, compacted, latest, ["w1 w7 w42", "w0 w3"])


def test_routes_rank_identical_with_ties_at_k(spark, tmp_path):
    """Twelve identical pages tie at the k-th score: every route keeps
    the k lowest doc_ids, as the oracle does."""
    rows = [(1000 + 7 * i, "alpha beta gamma") for i in range(12)]
    rows += [(5 + 11 * i, f"alpha delta w{i % 5} w{i % 3}")
             for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wh = str(tmp_path / "ties")
    write_index(spark, docs, wh, n_shards=3, resume=False)
    _assert_routes_match(spark, load_index(spark, wh), docs,
                         ["alpha beta", "gamma delta", "alpha"])


def test_salted_build_routes_rank_identical(spark, documents, tmp_path):
    """A salted build splits hot terms over docnum ranges: its block ids
    keep doc order per (shard, term), and every route matches."""
    wh = str(tmp_path / "salted")
    write_index(spark, documents, wh, n_shards=2, resume=False,
                salt_ranges=4, salt_df_threshold=50)
    t = load_index(spark, wh)
    _assert_same_rows(
        _mapped_postings(t),
        term_frequencies(documents, 2).select("shard", "term", "doc_id",
                                              "tf"))
    rows = (t.postings.filter(F.col("term") == "the")
            .orderBy("shard", "block_id").collect())
    assert len({r["block_id"] for r in rows if r["shard"] == 0}) > 1
    for a, b in zip(rows, rows[1:]):
        if a["shard"] == b["shard"]:
            assert a["last_doc"] < b["first_doc"]
    _assert_routes_match(spark, t, documents, ["the", "spark join window"])


def test_doc_id_keyed_warehouse_requires_rebuild(spark, tmp_path):
    """An index whose norms have no docnum column (its blocks are keyed
    by doc_id) is refused with a rebuild message by both readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deces_dataprep_spark.index.arrow_serve import ArrowIndexReader

    wh = str(tmp_path / "old")
    tables = {}
    for name, cols in {
        "postings": {"term": ["a"], "block_id": [0], "n_docs": [1],
                     "first_doc": [7], "last_doc": [7],
                     "doc_gaps": pa.array([[0]], pa.list_(pa.int64())),
                     "tfs": pa.array([[1]], pa.list_(pa.int32())),
                     "block_max_tfnorm": [0.5], "sum_tf": [1]},
        "dictionary": {"term": ["a"], "df": [1], "cf": [1]},
        "norms": {"shard": [0], "doc_id": [7], "doc_len": [1]},
        "stats": {"n_docs": [1], "avgdl": [1.0]},
    }.items():
        loc = os.path.join(wh, name, "shard=0" if name == "postings" else "")
        os.makedirs(loc, exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(loc, "part-0.parquet"))
        tables[name] = os.path.join(wh, name)
    SnapshotLog(wh).commit(tables, "0ld0ld00", "adhoc", "old")
    with pytest.raises(RebuildRequired, match="docnum"):
        load_index(spark, wh)
    files = {k: v["files"]
             for k, v in SnapshotLog(wh).latest()["tables"].items()}
    with pytest.raises(RebuildRequired, match="docnum"):
        ArrowIndexReader(files)


def test_check_shard_docs_refuses_shards_past_int_docnums():
    """A shard numbers at most 2^31 - 1 docs (docnum is an int from
    row_number); one more is refused with the remedy, not wrapped."""
    from deces_dataprep_spark.index.builder import (
        MAX_SHARD_DOCS,
        check_shard_docs,
    )

    assert MAX_SHARD_DOCS == 2**31 - 1
    check_shard_docs(MAX_SHARD_DOCS, 4)
    with pytest.raises(ValueError, match="raise n_shards"):
        check_shard_docs(MAX_SHARD_DOCS + 1, 4)


def test_oversized_shard_refused_before_postings(spark, documents, tmp_path,
                                                 monkeypatch):
    """write_index, build_index and compact_deltas check the largest
    shard's doc count before any posting is written (the limit is
    lowered so a small corpus trips it)."""
    from stream_fixtures import pages_df, recrawl_slices

    from deces_dataprep_spark.index import builder
    from deces_dataprep_spark.streaming.incremental import (
        _append_batch,
        compact_deltas,
    )

    st = str(tmp_path / "st")
    _append_batch(spark, pages_df(spark, recrawl_slices()[0]), 0, st, 2)
    monkeypatch.setattr(builder, "MAX_SHARD_DOCS", 3)
    wh = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="raise n_shards"):
        write_index(spark, documents, wh, n_shards=2, resume=False)
    assert not any(fs for _, _, fs in os.walk(os.path.join(wh, "postings")))
    assert SnapshotLog(wh).latest() is None
    with pytest.raises(ValueError, match="raise n_shards"):
        builder.build_index(spark, documents, n_shards=2)
    with pytest.raises(ValueError, match="raise n_shards"):
        compact_deltas(spark, st, n_shards=2)
    assert not os.path.exists(os.path.join(st, "postings"))


def _jobs_between(spark, run) -> tuple[set, set]:
    """(ids of every job ``run`` launched, ids of those in its caller's
    job group). Job ids are sequential, so a marker job before and
    after brackets the call's jobs."""
    import uuid

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]

    def jobs(group: str) -> list:
        # the status store is fed by the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sc.statusTracker().getJobIdsForGroup(group)

    def marker(group: str) -> list:
        sc.setJobGroup(group, group)
        spark.range(1).count()  # one or more jobs (AQE stages)
        return jobs(group)

    before = max(marker(f"before-{tag}"))
    sc.setJobGroup(f"call-{tag}", "call under test")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    after = min(marker(f"after-{tag}"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return set(range(before + 1, after)), set(jobs(f"call-{tag}"))


def test_pool_jobs_keep_the_callers_job_group(spark, documents, tmp_path):
    """write_index (norms, dictionary, stats on its pool) and a stream
    slice (norms and delta writes on its pool): no job lands outside the
    caller's job group."""
    from stream_fixtures import pages_df, recrawl_slices

    from deces_dataprep_spark.streaming.incremental import _append_batch

    slice0 = pages_df(spark, recrawl_slices()[0])
    for run in (
        lambda: write_index(spark, documents, str(tmp_path / "wh"),
                            n_shards=2, resume=False),
        lambda: _append_batch(spark, slice0, 0, str(tmp_path / "st"), 2),
    ):
        launched, grouped = _jobs_between(spark, run)
        assert launched, "the call launched no job"
        assert launched <= grouped, sorted(launched - grouped)
