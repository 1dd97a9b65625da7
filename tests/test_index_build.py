"""End-to-end index build on the driver `documents` table: the SPIMI
postings must reproduce the plain-DataFrame tf/df facts exactly, and
QueryEngine (WAND over compressed blocks) must be rank-identical to the
Spark-SQL BM25 oracle."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from deces_dataprep_spark.index.builder import build_index, term_frequencies
from deces_dataprep_spark.index.codec import decode_blocks_concat
from deces_dataprep_spark.index.query import QueryEngine, bm25_topk_df
from deces_dataprep_spark.index.wand import TermPostings


@pytest.fixture(scope="module")
def tables(spark, documents):
    t = build_index(spark, documents, n_shards=4)
    t.postings = t.postings.cache()
    t.postings.count()
    return t


def _collect_term(tables, term):
    rows = (
        tables.postings.filter(F.col("term") == term)
        .orderBy("shard", "block_id")
        .collect()
    )
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    return by_shard


def test_postings_match_dataframe_tf(spark, documents, tables):
    """Decoded block keys, mapped through the norms, are the docs."""
    from block_fixtures import docnum_map

    doc_of = docnum_map(tables.norms)
    tf = term_frequencies(documents, n_shards=4).cache()
    for term in ["the", "spark", "join"]:
        want = {
            (r["shard"], r["doc_id"]): r["tf"]
            for r in tf.filter(F.col("term") == term).collect()
        }
        got = {}
        for shard, rows in _collect_term(tables, term).items():
            ids, tfs = decode_blocks_concat(
                [r["doc_gaps"] for r in rows], [r["tfs"] for r in rows],
                [r["first_doc"] for r in rows], [r["n_docs"] for r in rows])
            for d, t in zip(ids.tolist(), tfs.tolist()):
                got[(shard, doc_of[(shard, int(d))])] = int(t)
        assert got == want, term


def test_dictionary_df_matches(spark, documents, tables):
    tf = term_frequencies(documents, n_shards=4)
    want = {
        r["term"]: r["n"]
        for r in tf.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["term"]: r["df"] for r in tables.dictionary.collect()}
    assert got == want


def test_block_sorted_and_sized(tables):
    rows = tables.postings.filter(F.col("term") == "the").collect()
    for r in rows:
        assert r["n_docs"] <= 128
        assert r["first_doc"] <= r["last_doc"]


@pytest.mark.parametrize(
    "query", ["spark join window", "the", "fast merge sort order", "nonexistentterm"]
)
def test_wand_engine_matches_sql_oracle(spark, documents, tables, query):
    engine = QueryEngine(tables)
    got = engine.search(query, k=10)
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_df(spark, documents, query, k=10, round_digits=None).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=1e-9)


@pytest.mark.parametrize("query", ["spark join window", "the", "fast merge sort"])
def test_distributed_index_topk_rank_identical(spark, documents, tables, query):
    """bm25_topk_from_index (decode→norms-join→agg→top-k as one plan)
    must match both the driver-side engine and the raw-docs oracle."""
    from deces_dataprep_spark.index.query import bm25_topk_from_index

    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_from_index(spark, tables, query, 10).collect()
    ]
    engine = QueryEngine(tables)
    want = engine.search(query, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=1e-9)


def test_autocomplete_ngram_index(spark, documents):
    """Edge-ngram index (deces_index.yml:28-33): the same build/query
    machinery over the autocomplete analyzer; a typed prefix is a term."""
    from deces_dataprep_spark.index.builder import build_index
    from deces_dataprep_spark.operators.es_fields import edge_ngram_field

    tables = build_index(spark, documents, n_shards=2,
                         tokenizer=edge_ngram_field)
    tables.postings = tables.postings.cache()
    engine = QueryEngine(tables)
    for prefix in ["spar", "ta", "win"]:
        got = engine.search(prefix, k=10)
        want = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_df(spark, documents, prefix, k=10,
                                  round_digits=None,
                                  tokenizer=edge_ngram_field).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], prefix
        assert got, prefix  # prefixes of real tokens must hit


@pytest.mark.parametrize("query", ["spark join window", "the"])
def test_all_four_search_routes_rank_identical(spark, documents, tables, query):
    """wand / taat / distributed / auto must agree doc-for-doc; 'auto'
    must route distributed above the corpus threshold (nothing
    corpus-sized on the driver at scale)."""
    engine = QueryEngine(tables)
    results = {m: engine.search(query, k=10, method=m)
               for m in ("wand", "taat", "distributed", "auto")}
    for m, got in results.items():
        assert [d for d, _ in got] == [d for d, _ in results["wand"]], m
        # the distributed route rounds to 6 digits (search_after cursor
        # consistency), so its scores agree to 5e-7, not 1e-9
        tol = 5e-7 if m in ("distributed",) else 1e-9
        for (_, s1), (_, s2) in zip(got, results["wand"]):
            assert s1 == pytest.approx(s2, abs=tol), m

    # a tiny threshold forces the distributed route through 'auto'
    engine2 = QueryEngine(tables)
    engine2.DISTRIBUTED_CORPUS_THRESHOLD = 1
    got = engine2.search(query, k=10, method="auto")
    assert engine2._norms is None
    assert [d for d, _ in got] == [d for d, _ in results["wand"]]


def test_salted_build_rank_identical_and_block_monotonic(spark, documents):
    """The df-skew defuser (salt_ranges + df threshold): a hot term's
    postings split across contiguous doc-id ranges with offset
    block_ids. The salted index must be (a) query-identical to the
    unsalted one on dense AND selective queries, (b)
    dictionary-identical, and (c) per-(shard, term) block_id-ordered
    blocks must have strictly increasing doc ranges (what WAND relies
    on)."""
    from deces_dataprep_spark.index.builder import build_index

    plain = build_index(spark, documents, n_shards=2)
    salted = build_index(spark, documents, n_shards=2, salt_ranges=8,
                         salt_df_threshold=50, salt_sample_frac=1.0)
    salted.postings = salted.postings.cache()

    d_p = {r["term"]: (r["df"], r["cf"]) for r in plain.dictionary.collect()}
    d_s = {r["term"]: (r["df"], r["cf"]) for r in salted.dictionary.collect()}
    assert d_p == d_s

    # the hot term really is split: more blocks than the unsalted build
    hot = "the"
    n_plain = plain.postings.filter(F.col("term") == hot).count()
    n_salted = salted.postings.filter(F.col("term") == hot).count()
    assert n_salted > n_plain

    # block ranges: ordered by block_id, doc ranges strictly increase
    rows = (salted.postings.filter(F.col("term") == hot)
            .orderBy("shard", "block_id").collect())
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        for a, b in zip(rs, rs[1:]):
            assert a["block_id"] < b["block_id"]
            assert a["last_doc"] < b["first_doc"], (shard, a["block_id"])

    e_p, e_s = QueryEngine(plain), QueryEngine(salted)
    for q, m in [("the", "wand"), ("the", "taat"),
                 ("spark join window", "wand"), ("fast merge sort", "taat")]:
        got = e_s.search(q, k=10, method=m)
        want = e_p.search(q, k=10, method=m)
        assert [d for d, _ in got] == [d for d, _ in want], (q, m)
        for (_, s1), (_, s2) in zip(got, want):
            assert s1 == pytest.approx(s2, abs=1e-9)


def test_boolean_search_routes_rank_identical(spark, documents, tables):
    """ES bool query: exhaustive df plan vs from-index distributed plan
    must agree; must/must_not semantics hold."""
    from deces_dataprep_spark.index.query import (
        boolean_topk_df,
        boolean_topk_from_index,
    )

    must, should, must_not = ["table"], ["merge sort"], ["window"]
    want = [
        (r["doc_id"], r["score"])
        for r in boolean_topk_df(spark, documents, must, should, must_not,
                                 k=10, round_digits=None).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in boolean_topk_from_index(spark, tables, must, should,
                                         must_not, k=10,
                                         round_digits=None).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=1e-9)
    assert want, "bool query must hit the fixture corpus"

    # semantics: every hit contains all must terms, none of the must_not
    from deces_dataprep_spark.functions.analyze import tokens_col as tc
    toks = {r["doc_id"]: set(r["t"]) for r in documents.select(
        "doc_id", tc("text").alias("t")).collect()}
    for d, _ in want:
        assert "table" in toks[d]
        assert "window" not in toks[d]


def test_boolean_oracle_sql_independent_of_hash_seed():
    """The DuckDB bool oracle renders its must/should ``IN`` lists
    sorted, so its text is the same in two processes with different
    ``PYTHONHASHSEED`` values (set iteration order is not)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from deces_dataprep_spark.index.query import "
        "duckdb_boolean_topk_sql as f\n"
        "print(f(['table merge sort join window row', 'spark data'],"
        " ['fast order key value index query', 'page'], ['zzz'],"
        " minimum_should_match=1))")
    outs = [subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True,
        text=True, env={**os.environ, "PYTHONHASHSEED": seed,
                        "PYTHONPATH": root}).stdout
        for seed in ("1", "2")]
    assert outs[0] and outs[0] == outs[1]


def test_salt_partition_key_exact_integer_division(spark):
    """Regression (advisor r2): the salted repartition key must use
    exact integer division. doc_id = 10**18 - 1 rounds to 10**18 in
    double, so the old float `/` + cast computed salt 8 while the
    encoder's uint64 `//` computes 7 — one (shard, term, salt) group
    split across two partitions, duplicated block_ids, blocks out of
    doc order. With `div` both sides agree and the block invariants
    hold even at extreme 64-bit id magnitudes — on a pack keyed by
    doc_id (as streaming deltas are), and through a salted build, whose
    blocks are keyed by docnum and map back to the ids."""
    from block_fixtures import docnum_map

    from deces_dataprep_spark.index.builder import (
        fold_postings,
        make_salt_spec,
        pack_blocks,
    )

    big = 10**18 - 1
    ids = [0, 7, 10**17, 3 * 10**17, 5 * 10**17 + 13, big]
    docs = spark.createDataFrame(
        [(i, "the quick fox the") for i in ids], "doc_id long, text string")
    # width = (span // 8) + 1 = 1.25e17 → big/width: float says 8.0
    # exactly (double(big) == 1e18), integer div says 7.
    spec = make_salt_spec(0, big, 8, len(ids))
    assert big // spec.width != int(float(big) / float(spec.width)), \
        "fixture must sit on a double-rounding boundary"

    by_id = spark.createDataFrame(
        [(0, "the", i, 2, 4) for i in ids],
        "shard int, term string, docnum long, tf long, dl long")
    salted = build_index(spark, docs, n_shards=1, salt_ranges=8,
                         salt_df_threshold=2, salt_sample_frac=1.0)
    doc_of = docnum_map(salted.norms)
    for rows, key_of in [
        (pack_blocks(fold_postings(by_id, spec, 4), spec, 128,
                     4.0).collect(),
         int),
        (salted.postings.filter(F.col("term") == "the").collect(),
         lambda k: doc_of[(0, int(k))]),
    ]:
        rows = sorted(rows, key=lambda r: r["block_id"])
        assert rows, "hot term must be present"
        assert len({r["block_id"] for r in rows}) == len(rows)
        for a, b in zip(rows, rows[1:]):
            assert a["last_doc"] < b["first_doc"], (a["block_id"],
                                                    b["block_id"])
        # all six docs survive the round trip, in order
        got, _ = decode_blocks_concat(
            [r["doc_gaps"] for r in rows],
            [r["tfs"] for r in rows],
            [int(r["first_doc"]) for r in rows],
            [int(r["n_docs"]) for r in rows])
        assert [key_of(x) for x in got] == sorted(ids)


def test_broadcast_topk_tie_break_on_duplicate_docs(spark):
    """Regression (advisor r2): >= k+1 exact-duplicate docs tie at the
    k-th score inside one norms batch; the per-batch cut must keep the
    whole tie group so the global (score desc, doc_id asc) merge picks
    the k LOWEST doc_ids, rank-identical to WAND/TAAT."""
    from deces_dataprep_spark.index.query import bm25_topk_broadcast

    dup = [(i, "orange banana kiwi") for i in range(40)]
    other = [(1000 + i, f"filler text number {i}") for i in range(20)]
    docs = spark.createDataFrame(dup + other, "doc_id long, text string")
    # single partition → all 40 duplicates share one batch
    t = build_index(spark, docs.coalesce(1), n_shards=1)
    rows = bm25_topk_broadcast(spark, t, "orange banana", k=10,
                               round_digits=6).collect()
    assert [r["doc_id"] for r in rows] == list(range(10))
    eng = QueryEngine(t, spark=spark)
    want = eng.search("orange banana", k=10, method="taat")
    assert [r["doc_id"] for r in rows] == [d for d, _ in want]


def test_auto_salt_default_on_splits_hot_terms(spark, documents, monkeypatch):
    """Skew defense must be the DEFAULT (round-2 finding: opt-in
    salting protects nothing): with AUTO_SALT_MIN_DOCS lowered into
    fixture range, a plain build_index call salts the stopword-grade
    terms — more blocks for the hot term, dictionary- and
    rank-identical to the unsalted build."""
    from deces_dataprep_spark.index import builder

    monkeypatch.setattr(builder, "AUTO_SALT_MIN_DOCS", 1)
    plain = build_index(spark, documents, n_shards=2, auto_salt=False)
    auto = build_index(spark, documents, n_shards=2,
                       salt_sample_frac=1.0)  # default auto_salt=True
    auto.postings = auto.postings.cache()
    hot = "the"
    assert (auto.postings.filter(F.col("term") == hot).count()
            > plain.postings.filter(F.col("term") == hot).count())
    d_p = {r["term"]: (r["df"], r["cf"]) for r in plain.dictionary.collect()}
    d_a = {r["term"]: (r["df"], r["cf"]) for r in auto.dictionary.collect()}
    assert d_p == d_a
    e_p, e_a = QueryEngine(plain), QueryEngine(auto)
    for q in ("the", "spark join window"):
        assert e_a.search(q, k=10) == pytest.approx(e_p.search(q, k=10))


PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _record_block_writes(monkeypatch) -> list[str]:
    """Physical plans of every posting-block DataFrame written to
    Parquet from now on (the spy sees the plan the write executes)."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        if "doc_gaps" in self._df.columns:
            plans.append(_plan(self._df))
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def test_postings_plans_have_no_python_node(spark, documents, tmp_path,
                                            monkeypatch):
    """Build, streaming delta, compaction and the index-backed BM25
    plan pack and decode blocks in the JVM: no Python node anywhere."""
    from deces_dataprep_spark.index.query import bm25_scores_from_index
    from deces_dataprep_spark.snapshots import load_index, write_index
    from deces_dataprep_spark.streaming.incremental import (
        _append_batch,
        compact_deltas,
    )

    plans = _record_block_writes(monkeypatch)
    wh, swh = str(tmp_path / "wh"), str(tmp_path / "stream")
    write_index(spark, documents, wh, n_shards=2)
    _append_batch(spark, documents.select("doc_id", "text"), 0, swh, 2)
    compact_deltas(spark, swh, n_shards=2)
    assert len(plans) == 3, "build, delta and compaction writes"
    plans.append(_plan(bm25_scores_from_index(
        spark, load_index(spark, wh), ["the", "spark", "join"])))
    for plan in plans:
        for node in PYTHON_NODES:
            assert node not in plan, plan


def _row_group_ranges(path):
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    ti = md.schema.names.index("term")
    return [(md.row_group(i).column(ti).statistics.min,
             md.row_group(i).column(ti).statistics.max)
            for i in range(md.num_row_groups)]


def test_postings_row_groups_sorted_and_skippable(spark, tmp_path,
                                                  monkeypatch):
    """Every postings file written by write_index and compact_deltas is
    sorted by term: row-group term ranges ascend (adjacent groups share
    at most the one term whose blocks straddle the boundary), and the
    arrow reader reads at most one row group per file for a one-term
    query on a term with one block per shard."""
    import pyarrow.parquet as pq

    from deces_dataprep_spark.index import builder
    from deces_dataprep_spark.index.arrow_serve import ArrowIndexReader
    from deces_dataprep_spark.snapshots import SnapshotLog, write_index
    from deces_dataprep_spark.sources.corpus import synth_pages
    from deces_dataprep_spark.streaming.incremental import (
        _append_batch,
        compact_deltas,
    )

    # a Zipf corpus over a 10k-term vocabulary, and small row groups, so
    # every postings file spans several row groups
    docs = synth_pages(spark, 3000).select("doc_id", "text")
    monkeypatch.setattr(builder, "POSTINGS_ROW_GROUP_BYTES", 16 << 10)
    wh, swh = str(tmp_path / "wh"), str(tmp_path / "stream")
    write_index(spark, docs, wh, n_shards=2)
    _append_batch(spark, docs, 0, swh, 2)
    compact_deltas(spark, swh, n_shards=2)
    for root in (wh, swh):
        files = SnapshotLog(root).latest()["tables"]
        post = files["postings"]["files"]
        assert len(post) == 2, post  # one file per shard
        assert max(len(_row_group_ranges(f)) for f in post) > 1
        for f in post:
            ranges = _row_group_ranges(f)
            for lo, hi in ranges:
                assert lo <= hi
            for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
                assert hi <= lo, (f, ranges)

        # row groups read per file, through either read call
        reads: dict[int, int] = {}
        orig = pq.ParquetFile.read_row_group
        orig_many = pq.ParquetFile.read_row_groups

        def counting(self, i, *args, _orig=orig, **kwargs):
            reads[id(self)] = reads.get(id(self), 0) + 1
            return _orig(self, i, *args, **kwargs)

        def counting_many(self, ids, *args, _orig=orig_many, **kwargs):
            reads[id(self)] = reads.get(id(self), 0) + len(ids)
            return _orig(self, ids, *args, **kwargs)

        monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)
        monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting_many)
        reader = ArrowIndexReader({k: v["files"] for k, v in files.items()})
        blocks = pq.ParquetDataset(post).read(columns=["term"])
        counts = blocks.group_by("term").aggregate([("term", "count")])
        single = [t for t, n in zip(counts["term"].to_pylist(),
                                    counts["term_count"].to_pylist())
                  if n <= 2][:25]
        assert single
        for term in single:
            reads.clear()
            cols = reader.postings([term])
            assert set(cols["term"]) == {term}
            assert reads and max(reads.values()) == 1, (term, reads)
        monkeypatch.setattr(pq.ParquetFile, "read_row_group", orig)
        monkeypatch.setattr(pq.ParquetFile, "read_row_groups", orig_many)


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "zz"]),
        st.dictionaries(st.integers(min_value=0, max_value=2**62),
                        st.integers(min_value=1, max_value=50),
                        min_size=1, max_size=60),
        min_size=1, max_size=3),
    st.integers(min_value=1, max_value=9),
)
def test_pack_block_properties(spark, postings, block_size):
    """The JVM pack on arbitrary posting sets: decoding a term's blocks
    returns its sorted unique ids and their tfs; first_doc, last_doc,
    n_docs and sum_tf agree with the decoded block; block_max_tfnorm
    bounds every posting's tf-norm (and is attained)."""
    from deces_dataprep_spark.index import bm25
    from deces_dataprep_spark.index.builder import fold_postings, pack_blocks

    def dl(d):
        return 3 + d % 11

    rows = [(0, t, d, tf, dl(d)) for t, p in postings.items()
            for d, tf in p.items()]
    avgdl = float(np.mean([dl(d) for _, _, d, _, _ in rows]))
    df = spark.createDataFrame(
        rows, "shard int, term string, docnum long, tf long, dl long")
    packed = pack_blocks(fold_postings(df, None, 4), None, block_size,
                         avgdl).collect()
    for term, p in postings.items():
        blocks = sorted((r for r in packed if r["term"] == term),
                        key=lambda r: r["block_id"])
        assert [r["block_id"] for r in blocks] == list(range(len(blocks)))
        ids, tfs = decode_blocks_concat(
            [r["doc_gaps"] for r in blocks], [r["tfs"] for r in blocks],
            [r["first_doc"] for r in blocks], [r["n_docs"] for r in blocks])
        want = sorted(p)
        assert ids.tolist() == want
        assert tfs.tolist() == [p[d] for d in want]
        for r in blocks:
            b_ids = [r["first_doc"] + g for g in r["doc_gaps"]]
            assert r["doc_gaps"][0] == 0
            assert 1 <= r["n_docs"] == len(b_ids) <= block_size
            assert (r["first_doc"], r["last_doc"]) == (b_ids[0], b_ids[-1])
            assert r["sum_tf"] == sum(r["tfs"])
            t = np.asarray(r["tfs"], np.float64)
            dls = np.asarray([dl(d) for d in b_ids], np.float64)
            norms = t / (t + bm25.K1 * (1.0 - bm25.B + bm25.B * dls / avgdl))
            assert (r["block_max_tfnorm"] >= norms).all()
            assert r["block_max_tfnorm"] == norms.max()
