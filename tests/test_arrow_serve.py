"""The serving readers (index.arrow_serve): the arrow reader's parallel
per-file fetch returns exactly the block rows of a plain whole-file
read, on every postings layout, and shares one bounded thread pool
across engines; the arrow and Spark readers give equal outputs for
every method of the reader interface; and the Spark jobs a driver
route launches are pinned per reader."""

import re
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from deces_dataprep_spark.index.arrow_serve import (
    ArrowIndexReader,
    SparkIndexReader,
    block_columns,
)
from deces_dataprep_spark.session import usable_cores
from deces_dataprep_spark.snapshots import SnapshotLog


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """Manifest file lists of three postings layouts over one Zipf
    corpus, each file holding several row groups: a write_index build
    (one file per shard), a compacted stream, and the build after
    optimize_postings (three files per shard)."""
    from deces_dataprep_spark.index import builder
    from deces_dataprep_spark.snapshots import optimize_postings, write_index
    from deces_dataprep_spark.sources.corpus import synth_pages
    from deces_dataprep_spark.streaming.incremental import (
        _append_batch,
        compact_deltas,
    )

    base = tmp_path_factory.mktemp("arrow_layouts")
    docs = synth_pages(spark, 3000).select("doc_id", "text")
    saved = builder.POSTINGS_ROW_GROUP_BYTES
    builder.POSTINGS_ROW_GROUP_BYTES = 16 << 10
    try:
        wh, swh = str(base / "wh"), str(base / "stream")
        write_index(spark, docs, wh, n_shards=2)
        out = {"write_index": _files(wh)}
        _append_batch(spark, docs, 0, swh, 2)
        compact_deltas(spark, swh, n_shards=2)
        out["compact_deltas"] = _files(swh)
        optimize_postings(spark, wh, files_per_shard=3,
                          row_group_bytes=16 << 10)
        out["optimize_postings"] = _files(wh)
    finally:
        builder.POSTINGS_ROW_GROUP_BYTES = saved
    assert len(out["optimize_postings"]["postings"]) > 2
    return out


def _files(warehouse: str) -> dict:
    tables = SnapshotLog(warehouse).latest()["tables"]
    return {name: t["files"] for name, t in tables.items()}


def _reference(post_files: list[str], terms: list[str]) -> dict:
    """Every postings file read whole with pq.read_table, its shard
    taken from the path, then filtered to the terms."""
    tabs = []
    for path in post_files:
        t = pq.read_table(path)
        shard = int(re.search(r"shard=(\d+)", path).group(1))
        t = t.append_column("shard", pa.array([shard] * t.num_rows,
                                              pa.int32()))
        tabs.append(t.filter(pc.is_in(t["term"], pa.array(terms))))
    return block_columns(pa.concat_tables(tabs))


def _assert_same(got: dict, want: dict) -> None:
    assert got.keys() == want.keys()
    for name, w in want.items():
        g = got[name]
        if isinstance(w, list):
            assert g == w, name
        elif isinstance(w, pa.Array):
            assert g.type == w.type and g.equals(w), name
        else:
            assert g.dtype == w.dtype, name
            np.testing.assert_array_equal(g, w, err_msg=name)


@pytest.mark.parametrize("layout", ["write_index", "compact_deltas",
                                    "optimize_postings"])
def test_postings_equal_whole_file_read(layouts, layout):
    files = layouts[layout]
    reader = ArrowIndexReader(files)
    terms = pq.ParquetDataset(files["postings"]).read(
        columns=["term"])["term"].unique().to_pylist()
    terms.sort()
    queries = [[terms[0]], [terms[len(terms) // 2], terms[-1]],
               terms[::max(1, len(terms) // 7)],
               [terms[3], "zz-not-a-term"]]
    for q in queries:
        got = reader.postings(q)
        assert set(got["term"]) == set(q) - {"zz-not-a-term"}
        _assert_same(got, _reference(files["postings"], q))


def test_postings_of_absent_term_is_empty_with_block_columns(layouts):
    files = layouts["optimize_postings"]
    got = ArrowIndexReader(files).postings(["zz-not-a-term"])
    want = _reference(files["postings"], ["zz-not-a-term"])
    assert len(got["term"]) == 0
    _assert_same(got, want)


def test_engines_share_one_bounded_fetch_pool(spark, layouts):
    """Fifty engines, each serving one multi-file query, add at most the
    pool's size in threads: the fetch pool is per process."""
    from deces_dataprep_spark.index.builder import IndexTables
    from deces_dataprep_spark.index.query import QueryEngine

    files = layouts["optimize_postings"]
    tables = IndexTables(postings=None, dictionary=None, norms=None,
                         stats=None, files=files)
    before = threading.active_count()
    for _ in range(50):
        engine = QueryEngine(tables, io="arrow")
        assert engine.search("the of and page web", k=5)
    assert threading.active_count() - before <= usable_cores()


def test_concurrent_fetches_share_one_reader(layouts):
    """More client threads than cores fetch through one reader at a
    short switch interval and still get the reference blocks: a file is
    read by one thread at a time, and the shared pool serves them all."""
    import sys

    files = layouts["optimize_postings"]
    reader = ArrowIndexReader(files)
    queries = [["the", "web"], ["data"], ["crawl", "index", "search"]]
    want = [_reference(files["postings"], q) for q in queries]
    errors = []

    def client():
        try:
            for _ in range(10):
                for q, w in zip(queries, want):
                    _assert_same(reader.postings(q), w)
        except Exception as e:  # reported by the main thread below
            errors.append(e)

    threads = [threading.Thread(target=client)
               for _ in range(2 * usable_cores())]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]


@pytest.fixture(scope="module")
def served(spark, documents, tmp_path_factory):
    """load_index tables of two snapshots of the sf0.001 corpus, 2
    shards, with positions: the write_index build, and the same build
    after optimize_postings (several files and row groups per shard)."""
    from deces_dataprep_spark.snapshots import (
        load_index,
        optimize_postings,
        write_index,
    )

    wh = str(tmp_path_factory.mktemp("served") / "wh")
    write_index(spark, documents, wh, n_shards=2, with_positions=True)
    out = {"write_index": load_index(spark, wh)}
    optimize_postings(spark, wh, files_per_shard=3,
                      row_group_bytes=16 << 10)
    out["optimize_postings"] = load_index(spark, wh)
    assert len(out["optimize_postings"].files["postings"]) > 2
    return out


def _same(got, want) -> None:
    """Equal reader outputs: numpy arrays by dtype and value, Arrow list
    arrays by element type and value (a Spark collect marks list
    elements nullable, a Parquet read of the same column does not),
    containers element by element."""
    if isinstance(want, dict):
        assert got.keys() == want.keys()
        for key in want:
            _same(got[key], want[key])
    elif isinstance(want, tuple):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            _same(g, w)
    elif isinstance(want, np.ndarray):
        assert got.dtype == want.dtype
        np.testing.assert_array_equal(got, want)
    elif isinstance(want, pa.Array):
        assert got.type.value_type == want.type.value_type
        assert got.to_pylist() == want.to_pylist()
    else:
        assert got == want


READER_CALLS = {
    "stats": lambda r: r.stats(),
    "dictionary": lambda r: r.dictionary(),
    "term_dfs": lambda r: r.term_dfs(["table", "merge", "zz-not-a-term"]),
    "postings": lambda r: r.postings(["the", "table", "merge", "sort"]),
    "postings_absent_term": lambda r: r.postings(["zz-not-a-term"]),
    "all_norms": lambda r: r.all_norms(),
    "term_positions": lambda r: r.term_positions(["merge", "sort",
                                                  "zz-not-a-term"]),
}


@pytest.mark.parametrize("call", sorted(READER_CALLS))
@pytest.mark.parametrize("layout", ["write_index", "optimize_postings"])
def test_readers_give_equal_outputs(served, layout, call):
    tables = served[layout]
    arrow = ArrowIndexReader(tables.files)
    spark_reader = SparkIndexReader(tables)
    want = READER_CALLS[call](arrow)
    _same(READER_CALLS[call](spark_reader), want)
    if call.startswith("postings"):
        assert bool(len(want["term"])) == (call == "postings")
    else:
        assert want


def test_io_value_is_checked(served):
    from deces_dataprep_spark.index.query import QueryEngine

    with pytest.raises(ValueError, match="io must be one of"):
        QueryEngine(served["write_index"], io="arow")


def _jobs(spark, group: str, run) -> int:
    """Spark jobs ``run`` launches, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("io,reader,want", [
    ("spark", SparkIndexReader, [1, 2, 1, 0, 1]),
    ("arrow", ArrowIndexReader, [0, 0, 0, 0, 0]),
])
def test_driver_route_job_counts(spark, served, io, reader, want):
    """Spark jobs per engine step: construction (stats), a first search
    (postings fetch, then the norms of every shard), a search with new
    terms (fetch), a repeated search (term cache) and a phrase whose
    terms were searched (positions). The arrow reader launches none."""
    from deces_dataprep_spark.index.query import QueryEngine

    tables = served["write_index"]
    box = {}

    def construct():
        box["engine"] = QueryEngine(tables, io=io, spark=spark)

    steps = [
        construct,
        lambda: box["engine"].search("table row scan", k=10),
        lambda: box["engine"].search("merge sort", k=10),
        lambda: box["engine"].search("merge sort", k=10),
        lambda: box["engine"].phrase("merge sort"),
    ]
    got = [_jobs(spark, f"pin-{io}-{i}", step)
           for i, step in enumerate(steps)]
    assert isinstance(box["engine"].reader, reader)
    assert got == want


def test_spark_dictionary_past_its_bound_is_not_loaded(spark, served,
                                                       monkeypatch):
    """Past DICT_MEMO_MAX_TERMS the Spark reader loads no dictionary:
    df lookups and the distributed route collect only the query's rows,
    and a driver-side vocabulary expansion refuses."""
    from deces_dataprep_spark.index.query import QueryEngine
    from deces_dataprep_spark.index.querystring import _vocab_terms

    tables = served["write_index"]
    arrow = QueryEngine(tables, io="arrow", spark=spark)
    monkeypatch.setattr(SparkIndexReader, "DICT_MEMO_MAX_TERMS", 3)
    eng = QueryEngine(tables, io="spark", spark=spark)
    assert eng.reader.dictionary() is None
    terms = ["table", "merge", "zz-not-a-term"]
    assert eng.reader.term_dfs(terms) == arrow.reader.term_dfs(terms)
    assert (eng.search("table row", k=5, method="distributed")
            == arrow.search("table row", k=5, method="distributed"))
    with pytest.raises(ValueError, match="DICT_MEMO_MAX_TERMS"):
        _vocab_terms(eng)
