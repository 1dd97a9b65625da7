"""The serving reader (index.arrow_serve): its parallel per-file fetch
returns exactly the block rows of a plain whole-file read, on every
postings layout, and shares one bounded thread pool across engines."""

import re
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from deces_dataprep_spark.index.arrow_serve import (
    ArrowIndexReader,
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
