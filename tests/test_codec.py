"""Array posting blocks: decode round trips and block invariants
(SURVEY §5.2), over every input shape the decode entry point accepts."""

import numpy as np
import pyarrow as pa
import pytest
from block_fixtures import pack
from hypothesis import given, settings
from hypothesis import strategies as st

from deces_dataprep_spark.index.codec import (
    BLOCK_SIZE,
    RebuildRequired,
    decode_blocks_concat,
    require_array_layout,
)


@given(
    st.lists(st.integers(min_value=1, max_value=2**28), min_size=1, max_size=2000),
    st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=50, deadline=None)
def test_postings_roundtrip(gaps, tf_seed):
    doc_ids = np.cumsum(np.array(gaps, dtype=np.int64))
    rng = np.random.RandomState(tf_seed)
    tfs = rng.randint(1, 1000, size=doc_ids.size)
    scores = rng.rand(doc_ids.size)
    b = pack(doc_ids, tfs, scores)
    ids2, tfs2 = decode_blocks_concat(b["doc_gaps"], b["tfs"],
                                      b["first_doc"], b["n_docs"])
    assert ids2.tolist() == doc_ids.tolist()
    assert tfs2.tolist() == tfs.tolist()
    # block invariants
    assert len(b["n_docs"]) == (doc_ids.size + BLOCK_SIZE - 1) // BLOCK_SIZE
    for i in range(len(b["n_docs"])):
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, doc_ids.size)
        assert b["first_doc"][i] == int(doc_ids[lo])
        assert b["last_doc"][i] == int(doc_ids[hi - 1])
        assert b["n_docs"][i] == hi - lo
        assert b["doc_gaps"][i][0] == 0
        assert b["block_max"][i] == pytest.approx(scores[lo:hi].max())


def test_block_max_is_upper_bound():
    doc_ids = np.arange(1, 1001)
    scores = np.linspace(0.1, 2.0, 1000)
    b = pack(doc_ids, np.ones(1000), scores)
    for i, bmax in enumerate(b["block_max"]):
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, 1000)
        assert bmax >= scores[lo:hi].max() - 1e-12


def test_decode_accepts_arrow_lists_sliced_and_chunked():
    """The serving reader hands the decoder Arrow list columns (and the
    benchmark's probe slices them per term): a slice, a chunked column
    and a flat numpy array must all decode like per-block lists."""
    ids = np.array([5, 9, 12, 2**62, 2**62 + 3, 40, 41])
    tfs = np.array([1, 2, 3, 4, 5, 6, 7])
    b = pack(ids[:3], tfs[:3], block_size=2)
    c = pack(ids[3:5], tfs[3:5])
    d = pack(ids[5:], tfs[5:])
    gaps = b["doc_gaps"] + c["doc_gaps"] + d["doc_gaps"]
    tf_l = b["tfs"] + c["tfs"] + d["tfs"]
    first = b["first_doc"] + c["first_doc"] + d["first_doc"]
    n = b["n_docs"] + c["n_docs"] + d["n_docs"]
    want_i, want_t = decode_blocks_concat(gaps, tf_l, first, n)
    assert want_i.tolist() == ids.tolist() and want_t.tolist() == tfs.tolist()
    la_g = pa.array([g.tolist() for g in gaps], pa.list_(pa.int64()))
    la_t = pa.array([t.tolist() for t in tf_l], pa.list_(pa.int32()))
    got = decode_blocks_concat(la_g, la_t, first, n)
    assert got[0].tolist() == ids.tolist() and got[1].tolist() == tfs.tolist()
    # a slice (blocks 1..2) decodes its own elements only
    got = decode_blocks_concat(la_g[1:3], la_t[1:3], first[1:3], n[1:3])
    assert got[0].tolist() == ids[2:5].tolist()
    chunked = pa.chunked_array([la_g[:2], la_g[2:]])
    got = decode_blocks_concat(chunked, pa.chunked_array([la_t]), first, n)
    assert got[0].tolist() == ids.tolist()
    got = decode_blocks_concat(np.concatenate(gaps), np.concatenate(tf_l),
                               first, n)
    assert got[0].tolist() == ids.tolist()
    empty = decode_blocks_concat([], [], [], [])
    assert empty[0].size == 0 and empty[1].size == 0


def test_binary_layout_requires_rebuild():
    require_array_layout("array<bigint>", "x")
    require_array_layout("list<element: int64>", "x")
    with pytest.raises(RebuildRequired, match="rebuild"):
        require_array_layout("binary", "warehouse/postings")
