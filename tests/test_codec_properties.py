"""Property-based tests (hypothesis): array-block decode round trips
on adversarial inputs; WAND ≡ TAAT ≡ exhaustive on random posting sets."""

import numpy as np
from block_fixtures import pack, term_postings
from hypothesis import given, settings
from hypothesis import strategies as st

from deces_dataprep_spark.index import bm25
from deces_dataprep_spark.index.codec import decode_blocks_concat
from deces_dataprep_spark.index.wand import (
    TermPostings,
    block_arrays,
    exhaustive_topk,
    taat_topk,
    wand_topk,
)


@given(
    st.sets(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=600),
    st.integers(min_value=1, max_value=7),
    st.integers(min_value=1, max_value=200),
)
@settings(max_examples=60, deadline=None)
def test_block_roundtrip(doc_set, tf_mod, block_size):
    ids = np.array(sorted(doc_set), dtype=np.int64)
    tfs = (ids % tf_mod) + 1
    b = pack(ids, tfs, None, block_size)
    assert all(n <= block_size for n in b["n_docs"])
    got_ids, got_tfs = decode_blocks_concat(b["doc_gaps"], b["tfs"],
                                            b["first_doc"], b["n_docs"])
    assert got_ids.tolist() == ids.tolist()
    assert got_tfs.tolist() == tfs.tolist()


def _mk_term(term, doc_set, n_docs, avgdl, dls):
    ids = np.array(sorted(doc_set), dtype=np.uint64)
    tfs = (ids % np.uint64(3)) + np.uint64(1)
    df = ids.size
    dl = np.array([dls[int(d)] for d in ids], dtype=np.float64)
    scores = bm25.bm25_score(tfs.astype(np.float64), float(df), dl, n_docs, avgdl)
    # store the idf-free tf-norm bound exactly like the builder does
    idf = bm25.idf(df, n_docs)
    tp = term_postings(term, df, ids, tfs, np.asarray(scores) / idf, 64)
    tp.block_max = [idf * m for m in tp.block_max]
    return tp


@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=200),
        min_size=1, max_size=4,
    ),
    st.integers(min_value=1, max_value=15),
)
@settings(max_examples=40, deadline=None)
def test_wand_taat_exhaustive_rank_identical(term_doc_sets, k):
    all_docs = sorted(set().union(*term_doc_sets) | {0})
    n_docs = len(all_docs)
    dls = {d: 5 + (d % 17) for d in all_docs}
    avgdl = float(np.mean(list(dls.values())))
    terms = [
        _mk_term(f"t{i}", s, n_docs, avgdl, dls)
        for i, s in enumerate(term_doc_sets)
    ]
    want = exhaustive_topk(terms, n_docs, avgdl, dls, k)
    got_w = wand_topk(terms, n_docs, avgdl, dls, k)
    norm_ids = np.array(all_docs, dtype=np.uint64)
    norm_dls = np.array([dls[d] for d in all_docs], dtype=np.float64)
    got_t = taat_topk(terms, n_docs, avgdl, norm_ids, norm_dls, k)
    assert [d for d, _ in got_w] == [d for d, _ in want]
    assert [d for d, _ in got_t] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got_w, want):
        assert abs(a - b) < 1e-9
    for (_, a), (_, b) in zip(got_t, want):
        assert abs(a - b) < 1e-9


def _per_block(b):
    """Decode block by block through the TermPostings block view."""
    tp = TermPostings(
        term="t", df=0, block_ids=b["block_id"], n_docs=b["n_docs"],
        first_docs=b["first_doc"], last_docs=b["last_doc"],
        doc_gaps=np.concatenate(b["doc_gaps"]), tfs=np.concatenate(b["tfs"]),
        block_max=b["block_max"])
    parts = [block_arrays(tp, i) for i in range(len(b["n_docs"]))]
    return ([p[0] for p in parts], [p[1] for p in parts])


def _concat(parts):
    """Several terms' blocks as one block list."""
    return {k: sum((p[k] for p in parts), []) for k in parts[0]}


def test_decode_blocks_concat_equals_per_block():
    """The batched decoder must reproduce the per-block view exactly
    for arbitrary multi-term block mixes (each block self-delimiting)."""
    rng = np.random.default_rng(7)
    parts = []
    for start in (0, 10_000, 2**62):  # three "terms", huge-id regime too
        ids = np.cumsum(rng.integers(1, 1000, size=300)) + start
        parts.append(pack(ids, rng.integers(1, 50, size=300)))
    b = _concat(parts)
    got_ids, got_tfs = decode_blocks_concat(
        b["doc_gaps"], b["tfs"], b["first_doc"], b["n_docs"])
    exp_ids, exp_tfs = _per_block(b)
    assert np.array_equal(got_ids, np.concatenate(exp_ids))
    assert np.array_equal(got_tfs, np.concatenate(exp_tfs))


@settings(deadline=None, max_examples=60)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**62),   # run start
            st.integers(min_value=1, max_value=400),     # run length
        ),
        min_size=0, max_size=6,
    ),
    st.integers(min_value=1, max_value=1000),            # max gap
)
def test_decode_blocks_concat_property(runs, max_gap):
    """Batched decode == per-block decode for arbitrary runs (mixed
    lengths, huge-id regime, runs from unrelated 'terms'), and every
    block's metadata agrees with its decoded ids."""
    rng = np.random.default_rng(0)
    parts = []
    for start, n in runs:
        ids = np.cumsum(rng.integers(1, max_gap + 1, size=n)) + start
        parts.append(pack(ids, rng.integers(1, 1000, size=n)))
    if not parts:
        got_ids, got_tfs = decode_blocks_concat([], [], [], [])
        assert got_ids.size == 0 and got_tfs.size == 0
        return
    b = _concat(parts)
    got_ids, got_tfs = decode_blocks_concat(
        b["doc_gaps"], b["tfs"], b["first_doc"], b["n_docs"])
    exp_i, exp_t = _per_block(b)
    assert np.array_equal(got_ids, np.concatenate(exp_i))
    assert np.array_equal(got_tfs, np.concatenate(exp_t))
    for i, ids in enumerate(exp_i):
        assert ids.size == b["n_docs"][i]
        assert int(ids[0]) == b["first_doc"][i]
        assert int(ids[-1]) == b["last_doc"][i]


@given(
    st.lists(
        # token HASHES (the round-6 kernel input: JVM xxhash64 per
        # token) — a tiny value domain forces heavy collisions/repeats,
        # and the negative values exercise int64 handling
        st.lists(st.sampled_from([-3, -1, 0, 1, 2, 7]),
                 min_size=0, max_size=30),
        min_size=0, max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_top_bigram_count_udf_matches_counter(rows):
    """The batched pack/sort run-length kernel == a per-row Counter over
    adjacent pairs, on arbitrary ragged batches (empty rows, empty
    batches, single-token rows, repeated tokens)."""
    from collections import Counter

    import pandas as pd

    from deces_dataprep_spark.functions.text import _top_bigram_count_udf

    # call the underlying function, not the Spark-registered UDF
    fn = _top_bigram_count_udf.func
    got = fn(pd.Series([np.array(r, dtype=np.int64) for r in rows],
                       dtype=object)).to_numpy()
    want = np.array(
        [max(Counter(zip(r, r[1:])).values()) if len(r) >= 2 else 0
         for r in rows],
        np.int64,
    ) if rows else np.empty(0, np.int64)
    assert np.array_equal(got, want), (rows, got, want)
    # force the lexsort fallback (the rows·K² ≥ 2^62 guard path) and
    # require identical counts
    from deces_dataprep_spark.functions import text as _text_mod

    limit = _text_mod._BIGRAM_PACK_LIMIT
    try:
        _text_mod._BIGRAM_PACK_LIMIT = 0
        got2 = fn(pd.Series([np.array(r, dtype=np.int64) for r in rows],
                            dtype=object)).to_numpy()
    finally:
        _text_mod._BIGRAM_PACK_LIMIT = limit
    assert np.array_equal(got2, want), (rows, got2, want)
