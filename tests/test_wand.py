"""WAND vs exhaustive scorer: rank-identity on random postings (SURVEY §5.2)."""

import numpy as np
import pytest

from block_fixtures import term_postings

from deces_dataprep_spark.index import bm25
from deces_dataprep_spark.index.wand import exhaustive_topk, wand_topk


def _make_term(rng, term, n_docs_universe, doc_lens, n_docs_g, avgdl, df_size):
    doc_ids = np.sort(rng.choice(n_docs_universe, size=df_size, replace=False)).astype(np.uint64)
    tfs = rng.randint(1, 8, size=df_size).astype(np.uint64)
    dls = np.array([doc_lens[int(d)] for d in doc_ids], dtype=np.float64)
    scores = bm25.bm25_score(tfs.astype(np.float64), float(df_size), dls, n_docs_g, avgdl)
    return term_postings(term, df_size, doc_ids, tfs, np.asarray(scores),
                         block_size=32)


@pytest.mark.parametrize("seed", range(20))
def test_wand_rank_identical_to_exhaustive(seed):
    rng = np.random.RandomState(seed)
    universe = 5000
    doc_lens = {d: int(rng.randint(10, 200)) for d in range(universe)}
    n_docs_g = universe
    avgdl = float(np.mean(list(doc_lens.values())))
    n_terms = rng.randint(1, 6)
    terms = []
    for i in range(n_terms):
        df_size = int(rng.choice([5, 50, 500, 3000]))
        terms.append(
            _make_term(rng, f"t{i}", universe, doc_lens, n_docs_g, avgdl, df_size)
        )
    for k in (1, 10, 100):
        got = wand_topk(terms, n_docs_g, avgdl, doc_lens, k=k)
        want = exhaustive_topk(terms, n_docs_g, avgdl, doc_lens, k=k)
        assert [d for d, _ in got] == [d for d, _ in want], f"k={k} seed={seed}"
        for (_, s1), (_, s2) in zip(got, want):
            assert s1 == pytest.approx(s2, abs=1e-9)


def test_wand_empty_and_single():
    doc_lens = {1: 10, 5: 20}
    n, avgdl = 2, 15.0
    ids = np.array([1, 5], dtype=np.uint64)
    tfs = np.array([2, 1], dtype=np.uint64)
    scores = np.asarray(bm25.bm25_score(tfs.astype(float), 2.0,
                                        np.array([10.0, 20.0]), n, avgdl))
    tp = term_postings("x", 2, ids, tfs, scores)
    out = wand_topk([tp], n, avgdl, doc_lens, k=5)
    assert len(out) == 2
    assert out[0][0] == 1  # higher tf, shorter doc → higher score
    assert wand_topk([], n, avgdl, doc_lens, k=5) == []
