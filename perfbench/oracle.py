"""Reference BM25 top-k, written from the formula, and the result check.

Lucene BM25 with k1=1.2, b=0.75:

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = sum_t idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

Term counts come from the generator's own token ids (the indexed token
of a vocabulary word is the word itself: lowercase letters, accents
kept), query terms from :func:`corpus.analyze`. No engine code is
called, so a bug shared by the engine's routes cannot hide here.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from perfbench import corpus

K1, B = 1.2, 0.75
TOL = 1e-6
_TERM_ID = {w: i for i, w in enumerate(corpus.VOCAB.tolist())}


@dataclass
class Expected:
    """Top-k of one query. ``tied`` holds every candidate whose score is
    within TOL of the k-th score, beyond k too: any of them may fill the
    last places."""

    doc_ids: list[int]
    scores: list[float]
    tied: frozenset


class Reference:
    """Inverted lists over a page set: one (doc, tf) entry per page and
    term. Each doc_id appears once, so replace semantics is the caller's
    choice of which version of a page to pass in."""

    def __init__(self, pages: corpus.Pages):
        self.doc_ids = pages.doc_id.astype(np.int64)
        self.dl = np.diff(pages.offsets).astype(np.float64)
        self.n_docs = self.doc_ids.size
        self.avgdl = float(self.dl.mean()) if self.n_docs else 0.0
        rows = np.repeat(np.arange(self.n_docs, dtype=np.int64),
                         np.diff(pages.offsets))
        key, tf = np.unique(rows * corpus.VOCAB_SIZE + pages.tokens,
                            return_counts=True)
        term = key % corpus.VOCAB_SIZE
        order = np.argsort(term, kind="stable")
        self.post_doc = (key // corpus.VOCAB_SIZE)[order]
        self.post_tf = tf[order].astype(np.float64)
        self.ptr = np.searchsorted(term[order], np.arange(corpus.VOCAB_SIZE + 1))
        self.df = np.diff(self.ptr)

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        t = _TERM_ID.get(term)
        if t is None:
            return np.empty(0, np.int64), np.empty(0)
        a, b = self.ptr[t], self.ptr[t + 1]
        return self.post_doc[a:b], self.post_tf[a:b]

    def term_df(self, term: str) -> int:
        t = _TERM_ID.get(term)
        return 0 if t is None else int(self.df[t])

    def scores(self, query: str) -> np.ndarray:
        acc = np.zeros(self.n_docs)
        for term in corpus.analyze(query):
            docs, tf = self.postings(term)
            if not docs.size:
                continue
            df = docs.size
            idf = np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            norm = K1 * (1.0 - B + B * self.dl[docs] / self.avgdl)
            np.add.at(acc, docs, idf * tf / (tf + norm))
        return acc

    def topk(self, query: str, k: int) -> Expected:
        acc = self.scores(query)
        hit = np.flatnonzero(acc > 0.0)
        if not hit.size:
            return Expected([], [], frozenset())
        order = np.lexsort((self.doc_ids[hit], -acc[hit]))
        top = hit[order[:k]]
        kth = acc[top[-1]]
        tied = hit[np.abs(acc[hit] - kth) <= TOL]
        return Expected(self.doc_ids[top].tolist(), acc[top].tolist(),
                        frozenset(self.doc_ids[tied].tolist()))


def matches(got: list[tuple[int, float]], exp: Expected) -> bool:
    """Same length; every score within TOL at its rank; the doc_ids at
    the ranks of one tie group (scores within TOL) are that group's
    doc_ids in any order, and the places holding the k-th score may be
    filled by any doc tied with it."""
    if len(got) != len(exp.doc_ids):
        return False
    if len({int(d) for d, _ in got}) != len(got):
        return False
    if any(abs(float(s) - w) > TOL for (_, s), w in zip(got, exp.scores)):
        return False
    kth = exp.scores[-1] if exp.scores else 0.0
    i = 0
    while i < len(got):
        j = i + 1
        while j < len(got) and exp.scores[i] - exp.scores[j] <= TOL:
            j += 1
        docs = {int(d) for d, _ in got[i:j]}
        if abs(exp.scores[j - 1] - kth) <= TOL:
            if not docs <= exp.tied:
                return False
        elif docs != set(exp.doc_ids[i:j]):
            return False
        i = j
    return True
