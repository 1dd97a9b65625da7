"""Block-max WAND top-k over compressed posting blocks (SURVEY §2B #28).

The serving-side algorithm (Broder et al. 2003 WAND; Ding & Suel 2011
block-max): term cursors sorted by current doc, pivot selection on
cumulative score upper bounds, block-max refinement to skip whole
128-doc blocks whose max contribution cannot beat the heap threshold.

This is a *top-k serving* algorithm, not a Spark plan node: it runs
driver-side (or inside one task per shard) over the posting blocks of
the query's terms only — a few KB-MB per query. The distributed path
runs it per shard and merges shard-local top-k (associative and exact
because df/N/avgdl are global).

Rank-identity contract: identical doc_ids and scores to the
exhaustive Spark-SQL BM25 oracle with deterministic tie-break
(score desc, doc_id asc).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import numpy as np

from deces_dataprep_spark.index import bm25
from deces_dataprep_spark.index.codec import decode_blocks_concat


@dataclass
class TermPostings:
    """All blocks of one term (one shard), in block_id order.

    ``doc_gaps``/``tfs`` are the blocks' arrays laid end to end (block
    ``i`` holds ``n_docs[i]`` entries, each an offset from
    ``first_docs[i]``) — a flat numpy array, or any shape
    :func:`codec.decode_blocks_concat` accepts."""

    term: str
    df: int
    block_ids: list[int]
    n_docs: list[int]
    first_docs: list[int]
    last_docs: list[int]
    doc_gaps: np.ndarray
    tfs: np.ndarray
    block_max: list[float]
    _decoded: tuple | None = None  # memoized (doc_ids, tfs) full decode
    #: memoized start of each block in the decoded arrays
    _starts: np.ndarray | None = None
    #: memoized TAAT projection: (key, (norm_positions, contributions)) —
    #: a term's per-posting BM25 contribution is query-independent, so
    #: repeat queries sharing the term reduce to one bincount
    _taat: tuple | None = None


@dataclass
class _Cursor:
    tp: TermPostings
    idf_bound: float  # global upper bound for the term (idf * 1.0)
    block_idx: int = 0
    pos: int = 0
    doc_ids: np.ndarray = field(default_factory=lambda: np.empty(0, np.uint64))
    tfs: np.ndarray = field(default_factory=lambda: np.empty(0, np.uint64))
    exhausted: bool = False

    def _load_block(self) -> None:
        if self.block_idx >= len(self.tp.block_ids):
            self.exhausted = True
            return
        self.doc_ids, self.tfs = block_arrays(self.tp, self.block_idx)
        self.pos = 0

    @property
    def doc(self) -> int:
        return int(self.doc_ids[self.pos])

    @property
    def tf(self) -> int:
        return int(self.tfs[self.pos])

    @property
    def block_max_score(self) -> float:
        return self.tp.block_max[self.block_idx]

    def next_geq(self, target: int) -> None:
        """Advance to the first posting with doc_id >= target (block skipping
        via last_doc metadata, then binary search within the block)."""
        while not self.exhausted and self.tp.last_docs[self.block_idx] < target:
            self.block_idx += 1
            if self.block_idx >= len(self.tp.block_ids):
                self.exhausted = True
                return
            self.doc_ids = np.empty(0, np.uint64)  # force reload
        if self.exhausted:
            return
        if self.doc_ids.size == 0:
            self._load_block()
        if self.pos >= self.doc_ids.size or self.doc < target:
            self.pos = int(np.searchsorted(self.doc_ids, np.uint64(target), side="left"))
            if self.pos >= self.doc_ids.size:
                # target falls past this block's decoded span (can't happen:
                # last_doc >= target guaranteed above)
                raise AssertionError("block skip invariant violated")

    def advance(self) -> None:
        self.pos += 1
        if self.pos >= self.doc_ids.size:
            self.block_idx += 1
            if self.block_idx >= len(self.tp.block_ids):
                self.exhausted = True
            else:
                self._load_block()


def wand_topk(
    terms: list[TermPostings],
    n_docs: int,
    avgdl: float,
    doc_lens: dict[int, int],
    k: int = 10,
    k1: float = bm25.K1,
    b: float = bm25.B,
) -> list[tuple[int, float]]:
    """Block-max WAND: top-k (doc_id, score), score desc then doc_id asc.

    ``doc_lens`` maps doc_id → dl for exact scoring (the norms table,
    restricted to candidate docs; for shard-local serving this is the
    shard's norms partition).
    """
    cursors = [
        _Cursor(tp=tp, idf_bound=bm25.upper_bound(tp.df, n_docs, k1, b))
        for tp in terms
        if tp.block_ids
    ]
    for c in cursors:
        c._load_block()
    cursors = [c for c in cursors if not c.exhausted]

    # min-heap of (score, -doc_id) so the weakest (lowest score, then
    # largest doc_id) is at the top — gives tie-break doc_id asc.
    heap: list[tuple[float, int]] = []
    theta = -np.inf  # current kth-best score (entry threshold)

    def consider(doc: int, score: float) -> None:
        nonlocal theta
        item = (score, -doc)
        if len(heap) < k:
            heapq.heappush(heap, item)
            if len(heap) == k:
                theta = heap[0][0]
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
            theta = heap[0][0]

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.doc)
        # pivot: smallest prefix whose upper-bound sum could beat theta
        acc = 0.0
        pivot_idx = -1
        for i, c in enumerate(live):
            acc += c.idf_bound
            if len(heap) < k or acc > theta:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # no combination can beat theta
        pivot_doc = live[pivot_idx].doc
        # include every cursor parked on the pivot doc in the prefix —
        # their contributions apply at pivot_doc, and it guarantees the
        # skip target below always exceeds live[0].doc (progress).
        while pivot_idx + 1 < len(live) and live[pivot_idx + 1].doc == pivot_doc:
            pivot_idx += 1

        # block-max refinement (Ding & Suel BMW): bound the score of any doc
        # in [pivot_doc, d] by the current blocks' maxima, where d is the
        # smallest current-block boundary among the prefix cursors, capped
        # just before the next cursor's doc (beyond d those bounds no longer
        # apply). If the bound can't beat theta, skip the whole range.
        bm_acc = sum(min(c.idf_bound, c.block_max_score) for c in live[: pivot_idx + 1])
        if len(heap) == k and bm_acc <= theta:
            d = min(c.tp.last_docs[c.block_idx] for c in live[: pivot_idx + 1])
            if pivot_idx + 1 < len(live):
                d = min(d, live[pivot_idx + 1].doc - 1)
            # d >= live[0].doc (a block's last_doc >= its current doc), so
            # advancing the lowest cursor to d+1 always makes progress.
            live[0].next_geq(d + 1)
            continue

        if live[0].doc == pivot_doc:
            # full evaluation at pivot_doc
            dl = doc_lens.get(pivot_doc)
            if dl is None:
                raise KeyError(f"doc_len missing for doc {pivot_doc}")
            score = 0.0
            for c in live:
                if c.doc == pivot_doc:
                    score += float(
                        bm25.bm25_score(c.tf, c.tp.df, dl, n_docs, avgdl, k1, b)
                    )
                elif c.doc > pivot_doc:
                    break
            consider(pivot_doc, score)
            for c in live:
                if not c.exhausted and c.doc == pivot_doc:
                    c.advance()
        else:
            # align cursors before the pivot
            for c in live[:pivot_idx]:
                c.next_geq(pivot_doc)

    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-nd, s) for s, nd in out]


def decode_term_arrays(tp: TermPostings) -> tuple[np.ndarray, np.ndarray]:
    """Decode all blocks of one term → (doc_ids, tfs) numpy arrays
    (memoized on the TermPostings — repeat queries skip the decode)."""
    if tp._decoded is None:
        tp._decoded = decode_blocks_concat(
            tp.doc_gaps, tp.tfs, tp.first_docs, tp.n_docs
        )
    return tp._decoded


def block_arrays(tp: TermPostings, i: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, tfs) of block ``i``: views into the term's decode."""
    ids, tfs = decode_term_arrays(tp)
    if tp._starts is None:
        tp._starts = np.concatenate(
            ([0], np.cumsum(tp.n_docs, dtype=np.int64)))
    a, b = tp._starts[i], tp._starts[i + 1]
    return ids[a:b], tfs[a:b]


def taat_scores(
    terms: list[TermPostings],
    n_docs: int,
    avgdl: float,
    norm_ids: np.ndarray,
    norm_dls: np.ndarray,
    k1: float = bm25.K1,
    b: float = bm25.B,
) -> np.ndarray | None:
    """The dense TAAT accumulator WITHOUT top-k selection: score of
    every doc in this shard's norms array (aligned with ``norm_ids``),
    or None when no query term has postings here. Shared by
    :func:`taat_topk` and the multi-field serving route
    (``query.multi_match_serve``), which needs FULL per-field score
    sets before the boosted cross-field sum. Keeps the per-term
    (positions, contributions) memo on the TermPostings object."""
    n = norm_ids.size
    acc = np.zeros(n, dtype=np.float64)
    any_term = False
    # the memo key holds the norms ARRAY OBJECT (identity compare): a
    # strong reference pins it, so the id can never be recycled onto a
    # different array while the memo is alive
    cache_key = (norm_ids, n_docs, avgdl, k1, b)

    def _hit(memo):
        return (memo is not None and memo[0][0] is norm_ids
                and memo[0][1:] == cache_key[1:])

    for tp in terms:
        if _hit(tp._taat):
            pos, sc = tp._taat[1]
            if pos.size == 0:
                continue
            any_term = True
        else:
            ids, tfs = decode_term_arrays(tp)
            if ids.size == 0:
                tp._taat = (cache_key, (np.empty(0, np.int64), None))
                continue
            any_term = True
            pos = np.searchsorted(norm_ids, ids)
            dls = norm_dls[pos]
            t = tfs.astype(np.float64)
            idf = float(bm25.idf(tp.df, n_docs))
            sc = idf * (t / (t + k1 * (1.0 - b + b * (dls / avgdl))))
            tp._taat = (cache_key, (pos, sc))
        acc += np.bincount(pos, weights=sc, minlength=n)
    return acc if any_term else None


def taat_topk(
    terms: list[TermPostings],
    n_docs: int,
    avgdl: float,
    norm_ids: np.ndarray,
    norm_dls: np.ndarray,
    k: int = 10,
    k1: float = bm25.K1,
    b: float = bm25.B,
) -> list[tuple[int, float]]:
    """Term-at-a-time top-k, fully numpy-vectorized — the dense-query
    serving path. Exact (scores identical to WAND's formula); chosen by
    the engine when the candidate set is large, where doc-at-a-time
    Python iteration loses to vectorized decode+accumulate and
    block-max skipping can't help (every block qualifies).

    ``norm_ids`` must be sorted ascending; ``norm_dls`` aligned.
    Accumulation is a dense ``bincount`` over positions in the shard's
    norms array — O(postings) with no hashing/sorting of candidates.
    """
    acc = taat_scores(terms, n_docs, avgdl, norm_ids, norm_dls, k1, b)
    if acc is None:
        return []
    nz = np.flatnonzero(acc > 0.0)
    return topk_rounded(norm_ids[nz], acc[nz], k)


def topk_rounded(
    uids: np.ndarray,
    sums: np.ndarray,
    k: int,
    round_digits: int | None = None,
) -> list[tuple[int, float]]:
    """Exact driver-side (score desc, doc_id asc) top-k over aligned
    (doc_id, score) arrays — the one selection every driver route ends
    in (TAAT, the multi-field serves, kNN). Scores are rounded BEFORE
    ordering (the repo-wide contract: a raw-ulp order could flip a
    rounded tie at the k boundary across routes)."""
    if round_digits is not None:
        sums = np.round(sums, round_digits)
    if uids.size == 0:
        return []
    k_eff = min(k, uids.size)
    top = np.argpartition(-sums, k_eff - 1)[:k_eff] if uids.size > k_eff \
        else np.arange(uids.size)
    top = top[np.lexsort((uids[top], -sums[top]))]
    # argpartition may split a tie group at the k boundary arbitrarily —
    # re-check: if the k-th score ties with excluded candidates, resolve
    # by doc_id among the tied set.
    if uids.size > k_eff:
        kth = sums[top[-1]]
        tied = np.flatnonzero(sums == kth)
        if tied.size > int(np.count_nonzero(sums[top] == kth)):
            keep = [i for i in top if sums[i] > kth]
            tied_sorted = tied[np.argsort(uids[tied])]
            keep.extend(tied_sorted[: k_eff - len(keep)].tolist())
            top = np.array(keep, dtype=np.int64)
    return [(int(uids[i]), float(sums[i])) for i in top]


def exhaustive_topk(
    terms: list[TermPostings],
    n_docs: int,
    avgdl: float,
    doc_lens: dict[int, int],
    k: int = 10,
    k1: float = bm25.K1,
    b: float = bm25.B,
) -> list[tuple[int, float]]:
    """Reference scorer: decode everything, score, sort. Used in tests to
    prove WAND rank-identity on random postings."""
    scores: dict[int, float] = {}
    for tp in terms:
        for i in range(len(tp.block_ids)):
            ids, tfs = block_arrays(tp, i)
            for d, t in zip(ids.tolist(), tfs.tolist()):
                dl = doc_lens[int(d)]
                scores[int(d)] = scores.get(int(d), 0.0) + float(
                    bm25.bm25_score(int(t), tp.df, dl, n_docs, avgdl, k1, b)
                )
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]
