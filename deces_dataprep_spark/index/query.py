"""Query side: analyzer → postings fetch → block-max WAND → top-k.

Mirrors the reference's ES search path (its index spec is the contract:
query text goes through the same ``norm`` analyzer as indexing, terms
are looked up in the inverted index, BM25-scored, top-k returned).

An ES feature has up to four routes, required to agree on rank and
score (the engine's rank-identity contract):

* scan (``*_df``) — one Spark plan over the raw docs: tokenize → match
  or score → aggregate, fully Catalyst-planned (e.g.
  :func:`bm25_topk_df`, ``ORDER BY score DESC, doc_id LIMIT k`` as a
  ``TakeOrderedAndProject``).
* index plan (``*_from_index``) — one Spark plan over the built index:
  only the query terms' posting blocks are read (``term IN (...)``
  reaches the Parquet scan) and decoded in the JVM.
* driver serve (:class:`QueryEngine`, ``*_serve``) — block-max WAND or
  TAAT over postings fetched through the engine's reader (arrow or
  Spark); shard top-k merge is exact because df/N/avgdl are global.
* DuckDB oracle (``duckdb_*_sql``) — an independent SQL text of the
  same answer; its text is fingerprinted and must stay byte-stable.

The scan and index plans of a feature share one body. It is written
against a *source* (:class:`_ScanSource` over ``docs``,
:class:`_IndexSource` over the index tables and a doc-metadata table),
which supplies the three things the routes differ by: the BM25 score
set, the ids of matching docs, and the matching doc rows.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import tokenize_text, tokens_col
from deces_dataprep_spark.index import bm25
from deces_dataprep_spark.index.builder import IndexTables, term_frequencies
from deces_dataprep_spark.index.wand import (
    TermPostings,
    taat_topk,
    topk_rounded,
    wand_topk,
)


#: a shard without norms rows (QueryEngine._shard_norms_np)
_NO_NORMS = (np.empty(0, np.uint64), np.empty(0, np.float64),
             np.empty(0, np.int64))


def analyze_query(q: str) -> list[str]:
    """Query text through the same analyzer chain as indexing, in its
    pure-Python twin (:func:`~deces_dataprep_spark.functions.analyze.
    tokenize_text`), de-duplicated in order (conjunctive tf of repeated
    terms is not what ES does)."""
    return list(dict.fromkeys(tokenize_text(q)))


class QueryEngine:
    """Serve BM25 top-k from built index tables.

    At sandbox scale norms are cached driver-side per shard; at cluster
    scale the same per-shard WAND runs inside one task per shard (the
    shard's postings for the query terms + its norms partition are
    task-local) and only the per-shard top-k rows move to the driver.
    """

    #: above this many total candidate postings, doc-at-a-time Python
    #: WAND loses to the vectorized TAAT path (and block skipping can't
    #: help — dense terms qualify every blocks), so search() switches.
    TAAT_THRESHOLD = 50_000

    #: above this many corpus docs, 'auto' routes through the fully
    #: distributed plan (bm25_topk_from_index): no full-shard norms are
    #: ever pulled to the driver — the scale-safe default. Below it,
    #: driver-side WAND/TAAT wins on latency (ms vs job-launch overhead).
    DISTRIBUTED_CORPUS_THRESHOLD = 5_000_000

    def __init__(self, tables: IndexTables, cache_postings: bool = False,
                 spark: SparkSession | None = None, io: str = "auto"):
        """``io`` picks the reader every driver route reads through
        (:func:`~deces_dataprep_spark.index.arrow_serve.open_reader`):
        'arrow' serves postings/norms/dictionary straight from the
        snapshot's parquet files via pyarrow (no Spark job per query —
        the ES-data-node analogue; requires manifest file lists, i.e. an
        index from ``snapshots.load_index``); 'spark' reads the tables'
        DataFrames (pinned in Spark's cache with ``cache_postings``);
        'auto' picks arrow when the file lists are known."""
        from deces_dataprep_spark.index.arrow_serve import open_reader

        self.spark = spark
        self.tables = tables
        self.reader = open_reader(tables, io, cache_postings)
        self.n_docs, self.avgdl = self.reader.stats()
        # reader.all_norms(), loaded on first use: one read fills every
        # shard (_all_norms)
        self._norms: dict[int, tuple] | None = None
        # shard -> {doc_id: doc_len}, built from _norms per shard
        self._doc_lens: dict[int, dict[int, float]] = {}
        # hot-term cache: term -> {shard -> TermPostings}; repeat queries
        # and shared head terms skip the fetch entirely.
        self._term_cache: dict[str, dict[int, TermPostings]] = {}
        # term -> df memo (filled by postings fetches AND phrase
        # routing): repeat phrase() calls must not re-pay a dictionary
        # read just to decide their route.
        self._df_cache: dict[str, int] = {}

    @property
    def session(self) -> SparkSession:
        """The Spark session the engine's Spark routes plan on: the one
        it was given, else the one its tables were loaded with."""
        return self.spark or self.tables.postings.sparkSession

    def _shard_norms(self, shard: int) -> dict[int, float]:
        """doc_id -> doc_len of one shard (WAND's per-doc lookup)."""
        if shard not in self._doc_lens:
            ids, dls, _ = self._shard_norms_np(shard)
            self._doc_lens[shard] = dict(zip(ids.tolist(), dls.tolist()))
        return self._doc_lens[shard]

    def _all_norms(self) -> dict[int, tuple]:
        """shard -> (doc_ids, doc_lens, docnums) of every shard."""
        if self._norms is None:
            self._norms = self.reader.all_norms()
        return self._norms

    def _shard_norms_np(self, shard: int):
        """(sorted doc_id uint64, aligned doc_len float64, aligned docnum
        int64) arrays of one shard; empty arrays for a shard without
        norms (the same objects every call: the TAAT memo keys on
        them)."""
        return self._all_norms().get(shard, _NO_NORMS)

    def _doc_ids(self, shard: int, keys):
        """doc_ids (uint64) of one shard's decoded block keys — the
        driver's decode boundary, ``(shard, docnum)`` → the norms row's
        doc_id. The shard's docnums are sorted (docnum order is doc_id
        order, and a delta index's docnum is the doc_id itself), so one
        binary search finds every key's norms row."""
        ids, _, nums = self._shard_norms_np(shard)
        # int64 on both sides: a uint64/int64 search compares in float64
        return ids[np.searchsorted(nums,
                                   np.asarray(keys, np.int64))]

    def _fetch_term_postings(self, terms: list[str]) -> dict[int, list[TermPostings]]:
        """Postings for the query terms, grouped by shard.

        The reader reads only the terms' blocks. Blocks store the
        idf-free ``block_max_tfnorm`` (builder design: idf is a per-term
        constant); the global df is the sum of the term's block
        ``n_docs``, and the block-max score bound is reconstructed as
        ``idf(df) · tfnorm``.
        Blocks are keyed by docnum: the keys, first_docs and last_docs
        are mapped to doc_ids through the shard's norms arrays
        (:meth:`_doc_ids`) before the TermPostings are built, so every
        kernel runs in doc_id space.
        """
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            # df(term) is BY CONSTRUCTION the sum of the term's block
            # n_docs across shards (every dictionary is
            # dictionary_from_postings — a doc lives in one shard)
            cols = self.reader.postings(missing)
            dfs = {}
            for t, n in zip(cols["term"], cols["n_docs"].tolist()):
                dfs[t] = dfs.get(t, 0) + n
            self._df_cache.update(dfs)
            fetched: dict[str, dict[int, TermPostings]] = {t: {} for t in missing}
            # zero-copy flat views of the block arrays; a (shard, term)
            # run of block rows owns one contiguous slice of them, and
            # a shard's rows one contiguous run of (shard, term) runs
            n_docs = cols["n_docs"]
            tfs = cols["tfs"].flatten().to_numpy()
            elem = np.concatenate(([0], np.cumsum(n_docs, dtype=np.int64)))
            keys = np.repeat(cols["first_doc"], n_docs) \
                + cols["doc_gaps"].flatten().to_numpy()
            ids = np.empty(keys.size, np.uint64)
            sh = cols["shard"]
            cut = (np.flatnonzero(sh[1:] != sh[:-1]) + 1).tolist()
            for a, b in zip([0] + cut, cut + [sh.size]):
                if a < b:
                    ids[elem[a]:elem[b]] = self._doc_ids(
                        int(sh[a]), keys[elem[a]:elem[b]])
            shards = sh.tolist()
            key = list(zip(shards, cols["term"]))
            cuts = [i for i in range(1, len(key)) if key[i] != key[i - 1]]
            for a, b in zip([0] + cuts, cuts + [len(key)]):
                if a == b:
                    continue
                shard, term = key[a]
                idf = float(bm25.idf(dfs[term], self.n_docs))
                e0, e1 = elem[a], elem[b]
                run = ids[e0:e1]
                first = run[elem[a:b] - e0]
                fetched[term][int(shard)] = TermPostings(
                    term=term, df=dfs[term],
                    block_ids=cols["block_id"][a:b].tolist(),
                    n_docs=n_docs[a:b].tolist(),
                    first_docs=first.tolist(),
                    last_docs=run[elem[a + 1:b + 1] - e0 - 1].tolist(),
                    doc_gaps=run.view(np.int64)
                    - np.repeat(first.view(np.int64), n_docs[a:b]),
                    tfs=tfs[e0:e1],
                    block_max=(idf * cols["block_max_tfnorm"][a:b]).tolist(),
                    _decoded=(run, tfs[e0:e1].astype(np.int64)),
                )
            self._term_cache.update(fetched)
        by_shard: dict[int, list[TermPostings]] = {}
        for t in terms:
            for shard, tp in self._term_cache[t].items():
                by_shard.setdefault(shard, []).append(tp)
        return by_shard

    def _search_distributed(self, query: str, k: int) -> list[tuple[int, float]]:
        """Serve from the index as one Spark plan (bm25_topk_from_index):
        decode + norms join + agg run where the data lives; only the
        top-k rows reach the driver. Scores are rounded to 6 digits —
        the SAME rounding the search_after cursor predicate applies, so
        a cursor taken from one page filters the next page consistently
        (unrounded page-1 scores vs a rounded cursor comparison could
        silently drop or duplicate boundary hits)."""
        rows = bm25_topk_from_index(
            self.session, self.tables, query, k,
            n_docs=self.n_docs, avgdl=self.avgdl,  # cached — one job saved
            round_digits=6,
            dfs=self.reader.dictionary(),  # no dictionary job per query
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def search(self, query: str, k: int = 10,
               method: str = "auto") -> list[tuple[int, float]]:
        """Top-k (doc_id, score), shard-merged.

        ``method``: 'wand' (block-max WAND), 'taat' (vectorized
        term-at-a-time), 'distributed' (one Spark plan, nothing
        corpus-sized on the driver), 'broadcast' (zero-shuffle plan:
        broadcast decoded postings, scan norms — see
        :func:`bm25_topk_broadcast`), or 'auto' — distributed above
        DISTRIBUTED_CORPUS_THRESHOLD docs, else WAND for selective
        queries and TAAT past TAAT_THRESHOLD candidate postings. All
        are exact and rank-identical (tested)."""
        if method == "broadcast":
            df = bm25_topk_broadcast(
                self.session, self.tables, query, k,
                n_docs=self.n_docs, avgdl=self.avgdl,
                dfs=self.reader.dictionary(),  # no dictionary job
            )
            rows = df.collect()
            bc = getattr(df, "_dds_broadcast", None)
            if bc is not None:  # per-query payload — don't leak it
                bc.destroy()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if method == "distributed" or (
            method == "auto" and self.n_docs > self.DISTRIBUTED_CORPUS_THRESHOLD
        ):
            return self._search_distributed(query, k)
        if not self.tables.trusted_bounds and method == "wand":
            raise ValueError(
                "WAND needs globally-valid block_max bounds; this index's "
                "bounds are batch-local (uncompacted streaming deltas) — "
                "run compact_deltas() first, or use method='taat'/"
                "'distributed' (exact paths that never read the bounds)"
            )
        terms = analyze_query(query)
        if not terms:
            return []
        by_shard = self._fetch_term_postings(terms)
        merged: list[tuple[int, float]] = []
        for shard, tps in by_shard.items():
            m = method
            if m == "auto":
                n_postings = sum(sum(tp.n_docs) for tp in tps)
                m = "taat" if (n_postings > self.TAAT_THRESHOLD
                               or not self.tables.trusted_bounds) else "wand"
            if m == "taat":
                ids, dls, _ = self._shard_norms_np(shard)
                merged.extend(
                    taat_topk(tps, self.n_docs, self.avgdl, ids, dls, k)
                )
            else:
                merged.extend(
                    wand_topk(tps, self.n_docs, self.avgdl,
                              self._shard_norms(shard), k)
                )
        merged.sort(key=lambda t: (-t[1], t[0]))
        return merged[:k]

    #: route phrase serving to the distributed plan when the phrase
    #: terms' summed df exceeds this — the driver fold collects position
    #: rows for every doc containing ANY phrase term, so a phrase with a
    #: stopword ("the page") would pull ~the whole corpus driver-side.
    PHRASE_DF_THRESHOLD = 500_000

    def phrase(self, phrase: str, method: str = "auto") -> list[int]:
        """ES ``match_phrase`` through the serving tier. Two routes,
        rank/set-identical (tested):

        * driver fold — fetch the phrase terms' position rows through
          the engine's reader and run the adjacency fold in numpy.
          Right for SELECTIVE phrases: positions are a few KB per
          matching doc.
        * distributed (:func:`positions.phrase_match_from_index`) —
          pushdown-fetch + per-doc join + adjacency fold as one Spark
          plan; only matching doc_ids reach the driver. ``auto`` takes
          this route above ``DISTRIBUTED_CORPUS_THRESHOLD`` docs or
          when the phrase terms' summed df exceeds
          ``PHRASE_DF_THRESHOLD`` (a stopword phrase would otherwise
          collect positions for ~the whole corpus driver-side — the
          exact failure mode ``search()``'s routing already avoids).

        Returns sorted matching doc_ids."""
        terms = tokenize_text(phrase)
        if not terms:
            return []
        use_dist = method == "distributed"
        if method == "auto" and self.tables.positions is not None:
            if self.n_docs > self.DISTRIBUTED_CORPUS_THRESHOLD:
                use_dist = True
            else:
                need = sorted(set(terms))
                miss = [t for t in need if t not in self._df_cache]
                if miss:
                    self._df_cache.update(self.reader.term_dfs(miss))
                    # absent terms have df 0 — memoize the absence too
                    for t in miss:
                        self._df_cache.setdefault(t, 0)
                use_dist = sum(
                    self._df_cache[t] for t in need
                ) > self.PHRASE_DF_THRESHOLD
        if use_dist:
            if self.tables.positions is None:
                raise ValueError("index has no positions table "
                                 "(write_index(with_positions=True))")
            from deces_dataprep_spark.index.positions import (
                phrase_match_from_index,
            )

            rows = phrase_match_from_index(
                self.session, self.tables.positions, phrase).collect()
            return sorted(int(r["doc_id"]) for r in rows)
        by_doc = self.reader.term_positions(list(set(terms)))
        out = []
        for doc, pos_map in by_doc.items():
            if any(t not in pos_map for t in terms):
                continue
            cand = pos_map[terms[0]]
            for t in terms[1:]:
                cand = np.intersect1d(cand + 1, pos_map[t],
                                      assume_unique=False)
                if cand.size == 0:
                    break
            if cand.size:
                out.append(doc)
        return sorted(out)

    def search_after(self, query: str, k: int = 10,
                     after: tuple[float, int] | None = None,
                     method: str = "auto") -> list[tuple[int, float]]:
        """ES ``search_after`` deep pagination over the index: the k
        results strictly after cursor ``(score, doc_id)`` in (score
        desc, doc_id asc) order. On the distributed route the cursor is
        a plan filter (stateless at any depth). On the driver-side
        WAND/TAAT route the engine deepens its internal top-K
        geometrically until the page is full — cheap while pages stay
        shallow, and the distributed route takes over at corpus scale
        anyway."""
        if after is None:
            return self.search(query, k, method=method)
        a_score, a_doc = float(after[0]), int(after[1])
        if method == "distributed" or (
            method == "auto" and self.n_docs > self.DISTRIBUTED_CORPUS_THRESHOLD
        ):
            # round on BOTH sides of the cursor comparison: driver-route
            # (numpy) and plan-route (Spark) float sums can differ in the
            # last ulps, and the tie arm of the cursor predicate needs
            # score equality to be stable across routes.
            rows = bm25_topk_from_index(
                self.session, self.tables, query, k,
                n_docs=self.n_docs, avgdl=self.avgdl, round_digits=6,
                after_score=round(a_score, 6), after_doc_id=a_doc,
                dfs=self.reader.dictionary(),  # no dictionary job
            ).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]

        # same 6-digit rounding as the distributed route: the cursor a
        # caller replays was captured from ROUNDED output (cmd_query's
        # JSON, the distributed page), so an exact-float compare against
        # raw numpy sums makes the tie arm unreachable and can drop or
        # duplicate boundary hits across pages. The candidates must ALSO
        # be re-sorted in the rounded order before the cursor filter —
        # search() orders by raw scores, and when several docs round to
        # the cursor score, the raw order interleaves them differently
        # than the (rounded desc, doc_id asc) pagination contract: a doc
        # already served on page 1 could reappear and a boundary doc be
        # skipped.
        a_score = round(a_score, 6)

        def strictly_after(t: tuple[int, float]) -> bool:
            doc, score = t
            return score < a_score or (score == a_score and doc > a_doc)

        internal_k = 4 * k
        while True:
            full = self.search(query, internal_k, method=method)
            raw = dict(full)
            ranked = sorted(((d, round(s, 6)) for d, s in full),
                            key=lambda t: (-t[1], t[0]))
            page = [(d, raw[d]) for d, s in ranked
                    if strictly_after((d, s))][:k]
            if len(page) >= k or len(full) < internal_k:
                return page
            internal_k *= 4

    def query_string(self, query: str, k: int = 10,
                     default_operator: str = "or",
                     minimum_should_match: int = 1,
                     ) -> list[tuple[int, float]]:
        """ES ``simple_query_string`` through the serving tier — the
        search-box endpoint. Driver-side set algebra + numpy BM25 over
        the reader's postings below
        ``DISTRIBUTED_CORPUS_THRESHOLD``; the distributed index plan
        (:func:`querystring.query_string_topk_from_index`) above it.
        Rank-identical to the scan compile (tested)."""
        from deces_dataprep_spark.index.querystring import (
            query_string_serve,
        )

        return query_string_serve(self, query, k, default_operator,
                                  minimum_should_match)


def bm25_topk_from_index(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int = 10,
    round_digits: int | None = None,
    n_docs: int | None = None,
    avgdl: float | None = None,
    after_score: float | None = None,
    after_doc_id: int | None = None,
    dfs: dict | None = None,
) -> DataFrame:
    """Distributed BM25 top-k served FROM THE INDEX as one declarative
    plan — the cluster-scale path when the candidate set is too large
    for driver-side WAND/TAAT (or when scoring feeds another job):

    postings(term IN q)  →  explode(arrays_zip(doc_gaps, tfs)) (JVM)
      → join norms on (shard, docnum) for doc_id and dl
      → broadcast df map → score → groupBy(doc) sum → TakeOrderedAndProject

    Only the query's posting blocks are scanned (parquet pushdown); the
    heavy decode+score work runs where the blocks live; exactly one
    top-k row set reaches the driver. Rank-identical to QueryEngine and
    to the raw-docs SQL oracle (tested).
    """
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    agg = bm25_scores_from_index(spark, tables, terms, n_docs, avgdl, dfs=dfs)
    if round_digits is not None:
        agg = agg.withColumn("score", F.round("score", round_digits))
    if after_score is not None:
        agg = agg.filter(search_after_filter(after_score, int(after_doc_id)))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _resolve_dfs(tables: IndexTables, terms: list,
                 dfs: dict | None) -> dict:
    """df per query term: restrict a caller-supplied full dictionary
    (``QueryEngine.reader.dictionary()``) to the query's terms, or fall
    back to the per-query pushdown filter+collect — identical values
    either way; the in-memory path just costs zero Spark jobs."""
    if dfs is None:
        return {
            r["term"]: int(r["df"])
            for r in tables.dictionary.filter(
                F.col("term").isin(terms)).collect()
        }
    return {t: int(dfs[t]) for t in terms if t in dfs}


def _decoded_postings(tables: IndexTables, terms: list[str],
                      dl: bool = False) -> DataFrame:
    """``(term, doc_id, tf[, dl])`` rows of the terms' posting blocks
    only (parquet pushdown on ``term``), decoded in the JVM and mapped
    back to doc_ids by one join with the norms on ``(shard, docnum)`` —
    the decode boundary of every index-backed Spark route. ``dl`` takes
    the doc length from the same join."""
    from deces_dataprep_spark.index.codec import explode_blocks

    norms = tables.norms.select(
        "shard", "docnum", "doc_id",
        *([F.col("doc_len").alias("dl")] if dl else []))
    return explode_blocks(
        tables.postings.filter(F.col("term").isin(terms)), "shard", "term",
    ).join(norms, ["shard", "docnum"]).drop("shard", "docnum")


def bm25_scores_from_index(
    spark: SparkSession,
    tables: IndexTables,
    terms: list[str],
    n_docs: int | None = None,
    avgdl: float | None = None,
    dfs: dict | None = None,
) -> DataFrame:
    """ALL (doc_id, score) rows for an analyzed term set, served from
    the index — the shared unrounded scoring plan under
    :func:`bm25_topk_from_index` and :func:`multi_match_from_index`
    (which must sum FULL per-field score sets: truncating per field
    before the sum would drop docs ranked just below k in every single
    field but inside the global top-k)."""
    if n_docs is None or avgdl is None:
        stats = tables.stats.collect()[0]
        n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    dfs = _resolve_dfs(tables, terms, dfs)
    if not dfs:
        return spark.createDataFrame([], "doc_id long, score double")
    idf_map = F.create_map(*[
        x for t, df in dfs.items()
        for x in (F.lit(t), F.lit(float(bm25.idf(df, n_docs))))
    ])
    with_dl = _decoded_postings(tables, terms, dl=True).select(
        "doc_id", idf_map[F.col("term")].alias("idf"), "tf", "dl")
    norm = F.lit(bm25.K1) * (
        F.lit(1.0 - bm25.B) + F.lit(bm25.B) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    contrib = F.col("idf") * (
        F.col("tf").cast("double") / (F.col("tf").cast("double") + norm)
    )
    return with_dl.select("doc_id", contrib.alias("c")).groupBy("doc_id").agg(
        F.sum("c").alias("score")
    )


def multi_match_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    fields: dict[str, float],
    k: int = 10,
    id_col: str = "doc_id",
    round_digits: int | None = 6,
    match_type: str = "most_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES ``multi_match`` with per-field boosts over raw docs, every
    field scored against its OWN statistics (df, dl, avgdl) — the
    reference's index declares many analyzed fields per doc and the
    matchid front searches across them with boosts
    (deces_index.yml:49-75: PRENOMS_NOM, NOM, PRENOM …).

    ``match_type`` picks the ES combine semantics:

    * ``most_fields`` — ``score = Σ_field boost_f · BM25_f`` (the
      each-field-adds-signal model);
    * ``best_fields`` — ES's DEFAULT type, a ``dis_max``:
      ``score = max_f + tie_breaker · Σ_{others}`` over the boosted
      per-field scores (the fields-compete model; ``tie_breaker=0``
      is pure dis_max, ``1.0`` degenerates to most_fields).

    ``fields`` maps column name → boost. Plan: one `_bm25_scores_df`
    branch per field (unrounded), unionByName, one map-side-combinable
    groupBy(doc_id) max+sum. Rounded once at the end so the Spark plan
    and the SQL oracle round the identical quantity."""
    terms = analyze_query(query)
    if not terms or not fields:
        return spark.createDataFrame([], "doc_id long, score double")
    parts = [
        _bm25_scores_df(docs, terms, id_col, fld, round_digits=None)
        .withColumn("score", F.col("score") * F.lit(float(boost)))
        for fld, boost in fields.items()
    ]
    return _combine_fields_topk(parts, k, round_digits,
                                match_type, tie_breaker)


def _combine_fields_topk(parts: list[DataFrame], k: int,
                         round_digits: int | None,
                         match_type: str = "most_fields",
                         tie_breaker: float = 0.0) -> DataFrame:
    """Shared multi_match tail — union of boosted per-field score
    frames → ONE map-side-combinable groupBy (sum for most_fields,
    max+sum for the best_fields dis_max) → round → (score desc, doc_id
    asc) top-k. One implementation so the scan and index routes cannot
    drift in rounding/tie-break semantics. Each input frame carries at
    most one row per doc (a per-field score set), so ``max`` really is
    "best field" and ``sum - max`` "the other fields"."""
    if match_type not in ("most_fields", "best_fields"):
        raise ValueError(f"unknown multi_match type: {match_type!r}")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    if match_type == "most_fields":
        agg = u.groupBy("doc_id").agg(F.sum("score").alias("score"))
    else:
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("best"), F.sum("score").alias("tot"))
        agg = agg.select(
            "doc_id",
            (F.col("best") + F.lit(float(tie_breaker))
             * (F.col("tot") - F.col("best"))).alias("score"))
    if round_digits is not None:
        agg = agg.withColumn("score", F.round("score", round_digits))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def multi_match_from_index(
    spark: SparkSession,
    field_tables: dict[str, tuple[IndexTables, float]],
    query: str,
    k: int = 10,
    round_digits: int | None = 6,
    match_type: str = "most_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """The serving twin of :func:`multi_match_topk_df`: one index PER
    FIELD (the ES model — every analyzed field is its own inverted
    index), each contributing its full boosted score set via
    :func:`bm25_scores_from_index`; union → one combinable
    max+sum → top-k. Rank-identical to the scan plan (tested), for
    both ``most_fields`` and ``best_fields``."""
    terms = analyze_query(query)
    if not terms or not field_tables:
        return spark.createDataFrame([], "doc_id long, score double")
    parts = [
        bm25_scores_from_index(spark, tables, terms)
        .withColumn("score", F.col("score") * F.lit(float(boost)))
        for fld, (tables, boost) in field_tables.items()
    ]
    return _combine_fields_topk(parts, k, round_digits,
                                match_type, tie_breaker)


def multi_match_serve(
    field_engines: dict[str, tuple["QueryEngine", float]],
    query: str,
    k: int = 10,
    round_digits: int | None = 6,
    match_type: str = "most_fields",
    tie_breaker: float = 0.0,
) -> list[tuple[int, float]]:
    """The DRIVER/ARROW serving route for multi_match — the third route
    in the matrix (scan plan / per-field-index Spark plan / this): one
    :class:`QueryEngine` per analyzed field (arrow readers need no
    Spark job at all), full per-field score sets via the shared dense
    TAAT accumulator (:func:`wand.taat_scores` — summing truncated
    per-field top-ks would be wrong), boosted cross-field sum in numpy,
    exact (score desc, doc_id asc) top-k. Rank-identical to the scan
    and Spark-index plans (tested). Latency profile is the TAAT hot
    path × fields: postings and the (pos, contribution) memo are cached
    per engine, so repeat queries skip decode entirely.

    The dense accumulator allocates O(n_docs) numpy arrays per shard
    per field — fine for a serving node's shard, fatal for a 100×
    corpus. Above ``QueryEngine.DISTRIBUTED_CORPUS_THRESHOLD`` docs
    this auto-routes to :func:`multi_match_from_index` (rank-identical,
    tested; only the k result rows reach the driver), mirroring
    ``QueryEngine.search``'s corpus-size routing."""
    import numpy as np

    terms = analyze_query(query)
    if not terms or not field_engines:
        return []
    if match_type not in ("most_fields", "best_fields"):
        raise ValueError(f"unknown multi_match type: {match_type!r}")
    if any(eng.n_docs > QueryEngine.DISTRIBUTED_CORPUS_THRESHOLD
           for eng, _ in field_engines.values()):
        df = multi_match_from_index(
            next(iter(field_engines.values()))[0].session,
            {f: (eng.tables, boost)
             for f, (eng, boost) in field_engines.items()},
            query, k, round_digits,
            match_type=match_type, tie_breaker=tie_breaker,
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
    all_ids, all_sc = [], []
    for _fld, (eng, boost) in field_engines.items():
        by_shard = eng._fetch_term_postings(terms)
        for shard, tps in by_shard.items():
            ids, dls, _ = eng._shard_norms_np(shard)
            if ids.size == 0:
                continue
            from deces_dataprep_spark.index.wand import taat_scores

            acc = taat_scores(tps, eng.n_docs, eng.avgdl, ids, dls)
            if acc is None:
                continue
            nz = np.flatnonzero(acc > 0.0)
            if nz.size:
                all_ids.append(ids[nz].astype(np.int64))
                all_sc.append(acc[nz] * float(boost))
    if not all_ids:
        return []
    ids = np.concatenate(all_ids)
    sc = np.concatenate(all_sc)
    order = np.argsort(ids, kind="stable")
    ids, sc = ids[order], sc[order]
    starts = np.concatenate(([0], np.flatnonzero(ids[1:] != ids[:-1]) + 1))
    uids = ids[starts]
    sums = np.add.reduceat(sc, starts)
    if match_type == "best_fields":
        # one entry per (doc, field) in sc — each engine's shards hold
        # disjoint doc sets — so the segment max IS the best field
        best = np.maximum.reduceat(sc, starts)
        sums = best + float(tie_breaker) * (sums - best)
    return topk_rounded(uids, sums, k, round_digits)


def duckdb_multi_match_sql(
    query: str,
    fields: dict[str, float],
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
    match_type: str = "most_fields",
    tie_breaker: float = 0.0,
) -> str:
    """DuckDB oracle twin of :func:`multi_match_topk_df` — ``fields``
    maps a SQL column EXPRESSION (e.g. ``substr(text, 1, 80)``) to its
    boost; per-field stats, most_fields boosted sum or best_fields
    dis_max (``max + tie_breaker·(sum − max)``), one final rounding."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    terms_sql = ", ".join(f"'{t}'" for t in terms) or "NULL"
    ctes, selects = [], []
    for i, (expr, boost) in enumerate(fields.items()):
        score = bm25.duckdb_bm25_sql(
            "tf", "df", "dl",
            f"(select n_docs from f{i}_stats)",
            f"(select avgdl from f{i}_stats)",
        )
        ctes.append(f"""
f{i}_d AS (
  SELECT doc_id, toks AS tokens, len(toks)::BIGINT AS dl
  FROM (SELECT doc_id, {duckdb_tokens_sql(expr)} AS toks FROM {table})
),
f{i}_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM f{i}_d),
f{i}_tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM f{i}_d)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
),
f{i}_df AS (SELECT term, count(*)::BIGINT AS df FROM f{i}_tf GROUP BY term),
f{i}_s AS (
  SELECT doc_id, {float(boost)!r} * sum({score}) AS s
  FROM f{i}_tf JOIN f{i}_df USING (term) GROUP BY doc_id
)""")
        selects.append(f"SELECT * FROM f{i}_s")
    if match_type == "most_fields":
        combined = f"round(sum(s), {round_digits})"
    elif match_type == "best_fields":
        combined = (f"round(max(s) + {float(tie_breaker)!r}"
                    f" * (sum(s) - max(s)), {round_digits})")
    else:
        raise ValueError(f"unknown multi_match type: {match_type!r}")
    return f"""
WITH {", ".join(ctes)}
SELECT doc_id, {combined} AS score
FROM ({" UNION ALL ".join(selects)})
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def cross_fields_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    fields: dict[str, float],
    k: int = 10,
    id_col: str = "doc_id",
    round_digits: int | None = 6,
    tie_breaker: float = 0.0,
    tokenizer=None,
    operator: str = "or",
) -> DataFrame:
    """ES ``multi_match type=cross_fields`` — the TERM-CENTRIC third
    multi_match type, and for person-name search the canonical one: the
    deces use case queries ``PRENOM`` + ``NOM`` as one logical field
    (deces_index.yml:49-75 declares the PRENOM/NOM/PRENOMS_NOM family
    precisely because first/last names split across columns).

    Semantics (Lucene ``BlendedTermQuery``): analyze the query into
    terms; every term may match in ANY field *as if the fields were
    one*; the per-term df is BLENDED across fields (max of the
    per-field dfs — Lucene's blend) so a term rare in one field but
    common in another is not over-rewarded; each (term, field) score
    uses the blended df with the FIELD-LOCAL tf/dl/avgdl norm
    (BlendedTermQuery overrides only the term stats, collection norms
    stay per-field); per TERM the fields combine as dis_max
    (``max + tie_breaker·(sum − max)``), then terms sum. Contrast:
    best_fields dis_maxes whole-field totals, most_fields sums them —
    both doc-centric.

    Plan: ONE stats job (N + every field's avgdl in a single agg), one
    term-filtered explode per field, union tagged by field, a
    term-cardinality blended-df frame broadcast back, then TWO
    combinable groupBys (term-level dis_max, doc-level sum) and a
    TakeOrderedAndProject. Nothing corpus-sized leaves the executors."""
    from deces_dataprep_spark.functions.analyze import tokens_col

    terms = analyze_query(query)
    if not terms or not fields:
        return spark.createDataFrame([], "doc_id long, score double")
    tok = tokenizer or tokens_col
    flds = list(fields.items())
    srow = docs.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.avg(F.size(tok(f)).cast("double")).alias(f"a{i}")
          for i, (f, _) in enumerate(flds)],
    ).collect()[0]
    n_docs = int(srow["n"])
    parts = []
    for i, (fld, boost) in enumerate(flds):
        avgdl_f = float(srow[f"a{i}"])
        toks = docs.select(
            F.col(id_col).alias("doc_id"), tok(fld).alias("tokens")
        ).withColumn("dl", F.size("tokens").cast("long"))
        tf = (
            toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
            .filter(F.col("term").isin(terms))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        )
        parts.append(tf.select(
            "doc_id", "term", "tf", "dl",
            F.lit(i).alias("fld"),
            F.lit(float(boost)).alias("boost"),
            F.lit(avgdl_f).alias("avgdl")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # blended df: max of the per-(term, field) dfs — term-cardinality
    # frame, broadcast back onto the posting rows
    dfm = (
        u.groupBy("term", "fld").agg(F.count(F.lit(1)).alias("df"))
        .groupBy("term").agg(F.max("df").alias("df"))
    )
    scored = u.join(F.broadcast(dfm), "term").select(
        "doc_id", "term",
        (F.col("boost") * bm25.bm25_score_col(
            F.col("tf"), F.col("df"), F.col("dl"), n_docs,
            F.col("avgdl"))).alias("c"),
    )
    return _cross_fields_tail(scored, k, round_digits, tie_breaker,
                              _cf_required(operator, terms))


def _cross_fields_tail(scored: DataFrame, k: int,
                       round_digits: int | None,
                       tie_breaker: float,
                       n_required: int | None = None) -> DataFrame:
    """Shared cross_fields combine: (doc_id, term, c) rows — one per
    (doc, term, field) — → per-TERM dis_max across fields → per-doc sum
    → round → (score desc, doc_id asc) top-k. One implementation so the
    scan and index routes cannot drift (same contract as
    :func:`_combine_fields_topk` for the doc-centric types).
    ``n_required`` is ES ``operator=and``: keep only docs matching ALL
    n query terms (each in at least one field) — per_term carries one
    row per matched (doc, term), so a combinable count is coverage."""
    per_term = scored.groupBy("doc_id", "term").agg(
        F.max("c").alias("best"), F.sum("c").alias("tot"))
    per_term = per_term.select(
        "doc_id",
        (F.col("best") + F.lit(float(tie_breaker))
         * (F.col("tot") - F.col("best"))).alias("s"))
    agg = per_term.groupBy("doc_id").agg(
        F.sum("s").alias("score"), F.count(F.lit(1)).alias("__nt"))
    if n_required is not None:
        agg = agg.filter(F.col("__nt") == int(n_required))
    agg = agg.drop("__nt")
    if round_digits is not None:
        agg = agg.withColumn("score", F.round("score", round_digits))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _cf_required(operator: str, terms: list[str]) -> int | None:
    """ES multi_match ``operator`` knob → the all-terms coverage count
    for ``and``, None for the default ``or``."""
    if operator == "or":
        return None
    if operator == "and":
        return len(dict.fromkeys(terms))
    raise ValueError(f"unknown operator: {operator!r}")


def cross_fields_from_index(
    spark: SparkSession,
    field_tables: dict[str, tuple[IndexTables, float]],
    query: str,
    k: int = 10,
    round_digits: int | None = 6,
    tie_breaker: float = 0.0,
    operator: str = "or",
) -> DataFrame:
    """cross_fields served from one index PER FIELD: per-field df from
    the dictionaries (term-cardinality collects) → blended max df →
    per-field posting decode tagged with term, with doc_id and dl from
    one norms join → blended-idf scoring → the shared term-level
    dis_max tail.
    Rank-identical to :func:`cross_fields_topk_df` (tested)."""
    terms = analyze_query(query)
    if not terms or not field_tables:
        return spark.createDataFrame([], "doc_id long, score double")
    flds = list(field_tables.items())
    stats0 = flds[0][1][0].stats.collect()[0]
    n_docs = int(stats0["n_docs"])
    blend: dict[str, int] = {}
    for _f, (tables, _b) in flds:
        for r in tables.dictionary.filter(F.col("term").isin(terms)).collect():
            t, d = r["term"], int(r["df"])
            if d > blend.get(t, 0):
                blend[t] = d
    if not blend:
        return spark.createDataFrame([], "doc_id long, score double")
    idf_items = []
    for t, d in blend.items():
        idf_items.extend([F.lit(t), F.lit(float(bm25.idf(d, n_docs)))])
    idf_expr = F.element_at(F.create_map(*idf_items), F.col("term"))
    parts = []
    for _f, (tables, boost) in flds:
        st = tables.stats.collect()[0]
        avgdl_f = float(st["avgdl"])
        with_dl = _decoded_postings(tables, terms, dl=True)
        norm = F.lit(bm25.K1) * (
            F.lit(1.0 - bm25.B)
            + F.lit(bm25.B) * F.col("dl").cast("double") / F.lit(avgdl_f))
        contrib = F.lit(float(boost)) * idf_expr * (
            F.col("tf").cast("double") / (F.col("tf").cast("double") + norm))
        parts.append(with_dl.select("doc_id", "term", contrib.alias("c")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _cross_fields_tail(u, k, round_digits, tie_breaker,
                              _cf_required(operator, terms))


def cross_fields_serve(
    field_engines: dict[str, tuple["QueryEngine", float]],
    query: str,
    k: int = 10,
    round_digits: int | None = 6,
    tie_breaker: float = 0.0,
    operator: str = "or",
) -> list[tuple[int, float]]:
    """The driver/arrow serving route for cross_fields: per-field
    postings via each engine's term cache, blended max-df idf, numpy
    segment reductions for the term-level dis_max and doc-level sum.
    Rank-identical to the scan and Spark-index plans (tested). Same
    corpus-size routing as :func:`multi_match_serve` — above
    ``DISTRIBUTED_CORPUS_THRESHOLD`` docs the dense driver arrays are
    forbidden and the call degrades to the distributed plan."""
    import numpy as np

    from deces_dataprep_spark.index.wand import decode_term_arrays

    terms = analyze_query(query)
    if not terms or not field_engines:
        return []
    if any(eng.n_docs > QueryEngine.DISTRIBUTED_CORPUS_THRESHOLD
           for eng, _ in field_engines.values()):
        df = cross_fields_from_index(
            next(iter(field_engines.values()))[0].session,
            {f: (eng.tables, boost)
             for f, (eng, boost) in field_engines.items()},
            query, k, round_digits, tie_breaker=tie_breaker,
            operator=operator)
        return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
    term_ix = {t: i for i, t in enumerate(terms)}
    fetched = []
    blend: dict[str, int] = {}
    for _f, (eng, boost) in field_engines.items():
        by_shard = eng._fetch_term_postings(terms)
        fetched.append((eng, boost, by_shard))
        for tps in by_shard.values():
            for tp in tps:
                if tp.df > blend.get(tp.term, 0):
                    blend[tp.term] = tp.df
    if not blend:
        return []
    n_docs = fetched[0][0].n_docs
    idf_b = {t: float(bm25.idf(d, n_docs)) for t, d in blend.items()}
    tks, dks, cks = [], [], []
    for eng, boost, by_shard in fetched:
        for shard, tps in by_shard.items():
            norm_ids, norm_dls, _ = eng._shard_norms_np(shard)
            if norm_ids.size == 0:
                continue
            for tp in tps:
                ids, tfs = decode_term_arrays(tp)
                if ids.size == 0:
                    continue
                pos = np.searchsorted(norm_ids, ids.astype(np.uint64))
                dls = norm_dls[pos]
                t = tfs.astype(np.float64)
                c = idf_b[tp.term] * (
                    t / (t + bm25.K1 * (1.0 - bm25.B
                                        + bm25.B * (dls / eng.avgdl))))
                tks.append(np.full(ids.size, term_ix[tp.term], np.int64))
                dks.append(ids.astype(np.int64))
                cks.append(c * float(boost))
    if not dks:
        return []
    tk = np.concatenate(tks)
    dk = np.concatenate(dks)
    ck = np.concatenate(cks)
    order = np.lexsort((dk, tk))
    tk, dk, ck = tk[order], dk[order], ck[order]
    seg = np.concatenate(([0], np.flatnonzero(
        (tk[1:] != tk[:-1]) | (dk[1:] != dk[:-1])) + 1))
    best = np.maximum.reduceat(ck, seg)
    tot = np.add.reduceat(ck, seg)
    s = best + float(tie_breaker) * (tot - best)
    docs = dk[seg]
    order = np.argsort(docs, kind="stable")
    docs, s = docs[order], s[order]
    starts = np.concatenate(([0], np.flatnonzero(docs[1:] != docs[:-1]) + 1))
    uids = docs[starts]
    sums = np.add.reduceat(s, starts)
    n_req = _cf_required(operator, terms)
    if n_req is not None:
        # one segment per matched (doc, term) — segment count per doc
        # IS term coverage
        nts = np.add.reduceat(np.ones(docs.size, np.int64), starts)
        keep = nts == n_req
        uids, sums = uids[keep], sums[keep]
    return topk_rounded(uids, sums, k, round_digits)


def duckdb_cross_fields_sql(
    query: str,
    fields: dict[str, float],
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
    tie_breaker: float = 0.0,
    operator: str = "or",
) -> str:
    """DuckDB oracle twin of :func:`cross_fields_topk_df` — ``fields``
    maps a SQL column EXPRESSION to its boost; per-field tf/dl/avgdl,
    blended max df across fields, term-level dis_max, doc-level sum."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    terms_sql = ", ".join(f"'{t}'" for t in terms) or "NULL"
    n_req = _cf_required(operator, terms)
    having = f"HAVING count(*) = {n_req}" if n_req is not None else ""
    ctes, selects, df_selects = [], [], []
    for i, (expr, boost) in enumerate(fields.items()):
        ctes.append(f"""
f{i}_d AS (
  SELECT doc_id, toks AS tokens, len(toks)::BIGINT AS dl
  FROM (SELECT doc_id, {duckdb_tokens_sql(expr)} AS toks FROM {table})
),
f{i}_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
               FROM f{i}_d),
f{i}_tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM f{i}_d)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
)""")
        df_selects.append(
            f"SELECT term, count(*)::BIGINT AS df FROM f{i}_tf GROUP BY term")
        score = bm25.duckdb_bm25_sql(
            "tf", "df", "dl",
            "(select n_docs from f0_stats)",
            f"(select avgdl from f{i}_stats)",
        )
        selects.append(
            f"SELECT doc_id, term, {float(boost)!r} * ({score}) AS c "
            f"FROM f{i}_tf JOIN blend USING (term)")
    return f"""
WITH {", ".join(ctes)},
blend AS (
  SELECT term, max(df) AS df
  FROM ({" UNION ALL ".join(df_selects)})
  GROUP BY term
),
tfs AS ({" UNION ALL ".join(selects)}),
per_term AS (
  SELECT doc_id,
         max(c) + {float(tie_breaker)!r} * (sum(c) - max(c)) AS s
  FROM tfs GROUP BY doc_id, term
)
SELECT doc_id, round(sum(s), {round_digits}) AS score
FROM per_term
GROUP BY doc_id
{having}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_topk_broadcast(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int = 10,
    n_docs: int | None = None,
    avgdl: float | None = None,
    round_digits: int | None = None,
    dfs: dict | None = None,
) -> DataFrame:
    """Distributed BM25 with ZERO shuffle: broadcast the query's decoded
    postings, scan the norms table once, score per Arrow batch in numpy,
    per-batch top-k → ``TakeOrderedAndProject`` merge.

    The three distributed serving plans and when each wins:

    * driver WAND/TAAT — selective queries, sandbox/shard-local scale;
    * THIS — dense queries whose decoded postings fit a broadcast
      (~tens of MB): the corpus-sized side (norms) is scanned columnar
      with no Exchange, where :func:`bm25_topk_from_index` would
      shuffle the postings-sized decode output into a join;
    * :func:`bm25_topk_from_index` — when even the query's postings are
      too big to broadcast (head terms at extreme corpus sizes).

    Exact: every doc's full score is computed inside the one batch that
    owns its norms row, so per-batch top-k then global merge loses
    nothing. Rank-identical to all other routes (tested).
    """
    import numpy as np

    from deces_dataprep_spark.index.codec import decode_blocks_concat

    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    if n_docs is None or avgdl is None:
        stats = tables.stats.collect()[0]
        n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    dfs = _resolve_dfs(tables, terms, dfs)
    if not dfs:
        return spark.createDataFrame([], "doc_id long, score double")

    t = (
        tables.postings.filter(F.col("term").isin(terms))
        .select("shard", "term", "n_docs", "first_doc", "doc_gaps", "tfs")
        .toArrow()
    )
    keys_all, tfs_all = decode_blocks_concat(
        t["doc_gaps"], t["tfs"], t["first_doc"].to_numpy(),
        t["n_docs"].to_numpy())
    block_term = np.asarray(t["term"].to_pylist(), dtype=object)
    post_term = np.repeat(block_term, t["n_docs"].to_numpy())
    post_shard = np.repeat(t["shard"].to_numpy(), t["n_docs"].to_numpy())
    # shard -> [(idf, sorted docnums, tfs)]: the executors match the
    # postings to their norms rows on (shard, docnum)
    payload: dict[int, list] = {}
    for term in dict.fromkeys(block_term.tolist()):
        idf = float(bm25.idf(dfs[term], n_docs))
        of_term = post_term == term
        for shard in np.unique(post_shard[of_term]).tolist():
            sel = of_term & (post_shard == shard)
            keys, tfs = keys_all[sel].astype(np.int64), tfs_all[sel]
            order = np.argsort(keys)
            payload.setdefault(shard, []).append(
                (idf, keys[order], tfs[order].astype(np.float64)))
    bc = spark.sparkContext.broadcast(payload)
    k1, b, av = float(bm25.K1), float(bm25.B), float(avgdl)
    rd = round_digits

    def score(batches):
        import numpy as np
        import pandas as pd

        for batch in batches:
            if batch.empty:
                continue
            sh = batch["shard"].to_numpy(np.int64)
            num = batch["docnum"].to_numpy(np.int64)
            order = np.lexsort((num, sh))
            sh, num = sh[order], num[order]
            doc_s = batch["doc_id"].to_numpy(np.int64)[order]
            dl_s = batch["doc_len"].to_numpy(np.float64)[order]
            acc = np.zeros(doc_s.size, np.float64)
            for shard, postings in bc.value.items():
                lo, hi = np.searchsorted(sh, [shard, shard + 1])
                num_s = num[lo:hi]
                for idf, t_nums, t_tfs in postings:
                    pos = np.searchsorted(num_s, t_nums)
                    ok = (pos < num_s.size)
                    ok[ok] = num_s[pos[ok]] == t_nums[ok]
                    p, tf = lo + pos[ok], t_tfs[ok]
                    denom = tf + k1 * (1.0 - b + b * (dl_s[p] / av))
                    np.add.at(acc, p, idf * (tf / denom))
            nz = np.flatnonzero(acc > 0.0)
            if nz.size == 0:
                continue
            kk = min(len(nz), max(k, 1))
            part = np.argpartition(-acc[nz], kk - 1)[:kk]
            kth = float(acc[nz[part]].min())
            # keep EVERY doc at (or, under rounding, within one ulp-of-
            # round of) the k-th score — an argpartition cut alone picks
            # an arbitrary subset of a tie group (exact-duplicate docs),
            # which can violate the (score desc, doc_id asc) contract
            # after the global merge. round(v) >= round(kth) implies
            # v >= kth - 10^-rd, so a 2x margin is sufficient; the
            # global orderBy + limit does the final tie-break.
            cut = kth if rd is None else kth - 2.0 * 10.0 ** (-rd)
            sel = nz[acc[nz] >= cut]
            yield pd.DataFrame({"doc_id": doc_s[sel], "score": acc[sel]})

    scored = tables.norms.select(
        "shard", "docnum", "doc_id", "doc_len").mapInPandas(
        score, "doc_id long, score double")
    if round_digits is not None:
        scored = scored.withColumn("score", F.round("score", round_digits))
    out = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    # the broadcast must outlive the (lazy) plan; callers that collect
    # immediately should destroy it afterwards (QueryEngine does) —
    # otherwise a long-lived serving process leaks one multi-MB
    # broadcast per query
    out._dds_broadcast = bc
    return out


def bm25_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
    tokenizer=None,
) -> DataFrame:
    """Exhaustive Spark-SQL BM25 oracle — one declarative plan.

    tokenize (native) → explode → tf/df aggregation → score → top-k.
    Catalyst plans this as codegen'd aggregates + a broadcast of the
    tiny per-term df map + ``TakeOrderedAndProject`` — no Python on the
    hot path. Scores are rounded *before* ordering so ranking is stable
    across engines (oracle parity), tie-break doc_id asc.
    """
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    agg = _bm25_scores_df(docs, terms, id_col, text_col, round_digits,
                          tokenizer)
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _bm25_scores_df(docs, terms, id_col="doc_id", text_col="text",
                    round_digits=6, tokenizer=None) -> DataFrame:
    """All (doc_id, score) rows for the term set — the shared scoring
    plan under topk / search_after / facets.

    The tf pass filters the token ARRAY to the query terms before
    exploding (one interpreted membership pass per row), so the
    generator emits only matching occurrences instead of every token —
    at 400k web docs that is ~1M rows out of the generate instead of
    90M rows generated then filtered (measured 8.3 s → ~4.5 s for the
    full oracle query). Identical tf/df/score values: the per-(doc,
    term) occurrence counts are unchanged.

    One corpus pass total (round 6): BM25 needs global n_docs/avgdl
    before the score expression exists, which used to cost a SECOND
    full pass over the text (a regexp_count stats aggregation). Now the
    narrow per-doc projection (doc_id, dl, query-term hits — the
    lightweight proxy of guide §8: decide with small rows) is
    ``localCheckpoint``-ed once, the stats aggregate reads it back
    instead of re-scanning the corpus, and the tf/score plan reads the
    same checkpoint. Values are identical by construction: dl is the
    same ``size(tokens)`` long, and the tf/df/score chain is unchanged
    — it just scans checkpointed rows instead of re-tokenizing
    (measured 5.5 → ~3.4 s for the full oracle query on the bench
    corpus). The checkpoint is per-invocation derived data (nothing
    persists across runs), sized n_docs × (2 longs + matched terms).

    This is the scan route's score source (:class:`_ScanSource`), and
    the checkpoint has two consequences a caller inherits:

    * Its blocks live in the executors' block managers until the
      returned DataFrame (and every plan built on it) is garbage-
      collected on the driver and Spark's ContextCleaner drops them —
      not when the query finishes. A long-lived handle to the result
      pins n_docs-sized blocks.
    * It truncates lineage: losing an executor that holds some of its
      blocks fails the query (missing checkpoint block) instead of
      recomputing the lost partitions. Re-run the call to rebuild it.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        (tokenizer or tokens_col)(text_col).alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))

    terms_arr = F.array(*[F.lit(t) for t in terms])
    # tokens is projected ONCE (non-cheap alias referenced twice: size +
    # the membership filter — CollapseProject keeps the boundary);
    # explode_outer + post-filter, NOT explode: plain explode generates
    # an implicit size>0 pre-filter that Catalyst pushes below the
    # projection with the full filter expression substituted in,
    # re-evaluating the membership pass per row (same trap as the
    # builder's explode — see postings_plan_from_tokens).
    hits = toks.select(
        "doc_id", "dl",
        F.filter(F.col("tokens"),
                 lambda t: F.array_contains(terms_arr, t)).alias("__hits"),
    ).localCheckpoint()

    stats = hits.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    tf = (
        hits.select("doc_id", "dl", F.explode_outer("__hits").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_map = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_map), "term").withColumn(
        "contrib",
        bm25.bm25_score_col(F.col("tf"), F.col("df"), F.col("dl"), n_docs, avgdl),
    )
    agg = scored.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    if round_digits is not None:
        agg = agg.withColumn("score", F.round(F.col("score"), round_digits))
    return agg


def search_after_filter(after_score: float, after_doc_id: int) -> "F.Column":
    """The deterministic deep-pagination cursor predicate (ES
    ``search_after`` parity): strictly after (score desc, doc_id asc).
    Scores must be rounded identically on both pages — the engine
    rounds BEFORE ordering for exactly this reason."""
    return (F.col("score") < F.lit(after_score)) | (
        (F.col("score") == F.lit(after_score))
        & (F.col("doc_id") > F.lit(after_doc_id))
    )


def bm25_search_after_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    k: int = 10,
    after_score: float | None = None,
    after_doc_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``search_after`` parity over the raw docs: the page strictly
    after cursor ``(after_score, after_doc_id)`` in (score desc, doc_id
    asc) order. Stateless deep pagination — unlike OFFSET, the plan
    stays ``filter → TakeOrderedAndProject`` at any depth (no page-N
    scan-and-discard), which is why ES mandates it beyond 10k hits."""
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    agg = _bm25_scores_df(docs, terms, id_col, text_col, round_digits)
    if after_score is not None:
        agg = agg.filter(search_after_filter(after_score, int(after_doc_id)))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# match-and-score sources: the scan (``*_df``) and index (``*_from_index``)
# routes of a feature share one body, written against one of these
# ---------------------------------------------------------------------------


def _terms_condition(toks: "F.Column", terms: list[str],
                     how: str = "all") -> "F.Column":
    """Per-row membership of the terms in a token array: every term
    (``all`` — filter context, false for an empty term set) or any term
    (``any``). A native conjunction, so the scan stage prunes before any
    shuffle; the one place this condition is built."""
    conj = how == "all"
    return functools.reduce(
        operator.and_ if conj else operator.or_,
        [F.array_contains(toks, t) for t in terms],
        F.lit(conj and bool(terms)))


def _matching_rows(docs: DataFrame, terms: list[str],
                   text_col: str = "text") -> DataFrame:
    """The docs containing ALL terms (none for an empty term set)."""
    if not terms:
        return docs.limit(0)
    return docs.filter(_terms_condition(tokens_col(text_col), terms))


class _Source:
    """What a feature's body takes from its route. Each source gives

    * ``scores(terms, round_digits)`` — all (doc_id, score) BM25 rows of
      the term set, rounded when asked;
    * ``match_ids(terms, how)`` — (doc_id) of the docs containing all
      (``how="all"``) or any (``"any"``) of the terms;
    * ``matching_docs(terms)`` — the rows of ``docs`` containing ALL
      terms (none for an empty term set);
    * ``doc_values(*cols)`` — a (doc_id, *cols) projection of ``docs``.
    """

    def __init__(self, spark: SparkSession, docs: DataFrame | None,
                 id_col: str = "doc_id"):
        self.spark, self.docs, self.id_col = spark, docs, id_col

    def doc_values(self, *cols: "F.Column") -> DataFrame:
        return self.docs.select(F.col(self.id_col).alias("doc_id"), *cols)


class _ScanSource(_Source):
    """The sets computed from the raw docs — the scan route. Issues
    exactly the DataFrame calls the scan routes always made, so their
    plans do not depend on going through a source."""

    def __init__(self, spark: SparkSession, docs: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text"):
        super().__init__(spark, docs, id_col)
        self.text_col = text_col

    def scores(self, terms, round_digits=None):
        return _bm25_scores_df(self.docs, terms, self.id_col, self.text_col,
                               round_digits=round_digits)

    def match_ids(self, terms, how="all"):
        return self.docs.filter(
            _terms_condition(tokens_col(self.text_col), terms, how)
        ).select(F.col(self.id_col).alias("doc_id"))

    def matching_docs(self, terms):
        return _matching_rows(self.docs, terms, self.text_col)


class _IndexSource(_Source):
    """The same sets served from the index: scores and match sets come
    from the query terms' posting blocks only (parquet pushdown); doc
    rows and values from ``docs``, a doc-metadata table keyed by
    ``id_col`` that needs no text column."""

    def __init__(self, spark: SparkSession, tables: IndexTables,
                 docs: DataFrame | None = None, id_col: str = "doc_id"):
        super().__init__(spark, docs, id_col)
        self.tables = tables

    @functools.cached_property
    def _stats(self) -> tuple[int, float]:
        # (n_docs, avgdl), read once: a body may score several term sets
        row = self.tables.stats.collect()[0]
        return int(row["n_docs"]), float(row["avgdl"])

    def scores(self, terms, round_digits=None):
        out = bm25_scores_from_index(self.spark, self.tables, terms,
                                     *self._stats)
        if round_digits is not None:
            out = out.withColumn("score", F.round("score", round_digits))
        return out

    def match_ids(self, terms, how="all"):
        if how == "all":
            return _matching_doc_ids_from_postings(self.tables, terms)
        return _matching_doc_ids_decode(self.tables, terms) \
            .select("doc_id").distinct()

    def matching_docs(self, terms):
        if not terms:
            return self.docs.limit(0)
        ids = self.match_ids(terms)
        if self.id_col != "doc_id":
            ids = ids.withColumnRenamed("doc_id", self.id_col)
        return self.docs.join(ids, self.id_col, "left_semi")


def rescore_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    rescore_query: str,
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """ES ``rescore`` API (query rescorer, ``score_mode: total``): rank
    the corpus with the cheap base query, take the top ``window_size``
    hits, and re-rank ONLY that window by ``query_weight * base +
    rescore_query_weight * secondary`` — the standard
    cheap-retrieval-then-expensive-rerank shape. Docs whose secondary
    query scores nothing keep ``query_weight * base`` (ES semantics).

    ES applies the window PER SHARD; this engine's top-k contract is
    exact and global, so the window is the global top-N — a determinate
    superset of any per-shard window of the same size (documented
    difference, deterministic either way here). Scores are rounded
    before both ranking cuts so window membership and the final order
    are engine-stable (the repo-wide oracle convention)."""
    return _rescore(_ScanSource(spark, docs, id_col, text_col), query,
                    rescore_query, k, window_size, query_weight,
                    rescore_query_weight, round_digits)


def rescore_topk_from_index(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    rescore_query: str,
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    round_digits: int = 6,
) -> DataFrame:
    """The same rescore served FROM THE INDEX: window from the
    distributed top-k plan (posting pushdown), secondary scores from
    the rescore terms' postings only, combined on the ≤window_size
    rows. Rank-identical to :func:`rescore_topk_df` (tested)."""
    return _rescore(_IndexSource(spark, tables), query, rescore_query, k,
                    window_size, query_weight, rescore_query_weight,
                    round_digits)


def _rescore(src, query, rescore_query, k, window_size, query_weight,
             rescore_query_weight, round_digits) -> DataFrame:
    base_terms = analyze_query(query)
    if not base_terms:
        return src.spark.createDataFrame([], "doc_id long, score double")
    window = src.scores(base_terms, round_digits) \
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(window_size)
    re_terms = analyze_query(rescore_query)
    if re_terms:
        sec = src.scores(re_terms, round_digits) \
            .withColumnRenamed("score", "sec_score")
        window = window.join(sec, "doc_id", "left")
    else:
        window = window.withColumn("sec_score", F.lit(None).cast("double"))
    combined = (
        F.lit(float(query_weight)) * F.col("score")
        + F.lit(float(rescore_query_weight))
        * F.coalesce(F.col("sec_score"), F.lit(0.0))
    )
    return (
        window.select(
            "doc_id", F.round(combined, round_digits).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def duckdb_rescore_sql(
    query: str,
    rescore_query: str,
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle for :func:`rescore_topk_df` — two BM25 scoring
    chains over one tokenize, window cut on the rounded base scores."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    base_terms = ", ".join(f"'{t}'" for t in analyze_query(query))
    re_terms = ", ".join(f"'{t}'" for t in analyze_query(rescore_query))
    toks = duckdb_tokens_sql(text_col)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl", "(select n_docs from stats)",
        "(select avgdl from stats)")
    return f"""
WITH docs AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens,
         len({toks})::BIGINT AS dl FROM {table}
),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
ex AS (SELECT doc_id, dl, unnest(tokens) AS term FROM docs),
tf1 AS (SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
        FROM ex WHERE term IN ({base_terms}) GROUP BY doc_id, term),
dfm1 AS (SELECT term, count(*)::BIGINT AS df FROM tf1 GROUP BY term),
s1 AS (SELECT doc_id, round(sum({score}), {round_digits}) AS score
       FROM tf1 JOIN dfm1 USING (term) GROUP BY doc_id),
win AS (SELECT doc_id, score FROM s1
        ORDER BY score DESC, doc_id ASC LIMIT {window_size}),
tf2 AS (SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
        FROM ex WHERE term IN ({re_terms}) GROUP BY doc_id, term),
dfm2 AS (SELECT term, count(*)::BIGINT AS df FROM tf2 GROUP BY term),
s2 AS (SELECT doc_id, round(sum({score}), {round_digits}) AS sec_score
       FROM tf2 JOIN dfm2 USING (term) GROUP BY doc_id)
SELECT doc_id,
       round({query_weight} * win.score
             + {rescore_query_weight} * coalesce(s2.sec_score, 0.0),
             {round_digits}) AS score
FROM win LEFT JOIN s2 USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


_FVF_MODIFIERS = ("none", "log1p", "ln1p", "sqrt")


def _fvf_col(field_col: "F.Column", factor: float, modifier: str,
             missing: float) -> "F.Column":
    """ES ``field_value_factor`` function value as a native Column:
    ``modifier(factor · field)`` with ES's modifier semantics —
    ``log1p`` is **base-10** ``log10(1 + x)`` (ES's log* family is
    base-10; ln* is natural), ``ln1p`` is ``ln(1 + x)``. Missing
    field values take ``missing`` BEFORE factor/modifier, like ES."""
    if modifier not in _FVF_MODIFIERS:
        raise ValueError(f"unknown field_value_factor modifier: {modifier!r}")
    v = F.coalesce(field_col.cast("double"), F.lit(float(missing))) \
        * F.lit(float(factor))
    if modifier == "log1p":
        return F.log10(F.lit(1.0) + v)
    if modifier == "ln1p":
        return F.log1p(v)
    if modifier == "sqrt":
        return F.sqrt(v)
    return v


def function_score_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    field: str,
    factor: float = 1.0,
    modifier: str = "log1p",
    missing: float = 0.0,
    boost_mode: str = "multiply",
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """ES ``function_score`` with a ``field_value_factor`` function:
    rank the query's matches by ``BM25 ∘ fn(doc_field)`` where ``fn =
    modifier(factor · field)`` — the standard relevance×popularity /
    recency shape (boost well-linked or recent pages). ``boost_mode``
    combines: ``multiply`` (ES default) or ``sum``.

    Plan: the sparse BM25 score set (only matching docs) joined to a
    two-column projection of the docs for the factor field — column
    pruning keeps the scan narrow; at serving scale the same combine
    runs over the index route (:func:`function_score_from_index`,
    rank-identical, tested). One final rounding, (score desc, doc_id
    asc) top-k — the repo-wide serving contract."""
    return _function_score(_ScanSource(spark, docs, id_col, text_col),
                           query, field, factor, modifier, missing,
                           boost_mode, k, round_digits)


def function_score_from_index(
    spark: SparkSession,
    tables: IndexTables,
    docs: DataFrame,
    query: str,
    field: str,
    factor: float = 1.0,
    modifier: str = "log1p",
    missing: float = 0.0,
    boost_mode: str = "multiply",
    k: int = 10,
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """:func:`function_score_topk_df` served FROM THE INDEX: the base
    score set comes from the query terms' postings (parquet pushdown,
    nothing corpus-sized moves), the factor field from a two-column
    docs projection — ES keeps the same field in doc values; a columnar
    store IS Spark's parquet column. Rank-identical to the scan plan
    (tested)."""
    return _function_score(_IndexSource(spark, tables, docs, id_col),
                           query, field, factor, modifier, missing,
                           boost_mode, k, round_digits)


def _function_score(src, query, field, factor, modifier, missing,
                    boost_mode, k, round_digits) -> DataFrame:
    terms = analyze_query(query)
    if not terms:
        return src.spark.createDataFrame([], "doc_id long, score double")
    joined = src.scores(terms).join(src.doc_values(F.col(field)),
                                    "doc_id", "left")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError(f"unknown boost_mode: {boost_mode!r}")
    fn = _fvf_col(F.col(field), factor, modifier, missing)
    combined = (F.col("score") * fn if boost_mode == "multiply"
                else F.col("score") + fn)
    return (
        joined.select(
            "doc_id", F.round(combined, round_digits).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def duckdb_function_score_sql(
    query: str,
    field: str,
    factor: float = 1.0,
    modifier: str = "log1p",
    missing: float = 0.0,
    boost_mode: str = "multiply",
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle for :func:`function_score_topk_df` — BM25 chain +
    the same modifier arithmetic (log10/ln/sqrt agree bit-for-bit on
    doubles across engines at 6-digit rounding)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = ", ".join(f"'{t}'" for t in analyze_query(query))
    toks = duckdb_tokens_sql(text_col)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl", "(select n_docs from stats)",
        "(select avgdl from stats)")
    v = f"(coalesce({field}::DOUBLE, {float(missing)!r}) * {float(factor)!r})"
    fn = {"none": v, "log1p": f"log10(1.0 + {v})",
          "ln1p": f"ln(1.0 + {v})", "sqrt": f"sqrt({v})"}[modifier]
    op = "*" if boost_mode == "multiply" else "+"
    return f"""
WITH docs AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens,
         len({toks})::BIGINT AS dl FROM {table}
),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
       FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
       WHERE term IN ({terms}) GROUP BY doc_id, term),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
s AS (SELECT doc_id, sum({score}) AS base
      FROM tf JOIN dfm USING (term) GROUP BY doc_id)
SELECT s.doc_id AS doc_id, round(s.base {op} {fn}, {round_digits}) AS score
FROM s JOIN {table} t ON s.doc_id = t.{id_col}
ORDER BY score DESC, s.doc_id ASC
LIMIT {k}
"""


def facet_stats_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    num_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``stats`` aggregation parity (filter context): count / min /
    max / sum / avg of a numeric field over the docs matching ALL query
    terms. Same shape as :func:`facet_counts_df`: per-row
    ``array_contains`` conjunction (no explode, prunes in the scan
    stage) → ONE map-side-combinable global aggregate — a single row
    reaches the driver at any corpus size."""
    c = F.col(num_col).cast("double")
    out = _matching_rows(docs, analyze_query(query), text_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        F.sum(c).alias("sum_v"),
        F.avg(c).alias("avg_v"),
    )
    if round_digits is not None:
        for col in ("min_v", "max_v", "sum_v", "avg_v"):
            out = out.withColumn(col, F.round(col, round_digits))
    return out


def facet_counts_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    facet_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``terms`` aggregation parity (filter context): docs matching
    ALL query terms, bucketed by ``facet_col``, top-k buckets by count
    (tie → facet value asc). One declarative plan: tokenize →
    conjunctive ``array_contains`` filter (no explode — the filter is a
    per-row expression, so the scan stage prunes before any shuffle) →
    groupBy(facet) with map-side partial agg → TakeOrderedAndProject."""
    return (
        _matching_rows(docs, analyze_query(query), text_col)
        .groupBy(F.col(facet_col).alias(facet_col))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(facet_col))
        .limit(k)
    )


def percentiles_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    num_col: str,
    percents: list[float] = (25.0, 50.0, 75.0, 95.0, 99.0),
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``percentiles`` aggregation in filter context: exact
    linear-interpolation percentiles of a numeric field over the docs
    matching ALL query terms — rows ``(percent, value)``. ES serves
    t-digest APPROXIMATIONS of exactly this quantity; at any scale
    Spark's SQL ``percentile`` stays a single map-side-combinable
    aggregate (one row group per partition → merge on one reducer), so
    the engine keeps the exact contract and stays oracle-checkable.
    Plan mirrors :func:`facet_stats_df`: per-row ``array_contains``
    conjunction, no explode, ONE global aggregate row that is then
    unpacked driver-cheap (len(percents) rows total)."""
    return _percentiles(_ScanSource(spark, docs, id_col, text_col), query,
                        num_col, percents, round_digits)


def duckdb_percentiles_sql(
    query: str,
    num_col: str,
    percents: list[float] = (25.0, 50.0, 75.0, 95.0, 99.0),
    table: str = "documents",
    text_col: str = "text",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle for :func:`percentiles_df` — ``quantile_cont``
    implements the same linear interpolation as Spark's exact SQL
    ``percentile``."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql(text_col)
    cond = " AND ".join(f"list_contains(toks, '{t}')" for t in terms) \
        or "FALSE"
    # quantile_cont requires a CONSTANT fraction — one branch per pct
    branches = " UNION ALL ".join(
        f"SELECT {float(p)!r} AS percent, "
        f"round(quantile_cont(v, {float(p) / 100.0!r}), {round_digits})"
        f" AS value FROM m"
        for p in percents)
    return f"""
WITH t AS (SELECT {num_col}, {toks} AS toks FROM {table}),
m AS (SELECT {num_col}::DOUBLE AS v FROM t WHERE {cond})
{branches}
ORDER BY percent
"""


def top_hits_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    group_col: str,
    hits_per_bucket: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """ES ``top_hits`` aggregation: bucket the query's matches by a
    keyword field and keep each bucket's top-N hits by relevance —
    rows ``(group, rank, doc_id, score)``. Plan: the sparse BM25 score
    set joined to a two-column group projection, then ONE window
    (partitionBy group, score desc / doc_id asc) — the shuffle is by
    group key, never corpus-wide, and each partition's window is
    bounded by its match count. Scores rounded BEFORE ranking (the
    repo-wide contract, so the oracle ranks the identical quantity)."""
    return _top_hits(_ScanSource(spark, docs, id_col, text_col), query,
                     group_col, hits_per_bucket, round_digits)


def duckdb_top_hits_sql(
    query: str,
    group_col: str,
    hits_per_bucket: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle for :func:`top_hits_df` — BM25 chain + the same
    per-group window cut on rounded scores."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = ", ".join(f"'{t}'" for t in analyze_query(query))
    toks = duckdb_tokens_sql(text_col)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl", "(select n_docs from stats)",
        "(select avgdl from stats)")
    return f"""
WITH docs AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens,
         len({toks})::BIGINT AS dl FROM {table}
),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
       FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
       WHERE term IN ({terms}) GROUP BY doc_id, term),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
s AS (SELECT doc_id, round(sum({score}), {round_digits}) AS score
      FROM tf JOIN dfm USING (term) GROUP BY doc_id),
g AS (SELECT s.doc_id, t.{group_col}::VARCHAR AS grp, s.score,
             row_number() OVER (PARTITION BY t.{group_col}
                                ORDER BY s.score DESC, s.doc_id ASC)
               AS rank
      FROM s JOIN {table} t ON s.doc_id = t.{id_col})
SELECT grp AS "group", rank::INT AS rank, doc_id, score
FROM g WHERE rank <= {hits_per_bucket}
ORDER BY "group", rank
"""


def date_histogram_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    date_col: str,
    interval: str = "month",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``date_histogram`` aggregation parity (filter context): docs
    matching ALL query terms, bucketed by the calendar ``interval``
    (``hour``/``day``/``week``/``month``/``quarter``/``year`` — the
    ``date_trunc`` units both engines share) of ``date_col``, one
    ``(bucket, n_docs)`` row per non-empty bucket in bucket order (ES
    default ``min_doc_count=1``). The reference's index declares date
    fields (deces_index.yml:86-88,125-129 DATE_*_NORM) whose ES use
    includes exactly this rollup. Same scale shape as
    :func:`facet_counts_df`: per-row conjunction filter (prunes in the
    scan stage, no explode) → ONE map-side-combinable groupBy — bucket
    cardinality, not corpus size, reaches the driver."""
    return _bucket_counts(_ScanSource(spark, docs, id_col, text_col), query,
                          _date_bucket(date_col, interval))


def date_histogram_from_index(
    spark: SparkSession,
    tables: IndexTables,
    meta_docs: DataFrame,
    query: str,
    date_col: str,
    interval: str = "month",
) -> DataFrame:
    """The same date_histogram served FROM THE INDEX: the query terms'
    posting blocks only (parquet pushdown) → decode → per-doc
    all-terms coverage → semi-join the doc-metadata table (id column
    ``doc_id``) → one bucket aggregate. Bucket-identical to
    :func:`date_histogram_df` (tested); corpus cost is the matched
    postings + a metadata semi-join, never a full-text scan."""
    return _bucket_counts(_IndexSource(spark, tables, meta_docs), query,
                          _date_bucket(date_col, interval))


def histogram_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    num_col: str,
    interval: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``histogram`` aggregation parity (filter context): docs
    matching ALL query terms, bucketed by
    ``floor(value / interval) * interval`` (the ES bucket key), one
    ``(bucket, n_docs)`` row per non-empty bucket in bucket order (ES
    default ``min_doc_count=1``). Same scale shape as
    :func:`date_histogram_df`: per-row conjunction filter → ONE
    map-side-combinable groupBy — bucket cardinality, not corpus size,
    reaches the driver."""
    return _bucket_counts(_ScanSource(spark, docs, id_col, text_col), query,
                          _num_bucket(num_col, interval))


def cardinality_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    card_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """ES ``cardinality`` aggregation (filter context): number of
    distinct values of ``card_col`` over the docs matching ALL query
    terms. ES is always approximate (HyperLogLog++); here ``exact=True``
    (default) is a real ``count_distinct`` — one extra shuffle on the
    value, exact answer, cross-engine-oracle-checkable — and
    ``exact=False`` is Spark's own HLL++ ``approx_count_distinct``
    (shuffle-free partial aggregation, the 100-TB shape, but
    engine-specific counts so no DuckDB oracle)."""
    return _cardinality(_ScanSource(spark, docs, id_col, text_col), query,
                        card_col, exact)


def histogram_from_index(
    spark: SparkSession,
    tables: "IndexTables",
    meta_docs: DataFrame,
    query: str,
    num_col: str,
    interval: int,
) -> DataFrame:
    """:func:`histogram_df` served FROM THE INDEX: posting-pushdown
    match set → metadata semi-join → the same bucket aggregate.
    Bucket-identical to the scan route (tested); corpus cost is the
    matched postings, never a full-text scan."""
    return _bucket_counts(_IndexSource(spark, tables, meta_docs), query,
                          _num_bucket(num_col, interval))


def cardinality_from_index(
    spark: SparkSession,
    tables: "IndexTables",
    meta_docs: DataFrame,
    query: str,
    card_col: str,
    exact: bool = True,
) -> DataFrame:
    """:func:`cardinality_df` served FROM THE INDEX (same match-set
    semi-join shape; value-identical to the scan route, tested)."""
    return _cardinality(_IndexSource(spark, tables, meta_docs), query,
                        card_col, exact)


def _date_bucket(date_col: str, interval: str) -> "F.Column":
    return F.date_trunc(interval, F.col(date_col).cast("timestamp")) \
        .cast("date").alias("bucket")


def _num_bucket(num_col: str, interval: int) -> "F.Column":
    return (F.floor(F.col(num_col).cast("double") / F.lit(float(interval)))
            * interval).cast("long").alias("bucket")


def _bucket_counts(src, query, bucket: "F.Column") -> DataFrame:
    """(bucket, n_docs) per non-empty bucket of the matching docs, in
    bucket order — the (date_)histogram body."""
    return (
        src.matching_docs(analyze_query(query))
        .groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


def _cardinality(src, query, card_col, exact) -> DataFrame:
    agg = (F.count_distinct(F.col(card_col)) if exact
           else F.approx_count_distinct(F.col(card_col)))
    return src.matching_docs(analyze_query(query)).agg(
        agg.alias("cardinality"))


def percentiles_from_index(
    spark: SparkSession,
    tables: "IndexTables",
    meta_docs: DataFrame,
    query: str,
    num_col: str,
    percents: list[float] = (25.0, 50.0, 75.0, 95.0, 99.0),
    round_digits: int | None = 6,
) -> DataFrame:
    """:func:`percentiles_df` served FROM THE INDEX: posting-pushdown
    match set → metadata semi-join → the same single combinable
    ``percentile`` aggregate (value-identical to the scan route,
    tested). Corpus cost is the matched postings plus one narrow
    metadata column, never a full-text scan."""
    return _percentiles(_IndexSource(spark, tables, meta_docs), query,
                        num_col, percents, round_digits)


def _percentiles(src, query, num_col, percents, round_digits) -> DataFrame:
    pcts = [float(p) for p in percents]
    vals = src.matching_docs(analyze_query(query)).agg(
        F.percentile(F.col(num_col).cast("double"),
                     F.array(*[F.lit(p / 100.0) for p in pcts]))
        .alias("vals"))
    out = vals.select(
        F.posexplode("vals").alias("i", "value"),
    ).select(
        F.element_at(F.array(*[F.lit(p) for p in pcts]),
                     F.col("i") + 1).alias("percent"),
        "value",
    )
    if round_digits is not None:
        out = out.withColumn("value", F.round("value", round_digits))
    return out.orderBy("percent")


def top_hits_from_index(
    spark: SparkSession,
    tables: "IndexTables",
    meta_docs: DataFrame,
    query: str,
    group_col: str,
    hits_per_bucket: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """:func:`top_hits_df` served FROM THE INDEX: the sparse BM25
    score set comes from the query terms' postings
    (:func:`bm25_scores_from_index`) instead of a corpus tokenize;
    the group projection joins on doc_id and the same group-key
    window cuts each bucket. Rank-identical to the scan route
    (tested) — scores round BEFORE ranking, the repo-wide contract."""
    return _top_hits(_IndexSource(spark, tables, meta_docs), query,
                     group_col, hits_per_bucket, round_digits)


def _top_hits(src, query, group_col, hits_per_bucket,
              round_digits) -> DataFrame:
    terms = analyze_query(query)
    if not terms:
        return src.spark.createDataFrame(
            [], "group string, rank int, doc_id long, score double")
    from pyspark.sql import Window

    base = src.scores(terms, round_digits)
    groups = src.doc_values(F.col(group_col).cast("string").alias("group"))
    w = Window.partitionBy("group").orderBy(F.desc("score"),
                                            F.asc("doc_id"))
    return (
        base.join(groups, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= hits_per_bucket)
        .select("group", "rank", "doc_id", "score")
        .orderBy("group", "rank")
    )


def significant_terms_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``significant_terms`` aggregation parity: terms that are
    unusually frequent in the docs matching the query (foreground)
    relative to the whole corpus (background), scored with ES's default
    JLH: ``(fg% - bg%) * (fg% / bg%)`` when fg% > bg%, else 0. The
    query's own terms are excluded (they trivially have fg% = 1).
    Returns top-k by (jlh desc, term asc): (term, fg_df, bg_df, jlh).

    Plan: ONE pass over the corpus — every doc contributes its distinct
    terms tagged with a foreground flag, one groupBy(term) computes
    both frequencies with map-side partial aggregation, and the two
    scalar totals ride in on a broadcast single-row join. No second
    corpus scan, no driver-side collection beyond k rows."""
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, jlh double")
    toks = tokens_col(text_col)
    cond = _terms_condition(toks, terms)
    base = docs.select(F.array_distinct(toks).alias("__t"),
                       cond.alias("__fg"))
    ex = base.select(F.explode("__t").alias("term"),
                     F.col("__fg").cast("long").alias("__fg"))
    counts = ex.groupBy("term").agg(
        F.count(F.lit(1)).alias("bg_df"),
        F.sum("__fg").alias("fg_df"),
    )
    totals = docs.select(
        F.count(F.lit(1)).alias("__bg_total"),
        F.sum(cond.cast("long")).alias("__fg_total"),
    )
    fg_pct = F.col("fg_df").cast("double") / F.col("__fg_total").cast("double")
    bg_pct = F.col("bg_df").cast("double") / F.col("__bg_total").cast("double")
    jlh = F.when(fg_pct > bg_pct, (fg_pct - bg_pct) * (fg_pct / bg_pct)) \
        .otherwise(F.lit(0.0))
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter((F.col("fg_df") > 0) & ~F.col("term").isin(*terms))
        .select("term", "fg_df", "bg_df", F.round(jlh, 6).alias("jlh"))
        .orderBy(F.desc("jlh"), F.asc("term"))
        .limit(k)
    )


def significant_terms_from_index(
    spark: SparkSession,
    tables: "IndexTables",
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The same significant_terms served FROM THE INDEX — the 100-TB
    shape: background term frequencies come FREE from the dictionary
    (no corpus scan at all), the foreground doc set comes from the
    query terms' posting blocks (parquet pushdown), and only the
    foreground docs — by construction a small slice — are re-analyzed
    for their distinct terms. Row-identical to
    :func:`significant_terms_df` (tested)."""
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, jlh double")
    matching = _matching_doc_ids_from_postings(tables, terms)
    fg_docs = docs.join(
        matching.withColumnRenamed("doc_id", id_col), id_col, "left_semi")
    fg_counts = (
        fg_docs.select(F.explode(
            F.array_distinct(tokens_col(text_col))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("fg_df"))
    )
    totals = F.broadcast(
        tables.stats.select(F.col("n_docs").alias("__bg_total"))
        .crossJoin(F.broadcast(
            matching.agg(F.count(F.lit(1)).alias("__fg_total"))))
    )
    joined = fg_counts.join(
        tables.dictionary.select("term", F.col("df").alias("bg_df")),
        "term")
    fg_pct = F.col("fg_df").cast("double") / F.col("__fg_total").cast("double")
    bg_pct = F.col("bg_df").cast("double") / F.col("__bg_total").cast("double")
    jlh = F.when(fg_pct > bg_pct, (fg_pct - bg_pct) * (fg_pct / bg_pct)) \
        .otherwise(F.lit(0.0))
    return (
        joined.crossJoin(totals)
        .filter((F.col("fg_df") > 0) & ~F.col("term").isin(*terms))
        .select("term", "fg_df", "bg_df", F.round(jlh, 6).alias("jlh"))
        .orderBy(F.desc("jlh"), F.asc("term"))
        .limit(k)
    )


def _matching_doc_ids_decode(tables: "IndexTables",
                             terms: list[str]) -> DataFrame:
    """(term, doc_id) membership rows for a term set, decoded from the
    terms' posting blocks only (parquet pushdown on ``term``) — the
    shared scan under the index-backed aggregation routes and the
    query-string atom tagger."""
    return _decoded_postings(tables, terms).select("term", "doc_id")


def _matching_doc_ids_from_postings(tables: "IndexTables",
                                    terms: list[str]) -> DataFrame:
    """Filter-context doc set from the index: keep docs covered by ALL
    terms. Shared by the index-backed aggregation routes."""
    return _matching_doc_ids_decode(tables, terms).groupBy("doc_id").agg(
        F.count_distinct("term").alias("__n")
    ).filter(F.col("__n") == len(terms)).select("doc_id")


def suggest_terms(
    spark: SparkSession,
    tables: "IndexTables",
    term: str,
    max_edits: int = 2,
    k: int = 5,
    prefix_length: int = 1,
) -> DataFrame:
    """ES ``term`` suggester ("did you mean") over the index's term
    dictionary: candidate terms within ``max_edits`` Levenshtein edits
    of the (normalized) input, ranked ES-style by (edit distance asc,
    df desc, term asc), top-k. ES prunes candidate generation with a
    default ``prefix_length=1`` (first char must match) — mirrored
    here, together with the length window |len(t) - len(q)| ≤
    max_edits, so the dictionary scan filter is cheap and the
    ``levenshtein`` (native, with early-exit threshold) only runs on
    survivors. The dictionary is term-cardinality-sized, not
    corpus-sized — this plan never touches postings or text."""
    from deces_dataprep_spark.functions.analyze import normalize_text

    q = normalize_text(term)
    d = tables.dictionary
    cand = d.filter(
        (F.length("term") >= len(q) - max_edits)
        & (F.length("term") <= len(q) + max_edits)
        & (F.col("term") != q)
    )
    if prefix_length > 0:
        cand = cand.filter(
            F.col("term").startswith(q[:prefix_length]))
    cand = cand.withColumn(
        "distance", F.levenshtein(F.col("term"), F.lit(q), max_edits)
    ).filter(F.col("distance") >= 0)
    return (
        cand.select("term", "distance", "df")
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def suggest_completion(
    spark: SparkSession,
    tables: "IndexTables",
    prefix: str,
    k: int = 5,
) -> DataFrame:
    """ES ``completion`` suggester (the dedicated autocomplete API):
    top-k dictionary terms extending the typed prefix, weighted. ES
    ranks by a per-suggestion ``weight`` the indexer supplies; this
    index's natural weight is the term's document frequency (popular
    completions first), tie → term asc. The plan is a dictionary
    ``startswith`` filter + TakeOrderedAndProject — vocabulary-sized,
    never touches postings or text (ES's FST behaves the same way:
    completion is an index-structure lookup, not a search)."""
    from deces_dataprep_spark.functions.analyze import normalize_text

    p = normalize_text(prefix)
    return (
        tables.dictionary.filter(F.col("term").startswith(p))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def suggest_completion_serve(
    engine: "QueryEngine",
    prefix: str,
    k: int = 5,
) -> list[tuple[str, int]]:
    """The serving twin of :func:`suggest_completion`: ONE searchsorted
    prefix window on the engine's sorted vocab index (O(log V)), df
    lookups from the reader's in-memory dictionary — zero Spark jobs
    once it is loaded, the latency class an autocomplete endpoint
    needs. Result-identical to the Spark route (tested)."""
    from deces_dataprep_spark.functions.analyze import normalize_text
    from deces_dataprep_spark.index.querystring import _vocab_index

    p = normalize_text(prefix)
    terms = _vocab_index(engine).prefix(p)
    dfs = engine.reader.term_dfs(terms)
    ranked = sorted(((t, int(dfs.get(t, 0))) for t in terms),
                    key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def duckdb_suggest_completion_sql(
    prefix: str,
    k: int = 5,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Oracle twin of :func:`suggest_completion` — df from the raw
    corpus (= the dictionary's df by construction)."""
    from deces_dataprep_spark.functions.analyze import (
        duckdb_tokens_sql,
        normalize_text,
    )

    p = normalize_text(prefix).replace("'", "''")
    toks = duckdb_tokens_sql(text_col)
    return f"""
WITH vocab AS (
  SELECT term, count(*)::BIGINT AS df
  FROM (SELECT doc_id, unnest(list_distinct({toks})) AS term
        FROM {table})
  GROUP BY term
)
SELECT term, df FROM vocab
WHERE starts_with(term, '{p}')
ORDER BY df DESC, term ASC
LIMIT {k}
"""


def explain_score_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    doc_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """ES ``_explain`` API parity: the per-term BM25 breakdown for one
    (query, doc) pair — rows ``(term, tf, df, dl, idf, contribution)``
    in term order, the flat table behind ES's explanation tree (whose
    total is exactly the doc's search score; tested against
    ``bm25_topk_df`` and the engine serve twin).

    Plan: corpus stats + per-term df are the only corpus-touching
    aggregates (both map-side combinable, both restricted to the
    query's terms); the target doc's tf rows come from ONE pushed-down
    ``id_col = doc_id`` filter. Output is |terms| rows — driver-safe at
    any corpus size."""
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame(
            [], "term string, tf long, df long, dl long, idf double,"
                " contribution double")
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("tokens")
    ).withColumn("dl", F.size("tokens").cast("long"))
    stats = toks.agg(F.count(F.lit(1)).alias("n"),
                     F.avg("dl").alias("a")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["a"])
    exploded = toks.select("doc_id", "dl",
                           F.explode("tokens").alias("term")) \
        .filter(F.col("term").isin(terms))
    dfm = exploded.select("term", "doc_id").distinct() \
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf = (
        exploded.filter(F.col("doc_id") == int(doc_id))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    idf_c = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                  / (F.col("df") + F.lit(0.5)))
    out = tf.join(F.broadcast(dfm), "term").select(
        "term", "tf", "df", "dl",
        F.round(idf_c, round_digits).alias("idf"),
        F.round(bm25.bm25_score_col(F.col("tf"), F.col("df"),
                                    F.col("dl"), n_docs, avgdl),
                round_digits).alias("contribution"),
    )
    return out.orderBy("term")


def explain_score_serve(
    engine: "QueryEngine",
    query: str,
    doc_id: int,
    round_digits: int = 6,
) -> list[tuple[str, int, int, int, float, float]]:
    """The serving twin of :func:`explain_score_df`: postings +
    dictionary + norms through the engine's caches (arrow: zero Spark
    jobs) — the ES data-node answering ``GET /_explain``. Same rows
    (tested identical)."""
    import numpy as np

    from deces_dataprep_spark.index.wand import decode_term_arrays

    terms = analyze_query(query)
    if not terms:
        return []
    by_shard = engine._fetch_term_postings(terms)
    out = []
    target = np.uint64(doc_id)
    for shard, tps in by_shard.items():
        norm_ids, norm_dls, _ = engine._shard_norms_np(shard)
        if norm_ids.size == 0:
            continue
        pos = int(np.searchsorted(norm_ids, target))
        if pos >= norm_ids.size or norm_ids[pos] != target:
            continue  # doc lives in exactly one shard
        dl = int(norm_dls[pos])
        for tp in tps:
            ids, tfs = decode_term_arrays(tp)
            j = int(np.searchsorted(ids, target))
            if j >= ids.size or ids[j] != target:
                continue
            tf = int(tfs[j])
            idf = float(bm25.idf(tp.df, engine.n_docs))
            contrib = float(bm25.bm25_score(tf, tp.df, dl,
                                            engine.n_docs, engine.avgdl))
            out.append((tp.term, tf, int(tp.df), dl,
                        round(idf, round_digits),
                        round(contrib, round_digits)))
    return sorted(out)


def duckdb_explain_score_sql(
    query: str,
    doc_id: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> str:
    """Oracle twin of :func:`explain_score_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = ", ".join(f"'{t}'" for t in analyze_query(query)) or "NULL"
    toks = duckdb_tokens_sql(text_col)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl", "(select n_docs from stats)",
        "(select avgdl from stats)")
    return f"""
WITH d AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens,
         len({toks})::BIGINT AS dl FROM {table}
),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM d),
e AS (SELECT doc_id, dl, unnest(tokens) AS term FROM d),
dfm AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
        FROM e WHERE term IN ({terms}) GROUP BY term),
tf AS (SELECT term, count(*)::BIGINT AS tf, any_value(dl) AS dl
       FROM e WHERE doc_id = {int(doc_id)} AND term IN ({terms})
       GROUP BY term)
SELECT term, tf, df, dl,
       round(ln(1.0 + ((select n_docs from stats) - df + 0.5)
                / (df + 0.5)), {round_digits}) AS idf,
       round({score}, {round_digits}) AS contribution
FROM tf JOIN dfm USING (term)
ORDER BY term
"""


def boolean_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    must: list[str],
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
    filters: list["F.Column"] | None = None,
    minimum_should_match: int = 0,
) -> DataFrame:
    """ES ``bool`` query parity (the reference's serving surface beyond
    plain match): docs must contain EVERY ``must`` term, none of the
    ``must_not`` terms, and are BM25-scored over must ∪ should matches
    (should terms only boost). One declarative plan: tf/df aggregation
    → score → must-coverage HAVING → broadcast anti-join on must_not →
    TakeOrderedAndProject.

    ``filters`` — ES FILTER CONTEXT (``bool.filter``: range/term
    predicates over doc metadata, e.g. ``es_fields.range_filter``
    bounds). Non-scoring by the ES contract: applied as a semi-join
    AFTER scoring, so df/avgdl stay corpus-wide exactly as ES computes
    them over the whole shard, not the filtered subset.

    ``minimum_should_match`` — ES's knob of the same name: a doc must
    match at least this many distinct ``should`` terms (0 = ES default
    when ``must`` is present: should only boosts). ``operator: AND`` on
    a plain match query is the degenerate case: every term in ``must``,
    no shoulds. One more HAVING predicate on the same aggregate — no
    extra shuffle."""
    must_t = [t for q in must for t in analyze_query(q)]
    should_t = [t for q in (should or []) for t in analyze_query(q)]
    not_t = [t for q in (must_not or []) for t in analyze_query(q)]
    scored_terms = list(dict.fromkeys(must_t + should_t))
    if not scored_terms:
        return spark.createDataFrame([], "doc_id long, score double")

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(text_col).alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])

    ex = toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
    tf = (
        ex.filter(F.col("term").isin(scored_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_map = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_map), "term").withColumn(
        "contrib",
        bm25.bm25_score_col(F.col("tf"), F.col("df"), F.col("dl"),
                            n_docs, avgdl),
    )
    banned = F.broadcast(
        ex.filter(F.col("term").isin(not_t)).select("doc_id").distinct()
    ) if not_t else None
    return _bool_tail(scored, must_t, should_t, minimum_should_match,
                      banned, docs, filters, id_col, k, round_digits)


def boolean_topk_from_index(
    spark: SparkSession,
    tables: IndexTables,
    must: list[str],
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    round_digits: int | None = 6,
    filter_docs: DataFrame | None = None,
    filters: list["F.Column"] | None = None,
    minimum_should_match: int = 0,
) -> DataFrame:
    """The same bool query served FROM THE INDEX as one distributed
    plan: only the referenced terms' posting blocks are scanned
    (parquet pushdown), decoded executor-side, scored with global
    df/N/avgdl, must-coverage enforced per doc, must_not docs
    anti-joined out. Rank-identical to :func:`boolean_topk_df`
    (tested).

    ``filters`` + ``filter_docs`` — ES filter context through the index
    route: predicates over a doc-metadata table (its id column must be
    ``doc_id``) applied as a non-scoring semi-join after scoring, same
    corpus-wide-stats contract as the scan route.

    ``minimum_should_match`` — same contract as the scan route: ≥ this
    many distinct should terms per doc, enforced in the same per-doc
    aggregate."""
    must_t = [t for q in must for t in analyze_query(q)]
    should_t = [t for q in (should or []) for t in analyze_query(q)]
    not_t = [t for q in (must_not or []) for t in analyze_query(q)]
    scored_terms = list(dict.fromkeys(must_t + should_t))
    all_terms = list(dict.fromkeys(scored_terms + not_t))
    if not scored_terms:
        return spark.createDataFrame([], "doc_id long, score double")

    stats = tables.stats.collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    dfs = {
        r["term"]: int(r["df"])
        for r in tables.dictionary.filter(
            F.col("term").isin(all_terms)).collect()
    }
    if any(t not in dfs for t in set(must_t)):
        return spark.createDataFrame([], "doc_id long, score double")

    decoded = _decoded_postings(tables, all_terms, dl=True)
    banned = decoded.filter(F.col("term").isin(not_t)) \
        .select("doc_id").distinct() if not_t else None
    df_expr = F.create_map(*[
        x for t in scored_terms for x in (F.lit(t), F.lit(dfs.get(t, 0)))
    ])
    scored = decoded.filter(F.col("term").isin(scored_terms)).withColumn(
        "contrib",
        bm25.bm25_score_col(F.col("tf"), df_expr[F.col("term")],
                            F.col("dl"), n_docs, avgdl),
    )
    return _bool_tail(scored, must_t, should_t, minimum_should_match,
                      banned, filter_docs, filters, "doc_id", k,
                      round_digits)


def _bool_tail(scored: DataFrame, must_t: list[str], should_t: list[str],
               minimum_should_match: int, banned: DataFrame | None,
               filter_docs: DataFrame | None,
               filters: list["F.Column"] | None, id_col: str, k: int,
               round_digits: int | None) -> DataFrame:
    """Shared bool tail over (doc_id, term, contrib) rows: per-doc sum
    with must-coverage and minimum_should_match in ONE aggregate →
    anti-join the ``banned`` (must_not) ids → semi-join the filter
    context (``filters`` over ``filter_docs``, keyed by ``id_col``) →
    round → (score desc, doc_id asc) top-k."""
    is_must = F.col("term").isin(must_t) if must_t else F.lit(False)
    is_should = F.col("term").isin(should_t) if should_t else F.lit(False)
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count_distinct(F.when(is_must, F.col("term"))).alias("n_must"),
        F.count_distinct(F.when(is_should, F.col("term"))).alias("n_should"),
    ).filter(
        (F.col("n_must") == len(set(must_t)))
        & (F.col("n_should") >= int(minimum_should_match))
    ).drop("n_must", "n_should")
    if banned is not None:
        agg = agg.join(banned, "doc_id", "left_anti")
    if filters:
        if filter_docs is None:
            raise ValueError("filters given without filter_docs")
        keep = filter_docs
        for cond in filters:
            keep = keep.filter(cond)
        agg = agg.join(keep.select(F.col(id_col).alias("doc_id")),
                       "doc_id", "left_semi")
    if round_digits is not None:
        agg = agg.withColumn("score", F.round("score", round_digits))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def collapse_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    collapse_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``collapse`` parity: BM25 top-k with at most ONE hit per value
    of ``collapse_col`` (the dedup-by-site/user pattern in search UIs).
    The scored set is corpus-sized, so the collapse is a ``max_by``
    aggregation, NOT a window: ``row_number() over
    (partitionBy(collapse_col))`` is a full shuffle + per-key sort with
    no partial aggregation, and a skewed collapse key (one dominant
    site — the normal case for collapse-by-domain) serializes into a
    single task. ``max_by`` partial-aggregates map-side: each input
    partition contributes at most one candidate per key before the
    (one, combinable) shuffle. Tie-breaks (score desc, doc_id asc) via
    the ordering struct ``(score, -doc_id)`` — doc_ids are
    non-negative, so the negation is exact."""
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame(
            [], f"{collapse_col} string, doc_id long, score double")
    scored = _bm25_scores_df(docs, terms, id_col, text_col, round_digits)
    with_field = scored.join(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(collapse_col).alias(collapse_col)),
        "doc_id",
    )
    best = with_field.groupBy(collapse_col).agg(
        F.max_by(
            F.struct(F.col("doc_id"), F.col("score")),
            F.struct(F.col("score").alias("s"),
                     (-F.col("doc_id")).alias("nd")),
        ).alias("__b")
    ).select(collapse_col, F.col("__b.doc_id").alias("doc_id"),
             F.col("__b.score").alias("score"))
    return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def fuzzy_match_from_index(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    max_edits: int | str = 2,
    transpositions: bool = False,
) -> DataFrame:
    """ES ``fuzzy`` via the index — the mechanism ES actually uses:
    enumerate the TERM DICTIONARY for terms within ``max_edits``
    edits of the analyzed query term (the dictionary is
    vocabulary-sized, not corpus-sized — a cheap scan with the
    native early-exit ``levenshtein``), then read just those terms'
    posting blocks (parquet pushdown) and decode their doc_ids.
    Doc-set-identical to the full-scan :func:`es_fields.fuzzy_match`
    (tested); corpus cost is proportional to the matched postings, not
    the corpus.

    ``transpositions=True`` switches to ES's default fuzziness metric
    (Damerau/OSA — an adjacent swap is ONE edit). Spark has no native
    Damerau, so the plan stays scale-shaped by a two-phase expansion:
    the dictionary is pre-filtered with the native early-exit
    ``levenshtein`` at the sound bound ``2·max_edits`` (a transposition
    costs ≤ 2 plain edits, so OSA ≤ k ⇒ Levenshtein ≤ 2k) plus the OSA
    length window ``|len| ≤ max_edits``, and only that small survivor
    list is refined with the exact OSA predicate driver-side."""
    from deces_dataprep_spark.functions.analyze import normalize_text

    q = normalize_text(query)
    if max_edits == "auto":
        from deces_dataprep_spark.operators.es_fields import auto_fuzziness

        max_edits = auto_fuzziness(q)
    if transpositions:
        from deces_dataprep_spark.index.querystring import _lev_within

        pre = [
            r["term"]
            for r in tables.dictionary.filter(
                (F.levenshtein(F.col("term"), F.lit(q),
                               2 * max_edits) >= 0)
                & (F.length("term") >= len(q) - max_edits)
                & (F.length("term") <= len(q) + max_edits)
            ).select("term").collect()
        ]
        cand = [t for t in pre
                if _lev_within(t, q, max_edits, transpositions=True)]
    else:
        cand = [
            r["term"]
            for r in tables.dictionary.filter(
                F.levenshtein(F.col("term"), F.lit(q), max_edits) >= 0
            ).select("term").collect()
        ]
    if not cand:
        return spark.createDataFrame([], "doc_id long")
    return _decoded_postings(tables, cand).select("doc_id").distinct()


def mlt_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    source_doc_id: int,
    k: int = 10,
    max_terms: int = 5,
    min_df: int = 2,
    max_df_frac: float = 0.25,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``more_like_this`` parity: select the source doc's most
    interesting terms (tf·idf within the doc, ES's MLT heuristic, with
    the standard df guards — too-rare terms are noise, too-common terms
    are stopwords), then BM25-rank the corpus over them, excluding the
    source doc.

    One declarative plan: the tf/df aggregation is the index build's
    shape (map-side combined, unskewed); term selection is a k-row
    ``TakeOrderedAndProject`` (selection score rounded to 9 digits so
    the chosen term set is engine-stable); the final ranking reuses the
    shared BM25 scorer. At serving scale the same selection reads the
    dictionary table instead of re-aggregating df."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(text_col).alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"] or 0.0)

    # ONE tf/dl aggregation feeds term selection AND the final ranking
    # (the ranking's tf/df over the selected terms is a filter of this
    # frame — no second corpus tokenize/aggregate)
    tf_all = (
        toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_map = tf_all.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    sel = (
        tf_all.filter(F.col("doc_id") == source_doc_id)
        .join(df_map, "term")
        .filter((F.col("df") >= min_df)
                & (F.col("df") <= int(max_df_frac * n_docs)))
        .withColumn("sel_score", F.round(F.col("tf") * idf, 9))
        .orderBy(F.desc("sel_score"), F.asc("term"))
        .limit(max_terms)
    )
    terms = [r["term"] for r in sel.collect()]
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    tf_sel = tf_all.filter(F.col("term").isin(terms))
    scored = tf_sel.join(
        F.broadcast(df_map.filter(F.col("term").isin(terms))), "term"
    ).withColumn(
        "contrib",
        bm25.bm25_score_col(F.col("tf"), F.col("df"), F.col("dl"),
                            n_docs, avgdl),
    )
    agg = scored.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    if round_digits is not None:
        agg = agg.withColumn("score", F.round("score", round_digits))
    return (
        agg.filter(F.col("doc_id") != source_doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def mlt_topk_from_index(
    spark: SparkSession,
    tables: IndexTables,
    source_doc_id: int,
    source_text: str,
    k: int = 10,
    max_terms: int = 5,
    min_df: int = 2,
    max_df_frac: float = 0.25,
    round_digits: int | None = 6,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """The SERVING twin of :func:`mlt_topk_df` (the one query type that
    round 2 still served by re-tokenizing the corpus per call). ES's
    own mechanism: re-analyze the ONE source document (from _source —
    here the caller passes its stored text), take its per-term tf
    locally, read df from the term DICTIONARY (a pushdown-filtered scan
    of a vocabulary-sized table — no corpus pass), select the
    ``max_terms`` most interesting terms (tf·idf, the same 9-digit
    selection rounding and (score desc, term asc) tie-break as the scan
    plan, so both routes pick the identical term set), then rank via
    :func:`bm25_scores_from_index` — postings pushdown, nothing
    corpus-sized on the driver. Rank-identical to mlt_topk_df
    (tested)."""
    import math

    toks = tokenize_text(source_text)
    if not toks:
        return spark.createDataFrame([], "doc_id long, score double")
    if n_docs is None or avgdl is None:
        stats = tables.stats.collect()[0]
        n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    dfs = {
        r["term"]: int(r["df"])
        for r in tables.dictionary.filter(
            F.col("term").isin(list(tf))).collect()
    }
    cands = []
    max_df = int(max_df_frac * n_docs)
    for t, f_ in tf.items():
        df_ = dfs.get(t)
        if df_ is None or df_ < min_df or df_ > max_df:
            continue
        s = round(f_ * math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5)), 9)
        cands.append((-s, t))
    cands.sort()
    terms = [t for _, t in cands[:max_terms]]
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    agg = bm25_scores_from_index(spark, tables, terms, n_docs, avgdl)
    if round_digits is not None:
        agg = agg.withColumn("score", F.round("score", round_digits))
    return (
        agg.filter(F.col("doc_id") != source_doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def duckdb_mlt_sql(
    source_doc_id: int,
    k: int = 10,
    max_terms: int = 5,
    min_df: int = 2,
    max_df_frac: float = 0.25,
    table: str = "documents",
    text_col: str = "text",
    round_digits: int = 6,
) -> str:
    """The DuckDB oracle twin of :func:`mlt_topk_df` — the full chain
    (term selection included) in one SQL statement."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl",
        "(select n_docs from stats)", "(select avgdl from stats)",
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {duckdb_tokens_sql(text_col)} AS tokens FROM {table}
),
docs AS (SELECT doc_id, tokens, len(tokens)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf_all AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM docs)
  GROUP BY doc_id, term
),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf_all GROUP BY term),
sel AS (
  SELECT t.term
  FROM tf_all t JOIN dfm USING (term)
  WHERE t.doc_id = {source_doc_id}
    AND df >= {min_df}
    AND df <= (SELECT floor({max_df_frac} * n_docs) FROM stats)
  ORDER BY round(t.tf * ln(1.0 + ((SELECT n_docs FROM stats) - df + 0.5)
                                 / (df + 0.5)), 9) DESC, t.term ASC
  LIMIT {max_terms}
),
tf AS (
  SELECT t.doc_id, t.term, t.tf, d.dl
  FROM tf_all t JOIN docs d USING (doc_id)
  WHERE t.term IN (SELECT term FROM sel)
),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT doc_id, round(sum({score}), {round_digits}) AS score
FROM tf JOIN dfq USING (term)
WHERE doc_id <> {source_doc_id}
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def duckdb_boolean_topk_sql(
    must: list[str],
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
    filter_where: str | None = None,
    minimum_should_match: int = 0,
) -> str:
    """The DuckDB oracle twin of :func:`boolean_topk_df`.
    ``filter_where`` mirrors the Spark ``filters`` semi-join (ES filter
    context): a WHERE fragment over ``table`` restricting doc_ids
    post-scoring. ``minimum_should_match`` mirrors the should-coverage
    HAVING predicate."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    must_t = [t for q in must for t in analyze_query(q)]
    should_t = [t for q in (should or []) for t in analyze_query(q)]
    not_t = [t for q in (must_not or []) for t in analyze_query(q)]
    scored_terms = list(dict.fromkeys(must_t + should_t))
    terms_sql = ", ".join(f"'{t}'" for t in scored_terms)
    must_sql = ", ".join(f"'{t}'" for t in sorted(set(must_t))) or "NULL"
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl",
        "(select n_docs from stats)", "(select avgdl from stats)",
    )
    not_clause = ""
    if not_t:
        not_sql = ", ".join(f"'{t}'" for t in not_t)
        not_clause = f"""AND doc_id NOT IN (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(tokens) AS term FROM docs)
  WHERE term IN ({not_sql}))"""
    return f"""
WITH toks AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS tokens FROM {table}
),
docs AS (SELECT doc_id, tokens, len(tokens)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT doc_id, round(sum({score}), {round_digits}) AS score
FROM tf JOIN dfm USING (term)
GROUP BY doc_id
HAVING count(DISTINCT CASE WHEN term IN ({must_sql}) THEN term END)
       = {len(set(must_t))}
AND count(DISTINCT CASE WHEN term IN
          ({", ".join(f"'{t}'" for t in sorted(set(should_t))) or "NULL"})
          THEN term END) >= {int(minimum_should_match)}
{not_clause}
{f"AND doc_id IN (SELECT doc_id FROM {table} WHERE {filter_where})"
 if filter_where else ""}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def duckdb_bm25_topk_sql(
    query: str, k: int = 10, table: str = "documents",
    id_col: str = "doc_id", text_col: str = "text", round_digits: int = 6,
    tokens_sql: str | None = None,
) -> str:
    """The DuckDB oracle equivalent of :func:`bm25_topk_df` (ASCII corpus).
    ``tokens_sql`` overrides the tokenizer fragment (e.g. edge n-grams)."""
    terms = analyze_query(query)
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    toks = tokens_sql or duckdb_tokens_sql(text_col)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl", "(select n_docs from stats)", "(select avgdl from stats)"
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {table}
),
docs AS (
  SELECT doc_id, tokens, len(tokens)::BIGINT AS dl FROM toks
),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
),
dfm AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
)
SELECT doc_id, round(sum({score}), {round_digits}) AS score
FROM tf JOIN dfm USING (term)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# boosting / constant_score queries + range / filters aggregations
# (ES query-DSL parity: reference serves these through the same ES
# endpoint its deces_index.yml mappings feed —
# /root/reference/projects/deces-dataprep/datasets/deces_index.yml)
# ---------------------------------------------------------------------------


def boosting_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    positive: str,
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``boosting`` query: docs are BM25-scored on the ``positive``
    match query; docs that ALSO match any ``negative`` term keep their
    rank eligibility but have their score multiplied by
    ``negative_boost`` (demotion, not exclusion — the contract that
    distinguishes this from ``bool.must_not``).

    Plan shape: the shared scoring aggregate (matched-set-sized, never
    corpus-sized) LEFT-JOINed on doc_id to the negative match set — a
    projection of the same docs relation filtered by a native
    any-term predicate. No broadcast hint: the negative set is
    corpus-proportional in the worst case (a stopword negative), so the
    join strategy is left to AQE."""
    return _boosting(_ScanSource(spark, docs, id_col, text_col), positive,
                     negative, negative_boost, k, round_digits)


def boosting_topk_from_index(
    spark: SparkSession,
    tables: IndexTables,
    positive: str,
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
    round_digits: int | None = 6,
) -> DataFrame:
    """:func:`boosting_topk_df` served FROM THE INDEX: the shared
    posting-pushdown scoring plan for the positive terms, demoted by a
    left join against the union of the negative terms' posting doc
    sets (df-bounded, decoded executor-side — no full-text scan
    anywhere). Rank-identical to the scan route (tested)."""
    return _boosting(_IndexSource(spark, tables), positive, negative,
                     negative_boost, k, round_digits)


def _boosting(src, positive, negative, negative_boost, k,
              round_digits) -> DataFrame:
    pos_t = analyze_query(positive)
    neg_t = analyze_query(negative)
    if not pos_t:
        return src.spark.createDataFrame([], "doc_id long, score double")
    scores = src.scores(pos_t)
    if neg_t:
        neg = src.match_ids(neg_t, "any").withColumn("_neg", F.lit(True))
        scores = (
            scores.join(neg, "doc_id", "left")
            .withColumn(
                "score",
                F.when(F.col("_neg"),
                       F.col("score") * F.lit(float(negative_boost)))
                .otherwise(F.col("score")))
            .drop("_neg")
        )
    if round_digits is not None:
        scores = scores.withColumn("score",
                                   F.round("score", round_digits))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def duckdb_boosting_sql(
    positive: str,
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`boosting_topk_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    pos_t = analyze_query(positive)
    neg_t = analyze_query(negative)
    pos_sql = ", ".join(f"'{t}'" for t in pos_t)
    neg_pred = " OR ".join(
        f"list_contains(tokens, '{t}')" for t in neg_t) or "FALSE"
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl",
        "(select n_docs from stats)", "(select avgdl from stats)")
    return f"""
WITH toks AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS tokens FROM {table}
),
docs AS (SELECT doc_id, tokens, len(tokens)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
  WHERE term IN ({pos_sql})
  GROUP BY doc_id, term
),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
pos AS (
  SELECT doc_id, sum({score}) AS score
  FROM tf JOIN dfm USING (term) GROUP BY doc_id
),
neg AS (SELECT doc_id FROM docs WHERE {neg_pred})
SELECT p.doc_id AS doc_id,
       round(CASE WHEN n.doc_id IS NOT NULL
                  THEN p.score * {float(negative_boost)}
                  ELSE p.score END, {round_digits}) AS score
FROM pos p LEFT JOIN neg n ON p.doc_id = n.doc_id
ORDER BY score DESC, p.doc_id ASC
LIMIT {k}
"""


def constant_score_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    boost: float = 1.0,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``constant_score`` query: wrap a filter (here: the analyzed
    query as a conjunctive token filter — ES filter context), every
    matching doc scores exactly ``boost``. Pure native filter +
    project + ``TakeOrderedAndProject`` on the deterministic doc_id
    tie-break (ES leaves equal-score order to shard internals; doc_id
    asc makes it reproducible cross-engine)."""
    return _constant_score(_ScanSource(spark, docs, id_col, text_col),
                           query, boost, k)


def constant_score_from_index(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    boost: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """:func:`constant_score_df` served FROM THE INDEX: the
    filter-context ALL-terms doc set straight from the terms' posting
    blocks — no text scan, no scoring decode (tf bytes never leave the
    codec). Result-identical to the scan route (tested)."""
    return _constant_score(_IndexSource(spark, tables), query, boost, k)


def _constant_score(src, query, boost, k) -> DataFrame:
    terms = analyze_query(query)
    if not terms:
        return src.spark.createDataFrame([], "doc_id long, score double")
    return (
        src.match_ids(terms)
        .select("doc_id", F.lit(float(boost)).alias("score"))
        .orderBy(F.asc("doc_id"))
        .limit(k)
    )


def duckdb_constant_score_sql(
    query: str,
    boost: float = 1.0,
    k: int = 10,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`constant_score_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql("text")
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    return f"""
SELECT doc_id, {float(boost)} AS score
FROM {table}
WHERE {pred}
ORDER BY doc_id ASC
LIMIT {k}
"""


def range_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    num_col: str,
    ranges: list[tuple[float | None, float | None]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``range`` aggregation (filter context): explicit
    ``[from, to)`` buckets over a numeric field for the docs matching
    ALL query terms. Unlike ``histogram``, ranges may OVERLAP and ES
    emits every bucket even when empty (``min_doc_count`` does not
    apply) — so this is NOT a groupBy: it is ONE map-side-combinable
    aggregate with a conditional count per range (a single reduce row),
    unpivoted to ``(key, n_docs)`` rows in the declared bucket order.
    ``None`` bounds are open ends; keys follow ES's ``from-to`` form
    with ``*`` for open ends."""
    base = _matching_rows(docs, analyze_query(query), text_col)
    val = F.col(num_col).cast("double")
    aggs, buckets = [], []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (val >= float(lo))
        if hi is not None:
            cond = cond & (val < float(hi))
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long")
            .alias(f"__c{i}"))
        key = (f"{'*' if lo is None else float(lo)}"
               f"-{'*' if hi is None else float(hi)}")
        buckets.append((i, key))
    row = base.agg(*aggs)
    structs = [F.struct(F.lit(key).alias("key"),
                        F.col(f"__c{i}").alias("n_docs"))
               for i, key in buckets]
    return row.select(
        F.explode(F.array(*structs)).alias("b")).select("b.*")


def duckdb_range_agg_sql(
    query: str,
    num_col: str,
    ranges: list[tuple[float | None, float | None]],
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`range_agg_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql("text")
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    parts = []
    for lo, hi in ranges:
        conds = []
        if lo is not None:
            conds.append(f"{num_col}::DOUBLE >= {float(lo)}")
        if hi is not None:
            conds.append(f"{num_col}::DOUBLE < {float(hi)}")
        cond = " AND ".join(conds) or "TRUE"
        key = (f"{'*' if lo is None else float(lo)}"
               f"-{'*' if hi is None else float(hi)}")
        parts.append(
            f"SELECT '{key}' AS key, "
            f"coalesce(sum(CASE WHEN {cond} THEN 1 ELSE 0 END), 0)::BIGINT"
            f" AS n_docs FROM m")
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH m AS (SELECT {num_col} FROM {table} WHERE {pred})
{union}
"""


def filters_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    named_terms: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``filters`` aggregation (filter context): one NAMED bucket
    per sub-filter (here: each value is its own match query — ALL its
    analyzed terms must be present), counted over the docs matching the
    outer query. Buckets may overlap and every named bucket is always
    emitted — same single-reduce-row conditional-count shape as
    :func:`range_agg_df`, unpivoted to ``(key, n_docs)``."""
    base = _matching_rows(docs, analyze_query(query), text_col)
    toks = tokens_col(text_col)
    aggs, names = [], []
    for i, (name, sub) in enumerate(named_terms.items()):
        cond = _terms_condition(toks, analyze_query(sub))
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long")
            .alias(f"__c{i}"))
        names.append((i, name))
    row = base.agg(*aggs)
    structs = [F.struct(F.lit(name).alias("key"),
                        F.col(f"__c{i}").alias("n_docs"))
               for i, name in names]
    return row.select(
        F.explode(F.array(*structs)).alias("b")).select("b.*")


def duckdb_filters_agg_sql(
    query: str,
    named_terms: dict[str, str],
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`filters_agg_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql("text")
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    parts = []
    for name, sub in named_terms.items():
        sub_t = analyze_query(sub)
        cond = " AND ".join(
            f"list_contains(tokens, '{t}')" for t in sub_t) or "FALSE"
        parts.append(
            f"SELECT '{name}' AS key, "
            f"coalesce(sum(CASE WHEN {cond} THEN 1 ELSE 0 END), 0)::BIGINT"
            f" AS n_docs FROM m")
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH m AS (SELECT {toks} AS tokens FROM {table} WHERE {pred})
{union}
"""


def composite_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``composite`` aggregation (filter context): the scale
    counterpart of ``terms`` — buckets keyed by a TUPLE of source
    fields, streamed in deterministic key order ``size`` buckets per
    page with an ``after`` cursor (the last page's final key tuple).
    ES built this agg precisely because a full top-N terms sweep over
    high-cardinality keys cannot be driver-resident; paging by key
    keeps every response bounded no matter the bucket count.

    Plan: conjunction filter → ONE map-side-combinable
    groupBy(sources) → lexicographic strictly-after cursor predicate
    (same shape as search_after) → orderBy(key asc) + limit(size) —
    Catalyst turns the tail into TakeOrderedAndProject, so only
    ``size`` buckets ever reach the driver."""
    return _composite_agg(_ScanSource(spark, docs, id_col, text_col), query,
                          sources, size, after)


def composite_agg_from_index(
    spark: SparkSession,
    tables: "IndexTables",
    meta_docs: DataFrame,
    query: str,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """:func:`composite_agg_df` served FROM THE INDEX: posting-pushdown
    match set → metadata semi-join → the same paged bucket plan.
    Bucket-identical to the scan route (tested)."""
    return _composite_agg(_IndexSource(spark, tables, meta_docs), query,
                          sources, size, after)


def _composite_agg(src, query, sources, size, after) -> DataFrame:
    agg = src.matching_docs(analyze_query(query)).groupBy(
        *[F.col(s) for s in sources]).agg(F.count(F.lit(1)).alias("n_docs"))
    if after is not None:
        if len(after) != len(sources):
            raise ValueError(
                f"after cursor has {len(after)} values for "
                f"{len(sources)} sources")
        # lexicographic strictly-after: (k1 > a1) OR (k1 = a1 AND
        # (k2 > a2)) OR ...
        cursor = F.lit(False)
        for i in range(len(sources) - 1, -1, -1):
            tie = F.col(sources[i]) > F.lit(after[i])
            for j in range(i):
                tie = (F.col(sources[j]) == F.lit(after[j])) & tie
            cursor = cursor | tie
        agg = agg.filter(cursor)
    return agg.orderBy(*[F.asc(s) for s in sources]).limit(size)


def duckdb_composite_agg_sql(
    query: str,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`composite_agg_df` (row-value
    comparison expresses the lexicographic cursor directly)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql("text")
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    cols = ", ".join(sources)
    after_clause = ""
    if after is not None:
        vals = ", ".join(
            f"'{v}'" if isinstance(v, str) else str(v) for v in after)
        after_clause = f"HAVING ({cols}) > ({vals})"
    order = ", ".join(f"{s} ASC" for s in sources)
    return f"""
SELECT {cols}, count(*)::BIGINT AS n_docs
FROM {table}
WHERE {pred}
GROUP BY {cols}
{after_clause}
ORDER BY {order}
LIMIT {size}
"""


# ---------------------------------------------------------------------------
# rank_feature / distance_feature / terms_set / pinned queries,
# missing / sampler aggregations (ES query-DSL + aggs parity)
# ---------------------------------------------------------------------------


def _rank_feature_col(f: "F.Column", function: str, pivot: float,
                      boost: float, exp: float, scaling: float) -> "F.Column":
    """ES rank_feature contribution. Docs without the feature (NULL or
    <= 0 — ES only indexes positive feature values) contribute 0."""
    fv = f.cast("double")
    if function == "saturation":
        c = fv / (fv + F.lit(float(pivot)))
    elif function == "log":
        c = F.log(F.lit(float(scaling)) + fv)  # natural log (Lucene)
    elif function == "sigmoid":
        c = F.pow(fv, F.lit(float(exp))) / (
            F.pow(fv, F.lit(float(exp)))
            + F.lit(float(pivot) ** float(exp)))
    else:
        raise ValueError(f"unknown rank_feature function: {function!r}")
    return F.when(fv.isNotNull() & (fv > 0),
                  F.lit(float(boost)) * c).otherwise(F.lit(0.0))


def _feature_score_tail(base: DataFrame, fvals: DataFrame,
                        contrib: "F.Column", k: int,
                        round_digits: int) -> DataFrame:
    joined = base.join(fvals, "doc_id", "left")
    return (
        joined.select(
            "doc_id",
            F.round(F.col("score") + contrib, round_digits)
            .alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rank_feature_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    feature_col: str,
    function: str = "saturation",
    pivot: float = 1.0,
    boost: float = 1.0,
    exp: float = 1.0,
    scaling: float = 1.0,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """ES ``rank_feature`` query as a bool should clause beside the
    match query (the standard static-signal shape: pagerank, url
    length, freshness score): final = BM25 + saturation/log/sigmoid of
    the feature. ES requires an explicit pivot here (its default is a
    corpus statistic — non-deterministic across refreshes; we keep the
    contract reproducible). Same narrow-projection join plan as
    function_score."""
    return _rank_feature(_ScanSource(spark, docs, id_col, text_col), query,
                         feature_col, function, pivot, boost, exp, scaling,
                         k, round_digits)


def rank_feature_from_index(
    spark: SparkSession,
    tables: IndexTables,
    docs: DataFrame,
    query: str,
    feature_col: str,
    function: str = "saturation",
    pivot: float = 1.0,
    boost: float = 1.0,
    exp: float = 1.0,
    scaling: float = 1.0,
    k: int = 10,
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """:func:`rank_feature_topk_df` with the base score set from the
    terms' posting blocks (rank-identical to the scan route, tested);
    the feature column is a two-column doc-values projection."""
    return _rank_feature(_IndexSource(spark, tables, docs, id_col), query,
                         feature_col, function, pivot, boost, exp, scaling,
                         k, round_digits)


def _rank_feature(src, query, feature_col, function, pivot, boost, exp,
                  scaling, k, round_digits) -> DataFrame:
    terms = analyze_query(query)
    if not terms:
        return src.spark.createDataFrame([], "doc_id long, score double")
    contrib = _rank_feature_col(F.col(feature_col), function, pivot,
                                boost, exp, scaling)
    return _feature_score_tail(src.scores(terms),
                               src.doc_values(F.col(feature_col)),
                               contrib, k, round_digits)


def duckdb_rank_feature_sql(
    query: str,
    feature_col: str,
    function: str = "saturation",
    pivot: float = 1.0,
    boost: float = 1.0,
    exp: float = 1.0,
    scaling: float = 1.0,
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`rank_feature_topk_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl",
        "(select n_docs from stats)", "(select avgdl from stats)")
    f = f"d.{feature_col}::DOUBLE"
    if function == "saturation":
        c = f"{f} / ({f} + {float(pivot)})"
    elif function == "log":
        c = f"ln({float(scaling)} + {f})"
    elif function == "sigmoid":
        c = (f"pow({f}, {float(exp)}) / (pow({f}, {float(exp)}) + "
             f"{float(pivot) ** float(exp)})")
    else:
        raise ValueError(f"unknown rank_feature function: {function!r}")
    contrib = (f"CASE WHEN {f} IS NOT NULL AND {f} > 0 "
               f"THEN {float(boost)} * ({c}) ELSE 0.0 END")
    return f"""
WITH toks AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS tokens FROM {table}
),
docs AS (SELECT doc_id, tokens, len(tokens)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
base AS (
  SELECT doc_id, sum({score}) AS score
  FROM tf JOIN dfm USING (term) GROUP BY doc_id
)
SELECT b.doc_id AS doc_id,
       round(b.score + {contrib}, {round_digits}) AS score
FROM base b LEFT JOIN {table} d ON b.doc_id = d.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def distance_feature_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """ES ``distance_feature`` query (recency / proximity boosting):
    final = BM25 + boost · pivot / (pivot + |field − origin|) over a
    numeric or epoch-seconds field. Missing field contributes 0. Same
    narrow-projection join plan as rank_feature."""
    terms = analyze_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    base = _bm25_scores_df(docs, terms, id_col, text_col,
                           round_digits=None)
    fvals = docs.select(F.col(id_col).alias("doc_id"), F.col(field))
    fv = F.col(field).cast("double")
    contrib = F.when(
        fv.isNotNull(),
        F.lit(float(boost)) * F.lit(float(pivot))
        / (F.lit(float(pivot)) + F.abs(fv - F.lit(float(origin)))),
    ).otherwise(F.lit(0.0))
    return _feature_score_tail(base, fvals, contrib, k, round_digits)


def duckdb_distance_feature_sql(
    query: str,
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`distance_feature_topk_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl",
        "(select n_docs from stats)", "(select avgdl from stats)")
    f = f"d.{field}::DOUBLE"
    contrib = (f"CASE WHEN {f} IS NOT NULL THEN {float(boost)} * "
               f"{float(pivot)} / ({float(pivot)} + abs({f} - "
               f"{float(origin)})) ELSE 0.0 END")
    return f"""
WITH toks AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS tokens FROM {table}
),
docs AS (SELECT doc_id, tokens, len(tokens)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
base AS (
  SELECT doc_id, sum({score}) AS score
  FROM tf JOIN dfm USING (term) GROUP BY doc_id
)
SELECT b.doc_id AS doc_id,
       round(b.score + {contrib}, {round_digits}) AS score
FROM base b LEFT JOIN {table} d ON b.doc_id = d.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def terms_set_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    terms: list[str],
    msm_field: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``terms_set`` query: a doc matches when it contains at least
    ``doc[msm_field]`` of the given terms — minimum_should_match read
    PER DOC from a field (the use case ES built it for: 'match at
    least half the required skills' where the threshold is data).
    Matching docs BM25-score over their matched terms, same contract
    as bool should. The per-doc threshold joins in from a two-column
    projection — no UDF, one aggregate."""
    terms = [t for q in terms for t in analyze_query(q)]
    terms = list(dict.fromkeys(terms))
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(text_col).alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    tf = (
        toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_map = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_map), "term").withColumn(
        "contrib",
        bm25.bm25_score_col(F.col("tf"), F.col("df"), F.col("dl"),
                            n_docs, avgdl),
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count_distinct("term").alias("__n_matched"),
    )
    msm = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(msm_field).cast("long").alias("__msm"))
    out = (
        agg.join(msm, "doc_id")
        .filter(F.col("__n_matched") >= F.col("__msm"))
        .select("doc_id", "score")
    )
    if round_digits is not None:
        out = out.withColumn("score", F.round("score", round_digits))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def duckdb_terms_set_sql(
    terms: list[str],
    msm_field: str,
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`terms_set_topk_df`.
    ``msm_field`` is a SQL expression over the doc alias ``d`` (e.g.
    ``d.required_matches`` or a derived ``(d.n_chars % 3 + 2)``)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = list(dict.fromkeys(
        t for q in terms for t in analyze_query(q)))
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    score = bm25.duckdb_bm25_sql(
        "tf", "df", "dl",
        "(select n_docs from stats)", "(select avgdl from stats)")
    return f"""
WITH toks AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS tokens FROM {table}
),
docs AS (SELECT doc_id, tokens, len(tokens)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM docs)
  WHERE term IN ({terms_sql})
  GROUP BY doc_id, term
),
dfm AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
agg AS (
  SELECT doc_id, sum({score}) AS score,
         count(DISTINCT term) AS n_matched
  FROM tf JOIN dfm USING (term) GROUP BY doc_id
)
SELECT a.doc_id AS doc_id, round(a.score, {round_digits}) AS score
FROM agg a JOIN {table} d ON a.doc_id = d.doc_id
WHERE a.n_matched >= ({msm_field})
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def pinned_query_df(
    spark: SparkSession,
    docs: DataFrame,
    pinned_ids: list[int],
    organic_query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """ES ``pinned`` query: the listed ids rank first IN LIST ORDER
    (whether or not they match), then the organic query's matches
    minus the pinned set. Pinned doc i gets the deterministic
    artificial score ``1e9 − i`` (ES uses decreasing floats above any
    practical organic score; the exact values are an implementation
    detail there too — ours are documented and reproducible)."""
    terms = analyze_query(organic_query)
    organic = (_bm25_scores_df(docs, terms, id_col, text_col,
                               round_digits)
               if terms else
               spark.createDataFrame([], "doc_id long, score double"))
    if pinned_ids:
        organic = organic.filter(
            ~F.col("doc_id").isin([int(i) for i in pinned_ids]))
        pinned = spark.createDataFrame(
            [(int(d), float(1e9 - i))
             for i, d in enumerate(pinned_ids)],
            "doc_id long, score double",
        ).join(docs.select(F.col(id_col).alias("doc_id")), "doc_id",
               "left_semi")
        organic = pinned.unionByName(organic)
    return organic.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def duckdb_pinned_sql(
    pinned_ids: list[int],
    organic_query: str,
    k: int = 10,
    table: str = "documents",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`pinned_query_df`."""
    base = duckdb_bm25_topk_sql(organic_query, k=1 << 30, table=table,
                                round_digits=round_digits)
    ids_sql = ", ".join(str(int(i)) for i in pinned_ids) or "NULL"
    pin_rows = " UNION ALL ".join(
        f"SELECT {int(d)}::BIGINT AS doc_id, "
        f"{float(1e9 - i)} AS score" for i, d in enumerate(pinned_ids))
    pin_cte = (f"pins AS (SELECT p.* FROM ({pin_rows}) p "
               f"JOIN {table} t ON p.doc_id = t.doc_id)"
               if pinned_ids else
               "pins AS (SELECT 1::BIGINT AS doc_id, 1.0 AS score "
               "WHERE FALSE)")
    return f"""
WITH organic AS ({base}),
{pin_cte}
SELECT doc_id, score FROM (
  SELECT doc_id, score FROM pins
  UNION ALL
  SELECT doc_id, score FROM organic WHERE doc_id NOT IN ({ids_sql})
)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def missing_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    field: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``missing`` aggregation (filter context): how many docs
    matching the query have NO indexed value for ``field`` — NULL and
    '' both count as missing, mirroring :func:`es_fields.exists_filter`
    (ES's exists/missing duality). One conditional-count reduce row."""
    base = _matching_rows(docs, analyze_query(query), text_col)
    fc = F.col(field)
    is_missing = fc.isNull() | (fc.cast("string") == F.lit(""))
    return base.agg(
        F.sum(F.when(is_missing, 1).otherwise(0)).cast("long")
        .alias("n_docs"))


def duckdb_missing_agg_sql(
    query: str,
    field_sql: str,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`missing_agg_df` (``field_sql`` is
    an expression so derived/sparse fields can be checked)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql("text")
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    return f"""
SELECT coalesce(sum(CASE WHEN ({field_sql}) IS NULL
                         OR ({field_sql})::VARCHAR = ''
                    THEN 1 ELSE 0 END), 0)::BIGINT AS n_docs
FROM {table}
WHERE {pred}
"""


def sampler_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    group_col: str,
    shard_size: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``sampler`` aggregation: restrict a sub-aggregation (here: a
    terms agg over ``group_col``) to the top-``shard_size``
    BEST-SCORING matches — the agg ES built so expensive sub-aggs see
    only high-relevance docs. ES samples per shard; we take the
    deterministic GLOBAL top-``shard_size`` (rounded score, doc_id
    tie-break — reproducible and oracle-checkable, and the global cut
    is what a single-shard ES gives). Plan: the shared scoring
    aggregate → TakeOrderedAndProject(shard_size) → broadcast-sized
    group count."""
    terms = analyze_query(query)
    if not terms:
        return docs.limit(0).groupBy(F.col(group_col)).agg(
            F.count(F.lit(1)).alias("n_docs"))
    top = (_bm25_scores_df(docs, terms, id_col, text_col, 6)
           .orderBy(F.desc("score"), F.asc("doc_id"))
           .limit(shard_size))
    meta = docs.select(F.col(id_col).alias("doc_id"), F.col(group_col))
    return (
        top.join(meta, "doc_id")
        .groupBy(F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(group_col))
    )


def duckdb_sampler_agg_sql(
    query: str,
    group_col: str,
    shard_size: int = 100,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`sampler_agg_df`."""
    base = duckdb_bm25_topk_sql(query, k=shard_size, table=table)
    return f"""
WITH top AS ({base})
SELECT d.{group_col} AS {group_col}, count(*)::BIGINT AS n_docs
FROM top t JOIN {table} d ON t.doc_id = d.doc_id
GROUP BY d.{group_col}
ORDER BY n_docs DESC, {group_col} ASC
"""


def diversified_sampler_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    group_col: str,
    dedup_col: str,
    shard_size: int = 100,
    max_docs_per_value: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``diversified_sampler``: :func:`sampler_agg_df` with a
    de-duplication constraint — at most ``max_docs_per_value`` docs per
    distinct ``dedup_col`` value survive into the top-``shard_size``
    sample (ES's anti-bias sampler: stops one hot author/host from
    dominating the sample).  Plan: shared scoring aggregate → one
    window PARTITIONED BY the diversity value (a key-partitioned
    shuffle, never a global sort) → TakeOrderedAndProject(shard_size)
    → broadcast-sized group count."""
    terms = analyze_query(query)
    if not terms:
        return docs.limit(0).groupBy(F.col(group_col)).agg(
            F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    scores = _bm25_scores_df(docs, terms, id_col, text_col, 6)
    meta = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(group_col), F.col(dedup_col).alias("__dv"))
    j = scores.join(meta, "doc_id")
    w = Window.partitionBy("__dv").orderBy(F.desc("score"),
                                           F.asc("doc_id"))
    kept = (j.withColumn("__rk", F.row_number().over(w))
             .filter(F.col("__rk") <= int(max_docs_per_value)))
    top = kept.orderBy(F.desc("score"), F.asc("doc_id")) \
              .limit(int(shard_size))
    return (
        top.groupBy(F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(group_col))
    )


def duckdb_diversified_sampler_sql(
    query: str,
    group_col: str,
    dedup_expr: str,
    shard_size: int = 100,
    max_docs_per_value: int = 1,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`diversified_sampler_agg_df` —
    ``dedup_expr`` is the diversity value as a SQL expression."""
    base = duckdb_bm25_topk_sql(query, k=2147483647, table=table)
    return f"""
WITH scored AS ({base}),
j AS (
  SELECT s.doc_id, s.score, d.{group_col} AS g, {dedup_expr} AS dv
  FROM scored s JOIN {table} d ON s.doc_id = d.doc_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY dv
                               ORDER BY score DESC, doc_id ASC) AS rk
  FROM j
),
top AS (
  SELECT * FROM r WHERE rk <= {int(max_docs_per_value)}
  ORDER BY score DESC, doc_id ASC LIMIT {int(shard_size)}
)
SELECT g AS {group_col}, count(*)::BIGINT AS n_docs
FROM top GROUP BY g
ORDER BY n_docs DESC, {group_col} ASC
"""


def adjacency_matrix_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    named_terms: dict[str, str],
    separator: str = "&",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: doc counts for every named
    filter AND every pairwise intersection (key ``a&b``, ES's
    separator) — the co-occurrence matrix behind entity-relation
    graphs. Same single-reduce-row conditional-count shape as
    :func:`filters_agg_df` (N + N·(N−1)/2 counts in ONE combinable
    aggregate); ES emits only non-empty buckets here (unlike
    ``filters``), so the unpivot filters n_docs > 0."""
    base = _matching_rows(docs, analyze_query(query), text_col)
    toks = tokens_col(text_col)
    names = list(named_terms)
    conds = {name: _terms_condition(toks, analyze_query(named_terms[name]))
             for name in names}
    cells = [(n, conds[n]) for n in names]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            cells.append((f"{a}{separator}{b}", conds[a] & conds[b]))
    aggs = [
        F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"__c{i}")
        for i, (_, c) in enumerate(cells)
    ]
    row = base.agg(*aggs)
    structs = [F.struct(F.lit(key).alias("key"),
                        F.col(f"__c{i}").alias("n_docs"))
               for i, (key, _) in enumerate(cells)]
    return (
        row.select(F.explode(F.array(*structs)).alias("b"))
        .select("b.*")
        .filter(F.col("n_docs") > 0)
    )


def duckdb_adjacency_matrix_sql(
    query: str,
    named_terms: dict[str, str],
    separator: str = "&",
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`adjacency_matrix_df`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql("text")
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    names = list(named_terms)
    conds = {}
    for name in names:
        sub_t = analyze_query(named_terms[name])
        conds[name] = " AND ".join(
            f"list_contains(tokens, '{t}')" for t in sub_t) or "FALSE"
    cells = [(n, conds[n]) for n in names]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            cells.append((f"{a}{separator}{b}",
                          f"({conds[a]}) AND ({conds[b]})"))
    parts = [
        f"SELECT '{key}' AS key, "
        f"coalesce(sum(CASE WHEN {c} THEN 1 ELSE 0 END), 0)::BIGINT"
        f" AS n_docs FROM m"
        for key, c in cells
    ]
    union = "\nUNION ALL\n".join(parts)
    return f"""
SELECT key, n_docs FROM (
WITH m AS (SELECT {toks} AS tokens FROM {table} WHERE {pred})
{union}
) WHERE n_docs > 0
"""


def suggest_phrase(
    spark: SparkSession,
    tables: "IndexTables",
    text: str,
    max_edits: int = 2,
    candidates_per_term: int = 3,
    k: int = 3,
    prefix_length: int = 1,
    edit_penalty: float = 1.0,
    engine: "QueryEngine | None" = None,
) -> DataFrame:
    """ES ``phrase`` suggester ("did you mean" over WHOLE queries):
    per input term, the top candidate corrections from the term
    dictionary (the :func:`suggest_terms` ranking: distance asc, df
    desc — plus the term itself at distance 0); candidate phrases are
    every combination, scored by a smoothed unigram log-likelihood
    minus an edit penalty:

        score = Σ_i [ ln((df_i + 0.5) / (n_docs + 1)) − penalty·dist_i ]

    ES's phrase suggester ranks with a bigram stupid-backoff model over
    the shard — that model needs a bigram table this index does not
    persist, so the documented model here is the dictionary-only
    unigram with explicit smoothing (deterministic, cross-engine
    reproducible). The identity phrase (zero edits) is included and
    wins exactly when no correction raises corpus likelihood enough to
    pay its penalty — the ``real_word_error_likelihood`` analogue.

    Cost: ONE slot-tagged dictionary scan covers every input term's
    candidates and identity dfs (the old shape ran one vocabulary scan
    per slot — N sequential jobs per suggestion call), then a
    driver-side product bounded by ``candidates_per_term ** n_terms``
    — both knobs are small by contract (ES's own gram_size/candidate
    caps). Pass ``engine=`` to serve from its reader's in-memory
    dictionary: zero Spark jobs once it is loaded, same result (tested
    identical)."""
    import math

    from deces_dataprep_spark.functions.analyze import normalize_text

    terms = tokenize_text(text)
    if not terms:
        return spark.createDataFrame([], "suggestion string, score double")
    if engine is not None:
        n_docs = int(engine.n_docs)  # cached — no stats job
    else:
        n_docs = int(tables.stats.collect()[0]["n_docs"])
    qs = [normalize_text(t) for t in terms]

    dfs_all = engine.reader.dictionary() if engine is not None else None
    if dfs_all is not None:
        # serving tier: the dictionary is in memory — expand every slot
        # from the sorted vocab index (length buckets + early-exit
        # distance), ZERO Spark jobs
        from deces_dataprep_spark.index.querystring import (
            _lev_dist,
            _vocab_index,
        )

        vi = _vocab_index(engine)
        slot_cands = []
        for q in qs:
            cands = [t for t in vi.fuzzy(q, max_edits) if t != q]
            if prefix_length > 0:
                cands = [t for t in cands
                         if t.startswith(q[:prefix_length])]
            ranked = sorted(
                ((t, _lev_dist(t, q, max_edits),
                  int(dfs_all.get(t, 0))) for t in cands),
                key=lambda x: (x[1], -x[2], x[0]))
            slot_cands.append([(q, 0, int(dfs_all.get(q, 0)))]
                              + ranked[:candidates_per_term])
    else:
        # distributed tier: ONE slot-tagged dictionary scan for every
        # slot's candidates AND identity dfs (the old shape ran one
        # suggest_terms job per input term — N vocabulary scans per
        # suggestion call), then ONE per-slot window cut
        from pyspark.sql import Window

        entries = []
        for i, q in enumerate(qs):
            dist = F.levenshtein(F.col("term"), F.lit(q), max_edits)
            cond = (
                (F.length("term") >= len(q) - max_edits)
                & (F.length("term") <= len(q) + max_edits)
                & (F.col("term") != q)
            )
            if prefix_length > 0:
                cond = cond & F.col("term").startswith(q[:prefix_length])
            cond = cond & (dist >= 0)
            entries.append(F.when(cond, F.struct(
                F.lit(i).alias("slot"), dist.alias("distance"))))
            entries.append(F.when(F.col("term") == q, F.struct(
                F.lit(i).alias("slot"),
                F.lit(0).alias("distance"))))
        arr = F.filter(F.array(*entries), lambda x: x.isNotNull())
        cand = (
            tables.dictionary
            .select("term", "df", F.explode(arr).alias("e"))
            .select(F.col("e.slot").alias("slot"), "term",
                    F.col("e.distance").alias("distance"), "df")
        )
        w = Window.partitionBy("slot").orderBy(
            F.asc("distance"), F.desc("df"), F.asc("term"))
        ranked = cand.filter(F.col("distance") > 0).withColumn(
            "rk", F.row_number().over(w)
        ).filter(F.col("rk") <= candidates_per_term).drop("rk")
        rows = ranked.unionByName(
            cand.filter(F.col("distance") == 0)).collect()
        slot_cands = [[] for _ in qs]
        identity_df = {i: 0 for i in range(len(qs))}
        corrections: list[list] = [[] for _ in qs]
        for r in rows:
            if int(r["distance"]) == 0:
                identity_df[int(r["slot"])] = int(r["df"])
            else:
                corrections[int(r["slot"])].append(
                    (r["term"], int(r["distance"]), int(r["df"])))
        for i, q in enumerate(qs):
            corrections[i].sort(key=lambda x: (x[1], -x[2], x[0]))
            slot_cands[i] = [(q, 0, identity_df[i])] + corrections[i]

    import itertools

    scored = []
    for combo in itertools.product(*slot_cands):
        s = 0.0
        for term, dist, df in combo:
            s += math.log((df + 0.5) / (n_docs + 1)) \
                - float(edit_penalty) * dist
        scored.append((" ".join(c[0] for c in combo), round(s, 6)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(scored[:k],
                                 "suggestion string, score double")


def duckdb_suggest_phrase_sql(
    text: str,
    max_edits: int = 2,
    candidates_per_term: int = 3,
    k: int = 3,
    prefix_length: int = 1,
    edit_penalty: float = 1.0,
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`suggest_phrase` — per-slot
    candidate CTEs with the same (distance, df desc, term) ranking,
    cross-joined and scored with the identical smoothed unigram
    formula. df comes from the raw corpus (= the dictionary's df by
    construction)."""
    from deces_dataprep_spark.functions.analyze import (
        duckdb_tokens_sql,
        normalize_text,
    )

    terms = tokenize_text(text)
    if not terms:
        return ("SELECT '' AS suggestion, 0.0 AS score WHERE FALSE")
    toks = duckdb_tokens_sql("text")
    ctes = [f"""vocab AS (
  SELECT term, count(*)::BIGINT AS df
  FROM (SELECT doc_id, unnest(list_distinct({toks})) AS term
        FROM {table})
  GROUP BY term
),
stats AS (SELECT count(*)::BIGINT AS n_docs FROM {table})"""]
    slot_selects = []
    for i, t in enumerate(terms):
        q = normalize_text(t).replace("'", "''")
        ctes.append(f"""cand{i} AS (
  SELECT term, dist, df FROM (
    SELECT u.*, CASE WHEN u.dist = 0 THEN -1 ELSE u.dist END AS rank0
    FROM (
      SELECT '{q}' AS term, 0 AS dist,
             coalesce((SELECT df FROM vocab WHERE term = '{q}'), 0) AS df
      UNION ALL
      SELECT term, levenshtein(term, '{q}') AS dist, df
      FROM vocab
      WHERE term != '{q}'
        AND len(term) BETWEEN len('{q}') - {max_edits}
                          AND len('{q}') + {max_edits}
        AND substr(term, 1, {prefix_length}) =
            substr('{q}', 1, {prefix_length})
        AND levenshtein(term, '{q}') <= {max_edits}
    ) u
    ORDER BY rank0 ASC, df DESC, term ASC
    LIMIT {candidates_per_term + 1}
  )
)""")
        slot_selects.append(f"cand{i}")
    # the identity candidate sorts first (dist −1 sentinel) so the
    # LIMIT keeps it plus the top candidates_per_term corrections —
    # mirroring the Spark route's [identity] + top-k list
    cross = ", ".join(slot_selects)
    sugg = " || ' ' || ".join(
        f"{s}.term" for s in slot_selects)
    score = " + ".join(
        f"(ln(({s}.df + 0.5) / ((SELECT n_docs FROM stats) + 1)) - "
        f"{float(edit_penalty)} * {s}.dist)" for s in slot_selects)
    return f"""
WITH {", ".join(ctes)}
SELECT {sugg} AS suggestion, round({score}, 6) AS score
FROM {cross}
ORDER BY score DESC, suggestion ASC
LIMIT {k}
"""


def rare_terms_df(
    spark: SparkSession,
    docs: DataFrame,
    max_doc_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens=None,
) -> DataFrame:
    """ES ``rare_terms`` aggregation over the analyzed text field:
    terms whose document frequency is ≤ ``max_doc_count`` →
    ``(term, doc_count)`` ordered (doc_count asc, term asc) — ES's
    long-tail complement of ``terms`` (which can never surface rare
    buckets through its top-N cut).  Scan route: one distinct-tokens
    explode → one combinable groupBy; the selective ``df ≤ k`` filter
    sits on the already-reduced frame.  ``tokens`` (a Column) overrides
    the tokenizer — pass ``F.array(col)`` to run ES's usual
    rare-terms-on-a-keyword-field shape."""
    toks = docs.select(
        F.explode(F.array_distinct(
            tokens if tokens is not None else tokens_col(text_col)))
        .alias("term"))
    out = toks.groupBy("term").agg(F.count(F.lit(1)).alias("doc_count"))
    return (out.filter(F.col("doc_count") <= int(max_doc_count))
            .orderBy(F.asc("doc_count"), F.asc("term")))


def rare_terms_from_index(
    tables: IndexTables,
    max_doc_count: int = 2,
) -> DataFrame:
    """``rare_terms`` served from the dictionary — df is already
    aggregated from block metadata at build time, so this never touches
    a posting: one filter over the term-cardinality dictionary frame.
    Identical to the scan route (tested)."""
    return (tables.dictionary
            .select("term", F.col("df").cast("long").alias("doc_count"))
            .filter(F.col("doc_count") <= int(max_doc_count))
            .orderBy(F.asc("doc_count"), F.asc("term")))


def duckdb_rare_terms_sql(max_doc_count: int = 2,
                          table: str = "documents",
                          text_col: str = "text",
                          tokens_sql: str | None = None) -> str:
    """DuckDB oracle twin of :func:`rare_terms_df`; ``tokens_sql``
    overrides the tokenizer expression (keyword-field shape)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    toks = tokens_sql or duckdb_tokens_sql(text_col)
    return f"""
WITH t AS (SELECT doc_id, list_distinct({toks}) AS toks FROM {table}),
e AS (SELECT unnest(toks) AS term FROM t)
SELECT term, count(*)::BIGINT AS doc_count
FROM e GROUP BY term
HAVING count(*) <= {int(max_doc_count)}
ORDER BY doc_count ASC, term ASC
"""
