"""Positional index + phrase queries (ES ``match_phrase`` parity).

The posting blocks (builder.py) are doc-only — enough for BM25 ranking.
Phrase queries additionally need token positions. Rather than widening
the block codec, positions live in their own table (the classic
separation: frequencies hot path, positions cold path — Lucene stores
them as separate streams for the same reason):

    positions(shard, term, doc_id, positions array<int>)

built by ONE posexplode + groupBy shuffle (map-side combine on
(shard, term, doc_id)); parquet dictionary+RLE encodes the int arrays
compactly. Phrase evaluation is fully native Catalyst — no Python:

* scan path  — :func:`phrase_match`: per doc, fold the phrase terms
  with ``array_intersect(transform(prev, p → p+1), pos_i)``: after
  step i the array holds every position where the first i+1 terms end
  adjacently; non-empty at the end = match.
* index path — :func:`phrase_match_from_index`: fetch the phrase
  terms' position rows (parquet pushdown on ``term IN (...)``), join
  per doc, apply the same fold. Tested identical to the scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import tokens_col


def positions_from_tokens(toks: DataFrame, n_shards: int = 4) -> DataFrame:
    """positions over a pre-tokenized projection ``(doc_id, tokens, …)``
    — lets write_index reuse its single cached tokenize pass."""
    pos = toks.select(
        "doc_id",
        F.posexplode("tokens").alias("pos", "term"),
    )
    return pos.groupBy(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "term",
        "doc_id",
    ).agg(F.array_sort(F.collect_list("pos")).alias("positions"))


def positions_table(docs: DataFrame, n_shards: int = 4,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(shard, term, doc_id, positions) — one shuffle, sorted positions."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokens_col(text_col).alias("tokens"))
    return positions_from_tokens(toks, n_shards)


def _adjacency_fold(pos_cols: list) -> "F.Column":
    """Fold position arrays: positions where term_0..term_i end
    adjacently. Returns a BOOLEAN match column."""
    cand = pos_cols[0]
    for nxt in pos_cols[1:]:
        cand = F.array_intersect(
            F.transform(cand, lambda p: p + 1), nxt
        )
    return F.size(cand) > 0


def _slop_fold(pos_cols: list, slop: int) -> "F.Column":
    """Sloppy in-order fold (Lucene ordered SpanNear semantics): the
    terms must appear in phrase order with at most ``slop`` total
    skipped positions between them — i.e. an increasing position chain
    j_0 < … < j_{n-1} with span j_{n-1} − j_0 ≤ n−1+slop. (ES's
    match_phrase slop additionally buys re-ordering at 2 moves per
    transposition; this engine keeps the stricter in-order contract
    and documents it.)

    Native Catalyst fold over arrays of (pos, used) structs: for each
    candidate end position q of term i, keep the MINIMUM slop spent by
    any chain ending there (greedy-min is exact because used values
    only ever add non-negative gaps). No UDF, no explode — per-doc
    arrays stay inside whole-stage codegen."""
    def make_step(cand):
        # closure factory, NOT a default arg: pyspark counts a lambda's
        # parameters to decide (element) vs (element, index) signatures
        def step(q):
            best = F.array_min(F.transform(
                cand,
                lambda c: F.when(c["pos"] < q,
                                 c["used"] + (q - c["pos"] - 1)),
            ))
            return F.struct(q.alias("pos"), best.alias("used"))
        return step

    cand = F.transform(pos_cols[0],
                       lambda p: F.struct(p.alias("pos"),
                                          F.lit(0).alias("used")))
    for nxt in pos_cols[1:]:
        cand = F.filter(
            F.transform(nxt, make_step(cand)),
            lambda x: x["used"].isNotNull() & (x["used"] <= F.lit(slop)),
        )
    return F.size(cand) > 0


def _phrase_fold(pos_cols: list, slop: int) -> "F.Column":
    return _adjacency_fold(pos_cols) if slop == 0 \
        else _slop_fold(pos_cols, slop)


def phrase_cond(toks: "F.Column", terms: list[str],
                slop: int = 0) -> "F.Column":
    """Boolean phrase-match over a tokens ARRAY COLUMN (analyzed terms
    in order, ≤ ``slop`` skipped slots) — the scalar building block
    behind :func:`phrase_match` and the query-string compiler."""
    pos_cols = [
        F.filter(
            F.transform(toks, lambda t, i: F.when(t == F.lit(term), i)),
            lambda x: x.isNotNull(),
        )
        for term in terms
    ]
    return _phrase_fold(pos_cols, slop)


def phrase_match(docs: DataFrame, phrase: str, text_col: str = "text",
                 id_col: str = "doc_id", slop: int = 0) -> DataFrame:
    """doc_ids whose analyzed token stream contains the analyzed phrase
    as consecutive tokens — native expressions over one tokenize.
    ``slop > 0`` relaxes to the in-order sloppy contract of
    :func:`_slop_fold` (ES ``match_phrase`` ``slop`` parameter)."""
    # NOT analyze_query: that de-dups terms; a phrase needs the raw
    # ordered term list ("to be or not to be").
    from deces_dataprep_spark.functions.analyze import tokenize_text

    terms = tokenize_text(phrase)
    if not terms:
        return docs.select(F.col(id_col).alias("doc_id")).limit(0)
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokens_col(text_col).alias("toks"))
    return toked.filter(
        phrase_cond(F.col("toks"), terms, slop)).select("doc_id")


def phrase_match_from_index(spark: SparkSession, positions: DataFrame,
                            phrase: str, slop: int = 0) -> DataFrame:
    """The same phrase over the positional index: pushdown-fetch the
    phrase terms' rows, self-join per doc, adjacency fold."""
    from deces_dataprep_spark.functions.analyze import tokenize_text

    terms = tokenize_text(phrase)
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    return phrase_terms_from_index(positions, terms, slop)


def phrase_terms_from_index(positions: DataFrame, terms: list[str],
                            slop: int = 0) -> DataFrame:
    """doc_ids matching an ALREADY-ANALYZED term sequence over the
    positional index — the building block under
    :func:`phrase_match_from_index` and the query-string index route
    (whose parser analyzes atoms itself). Cost is bounded by the
    phrase terms' document frequencies, never the corpus."""
    sides = []
    for i, term in enumerate(terms):
        sides.append(
            positions.filter(F.col("term") == term)
            .select("doc_id", F.col("positions").alias(f"p{i}"))
        )
    joined = sides[0]
    for s in sides[1:]:
        joined = joined.join(s, "doc_id")  # conjunctive: all terms present
    return joined.filter(
        _phrase_fold([F.col(f"p{i}") for i in range(len(terms))], slop)
    ).select("doc_id")


def match_phrase_prefix(docs: DataFrame, phrase: str,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """ES ``match_phrase_prefix`` (search-as-you-type): the analyzed
    phrase must appear as consecutive tokens, except the LAST term
    matches any token it is a prefix of ("merge so" hits "merge sort"
    and "merge sorted"). Same native position-fold plan as
    :func:`phrase_match` — the only change is the last term's position
    set uses ``startswith`` instead of equality. Reference query-side
    contract: the edge-ngram/index_prefixes fields of
    deces_index.yml:28-33,80-82 exist to serve exactly this query
    shape."""
    from deces_dataprep_spark.functions.analyze import tokenize_text

    terms = tokenize_text(phrase)
    if not terms:
        return docs.select(F.col(id_col).alias("doc_id")).limit(0)
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokens_col(text_col).alias("toks"))

    def pos_of(term: str, is_last: bool):
        if is_last:
            match = lambda t: t.startswith(term)  # noqa: E731
        else:
            match = lambda t: t == F.lit(term)  # noqa: E731
        return F.filter(
            F.transform(F.col("toks"),
                        lambda t, i: F.when(match(t), i)),
            lambda x: x.isNotNull(),
        )

    pos_cols = [pos_of(t, i == len(terms) - 1)
                for i, t in enumerate(terms)]
    return toked.filter(_adjacency_fold(pos_cols)).select("doc_id")


def duckdb_phrase_match_sql(phrase: str, table: str = "documents",
                            text_col: str = "text",
                            prefix_last: bool = False,
                            slop: int = 0) -> str:
    """DuckDB oracle: exists j with tokens[j..j+n-1] == phrase terms
    (1-based list indexing). ``prefix_last`` switches the last term to
    a ``starts_with`` match — the :func:`match_phrase_prefix` oracle.
    ``slop > 0`` switches to the sloppy oracle: per-term position sets
    joined with an increasing-chain + span bound — an INDEPENDENT
    derivation of the same contract (the engine folds per doc; the
    oracle enumerates chains)."""
    from deces_dataprep_spark.functions.analyze import (
        duckdb_tokens_sql,
        tokenize_text,
    )

    terms = tokenize_text(phrase)
    toks = duckdb_tokens_sql(text_col)
    if slop > 0:
        if prefix_last:
            raise ValueError("slop oracle does not support prefix_last")
        n = len(terms)
        ctes = [f"t AS (SELECT doc_id, {toks} AS toks FROM {table})"]
        for i, term in enumerate(terms):
            ctes.append(
                f"p{i} AS (SELECT doc_id, unnest(list_filter("
                f"generate_series(1, len(toks)), j -> toks[j] = '{term}'"
                f")) AS j{i} FROM t)")
        joins = "p0 " + " ".join(
            f"JOIN p{i} USING (doc_id)" for i in range(1, n))
        order = " AND ".join(f"j{i} < j{i + 1}" for i in range(n - 1))
        span = f"j{n - 1} - j0 - {n - 1} <= {slop}"
        return f"""
WITH {", ".join(ctes)}
SELECT DISTINCT doc_id FROM {joins}
WHERE {order} AND {span}
"""
    conds = " AND ".join(
        (f"starts_with(toks[j + {i}], '{t}')"
         if prefix_last and i == len(terms) - 1
         else f"toks[j + {i}] = '{t}'")
        for i, t in enumerate(terms)
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM {table})
SELECT doc_id FROM t
WHERE len(toks) >= {len(terms)}
  AND len(list_filter(generate_series(1, len(toks) - {len(terms) - 1}),
                      j -> {conds})) > 0
"""


def duckdb_phrase_cond_sql(terms: list[str], toks: str = "toks",
                           slop: int = 0) -> str:
    """Scalar SQL BOOLEAN for "tokens array contains the phrase"
    over a ``toks`` list expression — the oracle twin of
    :func:`phrase_cond`, used by composite oracles (query_string)
    that need the phrase test as one predicate among many.

    slop=0: window scan (exists j with toks[j..j+n-1] == terms).
    slop>0: nested ``list_filter`` chain enumeration — an increasing
    position chain with total span ≤ n-1+slop (independent derivation
    of the engine's min-slop fold)."""
    n = len(terms)
    if n == 0:
        return "FALSE"
    if slop == 0:
        conds = " AND ".join(
            f"{toks}[j + {i}] = '{t}'" for i, t in enumerate(terms))
        return (f"(len({toks}) >= {n} AND len(list_filter("
                f"generate_series(1, len({toks}) - {n - 1}), "
                f"j -> {conds})) > 0)")
    pos = [f"list_filter(generate_series(1, len({toks})), "
           f"p -> {toks}[p] = '{t}')" for t in terms]
    # innermost-out: chain j0 < j1 < … < j_{n-1}, span bound at the end
    inner = (f"len(list_filter({pos[n - 1]}, j{n - 1} -> "
             f"j{n - 1} > j{n - 2} AND "
             f"j{n - 1} - j0 - {n - 1} <= {slop})) > 0")
    for i in range(n - 2, 0, -1):
        inner = (f"len(list_filter({pos[i]}, j{i} -> "
                 f"j{i} > j{i - 1} AND ({inner}))) > 0")
    return f"(len(list_filter({pos[0]}, j0 -> {inner})) > 0)"


# ---------------------------------------------------------------------------
# span queries (ES span_first / span_near)
# ---------------------------------------------------------------------------


def _term_positions_col(toks: "F.Column", term: str) -> "F.Column":
    """0-based positions of ``term`` in the tokens array — the same
    building block :func:`phrase_cond` uses."""
    return F.filter(
        F.transform(toks, lambda t, i: F.when(t == F.lit(term), i)),
        lambda x: x.isNotNull(),
    )


def span_first_match(docs: DataFrame, term: str, end: int,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """ES ``span_first``: docs where ``term`` has an occurrence whose
    span END position is ≤ ``end`` — for a single-token span at
    0-based position p that is ``p < end`` (position boundaries are
    how ES anchors 'near the beginning of the field').  One row-local
    array kernel over the shared tokenize; no explode, no shuffle."""
    from deces_dataprep_spark.functions.analyze import tokenize_text

    t = tokenize_text(term)
    if len(t) != 1:
        raise ValueError("span_first takes exactly one analyzed term")
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokens_col(text_col).alias("toks"))
    pos = _term_positions_col(F.col("toks"), t[0])
    return toked.filter(
        F.exists(pos, lambda p: p < F.lit(int(end)))).select("doc_id")


def span_near_match(docs: DataFrame, terms_in: list[str], slop: int,
                    in_order: bool = True, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """ES ``span_near``: clause spans within ``slop`` skipped positions
    of each other.  ``in_order=True`` is Lucene's ordered SpanNear —
    exactly the engine's sloppy in-order fold (:func:`_slop_fold`).
    ``in_order=False`` (unordered) is supported for the two-clause
    case — minimal covering window ≤ slop + 2 tokens, i.e.
    ``|p − q| − 1 ≤ slop`` — the overwhelmingly common span shape; ≥3
    unordered clauses would need the k-list minimal-window merge and
    raises until someone needs it."""
    from deces_dataprep_spark.functions.analyze import tokenize_text

    terms = [w for t in terms_in for w in tokenize_text(t)]
    if len(terms) < 2:
        raise ValueError("span_near needs at least two clauses")
    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokens_col(text_col).alias("toks"))
    pos_cols = [_term_positions_col(F.col("toks"), t) for t in terms]
    if in_order:
        cond = _slop_fold(pos_cols, int(slop))
    else:
        if len(terms) != 2:
            raise ValueError("unordered span_near supports exactly two "
                             "clauses")
        p0, p1 = pos_cols
        cond = F.exists(p0, lambda p: F.exists(
            p1, lambda q: F.abs(p - q) - 1 <= F.lit(int(slop))))
    return toked.filter(cond).select("doc_id")


def duckdb_span_first_sql(term: str, end: int, table: str = "documents",
                          text_col: str = "text") -> str:
    """DuckDB oracle twin of :func:`span_first_match` (1-based list
    indexing → 0-based positions via j-1)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    toks = duckdb_tokens_sql(text_col)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM {table})
SELECT doc_id FROM t
WHERE len(list_filter(generate_series(1, len(toks)),
                      j -> toks[j] = '{term}' AND j - 1 < {int(end)})) > 0
"""


def duckdb_span_near_sql(terms: list[str], slop: int,
                         in_order: bool = True,
                         table: str = "documents",
                         text_col: str = "text") -> str:
    """DuckDB oracle twin of :func:`span_near_match`."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    toks = duckdb_tokens_sql(text_col)
    if in_order:
        cond = duckdb_phrase_cond_sql(terms, toks="toks", slop=int(slop))
    else:
        if len(terms) != 2:
            raise ValueError("unordered span_near supports exactly two "
                             "clauses")
        a, b = terms
        pa = (f"list_filter(generate_series(1, len(toks)), "
              f"p -> toks[p] = '{a}')")
        pb = (f"list_filter(generate_series(1, len(toks)), "
              f"q -> toks[q] = '{b}')")
        cond = (f"len(list_filter({pa}, p -> len(list_filter({pb}, "
                f"q -> abs(p - q) - 1 <= {int(slop)})) > 0)) > 0")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM {table})
SELECT doc_id FROM t WHERE {cond}
"""
