"""ES ``simple_query_string`` — the user-facing query syntax.

The reference fronts its index with ES, whose search boxes speak this
grammar (never-throwing by design — ES's recommended surface for raw
user input):

    +term      AND (also the default_operator="and" adjacency)
    |          OR
    -term      negation (NOT)
    "a b"~N    phrase, optional slop N
    term*      prefix
    term~N     fuzzy (Damerau-free Levenshtein ≤ N; ES caps at 2)
    ( … )      grouping
    \\x        escapes any special character

Operators combine LEFT-ASSOCIATIVELY with equal precedence, exactly
like Lucene's ``SimpleQueryParser`` consumes clauses: ``a b | c``
with default OR is ``((a OR b) OR c)``; ``a +b | c`` is
``((a AND b) OR c)``. Unparseable fragments degrade to terms rather
than raising (the ES contract).

Semantics (the engine's documented contract, shared bit-for-bit by
the DuckDB oracle):

* **matching** — the boolean tree is evaluated exactly: terms by
  membership in the analyzed token stream, phrases by the in-order
  min-slop position fold (:func:`positions.phrase_cond`), prefix /
  fuzzy by token existence. A query that is pure negation matches
  every doc NOT containing it (ES bool with only must_not).
* **scoring** — BM25 sum over the distinct POSITIVE term atoms (and
  positive phrases' member terms) present in the doc, plus a constant
  1.0 per matching positive prefix/fuzzy atom — Lucene's
  constant_score rewrite for multi-term queries. Atoms under a NOT
  never score. This is the same "tree filters, terms score" shape as
  ``boolean_topk_df``'s must/should contract.

Plan shape (100-TB audit): ONE corpus aggregate for (n_docs, avgdl,
per-term df) — all combinable, collected as a single small row — then
one filtered projection computing tf per scored term NATIVELY from the
token array (``size(filter(toks, …))``: no explode, no shuffle, no
UDF) and the final TakeOrderedAndProject top-k. Two jobs total; the
only data movement is the k-row result.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import (
    duckdb_tokens_sql,
    tokenize_text,
    tokens_col,
)
from deces_dataprep_spark.index import bm25
from deces_dataprep_spark.index.positions import (
    duckdb_phrase_cond_sql,
    phrase_cond,
)

MAX_FUZZY_EDITS = 2  # the ES cap


@dataclass
class QNode:
    """One node of the parsed query tree.

    kind ∈ {'and', 'or', 'not', 'msm', 'term', 'phrase', 'prefix',
    'fuzzy'}. ``children`` for and/or/not/msm; ``term`` for
    term/prefix/fuzzy; ``terms`` + ``slop`` for phrase; ``edits`` for
    fuzzy; ``min_match`` for msm (at least N children must hold —
    the Lucene BooleanQuery minimum_should_match contract)."""
    kind: str
    children: list["QNode"] = field(default_factory=list)
    term: str = ""
    terms: list[str] = field(default_factory=list)
    slop: int = 0
    edits: int = 0
    min_match: int = 0


# ---------------------------------------------------------------------------
# lexer + parser
# ---------------------------------------------------------------------------

_SPECIAL = set('()|+-"~\\ \t\n\r')


def _lex(q: str) -> list[tuple]:
    """token stream: ('(',) (')',) ('|',) ('+',) ('-',)
    ('PHRASE', text, slop) ('WORD', text, is_prefix, edits)."""
    out: list[tuple] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c in " \t\n\r":
            i += 1
            continue
        if c in "()|+":
            out.append((c,))
            i += 1
            continue
        if c == "-":
            # negation only where an atom may start; mid-word '-' is
            # consumed by the word scanner below
            out.append(("-",))
            i += 1
            continue
        if c == '"':
            j = i + 1
            buf = []
            while j < n and q[j] != '"':
                if q[j] == "\\" and j + 1 < n:
                    j += 1
                buf.append(q[j])
                j += 1
            i = j + 1 if j < n else j  # unterminated quote: take rest
            slop = 0
            if i < n and q[i] == "~":
                i, slop = _scan_int(q, i + 1)
            out.append(("PHRASE", "".join(buf), slop))
            continue
        # word: until unescaped special (but '-' and '~' stay in-word;
        # '~' only terminates when followed by digits — "a~2")
        buf = []
        while i < n:
            c = q[i]
            if c == "\\" and i + 1 < n:
                buf.append(q[i + 1])
                i += 2
                continue
            if c in '()|+" \t\n\r':
                break
            if c == "~" and i + 1 < n and q[i + 1].isdigit():
                break
            buf.append(c)
            i += 1
        is_prefix = bool(buf) and buf[-1] == "*"
        if is_prefix:
            buf.pop()
        edits = 0
        if i < n and q[i] == "~" and i + 1 < n and q[i + 1].isdigit():
            i, edits = _scan_int(q, i + 1)
            edits = min(edits, MAX_FUZZY_EDITS)
        if buf:
            out.append(("WORD", "".join(buf), is_prefix, edits))
    return out


def _scan_int(q: str, i: int) -> tuple[int, int]:
    j = i
    while j < len(q) and q[j].isdigit():
        j += 1
    return j, int(q[i:j] or 0)


def _analyze_word(w: str) -> list[str]:
    return tokenize_text(w)


def _atom(tok: tuple) -> QNode | None:
    """Lexer token → atom node through the ANALYZER (a word that
    analyzes to several terms becomes a phrase, like ES; one that
    analyzes to nothing is dropped)."""
    if tok[0] == "PHRASE":
        terms = _analyze_word(tok[1])
        if not terms:
            return None
        if len(terms) == 1 and tok[2] == 0:
            return QNode("term", term=terms[0])
        return QNode("phrase", terms=terms, slop=tok[2])
    _, text, is_prefix, edits = tok
    terms = _analyze_word(text)
    if not terms:
        return None
    if len(terms) > 1:
        return QNode("phrase", terms=terms)  # analyzer split the word
    if is_prefix:
        return QNode("prefix", term=terms[0])
    if edits > 0:
        return QNode("fuzzy", term=terms[0], edits=edits)
    return QNode("term", term=terms[0])


class _Parser:
    def __init__(self, toks: list[tuple], default_operator: str):
        self.toks = toks
        self.i = 0
        self.default = "and" if default_operator.lower() == "and" else "or"

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def parse(self) -> QNode | None:
        node = self.expr()
        # trailing ')' without opener etc.: ignore leftovers (ES
        # never throws on user syntax)
        return node

    def expr(self) -> QNode | None:
        """One parenthesis level. Positive clauses fold left-assoc
        with their operators; NEGATED clauses are collected and applied
        as conjunctive exclusions to the whole group — the Lucene
        BooleanQuery MUST_NOT model (``+alpha -beta`` ≡ alpha AND NOT
        beta under ANY default operator; a pure-negative group matches
        every doc failing all its negations). The one knowing
        deviation: ``a -b | c`` groups as ``(a OR c) AND NOT b``
        rather than Lucene's point-of-occurrence ``(a AND NOT b) OR
        c`` — parenthesize to disambiguate."""
        node: QNode | None = None
        negs: list[QNode] = []
        while True:
            t = self.peek()
            if t is None or t[0] == ")":
                break
            if t[0] == "|":
                self.i += 1
                op = "or"
            elif t[0] == "+":
                self.i += 1
                op = "and"
            else:
                op = self.default
            right = self.unary()
            if right is None:
                continue
            if right.kind == "not":
                negs.append(right.children[0])
            elif node is None:
                node = right
            else:
                node = QNode(op, children=[node, right])
        if negs:
            n_node = negs[0] if len(negs) == 1 \
                else QNode("or", children=negs)
            if node is None:
                return QNode("not", children=[n_node])
            return QNode("and",
                         children=[node, QNode("not", children=[n_node])])
        return node

    def unary(self) -> QNode | None:
        t = self.peek()
        if t is None or t[0] == ")":
            return None
        if t[0] == "-":
            self.i += 1
            inner = self.unary()
            return QNode("not", children=[inner]) if inner else None
        if t[0] in ("|", "+"):  # dangling operator: skip (never throw)
            self.i += 1
            return self.unary()
        if t[0] == "(":
            self.i += 1
            node = self.expr()
            if self.peek() and self.peek()[0] == ")":
                self.i += 1
            return node
        self.i += 1
        return _atom(t)


def parse_query_string(q: str, default_operator: str = "or",
                       minimum_should_match: int = 1) -> QNode | None:
    """Parse a simple_query_string into a :class:`QNode` tree (None if
    nothing survives analysis — empty/whitespace/punctuation query).

    ``minimum_should_match`` > 1 applies to the TOP-LEVEL disjunction
    (the Lucene BooleanQuery contract: only SHOULD clauses count, so a
    root that is a conjunction is left untouched; group-level
    negations are stripped first and re-applied around the msm). As in
    Lucene, asking for more matches than there are clauses yields an
    unsatisfiable query, not a clamp."""
    tree = _Parser(_lex(q), default_operator).parse()
    return _apply_msm(tree, minimum_should_match)


def _flatten_or(node: QNode, acc: list[QNode]) -> list[QNode]:
    if node.kind == "or":
        for c in node.children:
            _flatten_or(c, acc)
    else:
        acc.append(node)
    return acc


def _apply_msm(tree: QNode | None, msm: int) -> QNode | None:
    if tree is None or msm <= 1:
        return tree
    # the parser roots group negations as and(positive, not(...)) —
    # msm governs the positive disjunction inside
    if (tree.kind == "and" and len(tree.children) == 2
            and tree.children[1].kind == "not"):
        inner = _apply_msm(tree.children[0], msm)
        return QNode("and", children=[inner, tree.children[1]])
    if tree.kind != "or":
        return tree
    clauses = _flatten_or(tree, [])
    return QNode("msm", children=clauses, min_match=msm)


# ---------------------------------------------------------------------------
# tree walks shared by both engines
# ---------------------------------------------------------------------------


def _scored_atoms(node: QNode | None, positive: bool = True,
                  terms: list[str] | None = None,
                  consts: list[QNode] | None = None):
    """(scored term list, constant-score atoms) — positive subtrees
    only; a NOT flips polarity and anything under it never scores."""
    if terms is None:
        terms, consts = [], []
    if node is None:
        return terms, consts
    if node.kind == "not":
        _scored_atoms(node.children[0], not positive, terms, consts)
    elif node.kind in ("and", "or", "msm"):
        for c in node.children:
            _scored_atoms(c, positive, terms, consts)
    elif positive and node.kind == "term":
        terms.append(node.term)
    elif positive and node.kind == "phrase":
        terms.extend(node.terms)
    elif positive and node.kind in ("prefix", "fuzzy"):
        consts.append(node)
    return terms, consts


def _cond_col(node: QNode, toks: "F.Column") -> "F.Column":
    if node.kind == "and":
        out = _cond_col(node.children[0], toks)
        for c in node.children[1:]:
            out = out & _cond_col(c, toks)
        return out
    if node.kind == "or":
        out = _cond_col(node.children[0], toks)
        for c in node.children[1:]:
            out = out | _cond_col(c, toks)
        return out
    if node.kind == "not":
        return ~_cond_col(node.children[0], toks)
    if node.kind == "msm":
        n = _cond_col(node.children[0], toks).cast("int")
        for c in node.children[1:]:
            n = n + _cond_col(c, toks).cast("int")
        return n >= node.min_match
    if node.kind == "term":
        return F.array_contains(toks, node.term)
    if node.kind == "phrase":
        return phrase_cond(toks, node.terms, node.slop)
    if node.kind == "prefix":
        return F.exists(toks, lambda x: x.startswith(node.term))
    if node.kind == "fuzzy":
        return F.exists(
            toks,
            lambda x: F.levenshtein(x, F.lit(node.term)) <= node.edits)
    raise ValueError(f"unknown node kind: {node.kind!r}")


def _cond_sql(node: QNode, toks: str = "toks") -> str:
    if node.kind == "and":
        return "(" + " AND ".join(
            _cond_sql(c, toks) for c in node.children) + ")"
    if node.kind == "or":
        return "(" + " OR ".join(
            _cond_sql(c, toks) for c in node.children) + ")"
    if node.kind == "not":
        return f"(NOT {_cond_sql(node.children[0], toks)})"
    if node.kind == "msm":
        total = " + ".join(
            f"({_cond_sql(c, toks)})::INT" for c in node.children)
        return f"(({total}) >= {node.min_match})"
    if node.kind == "term":
        return f"list_contains({toks}, '{node.term}')"
    if node.kind == "phrase":
        return duckdb_phrase_cond_sql(node.terms, toks, node.slop)
    if node.kind == "prefix":
        return (f"(len(list_filter({toks}, "
                f"x -> starts_with(x, '{node.term}'))) > 0)")
    if node.kind == "fuzzy":
        return (f"(len(list_filter({toks}, "
                f"x -> levenshtein(x, '{node.term}') <= {node.edits}))"
                f" > 0)")
    raise ValueError(f"unknown node kind: {node.kind!r}")


# ---------------------------------------------------------------------------
# Spark plan
# ---------------------------------------------------------------------------


def query_string_topk_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    k: int = 10,
    default_operator: str = "or",
    minimum_should_match: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int | None = 6,
) -> DataFrame:
    """Run a simple_query_string over raw docs: tree-filtered match
    set, BM25-scored per the module contract, (score desc, doc_id asc)
    top-k. See the module docstring for grammar and plan shape."""
    tree = parse_query_string(query, default_operator,
                              minimum_should_match)
    if tree is None:
        return spark.createDataFrame([], "doc_id long, score double")
    scored, consts = _scored_atoms(tree)
    scored = list(dict.fromkeys(scored))

    toked = docs.select(F.col(id_col).alias("doc_id"),
                        tokens_col(text_col).alias("toks"))
    toked = toked.withColumn("dl", F.size("toks").cast("long"))

    # ONE combinable corpus aggregate: n_docs, avgdl, df per scored term
    aggs = [F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")]
    for i, t in enumerate(scored):
        aggs.append(F.sum(F.array_contains("toks", t).cast("long"))
                    .alias(f"df{i}"))
    stats = toked.agg(*aggs).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"] or 0.0)
    if n_docs == 0:
        return spark.createDataFrame([], "doc_id long, score double")

    def _eq(term):
        # closure factory, NOT a default arg: pyspark counts lambda
        # parameters — a 2-arg lambda would receive (element, INDEX)
        return lambda x: x == F.lit(term)

    score = F.lit(0.0)
    for i, t in enumerate(scored):
        df_t = int(stats[f"df{i}"])
        if df_t == 0:
            continue
        tf = F.size(F.filter(F.col("toks"), _eq(t)))
        score = score + F.when(
            tf > 0,
            bm25.bm25_score_col(tf, F.lit(df_t), F.col("dl"),
                                n_docs, avgdl),
        ).otherwise(F.lit(0.0))
    for c in consts:
        score = score + _cond_col(c, F.col("toks")).cast("double")

    out = toked.filter(_cond_col(tree, F.col("toks"))) \
        .select("doc_id", score.alias("score"))
    if round_digits is not None:
        out = out.withColumn("score", F.round("score", round_digits))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# index-served route
# ---------------------------------------------------------------------------


def _atom_key(node: QNode) -> tuple:
    return (node.kind, node.term, tuple(node.terms), node.slop, node.edits)


def _collect_atoms(node: QNode, acc: dict[tuple, QNode]) -> None:
    """Deduplicated leaf atoms of the tree (ANY polarity — the filter
    needs doc sets for negated atoms too), keyed by structural value."""
    if node.kind in ("and", "or", "not", "msm"):
        for c in node.children:
            _collect_atoms(c, acc)
    else:
        acc.setdefault(_atom_key(node), node)


def _tree_over_hits(node: QNode, ids: dict[tuple, int],
                    hits: "F.Column") -> "F.Column":
    """The boolean tree compiled over the per-doc matched-atom-id SET
    (``hits``) instead of the token array — every leaf becomes one
    ``array_contains``; atom semantics were already paid for when the
    sets were built from the index."""
    if node.kind == "and":
        out = _tree_over_hits(node.children[0], ids, hits)
        for c in node.children[1:]:
            out = out & _tree_over_hits(c, ids, hits)
        return out
    if node.kind == "or":
        out = _tree_over_hits(node.children[0], ids, hits)
        for c in node.children[1:]:
            out = out | _tree_over_hits(c, ids, hits)
        return out
    if node.kind == "not":
        return ~_tree_over_hits(node.children[0], ids, hits)
    if node.kind == "msm":
        n = _tree_over_hits(node.children[0], ids, hits).cast("int")
        for c in node.children[1:]:
            n = n + _tree_over_hits(c, ids, hits).cast("int")
        return n >= node.min_match
    return F.array_contains(hits, ids[_atom_key(node)])


def _tree_zero(node: QNode) -> bool:
    """Tree value when NO atom matches — True means docs matching no
    atom at all (absent from the membership aggregate) are hits, so
    the match set is universe-minus-nonmatches (pure/partial negation
    queries)."""
    if node.kind == "and":
        return all(_tree_zero(c) for c in node.children)
    if node.kind == "or":
        return any(_tree_zero(c) for c in node.children)
    if node.kind == "not":
        return not _tree_zero(node.children[0])
    if node.kind == "msm":
        return sum(_tree_zero(c) for c in node.children) >= node.min_match
    return False


def query_string_topk_from_index(
    spark: SparkSession,
    tables,
    query: str,
    k: int = 10,
    default_operator: str = "or",
    minimum_should_match: int = 1,
    round_digits: int | None = 6,
) -> DataFrame:
    """The same simple_query_string served FROM THE PERSISTED INDEX —
    rank-identical to :func:`query_string_topk_df` (tested) with cost
    proportional to the query atoms' postings, never the corpus:

    1. multi-term atoms resolve against the TERM DICTIONARY
       (vocabulary-sized driver scans with pushdown filters): prefix →
       ``startswith`` enumeration, fuzzy → native early-exit
       ``levenshtein`` — the Lucene automaton's moral equivalent;
    2. ONE postings decode over the union of all resolved terms
       (parquet pushdown on ``term``) tagged with atom ids via a
       broadcast (term → atom) map; phrase atoms add their doc sets
       from the positional index (df-bounded self-join + fold);
    3. one ``groupBy(doc_id) → collect_set(atom_id)`` shuffle, then
       the boolean tree evaluates as ``array_contains`` tests. A tree
       that is TRUE on the empty atom set (pure/partial negation)
       matches by exclusion: norms-universe anti-join the nonmatches;
    4. scoring joins the standard per-term BM25 score sets
       (:func:`query.bm25_scores_from_index`) plus constant 1.0 per
       matched positive prefix/fuzzy atom, exactly the scan contract.
    """
    from deces_dataprep_spark.index.positions import phrase_terms_from_index
    from deces_dataprep_spark.index.query import (
        _matching_doc_ids_decode,
        bm25_scores_from_index,
    )

    tree = parse_query_string(query, default_operator,
                              minimum_should_match)
    if tree is None:
        return spark.createDataFrame([], "doc_id long, score double")
    atoms: dict[tuple, QNode] = {}
    _collect_atoms(tree, atoms)
    ids = {key: i for i, key in enumerate(atoms)}
    if any(n.kind == "phrase" for n in atoms.values()) \
            and tables.positions is None:
        raise ValueError(
            "query contains a phrase atom but the index has no "
            "positional table — build_index(..., positions=True)")

    # 1. resolve every non-phrase atom to concrete dictionary terms
    term_to_atoms: list[tuple[str, int]] = []
    for key, node in atoms.items():
        if node.kind == "term":
            term_to_atoms.append((node.term, ids[key]))
        elif node.kind == "prefix":
            rows = tables.dictionary.filter(
                F.col("term").startswith(node.term)).select("term").collect()
            term_to_atoms += [(r["term"], ids[key]) for r in rows]
        elif node.kind == "fuzzy":
            rows = tables.dictionary.filter(
                F.levenshtein(F.col("term"), F.lit(node.term),
                              node.edits) >= 0).select("term").collect()
            term_to_atoms += [(r["term"], ids[key]) for r in rows]

    # 2. one tagged doc-set union: postings decode + phrase doc sets
    parts = []
    if term_to_atoms:
        wanted = sorted({t for t, _ in term_to_atoms})
        decoded = _matching_doc_ids_decode(tables, wanted)
        amap = spark.createDataFrame(term_to_atoms, "term string, atom int")
        parts.append(decoded.join(F.broadcast(amap), "term")
                     .select("doc_id", "atom"))
    for key, node in atoms.items():
        if node.kind == "phrase":
            parts.append(
                phrase_terms_from_index(tables.positions, node.terms,
                                        node.slop)
                .select("doc_id", F.lit(ids[key]).alias("atom")))
    if not parts:
        return spark.createDataFrame([], "doc_id long, score double")
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)

    # 3. membership aggregate + tree filter (zero-case by exclusion)
    mem = tagged.groupBy("doc_id").agg(
        F.collect_set("atom").alias("hits"))
    cond = _tree_over_hits(tree, ids, F.col("hits"))
    if _tree_zero(tree):
        nonmatch = mem.filter(~cond).select("doc_id")
        matched = (tables.norms.select("doc_id")
                   .join(nonmatch, "doc_id", "left_anti")
                   .join(mem, "doc_id", "left"))
    else:
        matched = mem.filter(cond)

    # 4. BM25 score sets for positive term atoms + constant-score atoms
    scored, consts = _scored_atoms(tree)
    scored = list(dict.fromkeys(scored))
    score = F.lit(0.0)
    if scored:
        sets = bm25_scores_from_index(spark, tables, scored)
        matched = matched.join(sets, "doc_id", "left")
        score = score + F.coalesce(F.col("score"), F.lit(0.0))
    hits_safe = F.coalesce(F.col("hits"),
                           F.array().cast("array<int>"))
    for c in consts:
        score = score + F.array_contains(
            hits_safe, ids[_atom_key(c)]).cast("double")
    out = matched.select("doc_id", score.alias("s")) \
        .withColumnRenamed("s", "score")
    if round_digits is not None:
        out = out.withColumn("score", F.round("score", round_digits))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# driver serving route (QueryEngine tier)
# ---------------------------------------------------------------------------


def _lev_within(a: str, b: str, k: int,
                transpositions: bool = False) -> bool:
    """Edit distance ≤ k with row-min early exit.

    ``transpositions=False``: plain Levenshtein (same metric as Spark's
    native ``levenshtein``) — the engine default, because the scan
    route must stay a native JVM expression and all routes must agree.
    ``transpositions=True``: optimal-string-alignment Damerau (an
    adjacent swap costs 1) — ES's ``fuzziness`` default counts
    transpositions this way (Lucene ``LevenshteinAutomata`` with
    transpositions); DuckDB's ``damerau_levenshtein`` agrees with OSA
    on every case where no edit lands between the swapped pair, which
    the fuzzy_damerau oracle test pins for the corpus vocabulary."""
    if abs(len(a) - len(b)) > k:
        return False
    prev2: list[int] | None = None
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            d = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb))
            if (transpositions and i > 1 and j > 1
                    and ca == b[j - 2] and a[i - 2] == cb):
                d = min(d, prev2[j - 2] + 1)
            cur[j] = d
        if min(cur) > k:
            return False
        prev2, prev = prev, cur
    return prev[-1] <= k


def _vocab_terms(engine) -> list[str]:
    """The index vocabulary, driver-side: the engine reader's in-memory
    dictionary (vocabulary-sized, never corpus-sized)."""
    d = engine.reader.dictionary()
    if d is None:
        raise ValueError(
            "the dictionary exceeds SparkIndexReader.DICT_MEMO_MAX_TERMS: "
            "expand vocabulary terms on the arrow reader "
            "(snapshots.load_index) or with the *_from_index plans")
    return list(d)


def _lev_dist(a: str, b: str, k: int,
              transpositions: bool = False) -> int:
    """Exact edit distance when ≤ k, else -1 (the value-returning twin
    of :func:`_lev_within`, same metric switch and early exit) — for
    rankings that need the distance, not just the predicate."""
    if abs(len(a) - len(b)) > k:
        return -1
    prev2: list[int] | None = None
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            d = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb))
            if (transpositions and i > 1 and j > 1
                    and ca == b[j - 2] and a[i - 2] == cb):
                d = min(d, prev2[j - 2] + 1)
            cur[j] = d
        if min(cur) > k:
            return -1
        prev2, prev = prev, cur
    return prev[-1] if prev[-1] <= k else -1


class _VocabIndex:
    """Sorted-array view of the serving vocabulary, cached per engine
    (``engine._qs_vocab_index``) — a web-scale served shard can carry a
    10M-term dictionary, so atom expansion must be sublinear, not a
    per-atom linear scan:

    * prefix → ONE ``searchsorted`` window on the sorted term array
      (``[prefix, prefix + U+10FFFF)`` — every term starting with the
      prefix and nothing else), O(log V) + matches;
    * fuzzy → candidates restricted to the OSA/Levenshtein length
      window ``|len(t) − len(q)| ≤ k`` via per-length index buckets
      (built once), then the exact early-exit ``_lev_within`` on the
      survivors only — the distance predicate runs on the tiny
      length-feasible slice, not the vocabulary.

    Expansion results are identical to the previous linear scans
    (tested) — same terms, and in the same sorted order for prefixes."""

    def __init__(self, vocab: list[str]):
        import numpy as np

        self.terms = np.array(sorted(vocab), dtype=object)
        self.by_len: dict[int, np.ndarray] = {}
        self._char_cache: dict[int, "np.ndarray"] = {}
        lens = np.array([len(t) for t in self.terms], dtype=np.int64)
        for ln in np.unique(lens):
            self.by_len[int(ln)] = np.flatnonzero(lens == ln)

    def prefix(self, p: str) -> list[str]:
        import numpy as np

        lo = int(np.searchsorted(self.terms, p))
        hi = int(np.searchsorted(self.terms, p + "\U0010FFFF"))
        return self.terms[lo:hi].tolist()

    def _bucket_chars(self, ln: int):
        """(n_terms, ln) uint32 codepoint matrix for one length bucket,
        built lazily once — all terms in a bucket share a length, so
        the matrix is dense and the vectorized DP below runs one numpy
        op across the whole bucket per cell column."""
        import numpy as np

        m = self._char_cache.get(ln)
        if m is None:
            ix = self.by_len[ln]
            joined = "".join(self.terms[ix])
            m = np.frombuffer(joined.encode("utf-32-le"),
                              dtype=np.uint32).reshape(len(ix), ln)
            self._char_cache[ln] = m
        return m

    def fuzzy(self, q: str, k: int, transpositions: bool = False) \
            -> list[str]:
        """All dictionary terms within ``k`` edits of ``q``: candidates
        restricted to the ±k length window, then ONE numpy DP per
        length bucket — the dp rows are vectorized across every term in
        the bucket (O(|q|·len) vector ops of bucket width), not a
        Python DP per term. Identity with the scalar ``_lev_within``
        is property-tested; measured on a 155k-term vocabulary: 9×
        (sparse length band) to 25× (dense band, k=2) over the scalar
        linear scan."""
        import numpy as np

        qa = np.frombuffer(q.encode("utf-32-le"), dtype=np.uint32)
        m = qa.size
        out = []
        for ln in range(max(1, m - k), m + k + 1):
            ix = self.by_len.get(ln)
            if ix is None:
                continue
            chars = self._bucket_chars(ln)
            n = chars.shape[0]
            prev = np.broadcast_to(
                np.arange(ln + 1, dtype=np.int32), (n, ln + 1)).copy()
            prev2 = None
            for i in range(1, m + 1):
                cur = np.empty_like(prev)
                cur[:, 0] = i
                for j in range(1, ln + 1):
                    cost = (chars[:, j - 1] != qa[i - 1]).astype(np.int32)
                    d = np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1)
                    d = np.minimum(d, prev[:, j - 1] + cost)
                    if transpositions and i > 1 and j > 1:
                        tr = ((chars[:, j - 1] == qa[i - 2])
                              & (chars[:, j - 2] == qa[i - 1]))
                        d = np.where(tr, np.minimum(d, prev2[:, j - 2] + 1),
                                     d)
                    cur[:, j] = d
                prev2, prev = prev, cur
            hit = np.flatnonzero(prev[:, ln] <= k)
            if hit.size:
                out.extend(self.terms[ix[hit]].tolist())
        return sorted(out)


def _vocab_index(engine) -> _VocabIndex:
    """Per-engine memo of the sorted vocabulary (serve tier). A
    QueryEngine is IMMUTABLE after construction by contract — its
    tables/dictionary are a pinned snapshot (load_index), and every
    other engine memo (postings, norms, df map) relies on the same
    invariant. To serve a rebuilt/compacted index, construct a new
    engine over the new snapshot; do not swap tables in place (this
    cache, like the others, would silently serve the old terms)."""
    vi = getattr(engine, "_qs_vocab_index", None)
    if vi is None:
        vi = engine._qs_vocab_index = _VocabIndex(_vocab_terms(engine))
    return vi


def query_string_serve(
    engine,
    query: str,
    k: int = 10,
    default_operator: str = "or",
    minimum_should_match: int = 1,
) -> list[tuple[int, float]]:
    """simple_query_string through the SERVING tier (the ES search-box
    endpoint): everything happens driver-side in numpy/sets over the
    postings the engine's reader fetches — no Spark job for
    selective queries on a served snapshot. Rank-identical to the scan
    and distributed-index routes (tested).

    Routing mirrors ``QueryEngine.search``: above
    ``DISTRIBUTED_CORPUS_THRESHOLD`` docs the call degrades to the
    distributed plan (:func:`query_string_topk_from_index`) — atom doc
    sets are corpus-proportional in the worst case (pure negation),
    which must never be driver-resident at cluster scale. Sloppy
    phrases (slop > 0) also take the distributed positional plan: the
    driver fold is adjacency-only by design.

    Cost on the driver route: dictionary membership for prefix/fuzzy
    expansion (vocabulary-sized, the reader's in-memory dictionary),
    one postings fetch per distinct term (engine term cache applies),
    set algebra for the tree, and the standard numpy BM25 fold.
    """
    import numpy as np

    from deces_dataprep_spark.index.wand import decode_term_arrays

    tree = parse_query_string(query, default_operator,
                              minimum_should_match)
    if tree is None:
        return []
    if engine.n_docs > engine.DISTRIBUTED_CORPUS_THRESHOLD:
        rows = query_string_topk_from_index(
            engine.session, engine.tables, query, k,
            default_operator=default_operator,
            minimum_should_match=minimum_should_match).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    atoms: dict[tuple, QNode] = {}
    _collect_atoms(tree, atoms)

    # resolve atoms → concrete dictionary terms (phrases keep theirs)
    # via the sorted-array vocab index: searchsorted prefix windows,
    # length-bucketed fuzzy candidates — sublinear in vocabulary size
    atom_terms: dict[tuple, list[str]] = {}
    vi: _VocabIndex | None = None
    for key, node in atoms.items():
        if node.kind == "term":
            atom_terms[key] = [node.term]
        elif node.kind in ("prefix", "fuzzy"):
            if vi is None:
                vi = _vocab_index(engine)
            if node.kind == "prefix":
                atom_terms[key] = vi.prefix(node.term)
            else:
                atom_terms[key] = vi.fuzzy(node.term, node.edits)

    scored, consts = _scored_atoms(tree)
    scored = list(dict.fromkeys(scored))
    need = sorted({t for ts in atom_terms.values() for t in ts}
                  | set(scored))
    if need:
        engine._fetch_term_postings(need)

    def term_docs(t: str) -> np.ndarray:
        # decoded-docs cache on the ENGINE (keyed per term, sorted):
        # hot queries must not re-decode + re-sort postings per call —
        # set-algebra over these arrays is the serve hot path
        cache = getattr(engine, "_qs_term_docs", None)
        if cache is None:
            cache = engine._qs_term_docs = {}
        arr = cache.get(t)
        if arr is None:
            parts = [decode_term_arrays(tp)[0]
                     for tp in engine._term_cache.get(t, {}).values()]
            arr = (np.sort(np.concatenate(parts).astype(np.int64))
                   if parts else np.empty(0, np.int64))
            cache[t] = arr
        return arr

    # per-atom doc arrays (sorted unique int64 — every operation in
    # the tree evaluator below preserves that invariant), cached on
    # the engine by atom key: prefix/fuzzy atoms concat dozens of
    # expansion terms and phrase atoms run a Spark job — both are
    # query-independent
    atom_cache = getattr(engine, "_qs_atom_docs", None)
    if atom_cache is None:
        atom_cache = engine._qs_atom_docs = {}
    sets: dict[tuple, np.ndarray] = {}
    for key, node in atoms.items():
        cached_arr = atom_cache.get(key)
        if cached_arr is not None:
            sets[key] = cached_arr
        elif node.kind == "phrase":
            if node.slop == 0:
                sets[key] = np.unique(np.asarray(
                    engine.phrase(" ".join(node.terms)), dtype=np.int64))
            else:
                from deces_dataprep_spark.index.positions import (
                    phrase_terms_from_index,
                )

                if engine.tables.positions is None:
                    raise ValueError(
                        "query contains a sloppy phrase atom but the "
                        "index has no positional table — "
                        "write_index(with_positions=True)")
                sets[key] = np.unique(np.asarray(
                    [int(r["doc_id"]) for r in phrase_terms_from_index(
                        engine.tables.positions, node.terms,
                        node.slop).collect()], dtype=np.int64))
        else:
            parts = [term_docs(t) for t in atom_terms[key]]
            sets[key] = (np.unique(np.concatenate(parts)) if parts
                         else np.empty(0, np.int64))
        atom_cache[key] = sets[key]

    def get_universe() -> np.ndarray:
        # cached on the ENGINE (sorted unique array): the corpus
        # doc-id set is query-independent and negation queries would
        # otherwise rebuild it (and re-read norms) per call
        cached = getattr(engine, "_qs_universe", None)
        if cached is not None:
            return cached
        universe = np.unique(np.concatenate(
            [np.empty(0, np.int64)] + [ids.astype(np.int64) for ids, _, _
                                       in engine._all_norms().values()]))
        engine._qs_universe = universe
        return universe

    def ev(node: QNode) -> np.ndarray:
        # sorted-unique-array algebra end to end: intersect1d /
        # union1d / setdiff1d are searchsorted/merge-based, ~100x the
        # Python-set ops they replaced at corpus-proportional sizes
        if node.kind == "and":
            out = ev(node.children[0])
            for c in node.children[1:]:
                out = np.intersect1d(out, ev(c), assume_unique=True)
            return out
        if node.kind == "or":
            out = ev(node.children[0])
            for c in node.children[1:]:
                out = np.union1d(out, ev(c))
            return out
        if node.kind == "not":
            return np.setdiff1d(get_universe(), ev(node.children[0]),
                                assume_unique=True)
        if node.kind == "msm":
            cat = np.concatenate([ev(c) for c in node.children])
            vals, cnt = np.unique(cat, return_counts=True)
            return vals[cnt >= node.min_match]
        return sets[_atom_key(node)]

    matched_ids = ev(tree)
    if matched_ids.size == 0:
        return []
    score_vec = np.zeros(matched_ids.shape[0], dtype=np.float64)

    def add_into(ids64: np.ndarray, contrib: np.ndarray) -> None:
        loc = np.searchsorted(matched_ids, ids64)
        loc_c = np.minimum(loc, matched_ids.shape[0] - 1)
        ok = matched_ids[loc_c] == ids64
        np.add.at(score_vec, loc_c[ok], contrib[ok])

    # per-term (ids, contribution) memo on the engine: BM25 term
    # contributions are query-independent (corpus-wide df/N/avgdl by
    # the ES contract), so hot queries skip decode + score entirely
    memo = getattr(engine, "_qs_contrib", None)
    if memo is None:
        memo = engine._qs_contrib = {}
    for t in scored:
        hit = memo.get(t)
        if hit is None:
            parts_i, parts_c = [], []
            for shard, tp in engine._term_cache.get(t, {}).items():
                ids, tfs = decode_term_arrays(tp)
                norm_ids, dls, _ = engine._shard_norms_np(shard)
                pos = np.searchsorted(norm_ids, ids.astype(np.uint64))
                parts_i.append(ids.astype(np.int64))
                parts_c.append(bm25.bm25_score(
                    tfs.astype(np.float64), tp.df, dls[pos],
                    engine.n_docs, engine.avgdl))
            hit = memo[t] = (
                np.concatenate(parts_i) if parts_i
                else np.empty(0, np.int64),
                np.concatenate(parts_c) if parts_c
                else np.empty(0, np.float64))
        add_into(hit[0], hit[1])
    for c in consts:
        cs = sets[_atom_key(c)]
        if cs.size:
            add_into(cs, np.ones(cs.shape[0], dtype=np.float64))

    score_vec = np.round(score_vec, 6)
    order = np.lexsort((matched_ids, -score_vec))[:k]
    return [(int(matched_ids[i]), float(score_vec[i])) for i in order]


# ---------------------------------------------------------------------------
# DuckDB oracle
# ---------------------------------------------------------------------------


def duckdb_query_string_sql(
    query: str,
    k: int = 10,
    default_operator: str = "or",
    minimum_should_match: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> str:
    """Oracle twin of :func:`query_string_topk_df` — the identical
    tree compiled to SQL predicates + the same BM25/constant scoring."""
    tree = parse_query_string(query, default_operator,
                              minimum_should_match)
    if tree is None:
        return ("SELECT 1::BIGINT AS doc_id, 1.0 AS score WHERE FALSE")
    scored, consts = _scored_atoms(tree)
    scored = list(dict.fromkeys(scored))
    toks = duckdb_tokens_sql(text_col)

    df_cols = ", ".join(
        f"sum(list_contains(toks, '{t}')::BIGINT) AS df{i}"
        for i, t in enumerate(scored)) or "1 AS _dummy"
    parts = []
    for i, t in enumerate(scored):
        tf = f"len(list_filter(toks, x -> x = '{t}'))"
        s = bm25.duckdb_bm25_sql(
            tf, f"(SELECT df{i} FROM stats)", "dl",
            "(SELECT n_docs FROM stats)", "(SELECT avgdl FROM stats)")
        parts.append(f"(CASE WHEN (SELECT df{i} FROM stats) > 0 "
                     f"AND {tf} > 0 THEN {s} ELSE 0.0 END)")
    for c in consts:
        parts.append(f"(CASE WHEN {_cond_sql(c)} THEN 1.0 ELSE 0.0 END)")
    score = " + ".join(parts) or "0.0"
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {toks} AS toks,
         len({toks})::BIGINT AS dl FROM {table}
),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl, {df_cols} FROM t
)
SELECT doc_id, round(({score})::DOUBLE, {round_digits}) AS score
FROM t
WHERE {_cond_sql(tree)}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# match_bool_prefix (ES query built on this grammar's machinery)
# ---------------------------------------------------------------------------


def _bool_prefix_qs(query: str, default_operator: str) -> str | None:
    """ES ``match_bool_prefix`` desugars to this grammar: every
    analyzed term a term query, the LAST term additionally a prefix
    (ES builds exactly this bool; its prefix subquery is
    constant-scored, which is the grammar's prefix contract too)."""
    from deces_dataprep_spark.index.query import analyze_query

    terms = analyze_query(query)
    if not terms:
        return None
    qs = terms[:-1] + [terms[-1] + "*"]
    if default_operator == "and":
        return " ".join("+" + t for t in qs)
    return " ".join(qs)


def match_bool_prefix_df(
    spark,
    docs,
    query: str,
    k: int = 10,
    default_operator: str = "or",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """ES ``match_bool_prefix`` — the search-as-you-type bool variant
    (terms may match anywhere, unlike match_phrase_prefix's position
    contract). Compiled through the simple_query_string scan plan."""
    qs = _bool_prefix_qs(query, default_operator)
    if qs is None:
        return spark.createDataFrame([], "doc_id long, score double")
    return query_string_topk_df(spark, docs, qs, k,
                                default_operator=default_operator,
                                id_col=id_col, text_col=text_col)


def match_bool_prefix_from_index(
    spark,
    tables,
    query: str,
    k: int = 10,
    default_operator: str = "or",
):
    """:func:`match_bool_prefix_df` served from the index (dictionary
    prefix expansion + postings-bounded evaluation; rank-identical to
    the scan route, tested)."""
    qs = _bool_prefix_qs(query, default_operator)
    if qs is None:
        return spark.createDataFrame([], "doc_id long, score double")
    return query_string_topk_from_index(spark, tables, qs, k,
                                        default_operator=default_operator)


def duckdb_match_bool_prefix_sql(
    query: str,
    k: int = 10,
    default_operator: str = "or",
    table: str = "documents",
) -> str:
    """DuckDB oracle twin of :func:`match_bool_prefix_df`."""
    qs = _bool_prefix_qs(query, default_operator)
    if qs is None:
        return "SELECT 1::BIGINT AS doc_id, 1.0 AS score WHERE FALSE"
    return duckdb_query_string_sql(qs, k=k,
                                   default_operator=default_operator,
                                   table=table)


# ---------------------------------------------------------------------------
# percolate (ES reverse search: docs against STORED queries)
# ---------------------------------------------------------------------------


def percolate_df(
    spark,
    docs,
    queries: dict[str, str],
    default_operator: str = "or",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """ES ``percolate`` query: the index stores QUERIES; each incoming
    document returns the ids of the stored queries it matches (the
    alerting / saved-search primitive). Stored queries speak the full
    simple_query_string grammar — each compiles through the same
    parser to a native boolean Column over one shared tokenize.

    Plan (100-TB audit): ONE projection computes every query's
    condition per row — N queries become N codegen'd predicates over
    the same token array, then ``array_compact`` + ``explode`` emit
    (doc_id, query_id) match pairs. No join, no shuffle, no UDF; cost
    is docs × queries predicate evaluations, embarrassingly parallel.
    For query sets beyond codegen width (thousands), batch the dict
    into chunks and union — each chunk is this same plan. A stream
    percolates with the identical projection (stateless), which is how
    the ES use case (alert on new docs) maps to readStream.

    Unparseable / empty stored queries are skipped (the grammar's
    never-throwing contract); a query matching nothing simply emits no
    pairs."""
    toks_c = tokens_col(text_col)
    branches = []
    for qid, q in queries.items():
        tree = parse_query_string(q, default_operator, 1)
        if tree is None:
            continue
        branches.append(
            F.when(_cond_col(tree, toks_c), F.lit(str(qid))))
    if not branches:
        return spark.createDataFrame([], "doc_id long, query_id string")
    matched = F.array_compact(F.array(*branches))
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(matched).alias("query_id"))
    )


def duckdb_percolate_sql(
    queries: dict[str, str],
    default_operator: str = "or",
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`percolate_df` — the same trees
    compiled to SQL predicates, one UNION ALL branch per stored
    query."""
    parts = []
    for qid, q in queries.items():
        tree = parse_query_string(q, default_operator, 1)
        if tree is None:
            continue
        qid_sql = str(qid).replace("'", "''")
        parts.append(
            f"SELECT doc_id, '{qid_sql}' AS query_id FROM t "
            f"WHERE {_cond_sql(tree)}")
    if not parts:
        return "SELECT 1::BIGINT AS doc_id, '' AS query_id WHERE FALSE"
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH t AS (
  SELECT doc_id, {duckdb_tokens_sql(text_col)} AS toks FROM {table}
)
{union}
"""
