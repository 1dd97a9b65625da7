"""simple_query_string: grammar, tree semantics, scoring contract,
and DuckDB-oracle agreement."""

import duckdb
import pytest

from deces_dataprep_spark.index.arrow_serve import (
    ArrowIndexReader,
    SparkIndexReader,
)
from deces_dataprep_spark.index.querystring import (
    duckdb_query_string_sql,
    parse_query_string,
    query_string_topk_df,
)


def _tree_str(n):
    if n is None:
        return "∅"
    if n.kind in ("and", "or"):
        return f"({f' {n.kind} '.join(_tree_str(c) for c in n.children)})"
    if n.kind == "not":
        return f"(not {_tree_str(n.children[0])})"
    if n.kind == "phrase":
        return f'"{" ".join(n.terms)}"~{n.slop}'
    if n.kind == "prefix":
        return f"{n.term}*"
    if n.kind == "fuzzy":
        return f"{n.term}~{n.edits}"
    return n.term


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("q,want", [
    ("a b", "(a or b)"),                       # default operator OR
    ("a +b", "(a and b)"),
    ("a | b | c", "((a or b) or c)"),          # left-assoc
    ("a +b | c", "((a and b) or c)"),          # equal precedence
    ("(a | b) +c", "((a or b) and c)"),
    ("-a", "(not a)"),
    ("a -b", "(a and (not b))"),           # '-' = group-level MUST_NOT
    ("a -b -c", "(a and (not (b or c)))"),
    ("a | c -b", "((a or c) and (not b))"),
    ('"x y"~2', '"x y"~2'),
    ("pre*", "pre*"),
    ("word~1", "word~1"),
    ("word~9", "word~2"),                      # ES caps edits at 2
    ("l'avion", '"l avion"~0'),                # analyzer splits → phrase
    ("+a", "a"),                               # dangling operator
    ("a +", "a"),
    ("((a)", "a"),                             # unbalanced parens absorbed
    ("", "∅"),
    ("!!!", "∅"),                              # analyzes to nothing
    (r"a\+b", '"a b"~0'),                      # escaped '+' joins the word
])
def test_parse_shapes(q, want):
    assert _tree_str(parse_query_string(q)) == want


def test_default_operator_and():
    assert _tree_str(parse_query_string("a b", "and")) == "(a and b)"
    assert _tree_str(parse_query_string("a | b", "and")) == "(a or b)"


# ---------------------------------------------------------------------------
# matching semantics
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha delta"),
        (3, "beta delta"),
        (4, "gamma gamma alphabet"),
        (5, "epsilon"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(spark, corpus, q, **kw):
    return {r["doc_id"]
            for r in query_string_topk_df(spark, corpus, q, k=100,
                                          **kw).collect()}


def test_boolean_matching(spark, corpus):
    assert _ids(spark, corpus, "alpha beta") == {1, 2, 3}        # OR
    assert _ids(spark, corpus, "alpha +beta") == {1}             # AND
    # '-' is MUST_NOT on the group (Lucene BooleanQuery model), under
    # any default operator: alpha AND NOT beta
    assert _ids(spark, corpus, "alpha -beta") == {2}
    assert _ids(spark, corpus, "+alpha -beta") == {2}
    assert _ids(spark, corpus, "alpha -beta", default_operator="and") \
        == {2}
    assert _ids(spark, corpus, "-epsilon") == {1, 2, 3, 4}       # pure NOT
    assert _ids(spark, corpus, "alpha* +gamma") == {1, 4}        # prefix
    assert _ids(spark, corpus, "epsilom~1") == {5}               # fuzzy
    assert _ids(spark, corpus, '"alpha beta"') == {1}            # phrase
    assert _ids(spark, corpus, '"alpha gamma"~1') == {1}         # slop
    assert _ids(spark, corpus, "(beta | delta) +alpha") == {1, 2}


def test_scoring_contract(spark, corpus):
    # NOT atoms never score: a pure-negative query matches by
    # exclusion only, every hit at exactly 0.0
    rows = {r["doc_id"]: r["score"] for r in query_string_topk_df(
        spark, corpus, "-epsilon", k=100).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert all(s == 0.0 for s in rows.values())
    # prefix atoms are constant-score 1.0 on top of term BM25
    rows = {r["doc_id"]: r["score"] for r in query_string_topk_df(
        spark, corpus, "alphabet | gamm*", k=100).collect()}
    # doc 1 matches only the prefix (gamma): exactly 1.0
    assert rows[1] == pytest.approx(1.0)
    # doc 4 matches the term AND the prefix: 1.0 + BM25 > 1.0
    assert rows[4] > 1.0


def test_oracle_agreement(spark, documents, sf_dir):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    queries = [
        'data +spark | "merge sort"',
        "quer* -slow",
        "+data +spark -group",
        'tabel~1 | "fast query"~2',
        '(data | spark) +"sort merge"~3',
        "-data",
    ]
    for q in queries:
        got = [(r["doc_id"], float(r["score"])) for r in
               query_string_topk_df(spark, documents, q, k=10).collect()]
        want = [(d, float(s)) for d, s in
                con.sql(duckdb_query_string_sql(q, k=10)).fetchall()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, abs=2e-6), q
        assert got, q


@pytest.fixture(scope="module")
def qs_index(spark, documents, tmp_path_factory):
    from deces_dataprep_spark.snapshots import load_index, write_index

    wh = str(tmp_path_factory.mktemp("qs_wh") / "wh")
    write_index(spark, documents, wh, n_shards=2, resume=False,
                with_positions=True)
    return load_index(spark, wh)


def test_index_route_rank_identity(spark, documents, qs_index):
    """query_string served from the persisted index is rank-identical
    to the scan plan across every atom class of the grammar —
    including the zero-case (pure and partial negation) trees that
    match by exclusion."""
    from deces_dataprep_spark.index.querystring import (
        query_string_topk_from_index,
    )

    queries = [
        'data +(spark | index) -"slow scan" quer*',   # the flagship mix
        "data spark",                                  # plain OR
        "+data +spark",                                # AND
        "-data",                                       # pure negation
        "spark | (-data)",                             # zero-case + scored
        '"merge sort"~1 | tabel~1',                    # slop phrase + fuzzy
        "quer* +(-data | spark)",                      # prefix + nested neg
    ]
    for q in queries:
        want = [(r["doc_id"], r["score"]) for r in query_string_topk_df(
            spark, documents, q, k=30, round_digits=4).collect()]
        got = [(r["doc_id"], r["score"]) for r in
               query_string_topk_from_index(spark, qs_index, q, k=30,
                                            round_digits=4).collect()]
        assert got == want, q


def test_index_route_phrase_requires_positions(spark, documents, qs_index):
    from dataclasses import replace

    from deces_dataprep_spark.index.querystring import (
        query_string_topk_from_index,
    )

    no_pos = replace(qs_index, positions=None)
    with pytest.raises(ValueError, match="positional"):
        query_string_topk_from_index(spark, no_pos, '"merge sort"')
    # non-phrase queries stay servable without a positional table
    assert query_string_topk_from_index(
        spark, no_pos, "data +spark", k=3).count() == 3


def test_minimum_should_match(spark, corpus):
    # top-level disjunction: require >= 2 of the 3 shoulds
    assert _ids(spark, corpus, "alpha beta gamma",
                minimum_should_match=2) == {1}
    # with a group-level negation: msm governs the positive part
    assert _ids(spark, corpus, "alpha beta delta -gamma",
                minimum_should_match=2) == {2, 3}
    # conjunction root: msm is a no-op (Lucene: only SHOULD clauses)
    assert _ids(spark, corpus, "+alpha +beta",
                minimum_should_match=2) == {1}
    # more required than clauses exist: unsatisfiable, like Lucene
    assert _ids(spark, corpus, "alpha beta",
                minimum_should_match=3) == set()


def test_minimum_should_match_oracle_and_index(spark, documents, sf_dir,
                                               qs_index):
    import duckdb

    from deces_dataprep_spark.index.querystring import (
        query_string_topk_from_index,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    q = "data spark quer* -slow"
    got = [(r["doc_id"], float(r["score"])) for r in query_string_topk_df(
        spark, documents, q, k=10, minimum_should_match=2).collect()]
    want = [(d, float(s)) for d, s in con.sql(
        duckdb_query_string_sql(q, k=10,
                                minimum_should_match=2)).fetchall()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=2e-6)
    idx = [(r["doc_id"], r["score"]) for r in query_string_topk_from_index(
        spark, qs_index, q, k=10, minimum_should_match=2,
        round_digits=4).collect()]
    scan = [(r["doc_id"], r["score"]) for r in query_string_topk_df(
        spark, documents, q, k=10, minimum_should_match=2,
        round_digits=4).collect()]
    assert idx == scan


def test_serve_route_rank_identity(spark, documents, qs_index):
    """QueryEngine.query_string (driver serving tier — arrow reader
    when the snapshot manifest is loaded) matches the scan compile on
    every grammar class, including constant-score, fuzzy expansion,
    slop phrases (distributed fallback), negation-by-exclusion, and
    minimum_should_match."""
    from deces_dataprep_spark.index.query import QueryEngine

    eng = QueryEngine(qs_index, spark=spark)
    # snapshot manifest → arrow serving
    assert isinstance(eng.reader, ArrowIndexReader)
    queries = [
        ('data +(spark | index) -"slow scan" quer*', 1),
        ("data spark", 1),
        ("-data", 1),
        ("spark | (-data)", 1),
        ('"merge sort"~1 | tabel~1', 1),
        ("data spark quer* -slow", 2),
    ]
    for q, msm in queries:
        want = [(r["doc_id"], r["score"]) for r in query_string_topk_df(
            spark, documents, q, k=20, minimum_should_match=msm,
            round_digits=6).collect()]
        got = eng.query_string(q, k=20, minimum_should_match=msm)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, abs=2e-6), q


def test_serve_route_spark_io(spark, documents, qs_index):
    """The same serving contract holds with io='spark' (the Spark
    reader — postings/dictionary/norms via Spark collects)."""
    from dataclasses import replace

    from deces_dataprep_spark.index.query import QueryEngine

    eng = QueryEngine(replace(qs_index, files=None), spark=spark,
                      io="spark")
    assert isinstance(eng.reader, SparkIndexReader)
    q = "data +spark quer*"
    want = [(r["doc_id"], r["score"]) for r in query_string_topk_df(
        spark, documents, q, k=10, round_digits=6).collect()]
    got = eng.query_string(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_empty_and_degenerate(spark, corpus):
    assert query_string_topk_df(spark, corpus, "").count() == 0
    assert query_string_topk_df(spark, corpus, "   !!! ").count() == 0
    # single bare term == plain match
    assert _ids(spark, corpus, "epsilon") == {5}
