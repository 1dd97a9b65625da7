"""Analyzer-chain parity tests: pandas path vs native path vs DuckDB."""

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from deces_dataprep_spark.functions.analyze import (
    duckdb_tokens_sql,
    normalize_series,
    normalize_text,
    tokenize_series,
    tokenize_text,
)

CASES = [
    ("Hello, World!", ["hello", "world"]),
    ("café DÉCÈS Ångström", ["cafe", "deces", "angstrom"]),
    ("foo_bar baz-qux", ["foo", "bar", "baz", "qux"]),
    ("  a  b ", ["a", "b"]),
    ("42abc 7", ["42abc", "7"]),
    ("", []),
    ("!!!", []),
    ("L'Haÿ-les-Roses", ["l", "hay", "les", "roses"]),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_tokenize_pandas(raw, expected):
    out = tokenize_series(pd.Series([raw])).iloc[0]
    assert out == expected
    assert tokenize_text(raw) == expected


# characters where folding, lowercasing or the char filter do something
# unusual: İ lowers to i + a combining mark, ² folds to 2, ﷺ folds to
# several words, ⑴ to "(1)", ß keeps no ASCII form, ﬁ folds to "fi"
_TRICKY = ["", " ", "\t\n", "İ", "İstanbul", "²", "ﷺ", "⑴", "ß", "ﬁ",
           "_", "é", "\u0301", "Ⅻ", "ǅ", "x\u00a0y", "٣"]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(st.sampled_from(_TRICKY),
                          st.text(max_size=12)), max_size=6))
def test_tokenize_text_equals_pandas_chain(parts):
    text = " ".join(parts)
    assert tokenize_text(text) == tokenize_series(pd.Series([text])).iloc[0]
    assert normalize_text(text) == normalize_series(pd.Series([text])).iloc[0]


def test_tokenize_text_code_point_sweep():
    """A deterministic sample (every 13th) of the sweep over U+0020 to
    U+2FFFF, each code point c in ``x<c>y <c> Ab<c><c>_z\t<c>``, plus
    the tricky characters above."""
    cps = [c for c in range(0x20, 0x30000, 13) if not 0xD800 <= c <= 0xDFFF]
    chars = [chr(c) for c in cps] + [t for t in _TRICKY if len(t) == 1]
    texts = [f"x{c}y {c} Ab{c}{c}_z\t{c}" for c in chars]
    want = tokenize_series(pd.Series(texts)).tolist()
    got = [tokenize_text(t) for t in texts]
    bad = [(t, g, w) for t, g, w in zip(texts, got, want) if g != w]
    assert not bad, bad[:5]
    want = normalize_series(pd.Series(texts)).tolist()
    got = [normalize_text(t) for t in texts]
    bad = [(t, g, w) for t, g, w in zip(texts, got, want) if g != w]
    assert not bad, bad[:5]


def test_normalize_keyword():
    s = pd.Series(["  PARIS (9ème)  ", "DÉCÈS", None])
    out = normalize_series(s)
    assert out.iloc[0] == "paris 9eme"
    assert out.iloc[1] == "deces"
    assert pd.isna(out.iloc[2])
    assert normalize_text("  PARIS (9ème)  ") == "paris 9eme"
    assert normalize_text("DÉCÈS") == "deces"


def test_duckdb_tokenizer_matches_pandas_on_ascii():
    texts = [
        "the fast key order sort table scan merge",
        "Hello, World! 42 foo-bar",
        "a  b   c",
    ]
    frag = duckdb_tokens_sql("t")
    for txt in texts:
        ddb = duckdb.sql(
            f"select {frag} from (select ? as t)", params=[txt]
        ).fetchone()[0]
        assert ddb == tokenize_series(pd.Series([txt])).iloc[0]


def test_native_tokens_col_matches_pandas(spark):
    from pyspark.sql import functions as F

    from deces_dataprep_spark.functions.analyze import tokenize_udf, tokens_col

    texts = [
        "the fast key order sort table scan merge",
        "Hello, World! 42 foo-bar",
        "",
        "  padded   runs  of spaces ",
        "punct!!! only??? words...",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.select(
        tokens_col("text").alias("native"), tokenize_udf("text").alias("pandas")
    ).collect()
    for r in rows:
        assert r.native == r.pandas


def test_edge_ngrams(spark):
    from deces_dataprep_spark.functions.analyze import edge_ngrams_col, prefixes_col

    df = spark.createDataFrame([("spark",), ("ab",), ("a",), ("19800312",)], ["t"])
    out = {r.t: r.g for r in df.select("t", edge_ngrams_col("t").alias("g")).collect()}
    assert out["spark"] == ["sp", "spa", "spar", "spark"]
    assert out["ab"] == ["ab"]
    assert out["a"] == []
    pfx = {r.t: r.g for r in df.select("t", prefixes_col("t").alias("g")).collect()}
    assert pfx["19800312"] == ["1980", "19800", "198003"]
