"""The ``norm`` analyzer chain, re-expressed Spark-first.

Reference contract (behavioral, from the ES index spec of the reference
repo, ``projects/deces-dataprep/datasets/deces_index.yml``):

* char_filter ``alphanum`` (deces_index.yml:34-38): pattern_replace
  ``[^\\p{L}\\d]`` → ``" "`` — any non-letter/non-digit becomes a space.
* tokenizer ``standard`` (deces_index.yml:20,29): after the char filter
  this degenerates to whitespace splitting.
* token filters ``asciifolding`` + ``lowercase`` (deces_index.yml:17,22,27):
  NFKD-decompose, drop combining marks, lowercase. The same NFKD idiom
  appears inline in the reference recipe
  (``recipes/deces_dataprep.yml:187,199``).
* normalizer ``norm`` (deces_index.yml:23-27): the same chain without
  tokenization — one normalized string per value (keyword fields).
* tokenizer ``edge_ngram`` 2..10 over letter+digit (deces_index.yml:28-33):
  autocomplete prefixes of each token.
* ``index_prefixes {min_chars:4, max_chars:6}`` (deces_index.yml:80-82,
  119-121): extra prefix terms for date-like strings.

Four implementations must agree (and are tested against each other):

1. ``tokens_col`` — native Spark expressions (JVM, whole-stage codegen):
   the hot path for the index build. Java regex ``[^\\p{L}\\p{Nd}]``
   matches the ES char filter exactly; the only gap vs. the full chain
   is asciifolding, which native Spark lacks — so the native path is
   exact on ASCII input and the pandas path is authoritative otherwise.
2. ``tokenize_udf`` — Arrow-batched pandas UDF implementing the full
   chain byte-identically (NFKD → ascii-ignore), used where parity on
   accented text matters.
3. ``duckdb_tokens_sql`` — the DuckDB-SQL fragment used by the oracle
   queries, identical on the ASCII oracle corpus.
4. ``tokenize_text`` — the pandas chain's pure-Python twin for ONE
   driver-side string (query text, phrases): the same five steps with
   no Series built (a three-word query: 0.83 ms → 0.002 ms on a 4-core
   x86 host). Tested equal to ``tokenize_series`` on random Unicode
   text and on a sweep of code points (tests/test_analyze.py);
   ``normalize_text`` is the same twin of ``normalize_series``.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# Python-side regex for the `alphanum` char filter: any non-letter /
# non-digit char → space. \w is [letter digit underscore], so exclude
# the underscore explicitly to match ES's [^\p{L}\d].
_CHAR_FILTER = re.compile(r"[^\w]|_", re.UNICODE)

# Java-regex equivalent used by the native column path.
_JAVA_CHAR_FILTER = r"[^\p{L}\p{Nd}]+"

# Complement class for the extract-based tokenizer: a token IS a maximal
# run of letters/digits.
_JAVA_TOKEN_RX = r"[\p{L}\p{Nd}]+"


def _fold_ascii(s: str) -> str:
    """asciifolding: NFKD-decompose and drop non-ASCII (combining marks)."""
    return unicodedata.normalize("NFKD", s).encode("ascii", "ignore").decode("ascii")


def normalize_series(s: pd.Series) -> pd.Series:
    """Normalizer ``norm`` (keyword fields): char-filter + asciifold +
    lowercase, **no tokenization**; whole value → one normalized string.

    Vectorized pandas (Arrow batch); NaN-safe (None → None).
    """
    out = (
        s.astype("string")
        .str.replace(_CHAR_FILTER, " ", regex=True)
        .str.normalize("NFKD")
        .str.encode("ascii", "ignore")
        .str.decode("ascii")
        .str.lower()
        .str.strip()
        .str.replace(r" +", " ", regex=True)
    )
    return out


def tokenize_series(s: pd.Series) -> pd.Series:
    """Full analyzer chain → list-of-tokens per value (pandas path)."""
    return normalize_series(s).str.split(" ").map(
        lambda toks: [t for t in toks if t] if isinstance(toks, list) else None
    )


def tokenize_text(text: str) -> list[str]:
    """:func:`tokenize_series` on one string, in plain Python: char
    filter, NFKD, ASCII with ``ignore``, lowercase, split on spaces
    dropping empties. The pandas chain's ``strip`` and space collapse
    are implied: after the char filter only spaces separate tokens, and
    no letter or digit folds to ASCII whitespace other than a space."""
    return [t for t in _fold_ascii(_CHAR_FILTER.sub(" ", text)).lower()
            .split(" ") if t]


def normalize_text(text: str) -> str:
    """:func:`normalize_series` on one string, in plain Python: the
    tokens of :func:`tokenize_text` joined by single spaces, which is
    what the chain's strip and space collapse leave of the char-filtered,
    folded, lowered string."""
    return " ".join(tokenize_text(text))


@F.pandas_udf(ArrayType(StringType()))
def tokenize_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched pandas UDF: authoritative tokenizer (full Unicode)."""
    return tokenize_series(s)


@F.pandas_udf(StringType())
def norm_keyword_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched pandas UDF: the keyword normalizer."""
    return normalize_series(s)


def tokens_col(col: Column | str) -> Column:
    """Native-expression tokenizer (JVM codegen — the index-build hot path).

    Exactly the ES chain on ASCII input; on non-ASCII input it differs
    only by the missing asciifold (use ``tokenize_udf`` there).

    Implementation (round 6): ONE regex pass — ``regexp_extract_all`` of
    the token class ``[\\p{L}\\p{Nd}]+`` over the lowered text. A token
    is a maximal run of letters/digits, so this is value-identical to
    the former replace-separators → split(' ') → drop-empties chain
    (verified empty-vs-empty, null-vs-null, and element-wise on the
    bench corpus and every sf table) but skips two full string passes
    and the interpreted HOF filter — measured 3.9 s → 1.0 s over 400k
    web pages. The one theoretical divergence is a character whose
    LOWERCASE expands to letter+combining-mark (e.g. U+0130 İ → "i̇"):
    lowering first makes the mark a separator. No Latin-1 or ASCII
    character does this (combining marks are \\p{M}, and all sf/bench
    corpora are ASCII — asserted by the parity tests); non-ASCII input
    is ``tokenize_udf`` territory regardless (missing asciifold).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(_JAVA_TOKEN_RX), 0)


def token_count_col(col: Column | str) -> Column:
    """``size(tokens_col(col))`` in one regex pass with no array
    materialized. It counts over the LOWERED text, as ``tokens_col``
    does: lowering can change the count (U+0130 İ lowers to i + U+0307,
    a mark that splits the word)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(_JAVA_TOKEN_RX))


def norm_keyword_col(col: Column | str) -> Column:
    """Native keyword normalizer (ASCII-exact)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.lower(F.regexp_replace(c, _JAVA_CHAR_FILTER, " ")))


def edge_ngrams_col(term: Column | str, min_gram: int = 2, max_gram: int = 10) -> Column:
    """Edge n-grams of a single term: prefixes of length 2..10
    (deces_index.yml:28-33). Native expressions — an array of substrings,
    deduplicated for terms shorter than max_gram.
    """
    c = F.col(term) if isinstance(term, str) else term
    grams = F.array(*[F.substring(c, 1, n) for n in range(min_gram, max_gram + 1)])
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) >= min_gram))


def prefixes_col(term: Column | str, min_chars: int = 4, max_chars: int = 6) -> Column:
    """``index_prefixes`` terms: prefixes of length 4..6
    (deces_index.yml:80-82) so a query for ``1980`` matches ``19800312``.
    """
    return edge_ngrams_col(term, min_chars, max_chars)


# ---------------------------------------------------------------------------
# DuckDB oracle fragments (ASCII corpus — identical to the native path)
# ---------------------------------------------------------------------------

# tokenize(text) in DuckDB SQL; `{col}` is substituted.
DUCKDB_TOKENIZE = (
    "list_filter(string_split(lower(strip_accents("
    "regexp_replace({col}, '[^a-zA-Z0-9]+', ' ', 'g'))), ' '), t -> t <> '')"
)


def duckdb_tokens_sql(col: str = "text") -> str:
    """The DuckDB-SQL tokenizer fragment matching ``tokens_col`` on ASCII."""
    return DUCKDB_TOKENIZE.format(col=col)
