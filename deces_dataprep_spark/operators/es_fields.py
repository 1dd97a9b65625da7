"""The ES output-mapping field families, as column builders.

The reference's output contract is an explicit Elasticsearch mapping
(``datasets/deces_index.yml:39-157``, ``dynamic: False``): analyzed
``text`` fields, ``keyword`` (+normalizer) exact fields, multi-fields
(``NOM`` = analyzed text **and** ``NOM.raw`` keyword), ``date`` fields
with ``format: yyyyMMdd``, ``index_prefixes {min_chars:4, max_chars:6}``
on date strings, and ``geo_point``. Here each family is a deterministic
column constructor, so a reference index document can be reproduced as
a row of typed columns and fed to the index builder.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import (
    edge_ngrams_col,
    norm_keyword_col,
    prefixes_col,
    tokens_col,
)


def text_field(col: Column | str) -> Column:
    """analyzer `norm` text field → token array (the indexable form)."""
    return tokens_col(col)


def keyword_field(col: Column | str) -> Column:
    """keyword + normalizer `norm` → one normalized string (exact match)."""
    return norm_keyword_col(col)


def multi_field(df: DataFrame, col: str, raw_suffix: str = "_raw") -> DataFrame:
    """ES multi-field (deces_index.yml:55-75): one source column → an
    analyzed token array **and** a `.raw` normalized keyword column."""
    return df.withColumn(f"{col}_tokens", text_field(col)).withColumn(
        f"{col}{raw_suffix}", keyword_field(col)
    )


def date_field(col: Column | str, fmt: str = "yyyyMMdd") -> Column:
    """date, format yyyyMMdd (deces_index.yml:86-88) — NULL on garbage."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_date(c, fmt)


def date_prefix_terms(col: Column | str, min_chars: int = 4,
                      max_chars: int = 6) -> Column:
    """index_prefixes 4..6 (deces_index.yml:80-82): extra terms so a
    query for '1980' or '198003' matches '19800312'."""
    c = F.col(col) if isinstance(col, str) else col
    return prefixes_col(c, min_chars, max_chars)


def edge_ngram_field(col: Column | str, min_gram: int = 2,
                     max_gram: int = 10) -> Column:
    """edge_ngram autocomplete family (deces_index.yml:28-33): the
    distinct union of every token's 2..10-char prefixes."""
    toks = tokens_col(col)
    return F.array_distinct(
        F.flatten(F.transform(toks, lambda t: edge_ngrams_col(t, min_gram, max_gram)))
    )


def geo_point(lat: Column | str, lon: Column | str) -> Column:
    """geo_point (deces_index.yml:115-116) → struct<lat double, lon double>,
    NULL when either coordinate is missing/unparseable."""
    la = (F.col(lat) if isinstance(lat, str) else lat).cast("double")
    lo = (F.col(lon) if isinstance(lon, str) else lon).cast("double")
    return F.when(
        la.isNotNull() & lo.isNotNull(), F.struct(la.alias("lat"), lo.alias("lon"))
    )


def geo_distance_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Haversine great-circle distance in km — the scoring core of the
    ES ``geo_distance`` query family served by the reference's
    geo_point fields. Pure native math (codegen'd)."""
    r = F.lit(6371.0)
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dp = F.radians(lat2 - lat1) / 2
    dl = F.radians(lon2 - lon1) / 2
    a = F.sin(dp) * F.sin(dp) + F.cos(p1) * F.cos(p2) * F.sin(dl) * F.sin(dl)
    return F.lit(2.0) * r * F.asin(F.sqrt(a))


def geo_within_km(df: DataFrame, lat_col: str, lon_col: str,
                  center: tuple[float, float], radius_km: float) -> DataFrame:
    """ES ``geo_distance`` filter: rows within radius_km of center."""
    d = geo_distance_km(F.col(lat_col), F.col(lon_col),
                        F.lit(center[0]), F.lit(center[1]))
    return df.filter(d <= radius_km)


def exact_match(df: DataFrame, col: str, query: str) -> DataFrame:
    """keyword equality (§2B #29): normalized column == normalized query."""
    import pandas as pd

    from deces_dataprep_spark.functions.analyze import normalize_series

    q = normalize_series(pd.Series([query])).iloc[0]
    return df.filter(keyword_field(col) == q)


def prefix_match(df: DataFrame, col: str, prefix: str) -> DataFrame:
    """Prefix search over a field's tokens (the edge-ngram / index_prefixes
    serving shape): docs where any analyzed token starts with the prefix."""
    toks = tokens_col(col)
    return df.filter(F.exists(toks, lambda t: t.startswith(prefix.lower())))


def auto_fuzziness(term: str) -> int:
    """ES ``fuzziness: AUTO`` edit budget: 0 edits for terms of 1-2
    chars, 1 for 3-5, 2 above (the ES default ladder AUTO:[3,6])."""
    n = len(term)
    return 0 if n < 3 else (1 if n < 6 else 2)


def fuzzy_match(df: DataFrame, col: str, query: str,
                max_edits: int | str = 1) -> DataFrame:
    """ES ``fuzzy`` query parity: docs where any analyzed token is
    within ``max_edits`` Levenshtein edits of the analyzed query term.
    ``max_edits="auto"`` applies the ES AUTO ladder
    (:func:`auto_fuzziness`, capped at 2 like ES). Native
    ``levenshtein`` with the early-exit threshold argument —
    codegen'd, no Python."""
    import pandas as pd

    from deces_dataprep_spark.functions.analyze import normalize_series, tokens_col

    q = normalize_series(pd.Series([query])).iloc[0]
    if max_edits == "auto":
        max_edits = auto_fuzziness(q)
    toks = tokens_col(col)
    return df.filter(
        F.exists(toks, lambda t: F.levenshtein(t, F.lit(q), max_edits) >= 0)
    )


def range_filter(
    df: DataFrame,
    col: str,
    gte=None,
    gt=None,
    lte=None,
    lt=None,
) -> DataFrame:
    """ES ``range`` query (deces_index.yml:86-88,125-129 declares
    ``date``/``integer`` fields — DATE_*_NORM, AGE_DECES — whose ES
    purpose is exactly this: birth-date windows, age bands). All bounds
    optional, AND-combined; works on dates, timestamps, numerics and
    strings (Spark's natural ordering, same as ES on mapped types).

    Scale note: a plain comparison filter is exactly what Catalyst
    pushes into the parquet scan — on a date/id-sorted table the
    row-group min/max stats prune whole row groups before a byte is
    decoded (see `range_search` and test_plans for the pushdown
    assertion). No index structure needed: ES keeps a BKD tree for
    this; the columnar analogue IS the min/max-pruned scan."""
    c = F.col(col)
    out = df
    if gte is not None:
        out = out.filter(c >= F.lit(gte))
    if gt is not None:
        out = out.filter(c > F.lit(gt))
    if lte is not None:
        out = out.filter(c <= F.lit(lte))
    if lt is not None:
        out = out.filter(c < F.lit(lt))
    return out


def date_range(
    df: DataFrame,
    col: str,
    gte: str | None = None,
    lte: str | None = None,
    fmt: str = "yyyyMMdd",
) -> DataFrame:
    """ES ``range`` over a reference-style packed date column
    (yyyyMMdd strings, the DATE_NAISSANCE/DATE_DECES shape): bounds are
    parsed with the field's format; rows whose value fails to parse are
    excluded (ES drops unindexable values at index time — same
    contract). Row values use try_to_date (ANSI-safe), but the BOUNDS
    are driver-side literals and are validated eagerly: a malformed
    bound raises (ES rejects it with a parse error) instead of turning
    the comparison NULL and silently filtering out every row."""
    from datetime import datetime

    # The strptime translation below only knows the date tokens — any
    # other Spark format letter (HH, mm, …) would pass through
    # untranslated and make VALID bounds raise. Reject such formats
    # explicitly: this operator is for DATE fields (to_date drops any
    # time-of-day anyway).
    residue = fmt.replace("yyyy", "").replace("MM", "").replace("dd", "")
    if any(ch.isalpha() for ch in residue):
        raise ValueError(
            f"date_range supports date-only formats built from "
            f"yyyy/MM/dd plus separators; got {fmt!r}")
    py_fmt = (fmt.replace("yyyy", "%Y").replace("MM", "%m")
              .replace("dd", "%d"))
    for name, bound in (("gte", gte), ("lte", lte)):
        if bound is not None:
            try:
                datetime.strptime(bound, py_fmt)
            except ValueError as e:
                raise ValueError(
                    f"date_range {name}={bound!r} does not parse with "
                    f"format {fmt!r}") from e
    d = F.try_to_date(F.col(col), fmt)
    out = df.filter(d.isNotNull())
    if gte is not None:
        out = out.filter(d >= F.try_to_date(F.lit(gte), fmt))
    if lte is not None:
        out = out.filter(d <= F.try_to_date(F.lit(lte), fmt))
    return out


def sort_hits(
    docs: DataFrame,
    query: str,
    sort_col: str,
    ascending: bool = True,
    k: int = 10,
    after: tuple | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``sort`` on search hits: instead of ranking by BM25, the docs
    matching ALL query terms are ordered by an arbitrary keyword/date/
    integer field (the reference's index declares exactly such sortable
    fields — deces_index.yml:86-89,125-129 date/integer DATE_*_NORM,
    AGE_DECES), tie-broken by doc_id asc (ES's _id tiebreak analogue).

    ``after`` — the search_after-compatible cursor ``(last_sort_value,
    last_doc_id)``: returns the page STRICTLY after it in the total
    order. Stateless deep pagination: the plan stays ``filter →
    TakeOrderedAndProject`` at any depth (no page-N scan-and-discard).
    The match filter is a per-row conjunction (scan-stage pruning, no
    explode) and only k rows survive the TakeOrdered — nothing
    corpus-sized moves. NULL sort values are excluded (ES puts missing
    values in a separate _last bucket; Spark and SQL engines disagree
    on NULL placement, so the portable contract is 'sorted hits have
    the field')."""
    from deces_dataprep_spark.index.query import _terms_condition, analyze_query

    terms = analyze_query(query)
    if not terms:
        return docs.select(F.col(id_col).alias("doc_id"),
                           F.col(sort_col).alias(sort_col)).limit(0)
    out = docs.filter(_terms_condition(tokens_col(text_col), terms)).select(
        F.col(id_col).alias("doc_id"), F.col(sort_col).alias(sort_col)
    ).filter(F.col(sort_col).isNotNull())
    if after is not None:
        av, ad = after
        sc = F.col(sort_col)
        if ascending:
            out = out.filter(
                (sc > F.lit(av))
                | ((sc == F.lit(av)) & (F.col("doc_id") > F.lit(int(ad)))))
        else:
            out = out.filter(
                (sc < F.lit(av))
                | ((sc == F.lit(av)) & (F.col("doc_id") > F.lit(int(ad)))))
    order = F.asc(sort_col) if ascending else F.desc(sort_col)
    return out.orderBy(order, F.asc("doc_id")).limit(k)


def geo_bounding_box(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    top_left: tuple[float, float],
    bottom_right: tuple[float, float],
) -> DataFrame:
    """ES ``geo_bounding_box`` filter: rows whose point falls inside the
    box, corners given ES-style as (lat, lon) of top-left and
    bottom-right. Pure comparison predicates — pushdown-able like
    `range_filter`; boxes crossing the antimeridian (left lon > right
    lon) wrap, matching ES semantics."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    t_lat, l_lon = float(top_left[0]), float(top_left[1])
    b_lat, r_lon = float(bottom_right[0]), float(bottom_right[1])
    lat_ok = (lat <= t_lat) & (lat >= b_lat)
    if l_lon <= r_lon:
        lon_ok = (lon >= l_lon) & (lon <= r_lon)
    else:  # antimeridian wrap
        lon_ok = (lon >= l_lon) | (lon <= r_lon)
    return df.filter(lat_ok & lon_ok)


def wildcard_to_regex(pattern: str) -> str:
    """ES ``wildcard`` pattern → anchored regex: ``*`` matches any
    sequence (including empty), ``?`` exactly one char, everything else
    literal. The output uses only portable regex constructs (escaped
    literals, ``.``, ``.*``, anchors) so the same string runs under
    Java regex (Spark ``rlike``) and RE2 (DuckDB ``regexp_matches``)
    with identical semantics — the cross-engine-oracle contract."""
    import re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def wildcard_match(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """ES ``wildcard`` query on a keyword field: the pattern matches
    the WHOLE normalized value (ES wildcard is unanchored only in the
    sense that ``*`` must be explicit). Plan: one ``rlike`` predicate —
    codegen'd, no UDF; like ES, a leading ``*`` forces a full scan of
    the field (no prefix pruning), which is the documented cost model.
    The pattern is normalized with the keyword normalizer first, as ES
    applies the field's normalizer to wildcard input."""
    import pandas as pd

    from deces_dataprep_spark.functions.analyze import normalize_series

    # normalize literal chars but preserve the metacharacters
    norm_parts = []
    for ch in pattern:
        if ch in "*?":
            norm_parts.append(ch)
        else:
            norm_parts.append(normalize_series(pd.Series([ch])).iloc[0])
    return df.filter(
        keyword_field(col).rlike(wildcard_to_regex("".join(norm_parts))))


def regexp_match(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """ES ``regexp`` query on a keyword field: the pattern must match
    the WHOLE normalized value (ES regexp is implicitly anchored —
    there are no ``^``/``$`` in its syntax). One codegen'd ``rlike``
    with explicit anchors; like ES, patterns with a non-literal prefix
    cost a full scan of the field (the documented model — Lucene walks
    the term dictionary, this engine scans the column; both are
    O(distinct values) with no index help). Stick to the portable
    regex subset (literals, classes, ``.``, ``*``, ``+``, ``?``,
    alternation, grouping) and the same pattern runs under Java regex
    here and RE2 in the DuckDB oracle (``regexp_full_match``)."""
    return df.filter(
        keyword_field(col).rlike(f"^(?:{pattern})$"))


def terms_match(df: DataFrame, col: str, values: list[str]) -> DataFrame:
    """ES ``terms`` query on a keyword field: normalized column equals
    ANY of the given values (each normalized with the field's
    normalizer, like ES). One ``isin`` predicate — Catalyst compiles
    it to a hash-set probe and pushes it to the scan."""
    import pandas as pd

    from deces_dataprep_spark.functions.analyze import normalize_series

    vals = [normalize_series(pd.Series([v])).iloc[0] for v in values]
    return df.filter(keyword_field(col).isin(*vals))


def exists_filter(df: DataFrame, col: str) -> DataFrame:
    """ES ``exists`` query: rows where the field has ANY indexed value.
    NULL is missing; ES also treats empty string and empty array as
    missing (nothing gets indexed for them), which is the semantics
    here for string and array columns."""
    c = F.col(col)
    dt = dict(df.dtypes).get(col, "")
    cond = c.isNotNull()
    if dt == "string":
        cond = cond & (c != "")
    elif dt.startswith("array"):
        cond = cond & (F.size(c) > 0)
    return df.filter(cond)


# ---------------------------------------------------------------------------
# nested field type + nested query
# ---------------------------------------------------------------------------

_NESTED_OPS = ("eq", "gt", "gte", "lt", "lte", "contains")


def _child_pred(s: Column, conditions: list[tuple]) -> Column:
    cond = F.lit(True)
    for field, op, val in conditions:
        x = s[field]
        if op == "eq":
            c = x == F.lit(val)
        elif op == "gt":
            c = x > F.lit(val)
        elif op == "gte":
            c = x >= F.lit(val)
        elif op == "lt":
            c = x < F.lit(val)
        elif op == "lte":
            c = x <= F.lit(val)
        elif op == "contains":
            c = x.contains(str(val))
        else:
            raise ValueError(
                f"unknown nested op {op!r} (supported: {_NESTED_OPS})")
        cond = cond & c
    return cond


def nested_pred(path: str, conditions: list[tuple]) -> Column:
    """ES ``nested`` query predicate: TRUE when at least one child
    object under ``path`` (an ``array<struct>`` column) satisfies ALL
    ``conditions`` — each ``(field, op, value)`` with op in
    ``eq|gt|gte|lt|lte|contains``.  This is the property that makes
    ES's nested type different from object flattening: the conditions
    must co-occur on the SAME child.  Compiles to one codegen'd
    ``exists()`` higher-order function — no explode, no shuffle."""
    return F.exists(F.col(path), lambda s: _child_pred(s, conditions))


def nested_query_df(
    docs: DataFrame,
    path: str,
    conditions: list[tuple],
    id_col: str = "doc_id",
    score_field: str | None = None,
    score_mode: str = "none",
    round_digits: int | None = 6,
) -> DataFrame:
    """ES ``nested`` query: docs with ≥1 child under ``path`` matching
    ALL conditions → (doc_id, n_children[, score]).  ``n_children`` is
    the matching-child count (ES inner_hits total); with
    ``score_field`` + ``score_mode`` (sum|max|min|avg) the per-child
    numeric field aggregates into a score, mirroring ES's
    ``score_mode`` over child relevance.  Row-local array kernels
    only — the plan is scan → filter → project."""
    matching = F.filter(F.col(path),
                        lambda s: _child_pred(s, conditions))
    out = docs.select(F.col(id_col).alias("doc_id"),
                      matching.alias("__m")) \
              .filter(F.size("__m") > 0)
    cols = [F.col("doc_id"), F.size("__m").alias("n_children")]
    if score_field is not None:
        vals = F.transform(F.col("__m"),
                           lambda s: s[score_field].cast("double"))
        if score_mode == "sum":
            score = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
        elif score_mode == "max":
            score = F.array_max(vals)
        elif score_mode == "min":
            score = F.array_min(vals)
        elif score_mode == "avg":
            score = (F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
                     / F.size(vals))
        else:
            raise ValueError(f"unknown score_mode {score_mode!r}")
        if round_digits is not None:
            score = F.round(score, round_digits)
        cols.append(score.alias("score"))
    elif score_mode != "none":
        raise ValueError("score_mode needs score_field=")
    return out.select(*cols).orderBy(F.asc("doc_id"))


def duckdb_nested_sql(
    path: str,
    conditions: list[tuple],
    table: str = "documents",
    comments_expr: str | None = None,
    score_field: str | None = None,
    score_mode: str = "none",
    round_digits: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`nested_query_df`;
    ``comments_expr`` overrides the nested-array SQL expression (for
    synthesized fixtures)."""
    src = comments_expr or path
    conds = []
    for field, op, val in conditions:
        sqlop = {"eq": "=", "gt": ">", "gte": ">=", "lt": "<",
                 "lte": "<="}.get(op)
        if sqlop is not None:
            v = f"'{val}'" if isinstance(val, str) else val
            conds.append(f"x.{field} {sqlop} {v}")
        elif op == "contains":
            conds.append(f"strpos(x.{field}, '{val}') > 0")
        else:
            raise ValueError(f"unknown nested op {op!r}")
    cond = " AND ".join(conds) or "TRUE"
    score_sql = ""
    if score_field is not None:
        vals = f"list_transform(m, x -> (x.{score_field})::DOUBLE)"
        agg = {"sum": f"list_sum({vals})",
               "max": f"list_max({vals})",
               "min": f"list_min({vals})",
               "avg": f"list_sum({vals}) / len(m)"}[score_mode]
        score_sql = f", round({agg}, {round_digits}) AS score"
    return f"""
WITH t AS (
  SELECT doc_id, list_filter({src}, x -> {cond}) AS m FROM {table}
)
SELECT doc_id, len(m)::BIGINT AS n_children{score_sql}
FROM t WHERE len(m) > 0
ORDER BY doc_id ASC
"""


def terms_lookup_match(
    df: DataFrame,
    col: str,
    lookup: DataFrame,
    value_col: str,
    normalize: bool = True,
) -> DataFrame:
    """ES ``terms`` query with *lookup* (the allowed-value set lives in
    ANOTHER document rather than the request): filter ``df`` to rows
    whose keyword-normalized ``col`` appears in the lookup frame's
    ``value_col`` (an array column or scalar column — arrays are
    exploded).  ES fetches the lookup doc once on the coordinating
    node; the Spark-first shape is a broadcast LEFT SEMI join — the
    lookup set ships to every executor, the corpus never shuffles."""
    vc = lookup.schema[value_col].dataType.typeName() \
        if value_col in lookup.columns else None
    if vc is None:
        raise ValueError(f"lookup frame has no column {value_col!r}")
    v = F.explode(F.col(value_col)) if vc == "array" else F.col(value_col)
    vals = lookup.select(v.alias("__v")).distinct()
    if normalize:
        vals = vals.select(keyword_field("__v").alias("__v"))
        key = keyword_field(col)
    else:
        key = F.col(col)
    return df.join(F.broadcast(vals), key == F.col("__v"), "left_semi")
