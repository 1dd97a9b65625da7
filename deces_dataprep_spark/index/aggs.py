"""Composable ES-style sub-aggregations (bucket trees × metric leaves).

ES aggregations nest arbitrarily — ``terms`` → per-bucket ``avg`` /
``percentiles``, ``date_histogram`` → ``terms`` → ``top_hits`` — and
every Kibana-style dashboard is such a tree (the reference's mapping,
``/root/reference/projects/deces-dataprep/datasets/deces_index.yml:41-157``,
declares exactly the keyword/date/integer fields those dashboards group
on). ``query.py`` ships the fixed one-level shapes; this module is the
general composition.

Lowering insight: an ES agg TREE's leaf-level response is fully
determined by the flat table ``(bucket key per level ..., metric
values ...)`` — inner-node values are partial sums of leaf rows, which
the driver (or the caller) can roll up from bucket-cardinality-sized
output. So a bucket PATH of any depth lowers to **ONE
``groupBy(key_1, …, key_d)`` with map-side-combinable aggregates**: one
shuffle regardless of nesting depth, bucket-cardinality rows to the
driver, never corpus rows. That is the 100-TB-shaped plan — the naive
translation (one pass per nesting level) would re-scan the corpus per
level.

``top_hits`` is the one non-combinable leaf: it lowers to a window over
the SAME bucket keys (shuffle by bucket key; per-partition work bounded
by that bucket's match count, the rank filter cuts to N before any
collect) joined back to the metric frame on the bucket keys — a
bucket-cardinality ⋈ bucket-cardinality join, left to AQE (both sides
are already reduced).

Every spec carries an optional ``duck_expr`` so the generated DuckDB
oracle (:func:`duckdb_nested_agg_sql`) can mirror synthesized columns;
the two lowering paths share the spec objects, so bucket semantics
cannot drift between engine and oracle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deces_dataprep_spark.index.query import (
    _IndexSource,
    _matching_rows,
    _ScanSource,
    analyze_query,
)


# ---------------------------------------------------------------------------
# specs
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class BucketSpec:
    """One level of the bucket path."""

    kind: str                 # terms | date_histogram | histogram | range
    field: str                # Spark column name
    name: str                 # output column name for this level's key
    interval: str | float | None = None
    ranges: tuple | None = None     # ((lo, hi), ...) — [lo, hi), None = open
    duck_expr: str | None = None    # SQL expr for the field (default: field)
    missing: str | None = None      # terms only: ES missing= substitute
    fields: tuple | None = None     # multi_terms only: component fields
    duck_exprs: tuple | None = None  # multi_terms: SQL exprs per field

    @property
    def dexpr(self) -> str:
        return self.duck_expr or self.field


@dataclass(frozen=True)
class MetricSpec:
    """One metric leaf, computed per leaf bucket."""

    kind: str                 # count|min|max|sum|avg|cardinality|percentile
    field: str | None = None
    name: str | None = None
    percent: float | None = None
    duck_expr: str | None = None
    weight_field: str | None = None       # weighted_avg only
    weight_duck_expr: str | None = None

    @property
    def out(self) -> str:
        if self.name:
            return self.name
        if self.kind == "count":
            return "n_docs"
        if self.kind == "cardinality":
            return f"distinct_{self.field}"
        if self.kind == "percentile":
            return f"p{int(self.percent)}_{self.field}"
        if self.kind == "weighted_avg":
            return f"wavg_{self.field}"
        if self.kind == "top_metric":
            return f"top_{self.field}"
        return f"{self.kind}_{self.field}"

    @property
    def dexpr(self) -> str:
        return self.duck_expr or self.field


def terms_bucket(field: str, name: str | None = None,
                 duck_expr: str | None = None,
                 missing: str | None = None) -> BucketSpec:
    """``missing=`` is ES's terms-agg parameter of the same name: null
    field values land in a bucket keyed by the substitute instead of
    being dropped."""
    return BucketSpec("terms", field, name or field, duck_expr=duck_expr,
                      missing=missing)


def multi_terms_bucket(fields: list[str], name: str | None = None,
                       duck_exprs: list[str] | None = None) -> BucketSpec:
    """ES ``multi_terms`` aggregation: one bucket per DISTINCT TUPLE of
    field values, keyed ``v1|v2|...``.  Docs with a null in ANY
    component drop out (ES semantics).  Unlike stacking ``terms``
    levels, the tuple is one key — one groupBy column, one output
    column."""
    if len(fields) < 2:
        raise ValueError("multi_terms needs at least two fields")
    return BucketSpec("multi_terms", fields[0], name or "_".join(fields),
                      fields=tuple(fields),
                      duck_exprs=tuple(duck_exprs) if duck_exprs else None)


def date_histogram_bucket(field: str, interval: str = "month",
                          name: str | None = None,
                          duck_expr: str | None = None) -> BucketSpec:
    return BucketSpec("date_histogram", field, name or field,
                      interval=interval, duck_expr=duck_expr)


def histogram_bucket(field: str, interval: float,
                     name: str | None = None,
                     duck_expr: str | None = None) -> BucketSpec:
    return BucketSpec("histogram", field, name or field,
                      interval=float(interval), duck_expr=duck_expr)


def range_bucket(field: str, ranges: list[tuple], name: str | None = None,
                 duck_expr: str | None = None) -> BucketSpec:
    """Non-overlapping ``[lo, hi)`` ranges (open ends via ``None``).
    Inside a composed tree each doc must land in exactly one bucket —
    the overlap-capable single-level form stays
    :func:`deces_dataprep_spark.index.query.range_agg_df`. Docs in no
    range fall out of the tree (ES's behaviour for non-matching docs)."""
    rs = tuple((None if lo is None else float(lo),
                None if hi is None else float(hi)) for lo, hi in ranges)
    for (alo, ahi), (blo, _bhi) in zip(rs, rs[1:]):
        if ahi is None or blo is None or blo < ahi:
            raise ValueError("range_bucket ranges must be sorted and "
                             "non-overlapping inside an agg tree")
    return BucketSpec("range", field, name or field, ranges=rs,
                      duck_expr=duck_expr)


def metric(kind: str, field: str | None = None, name: str | None = None,
           percent: float | None = None,
           duck_expr: str | None = None,
           weight_field: str | None = None,
           weight_duck_expr: str | None = None) -> MetricSpec:
    if kind not in ("count", "min", "max", "sum", "avg", "cardinality",
                    "percentile", "weighted_avg", "var_pop",
                    "stddev_pop", "top_metric"):
        raise ValueError(f"unknown metric kind: {kind!r}")
    if kind != "count" and field is None:
        raise ValueError(f"metric {kind!r} needs a field")
    if kind == "percentile" and percent is None:
        raise ValueError("percentile metric needs percent=")
    if kind in ("weighted_avg", "top_metric") and weight_field is None:
        raise ValueError(f"{kind} metric needs weight_field= "
                         "(weighted_avg: the weight; top_metric: the "
                         "sort field)")
    return MetricSpec(kind, field, name, percent, duck_expr,
                      weight_field, weight_duck_expr)


def _range_key(lo: float | None, hi: float | None) -> str:
    return (f"{'*' if lo is None else lo}-{'*' if hi is None else hi}")


# ---------------------------------------------------------------------------
# Spark lowering
# ---------------------------------------------------------------------------


def _bucket_key_col(b: BucketSpec) -> F.Column:
    c = F.col(b.field)
    if b.kind == "terms":
        if b.missing is not None:
            return F.coalesce(c.cast("string"), F.lit(b.missing))
        return c.cast("string")
    if b.kind == "multi_terms":
        cond = F.lit(True)
        for f in b.fields:
            cond = cond & F.col(f).isNotNull()
        return F.when(cond, F.concat_ws(
            "|", *[F.col(f).cast("string") for f in b.fields]))
    if b.kind == "date_histogram":
        # string key — DATE columns round-trip differently through
        # pandas in Spark vs DuckDB (driver-compare hygiene, same as
        # date_histogram_df's registry wrapper)
        return F.date_format(
            F.date_trunc(str(b.interval), c.cast("timestamp")),
            "yyyy-MM-dd")
    if b.kind == "histogram":
        i = float(b.interval)
        return (F.floor(c.cast("double") / F.lit(i)) * F.lit(i)) \
            .cast("double")
    if b.kind == "range":
        v = c.cast("double")
        expr = F.lit(None).cast("string")
        # build the WHEN chain back-to-front
        for lo, hi in reversed(b.ranges):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (v >= lo)
            if hi is not None:
                cond = cond & (v < hi)
            expr = F.when(cond, F.lit(_range_key(lo, hi))).otherwise(expr)
        return expr
    raise ValueError(f"unknown bucket kind: {b.kind!r}")


def _metric_agg_col(m: MetricSpec, round_digits: int | None) -> F.Column:
    if m.kind == "count":
        return F.count(F.lit(1)).alias(m.out)
    v = F.col(m.field).cast("double")
    if m.kind == "cardinality":
        # exact distinct — Spark's two-phase count(distinct) dedups
        # map-side, so partials stay combinable (ES serves HLL
        # approximations of this same quantity; exact keeps the oracle)
        return F.count_distinct(F.col(m.field)).alias(m.out)
    if m.kind == "percentile":
        agg = F.percentile(v, F.lit(m.percent / 100.0))
    elif m.kind == "weighted_avg":
        # ES weighted_avg: sum(v*w)/sum(w) — two combinable partials,
        # map-side-aggregated like any sum
        w = F.col(m.weight_field).cast("double")
        agg = F.sum(v * w) / F.sum(w)
    elif m.kind == "top_metric":
        # ES top_metrics: the metric value of the bucket's top-sorted
        # row. One combinable max over (sort, value) structs —
        # lexicographic struct comparison in BOTH engines, ties on the
        # sort key resolved toward the larger value (deterministic
        # where ES leaves ties undefined)
        s = F.col(m.weight_field).cast("double")
        agg = F.max(F.struct(s.alias("s"), v.alias("v")))["v"]
    else:
        agg = getattr(F, m.kind)(v)
    if round_digits is not None:
        agg = F.round(agg, round_digits)
    return agg.alias(m.out)


def _agg_tail(
    filtered: DataFrame,
    buckets: list[BucketSpec],
    metrics: list[MetricSpec],
    round_digits: int | None,
    top_hits: tuple[str, int] | None,
    id_col: str,
    size: int | None = None,
) -> DataFrame:
    """The shared lowering: key projection → ONE groupBy → (optional)
    bucket-keyed top_hits window join → key-ordered output. Both the
    scan and index routes end here, so they cannot drift. Keys get
    internal ``__k{i}`` names during the aggregate (a bucket named
    after its source column — ``terms('lang')`` — would otherwise
    shadow it) and are renamed to the spec names at the end."""
    if size is not None and top_hits is not None:
        raise ValueError("size= and top_hits= cannot combine (ES nests "
                         "top_hits under already-cut terms buckets; cut "
                         "first, then join hits yourself)")
    inames = [f"__k{i}" for i in range(len(buckets))]
    keys = [_bucket_key_col(b).alias(n) for b, n in zip(buckets, inames)]
    base = filtered.select(*keys, "*")
    for b, n in zip(buckets, inames):
        if b.kind in ("range", "multi_terms"):
            base = base.filter(F.col(n).isNotNull())
    out = base.groupBy(*inames).agg(
        *[_metric_agg_col(m, round_digits) for m in metrics])
    if top_hits is not None:
        from pyspark.sql import Window

        sort_col, n = top_hits
        w = Window.partitionBy(*inames).orderBy(
            F.desc(sort_col), F.asc(id_col))
        hits = (
            base.select(*inames, id_col, sort_col)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= int(n))
            .groupBy(*inames)
            .agg(F.concat_ws(",", F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__rk"), F.col(id_col).alias("id")))),
                lambda s: s["id"].cast("string"))).alias("top_ids"))
        )
        out = out.join(hits, inames)
    if size is not None:
        counts = [m.out for m in metrics if m.kind == "count"]
        if not counts:
            raise ValueError("size= (terms-agg ordering) needs a "
                             "count metric in the tree")
        out = out.orderBy(F.desc(counts[0]),
                          *[F.asc(n) for n in inames]).limit(int(size))
    else:
        out = out.orderBy(*inames)
    renames = dict(zip(inames, [b.name for b in buckets]))
    return out.select(*[F.col(c).alias(renames.get(c, c))
                        for c in out.columns])


def nested_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    buckets: list[BucketSpec],
    metrics: list[MetricSpec],
    text_col: str = "text",
    round_digits: int | None = 6,
    top_hits: tuple[str, int] | None = None,
    id_col: str = "doc_id",
    size: int | None = None,
) -> DataFrame:
    """The composed agg tree over raw docs (filter context): docs
    matching ALL query terms → one ``groupBy`` over the whole bucket
    path → metric leaves. ``top_hits=(sort_field, n)`` adds a
    ``top_ids`` column (comma-joined doc_ids, ``sort_field`` desc /
    doc_id asc per bucket). ``size=N`` applies ES's terms-agg default
    ordering to the LEAF rows — top-N buckets by doc count desc (tie →
    keys asc), turning the final sort into a
    ``TakeOrderedAndProject``; requires a ``count`` metric."""
    return _nested_agg(_ScanSource(spark, docs, id_col, text_col), query,
                       buckets, metrics, round_digits, top_hits, size)


def nested_agg_from_index(
    spark: SparkSession,
    tables,
    meta_docs: DataFrame,
    query: str,
    buckets: list[BucketSpec],
    metrics: list[MetricSpec],
    round_digits: int | None = 6,
    top_hits: tuple[str, int] | None = None,
    id_col: str = "doc_id",
    size: int | None = None,
) -> DataFrame:
    """The same tree served FROM THE INDEX: the query terms' posting
    blocks only (parquet pushdown on ``term``) → all-terms coverage →
    semi-join the doc-metadata table → the shared groupBy tail.
    Bucket-identical to :func:`nested_agg_df` (tested); corpus cost is
    the matched postings + a metadata semi-join, never a text scan."""
    return _nested_agg(_IndexSource(spark, tables, meta_docs, id_col), query,
                       buckets, metrics, round_digits, top_hits, size)


def _nested_agg(src, query, buckets, metrics, round_digits, top_hits,
                size) -> DataFrame:
    if not buckets:
        raise ValueError("nested_agg needs at least one bucket level")
    return _agg_tail(src.matching_docs(analyze_query(query)), buckets,
                     metrics, round_digits, top_hits, src.id_col, size)


# ---------------------------------------------------------------------------
# pipeline aggregations (cumulative_sum / derivative / bucket_script)
# ---------------------------------------------------------------------------


def pipeline_over_buckets(
    buckets_df: DataFrame,
    bucket_col: str,
    value_col: str,
    cumulative: bool = True,
    derivative: bool = True,
    script: tuple[str, "F.Column"] | None = None,
    round_digits: int | None = 6,
    moving_avg: int | None = None,
    moving_shift: int = 1,
    serial_diff: int | None = None,
) -> DataFrame:
    """ES pipeline aggregations over an ALREADY-REDUCED bucket frame
    (the output of ``date_histogram_df`` / ``histogram_df`` /
    :func:`nested_agg_df`): ``cumulative_sum`` (running total in bucket
    order), ``derivative`` (delta vs the previous bucket — NULL on the
    first, like ES), and ``bucket_script`` (``script=(name, column)``,
    arbitrary arithmetic over the bucket's own metric columns).

    Scale note: ES pipeline aggs are post-processing over the bucket
    LIST, never the corpus — mirrored exactly: the input here is
    bucket-cardinality-sized by construction (its producer already
    reduced the corpus), so the single unpartitioned window below is a
    bounded driver-adjacent step, not a corpus-wide sort. Applying this
    to a corpus-sized frame would be a misuse, same as in ES."""
    from pyspark.sql import Window

    w = Window.orderBy(F.asc(bucket_col))
    out = buckets_df
    v = F.col(value_col).cast("double")
    if cumulative:
        c = F.sum(v).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        if round_digits is not None:
            c = F.round(c, round_digits)
        out = out.withColumn("cumulative_sum", c)
    if derivative:
        d = v - F.lag(v, 1).over(w)
        if round_digits is not None:
            d = F.round(d, round_digits)
        out = out.withColumn("derivative", d)
    if moving_avg is not None:
        # ES moving_fn MovingFunctions.unweightedAvg: window of
        # ``moving_avg`` buckets ending at (current + shift - 1) — the
        # ES default shift=1 is the trailing window INCLUDING the
        # current bucket; shift=0 excludes it (NULL on the first
        # bucket, window empty — same as ES returning null)
        lo = int(moving_shift) - int(moving_avg)
        hi = int(moving_shift) - 1
        m = F.avg(v).over(w.rowsBetween(lo, hi))
        if round_digits is not None:
            m = F.round(m, round_digits)
        out = out.withColumn("moving_avg", m)
    if serial_diff is not None:
        # ES serial_diff: v - lag(v, lag) — seasonality removal
        s = v - F.lag(v, int(serial_diff)).over(w)
        if round_digits is not None:
            s = F.round(s, round_digits)
        out = out.withColumn("serial_diff", s)
    if script is not None:
        name, col = script
        if round_digits is not None:
            col = F.round(col, round_digits)
        out = out.withColumn(name, col)
    return out.orderBy(F.asc(bucket_col))


def duckdb_pipeline_sql(
    inner_sql: str,
    bucket_col: str,
    value_col: str,
    cumulative: bool = True,
    derivative: bool = True,
    script: tuple[str, str] | None = None,
    round_digits: int | None = 6,
    moving_avg: int | None = None,
    moving_shift: int = 1,
    serial_diff: int | None = None,
) -> str:
    """Oracle twin of :func:`pipeline_over_buckets` — wraps the bucket
    producer's SQL (``inner_sql``) in the same window arithmetic."""
    def _r(e: str) -> str:
        return f"round({e}, {round_digits})" if round_digits is not None \
            else e

    def _bound(n: int) -> str:
        if n == 0:
            return "CURRENT ROW"
        return f"{-n} PRECEDING" if n < 0 else f"{n} FOLLOWING"

    cols = ["b.*"]
    if cumulative:
        cols.append(_r(
            f"sum(({value_col})::DOUBLE) OVER "
            f"(ORDER BY {bucket_col} ASC ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND CURRENT ROW)") + " AS cumulative_sum")
    if derivative:
        cols.append(_r(
            f"(({value_col})::DOUBLE - lag(({value_col})::DOUBLE, 1) OVER "
            f"(ORDER BY {bucket_col} ASC))") + " AS derivative")
    if moving_avg is not None:
        lo = int(moving_shift) - int(moving_avg)
        hi = int(moving_shift) - 1
        cols.append(_r(
            f"avg(({value_col})::DOUBLE) OVER "
            f"(ORDER BY {bucket_col} ASC ROWS BETWEEN {_bound(lo)} "
            f"AND {_bound(hi)})") + " AS moving_avg")
    if serial_diff is not None:
        cols.append(_r(
            f"(({value_col})::DOUBLE - lag(({value_col})::DOUBLE, "
            f"{int(serial_diff)}) OVER (ORDER BY {bucket_col} ASC))")
            + " AS serial_diff")
    if script is not None:
        name, expr = script
        cols.append(f"{_r(expr)} AS {name}")
    return f"""
WITH b AS ({inner_sql})
SELECT {", ".join(cols)}
FROM b
ORDER BY {bucket_col} ASC
"""


def bucket_stats_over(
    buckets_df: DataFrame,
    value_col: str,
    round_digits: int | None = 6,
) -> DataFrame:
    """ES sibling pipeline aggregations — ``avg_bucket`` /
    ``min_bucket`` / ``max_bucket`` / ``sum_bucket`` — over an
    already-reduced bucket frame: ONE row (avg_bucket, min_bucket,
    max_bucket, sum_bucket, n_buckets). Like every pipeline agg this
    reduces the bucket LIST (bucket-cardinality input by construction),
    not the corpus."""
    v = F.col(value_col).cast("double")
    aggs_ = [
        F.avg(v).alias("avg_bucket"),
        F.min(v).alias("min_bucket"),
        F.max(v).alias("max_bucket"),
        F.sum(v).alias("sum_bucket"),
        F.count(F.lit(1)).alias("n_buckets"),
    ]
    out = buckets_df.agg(*aggs_)
    if round_digits is not None:
        for c in ("avg_bucket", "min_bucket", "max_bucket", "sum_bucket"):
            out = out.withColumn(c, F.round(c, round_digits))
    return out


def duckdb_bucket_stats_sql(
    inner_sql: str,
    value_col: str,
    round_digits: int | None = 6,
) -> str:
    """Oracle twin of :func:`bucket_stats_over`."""
    def _r(e: str) -> str:
        return f"round({e}, {round_digits})" if round_digits is not None \
            else e

    return f"""
WITH b AS ({inner_sql})
SELECT {_r(f"avg(({value_col})::DOUBLE)")} AS avg_bucket,
       {_r(f"min(({value_col})::DOUBLE)")} AS min_bucket,
       {_r(f"max(({value_col})::DOUBLE)")} AS max_bucket,
       {_r(f"sum(({value_col})::DOUBLE)")} AS sum_bucket,
       count(*)::BIGINT AS n_buckets
FROM b
"""


# ---------------------------------------------------------------------------
# geo aggregations (geo_distance rings)
# ---------------------------------------------------------------------------


def geo_distance_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    lat_col: str,
    lon_col: str,
    center_lat: float,
    center_lon: float,
    rings: list[tuple[float | None, float | None]],
    text_col: str = "text",
) -> DataFrame:
    """ES ``geo_distance`` aggregation: ``[from, to)`` km rings around
    a center point over the filter-context doc set, every declared ring
    always emitted (rings may overlap, like the ES original). Reference
    contract: the mapping's two geo_point fields
    (deces_index.yml:115-116,156-157) exist to be bucketed this way.

    Same single-reduce-row shape as ``range_agg_df``: the haversine is
    a pure-native codegen'd column (``es_fields.geo_distance_km``), one
    conditional count per ring in ONE map-side-combinable aggregate,
    unpivoted to ``(key, n_docs)`` driver-side — ring cardinality
    reaches the driver, never the corpus."""
    from deces_dataprep_spark.operators.es_fields import geo_distance_km

    base = _matching_rows(docs, analyze_query(query), text_col)
    dist = geo_distance_km(F.col(lat_col), F.col(lon_col),
                           F.lit(float(center_lat)),
                           F.lit(float(center_lon)))
    aggs, buckets = [], []
    for i, (lo, hi) in enumerate(rings):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (dist >= float(lo))
        if hi is not None:
            cond = cond & (dist < float(hi))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).cast("long")
                    .alias(f"__c{i}"))
        buckets.append((i, _range_key(
            None if lo is None else float(lo),
            None if hi is None else float(hi))))
    row = base.agg(*aggs)
    structs = [F.struct(F.lit(key).alias("key"),
                        F.col(f"__c{i}").alias("n_docs"))
               for i, key in buckets]
    return row.select(F.explode(F.array(*structs)).alias("b")).select("b.*")


def duckdb_geo_distance_agg_sql(
    query: str,
    lat_expr: str,
    lon_expr: str,
    center_lat: float,
    center_lon: float,
    rings: list[tuple[float | None, float | None]],
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Oracle twin of :func:`geo_distance_agg_df` — the identical
    haversine (2·R·asin(√…), R=6371 km, matching
    ``es_fields.geo_distance_km``) and conditional ring counts."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql(text_col)
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    clat, clon = float(center_lat), float(center_lon)
    dist = (
        f"2.0 * 6371.0 * asin(sqrt("
        f"sin(radians(({lat_expr}) - {clat}) / 2)"
        f" * sin(radians(({lat_expr}) - {clat}) / 2)"
        f" + cos(radians({clat})) * cos(radians(({lat_expr})))"
        f" * sin(radians(({lon_expr}) - {clon}) / 2)"
        f" * sin(radians(({lon_expr}) - {clon}) / 2)))"
    )
    parts = []
    for lo, hi in rings:
        conds = []
        if lo is not None:
            conds.append(f"d >= {float(lo)}")
        if hi is not None:
            conds.append(f"d < {float(hi)}")
        cond = " AND ".join(conds) or "TRUE"
        key = _range_key(None if lo is None else float(lo),
                         None if hi is None else float(hi))
        parts.append(
            f"SELECT '{key}' AS key, "
            f"coalesce(sum(CASE WHEN {cond} THEN 1 ELSE 0 END), 0)::BIGINT"
            f" AS n_docs FROM m")
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH m AS (SELECT {dist} AS d FROM {table} WHERE {pred})
{union}
"""


def geotile_grid_agg_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    lat_col: str,
    lon_col: str,
    precision: int = 5,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """ES ``geotile_grid`` aggregation: bucket the filter-context doc
    set by web-mercator map tile at zoom ``precision``, key
    ``"z/x/y"``, top-k buckets by count (tie → key asc) — ES's
    map-clustering agg (the geohash_grid sibling with exact closed-form
    math instead of a base32 alphabet, which is why it oracles
    cleanly).

    Tile math (the slippy-map standard ES implements):
    ``x = ⌊(lon+180)/360 · 2^z⌋``,
    ``y = ⌊(1 − asinh(tan φ)/π)/2 · 2^z⌋`` with lat clamped to the
    mercator domain ±85.05112878. All pure native columns (codegen'd);
    one combinable groupBy + TakeOrderedAndProject — bucket cardinality
    is capped at 4^z and only k rows reach the driver."""
    base = _matching_rows(docs, analyze_query(query), text_col)
    z = int(precision)
    n = float(1 << z)
    lat = F.least(F.greatest(F.col(lat_col).cast("double"),
                             F.lit(-85.05112878)), F.lit(85.05112878))
    lon = F.col(lon_col).cast("double")
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    # clamp lon=180 to the last tile, like ES
    x = F.least(x, F.lit(int(n - 1))).cast("long")
    # asinh spelled as ln(t + √(t²+1)) — DuckDB has no asinh, and the
    # oracle must evaluate the bit-identical expression so a floor()
    # at a tile boundary cannot flip between engines
    t = F.tan(F.radians(lat))
    asinh_t = F.log(t + F.sqrt(t * t + F.lit(1.0)))
    y = F.floor((F.lit(1.0) - asinh_t / F.lit(math.pi))
                / F.lit(2.0) * F.lit(n))
    y = F.least(F.greatest(y, F.lit(0)), F.lit(int(n - 1))).cast("long")
    key = F.concat_ws("/", F.lit(str(z)), x.cast("string"),
                      y.cast("string"))
    return (
        base.select(key.alias("key"))
        .groupBy("key").agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("key"))
        .limit(k)
    )


AUTO_DH_LADDER = ("minute", "hour", "day", "week", "month", "quarter",
                  "year")


def auto_date_histogram_df(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    field: str,
    target_buckets: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """ES ``auto_date_histogram``: pick the FINEST calendar interval
    from the ladder that produces at most ``target_buckets`` buckets
    (falling back to ``year``), then bucket at it.  One combinable
    count-distinct planning pass chooses the rung (the decision is a
    driver-side scalar, like ES's coordinating-node rounding choice);
    the chosen unit is reported in ``interval_unit``."""
    filtered = _matching_rows(docs, analyze_query(query), text_col)
    ts = F.col(field).cast("timestamp")
    row = filtered.agg(*[
        F.count_distinct(F.date_trunc(u, ts)).alias(u)
        for u in AUTO_DH_LADDER]).collect()[0]
    unit = next((u for u in AUTO_DH_LADDER
                 if int(row[u]) <= int(target_buckets)), "year")
    key = F.date_format(F.date_trunc(unit, ts), "yyyy-MM-dd HH:mm:ss")
    return (filtered.groupBy(key.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("interval_unit", F.lit(unit))
            .orderBy("bucket"))


def duckdb_auto_date_histogram_sql(
    query: str,
    field_expr: str,
    target_buckets: int = 10,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Oracle twin of :func:`auto_date_histogram_df` — the same
    finest-fitting-rung rule, chosen with a CASE over the per-rung
    distinct counts (DuckDB's ``date_trunc`` accepts a dynamic part)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql(text_col)
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    counts = ", ".join(
        f"count(DISTINCT date_trunc('{u}', ({field_expr})::TIMESTAMP)) "
        f"AS c_{u}" for u in AUTO_DH_LADDER)
    whens = " ".join(
        f"WHEN c_{u} <= {int(target_buckets)} THEN '{u}'"
        for u in AUTO_DH_LADDER[:-1])
    return f"""
WITH m AS (SELECT * FROM {table} WHERE {pred}),
c AS (SELECT {counts} FROM m),
ch AS (SELECT CASE {whens} ELSE 'year' END AS unit FROM c)
SELECT strftime(date_trunc((SELECT unit FROM ch),
                           ({field_expr})::TIMESTAMP),
                '%Y-%m-%d %H:%M:%S') AS bucket,
       count(*)::BIGINT AS n_docs,
       (SELECT unit FROM ch) AS interval_unit
FROM m
GROUP BY 1, 3
ORDER BY 1
"""


def duckdb_geotile_grid_sql(
    query: str,
    lat_expr: str,
    lon_expr: str,
    precision: int = 5,
    k: int = 20,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Oracle twin of :func:`geotile_grid_agg_df` — identical tile
    formula (asinh∘tan form, same clamps)."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql(text_col)
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    z = int(precision)
    n = float(1 << z)
    return f"""
WITH m AS (
  SELECT least(greatest(({lat_expr})::DOUBLE, -85.05112878),
               85.05112878) AS lat,
         ({lon_expr})::DOUBLE AS lon
  FROM {table} WHERE {pred}
),
t AS (
  SELECT '{z}' || '/' ||
         least(floor((lon + 180.0) / 360.0 * {n}), {int(n - 1)})::BIGINT
           || '/' ||
         least(greatest(floor((1.0 - ln(tan(radians(lat))
                  + sqrt(tan(radians(lat)) * tan(radians(lat)) + 1.0))
                  / pi()) / 2.0 * {n}), 0), {int(n - 1)})::BIGINT
           AS key
  FROM m
)
SELECT key, count(*)::BIGINT AS n_docs
FROM t GROUP BY key
ORDER BY n_docs DESC, key ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# DuckDB oracle
# ---------------------------------------------------------------------------


def _duck_key_expr(b: BucketSpec) -> str:
    e = b.dexpr
    if b.kind == "terms":
        if b.missing is not None:
            return f"coalesce(({e})::VARCHAR, '{b.missing}')"
        return f"({e})::VARCHAR"
    if b.kind == "multi_terms":
        exprs = b.duck_exprs or b.fields
        notnull = " AND ".join(f"({x}) IS NOT NULL" for x in exprs)
        cat = " || '|' || ".join(f"({x})::VARCHAR" for x in exprs)
        return f"CASE WHEN {notnull} THEN {cat} ELSE NULL END"
    if b.kind == "date_histogram":
        return (f"strftime(date_trunc('{b.interval}', ({e})::TIMESTAMP), "
                f"'%Y-%m-%d')")
    if b.kind == "histogram":
        i = float(b.interval)
        return f"(floor(({e})::DOUBLE / {i}) * {i})::DOUBLE"
    if b.kind == "range":
        whens = []
        for lo, hi in b.ranges:
            conds = []
            if lo is not None:
                conds.append(f"({e})::DOUBLE >= {lo}")
            if hi is not None:
                conds.append(f"({e})::DOUBLE < {hi}")
            cond = " AND ".join(conds) or "TRUE"
            whens.append(f"WHEN {cond} THEN '{_range_key(lo, hi)}'")
        return f"CASE {' '.join(whens)} ELSE NULL END"
    raise ValueError(f"unknown bucket kind: {b.kind!r}")


def _duck_metric_expr(m: MetricSpec, round_digits: int | None) -> str:
    if m.kind == "count":
        return f"count(*)::BIGINT AS {m.out}"
    e = m.dexpr
    if m.kind == "cardinality":
        return f"count(DISTINCT {e})::BIGINT AS {m.out}"
    if m.kind == "percentile":
        inner = f"quantile_cont(({e})::DOUBLE, {m.percent / 100.0!r})"
    elif m.kind == "weighted_avg":
        we = m.weight_duck_expr or m.weight_field
        inner = (f"(sum(({e})::DOUBLE * ({we})::DOUBLE) / "
                 f"sum(({we})::DOUBLE))")
    elif m.kind == "top_metric":
        we = m.weight_duck_expr or m.weight_field
        inner = (f"(max({{'s': ({we})::DOUBLE, 'v': ({e})::DOUBLE}})).v")
    else:
        inner = f"{m.kind}(({e})::DOUBLE)"
    if round_digits is not None:
        inner = f"round({inner}, {round_digits})"
    return f"{inner} AS {m.out}"


def duckdb_nested_agg_sql(
    query: str,
    buckets: list[BucketSpec],
    metrics: list[MetricSpec],
    table: str = "documents",
    text_col: str = "text",
    round_digits: int | None = 6,
    top_hits: tuple[str, int] | None = None,
    id_col: str = "doc_id",
    top_hits_duck_expr: str | None = None,
    size: int | None = None,
) -> str:
    """Oracle twin of :func:`nested_agg_df` — the same filter + ONE
    GROUP BY over all bucket-key expressions; ``top_hits`` via a
    row_number window + ordered ``string_agg``; ``size`` mirrors the
    terms-agg count-desc ordering."""
    from deces_dataprep_spark.functions.analyze import duckdb_tokens_sql

    terms = analyze_query(query)
    toks = duckdb_tokens_sql(text_col)
    pred = " AND ".join(
        f"list_contains({toks}, '{t}')" for t in terms) or "FALSE"
    inames = [f"__k{i}" for i in range(len(buckets))]
    keys = ", ".join(f"{_duck_key_expr(b)} AS {n}"
                     for b, n in zip(buckets, inames))
    key_names = ", ".join(inames)
    out_keys = ", ".join(f"{n} AS {b.name}"
                         for b, n in zip(buckets, inames))
    notnull = " AND ".join(
        f"{n} IS NOT NULL" for b, n in zip(buckets, inames)
        if b.kind in ("range", "multi_terms"))
    where_keys = f"WHERE {notnull}" if notnull else ""
    mexprs = ", ".join(_duck_metric_expr(m, round_digits) for m in metrics)
    mnames = ", ".join(m.out for m in metrics)
    if size is not None:
        if top_hits is not None:
            raise ValueError("size= and top_hits= cannot combine")
        counts = [m.out for m in metrics if m.kind == "count"]
        if not counts:
            raise ValueError("size= needs a count metric")
        order = f"{counts[0]} DESC, {key_names}"
        limit = f"LIMIT {int(size)}"
    else:
        order, limit = key_names, ""
    if top_hits is None:
        return f"""
WITH m AS (SELECT * FROM {table} WHERE {pred}),
k AS (SELECT {keys}, * FROM m)
SELECT {out_keys}, {mexprs}
FROM k {where_keys}
GROUP BY {key_names}
ORDER BY {order}
{limit}
"""
    sort_col, n = top_hits
    sort_e = top_hits_duck_expr or sort_col
    return f"""
WITH m AS (SELECT * FROM {table} WHERE {pred}),
k AS (SELECT {keys}, * FROM m),
kk AS (SELECT * FROM k {where_keys}),
agg AS (SELECT {key_names}, {mexprs} FROM kk GROUP BY {key_names}),
rk AS (SELECT {key_names}, {id_col},
              row_number() OVER (PARTITION BY {key_names}
                                 ORDER BY ({sort_e}) DESC, {id_col} ASC)
                AS rnk
       FROM kk),
hits AS (SELECT {key_names},
                string_agg({id_col}::VARCHAR, ',' ORDER BY rnk) AS top_ids
         FROM rk WHERE rnk <= {int(n)} GROUP BY {key_names})
SELECT {", ".join(f"agg.{n} AS {b.name}" for b, n in zip(buckets, inames))},
       {mnames}, hits.top_ids
FROM agg JOIN hits USING ({key_names})
ORDER BY {key_names}
"""
