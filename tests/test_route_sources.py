"""Edge cases of the scan/index pairs that share one body per feature:
an empty (or punctuation-only) query gives the same empty result, with
the same column names and types, on both routes, and a composite
``after`` cursor of the wrong length is refused by both."""

import pytest
from pyspark.sql import functions as F

from deces_dataprep_spark.index import aggs
from deces_dataprep_spark.index import query as Q
from deces_dataprep_spark.index.builder import build_index

# (scan route, index route), each called as f(spark, docs, tables, query)
PAIRS = {
    "rescore": (
        lambda s, d, t, q: Q.rescore_topk_df(s, d, q, "merge"),
        lambda s, d, t, q: Q.rescore_topk_from_index(s, t, q, "merge")),
    "function_score": (
        lambda s, d, t, q: Q.function_score_topk_df(s, d, q, "n_chars"),
        lambda s, d, t, q: Q.function_score_from_index(
            s, t, d, q, "n_chars")),
    "percentiles": (
        lambda s, d, t, q: Q.percentiles_df(s, d, q, "n_chars"),
        lambda s, d, t, q: Q.percentiles_from_index(s, t, d, q, "n_chars")),
    "top_hits": (
        lambda s, d, t, q: Q.top_hits_df(s, d, q, "lang"),
        lambda s, d, t, q: Q.top_hits_from_index(s, t, d, q, "lang")),
    "date_histogram": (
        lambda s, d, t, q: Q.date_histogram_df(s, d, q, "crawl_date"),
        lambda s, d, t, q: Q.date_histogram_from_index(
            s, t, d, q, "crawl_date")),
    "histogram": (
        lambda s, d, t, q: Q.histogram_df(s, d, q, "n_chars", 100),
        lambda s, d, t, q: Q.histogram_from_index(
            s, t, d, q, "n_chars", 100)),
    "cardinality": (
        lambda s, d, t, q: Q.cardinality_df(s, d, q, "source"),
        lambda s, d, t, q: Q.cardinality_from_index(s, t, d, q, "source")),
    "boosting": (
        lambda s, d, t, q: Q.boosting_topk_df(s, d, q, "dup"),
        lambda s, d, t, q: Q.boosting_topk_from_index(s, t, q, "dup")),
    "constant_score": (
        lambda s, d, t, q: Q.constant_score_df(s, d, q),
        lambda s, d, t, q: Q.constant_score_from_index(s, t, q)),
    "composite_agg": (
        lambda s, d, t, q: Q.composite_agg_df(s, d, q, ["lang", "source"]),
        lambda s, d, t, q: Q.composite_agg_from_index(
            s, t, d, q, ["lang", "source"])),
    "rank_feature": (
        lambda s, d, t, q: Q.rank_feature_topk_df(s, d, q, "n_chars"),
        lambda s, d, t, q: Q.rank_feature_from_index(
            s, t, d, q, "n_chars")),
    "nested_agg": (
        lambda s, d, t, q: aggs.nested_agg_df(
            s, d, q, [aggs.terms_bucket("lang")], [aggs.metric("count")]),
        lambda s, d, t, q: aggs.nested_agg_from_index(
            s, t, d, q, [aggs.terms_bucket("lang")],
            [aggs.metric("count")])),
    "boolean": (
        lambda s, d, t, q: Q.boolean_topk_df(s, d, [q], should=[q]),
        lambda s, d, t, q: Q.boolean_topk_from_index(s, t, [q], should=[q])),
}


@pytest.fixture(scope="module")
def dated_docs(documents):
    return documents.withColumn(
        "crawl_date",
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.pmod(F.col("doc_id"), F.lit(90)).cast("int")))


@pytest.fixture(scope="module")
def tables(spark, dated_docs):
    return build_index(spark, dated_docs, n_shards=2)


def _shape(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


@pytest.mark.parametrize("query", ["", "!! ?"])
@pytest.mark.parametrize("pair", sorted(PAIRS))
def test_empty_query_same_on_both_routes(spark, dated_docs, tables, pair,
                                         query):
    scan_fn, index_fn = PAIRS[pair]
    scan = scan_fn(spark, dated_docs, tables, query)
    index = index_fn(spark, dated_docs, tables, query)
    assert _shape(scan) == _shape(index)
    rows = [tuple(r) for r in scan.collect()]
    assert rows == [tuple(r) for r in index.collect()]
    # no doc matches: the global distinct count is one zero row, every
    # other route (percentiles explode a null array) returns no rows
    assert rows == ([(0,)] if pair == "cardinality" else [])


@pytest.mark.parametrize("after", [("de",), ("de", "src5", "x")])
def test_composite_cursor_length_checked_on_both_routes(spark, dated_docs,
                                                        tables, after):
    sources = ["lang", "source"]
    with pytest.raises(ValueError, match="after cursor"):
        Q.composite_agg_df(spark, dated_docs, "table row", sources,
                           after=after)
    with pytest.raises(ValueError, match="after cursor"):
        Q.composite_agg_from_index(spark, tables, dated_docs, "table row",
                                   sources, after=after)


def test_boolean_default_output_same_on_both_routes(spark, dated_docs,
                                                    tables):
    """Both bool routes round to 6 digits by default, so their default
    outputs are equal row for row."""
    scan_fn, index_fn = PAIRS["boolean"]
    rows = [tuple(r) for r in
            scan_fn(spark, dated_docs, tables, "table row").collect()]
    assert rows
    assert rows == [tuple(r) for r in
                    index_fn(spark, dated_docs, tables, "table row").collect()]


def test_index_source_reads_stats_once(spark, documents, tmp_path):
    """Planning rescore_topk_from_index on a loaded index reads the
    one-row stats table once for both scored term sets: 3 Spark jobs
    (stats, and each term set's dictionary rows)."""
    from deces_dataprep_spark.snapshots import load_index, write_index

    wh = str(tmp_path / "wh")
    write_index(spark, documents, wh, n_shards=2)
    loaded = load_index(spark, wh)
    sc = spark.sparkContext
    sc.setJobGroup("rescore-plan", "rescore_topk_from_index planning")
    try:
        Q.rescore_topk_from_index(spark, loaded, "table row", "merge")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("rescore-plan")) == 3
