"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plan — predicate pushdown to parquet, broadcast
hash joins for lookups, TakeOrderedAndProject for top-k, whole-stage
codegen with no Python in native paths, partial aggregation."""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def test_postings_term_filter_pushed_to_parquet(spark, documents, tmp_path):
    from deces_dataprep_spark.snapshots import load_index, write_index

    wh = str(tmp_path / "wh")
    write_index(spark, documents, wh, n_shards=2, resume=False)
    t = load_index(spark, wh)
    plan = t.postings.filter(F.col("term").isin(["spark", "the"]))._jdf \
        .queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term" in plan, plan


def test_lookup_join_is_broadcast(spark, docs):
    from deces_dataprep_spark.operators.dataprep import join_lookup

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    out = join_lookup(orders, cust, {"o_custkey": "c_custkey"},
                      {"cust_name": "c_name"})
    assert "BroadcastHashJoin" in _plan(out)


def test_bm25_oracle_topk_is_take_ordered(spark, docs):
    from deces_dataprep_spark.index.query import bm25_topk_df

    out = bm25_topk_df(spark, docs, "spark merge sort table", 10)
    assert "TakeOrderedAndProject" in _plan(out)


def test_native_text_ops_have_no_python_in_plan(spark, docs):
    """quality/lang-id/token-count/fingerprint run entirely JVM-side —
    no (Arrow/Batch)EvalPython operator may appear."""
    from deces_dataprep_spark.functions import text as T

    from deces_dataprep_spark.functions.analyze import norm_keyword_col

    for df in (T.quality_features(docs), T.lang_id(docs),
               T.token_counts(docs), T.doc_fingerprint(docs)):
        plan = _plan(df)
        assert "EvalPython" not in plan, plan
    # pure-scalar-expression paths stay inside whole-stage codegen
    # (toString marks codegen'd operators with a "*(n)" prefix)
    scalar = docs.select("doc_id", norm_keyword_col("text").alias("n"))
    assert "*(1) Project" in _plan(scalar)


def test_exact_dedup_partial_aggregation(spark, docs):
    from deces_dataprep_spark.operators.dedup import exact_dup_groups

    plan = _plan(exact_dup_groups(docs))
    # two HashAggregates around one Exchange = map-side partial agg
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    assert "Exchange hashpartitioning(content_hash" in plan


def test_scan_prunes_columns(spark):
    """A 2-column projection must not read the html/text payload."""
    pages_like = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = pages_like.select("doc_id", "lang")
    plan = _plan(out)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert "text" not in m.group(1)


def _above_generate(plan: str) -> str:
    """The plan lines printed before its (one) Generate: the operators
    over the exploded token stream."""
    lines = plan.splitlines()
    gen = [i for i, line in enumerate(lines) if "Generate explode" in line]
    assert len(gen) == 1, plan  # token explode is native, and single
    return "\n".join(lines[:gen[0]])


def test_index_build_single_posting_shuffle(spark, documents):
    """The posting pipeline contains exactly one exchange over the
    exploded token stream (repartition on shard+term) and no join above
    the explode: doc numbers are attached by one doc-level join below
    it."""
    from deces_dataprep_spark.index.builder import build_index

    postings = build_index(spark, documents, n_shards=2).postings
    plan = _plan(postings)
    above = _above_generate(plan)
    assert len(re.findall(r"Exchange hashpartitioning", above)) == 1, plan
    assert "Exchange hashpartitioning(shard#" in above, plan
    assert "Join" not in above, plan
    assert len(re.findall(r"\w*Join \[", plan)) == 1, plan


def test_write_index_postings_plan(spark, documents, tmp_path, monkeypatch):
    """The plan write_index writes its posting blocks with: the one
    doc-level join that attaches doc numbers is a broadcast below the
    explode, the corpus is tokenized once (the cached projection), no
    Python node, and the block pack runs ONE row_number window."""
    from pyspark.sql.readwriter import DataFrameWriter

    from deces_dataprep_spark.snapshots import write_index

    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        if "doc_gaps" in self._df.columns:
            plans.append(_plan(self._df))
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    write_index(spark, documents, str(tmp_path / "wh"), n_shards=2,
                resume=False)
    assert len(plans) == 1
    plan = plans[0]
    above = _above_generate(plan)
    assert "Join" not in above, plan
    joins = re.findall(r"\w*Join \[.*", plan)
    assert len(joins) == 1 and joins[0].startswith("BroadcastHashJoin"), plan
    assert plan.count("regexp_extract_all") == 1, plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert plan.count("row_number()") == 1, plan

def test_decontam_probe_plan_is_joinless(spark, docs):
    """The default probe path is a pure projection: the benchmark set
    rides a broadcast variable into ONE Arrow UDF — the corpus plan has
    no join and no Exchange at all."""
    from deces_dataprep_spark.operators.decontam import contamination_report

    bench = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    plan = _plan(contamination_report(docs, bench))
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_decontam_join_path_benchmark_is_broadcast(spark, docs):
    """The method='join' escape hatch (benchmark too big for per-worker
    copies) must broadcast the benchmark shingles — the corpus side
    joins map-side, never shuffling on the (skewable) shingle key."""
    from deces_dataprep_spark.operators.decontam import contamination_report

    bench = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    plan = _plan(contamination_report(docs, bench, method="join"))
    # (the shingle-key Exchange that does appear belongs to the tiny
    # benchmark branch's distinct())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_facet_counts_no_explode_no_python(spark, docs):
    """Facets filter with a per-row array_contains conjunction: no
    Generate (explode), no Python operator, top-k via TakeOrdered."""
    from deces_dataprep_spark.index.query import facet_counts_df

    plan = _plan(facet_counts_df(spark, docs, "table row", "lang", 5))
    assert "Generate" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "TakeOrderedAndProject" in plan


def test_search_after_is_filter_plus_take_ordered(spark, docs):
    """search_after must stay filter → TakeOrderedAndProject (no global
    sort, no offset scan-and-discard)."""
    from deces_dataprep_spark.index.query import bm25_search_after_df

    plan = _plan(bm25_search_after_df(spark, docs, "table row", k=10,
                                      after_score=1.5, after_doc_id=42))
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"Filter.*(score|doc_id)", plan)


def test_repetition_line_metrics_native(spark, docs):
    """The line-dup metrics are pure array expressions; the ONLY Python
    in the plan is the single Arrow-batched bigram-count UDF (no
    row-at-a-time BatchEvalPython, no MapInPandas)."""
    from deces_dataprep_spark.functions.text import repetition_features

    plan = _plan(repetition_features(docs))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_repetition_features_is_shuffle_free(spark, docs):
    """top_bigram_frac is a pure row-local quantity (one Arrow-batched
    vectorized UDF) — the plan must be a single projection + ArrowEval:
    no Exchange, no Join, no explode-side Generate (round-2 shipped an
    avoidable 90M-row bigram shuffle here; a native HOF fold measured
    4x slower than the Arrow pass)."""
    from deces_dataprep_spark.functions.text import repetition_features

    plan = _plan(repetition_features(docs))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan
    assert "ArrowEvalPython" in plan  # the sanctioned vectorized path


def test_collapse_is_partial_agg_not_window(spark, docs):
    """collapse = max_by aggregation with map-side partial aggregation,
    never a row_number window (full shuffle + per-key sort; a dominant
    collapse key would serialize into one task)."""
    from deces_dataprep_spark.index.query import collapse_topk_df

    d = docs.withColumn("site", (F.col("doc_id") % 7).cast("string"))
    plan = _plan(collapse_topk_df(spark, d, "table row", collapse_col="site"))
    assert "Window" not in plan
    assert re.search(r"HashAggregate.*partial_max_by|partial_max_by", plan) \
        or plan.count("Aggregate") >= 2, plan


def test_range_filter_pushed_to_parquet(spark, tmp_path):
    """ES range parity at scale = parquet min/max pruning: the bound
    comparisons must reach the scan as PushedFilters (the columnar
    analogue of ES's BKD tree), not evaluate post-scan only."""
    from deces_dataprep_spark.operators.es_fields import range_filter

    p = str(tmp_path / "ev")
    spark.range(0, 1000).selectExpr(
        "id AS event_id", "CAST(id % 100 AS DOUBLE) AS value").write \
        .mode("overwrite").parquet(p)
    df = range_filter(spark.read.parquet(p), "value", gte=10.0, lt=20.0)
    plan = _plan(df.select("event_id"))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(value,10.0\)",
                     plan), plan
    assert "LessThan(value,20.0)" in plan


def test_rrf_window_cut_is_take_ordered(spark, docs):
    """Each retriever leg's window cut must lower to
    TakeOrderedAndProject (per-partition heaps) — the rank window then
    only ever sees the k-bounded frame, and the fuse is one partial
    aggregate."""
    from deces_dataprep_spark.index.fusion import hybrid_rrf_topk_df

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    out = hybrid_rrf_topk_df(spark, docs, emb, "spark merge sort table",
                             qv, k=10, window_size=30)
    plan = _plan(out)
    assert plan.count("TakeOrderedAndProject") >= 3, plan  # 2 legs + fuse
    assert "BatchEvalPython" not in plan
    # fuse aggregate is combinable (map-side partial before the shuffle)
    assert "partial_sum" in plan or "Partial" in plan, plan


def test_diversified_sampler_window_is_key_partitioned(spark, docs):
    """The per-value cap must be a window PARTITIONED BY the diversity
    value (key-partitioned shuffle), never a global single-partition
    sort of the corpus."""
    from deces_dataprep_spark.index.query import (
        diversified_sampler_agg_df)

    out = diversified_sampler_agg_df(
        spark, docs, "spark merge sort table", "lang", "source",
        shard_size=40, max_docs_per_value=2)
    plan = _plan(out)
    m = re.search(r"Window \[row_number\(\).*partitionBy=\[(\w+)", plan)
    assert ("hashpartitioning(__dv" in plan
            or (m and "__dv" in m.group(1))), plan
    assert "TakeOrderedAndProject" in plan


def test_nested_query_plan_is_scan_filter_project(spark, docs):
    """nested query = row-local array kernels: no explode (Generate),
    no shuffle (Exchange), no Python."""
    from deces_dataprep_spark.operators.es_fields import nested_query_df

    did = F.col("doc_id")
    n = F.pmod(did, F.lit(4)).cast("int")
    seq = F.when(n > 0, F.sequence(F.lit(1), n)) \
           .otherwise(F.array().cast("array<int>"))
    comments = F.transform(seq, lambda j: F.struct(
        F.pmod(did * 7 + j, F.lit(6)).alias("stars"),
        F.pmod(did + j, F.lit(5)).alias("author_id")))
    d = docs.withColumn("comments", comments)
    out = nested_query_df(d, "comments", [("stars", "gte", 3)],
                          score_field="stars", score_mode="max")
    plan = _plan(out)
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert "Generate" not in body, plan
    assert "BatchEvalPython" not in body, plan
    # the only exchange allowed is the final global sort's range
    # partitioning (orderBy doc_id for oracle determinism)
    import re as _re

    ex = _re.findall(r"Exchange (\w+)", body)
    assert all(e == "rangepartitioning" for e in ex), plan


def test_marker_counts_fast_matches_marker_score(spark, docs):
    """The hash-based marker-count kernel (curate's Arrow-pass counts)
    must equal the interpreted marker_score over the stopword sub-array
    for every doc — including null/empty/whitespace texts (null tokens
    → null counts, matching size(filter(null)))."""
    from deces_dataprep_spark.functions.analyze import tokens_col
    from deces_dataprep_spark.functions.text import (
        marker_counts_fast_udf,
        marker_hashes,
        marker_score,
        stop_tokens_col,
    )

    edge = spark.createDataFrame(
        [(9000000001, "the la der the und est"), (9000000002, ""),
         (9000000003, None), (9000000004, "   "), (9000000005, "zzz qqq")],
        "doc_id long, text string")
    mk = marker_counts_fast_udf(marker_hashes(spark))
    for frame in (docs.limit(2000), edge):
        th = F.transform(tokens_col("text"), lambda x: F.xxhash64(x))
        old = frame.select(
            "doc_id",
            *[marker_score(stop_tokens_col(tokens_col("text")), lang)
              .alias(lang) for lang in ("en", "fr", "de")])
        new = frame.select("doc_id", mk(th).alias("m")).select(
            "doc_id", F.col("m.en").alias("en"), F.col("m.fr").alias("fr"),
            F.col("m.de").alias("de"))
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_curation_single_arrow_eval_node(spark, docs):
    """All three curation kernels (bigram, contamination probe, marker
    counts) must fuse into ONE ArrowEvalPython node over one projected
    token-hash column — a second Python node would mean a second
    boundary pass over the corpus."""
    from deces_dataprep_spark.operators.curate import curate

    bench = docs.limit(20).select("text")
    plan = _plan(curate(docs.limit(500), bench))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_compaction_joins_postings_once_against_latest_table(spark,
                                                             tmp_path):
    """Compaction's posting plan, executed: the exploded delta postings
    meet exactly one join, the one-row-per-doc latest table is its build
    side, and no exploded-postings side is ever broadcast (BuildLeft).
    The pages are web-sized (about 80 tokens), so the posting stream
    outweighs the doc table as on a real crawl; the latest table carries
    no broadcast hint, the planner picks the side."""
    from stream_fixtures import pages_df, recrawl_slices

    from deces_dataprep_spark.streaming.incremental import (
        _append_batch,
        _read_deltas,
        compaction_postings,
        latest_docs,
    )

    wh = str(tmp_path / "wh")
    for s, rows in enumerate(recrawl_slices()):
        _append_batch(spark, pages_df(spark, rows), s, wh, n_shards=2)
    norms_delta, deltas = _read_deltas(spark, wh)
    out = compaction_postings(deltas, latest_docs(norms_delta), 40.0, None, 8)
    out.collect()
    plan = _plan(out)
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    joins = re.findall(r"\b\w*Join \[.*", final)
    assert len(joins) == 1, final
    assert "BuildRight" in joins[0], final
    assert "BuildLeft" not in final, final
