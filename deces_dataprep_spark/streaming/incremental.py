"""Structured-Streaming ingestion: incremental index deltas + compaction.

The reference ingests in chunks through a thread pool into ES, which
absorbs incremental segments and merges them in the background
(Makefile:161-175 orchestration; ES internals). The Spark-native
equivalent:

* ``stream_pages`` — ``readStream`` over a directory of pages files
  (input_hint schema).
* ``incremental_index`` — ``writeStream.foreachBatch``: every
  micro-batch appends (a) its norms rows and (b) a posting-block
  *delta* under ``postings_delta/ingest_batch=<id>/``, built by the
  same ``postings_plan`` dataflow as the batch builder. Deltas are
  encoded with the *batch-local* avgdl, so their ``block_max_tfnorm``
  is not a trusted global bound — queries over an uncompacted index
  must use the exact TAAT path (``method='taat'``), never WAND.
* ``compact_deltas`` — the sort-merge of partial postings: explode the
  deltas' block arrays back to (shard, term, doc_id, tf) JVM-side, join
  the accumulated norms for dl, re-pack through the batch builder's
  block pack with the *final* global stats, and atomically commit the
  merged index as a new snapshot. After compaction WAND bounds are
  valid again.
* ``windowed_event_counts`` — watermarked tumbling-window aggregation
  over an event stream (late data handled by the watermark), the
  streaming counterpart of the ``events_hourly`` batch rollup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deces_dataprep_spark.index.builder import (
    docs_with_tokens,
    dictionary_from_postings,
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "doc_id long"
)


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages (parquet files dropped into a dir)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


#: avgdl used to encode DELTA posting blocks. A delta's
#: ``block_max_tfnorm`` is BATCH-LOCAL and untrusted by contract
#: (module docstring; QueryEngine refuses WAND on uncompacted deltas,
#: ``trusted_bounds=False``, and compaction re-encodes every block with
#: the final global stats) — nothing ever reads it, so the value is a
#: fixed placeholder. This breaks the former data dependency
#: norms-write → batch-stats → delta-encode, letting the two
#: micro-batch writes run CONCURRENTLY (guide §2.6: overlap independent
#: jobs) instead of back-to-back.
_DELTA_AVGDL = 1.0


def _append_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                  warehouse: str, n_shards: int) -> None:
    """foreachBatch body: append norms + a posting delta for one
    micro-batch. Idempotent per batch_id (overwrite of the batch's own
    delta partition) — safe under streaming retries. The TWO Spark jobs
    (norms append, delta append) run concurrently on a 2-thread pool:
    neither depends on the other since the delta encode uses the fixed
    ``_DELTA_AVGDL`` (its block bounds are untrusted until compaction
    by contract). An empty micro-batch writes zero partition dirs on
    both sides (dynamic partition overwrite with no rows touches
    nothing), so no emptiness pre-check job is needed.

    No shared persisted projection (round 6): the norms side only needs
    doc_len == the TOKEN COUNT, which ``token_count_col`` computes in
    one regex pass over the lowered text with no array materialization
    (identical longs to ``size(tokens_col(text))`` — null/empty and
    non-ASCII parity pinned by ``test_streaming``'s dl-parity test),
    so the norms job is a tiny array-free projection write and the
    delta job tokenizes its own repartitioned input. The former shared cache made the two jobs
    serialize on per-block cache locks and paid a micro-batch-sized
    cache fill per trigger for a projection each side reads once —
    measured (interleaved A/B, 40k docs / 4 micro-batches): ingest
    8.8/7.6/6.5 s (persist) vs 7.6/6.4/6.3 s (this shape).

    Crash-window note: a driver crash MID-batch can leave either
    side's partition committed without the other (the sequential code
    could only leave norms-without-postings). Recovery is unchanged
    and is the documented contract either way: the streaming checkpoint
    never recorded the batch, so restarting the stream re-runs it and
    the idempotent per-batch_id overwrites heal both partitions. Only
    abandoning the checkpoint AND serving/compacting the torn
    warehouse skips that healing — same operator error before and
    after this change."""
    from concurrent.futures import ThreadPoolExecutor

    from deces_dataprep_spark.functions.analyze import token_count_col
    from deces_dataprep_spark.index.builder import postings_plan_from_tokens

    par = spark.sparkContext.defaultParallelism

    def write_norms() -> None:
        norms = batch_df.select(
            F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
            .alias("shard"),
            "doc_id",
            token_count_col("text").cast("long").alias("doc_len"),
            F.lit(batch_id).alias("ingest_batch"),
        )
        (norms.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch")
              .parquet(os.path.join(warehouse, "norms_delta")))

    def write_delta() -> None:
        # A micro-batch arrives with the file source's partitioning
        # (often a single file → a handful of tasks); the raw text is
        # tiny relative to the tokenize work, so spread it across the
        # full parallelism BEFORE tokenizing. 1× the cluster
        # parallelism for the delta's posting stage (not the batch
        # builder's 3×): a micro-batch's fold/sort holds a sliver of
        # data, so extra slots only add task launches — still
        # scale-adaptive (tracks the cluster size, no constant).
        toks = docs_with_tokens(batch_df.repartition(par))
        delta = postings_plan_from_tokens(spark, toks, n_shards,
                                          _DELTA_AVGDL, partitions=par)
        # collapse the delta's block rows to a few files per
        # micro-batch (the wide encode would otherwise land one tiny
        # file per task, and compaction re-opens every delta file of
        # every batch)
        (delta.repartition(
            max(n_shards, spark.sparkContext.defaultParallelism),
            "shard")
              .withColumn("ingest_batch", F.lit(batch_id))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch")
              .parquet(os.path.join(warehouse, "postings_delta")))

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(write_norms), pool.submit(write_delta)]:
            f.result()


def incremental_index(spark: SparkSession, pages: DataFrame, warehouse: str,
                      n_shards: int = 4, checkpoint: str | None = None,
                      available_now: bool = True):
    """Start the incremental index writer; returns the StreamingQuery.

    ``available_now=True`` processes everything currently in the input
    directory then stops (the deterministic test/batch-catchup mode);
    otherwise the stream keeps running per trigger.
    """
    os.makedirs(warehouse, exist_ok=True)
    writer = (
        pages.writeStream
        .foreachBatch(lambda bdf, bid: _append_batch(spark, bdf, bid,
                                                     warehouse, n_shards))
        .option("checkpointLocation",
                checkpoint or os.path.join(warehouse, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _latest_norms(norms_all: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Re-ingest semantics are REPLACE: a doc_id re-ingested in a later
    micro-batch supersedes its earlier rows. Returns
    ``(latest(doc_id, ingest_batch), norms(shard, doc_id, doc_len))``
    with exactly one row per doc (the max-ingest_batch one)."""
    latest = norms_all.groupBy("doc_id").agg(
        F.max("ingest_batch").alias("ingest_batch")
    )
    norms = norms_all.join(latest, ["doc_id", "ingest_batch"]).select(
        "shard", "doc_id", "doc_len"
    )
    return latest, norms


def load_delta_index(spark: SparkSession, warehouse: str):
    """IndexTables over the accumulated deltas (pre-compaction).

    block_max_tfnorm bounds are batch-local → only exact paths (TAAT /
    exhaustive) may be used; QueryEngine.search(..., method='taat').
    Norms/stats are deduped to the latest ingest of each doc; posting
    blocks, however, are served as-is — a doc re-ingested in 2+ batches
    still has its OLD postings in older deltas, so pre-compaction
    serving is exact only for append-only streams. After a re-ingest,
    run :func:`compact_deltas` (which applies replace semantics) before
    trusting scores.
    """
    from deces_dataprep_spark.index.builder import IndexTables
    from deces_dataprep_spark.index.codec import require_array_layout

    delta_root = os.path.join(warehouse, "postings_delta")
    postings = spark.read.option("basePath", delta_root) \
        .parquet(delta_root).drop("ingest_batch")
    require_array_layout(
        postings.schema["doc_gaps"].dataType.simpleString(), delta_root)
    norms_all = spark.read.option("basePath", os.path.join(warehouse, "norms_delta")) \
        .parquet(os.path.join(warehouse, "norms_delta"))
    _, norms = _latest_norms(norms_all)
    stats = norms.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.avg("doc_len").alias("avgdl"))
    return IndexTables(postings=postings,
                       dictionary=dictionary_from_postings(postings),
                       norms=norms, stats=stats,
                       trusted_bounds=False)


def compact_deltas(spark: SparkSession, warehouse: str, n_shards: int = 4,
                   partitions: int | None = None, auto_salt: bool = True):
    """Sort-merge the accumulated posting deltas into a compacted index
    with globally-valid block-max bounds; returns IndexTables over the
    compacted warehouse (committed via the snapshot log).

    ``auto_salt`` keeps the batch builder's skew contract through the
    streaming path: without it, a stopword-grade term's compacted
    postings repartition into ONE (shard, term) task — the exact
    straggler the batch build defuses by default. Hot terms are
    estimated from the delta BLOCK METADATA (sum of per-block n_docs
    per term — no decode pass; re-ingest overcounts only bias toward
    salting), and the pack keys blocks by (shard, term, salt) with
    per-range block_id offsets exactly like the batch `SaltSpec` path,
    so WAND/TAAT read the compacted salted index unchanged.
    """
    from deces_dataprep_spark.index.builder import (
        AUTO_SALT_DF_FRAC,
        AUTO_SALT_MIN_DOCS,
        IndexTables,
        fold_postings,
        make_salt_spec,
        pack_blocks,
    )
    from deces_dataprep_spark.index.codec import (
        BLOCK_SIZE,
        explode_blocks,
        require_array_layout,
    )
    from deces_dataprep_spark.snapshots import SnapshotLog, write_postings

    norms_all = spark.read.option("basePath", os.path.join(warehouse, "norms_delta")) \
        .parquet(os.path.join(warehouse, "norms_delta"))
    # One agg detects the append-only case (no doc_id ever re-ingested):
    # then norms_all IS the latest set and the groupBy+join of
    # _latest_norms plus the per-posting replace semi-join are all
    # skipped — the common streaming shape pays zero replace overhead.
    # min/max doc_id are re-ingest-invariant; only avg(doc_len) needs
    # recomputing over the latest rows in the replace branch.
    stats_row = norms_all.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n"),
        F.avg("doc_len").alias("a"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id")).collect()[0]
    append_only = int(stats_row["n_rows"]) == int(stats_row["n"])
    if append_only:
        latest = None
        norms = norms_all.select("shard", "doc_id", "doc_len")
        avgdl = float(stats_row["a"] or 0.0)
    else:
        latest, norms = _latest_norms(norms_all)
        avgdl = float(norms.agg(F.avg("doc_len")).collect()[0][0] or 0.0)
    n_docs = int(stats_row["n"])

    deltas = spark.read.option("basePath", os.path.join(warehouse, "postings_delta")) \
        .parquet(os.path.join(warehouse, "postings_delta"))
    require_array_layout(deltas.schema["doc_gaps"].dataType.simpleString(),
                         os.path.join(warehouse, "postings_delta"))

    # One posting row per block element, JVM-side. Each block decodes
    # on its own (offsets from its stored first_doc), so parquet splits
    # and task boundaries cannot shift doc_ids.
    rows = explode_blocks(deltas, "ingest_batch", "shard", "term")
    # REPLACE semantics: keep only postings from each doc's latest
    # ingest_batch (a re-ingested doc's older postings are superseded,
    # matching the idempotent _id overwrite of the reference's ES sink).
    # Append-only streams (detected above) skip the semi-join outright.
    if latest is not None:
        rows = rows.join(
            latest.withColumn("ingest_batch",
                              F.col("ingest_batch").cast("long")),
            ["doc_id", "ingest_batch"], "left_semi"
        )
    rows = rows.drop("ingest_batch")
    # dl per posting (needed for the global tfnorm bounds)
    with_dl = rows.join(
        norms.select("doc_id", F.col("doc_len").alias("dl")), "doc_id"
    )
    # The compacted norms/stats tables depend only on the already-read
    # norms_delta rows, so their writes run on a small pool OVERLAPPING
    # the dictionary scan (guide §2.6) — but they are submitted only
    # AFTER the compacted postings land: starting them earlier would
    # overwrite warehouse/norms and warehouse/stats before the expensive
    # re-encode job has succeeded, and a mid-compaction failure would
    # then leave the four warehouse tables mutually inconsistent where
    # the sequential code left them untouched.
    from concurrent.futures import ThreadPoolExecutor

    def _write_norms() -> None:
        norms.write.mode("overwrite").parquet(
            os.path.join(warehouse, "norms"))

    def _write_stats() -> None:
        spark.createDataFrame(
            [(n_docs, avgdl)], "n_docs long, avgdl double"
        ).write.mode("overwrite").parquet(os.path.join(warehouse, "stats"))

    pool = ThreadPoolExecutor(max_workers=2)
    try:
        salt = None
        if auto_salt and n_docs >= AUTO_SALT_MIN_DOCS:
            # df estimate per term from block metadata — a cheap agg over
            # the (already tiny) blocks table, no posting decode
            thr = max(64, int(AUTO_SALT_DF_FRAC * n_docs))
            hot = sorted(
                r["term"] for r in deltas.groupBy("term")
                .agg(F.sum("n_docs").alias("df_est"))
                .filter(F.col("df_est") > thr).collect()
            )
            if hot:
                n_ranges = max(4, min(64, spark.sparkContext.defaultParallelism))
                salt = make_salt_spec(int(stats_row["min_id"] or 0),
                                      int(stats_row["max_id"] or 0),
                                      n_ranges, n_docs, hot_terms=hot)
        # 3× parallelism, matching the batch builder's scale-adaptive
        # posting-partition default (see postings_plan_from_tokens).
        # Same fold + pack as the batch builder. The per-(term, doc)
        # fold is needed only on the REPLACE branch as defense-in-depth:
        # in the append-only case every (term, doc) is provably unique
        # already (each doc was ingested exactly once — that is what the
        # append-only check established — and its batch's delta folded
        # tf per doc), so the aggregate would be a 1-row-per-group
        # identity pass over every posting; skip it and let the sort
        # feed the pack directly.
        n_part = partitions or 3 * spark.sparkContext.defaultParallelism
        folded = fold_postings(with_dl, salt, n_part,
                               None if append_only else F.sum("tf"))
        compacted = pack_blocks(folded, salt, BLOCK_SIZE, avgdl)
        post_root = os.path.join(warehouse, "postings")
        write_postings(spark, compacted, post_root, n_shards)

        # postings landed — now norms/stats (pool) overlap the dictionary
        tail = [pool.submit(_write_norms), pool.submit(_write_stats)]
        written = spark.read.option("basePath", post_root).parquet(post_root)
        dictionary_from_postings(written).write.mode("overwrite").parquet(
            os.path.join(warehouse, "dictionary"))
        for f in tail:
            f.result()
    finally:
        pool.shutdown(wait=True)
    SnapshotLog(warehouse).commit(
        {k: os.path.join(warehouse, k)
         for k in ("postings", "dictionary", "norms", "stats")},
        "stream-compact", "deltas", "compaction",
    )
    return IndexTables(
        postings=written,
        dictionary=spark.read.parquet(os.path.join(warehouse, "dictionary")),
        norms=spark.read.parquet(os.path.join(warehouse, "norms")),
        stats=spark.read.parquet(os.path.join(warehouse, "stats")),
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours",
                          ts_col: str = "ts") -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the
    streaming counterpart of the events_hourly batch rollup. Late rows
    beyond the watermark are dropped; windows finalize once the
    watermark passes their end."""
    # event-time watermarks require TIMESTAMP (not NTZ); session tz is UTC
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )
