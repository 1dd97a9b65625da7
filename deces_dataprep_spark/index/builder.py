"""SPIMI-style distributed inverted-index build (SURVEY §7.4, §2B #25).

The reference delegates index construction to Elasticsearch (bulk sink,
``datasets/deces_index.yml``); here it is explicit Spark dataflow.

Architecture — designed for 10^12-doc scale, tested on local[32]:

1. **Sharding by doc space.** The index is ``n_shards`` independent
   sub-indexes, ``shard = pmod(doc_id, n_shards)`` (exactly ES's own
   shard model). This is the *salt* of the posting shuffle: a head
   term's postings are split across shards, so no single task ever owns
   a stopword's global posting list. Queries run WAND per shard and
   merge the per-shard partial top-k (the sort-merge of partials;
   exact because scoring uses *global* df/N/avgdl).

2. **Doc numbers.** Postings are keyed by ``docnum``, the 0-based rank
   of a doc's id within its shard (``row_number() over (partition by
   shard order by doc_id) - 1``), assigned by the norms pass over the
   narrow ``(shard, doc_id, dl)`` projection and stored in the norms
   table. Offsets between dense ranks are small, where offsets between
   random 62-bit web ids are as wide as the ids: this halves the index.
   The postings plan attaches each doc's number with ONE doc-level join
   of the token projection, below the explode (a broadcast while the
   ``(doc_id, docnum)`` table fits ``autoBroadcastJoinThreshold``; above
   it Spark shuffles the doc-level token projection once, never the
   postings). Reads map ``(shard, docnum)`` back to doc_id through the
   norms (:mod:`~deces_dataprep_spark.index.codec`).

3. **One posting shuffle, fully columnar.** ``explode(tokens)`` →
   ``repartition(P, shard, term)`` → ``sortWithinPartitions(shard,
   term, docnum)``. ``dl`` (doc length) is attached before the explode
   so it rides along. Tungsten's sort-based shuffle spills to disk, so
   even a pathological (shard, term) run never has to fit in memory as
   one record — this replaces the earlier collect_list compaction,
   which materialized per-bucket arrays (GC-heavy) and needed a second
   shuffle plus a dictionary join.

4. **JVM block pack, no Python node.** The tf fold is a hash aggregate
   that reuses the posting exchange; a ``row_number`` window buckets
   each (shard, term) run into 128-doc blocks, and one block-bounded
   ``collect_list`` aggregate packs each block into ``doc_gaps``/``tfs``
   arrays (see :mod:`~deces_dataprep_spark.index.codec`). The same
   aggregate computes ``n_docs``, ``first_doc``, ``last_doc``,
   ``sum_tf`` and ``block_max_tfnorm = max(tf / (tf +
   k1(1-b+b·dl/avgdl)))`` — the tf-norm part of BM25. idf is a
   per-term constant, so factoring it out of the stored bound removes
   the global-df join from the build entirely; the query side
   multiplies the bound by idf(df) from the dictionary.

5. **Dictionary from block metadata.** Each block carries ``n_docs``
   and ``sum_tf``, so ``dictionary(term, df, cf)`` is a cheap
   aggregation over posting *blocks* (thousands of times smaller than
   postings) — no extra pass over the corpus. df is global because a
   doc lives in exactly one shard.

Output tables (written by :mod:`deces_dataprep_spark.snapshots`):
  postings(shard, term, block_id, n_docs, first_doc, last_doc,
           doc_gaps array<bigint>, tfs array<int>,
           block_max_tfnorm double, sum_tf long), sorted by
           (shard, term, block_id) within each file; first_doc,
           last_doc and first_doc + doc_gaps are docnums
  dictionary(term, df, cf)
  norms(shard, doc_id, doc_len, docnum)
  stats(n_docs, avgdl)

``codec.decode_blocks_concat`` and ``codec.explode_blocks`` return
these block keys; every read maps them through the norms.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deces_dataprep_spark.functions.analyze import tokens_col
from deces_dataprep_spark.index import bm25
from deces_dataprep_spark.index.codec import BLOCK_SIZE

# One row per block (codec module docstring): ``doc_gaps`` holds each
# doc's offset from ``first_doc`` and ``tfs`` the aligned term
# frequencies, all keyed by docnum. block_id is long: salted builds
# offset it by salt * blocks_per_salt, which exceeds int32 once a
# shard's doc count is web-scale.
POSTINGS_SCHEMA = (
    "shard int, term string, block_id long, n_docs int, first_doc long, "
    "last_doc long, doc_gaps array<bigint>, tfs array<int>, "
    "block_max_tfnorm double, sum_tf long"
)
# The other index tables (module docstring).
DICTIONARY_SCHEMA = "term string, df long, cf long"
NORMS_SCHEMA = "shard int, doc_id long, doc_len long, docnum int"
STATS_SCHEMA = "n_docs long, avgdl double"

#: target Parquet row-group size of every postings file. Files are
#: written sorted by (shard, term, block_id), so a row group covers a
#: narrow term range and a one-term lookup reads about one row group
#: per file (the serving reader prunes on the footer's term min/max).
POSTINGS_ROW_GROUP_BYTES = 256 << 10


def local_rows(spark: SparkSession, rows: list[tuple],
               schema: str) -> DataFrame:
    """A few driver-side rows as a one-partition JVM plan: ``inline`` of
    literal structs over a one-row range. ``createDataFrame(<list>)``
    ships the rows through Python-worker tasks instead (measured 504 vs
    131 ms for the one-row stats write on a 4-core host). ``schema`` is
    a flat ``"name type, ..."`` string such as :data:`STATS_SCHEMA`."""
    fields = [f.split() for f in schema.split(",")]
    structs = [F.struct(*[F.lit(v).cast(t).alias(n)
                          for v, (n, t) in zip(row, fields)])
               for row in rows]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


@dataclass
class IndexTables:
    postings: DataFrame
    dictionary: DataFrame
    norms: DataFrame
    stats: DataFrame  # single row: n_docs, avgdl
    positions: DataFrame | None = None  # optional phrase-query table
    #: snapshot-manifest file lists per table (set by snapshots.load_index)
    #: — lets a serving tier read the same pinned snapshot without Spark
    #: (index.arrow_serve.ArrowIndexReader)
    files: dict[str, list[str]] | None = None
    #: False for a pre-compaction delta index (streaming.incremental.
    #: load_delta_index): its block_max_tfnorm bounds were encoded with
    #: batch-local stats, so WAND's skipping is unsound — QueryEngine
    #: refuses method='wand' and routes 'auto' to exact paths until
    #: compact_deltas() rebuilds globally-valid bounds.
    trusted_bounds: bool = True
    #: the persisted tokenized projection when build_index(cache_tokens=
    #: True) — the returned plans read it, so build_index cannot
    #: unpersist it itself; call unpersist_tokens() once the postings/
    #: norms have been materialized (write_index does) or the corpus-
    #: sized cache block outlives the build in a long-lived session.
    tokens: DataFrame | None = None

    def unpersist_tokens(self) -> None:
        if self.tokens is not None:
            self.tokens.unpersist()
            self.tokens = None


def docs_with_tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     tokenizer=None) -> DataFrame:
    """(doc_id, tokens, dl) — native tokenizer, JVM-side.

    ``tokenizer`` overrides the analyzer (Column -> array<string>), e.g.
    ``es_fields.edge_ngram_field`` to build the autocomplete index over
    the same machinery (deces_index.yml:28-33 analyzer family)."""
    tok = (tokenizer or tokens_col)(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tok.alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))


def term_frequencies(docs: DataFrame, n_shards: int, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(shard, term, doc_id, tf, dl) — one shuffle, partial-agg, codegen.

    Not on the index-build hot path (the build folds tf inside its
    posting exchange); kept as the oracle-checkable tf operator."""
    toks = docs_with_tokens(docs, text_col, id_col)
    # explode_outer + post-filter, NOT explode: plain explode generates an
    # implicit size(tokens)>0 pre-filter that Catalyst pushes below the
    # tokens projection, re-evaluating the whole tokenizer expression a
    # second time per row in the scan stage (visible in PLANS.md).
    exploded = toks.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "doc_id",
        "dl",
        F.explode_outer("tokens").alias("term"),
    ).filter(F.col("term").isNotNull())
    return exploded.groupBy("shard", "term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def dictionary_from_postings(postings: DataFrame) -> DataFrame:
    """(term, df, cf) from block metadata — cheap (blocks ≪ postings)."""
    return postings.groupBy("term").agg(
        F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf")
    )


@dataclass
class SaltSpec:
    """df-skew salting parameters, derived from the corpus:

    hot terms (df > threshold) are split into ``n_ranges`` contiguous
    block-key ranges of ``width = ceil(span / n_ranges)`` over the key
    span [min_id, max_id] — key-space-agnostic: a build's docnums span
    [0, largest shard's doc count), a delta's doc_ids their observed
    range. Each range's blocks are offset by ``salt * blocks_per_salt``
    with ``blocks_per_salt = ceil(n_docs / block_size)`` (no range can
    hold more docs than the corpus), so block_id order == key order
    across the whole term."""

    min_id: int
    width: int          # key width of one salt range (≥ 1)
    blocks_per_salt: int
    hot: frozenset | None  # None = salt every term (narrow use)

    def column(self):
        """The salt of each posting row: its block-key (``docnum``)
        range for hot terms, 0 otherwise. Exact integer division
        (``div``), not float ``/`` + cast: double rounding near a range
        boundary would split one (shard, term, salt) group across two
        ranges."""
        salt = F.expr(f"(docnum - {self.min_id}L) div {self.width}L")
        if self.hot is None:
            return salt
        return F.when(F.col("term").isin(sorted(self.hot)), salt) \
            .otherwise(F.lit(0))


def make_salt_spec(min_id: int, max_id: int, n_ranges: int, n_docs: int,
                   block_size: int = BLOCK_SIZE,
                   hot_terms: list[str] | None = None) -> SaltSpec:
    width = max(1, (max_id - min_id) // n_ranges + 1)
    return SaltSpec(
        min_id=min_id, width=width,
        blocks_per_salt=-(-n_docs // block_size),
        hot=frozenset(hot_terms) if hot_terms is not None else None,
    )


def postings_plan_from_tokens(
    spark: SparkSession,
    toks: DataFrame,
    n_shards: int,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    partitions: int | None = None,
    salt: SaltSpec | None = None,
    docnums: DataFrame | None = None,
) -> DataFrame:
    """The posting-build dataflow over a pre-tokenized projection
    (``(doc_id, tokens, dl)``) — explode → one exchange on (shard,
    term[, salt]) → tf fold → sort → JVM block pack
    (:func:`pack_blocks`). Taking tokens (not raw docs) lets callers
    persist ONE tokenized projection and derive norms, stats, and
    postings from it (single tokenize pass over the corpus).

    ``docnums`` — the ``(doc_id, docnum)`` columns of the index's norms
    (:func:`number_docs`): blocks are keyed by docnum, attached by one
    doc-level join BELOW the explode (module docstring). Without it
    (streaming deltas) a doc's docnum is its doc_id.

    ``salt`` (the df-skew defuser, :class:`SaltSpec`): hot terms are
    additionally partitioned by their block-key salt range, so a
    stopword's postings inside one shard split across up to n_ranges
    partitions instead of serializing into one task; WAND/TAAT read
    salted and unsalted indexes identically (tested rank-identical).
    Always restrict to a hot set (``SaltSpec.hot``): salting every term
    fragments (shard, term) groups into tiny runs; its ranges are over
    the block key ``docnum``. Requires non-negative keys.

    Beware same-plan re-execution when benchmarking: Spark reuses
    completed shuffle map stages of an identical plan, so only
    fresh-plan (cold) timings compare honestly."""
    # explode_outer + post-filter, NOT explode: plain explode generates an
    # implicit size(tokens)>0 pre-filter that Catalyst pushes below the
    # tokens projection, re-evaluating the whole tokenizer expression a
    # second time per row in the scan stage (visible in PLANS.md).
    if docnums is not None:
        toks = toks.join(docnums.select("doc_id", "docnum"), "doc_id")
    else:
        toks = toks.withColumn("docnum", F.col("doc_id"))
    exploded = toks.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "docnum",
        "dl",
        F.explode_outer("tokens").alias("term"),
    ).filter(F.col("term").isNotNull())
    # default posting partitions = 3× the cluster parallelism (scale-
    # adaptive, not a constant): the reduce stage carries the fold +
    # sort + pack, and 2-4 tasks per core smooths its task-size tail the
    # way classic shuffle sizing prescribes — measured 11.0 s (1× slots)
    # → 8.8 s (3×) for the 400k-doc posting job, flat from 2×-4×.
    n_part = partitions or 3 * spark.sparkContext.defaultParallelism
    folded = fold_postings(exploded, salt, n_part, F.count(F.lit(1)))
    return pack_blocks(folded, salt, block_size, avgdl)


def fold_postings(rows: DataFrame, salt: SaltSpec | None, n_part: int,
                  tf=None) -> DataFrame:
    """Cluster posting rows ``(shard, term, docnum, dl[, tf])`` by
    (shard, term[, __salt]) in ONE exchange and sort each run by the
    block key ``docnum`` (a streaming delta's is its doc_id) — the
    input :func:`pack_blocks` expects.

    ``tf`` is the fold's aggregate (occurrence count in the build, sum
    of delta tfs in compaction), or None when the rows are already one
    per (shard, term, doc). The fold groups by the partition keys plus
    docnum: hash partitioning on a subset of the grouping keys
    satisfies the aggregation's clustering, so it reuses the exchange.
    ``__salt`` is materialized as a column so the repartition, the fold
    and :func:`pack_blocks`' window all reference the same attribute."""
    grp = ["shard", "term"]
    if salt is not None:
        rows = rows.withColumn("__salt", salt.column())
        grp.append("__salt")
    rows = rows.repartition(n_part, *grp)
    if tf is not None:
        rows = rows.groupBy(*grp, "docnum").agg(
            tf.alias("tf"), F.first("dl").alias("dl"))
    return rows.select(*grp, "docnum", "tf", "dl") \
        .sortWithinPartitions(*grp, "docnum")


def pack_blocks(folded: DataFrame, salt: SaltSpec | None,
                block_size: int, avgdl: float) -> DataFrame:
    """Pack a folded posting stream (:func:`fold_postings`) into
    :data:`POSTINGS_SCHEMA` block rows keyed by ``docnum``, entirely in
    the JVM.

    A ``row_number`` window (its ordering already satisfied by the
    fold's sort), projected once, buckets each run into
    ``block_size``-doc blocks; one aggregate per block collects the
    block-bounded ``(docnum, tf)`` list and computes the block metadata,
    with the tf-norm expression in the same operation order as the
    numpy scorer. The group keys extend the partition keys, so the
    aggregate reuses the clustering: no second exchange. The offsets
    from ``first_doc`` are one lambda over the extracted keys array; a
    lambda that indexed into ``ps`` itself would re-extract the array
    per element (quadratic)."""
    grp = ["shard", "term"] + (["__salt"] if salt is not None else [])
    rn = F.row_number().over(Window.partitionBy(*grp).orderBy("docnum"))
    k1, b = bm25.K1, bm25.B
    t = F.col("tf").cast("double")
    tfnorm = t / (t + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("dl").cast("double")
                                   / F.lit(avgdl)))
    blocks = folded.select(
        *grp, "docnum", "tf", "dl", rn.alias("__rn"),
    ).groupBy(
        *grp, F.expr(f"(__rn - 1) div {int(block_size)}").alias("__blk"),
    ).agg(
        F.sort_array(F.collect_list(
            F.struct("docnum", F.col("tf").cast("int").alias("tf"))))
        .alias("ps"),
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.min("docnum").cast("long").alias("first_doc"),
        F.max("docnum").cast("long").alias("last_doc"),
        F.max(tfnorm).alias("block_max_tfnorm"),
        F.sum("tf").cast("long").alias("sum_tf"),
    )
    salt_off = (F.col("__salt") * F.lit(salt.blocks_per_salt)
                if salt is not None else F.lit(0))
    return blocks.select(
        "shard", "term",
        (salt_off + F.col("__blk")).cast("long").alias("block_id"),
        "n_docs", "first_doc", "last_doc",
        F.transform(F.col("ps.docnum"), lambda x: x - F.col("first_doc"))
        .alias("doc_gaps"),
        F.col("ps.tf").alias("tfs"),
        "block_max_tfnorm", "sum_tf",
    )


def hot_terms_by_df(toks: DataFrame, df_threshold: int,
                    sample_frac: float = 0.01,
                    seed: int = 42) -> list[str]:
    """Terms whose document frequency exceeds ``df_threshold``,
    estimated from a fixed-seed sample (deterministic given the same
    input/partitioning): the salting candidates. Sampling keeps the
    extra pass ~sample_frac of a full df aggregation — hot terms are by
    definition visible in any sample."""
    frac = min(1.0, sample_frac)
    s = toks.sample(fraction=frac, seed=seed) if frac < 1.0 else toks
    cutoff = max(1, int(df_threshold * frac))
    rows = (
        s.select(F.explode_outer(F.array_distinct("tokens")).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cutoff)
        .collect()
    )
    return sorted(r["term"] for r in rows)


#: auto-salting trips when a sampled term's df exceeds this fraction of
#: the corpus — a true stopword sits at ~50% df on web text, so 10% is
#: a comfortable straggler threshold (one (shard, term) group holding
#: >=10% of all docs dominates its task's runtime).
AUTO_SALT_DF_FRAC = 0.1
#: don't bother auto-salting tiny corpora: below this the whole build is
#: a handful of tasks and salting only fragments block runs.
AUTO_SALT_MIN_DOCS = 100_000


def auto_salt_spec(
    spark: SparkSession,
    toks: DataFrame,
    n_docs: int,
    min_id: int,
    max_id: int,
    block_size: int = BLOCK_SIZE,
    sample_frac: float = 0.01,
    df_frac: float = AUTO_SALT_DF_FRAC,
    min_docs: int | None = None,  # None → AUTO_SALT_MIN_DOCS at call time
) -> SaltSpec | None:
    """Derive the df-skew :class:`SaltSpec` automatically — the
    scale-safe DEFAULT (round-2 finding: opt-in salting protects
    nothing; a real web corpus always carries stopword-grade skew).

    A term is hot when its sampled df exceeds ``df_frac * n_docs``; hot
    terms are split across ``defaultParallelism`` (clamped [4, 64])
    doc-id ranges so a stopword's postings fan across the executor
    slots instead of serializing into one task. Returns None when the
    corpus is small or no term crosses the threshold — the unsalted
    plan is already right there. Costs one ~``sample_frac`` sampled df
    aggregation (hot terms are by definition visible in any sample)."""
    if n_docs < (AUTO_SALT_MIN_DOCS if min_docs is None else min_docs):
        return None
    hot = hot_terms_by_df(toks, max(64, int(df_frac * n_docs)), sample_frac)
    if not hot:
        return None
    n_ranges = max(4, min(64, spark.sparkContext.defaultParallelism))
    return make_salt_spec(min_id, max_id, n_ranges, n_docs, block_size, hot)


def postings_plan(
    spark: SparkSession,
    docs: DataFrame,
    n_shards: int,
    avgdl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_size: int = BLOCK_SIZE,
    partitions: int | None = None,
    tokenizer=None,
    salt: SaltSpec | None = None,
) -> DataFrame:
    """postings_plan_from_tokens over a fresh tokenize of ``docs`` —
    for callers without a reusable tokenized projection."""
    toks = docs_with_tokens(docs, text_col, id_col, tokenizer)
    return postings_plan_from_tokens(spark, toks, n_shards, avgdl,
                                     block_size, partitions, salt)


#: the most docs one shard may hold: ``docnum`` is an ``int``
#: (``row_number`` counts in int), so a larger shard would wrap its
#: numbers and give two docs one block key
MAX_SHARD_DOCS = 2**31 - 1


def check_shard_docs(largest: int, n_shards: int) -> None:
    """Refuse an index whose largest shard holds more docs than an int
    ``docnum`` can number — before any posting is written, so a wrapped
    number never reaches a block key. Spread the docs over more
    shards."""
    if largest > MAX_SHARD_DOCS:
        raise ValueError(
            f"a shard holds {largest} docs, more than the {MAX_SHARD_DOCS} "
            f"its int doc numbers can count; raise n_shards (now "
            f"{n_shards}) so that no shard holds more")


def number_docs(docs: DataFrame) -> DataFrame:
    """``docs`` (one row per doc, with ``shard`` and ``doc_id``) plus
    ``docnum int``: the doc's 0-based rank by doc_id within its shard.
    A function of each shard's doc set only, so a rebuild or a resumed
    build numbers the same docs the same way."""
    w = Window.partitionBy("shard").orderBy("doc_id")
    return docs.withColumn("docnum", F.row_number().over(w) - 1)


def norms_from_tokens(toks: DataFrame, n_shards: int) -> DataFrame:
    """The norms table, :data:`NORMS_SCHEMA`: the narrow ``(shard,
    doc_id, doc_len)`` projection of the tokens, numbered."""
    return number_docs(toks.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "doc_id",
        F.col("dl").alias("doc_len"),
    ))


def corpus_stats(toks: DataFrame, n_shards: int) -> tuple[int, float, int]:
    """``(n_docs, avgdl, largest shard's doc count)`` of a token
    projection in one aggregate. The last is the docnum span salting
    splits (:func:`make_salt_spec`), checked by
    :func:`check_shard_docs`."""
    shard = F.pmod(F.col("doc_id"), F.lit(n_shards))
    row = toks.agg(
        F.count(F.lit(1)), F.avg("dl"),
        *[F.count_if(shard == s) for s in range(n_shards)],
    ).collect()[0]
    largest = max(row[2:])
    check_shard_docs(largest, n_shards)
    return int(row[0]), float(row[1] or 0.0), largest


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    n_shards: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_size: int = BLOCK_SIZE,
    partitions: int | None = None,
    tokenizer=None,
    cache_tokens: bool = True,
    salt_ranges: int | None = None,
    salt_df_threshold: int | None = None,
    salt_sample_frac: float = 0.01,
    auto_salt: bool = True,
) -> IndexTables:
    """Build the full index (postings/dictionary/norms/stats) lazily.

    Skew defense is ON by default: with no explicit ``salt_ranges``,
    :func:`auto_salt_spec` samples the df distribution and salts any
    stopword-grade hot terms (df > 10% of docs) across the executor
    slots — at AUTO_SALT_MIN_DOCS+ corpus sizes the unsalted build
    re-creates the straggler the salting machinery was built to kill.
    Pass ``auto_salt=False`` (or explicit ``salt_ranges``) to override.

    The returned postings/dictionary/norms are unevaluated plans;
    callers trigger execution by writing them. With ``cache_tokens``
    (default) the tokenized projection is persisted MEMORY_AND_DISK on
    first evaluation (the eager stats pass), so the corpus is tokenized
    exactly ONCE — the postings pass re-reads the cached projection
    instead of re-running the analyzer (round-1 tokenized twice).
    Disable for corpora where caching tokens costs more than
    re-tokenizing (rare: the analyzer is regex-heavy CPU work, while
    the cache is sequential serialized I/O).
    """
    from pyspark import StorageLevel

    toks = docs_with_tokens(docs, text_col, id_col, tokenizer)
    if cache_tokens:
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    norms = norms_from_tokens(toks, n_shards)
    # global stats — tiny; computed eagerly (the block bounds need avgdl);
    # this is also what materializes the token cache.
    try:
        n_docs_g, avgdl_g, span = corpus_stats(toks, n_shards)
    except BaseException:
        toks.unpersist()
        raise

    salt = None
    if salt_ranges:
        hot = (hot_terms_by_df(toks, salt_df_threshold, salt_sample_frac)
               if salt_df_threshold is not None else None)
        salt = make_salt_spec(0, max(span - 1, 0), salt_ranges, n_docs_g,
                              block_size, hot)
    elif auto_salt:
        salt = auto_salt_spec(spark, toks, n_docs_g, 0, max(span - 1, 0),
                              block_size, salt_sample_frac)
    # the numbering is a doc-level plan here (nothing is written); a
    # broadcast while it fits, as the written norms read back in
    # snapshots.write_index are
    postings = postings_plan_from_tokens(
        spark, toks, n_shards, avgdl_g, block_size, partitions, salt,
        docnums=norms)
    dictionary = dictionary_from_postings(postings)
    stats_df = local_rows(spark, [(n_docs_g, avgdl_g)], STATS_SCHEMA)
    return IndexTables(postings=postings, dictionary=dictionary, norms=norms,
                       stats=stats_df,
                       tokens=toks if cache_tokens else None)
