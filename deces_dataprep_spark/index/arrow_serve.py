"""Serving-tier index readers: where the driver's index data comes from.

:class:`~deces_dataprep_spark.index.query.QueryEngine` reads stats,
dictionary, postings, norms and positions through one interface
(``stats``, ``dictionary``, ``term_dfs``, ``postings``, ``all_norms``,
``term_positions``), and :func:`open_reader` picks the class:

* :class:`ArrowIndexReader` — pyarrow over a committed snapshot's
  parquet files, no Spark job per query. Spark is the build/refresh
  tier; at serve time a query needs a handful of posting blocks, and
  launching a Spark job (scheduler + task launch + whole-stage codegen)
  per lookup costs seconds where the actual IO is milliseconds. A
  serving node instead reads the committed snapshot's parquet files
  directly — exactly how an ES data node reads its local segments —
  with the same pruning the Spark path gets:

  * ``term IN (...)`` is evaluated against parquet row-group statistics
    (the build writes postings sorted by (shard, term, block_id) within
    each file, in row groups of ``builder.POSTINGS_ROW_GROUP_BYTES``,
    so a term touches ~1 row group per file);
  * the hive ``shard=`` path component is parsed into a column for free;
  * each postings file's matching row groups are read in ONE call, only
    the block columns, and the files are read in parallel on one
    process-wide thread pool sized to the usable cores (pyarrow releases
    the GIL while it reads and filters). A shard split into several
    files by ``snapshots.optimize_postings`` is read by several threads
    at once.

  The reader is handed the snapshot manifest's FILE LIST (not the live
  directory), so serving stays pinned to a snapshot while later commits
  append — the same time-travel guarantee the Spark reader has.
* :class:`SparkIndexReader` — the same methods over an
  :class:`~deces_dataprep_spark.index.builder.IndexTables`' DataFrames
  (an in-memory ``build_index`` result, or ``io='spark'``): each
  uncached call is one Spark job.

Blocks come back keyed by doc number (``codec`` module docstring);
``all_norms`` returns each shard's docnums next to its doc_ids, which is
what the engine maps them through.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from deces_dataprep_spark.session import usable_cores

#: the posting-block columns :func:`block_columns` reads (``shard``
#: comes from the path); a fetch reads no other column
BLOCK_COLUMNS = ["term", "block_id", "n_docs", "first_doc", "last_doc",
                 "doc_gaps", "tfs", "block_max_tfnorm"]

#: the norms columns :func:`split_norms` reads
NORMS_COLUMNS = ["shard", "doc_id", "doc_len", "docnum"]

#: the values of ``QueryEngine(io=...)`` (:func:`open_reader`)
IO_MODES = ("auto", "arrow", "spark")

_NO_POSITIONS = ("index has no positions table "
                 "(write_index(with_positions=True))")

_pool: ThreadPoolExecutor | None = None
_pool_lock = threading.Lock()


def _fetch_pool() -> ThreadPoolExecutor:
    """The postings-fetch pool: one per process, created on first use,
    sized to the usable cores. Shared by every reader, because engines
    are cheap and many (a pool per reader would keep threads per
    engine)."""
    global _pool
    with _pool_lock:
        if _pool is None:
            _pool = ThreadPoolExecutor(max_workers=usable_cores(),
                                       thread_name_prefix="arrow-fetch")
        return _pool


def block_columns(t) -> dict:
    """Posting-block rows (a pyarrow Table with a ``shard`` column) as
    the column dict the serving kernels read, sorted (shard, term,
    block_id). ``doc_gaps``/``tfs`` stay Arrow list arrays — sliceable
    per term and decoded zero-copy by ``codec.decode_blocks_concat``."""
    t = t.sort_by([("shard", "ascending"), ("term", "ascending"),
                   ("block_id", "ascending")])

    def num(name):
        return t[name].to_numpy()

    return {
        "shard": num("shard"),
        "term": t["term"].to_pylist(),
        "block_id": num("block_id"),
        "n_docs": num("n_docs"),
        "first_doc": num("first_doc"),
        "last_doc": num("last_doc"),
        "doc_gaps": t["doc_gaps"].combine_chunks(),
        "tfs": t["tfs"].combine_chunks(),
        "block_max_tfnorm": num("block_max_tfnorm"),
    }


def split_norms(t) -> dict[int, tuple[np.ndarray, np.ndarray,
                                       np.ndarray]]:
    """A norms table (pyarrow, :data:`NORMS_COLUMNS`) split per shard:
    ``{shard: (sorted doc_id uint64, aligned doc_len float64, aligned
    docnum int64)}`` — the arrays the WAND/TAAT kernels binary-search.
    One lexsort does the split; docnum order is doc_id order, so the
    docnums come out sorted too."""
    def col(name, dtype):
        return t[name].to_numpy(zero_copy_only=False).astype(dtype)

    sh, ids = col("shard", "int64"), col("doc_id", "uint64")
    dls, nums = col("doc_len", "float64"), col("docnum", "int64")
    order = np.lexsort((ids, sh))
    sh, ids, dls, nums = sh[order], ids[order], dls[order], nums[order]
    uniq, starts = np.unique(sh, return_index=True)
    bounds = list(starts) + [sh.size]
    return {int(s): (ids[a:b], dls[a:b], nums[a:b])
            for s, a, b in zip(uniq, bounds, bounds[1:])}


def _positions_by_doc(t) -> dict[int, dict[str, np.ndarray]]:
    """(term, doc_id, positions) rows as {doc_id: {term: positions}}."""
    out: dict[int, dict[str, np.ndarray]] = {}
    for term, doc, pos in zip(t["term"].to_pylist(), t["doc_id"].to_pylist(),
                              t["positions"].to_pylist()):
        out.setdefault(int(doc), {})[term] = np.asarray(pos, np.int64)
    return out


def open_reader(tables, io: str = "auto", cache_postings: bool = False):
    """The reader ``QueryEngine(tables, io=...)`` serves through.
    ``io='arrow'`` (or ``'auto'`` when ``tables.files`` lists every table
    it reads, i.e. an index from ``snapshots.load_index``) gives an
    :class:`ArrowIndexReader`; ``'spark'`` (or ``'auto'`` without file
    lists) a :class:`SparkIndexReader`, which ``cache_postings`` pins in
    Spark's cache."""
    if io not in IO_MODES:
        raise ValueError(f"io must be one of {IO_MODES}, got {io!r}")
    files = tables.files or {}
    if io != "spark" and {"postings", "dictionary", "norms",
                          "stats"} <= files.keys():
        return ArrowIndexReader(files)
    if io == "arrow":
        raise ValueError("io='arrow' needs manifest file lists "
                         "(IndexTables.files from snapshots.load_index)")
    return SparkIndexReader(tables, cache_postings)


class ArrowIndexReader:
    """Driver/serving-node reader over a committed snapshot's files."""

    def __init__(self, files: dict[str, list[str]]):
        import pyarrow.dataset as ds

        from deces_dataprep_spark.index.codec import (
            require_array_layout,
            require_docnum_norms,
        )

        self._ds = ds
        self._post = ds.dataset(files["postings"], format="parquet",
                                partitioning="hive")
        if "doc_gaps" in self._post.schema.names:
            require_array_layout(
                str(self._post.schema.field("doc_gaps").type),
                "postings " + (files["postings"][0] if files["postings"]
                               else "(no files)"))
        self._dict = ds.dataset(files["dictionary"], format="parquet")
        self._norms = ds.dataset(files["norms"], format="parquet")
        require_docnum_norms(
            self._norms.schema.names,
            "norms " + (files["norms"][0] if files["norms"] else "(no files)"))
        self._stats = ds.dataset(files["stats"], format="parquet")
        self._pos = (ds.dataset(files["positions"], format="parquet")
                     if files.get("positions") else None)

    def term_positions(self, terms: list[str]
                       ) -> dict[int, dict[str, np.ndarray]]:
        """{doc_id: {term: sorted position array}} for the given terms,
        from the positional table (phrase serving). Raises if the index
        was built without positions."""
        if self._pos is None:
            raise ValueError(_NO_POSITIONS)
        return _positions_by_doc(self._pos.to_table(
            columns=["term", "doc_id", "positions"],
            filter=self._ds.field("term").isin(terms)))

    def stats(self) -> tuple[int, float]:
        t = self._stats.to_table()
        return int(t["n_docs"][0].as_py()), float(t["avgdl"][0].as_py())

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per term — served from the fully-loaded dictionary (the ES
        analogue keeps the per-shard terms dict in memory; ours is
        term+df+cf, a few bytes per distinct term)."""
        d = self.dictionary()
        return {t: d[t] for t in terms if t in d}

    def dictionary(self) -> dict[str, int]:
        """term → df of the whole dictionary, loaded on first use."""
        if not hasattr(self, "_dict_cache"):
            t = self._dict.to_table(columns=["term", "df"])
            self._dict_cache = dict(
                zip(t["term"].to_pylist(), t["df"].to_pylist()))
        return self._dict_cache

    def _rg_index(self):
        """(ParquetFile, lock, shard, [(row-group idx, term_min,
        term_max)]) for every postings file — the serving tier's
        posting-pointer structure (SURVEY §1.4 ``posting_ptr``): footers
        are parsed ONCE here; a query reads only the row groups whose
        [min, max] term range can contain one of its terms. The build
        sorts postings by term within each file, so ranges are tight.
        The lock keeps one ParquetFile to one thread at a time when
        queries share a reader."""
        if not hasattr(self, "_rg_cache"):
            import re

            import pyarrow.parquet as pq

            entries = []
            for frag in self._post.get_fragments():
                m = re.search(r"shard=(\d+)", frag.path)
                shard = int(m.group(1)) if m else -1
                pf = pq.ParquetFile(frag.path)
                md = pf.metadata
                term_i = md.schema.names.index("term")
                groups = []
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(term_i).statistics
                    if st is None or not st.has_min_max:
                        groups.append((i, None, None))
                    else:
                        groups.append((i, st.min, st.max))
                entries.append((pf, threading.Lock(), shard, groups))
            self._rg_cache = entries
        return self._rg_cache

    def postings(self, terms: list[str]) -> dict:
        """Block rows for the terms as :func:`block_columns`. Reads only
        the row groups whose term range matches (see _rg_index): one
        ``read_row_groups`` call per file, the files in parallel."""
        import pyarrow as pa
        import pyarrow.compute as pc

        wanted = pa.array(terms, pa.string())
        reads = []
        for pf, lock, shard, groups in self._rg_index():
            ids = [i for i, tmin, tmax in groups
                   if tmin is None or any(tmin <= t <= tmax for t in terms)]
            if ids:
                reads.append((pf, lock, shard, ids))

        def read(job):
            pf, lock, shard, ids = job
            with lock:
                t = pf.read_row_groups(ids, columns=BLOCK_COLUMNS,
                                       use_threads=False)
            t = t.filter(pc.is_in(t["term"], wanted))
            return t.append_column(
                "shard", pa.array(np.full(t.num_rows, shard, np.int32)))

        tabs = (list(_fetch_pool().map(read, reads)) if len(reads) > 1
                else [read(job) for job in reads])
        if not tabs:
            schema = pa.schema([self._post.schema.field(c)
                                for c in BLOCK_COLUMNS])
            tabs = [schema.append(pa.field("shard", pa.int32()))
                    .empty_table()]
        return block_columns(pa.concat_tables(tabs))

    def all_norms(self) -> dict[int, tuple[np.ndarray, np.ndarray,
                                             np.ndarray]]:
        """Norms for EVERY shard from one scan of the norms table, split
        by :func:`split_norms`. A per-shard filter scan re-reads the
        whole table once per shard (norms aren't partitioned by shard on
        disk) — measured 8× the IO of this single pass at n_shards=8."""
        return split_norms(self._norms.to_table(columns=NORMS_COLUMNS))


class SparkIndexReader:
    """The reader over an :class:`~deces_dataprep_spark.index.builder.
    IndexTables`' DataFrames: the same methods and outputs as
    :class:`ArrowIndexReader`, each uncached call one Spark job."""

    #: upper bound on the in-memory dictionary (≈60 MB of dict at
    #: web-text term lengths). A dictionary is VOCABULARY-sized, not
    #: corpus-sized — the same in-memory terms dict an ES data node keeps
    #: per shard and the arrow reader loads — but Heaps' law at extreme
    #: corpus sizes can push it past what a driver should pin, so past
    #: this bound :meth:`dictionary` is None and callers use the
    #: per-query pushdown collect.
    DICT_MEMO_MAX_TERMS = 2_000_000

    def __init__(self, tables, cache_postings: bool = False):
        if cache_postings:
            # pin the postings/dictionary tables in Spark's in-memory
            # columnar cache — term fetches become memory scans (the ES
            # analogue: segments in page cache)
            tables.postings = tables.postings.cache()
            tables.dictionary = tables.dictionary.cache()
        self.tables = tables
        # None = not loaded; False = probed and over DICT_MEMO_MAX_TERMS
        self._dict: dict[str, int] | bool | None = None

    def stats(self) -> tuple[int, float]:
        row = self.tables.stats.collect()[0]
        return int(row["n_docs"]), float(row["avgdl"])

    def dictionary(self) -> dict[str, int] | None:
        """term → df of the whole dictionary, loaded once — or None when
        the vocabulary exceeds DICT_MEMO_MAX_TERMS. The probe is a
        ``limit(MAX+1)`` collect, so an over-bound dictionary costs one
        capped job, never a full materialization."""
        if self._dict is None:
            rows = (self.tables.dictionary.select("term", "df")
                    .limit(self.DICT_MEMO_MAX_TERMS + 1).collect())
            self._dict = (False if len(rows) > self.DICT_MEMO_MAX_TERMS
                          else {r["term"]: int(r["df"]) for r in rows})
        return self._dict if self._dict is not False else None

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per term: from the dictionary when it is loaded, else one
        pushdown filter+collect of the terms' rows."""
        if self._dict:
            return {t: self._dict[t] for t in terms if t in self._dict}
        return {r["term"]: int(r["df"]) for r in self.tables.dictionary
                .filter(F.col("term").isin(terms))
                .select("term", "df").collect()}

    def postings(self, terms: list[str]) -> dict:
        """Block rows for the terms as :func:`block_columns`, in ONE
        Spark job: ``term IN (...)`` reaches the Parquet scan, and the
        (shard, term, block_id) order is applied driver-side over the
        few hundred collected rows (a Spark orderBy plans a
        range-partitioned sort whose boundary-sampling pass is a second
        job). The rows arrive as Arrow, so the block arrays are never
        boxed."""
        return block_columns(
            self.tables.postings.filter(F.col("term").isin(terms)).toArrow())

    def all_norms(self) -> dict[int, tuple[np.ndarray, np.ndarray,
                                             np.ndarray]]:
        """Norms for every shard from ONE Spark job (a per-shard filter
        job scans the norms table n_shards times), split by
        :func:`split_norms`."""
        return split_norms(
            self.tables.norms.select(*NORMS_COLUMNS).toArrow())

    def term_positions(self, terms: list[str]
                       ) -> dict[int, dict[str, np.ndarray]]:
        """As :meth:`ArrowIndexReader.term_positions`, in one Spark job."""
        if self.tables.positions is None:
            raise ValueError(_NO_POSITIONS)
        return _positions_by_doc(
            self.tables.positions.filter(F.col("term").isin(terms))
            .select("term", "doc_id", "positions").toArrow())
