"""Serving-tier index reader: pyarrow, no Spark job per query.

Spark is the build/refresh tier; at serve time a query needs a handful
of posting blocks, and launching a Spark job (scheduler + task launch +
whole-stage codegen) per lookup costs seconds where the actual IO is
milliseconds. A serving node instead reads the committed snapshot's
parquet files directly — exactly how an ES data node reads its local
segments — with the same pruning the Spark path gets:

* ``term IN (...)`` is evaluated against parquet row-group statistics
  (the build writes postings sorted by (shard, term, block_id) within
  each file, in row groups of ``builder.POSTINGS_ROW_GROUP_BYTES``, so
  a term touches ~1 row group per file);
* the hive ``shard=`` path component is parsed into a column for free;
* each postings file's matching row groups are read in ONE call, only
  the block columns, and the files are read in parallel on one
  process-wide thread pool sized to the usable cores (pyarrow releases
  the GIL while it reads and filters). A shard split into several files
  by ``snapshots.optimize_postings`` is read by several threads at once.

The reader is handed the snapshot manifest's FILE LIST (not the live
directory), so serving stays pinned to a snapshot while later commits
append — the same time-travel guarantee the Spark reader has.

Blocks come back keyed by doc number (``codec`` module docstring);
:meth:`ArrowIndexReader.all_norms` returns each shard's docnums next to
its doc_ids, which is what the engine maps them through.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from deces_dataprep_spark.session import usable_cores

#: the posting-block columns :func:`block_columns` reads (``shard``
#: comes from the path); a fetch reads no other column
BLOCK_COLUMNS = ["term", "block_id", "n_docs", "first_doc", "last_doc",
                 "doc_gaps", "tfs", "block_max_tfnorm"]

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

    @classmethod
    def maybe(cls, files: dict[str, list[str]] | None):
        """An ArrowIndexReader when the manifest file lists are known
        (local paths), else None (fall back to the Spark reader)."""
        if not files:
            return None
        needed = {"postings", "dictionary", "norms", "stats"}
        if not needed.issubset(files):
            return None
        try:
            import pyarrow.dataset  # noqa: F401
        except ImportError:
            # pyarrow is an optional pyspark extra — 'auto' callers fall
            # back to the Spark route instead of failing construction
            return None
        keep = needed | ({"positions"} if files.get("positions") else set())
        return cls({k: files[k] for k in keep})

    def term_positions(self, terms: list[str]) -> dict[int, dict[str, np.ndarray]]:
        """{doc_id: {term: sorted position array}} for the given terms,
        from the positional table (phrase serving). Raises if the index
        was built without positions."""
        if self._pos is None:
            raise ValueError("index has no positions table "
                             "(write_index(with_positions=True))")
        t = self._pos.to_table(
            columns=["term", "doc_id", "positions"],
            filter=self._ds.field("term").isin(terms),
        )
        out: dict[int, dict[str, np.ndarray]] = {}
        term_l = t["term"].to_pylist()
        doc_l = t["doc_id"].to_pylist()
        pos_l = t["positions"].to_pylist()
        for term, doc, pos in zip(term_l, doc_l, pos_l):
            out.setdefault(int(doc), {})[term] = np.asarray(pos, np.int64)
        return out

    def stats(self) -> tuple[int, float]:
        t = self._stats.to_table()
        return int(t["n_docs"][0].as_py()), float(t["avgdl"][0].as_py())

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per term — served from the fully-loaded dictionary (the ES
        analogue keeps the per-shard terms dict in memory; ours is
        term+df+cf, a few bytes per distinct term)."""
        d = self._dictionary()
        return {t: d[t] for t in terms if t in d}

    def _dictionary(self) -> dict[str, int]:
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
        """Norms for EVERY shard from one scan of the norms table:
        ``{shard: (sorted doc_id uint64, aligned doc_len float64,
        aligned docnum int64)}``.

        A per-shard filter scan re-reads the whole table once per shard
        (norms aren't partitioned by shard on disk) — measured 8× the
        IO of this single pass at n_shards=8. One lexsort splits the
        read into the per-shard arrays the WAND/TAAT kernels
        binary-search; docnum order is doc_id order, so the docnums come
        out sorted too."""
        t = self._norms.to_table(
            columns=["shard", "doc_id", "doc_len", "docnum"])
        sh = t["shard"].to_numpy(zero_copy_only=False).astype("int64")
        ids = t["doc_id"].to_numpy(zero_copy_only=False).astype("uint64")
        dls = t["doc_len"].to_numpy(zero_copy_only=False).astype("float64")
        nums = t["docnum"].to_numpy(zero_copy_only=False).astype("int64")
        order = np.lexsort((ids, sh))
        sh, ids, dls, nums = sh[order], ids[order], dls[order], nums[order]
        out: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        uniq, starts = np.unique(sh, return_index=True)
        bounds = list(starts) + [sh.size]
        for i, s in enumerate(uniq):
            a, b = bounds[i], bounds[i + 1]
            out[int(s)] = (ids[a:b].copy(), dls[a:b].copy(),
                           nums[a:b].copy())
        return out
