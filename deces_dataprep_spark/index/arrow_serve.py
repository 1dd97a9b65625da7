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
* the hive ``shard=`` path component is parsed into a column for free.

The reader is handed the snapshot manifest's FILE LIST (not the live
directory), so serving stays pinned to a snapshot while later commits
append — the same time-travel guarantee the Spark reader has.
"""

from __future__ import annotations

import numpy as np


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

        from deces_dataprep_spark.index.codec import require_array_layout

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
        """(ParquetFile, row-group idx, term_min, term_max, shard) for
        every row group of every postings file — the serving tier's
        posting-pointer structure (SURVEY §1.4 ``posting_ptr``): footers
        are parsed ONCE here; a query reads only the row groups whose
        [min, max] term range can contain one of its terms. The build
        sorts postings by term within each file, so ranges are tight."""
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
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(term_i).statistics
                    if st is None or not st.has_min_max:
                        entries.append((pf, i, None, None, shard))
                    else:
                        entries.append((pf, i, st.min, st.max, shard))
            self._rg_cache = entries
        return self._rg_cache

    def postings(self, terms: list[str]) -> dict:
        """Block rows for the terms as :func:`block_columns`. Reads only
        the row groups whose term range matches (see _rg_index)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        tabs = []
        for pf, i, tmin, tmax, shard in self._rg_index():
            if tmin is not None and not any(
                tmin <= t <= tmax for t in terms
            ):
                continue
            t = pf.read_row_group(i)
            t = t.filter(pc.is_in(t["term"], pa.array(terms)))
            if t.num_rows:
                tabs.append(t.append_column(
                    "shard", pa.array([shard] * t.num_rows, pa.int32())))
        if not tabs:
            empty = self._post.schema.empty_table()
            if "shard" not in empty.column_names:
                empty = empty.append_column("shard", pa.array([], pa.int32()))
            tabs = [empty]
        return block_columns(pa.concat_tables(tabs))

    def shard_norms(self, shard: int) -> tuple[np.ndarray, np.ndarray]:
        """(sorted doc_id uint64, aligned doc_len float64) for a shard."""
        t = self._norms.to_table(
            columns=["doc_id", "doc_len"],
            filter=self._ds.field("shard") == shard,
        )
        ids = t["doc_id"].to_numpy(zero_copy_only=False).astype("uint64")
        dls = t["doc_len"].to_numpy(zero_copy_only=False).astype("float64")
        order = np.argsort(ids)
        return ids[order], dls[order]

    def all_norms(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """Norms for EVERY shard from one scan of the norms table.

        A per-shard filter scan re-reads the whole table once per shard
        (norms aren't partitioned by shard on disk) — measured 8× the
        IO of this single pass at n_shards=8. One lexsort splits the
        read into the per-shard (sorted doc_id, doc_len) pairs the
        WAND/TAAT kernels binary-search."""
        t = self._norms.to_table(columns=["shard", "doc_id", "doc_len"])
        sh = t["shard"].to_numpy(zero_copy_only=False).astype("int64")
        ids = t["doc_id"].to_numpy(zero_copy_only=False).astype("uint64")
        dls = t["doc_len"].to_numpy(zero_copy_only=False).astype("float64")
        order = np.lexsort((ids, sh))
        sh, ids, dls = sh[order], ids[order], dls[order]
        out: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        uniq, starts = np.unique(sh, return_index=True)
        bounds = list(starts) + [sh.size]
        for i, s in enumerate(uniq):
            a, b = bounds[i], bounds[i + 1]
            out[int(s)] = (ids[a:b].copy(), dls[a:b].copy())
        return out
