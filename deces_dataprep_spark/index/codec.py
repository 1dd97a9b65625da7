"""Posting-block layout and its decode entry points.

The reference's Elasticsearch sink stores postings in Lucene FOR/PFor
blocks (an internal behavioral contract only — nothing to copy). Here a
term's postings are sorted by their block key and split into blocks of
``BLOCK_SIZE`` (128) docs, and each block is one Parquet row of plain
arrays, packed JVM-side by the builder:

* ``doc_gaps array<bigint>`` — each doc's offset from the block's
  ``first_doc`` (element 0 is 0), so every block decodes on its own;
* ``tfs array<int>`` — the term frequencies, aligned;
* ``(n_docs, first_doc, last_doc, block_max_tfnorm, sum_tf)`` — the
  metadata block-max WAND skips on.

**Block keys are doc numbers.** In a built or compacted index the key
is the doc's ``docnum``: the 0-based rank of its doc_id within its
shard, stored in the norms table. Offsets between dense ranks are
small, where offsets between random 62-bit web ids are as wide as the
ids, so this is what makes the postings small. A streaming delta keys
its blocks by doc_id itself and its norms expose ``docnum = doc_id``,
so one rule maps every index back: ``(shard, docnum)`` → the norms
row's ``doc_id``. Docnum order is doc_id order within a shard, so
block order, WAND traversal and tie-breaks are those of doc_ids.

Parquet's own encodings and snappy compress these columns; no Python
node touches a block on the way in or out. Two decode entry points,
both returning BLOCK KEYS that a read maps through the norms:
:func:`decode_blocks_concat` on the driver (numpy, zero-copy over Arrow
list columns) and :func:`explode_blocks` inside a Spark plan (JVM).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


class RebuildRequired(ValueError):
    """The postings were written in a layout this version cannot read."""


def require_array_layout(doc_gaps_type: str, source: str) -> None:
    """Refuse postings whose ``doc_gaps`` column is binary (LEB128
    varint blocks, the layout before array blocks). There is no
    conversion path: such an index must be rebuilt from its input."""
    if doc_gaps_type.lower() == "binary":
        raise RebuildRequired(
            f"{source}: postings store doc_gaps as binary varint blocks, "
            "a layout this version no longer reads — rebuild the index "
            "(write_index, or re-ingest the stream)")


def require_docnum_norms(norms_columns, source: str) -> None:
    """Refuse an index whose norms have no ``docnum`` column: its
    postings are keyed by doc_id (the layout before doc numbers), which
    no read maps back any more. There is no conversion path: rebuild."""
    if "docnum" not in norms_columns:
        raise RebuildRequired(
            f"{source}: norms have no docnum column — the postings were "
            "written keyed by doc_id, a layout this version no longer "
            "reads; rebuild the index (write_index, or re-ingest the "
            "stream)")


def _flat(arrays, dtype) -> np.ndarray:
    """The blocks' array elements laid end to end: accepts an Arrow list
    column (sliced or chunked — the values are read zero-copy), a flat
    numpy array, or a sequence of per-block arrays."""
    if isinstance(arrays, np.ndarray):
        return arrays.astype(dtype, copy=False)
    if hasattr(arrays, "combine_chunks"):  # pyarrow.ChunkedArray
        arrays = arrays.combine_chunks()
    if hasattr(arrays, "flatten"):  # pyarrow list array
        return arrays.flatten().to_numpy(zero_copy_only=False) \
            .astype(dtype, copy=False)
    if len(arrays) == 0:
        return np.empty(0, dtype)
    return np.concatenate([np.asarray(a, dtype) for a in arrays])


def decode_blocks_concat(
    doc_gaps_list,
    tfs_list,
    first_docs,
    n_docs_arr,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY blocks in one vectorized pass → (keys uint64, tfs
    int64), blocks in the given order.

    ``doc_gaps_list``/``tfs_list`` are the blocks' arrays (see
    :func:`_flat` for the accepted shapes); block ``i`` holds
    ``n_docs_arr[i]`` entries. A key is its block's ``first_doc`` plus
    its offset, so blocks from different terms, shards or delta batches
    decode together. The keys are the blocks' doc numbers (module
    docstring): a read maps them to doc_ids through its shard's norms."""
    counts = np.ascontiguousarray(n_docs_arr, dtype=np.int64)
    if counts.size == 0 or int(counts.sum()) == 0:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    gaps = _flat(doc_gaps_list, np.int64)
    tfs = _flat(tfs_list, np.int64)
    base = np.ascontiguousarray(first_docs, dtype=np.int64)
    ids = (np.repeat(base, counts) + gaps).view(np.uint64)
    return ids, tfs


def explode_blocks(blocks, *keep: str):
    """One row per posting, ``(*keep, docnum long, tf long)``, from a
    posting-block DataFrame — the JVM decode (a generator over the
    stored arrays plus one add), shared by compaction and every
    index-backed Spark route. ``docnum`` is the decoded block key,
    which a route joins to the norms on ``(shard, docnum)`` (a
    streaming delta's key is its doc_id)."""
    from pyspark.sql import functions as F

    return blocks.select(
        *keep, "first_doc",
        F.explode(F.arrays_zip("doc_gaps", "tfs")).alias("__p"),
    ).select(
        *keep,
        (F.col("first_doc") + F.col("__p.doc_gaps")).alias("docnum"),
        F.col("__p.tfs").cast("long").alias("tf"),
    )
