"""In-memory posting blocks for driver-side tests: the numpy twin of
the JVM block pack (``builder.pack_blocks``), so the decode, WAND and
TAAT tests run without a Spark session."""

import numpy as np

from deces_dataprep_spark.index.codec import BLOCK_SIZE
from deces_dataprep_spark.index.wand import TermPostings


def pack(doc_ids, tfs, scores=None, block_size=BLOCK_SIZE) -> dict:
    """Split a sorted unique posting list into array blocks: per-block
    lists of ``doc_gaps`` (offsets from ``first_doc``) and ``tfs`` plus
    the block metadata (``block_max`` = max of ``scores``, 0 without)."""
    ids = np.asarray(doc_ids, np.int64)
    tf = np.asarray(tfs, np.int64)
    starts = np.arange(0, ids.size, block_size)
    ends = np.minimum(starts + block_size, ids.size)
    sc = np.zeros(ids.size) if scores is None else np.asarray(scores, float)
    return {
        "block_id": list(range(starts.size)),
        "n_docs": (ends - starts).tolist(),
        "first_doc": ids[starts].tolist(),
        "last_doc": ids[ends - 1].tolist(),
        "doc_gaps": [ids[s:e] - ids[s] for s, e in zip(starts, ends)],
        "tfs": [tf[s:e] for s, e in zip(starts, ends)],
        "block_max": [float(sc[s:e].max()) for s, e in zip(starts, ends)],
    }


def term_postings(term, df, doc_ids, tfs, scores=None,
                  block_size=BLOCK_SIZE) -> TermPostings:
    """A TermPostings over :func:`pack`'s blocks, arrays laid end to end
    as the serving fetch stores them."""
    b = pack(doc_ids, tfs, scores, block_size)

    def flat(arrays):
        return np.concatenate(arrays) if arrays else np.empty(0, np.int64)

    return TermPostings(
        term=term, df=df, block_ids=b["block_id"], n_docs=b["n_docs"],
        first_docs=b["first_doc"], last_docs=b["last_doc"],
        doc_gaps=flat(b["doc_gaps"]), tfs=flat(b["tfs"]),
        block_max=b["block_max"],
    )


def docnum_map(norms) -> dict:
    """``{(shard, docnum): doc_id}`` of a norms DataFrame: the mapping a
    read applies to the block keys ``decode_blocks_concat`` returns."""
    return {(r["shard"], r["docnum"]): r["doc_id"]
            for r in norms.select("shard", "docnum", "doc_id").collect()}
