"""Web-sized page slices for the streaming tests: each page holds about
80 Zipf-drawn tokens, so a page's postings outweigh its norms row as on
a real crawl, and later slices re-crawl earlier doc_ids with new text."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [f"w{i}" for i in range(400)]

#: (new pages, re-crawled doc numbers) per slice; slice 2 re-crawls
#: some pages of slice 1's re-crawl again, so a doc can have 3 versions
SLICES = [(300, []), (200, list(range(0, 60))), (100, list(range(30, 90)))]


def doc_id(n: int) -> int:
    """Sparse, non-negative ids, so block offsets are not 0..N."""
    return 1_000_003 * n + 17


def page_text(rng: np.random.Generator, n_tokens: int = 80) -> str:
    ranks = np.minimum(rng.zipf(1.3, n_tokens), len(VOCAB)) - 1
    return " ".join(VOCAB[r] for r in ranks)


def recrawl_slices(seed: int = 7) -> list[list[dict]]:
    """Page rows per slice (the columns of ``PAGES_SCHEMA`` minus
    ``html``); a re-crawl keeps the doc's url and has a later warc_ts."""
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    out, n_new = [], 0
    for s, (new, recrawl) in enumerate(SLICES):
        ts = t0 + dt.timedelta(days=s)
        nums = list(range(n_new, n_new + new)) + recrawl
        n_new += new
        out.append([{"url": f"https://example.org/p{n}", "warc_ts": ts,
                     "text": page_text(rng), "lang": "en",
                     "doc_id": doc_id(n)} for n in nums])
    return out


def latest_versions(slices: list[list[dict]]) -> list[dict]:
    """Each doc's last crawl over ``slices`` (replace semantics)."""
    latest = {}
    for rows in slices:
        latest.update((r["doc_id"], r) for r in rows)
    return list(latest.values())


def pages_df(spark, rows: list[dict]):
    """``rows`` as a DataFrame of ``PAGES_SCHEMA`` (no html)."""
    from deces_dataprep_spark.streaming.incremental import PAGES_SCHEMA

    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], None, r["text"], r["lang"], r["doc_id"])
         for r in rows], PAGES_SCHEMA)


def write_slice(rows: list[dict], path: str) -> None:
    """One parquet file of pages, typed as ``stream_pages`` reads them."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("text", pa.string()), ("lang", pa.string()),
                        ("doc_id", pa.int64())])
    pq.write_table(pa.Table.from_pylist(rows, schema), path)
