"""Seeded inputs for the benchmark: pages, token counts and query streams.

Everything here is numpy and pyarrow; nothing imports the package under
test. The corpus follows the pages input schema (url, warc_ts, html,
text, lang, doc_id): Zipf-distributed tokens over a fixed vocabulary
whose head holds real words, accented forms included. Each page's
token ids are kept beside its text so the reference scorer can count
terms without tokenizing the text again.
"""

from __future__ import annotations

import unicodedata
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 20_000
ZIPF_S = 1.07
MIN_TOKENS, MAX_TOKENS = 30, 120
HEAD = ["the", "and", "of", "data", "page", "web", "crawl", "index",
        "search", "text", "spark", "join", "merge", "sort", "scan", "query",
        "table"]
ACCENTED = ["café", "décès", "ångström", "naïve", "señor", "über", "éclair"]
_EPOCH_S = 1_500_000_000
_LANGS = np.array(["fr", "en", "de"])


def _vocab() -> np.ndarray:
    """Fixed vocabulary, rank order = Zipf order. Not seed dependent."""
    head = HEAD + ACCENTED
    taken = set(head)
    syl = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
    words = list(head)
    i = 0
    while len(words) < VOCAB_SIZE:
        w = syl[i % 85] + syl[(i // 85) % 85]
        if i >= 85 * 85:
            w += syl[(i // 7225) % 85]
        i += 1
        if w not in taken:
            taken.add(w)
            words.append(w)
    return np.array(words, dtype=object)


VOCAB = _vocab()
ACCENTED_IDS = frozenset(range(len(HEAD), len(HEAD) + len(ACCENTED)))
_CDF = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S)
_CDF /= _CDF[-1]


def analyze(query: str) -> list[str]:
    """Query analysis as the ES ``norm`` chain defines it: fold to ASCII
    (NFKD, drop marks), lowercase, split on anything not [a-z0-9],
    de-duplicate keeping order. Written here, not imported, so that the
    reference does not share code with the engine."""
    folded = unicodedata.normalize("NFKD", query).encode("ascii", "ignore")
    out: list[str] = []
    tok = []
    for ch in folded.decode("ascii").lower() + " ":
        if ch.isalnum():
            tok.append(ch)
        elif tok:
            t = "".join(tok)
            tok = []
            if t not in out:
                out.append(t)
    return out


@dataclass
class Pages:
    """A generated page set. ``offsets[i]:offsets[i+1]`` slices
    ``tokens`` to page i's vocabulary ids, in text order."""

    doc_id: np.ndarray  # int64, unique
    tokens: np.ndarray  # int32 vocabulary ids
    offsets: np.ndarray  # int64, len n+1

    def __len__(self) -> int:
        return self.doc_id.size

    def take(self, rows: np.ndarray) -> "Pages":
        parts = [self.tokens[self.offsets[i]:self.offsets[i + 1]] for i in rows]
        offs = np.zeros(len(rows) + 1, np.int64)
        np.cumsum([p.size for p in parts], out=offs[1:])
        toks = np.concatenate(parts) if parts else np.empty(0, np.int32)
        return Pages(self.doc_id[rows], toks, offs)

    def texts(self) -> list[str]:
        out = []
        for i in range(len(self)):
            words = VOCAB[self.tokens[self.offsets[i]:self.offsets[i + 1]]]
            s = " ".join(words)
            # capitalised first word and a full stop: the indexer must
            # lowercase and drop punctuation to see the same tokens
            out.append(s[:1].upper() + s[1:] + ".")
        return out

    def table(self) -> pa.Table:
        texts = self.texts()
        n = len(self)
        ids = self.doc_id
        return pa.table({
            "url": pa.array([f"https://site{d % 1000}.example/p/{d}"
                             for d in ids.tolist()], pa.string()),
            "warc_ts": pa.array((_EPOCH_S + (ids % 10_000_000)) * 1_000_000,
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([
                f"<html><head><title>Page {d}</title></head>"
                f"<body><p>{t}</p></body></html>".encode()
                for d, t in zip(ids.tolist(), texts)], pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_LANGS[ids % 3] if n else [], pa.string()),
            "doc_id": pa.array(ids, pa.int64()),
        })

    def write(self, path: str) -> None:
        pq.write_table(self.table(), path, row_group_size=4096)


def make_tokens(rng: np.random.Generator, n: int
                ) -> tuple[np.ndarray, np.ndarray]:
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    toks = np.searchsorted(_CDF, rng.random(int(offsets[-1])))
    return np.minimum(toks, VOCAB_SIZE - 1).astype(np.int32), offsets


def make_pages(rng: np.random.Generator, n: int,
               exclude: np.ndarray | None = None) -> Pages:
    """n pages with fresh, unique doc_ids (none in ``exclude``)."""
    ids = np.empty(0, np.int64)
    while ids.size < n:
        cand = rng.integers(1, 2**62, size=n - ids.size + 16, dtype=np.int64)
        ids = np.unique(np.concatenate([ids, cand]))
        if exclude is not None and exclude.size:
            ids = ids[~np.isin(ids, exclude)]
    ids = rng.permutation(ids)[:n]
    toks, offs = make_tokens(rng, n)
    return Pages(ids, toks, offs)


def recrawl(rng: np.random.Generator, ids: np.ndarray) -> Pages:
    """New content for existing doc_ids (a changed page fetched again)."""
    toks, offs = make_tokens(rng, ids.size)
    return Pages(ids.astype(np.int64), toks, offs)


def concat(parts: list[Pages]) -> Pages:
    offs = [np.zeros(1, np.int64)]
    base = 0
    for p in parts:
        offs.append(p.offsets[1:] + base)
        base += int(p.offsets[-1])
    return Pages(np.concatenate([p.doc_id for p in parts]),
                 np.concatenate([p.tokens for p in parts]),
                 np.concatenate(offs))


def query_text(term_ids) -> str:
    return " ".join(VOCAB[np.asarray(term_ids, np.int64)])
