"""Seeded inputs for the RAG-serving benchmark.

Everything the engine sees is generated here and handed over as parquet
files (documents) or plain query strings.

The base corpus is the same for every workload seed (``CORPUS_SEED``),
so a run can start from a copy of a knowledgebase (KB) built once per
checkout, and runs with different seeds differ only in their queries and
append batches. ``N_DOCS`` documents of ``DOC_CHARS`` characters of
Zipf(``ZIPF_S``) words over a ``VOCAB_SIZE``-word synthetic vocabulary
(about 430 words each), under ``N_DIRS`` source directories. Every
document is cut at a word boundary to just under ``DOC_CHARS``, so each
yields the same number of chunks (14 at the engine's default 200-char
chunk size).

Queries are ``QUERY_WORDS`` Zipf words each. In the interactive stream
every ``REPEAT_EVERY``-th query repeats an earlier distinct query of the
same stream (which one is chosen by the seed), so the share of repeated
keys is fixed at 1 in ``REPEAT_EVERY`` whatever the run length.

Append batches carry ``APPEND_DOCS`` new documents under a source
directory the corpus never uses. Each new document opens with
``FRESH_TOKENS`` words that occur nowhere else (longer than any
vocabulary word, so they cannot collide with it); the batch's freshness
query is the fresh words of one of its documents, so BM25 matches that
document's first chunk and nothing else. Zipf words are left out of it on
purpose: they match most chunks, and under reciprocal-rank fusion the
vector side's top hits (which also collect a BM25 rank) would then push
a BM25-only hit out of the top 5.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240
VOCAB_SIZE = 20_000
ZIPF_S = 1.1
DOC_CHARS = 2_790
N_DOCS = 100
N_DIRS = 20
QUERY_WORDS = 5
REPEAT_EVERY = 4
APPEND_DOCS = 5
FRESH_TOKENS = 2

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")


def _new_words(rng, n: int, lo: int, hi: int, taken: set) -> list[str]:
    """``n`` random lowercase words of ``lo``..``hi`` letters, none in
    ``taken`` (which they are added to)."""
    out: list[str] = []
    while len(out) < n:
        m = 2 * (n - len(out))
        lens = rng.integers(lo, hi + 1, m)
        rows = _LETTERS[rng.integers(0, 26, (m, hi))]
        for row, k in zip(rows, lens):
            w = b"".join(row[:k]).decode()
            if w not in taken and len(out) < n:
                taken.add(w)
                out.append(w)
    return out


class Inputs:
    """All inputs of one workload seed. Queries and appends come from
    independent child streams of ``seed``, so asking for more queries
    never changes the appends."""

    def __init__(self, seed: int):
        corpus_rng = np.random.default_rng(CORPUS_SEED)
        query_ss, append_ss = np.random.SeedSequence(seed).spawn(2)
        self._corpus_rng = corpus_rng
        self._query_rng = np.random.default_rng(query_ss)
        self._append_rng = np.random.default_rng(append_ss)
        self._taken: set = set()
        self.vocab = np.array(_new_words(corpus_rng, VOCAB_SIZE, 3, 9, self._taken))
        p = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        self._seen_queries: set = set()

    def _draw(self, rng, n: int) -> np.ndarray:
        idx = np.searchsorted(self._cdf, rng.random(n), side="right")
        return self.vocab[np.minimum(idx, VOCAB_SIZE - 1)]

    def _doc(self, rng, head: str = "") -> str:
        """``head`` then Zipf words, cut at the last word boundary within
        ``DOC_CHARS`` characters."""
        text = head
        while len(text) <= DOC_CHARS:
            text += " " + " ".join(self._draw(rng, 200))
        return text[: DOC_CHARS + 1].rsplit(" ", 1)[0].strip()

    def corpus(self) -> pa.Table:
        """(doc_id, text, source) for the base knowledgebase."""
        rng = self._corpus_rng
        return pa.table({
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": [self._doc(rng) for _ in range(N_DOCS)],
            "source": [f"kb/d{i % N_DIRS:03d}/doc{i:05d}.txt" for i in range(N_DOCS)],
        })

    def probe_queries(self, n: int) -> list[str]:
        """``n`` queries that depend on the corpus only, not on the
        workload seed: a fixed probe set for index-quality checks."""
        rng = np.random.default_rng(CORPUS_SEED + 1)
        return [" ".join(self._draw(rng, QUERY_WORDS)) for _ in range(n)]

    def distinct_queries(self, n: int) -> list[str]:
        """``n`` queries this object has not returned before."""
        out: list[str] = []
        while len(out) < n:
            q = " ".join(self._draw(self._query_rng, QUERY_WORDS))
            if q not in self._seen_queries:
                self._seen_queries.add(q)
                out.append(q)
        return out

    def interactive_stream(self, n: int) -> list[str]:
        """``n`` queries where position i with i % REPEAT_EVERY ==
        REPEAT_EVERY - 1 repeats an earlier distinct query of the stream."""
        fresh = iter(self.distinct_queries(n))
        out: list[str] = []
        originals: list[str] = []
        for i in range(n):
            if i % REPEAT_EVERY == REPEAT_EVERY - 1:
                out.append(originals[int(self._query_rng.integers(len(originals)))])
            else:
                q = next(fresh)
                originals.append(q)
                out.append(q)
        return out

    def append_batch(self, batch: int) -> tuple[pa.Table, str, str]:
        """(documents, freshness query, fresh word the answer must hold)
        for append batch number ``batch``; call with 0, 1, 2, … in order."""
        rng = self._append_rng
        first = N_DOCS + batch * APPEND_DOCS
        texts, fresh = [], []
        for _ in range(APPEND_DOCS):
            words = _new_words(rng, FRESH_TOKENS, 11, 13, self._taken)
            fresh.append(words)
            texts.append(self._doc(rng, " ".join(words)))
        docs = pa.table({
            "doc_id": np.arange(first, first + APPEND_DOCS, dtype=np.int64),
            "text": texts,
            "source": [f"new/b{batch:04d}/doc{first + i:05d}.txt" for i in range(APPEND_DOCS)],
        })
        target = fresh[int(rng.integers(APPEND_DOCS))]
        return docs, " ".join(target), target[0]


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` and return its text payload in bytes."""
    pq.write_table(table, path)
    return sum(len(t.encode()) for t in table.column("text").to_pylist())
