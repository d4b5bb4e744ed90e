"""In-memory exact index: single queries with no Spark job.

The reference answers one query with FAISS in process plus SQLite point
lookups (query/search.py:567-606). When the index fits
``cfg.index_memory_budget_mb``, ``KnowledgeBase`` loads the KB's
``vectors/``, ``postings/``, ``term_stats/`` and ``chunks/`` tables
once per write, read whole with pyarrow on the driver (no Spark job)
into numpy: the vectors (float64, with row norms), the BM25 postings in
CSR form with per-doc ``dl`` and term_stats' ``idf``, and the chunks
sorted by (sourcedoc, doc_id, sid) with an id → row map and
per-document offsets.

The kernel scores a block of queries against a block of rows and
reproduces the Spark plans' arithmetic, so ids, order and scores match
them exactly: cosine is the left fold over dims of
``functions/vector.py::dot`` over (row norm · query norm); BM25 keeps
the association order of ``operators/bm25.py::bm25_score`` over the
sorted distinct query terms; fusion follows ``operators/fusion.py``;
every score goes through :func:`round6` and every ranking is (score
desc, id asc). Vector top-k is exact at every size that fits.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from customkb_spark.config import KBConfig
from customkb_spark.functions import parquet_rows as PR
from customkb_spark.operators.fusion import FUSION_INPUT_BOUND

_MICRO = Decimal("1e-6")


def fits(n_rows: int, cfg: KBConfig) -> bool:
    """Whether ``n_rows`` chunks fit the memory budget, estimated before
    loading: vector and norm, ~48 bytes of ids and offsets, and 16 bytes
    (posting + text) per token of a ``db_max_tokens`` chunk, an upper
    bound."""
    size = n_rows * (8 * (cfg.vector_dimensions + 1) + 48 + 16 * cfg.db_max_tokens)
    return size <= cfg.index_memory_budget_mb * (1 << 20)


# ------------------------------------------------------------ kernel
def round6(x) -> np.ndarray:
    """Twin of Spark's ``round(x, 6)`` on doubles: HALF_UP on the
    double's decimal string (``BigDecimal.valueOf``). ``np.round`` is
    half-even on the binary product x·1e6 and differs at ties, so the
    values whose product lies near a .5 tie take the decimal path."""
    x = np.asarray(x, dtype=np.float64)
    y = x * 1e6
    out = np.asarray(np.rint(y) / 1e6 + 0.0)  # + 0.0: no negative zero, as in Spark
    near = np.isfinite(y) & (np.abs(np.abs(y - np.trunc(y)) - 0.5) < 1e-6)
    out[near] = [
        float(Decimal(repr(v)).quantize(_MICRO, ROUND_HALF_UP)) + 0.0 for v in x[near].tolist()
    ]
    return out


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(queries × rows) dot products as the left fold over dims from
    0.0 — the order of ``functions/vector.py::dot`` — for a block of
    queries ``a`` (q × d) and a block of rows ``b`` (n × d)."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for j in range(b.shape[1]):
        acc += a[:, j, None] * b[None, :, j]
    return acc


def row_norms(vectors: np.ndarray) -> np.ndarray:
    """Per-row L2 norms with the fold order of ``vector.norm``."""
    acc = np.zeros(vectors.shape[0])
    for j in range(vectors.shape[1]):
        acc += vectors[:, j] * vectors[:, j]
    return np.sqrt(acc)


def cosine_scores(queries: np.ndarray, vectors: np.ndarray, norms: np.ndarray) -> np.ndarray:
    """Rounded cosine scores (queries × rows), pre-normed as in
    ``operators/topk.py::brute_force_topk``: dot / (row norm · query
    norm). A zero norm scores NaN, which ranks like Spark's NULL."""
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = fold_dot(queries, vectors) / (norms[None, :] * row_norms(queries)[:, None])
    scores[~np.isfinite(scores)] = np.nan
    return round6(scores)


def bm25_scores(
    term_rows: list[list[int]],
    idf: np.ndarray,
    indptr: np.ndarray,
    doc_rows: np.ndarray,
    dl: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
) -> np.ndarray:
    """Rounded BM25 scores (queries × docs) over a CSR block. Each
    query's ``term_rows`` are its sorted distinct terms' rows; the term
    formula keeps ``bm25_score``'s association order."""
    out = np.zeros((len(term_rows), len(dl)))
    for i, rows in enumerate(term_rows):
        for t in rows:
            d = doc_rows[indptr[t]:indptr[t + 1]]
            out[i, d] += idf[t] * (k1 + 1.0) / (1.0 + k1 * ((1.0 - b) + b * dl[d] / avgdl))
    return round6(out)


def ranked(scores: np.ndarray, ids: np.ndarray, limit: int) -> np.ndarray:
    """Positions of the top ``limit`` by (score desc, id asc), NaN last."""
    key = np.where(np.isnan(scores), -np.inf, scores)
    cand = np.arange(len(key))
    if limit < len(key):
        cand = np.flatnonzero(key >= np.partition(key, len(key) - limit)[len(key) - limit])
    return cand[np.lexsort((ids[cand], -key[cand]))][:limit]


def _max_normed(scores: np.ndarray) -> np.ndarray:
    m = np.nanmax(scores) if np.isfinite(scores).any() else np.nan
    return scores / (1.0 if np.isnan(m) or m == 0.0 else m)


def fuse(vec: tuple, kw: tuple, cfg: KBConfig) -> tuple[np.ndarray, np.ndarray]:
    """RRF or weighted fusion of two ranked (ids, scores) lists, as in
    ``operators/fusion.py``; returns the fused top ``query_top_k``."""
    (v_ids, v_s), (b_ids, b_s) = (
        (i[:FUSION_INPUT_BOUND], s[:FUSION_INPUT_BOUND]) for i, s in (vec, kw)
    )
    ids = np.union1d(v_ids, b_ids)
    v_pos, b_pos = np.searchsorted(ids, v_ids), np.searchsorted(ids, b_ids)
    v, b = np.zeros(len(ids)), np.zeros(len(ids))
    if cfg.hybrid_fusion_method == "weighted":
        v[v_pos] = np.nan_to_num(_max_normed(v_s))
        b[b_pos] = np.nan_to_num(_max_normed(b_s))
        fused = cfg.vector_weight * v + (1.0 - cfg.vector_weight) * b
    else:
        v[v_pos] = 1.0 / (float(cfg.rrf_k) + np.arange(1, len(v_ids) + 1))
        b[b_pos] = 1.0 / (float(cfg.rrf_k) + np.arange(1, len(b_ids) + 1))
        fused = v + b
    fused = round6(fused)
    top = ranked(fused, ids, cfg.query_top_k)
    return ids[top], fused[top]


def search_block(res: "ResidentIndex", queries: np.ndarray, terms: list[list[str]], cfg: KBConfig) -> list:
    """Fused (ids, scores) per query for a block of query vectors and
    their BM25 query terms."""
    vec = cosine_scores(np.asarray(queries, dtype=np.float64), res.vectors, res.norms)
    term_rows = [
        [res.term_index[t] for t in sorted({t.lower() for t in q}) if t in res.term_index]
        for q in terms
    ]
    kw = bm25_scores(
        term_rows, res.idf, res.indptr, res.doc_rows, res.dl, res.avgdl, cfg.bm25_k1, cfg.bm25_b
    )
    out = []
    for i in range(len(terms)):
        top = ranked(vec[i], res.vec_ids, cfg.query_top_k)
        hits = (res.vec_ids[top], vec[i][top])
        if cfg.enable_hybrid_search:
            pos = np.flatnonzero(kw[i] > 0)
            top = pos[ranked(kw[i][pos], res.bm25_ids[pos], cfg.bm25_max_results)]
            hits = fuse(hits, (res.bm25_ids[top], kw[i][top]), cfg)
        out.append(hits)
    return out


# ------------------------------------------------------------- index
@dataclass
class ResidentIndex:
    vec_ids: np.ndarray  # int64 (n_vectors,)
    vectors: np.ndarray  # float64 (n_vectors, dims), column-major
    norms: np.ndarray  # float64 (n_vectors,)
    term_index: dict  # term → term_stats row
    idf: np.ndarray  # float64 (n_terms,)
    indptr: np.ndarray  # int64 (n_terms + 1,)
    doc_rows: np.ndarray  # int64 (n_postings,) → bm25_ids / dl
    bm25_ids: np.ndarray  # int64 (n_docs,)
    dl: np.ndarray  # float64 (n_docs,)
    avgdl: float
    chunks: pa.Table  # keys, sid, originaltext[, primary_category], sorted
    keys: tuple  # ("sourcedoc", "doc_id") or ("sourcedoc",)
    sid: np.ndarray  # int64 (n_rows,), chunks order
    doc_offsets: np.ndarray  # int64 (n_docs_in_chunks + 1,)
    doc_of_row: np.ndarray  # int64 (n_rows,)
    ids_sorted: np.ndarray  # int64 (n_rows,)
    id_rows: np.ndarray  # int64 (n_rows,): ids_sorted[i] is row id_rows[i]

    @classmethod
    def load(cls, kb_dir: str, n_rows: int, avgdl: float, cfg: KBConfig) -> "ResidentIndex | None":
        """Load the KB at ``kb_dir`` — its ``vectors/``, ``postings/``,
        ``term_stats/`` and ``chunks/`` tables, read whole with pyarrow on
        the driver — or None when its ``n_rows`` chunks exceed the memory
        budget. ``avgdl`` is the persisted BM25 index's."""
        if not fits(n_rows, cfg):
            return None

        def read(name: str, columns: list[str]) -> pa.Table:
            # one thread: after a threaded scan the process's per-request
            # parquet writes (query log, query cache) ran slower
            return table(name).to_table(columns=columns, use_threads=False)

        def table(name: str) -> ds.Dataset:
            return ds.dataset(PR.data_files(os.path.join(kb_dir, name)), format="parquet")

        vt = read("vectors", ["id", "vector"])
        flat = pc.list_flatten(vt["vector"]).to_numpy().astype(np.float64)
        vectors = np.asfortranarray(flat.reshape(vt.num_rows, -1 if vt.num_rows else 0))

        stats = read("term_stats", ["term", "idf"])
        post = read("postings", ["id", "dl", "term"])
        bm25_ids, doc_of_post = np.unique(post["id"].to_numpy(), return_inverse=True)
        dl = np.zeros(len(bm25_ids))
        dl[doc_of_post] = post["dl"].to_numpy()
        t = pc.index_in(post["term"], value_set=stats["term"])
        valid = t.is_valid().to_numpy(zero_copy_only=False)
        t = t.drop_null().to_numpy().astype(np.int64)
        order = np.argsort(t, kind="stable")
        indptr = np.zeros(stats.num_rows + 1, dtype=np.int64)
        np.cumsum(np.bincount(t, minlength=stats.num_rows), out=indptr[1:])

        cols = table("chunks").schema.names
        keys = ("sourcedoc", "doc_id") if "doc_id" in cols else ("sourcedoc",)
        extra = ["primary_category"] if "primary_category" in cols else []
        chunks = read("chunks", ["id", *keys, "sid", "originaltext", *extra])
        chunks = chunks.take(pc.sort_indices(
            chunks, sort_keys=[(k, "ascending") for k in (*keys, "sid")],
            null_placement="at_start",
        ))
        key_vals = [chunks[k].to_numpy(zero_copy_only=False) for k in keys]
        new_doc = np.zeros(chunks.num_rows, dtype=bool)
        for v in key_vals:
            new_doc[1:] |= v[1:] != v[:-1]
        ids = chunks["id"].to_numpy()
        id_rows = np.argsort(ids, kind="stable")
        return cls(
            vec_ids=vt["id"].to_numpy(),
            vectors=vectors,
            norms=row_norms(vectors),
            term_index={term: i for i, term in enumerate(stats["term"].to_pylist())},
            idf=stats["idf"].to_numpy(),
            indptr=indptr,
            doc_rows=doc_of_post[valid][order],
            bm25_ids=bm25_ids,
            dl=dl,
            avgdl=float(avgdl),
            chunks=chunks.drop_columns(["id"]),
            keys=keys,
            sid=chunks["sid"].to_numpy().astype(np.int64),
            doc_offsets=np.append(np.flatnonzero(np.append(True, new_doc[1:])), chunks.num_rows),
            doc_of_row=np.cumsum(new_doc),
            ids_sorted=ids[id_rows],
            id_rows=id_rows,
        )

    @property
    def n_rows(self) -> int:
        return self.chunks.num_rows

    @property
    def nbytes(self) -> int:
        arrays = sum(v.nbytes for v in vars(self).values() if isinstance(v, np.ndarray))
        return arrays + self.chunks.nbytes + sys.getsizeof(self.term_index)

    def rows_of(self, ids: list) -> np.ndarray:
        """Chunk rows of ``ids``; -1 for an id not in the chunks."""
        q = np.asarray(ids, dtype=np.int64)
        if not len(self.ids_sorted):
            return np.full(len(q), -1)
        pos = np.minimum(np.searchsorted(self.ids_sorted, q), len(self.ids_sorted) - 1)
        return np.where(self.ids_sorted[pos] == q, self.id_rows[pos], -1)

    def search(self, query_terms: list[str], query_vec: list[float], cfg: KBConfig) -> list[dict]:
        """Fused (id, score) rows of one query, best first."""
        ids, scores = search_block(self, np.asarray([query_vec]), [query_terms], cfg)[0]
        return [{"id": int(i), "score": float(s)} for i, s in zip(ids, scores)]
