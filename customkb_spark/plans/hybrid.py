"""End-to-end hybrid retrieval — the reference's `customkb query`
lifecycle (SURVEY.md §3.3) as one declarative pipeline:

  embed query (driver, one vector)
   → vector top-k  (exact or IVF-pruned scan)
   → BM25 top-k    (postings join)
   → RRF / weighted fusion (full-outer join + window ranks)
   → category semi-join filter
   → context range join (±scope around each hit, broadcast)
   → consecutive-sid grouping → formatter

Batch mode (`query_batch`) runs the same plan for a whole DataFrame of
queries at once — the shape that matters on a cluster: one corpus scan
serves every query via the broadcast k-NN join.

Single queries: ``query`` is the Spark form, used when the index
exceeds ``cfg.index_memory_budget_mb`` (and by the flagship entry).
Within the budget, ``KnowledgeBase.query`` scores with the
in-memory kernel (``plans/resident.py``) and looks the context
up with :func:`retrieve_context_hits`; both paths embed the query
through :func:`embed_query`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from customkb_spark.config import KBConfig
from customkb_spark.embedding.embedder import get_provider
from customkb_spark.functions import text as X
from customkb_spark.operators import bm25 as B
from customkb_spark.operators import fusion as FU
from customkb_spark.operators.range_join import context_range_join
from customkb_spark.operators.topk import brute_force_topk
from customkb_spark.plans.resident import ResidentIndex


@dataclass
class HybridIndex:
    """Materialized derived tables for one knowledgebase."""

    chunks: DataFrame  # canonical chunks table (id, sid, sourcedoc, text…)
    vectors: DataFrame  # (id, vector)
    postings: DataFrame  # (id, dl, term)
    term_stats: DataFrame  # (term, df, idf)
    corpus_size: int
    avgdl: float
    vindex: object | None = None  # VectorIndexTier (embedding/auto.py)

    @classmethod
    def build(
        cls,
        chunks: DataFrame,
        vectors: DataFrame,
        text_col: str = "originaltext",
        cfg: KBConfig | None = None,
        vindex: object | None = None,
        postings: DataFrame | None = None,
        term_stats: DataFrame | None = None,
        corpus: tuple[int, float] | None = None,
    ) -> "HybridIndex":
        """With ``cfg`` the vector side gets the reference's index-tier
        auto-selection (flat/IVF/IVFPQ by corpus size,
        embed_manager.py:163-213) via embedding/auto.build_vector_index;
        without it, exact scan (flat) — the prior behavior. Prebuilt
        artifacts skip their builds: ``vindex`` (rehydrated by
        embedding/store.load_vector_index), ``postings``/``term_stats``/
        ``corpus`` = (n, avgdl) (persisted by KnowledgeBase.build_bm25 —
        the reference's NPZ BM25 index file, bm25_manager.py)."""
        if postings is None:
            postings = B.build_postings(
                chunks, "id", text_col,
                language=cfg.language if cfg is not None else "en",
            )
        n, avgdl = corpus if corpus is not None else B.corpus_stats(
            chunks, text_col, language=cfg.language if cfg is not None else "en"
        )
        stats = term_stats if term_stats is not None else B.build_term_stats(postings, n)
        if vindex is None and cfg is not None:
            from customkb_spark.embedding.auto import build_vector_index

            vindex = build_vector_index(vectors, cfg, n=n)
        # Hot derived tables are reused by every query → cache them.
        return cls(
            chunks, vectors.cache(), postings.cache(), stats.cache(), n, avgdl, vindex
        )


def query_terms(query_text: str, min_len: int = 2, language: str = "en") -> list[str]:
    """Query-side twin of the index tokenizer (text.bm25_token_set) —
    the query MUST tokenize identically to the postings index
    (including the language-gated stopword drop) or compound terms
    ('state-of-the-art', '3.14') would never match."""
    return [t for t in X.bm25_tokenize_py(query_text, language) if len(t) >= min_len]


def embed_query(
    query_text: str,
    cfg: KBConfig,
    query_cache_path: str | None = None,
    spark: SparkSession | None = None,
    query_vec: list[float] | None = None,
) -> tuple[str, list[float]]:
    """(sanitized query text, query vector) for both single-query paths.

    Reference sanitize_query_text first: control chars never reach the
    tokenizer or provider; empty or oversized queries raise. With
    ``query_cache_path`` the query-embedding TTL cache (reference
    query/embedding.py:76-141) is probed before the provider call and a
    miss is saved. A given ``query_vec`` skips the embedding."""
    from customkb_spark.functions.security import sanitize_query_text

    query_text = sanitize_query_text(query_text)
    if not query_text:  # control-chars-only strips to nothing
        raise ValueError("Query text cannot be empty")
    if query_vec is not None:
        return query_text, list(map(float, query_vec))
    if query_cache_path:
        from customkb_spark.embedding.query_cache import probe_query_embedding

        query_vec = probe_query_embedding(
            spark, query_cache_path, query_text,
            cfg.vector_model, cfg.query_cache_ttl_days,
        )
    if query_vec is None:
        provider = get_provider(cfg.vector_model, cfg.vector_dimensions)
        query_vec = provider.get_embeddings([query_text])[0].tolist()
        if query_cache_path:
            from customkb_spark.embedding.query_cache import save_query_embedding

            save_query_embedding(
                spark, query_cache_path, query_text, cfg.vector_model, query_vec
            )
    return query_text, list(map(float, query_vec))


def hybrid_search(
    index: HybridIndex,
    query_text: str,
    query_vec: list[float] | None = None,
    cfg: KBConfig | None = None,
    query_cache_path: str | None = None,
) -> DataFrame:
    """Fused (id, score) top-k for one query (embedding: :func:`embed_query`)."""
    cfg = cfg or KBConfig()
    query_text, qv = embed_query(
        query_text, cfg, query_cache_path,
        index.vectors.sparkSession if query_cache_path else None, query_vec,
    )
    if index.vindex is not None:
        vec_hits = index.vindex.topk(qv, cfg.query_top_k, cfg.faiss_nprobe)
    else:
        vec_hits = brute_force_topk(index.vectors, qv, cfg.query_top_k)
    q_terms = query_terms(query_text, cfg.bm25_min_token_length, cfg.language)
    kw_hits = B.bm25_score(
        index.postings,
        index.term_stats,
        q_terms,
        index.avgdl,
        cfg.bm25_k1,
        cfg.bm25_b,
        cfg.bm25_max_results,
    )
    if not cfg.enable_hybrid_search:
        return vec_hits
    if cfg.hybrid_fusion_method == "weighted":
        return FU.weighted_fuse(vec_hits, kw_hits, cfg.vector_weight, cfg.query_top_k)
    return FU.rrf_fuse(vec_hits, kw_hits, cfg.rrf_k, cfg.query_top_k)


def retrieve_context(
    index: HybridIndex,
    fused_hits: DataFrame,
    cfg: KBConfig | None = None,
    categories: list[str] | None = None,
) -> DataFrame:
    """Hits → context rows (category filter → range join → ordered)."""
    cfg = cfg or KBConfig()
    has_cat = "primary_category" in index.chunks.columns
    # context is scoped to the DOCUMENT the hit lives in: sids restart
    # per doc, so when several docs share one source path the sourcedoc
    # key alone would join every same-sid-range chunk of every doc in
    # the file (see context_range_join's key_cols note)
    keys = (
        ("sourcedoc", "doc_id")
        if "doc_id" in index.chunks.columns
        else ("sourcedoc",)
    )
    lookup_cols = ["id", *keys, "sid"] + (["primary_category"] if has_cat else [])
    hit_rows = fused_hits.join(index.chunks.select(*lookup_cols), "id")
    if categories and has_cat:
        hit_rows = hit_rows.filter(F.col("primary_category").isin(categories))
    elif categories:
        raise ValueError(
            "category filter requested but the chunks table has no "
            "primary_category column — run categorize/import first"
        )
    return context_range_join(
        hit_rows.select(*keys, "sid", "score"),
        index.chunks,
        cfg.query_context_scope,
        cfg.similarity_threshold,
        cfg.low_similarity_scope_factor,
        key_cols=keys,
    )


def retrieve_context_hits(
    index: ResidentIndex,
    fused_rows: list,
    cfg: KBConfig | None = None,
    categories: list[str] | None = None,
) -> list:
    """Context rows (*keys, hit_sid, sid, text) of one query's fused
    hits, looked up in an in-memory index (``plans/resident.py``)
    — the reference's SQLite point lookups (query/search.py:567-606).

    ``fused_rows``: the k fused rows, each with ``r["id"]`` and
    ``r["score"]``. Same semantics as :func:`retrieve_context`: ids
    absent from the chunks are dropped, the category filter applies to
    the hit, a NULL document key matches nothing, windows are ±scope/2
    sids within the hit's document (shrunk below the similarity
    threshold), and rows come in (keys, hit_sid, sid) order, one per
    (hit, chunk) pair."""
    cfg = cfg or KBConfig()
    chunks = index.chunks
    if categories and "primary_category" not in chunks.column_names:
        raise ValueError(
            "category filter requested but the chunks table has no "
            "primary_category column — run categorize/import first"
        )
    # python twin of operators.range_join.context_range
    half = cfg.query_context_scope // 2
    shrunk = max(int(math.ceil(half * cfg.low_similarity_scope_factor)), 1)
    hits = []
    for r, row in zip(fused_rows, index.rows_of([r["id"] for r in fused_rows])):
        if row < 0 or any(not chunks[k][row].is_valid for k in index.keys):
            continue
        if categories and chunks["primary_category"][row].as_py() not in categories:
            continue
        low = r["score"] is not None and r["score"] < cfg.similarity_threshold
        hits.append((row, shrunk if low else half))
    positions, hit_sids = [], []
    for row, eff in sorted(hits):  # row order is (keys, sid) order
        doc = index.doc_of_row[row]
        start, end = index.doc_offsets[doc], index.doc_offsets[doc + 1]
        sids = index.sid[start:end]
        sid = int(index.sid[row])
        lo = start + np.searchsorted(sids, max(sid - eff, 0), "left")
        hi = start + np.searchsorted(sids, sid + eff, "right")
        positions.extend(range(lo, hi))
        hit_sids.extend([sid] * (hi - lo))
    ctx = chunks.select([*index.keys, "sid", "originaltext"]).take(positions).to_pylist()
    make = Row(*index.keys, "hit_sid", "sid", "text")
    return [
        make(*[c[k] for k in index.keys], h, c["sid"], c["originaltext"])
        for c, h in zip(ctx, hit_sids)
    ]


def hybrid_search_batch(
    index: HybridIndex,
    queries: DataFrame,
    cfg: KBConfig | None = None,
) -> DataFrame:
    """Fused (qid, id, score) for a whole queries DataFrame
    (qid, query_text) — ONE corpus scan per ranker serves every query.

    Query embedding runs through the batch embedder (mapInPandas);
    vector candidates come from the broadcast k-NN join; BM25 scores the
    exploded (qid, term) set against the postings table; fusion is a
    per-qid window. At any corpus size the per-query cost is a broadcast
    row, not a scan — the shape that replaces the reference's per-query
    process loop.
    """
    cfg = cfg or KBConfig()
    from customkb_spark.embedding.embedder import embed_texts
    from customkb_spark.functions.security import (
        MAX_QUERY_LENGTH,
        sanitize_query_col,
    )
    from customkb_spark.operators.topk import knn_join

    # column twin of the single-query sanitize gate: batch and single
    # retrieval must tokenize/embed identical text for the same query.
    # The single path RAISES on empty and oversized queries; rows can't
    # raise, so invalid rows are DROPPED — their qids are simply absent
    # from the result, the batch analogue of the error. (Without the
    # length filter an oversized row would ship an unbounded payload to
    # the embedding provider that the single path refuses.)
    # materialized ONCE (bounded by the query set, not the corpus):
    # the plan re-reads the queries frame in several BROADCAST subtrees
    # (probe pairs, candidate qvec join, BM25 term sets). When the
    # caller's frame is a Python-parallelized local relation
    # (createDataFrame), each broadcast thread re-runs its pickled-RDD
    # scan + the Python embed stage; with every executor slot already
    # held by the main stages those broadcast jobs starve and the query
    # deadlocks (observed at 100k corpus: 30 broadcast-subtree tasks +
    # 2 main-stage stragglers pinned all 32 slots indefinitely). A
    # localCheckpoint turns every downstream read into a JVM-local
    # block fetch — no Python anywhere in a broadcast thread.
    queries = (
        queries.withColumn("query_text", sanitize_query_col("query_text"))
        .filter(
            (F.length("query_text") > 0)
            & (F.length("query_text") <= MAX_QUERY_LENGTH)
        )
        .localCheckpoint()
    )

    # materialize the query embeddings ONCE: the plan consumes qvecs in
    # up to three subtrees (the driver probe collect, the broadcast
    # candidate join, fusion), so without the checkpoint the Python
    # embed stage re-runs per consumer — and the copy inside the
    # BROADCAST exchange thread can deadlock the job outright (observed
    # at 100k corpus: 30 broadcast-subtree tasks + the main stage's
    # stragglers held all 32 slots, none progressing, because every
    # slot was waiting on the same re-computed mapInPandas output).
    # Size is bounded by the query set, not the corpus.
    qvecs = (
        embed_texts(
            queries, "qid", "query_text", cfg.vector_model, cfg.vector_dimensions
        )
        .select(F.col("id").alias("qid"), F.col("vector").alias("qvec"))
        .localCheckpoint()
    )
    vindex = index.vindex
    if (
        vindex is not None
        and getattr(vindex, "kind", "flat") in ("ivf", "ivfpq", "ivfsq")
        and getattr(vindex, "indexed", None) is not None
    ):
        # honor the built index tier, like the single-query path does
        # (vindex.topk above): batch retrieval probes the same nprobe
        # cells per query through ivf_search_batch — the corpus is
        # never scanned in full. IVF: identical results to the single
        # path (same nearest_clusters probes, exact scoring within).
        # IVFPQ: the probed cells come from the PQ coarse quantizer and
        # scoring is EXACT against the raw vectors semi-joined through
        # the code table's cluster_id — same candidate cells as the
        # single path's ADC, but without ADC's within-cell ranking
        # noise (recall ≥ the single path's ADC+refine; a batch ADC
        # would save the raw-vector reads at the cost of that noise).
        from customkb_spark.embedding.index import ivf_search_batch

        if vindex.kind == "ivf":
            src, probe_q = vindex.indexed, qvecs
        else:
            from customkb_spark.functions.vector import l2_normalize

            src = vindex.vectors.join(
                vindex.indexed.select(vindex.id_col, "cluster_id"), vindex.id_col
            )
            # PQ/SQ centroids live in L2-normalized space — probe with
            # the normalized query (cosine scoring is norm-invariant,
            # so scores still equal raw-query cosine). Both code tiers
            # route through the same pruned-exact shape here.
            probe_q = qvecs.select(
                "qid", l2_normalize(F.col("qvec")).alias("qvec")
            )
        vec_hits = ivf_search_batch(
            src,
            vindex.centroids,
            probe_q,
            k=cfg.query_top_k,
            nprobe=min(cfg.faiss_nprobe, len(vindex.centroids)),
            id_col=vindex.id_col,
            vec_col=vindex.vec_col,
        ).select("qid", "id", "score")
    else:
        vec_hits = knn_join(
            qvecs, index.vectors, cfg.query_top_k, "qid", "qvec", "id", "vector"
        ).select("qid", "id", "score")

    # same tokenizer as the postings index (text.bm25_token_set);
    # explode_outer avoids the inferred not-empty filter re-evaluating
    # the tokenizer (see bm25.build_postings)
    terms = queries.select(
        "qid",
        F.explode_outer(
            X.bm25_token_set("query_text", language=cfg.language, ordered=False)
        ).alias("term"),
    ).filter(F.length("term") >= cfg.bm25_min_token_length)
    kw_hits = B.bm25_score_batch(
        index.postings,
        index.term_stats,
        terms,
        index.avgdl,
        cfg.bm25_k1,
        cfg.bm25_b,
        cfg.bm25_max_results,
    )
    if not cfg.enable_hybrid_search:
        return vec_hits
    if cfg.hybrid_fusion_method == "weighted":
        return FU.weighted_fuse_batch(
            vec_hits, kw_hits, cfg.vector_weight, cfg.query_top_k
        )
    return FU.rrf_fuse_batch(vec_hits, kw_hits, cfg.rrf_k, cfg.query_top_k)


def query_batch(
    index: HybridIndex,
    queries: DataFrame,
    cfg: KBConfig | None = None,
) -> DataFrame:
    """Batch retrieval end-to-end: (qid, query_text) → per-query context
    rows (qid, sourcedoc, hit_sid, sid, text). The context range join
    carries qid through, so one broadcast of all hits expands every
    query's windows in a single chunks scan."""
    cfg = cfg or KBConfig()
    fused = hybrid_search_batch(index, queries, cfg)
    # doc-scoped context keys — same rationale as retrieve_context
    keys = (
        ["sourcedoc", "doc_id"]
        if "doc_id" in index.chunks.columns
        else ["sourcedoc"]
    )
    hit_rows = fused.join(index.chunks.select("id", *keys, "sid"), "id")
    from customkb_spark.operators.range_join import context_range

    bounds = F.broadcast(
        context_range(
            hit_rows, cfg.query_context_scope, cfg.similarity_threshold,
            cfg.low_similarity_scope_factor,
        ).select(
            "qid",
            *[F.col(k).alias(f"h_{k}") for k in keys],
            F.col("sid").alias("hit_sid"),
            "lo",
            "hi",
        )
    )
    chunks = index.chunks
    cond = chunks["sid"].between(bounds["lo"], bounds["hi"])
    for k in keys:
        cond = (chunks[k] == bounds[f"h_{k}"]) & cond
    joined = chunks.join(bounds, cond)
    return joined.select(
        "qid", *keys, "hit_sid", "sid", F.col("originaltext").alias("text")
    ).orderBy("qid", *keys, "hit_sid", "sid")


def rag_batch(
    index: HybridIndex,
    queries: DataFrame,
    cfg: KBConfig | None = None,
    fmt: str = "plain",
    model: str = "stub-extractive",
) -> DataFrame:
    """Fully-distributed batch RAG: (qid, query_text) → retrieval →
    per-qid reference strings → provider answers, with NO driver-side
    per-query work — retrieval is one corpus scan per ranker
    (hybrid_search_batch), formatting is one shuffle
    (format_references_batch), answering is one mapInPandas
    (answer_batch). Returns (qid, query_text, reference_string,
    answer). Queries with no context rows answer from an empty
    reference (the reference's no-results path)."""
    from customkb_spark.plans.answer import answer_batch
    from customkb_spark.plans.formatters import format_references_batch

    ctx = query_batch(index, queries, cfg)
    refs = format_references_batch(ctx, fmt)
    pairs = queries.join(refs, "qid", "left").select(
        "qid",
        "query_text",
        F.coalesce(F.col("reference_string"), F.lit("")).alias("reference_string"),
    )
    return answer_batch(pairs, query_col="query_text")


def rerank(
    index: HybridIndex,
    fused: DataFrame,
    query_text: str,
    cfg: KBConfig,
    rerank_cache: DataFrame | None = None,
    rerank_cache_sink=None,
) -> DataFrame:
    """The fused head re-ordered by the rerank stage (M3/T4): (id,
    score) of the top ``query_top_k`` by final rank. ``rerank_cache``
    (pair_key, rerank_score) short-circuits already-scored pairs and
    ``rerank_cache_sink(new_entries_df)`` receives the write-back rows
    (reference rerank_manager.py:48-119)."""
    from customkb_spark.operators.rerank import rerank_hits, rerank_hits_cached

    q_terms = query_terms(query_text, min_len=1, language=cfg.language)
    if rerank_cache is not None or rerank_cache_sink is not None:
        from customkb_spark.functions import cache_stats

        probe_stats: dict = {}
        reranked, new_entries = rerank_hits_cached(
            fused,
            index.chunks,
            query_text,
            q_terms,
            rerank_cache,
            cfg.reranking_top_k,
            id_col="id",
            text_col="originaltext",
            stats=probe_stats,
        )
        if probe_stats:
            cache_stats.record(cache_stats.RERANK_CACHE, **probe_stats)
        if rerank_cache_sink is not None:
            rerank_cache_sink(new_entries)
    else:
        reranked = rerank_hits(
            fused,
            index.chunks,
            q_terms,
            cfg.reranking_top_k,
            id_col="id",
            text_col="originaltext",
        )
    return reranked.orderBy("final_rank").limit(cfg.query_top_k).select("id", "score")


def query(
    index: HybridIndex,
    query_text: str,
    cfg: KBConfig | None = None,
    query_vec: list[float] | None = None,
    categories: list[str] | None = None,
    query_cache_path: str | None = None,
    rerank_cache: DataFrame | None = None,
    rerank_cache_sink=None,
) -> DataFrame:
    """Full pipeline as one Spark plan: text in → ordered context rows
    (*keys, hit_sid, sid, text) out (the reference's --context-only
    semantics, processing.py:262-264). With cfg.enable_reranking the
    fused head passes through :func:`rerank` before context retrieval."""
    fused = hybrid_search(index, query_text, query_vec, cfg, query_cache_path)
    cfg = cfg or KBConfig()
    if cfg.enable_reranking:
        fused = rerank(index, fused, query_text, cfg, rerank_cache, rerank_cache_sink)
    return retrieve_context(index, fused, cfg, categories)
