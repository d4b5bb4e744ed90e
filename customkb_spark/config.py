"""Layered knowledgebase configuration.

Mirrors the reference's five config sections and precedence
(env var > cfg file > defaults; reference: config/models.py:23-42,
config/config_manager.py:207-296) without the Pydantic dependency.
Only the knobs that drive query/data semantics are modeled; pure
single-node performance knobs (memory tiers, thread pools) are replaced
by Spark confs.
"""

from __future__ import annotations

import configparser
import os
from dataclasses import dataclass, field, fields


@dataclass
class KBConfig:
    # [DEFAULT] — reference config/models.py:45-105
    vector_model: str = "stub-hash-embed"  # deterministic local stub by default
    vector_dimensions: int = 64
    db_max_tokens: int = 200
    language: str = "en"  # BM25 stopword gate (reference database -l)
    detect_language: bool = False  # per-doc heuristic lang column on ingest

    # [ALGORITHMS] — reference config/models.py:139-190
    similarity_threshold: float = 0.6
    low_similarity_scope_factor: float = 0.5
    enable_hybrid_search: bool = True
    hybrid_fusion_method: str = "rrf"  # rrf | weighted
    rrf_k: int = 60
    vector_weight: float = 0.7  # weighted fusion (reference search.py:383-405)
    bm25_k1: float = 1.2
    bm25_b: float = 0.75
    bm25_min_token_length: int = 2
    bm25_max_results: int = 1000
    enable_reranking: bool = False
    reranking_top_k: int = 20
    faiss_nprobe: int = 32

    # [LIMITS]/[PERFORMANCE] — only the semantics-relevant subset
    query_top_k: int = 50
    query_context_scope: int = 4
    query_cache_ttl_days: float = 7.0  # reference query/embedding.py:95
    max_file_size_mb: int = 100

    # Index-tier auto-selection (reference get_optimal_faiss_index,
    # embed_manager.py:163-213: Flat < small_dataset_threshold ≤ IVF <
    # medium_dataset_threshold ≤ IVFPQ); ann_index="auto" applies it,
    # or force "flat" | "ivf" | "ivfpq"
    ann_index: str = "auto"
    small_dataset_threshold: int = 1000
    medium_dataset_threshold: int = 100_000
    # Large-tier memory budget for the RESIDENT code table (MB, cluster
    # aggregate — the codes are partitioned across executors, never
    # replicated). SQ8 codes cost dims bytes/vector and, measured on
    # the clustered 100k benchmark (BASELINE.md), beat IVFPQ on query
    # latency at near-equal recall (0.975 refine-free vs refine-pass
    # PQ) — so auto prefers ivfsq whenever n·dims bytes fit here and
    # falls back to ivfpq (pq_m bytes/vector, 8-32× smaller) when they
    # don't. 1 GiB default suits local[32]; on a real cluster set to
    # executors × the cache slice you can spare. The same budget gates
    # the in-process serving index (plans/resident.py): when its size
    # estimate fits, single queries run from Python memory with no
    # Spark job; over it, they run as Spark plans.
    index_memory_budget_mb: int = 1024
    ivf_centroid_multiplier: int = 4
    max_centroids: int = 256
    pq_m: int = 8
    pq_nbits: int = 8
    # exact-refine pool = k × this (FAISS IndexRefineFlat's k_factor).
    # Measured on planted-cluster corpora (tools/recall_clustered.py,
    # 100k × 64, 200 clusters): recall@10 at pool 80 = 0.78, 160 =
    # 0.94, 320 = 1.00 with m=8 codes. A few hundred exact re-scores
    # per query is noise next to the pruned ADC scan; doubling m
    # instead would double the CORPUS-side code storage.
    pq_refine_factor: int = 32
    # OPQ (Ge et al. 2014): learn an orthonormal rotation before PQ
    # coding (embedding/pq.learn_opq_rotation — eigen-balanced init +
    # Procrustes refinement on the training sample). Cuts quantization
    # error ~25-40% on anisotropic/correlated embeddings (test_opq),
    # identical plan shapes and storage; costs one extra driver-side
    # d×d SVD per train. Off by default to keep parity with the
    # reference's plain-IVFPQ ladder.
    pq_opq: bool = False

    @classmethod
    def from_file(cls, path: str | None = None, env: dict | None = None) -> "KBConfig":
        """Load with env > cfg > default precedence.

        Env var name for field ``x`` is ``CUSTOMKB_X`` (the reference
        uses the same uppercase-field convention, config/models.py:23-42).
        """
        values: dict = {}
        if path and os.path.exists(path):
            parser = configparser.ConfigParser()
            parser.read(path)
            flat: dict[str, str] = dict(parser.defaults())
            for section in parser.sections():
                flat.update(dict(parser.items(section)))
            for f in fields(cls):
                if f.name in flat:
                    values[f.name] = _coerce(flat[f.name], f.type)
        env = env if env is not None else os.environ
        for f in fields(cls):
            key = f"CUSTOMKB_{f.name.upper()}"
            if key in env:
                values[f.name] = _coerce(env[key], f.type)
        return cls(**values)


def _coerce(raw: str, typ) -> object:
    t = str(typ)
    if "bool" in t:
        return str(raw).strip().lower() in ("1", "true", "yes", "on")
    if "int" in t:
        return int(raw)
    if "float" in t:
        return float(raw)
    return raw
