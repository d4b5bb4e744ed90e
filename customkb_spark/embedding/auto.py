"""Index-tier auto-selection — reference get_optimal_faiss_index
(embed_manager.py:163-213): Flat for small corpora, IVF-Flat for
medium, IVF-PQ for large; high-dimensional vectors stay Flat because
training cost/quality degrades. This repo adds a measured SQ8 rung
between them (select_index_kind docstring; VERDICT r6 #6).

The Spark translation: the "index" is a derived table —

    flat   → the vectors table itself (exact TakeOrdered scan)
    ivf    → vectors + cluster_id (nprobe scan prunes clusters;
             partition pruning when written PARTITIONED BY cluster_id)
    ivfsq  → int8 scalar-quantized codes (dims bytes/row), exact
             dequantized scoring, no refine — taken when the code
             table fits cfg.index_memory_budget_mb
    ivfpq  → residual PQ codes (m×2 bytes/row instead of dim×4) +
             ADC scoring with exact refine against the raw vectors

Centroid counts follow the reference: min(multiplier·√n, max_centroids)
for medium, 2× the cap for large; PQ subquantizers min(16, dims/64)
clamped to a divisor of dims.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from customkb_spark.config import KBConfig
from customkb_spark.embedding.index import assign_clusters, ivf_search, train_centroids
from customkb_spark.embedding.pq import PQModel, encode_pq, pq_topk, train_pq
from customkb_spark.operators.topk import brute_force_topk

HIGH_DIM_THRESHOLD = 1536  # reference embed_manager.py:179


class _SavedIndexed:
    """``VectorIndexTier.indexed``, which a saved tier (``indexed_path``
    set) reads when first used: listing its ``cluster_id=`` directories
    costs Spark jobs, and a caller serving from memory never plans over
    it."""

    def __get__(self, tier, owner=None):
        if tier is None:
            return None  # the dataclass default
        if tier._indexed is None and tier.indexed_path is not None:
            tier._indexed = SparkSession.active().read.parquet(tier.indexed_path)
        return tier._indexed

    def __set__(self, tier, value):
        tier._indexed = value


@dataclass
class VectorIndexTier:
    kind: str  # flat | ivf | ivfpq
    vectors: DataFrame | None  # raw (id, vector) — always kept for exact/refine
    id_col: str
    vec_col: str
    centroids: np.ndarray | None = None
    indexed: DataFrame | None = _SavedIndexed()  # +cluster_id (ivf) / pq codes (ivfpq)
    pq: PQModel | None = None
    refine_factor: int = 32  # cfg.pq_refine_factor (see config.py note)
    sq: object | None = None  # SQModel (ivfsq tier, embedding/sq.py)
    indexed_path: str | None = None  # a saved tier's ``indexed`` table

    def topk(self, query_vec: list[float], k: int, nprobe: int = 32) -> DataFrame:
        """(id, score) top-k under this tier's search strategy."""
        if self.kind == "ivfsq":
            # SQ8 scores the dequantized vector exactly — no refine
            # pass (the tier's point vs ivfpq); codes were built on
            # L2-normalized vectors so IP ≡ cosine
            from pyspark.sql import functions as F

            from customkb_spark.embedding.sq import sq_topk

            q = np.asarray(query_vec, dtype=np.float64)
            qn = (q / (np.linalg.norm(q) or 1.0)).tolist()
            return sq_topk(
                self.indexed, self.sq, qn, k,
                min(nprobe, len(self.centroids)), "ip", self.id_col,
            ).select("id", F.col("sq_score").alias("score"))
        if self.kind == "ivf":
            return ivf_search(
                self.indexed, self.centroids, query_vec, k,
                min(nprobe, len(self.centroids)), self.id_col, self.vec_col,
            )
        if self.kind == "ivfpq":
            # codes were trained/encoded on L2-NORMALIZED vectors, so
            # ADC inner product ≡ cosine; the exact refine re-scores
            # against the raw vectors with cosine (norm-invariant)
            from pyspark.sql import functions as F

            q = np.asarray(query_vec, dtype=np.float64)
            qn = (q / (np.linalg.norm(q) or 1.0)).tolist()
            # ASK pq_topk for the whole refine pool (k × factor): it
            # returns exactly its k argument, so limiting ITS k-row
            # output to k×8 afterwards is a no-op — the r6 bug that
            # silently collapsed the refine pool to k and capped
            # clustered recall at raw-ADC@k (locked by
            # test_auto_tier_clustered_recall_at_scale)
            pool = k * self.refine_factor
            adc = pq_topk(
                self.indexed, self.pq, qn, pool,
                min(nprobe, len(self.pq.centroids)), "ip", self.id_col,
            )
            cands = F.broadcast(adc.select(F.col("id").alias("_cid")))
            exact_src = self.vectors.join(
                cands, F.col(self.id_col) == F.col("_cid")
            ).drop("_cid")
            return brute_force_topk(exact_src, query_vec, k, self.id_col, self.vec_col)
        return brute_force_topk(self.vectors, query_vec, k, self.id_col, self.vec_col)


def select_index_kind(n: int, dims: int, cfg: KBConfig) -> str:
    """The reference's size/dimension ladder (embed_manager.py:177-213)
    extended with the measured SQ8 rung (VERDICT r6 #6):

        flat   — n < small_dataset_threshold, or dims > 1536 (training
                 cost/quality degrades; reference behavior)
        ivf    — small ≤ n < medium: float32 vectors + cluster pruning
        ivfsq  — n ≥ medium AND the SQ8 code table (n·dims bytes) fits
                 cfg.index_memory_budget_mb: dequantized-exact scoring,
                 NO refine scan. Measured frontier (BASELINE.md
                 clustered 100k×256 table): recall@10 0.975 refine-free
                 at 4× smaller-than-float storage and lower query
                 latency than ivfpq's ADC+refine at near-equal recall.
        ivfpq  — n ≥ medium and SQ8 codes exceed the budget: pq_m
                 bytes/vector (8-32× smaller than SQ8) + exact refine.
    """
    if cfg.ann_index != "auto":
        return cfg.ann_index
    if dims > HIGH_DIM_THRESHOLD or n < cfg.small_dataset_threshold:
        return "flat"
    if n < cfg.medium_dataset_threshold:
        return "ivf"
    if n * dims <= cfg.index_memory_budget_mb * (1 << 20):
        return "ivfsq"
    return "ivfpq"


def _n_centroids(n: int, cfg: KBConfig, large: bool) -> int:
    """Reference formula min(multiplier·√n, cap), additionally clamped
    to n/39 — FAISS's minimum-training-points-per-centroid guidance;
    the reference's ×4 multiplier assumes ≥100k corpora where the cap
    binds, and overclusters small ones (undertrained centroids make
    residual-PQ codes noise)."""
    cap = cfg.max_centroids * (2 if large else 1)
    return max(1, min(int(cfg.ivf_centroid_multiplier * (n**0.5)), cap, n // 39 or 1))


def _pq_m(dims: int, cfg: KBConfig) -> int:
    """Subquantizer count, clamped to a divisor of dims (train_pq
    requires m | dims). The reference uses min(16, dims/64), which
    assumes ≥1024-dim embeddings — at 64 dims it degenerates to m=1
    (one codeword for the whole vector, quantization error swamps the
    signal). We target a sub-vector width of ~8 dims instead, capped by
    cfg.pq_m — same values as the reference at 1024+, sane at small
    dims."""
    target = max(1, min(cfg.pq_m, 16, dims // 8 or 1))
    while dims % target:
        target -= 1
    return target


def build_vector_index(
    vectors: DataFrame,
    cfg: KBConfig | None = None,
    id_col: str = "id",
    vec_col: str = "vector",
    n: int | None = None,
) -> VectorIndexTier:
    """One-time derived-table build for the selected tier. ``n`` avoids
    a count when the caller already knows the corpus size."""
    cfg = cfg or KBConfig()
    if n is None:
        n = vectors.count()
    first = vectors.select(vec_col).first()
    dims = len(first[0]) if first else 0
    kind = select_index_kind(n, dims, cfg)

    def _train_sample(nlist: int) -> int:
        # FAISS guideline: ≥39 training points per centroid. A fixed
        # 10k sample undertrains at the large-tier nlist (20/centroid
        # at nlist 512); the measured effect is cell quality — on the
        # clustered 100k×256 benchmark the 39×nlist sample reaches
        # recall 1.0 probing 1.3% of the corpus vs 10.6% for the 10k
        # sample at the same recall (BASELINE.md clustered table).
        return max(10_000, 39 * nlist)

    if kind == "ivf":
        nlist = _n_centroids(n, cfg, False)
        cents = train_centroids(
            vectors, vec_col, nlist, sample_size=_train_sample(nlist)
        )
        return VectorIndexTier(
            "ivf", vectors, id_col, vec_col,
            centroids=cents,
            indexed=assign_clusters(vectors, cents, vec_col).cache(),
        )
    if kind == "ivfsq":
        # SQ8 codes at dim bytes/vector, exact dequantized scoring, no
        # refine scan — FAISS IndexIVFScalarQuantizer's slot. Auto
        # selects it for large corpora whose code table fits
        # cfg.index_memory_budget_mb (select_index_kind); also
        # reachable explicitly via cfg.ann_index="ivfsq".
        from customkb_spark.embedding.index import sample_vectors
        from customkb_spark.embedding.sq import encode_sq, train_sq
        from customkb_spark.functions.vector import l2_normalized_frame
        from pyspark.sql import functions as F

        normed = l2_normalized_frame(vectors.select(id_col, vec_col), vec_col)
        nlist = _n_centroids(n, cfg, False)
        sample = sample_vectors(normed, vec_col, _train_sample(nlist), 42)
        cents = train_centroids(normed, vec_col, nlist, sample=sample)
        model = train_sq(normed, vec_col, centroids=cents, sample=sample)
        return VectorIndexTier(
            "ivfsq", vectors, id_col, vec_col,
            centroids=cents,
            indexed=encode_sq(normed, model, id_col, vec_col).cache(),
            sq=model,
        )
    if kind == "ivfpq":
        from customkb_spark.embedding.index import sample_vectors
        from customkb_spark.functions.vector import l2_normalized_frame
        from pyspark.sql import functions as F

        # train/encode on L2-normalized vectors so ADC inner product is
        # exactly cosine; the raw table is kept for the refine pass
        normed = l2_normalized_frame(vectors.select(id_col, vec_col), vec_col)
        nlist = _n_centroids(n, cfg, True)
        # one driver-side collect feeds both trainers
        sample = sample_vectors(normed, vec_col, _train_sample(nlist), 42)
        cents = train_centroids(normed, vec_col, nlist, sample=sample)
        model = train_pq(
            normed, vec_col, _pq_m(dims, cfg), cfg.pq_nbits,
            centroids=cents, sample=sample, opq=cfg.pq_opq,
        )
        return VectorIndexTier(
            "ivfpq", vectors, id_col, vec_col,
            centroids=cents,
            indexed=encode_pq(normed, model, id_col, vec_col).cache(),
            pq=model,
            refine_factor=cfg.pq_refine_factor,
        )
    return VectorIndexTier("flat", vectors, id_col, vec_col)
