"""Scalar quantization (SQ8) — the FAISS IndexScalarQuantizer tier
between flat float vectors and PQ codes.

Where it sits (reference embed_manager.py:163-213 picks Flat/IVF/IVFPQ;
FAISS's own family adds SQ8 between them): uint8 per dimension = dim
bytes/vector — a fixed 4× cut vs float32 with near-exact recall,
versus PQ's 32-256× cut that needs an exact-refine pass to recover
ranking. SQ8 is the right tier when the corpus fits at 4× reduction
and you want to skip the refine scan entirely.

Spark shapes (mirrors embedding/pq.py):

  train:  per-dimension (min, scale) from a seeded driver sample —
          two numpy reductions, no iteration.
  encode: one Arrow-batched pass → ``sq_code array<smallint>`` (+
          ``cluster_id`` when IVF centroids are given, FAISS
          IVFScalarQuantizer semantics — codes quantize the RAW
          vector, not the residual: SQ's per-dim grid doesn't benefit
          from residualizing the way PQ codebooks do, and skipping it
          keeps decode cell-independent).
  search: the asymmetric score is an exact linear function of the
          code — q·x̂ = q·vmin + Σᵢ (qᵢ·sᵢ)·cᵢ — so scoring is one
          JVM ``zip_with``/``aggregate`` over the code array against a
          broadcast weight literal: no Python, no shuffle, and with
          centroids the nprobe cluster filter prunes the scan exactly
          like ivf_search. L2 uses the same per-dim form
          Σᵢ (aᵢ − sᵢcᵢ)² with aᵢ = qᵢ − vminᵢ.

Unlike pq_topk there is no per-cell LUT: (vmin, scale) are GLOBAL, so
one weight array serves every probed cell — the broadcast payload is
2×dim doubles regardless of nlist.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customkb_spark.embedding.index import nearest_clusters, sample_vectors


@dataclass
class SQModel:
    """Per-dimension affine grid: x̂ᵢ = vminᵢ + scaleᵢ·codeᵢ,
    code ∈ [0, 2^nbits − 1]."""

    vmin: np.ndarray
    scale: np.ndarray
    nbits: int = 8
    centroids: np.ndarray | None = None  # optional IVF coupling

    @property
    def dim(self) -> int:
        return len(self.vmin)

    @property
    def levels(self) -> int:
        return (1 << self.nbits) - 1


def train_sq(
    vectors: DataFrame,
    vec_col: str = "vector",
    nbits: int = 8,
    centroids: np.ndarray | None = None,
    sample_size: int = 10_000,
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> SQModel:
    """Per-dim (min, scale) from a seeded uniform sample (FAISS
    QT_8bit train: per-dim min/max over the training set). Degenerate
    dims (max == min) get scale 0 — every code is 0 and decodes to the
    constant, exact by construction."""
    if sample is None:
        sample = sample_vectors(vectors, vec_col, sample_size, seed)
    vmin = sample.min(axis=0)
    vmax = sample.max(axis=0)
    span = vmax - vmin
    levels = (1 << nbits) - 1
    scale = np.where(span > 0, span / levels, 0.0)
    return SQModel(vmin.astype(np.float64), scale.astype(np.float64), nbits, centroids)


def sq_encode_rows(x: np.ndarray, model: SQModel) -> tuple[np.ndarray | None, np.ndarray]:
    """(cluster ids or None, int16 codes) of the float64 rows ``x`` —
    the numpy body of :func:`encode_sq`, which the driver-side tier
    absorb (embedding/store.py) also runs.

    Values outside the trained range clip to the grid edges (FAISS
    QT_8bit behavior) — the sample bounds the grid, outliers saturate."""
    from customkb_spark.embedding.pq import _assign_nearest

    vmin, scale = model.vmin, model.scale
    cluster = None
    if model.centroids is not None:
        cluster = _assign_nearest(x, model.centroids).astype(np.int32)
    # divide only where the grid has extent; constant dims stay code 0
    inv = np.where(scale > 0, 1.0 / np.where(scale > 0, scale, 1.0), 0.0)
    codes = np.clip(
        np.rint((x - vmin[None, :]) * inv[None, :]), 0, model.levels
    ).astype(np.int16)
    return cluster, codes


def encode_sq(
    vectors: DataFrame,
    model: SQModel,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """(id[, cluster_id], sq_code): one vectorized Arrow pass of
    :func:`sq_encode_rows`."""
    fields = [T.StructField(id_col, vectors.schema[id_col].dataType)]
    if model.centroids is not None:
        fields.append(T.StructField("cluster_id", T.IntegerType()))
    fields.append(T.StructField("sq_code", T.ArrayType(T.ShortType())))
    schema = T.StructType(fields)
    src = vectors.select(id_col, vec_col)

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].values]
            )
            cluster, codes = sq_encode_rows(x, model)
            out = {id_col: pdf[id_col]}
            if cluster is not None:
                out["cluster_id"] = cluster
            out["sq_code"] = list(codes)
            yield pd.DataFrame(out)

    return src.mapInPandas(enc, schema=schema)


def sq_topk(
    encoded: DataFrame,
    model: SQModel,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 8,
    metric: str = "ip",
    id_col: str = "id",
) -> DataFrame:
    """Top-k by the exact score of the DEQUANTIZED vector — one JVM
    expression over the code array, no Python, no refine needed (the
    quantization error IS the only approximation, ~0.2% of the value
    range per dim at 8 bits).

    ``metric='ip'``: q·x̂ = q·vmin + Σᵢ wᵢcᵢ with wᵢ = qᵢ·scaleᵢ
    (weights broadcast as one literal array — global, cell-independent).
    ``metric='l2'``: Σᵢ (aᵢ − scaleᵢ·cᵢ)², aᵢ = qᵢ − vminᵢ.
    """
    q = np.asarray(query_vec, dtype=np.float64)
    asc = metric != "ip"
    src = encoded
    if model.centroids is not None:
        probes = nearest_clusters(query_vec, model.centroids, nprobe)
        src = encoded.filter(F.col("cluster_id").isin([int(c) for c in probes]))
    if metric == "ip":
        w = F.lit((q * model.scale).tolist())
        bias = float(q @ model.vmin)
        contrib = F.zip_with(
            F.col("sq_code").cast("array<double>"), w, lambda c, wi: c * wi
        )
        score = F.aggregate(contrib, F.lit(bias), lambda acc, x: acc + x)
    else:
        a = F.lit((q - model.vmin).tolist())
        s = F.lit(model.scale.tolist())
        diff = F.zip_with(
            F.zip_with(F.col("sq_code").cast("array<double>"), s, lambda c, si: c * si),
            a,
            lambda cs, ai: (ai - cs) * (ai - cs),
        )
        score = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
    scored = src.select(
        F.col(id_col).alias("id"), F.round(score, 6).alias("sq_score")
    )
    return scored.orderBy(
        F.asc("sq_score") if asc else F.desc("sq_score"), F.asc("id")
    ).limit(k)
