"""IVF-style ANN index — the one genuinely custom engine component
(SURVEY.md §4, "needs a custom Spark component").

Mirrors FAISS IndexIVFFlat semantics (reference embed_manager.py:163-213,
nprobe search query/search.py:223-231) as a derived-table + pruned-scan
pattern:

  build:  sample vectors → k-means centroids (small, driver/NumPy —
          same as FAISS training on a ≤10k sample) → assign every
          vector its nearest centroid id with one Arrow-batched numpy
          matmul per batch → vectors table carries ``cluster_id``.
          At 100 TB: write the vectors table PARTITIONED BY cluster_id
          so probes become partition pruning, not filters.

  search: query → nprobe nearest centroids (driver, tiny) →
          scan only those clusters → exact top-k within.

Recall/speed trades exactly like IVFFlat: nprobe=nlist ⇒ exact.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from customkb_spark.functions import vector as V
from customkb_spark.operators.topk import brute_force_topk


def sample_vectors(
    vectors: DataFrame, vec_col: str, sample_size: int, seed: int
) -> np.ndarray:
    """Seeded *uniform* Bernoulli sample collected to the driver —
    ``limit(n)`` would take the first partitions only, which on an
    ingest-ordered corpus trains on one corner of the distribution and
    silently degrades recall at scale.

    The transfer goes through Arrow ``toPandas()``: ``collect()`` on an
    array<double> column boxes every element through py4j (measured
    57 s for a 20k × 256 sample — it was the DOMINANT cost of the whole
    ivfpq build); the Arrow path moves the same sample in ~1 s."""
    proj = vectors.select(vec_col)
    n_rows = proj.count()
    if n_rows > sample_size:
        # oversample 20% so the Bernoulli draw rarely undershoots,
        # then trim deterministically
        fraction = min(1.0, 1.2 * sample_size / n_rows)
        proj = proj.sample(fraction=fraction, seed=seed).limit(sample_size)
    try:
        vals = proj.toPandas()[vec_col].values
        if not len(vals):
            return np.empty((0, 0), dtype=np.float64)
        return np.stack([np.asarray(v, dtype=np.float64) for v in vals])
    except Exception:  # Arrow unavailable → the boxed fallback
        return np.array([r[0] for r in proj.collect()], dtype=np.float64)


def lloyd_kmeans(
    sample: np.ndarray, k: int, iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Plain Lloyd's on an in-memory sample (driver-side, same as FAISS
    training on a ≤10k sample, embed_manager.py:694-715).

    Assignment uses the BLAS form ``argmin(|c|² − 2·x·Cᵀ)`` — the
    per-row |x|² term cannot change the argmin — so the working set is
    one (n_sample × k) matrix. The naive broadcast subtraction
    materializes an (n_sample × k × dim) temp, which at the large-tier
    defaults (10k sample × 512 centroids × 256 dims, float64) is a
    ~10 GB allocation per iteration; FAISS trains its coarse quantizer
    with the same matmul shape. Per-cluster means come from one
    bincount pass instead of a Python loop over k."""
    rng = np.random.default_rng(seed)
    k = min(k, len(sample))
    sample = np.ascontiguousarray(sample, dtype=np.float64)
    centroids = sample[rng.choice(len(sample), k, replace=False)].copy()
    for _ in range(iters):
        d2 = (centroids * centroids).sum(axis=1)[None, :] - 2.0 * (sample @ centroids.T)
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, sample)
        nonempty = counts > 0
        centroids[nonempty] = sums[nonempty] / counts[nonempty, None]
    return centroids


def train_centroids(
    vectors: DataFrame,
    vec_col: str = "vector",
    nlist: int = 16,
    sample_size: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Lloyd's k-means on a seeded uniform driver-side sample.
    ``sample`` short-circuits the collection — callers training several
    artifacts from the same corpus (IVF + PQ) collect once."""
    if sample is None:
        sample = sample_vectors(vectors, vec_col, sample_size, seed)
    return lloyd_kmeans(sample, nlist, iters, seed)


#: largest nlist at which the literal-expression reference kernel
#: (``method="expr"``) still plans in reasonable time: its expression
#: tree is O(nlist × dim) literal nodes, and Catalyst analysis of it
#: grows to minutes at FAISS-scale nlist (4k-64k). Production assignment
#: always takes the matmul kernel (BASELINE.md, "Measured
#: centroid-assignment tiers"); tests keep the reference below this.
ASSIGN_EXPR_MAX_NLIST = 256


def _matmul_assign_udf(centroids: np.ndarray, with_sim: bool, sc=None):
    """Arrow-batched pandas UDF holding the centroid matrix: one
    ``(batch × nlist)`` numpy matmul per Arrow batch.

    With ``sc`` (a SparkContext) the matrix ships as a Spark BROADCAST
    — fetched once per executor, read from local disk by every reused
    python worker. Closure serialization would instead re-transfer the
    matrix through the executor→worker command pipe per task, which at
    the tier this path exists for (nlist=64k × dim=1024 → 512 MB, the
    footprint FAISS's coarse quantizer holds per node) turns a
    hundred-task stage into hundreds of GB of pipe traffic.

    The assignment is ``pq._assign_nearest``, the one nearest-centroid
    kernel (the driver-side tier absorb in embedding/store.py runs it
    too): argmin over ``d2 = |c|² − 2·x·C`` with numpy's first-minimum
    tiebreak — matching the reference expression kernel's
    ``array_position(d, array_min(d))`` first-match semantics."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cm = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    bc = sc.broadcast(Cm) if sc is not None else None

    def _mat():
        return bc.value if bc is not None else Cm

    if not with_sim:

        @pandas_udf("int")
        def _assign(vs):
            from customkb_spark.embedding.pq import _assign_nearest

            if not len(vs):
                return pd.Series([], dtype="int32")
            X = np.array([np.asarray(v, dtype=np.float64) for v in vs])
            return pd.Series(_assign_nearest(X, _mat()).astype(np.int32))

        return _assign

    @pandas_udf("struct<cluster_id:int,centroid_sim:double>")
    def _assign_sim(vs):
        if not len(vs):
            return pd.DataFrame({"cluster_id": pd.Series([], dtype="int32"),
                                 "centroid_sim": pd.Series([], dtype="float64")})
        C = _mat()
        c2 = (C * C).sum(axis=1)
        cnorm = np.sqrt(c2)
        X = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        dots = X @ C.T
        assign = (c2[None, :] - 2.0 * dots).argmin(axis=1)
        rows = np.arange(len(X))
        xnorm = np.sqrt((X * X).sum(axis=1))
        denom = xnorm * cnorm[assign]
        sim = np.divide(
            dots[rows, assign], denom, out=np.zeros(len(X)), where=denom > 0
        )
        return pd.DataFrame(
            {"cluster_id": assign.astype(np.int32), "centroid_sim": np.round(sim, 6)}
        )

    return _assign_sim


def assign_clusters(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "vector",
    method: str = "matmul",
) -> DataFrame:
    """Add ``cluster_id`` = argmin L2 distance to centroid (first-minimum
    tiebreak), with the Arrow-batched pandas UDF doing one
    ``(batch × nlist)`` numpy matmul — FAISS's one-BLAS-matmul
    assignment (reference embed_manager.py:694-715). The plan holds one
    UDF node at any nlist.

    ``method="expr"`` is the reference kernel the tests compare against:
    a pure column expression (array of distances → array_position of
    min) whose plan is O(nlist × dim) literal nodes, so it plans in
    reasonable time only up to :data:`ASSIGN_EXPR_MAX_NLIST`.
    """
    if method != "expr":
        udf = _matmul_assign_udf(
            centroids, with_sim=False, sc=vectors.sparkSession.sparkContext
        )
        return vectors.withColumn("cluster_id", udf(F.col(vec_col)))
    dists = F.array(
        *[
            V.l2_distance(F.col(vec_col), F.lit(c.tolist()).cast("array<double>"))
            for c in centroids
        ]
    )
    return vectors.withColumn(
        "cluster_id",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )


def assign_with_centroid_sim(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "vector",
    method: str = "matmul",
) -> DataFrame:
    """``assign_clusters`` + ``centroid_sim`` = round(cosine(vec, own
    centroid), 6) in one pass — the SemDeDup keep-policy input
    (operators/dedup.semdedup_apply). The matmul kernel reads the cosine
    out of the same dot-product matrix the argmin already computed — one
    UDF, no second pass over the vectors.

    ``method="expr"`` is the reference kernel (see
    :func:`assign_clusters`): it indexes a centroid array literal with
    ``element_at``.
    """
    if method != "expr":
        udf = _matmul_assign_udf(
            centroids, with_sim=True, sc=vectors.sparkSession.sparkContext
        )
        packed = vectors.withColumn("_asim", udf(F.col(vec_col)))
        return (
            packed.withColumn("cluster_id", F.col("_asim.cluster_id"))
            .withColumn("centroid_sim", F.col("_asim.centroid_sim"))
            .drop("_asim")
        )
    assigned = assign_clusters(vectors, centroids, vec_col, method="expr")
    cent_arr = F.array(
        *[F.lit([float(x) for x in c]).cast("array<double>") for c in centroids]
    )
    return assigned.withColumn(
        "centroid_sim",
        F.round(
            V.cosine(
                F.col(vec_col),
                F.element_at(cent_arr, F.col("cluster_id") + 1),
            ),
            6,
        ),
    )


def nearest_clusters(query_vec: list[float], centroids: np.ndarray, nprobe: int) -> list[int]:
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q) ** 2).sum(axis=1)
    # stable sort: exact distance ties (e.g. duplicated centroids after
    # an emptied k-means cell) break by lower cluster_id, matching the
    # distributed probe UDF and SQL_ANN_IVF's ORDER BY d, cluster_id —
    # numpy's default quicksort is NOT stable and could disagree
    return [int(i) for i in d2.argsort(kind="stable")[:nprobe]]


def _probe_clusters_udf(centroids: np.ndarray, nprobe: int):
    """Arrow-batched twin of :func:`nearest_clusters`: per query row,
    the ``nprobe`` nearest cluster ids by L2 with argsort's stable
    index tiebreak — the distributed probe path for
    :func:`ivf_search_batch` (no driver loop over the query set)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    c2 = (C * C).sum(axis=1)
    k = min(nprobe, len(C))

    @pandas_udf("array<int>")
    def _probe(vs):
        out = []
        for v in vs:
            x = np.asarray(v, dtype=np.float64)
            d2 = c2 - 2.0 * (C @ x) + (x @ x)
            out.append([int(i) for i in d2.argsort(kind="stable")[:k]])
        return pd.Series(out)

    return _probe


def ivf_search_batch(
    indexed_vectors: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "id",
    vec_col: str = "vector",
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    metric: str = "cosine",
    probe_mode: str = "driver",
) -> DataFrame:
    """IVF-pruned top-k for a whole query SET in one pass — the scale
    path for batch retrieval (operators/topk.knn_join is the exact
    brute-force twin that scores Q×N pairs; this scores only each
    query's ``nprobe`` probed clusters).

    Plan: probe pairs (qid, cluster_id) come from the tiny centroid
    table, either computed on the driver and BROADCAST
    (``probe_mode="driver"``, right for bounded interactive query
    sets) or as an Arrow-batched per-row UDF over the queries
    DataFrame with AQE-decided joins (``probe_mode="distributed"`` —
    the shape for scoring MILLIONS of queries, where a driver loop
    over collect()ed rows is the bottleneck and the probe table may
    exceed broadcast size). The corpus then joins probes on cluster_id
    (pruned scan — with the table partitioned by cluster_id this is
    partition pruning), joins the query vectors, scores JVM-side, and
    windows top-k per query. The corpus is never shuffled by retrieval;
    the only corpus-side shuffle is the per-query window over candidate
    rows (≤ Q × probed-cluster sizes).
    """
    from pyspark.sql import Window

    from customkb_spark.operators.topk import _metric_score

    # pre-normed cosine (r9): bind each side's norm to a projected
    # attribute before the join — norms per row, not per candidate
    # pair; bit-identical scores (same arithmetic DAG)
    if metric == "cosine":
        indexed_vectors = indexed_vectors.withColumn(
            "_nv", V.norm(F.col(vec_col))
        )
        queries = queries.select(
            "*", V.norm(F.col(query_vec_col)).alias("_nq")
        )
    if probe_mode == "distributed":
        probe_df = queries.select(
            query_id_col,
            F.explode(
                _probe_clusters_udf(centroids, nprobe)(F.col(query_vec_col))
            ).alias("cluster_id"),
        )
        # AQE decides broadcast-vs-shuffle for both joins by actual size
        cand = indexed_vectors.join(probe_df, "cluster_id").join(
            queries.select(query_id_col, query_vec_col, *(
                ["_nq"] if metric == "cosine" else []
            )), query_id_col
        )
    elif probe_mode == "driver":
        qrows = queries.select(query_id_col, query_vec_col).collect()
        probes = [
            (row[0], c)
            for row in qrows
            for c in nearest_clusters([float(x) for x in row[1]], centroids, nprobe)
        ]
        spark = indexed_vectors.sparkSession
        # qid field type mirrors the caller's query-id column — hardcoding
        # long breaks string/int-typed query ids at createDataFrame or,
        # worse, mismatches the join (ADVICE r2)
        qid_type = queries.schema[query_id_col].dataType.simpleString()
        # localCheckpoint eagerly (runs NOW, while slots are free): a
        # Python-parallelized local relation inside the broadcast
        # exchange thread needs Python workers at broadcast time — if
        # the main stages already hold every slot, the broadcast job
        # starves and the query deadlocks (see hybrid_search_batch)
        probe_df = spark.createDataFrame(
            probes, f"{query_id_col} {qid_type}, cluster_id int"
        ).coalesce(1).localCheckpoint()
        # STATIC probe filter before the join: the probed set is known
        # driver-side (≤ Q × nprobe values), so push it as an isin —
        # on a cluster_id-partitioned table this is plain partition
        # pruning, the same guarantee the single-query path gets from
        # its isin; relying on the broadcast join alone leaves the
        # pruning to DPP, which this join shape doesn't always trigger
        probed_set = sorted({c for _, c in probes})
        cand = (
            indexed_vectors.filter(F.col("cluster_id").isin(probed_set))
            .join(F.broadcast(probe_df), "cluster_id")
            .join(
                F.broadcast(queries.select(query_id_col, query_vec_col, *(
                    ["_nq"] if metric == "cosine" else []
                ))),
                query_id_col,
            )
        )
    else:
        raise ValueError(f"ivf_search_batch: unknown probe_mode {probe_mode!r}")
    if metric == "cosine":
        score = V.dot(F.col(vec_col), F.col(query_vec_col)) / (
            F.col("_nv") * F.col("_nq")
        )
    else:
        score = _metric_score(F.col(vec_col), F.col(query_vec_col), metric)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("id"))
    return (
        cand.select(
            F.col(query_id_col),
            F.col(id_col).alias("id"),
            F.round(score, 6).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def ivf_search(
    indexed_vectors: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "id",
    vec_col: str = "vector",
    metric: str = "cosine",
) -> DataFrame:
    """Probe the ``nprobe`` nearest clusters, exact top-k within them.

    The cluster filter is a pushed-down predicate; with the table
    partitioned by cluster_id it prunes files before the scan.
    """
    probes = nearest_clusters(query_vec, centroids, nprobe)
    pruned = indexed_vectors.filter(F.col("cluster_id").isin(probes))
    return brute_force_topk(pruned, query_vec, k, id_col, vec_col, metric)
