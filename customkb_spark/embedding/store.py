"""Index persistence + incremental maintenance.

The reference serializes its FAISS index to one file and mmaps it per
query (embed_manager.py saves ``<kb>.faiss``; index_manager.py:209
verifies/rebuilds it). The Spark-first equivalents:

- the meta row, centroids and PQ/SQ models are TINY (nlist×dim and
  m×2^nbits×dsub doubles) → one-file tables the driver replaces and
  reads whole with pyarrow (``functions/parquet_rows.py``), no Spark job;
- the indexed vector table is the big artifact → parquet PARTITIONED BY
  ``cluster_id`` so nprobe search prunes files before the scan (the
  disk layout IS the index); a loaded tier reads it when first used;
- incremental maintenance adds only NEW vectors, assigned to the
  EXISTING centroids — same as FAISS ``add`` after ``train``. A saved
  tier records the vectors files it covers (``sources``), so after a
  pure append it absorbs just the new files, on the driver, with no
  scan of the whole table (``_absorb``). ``index_drift`` reports
  per-cluster assignment distance so callers know when the frozen
  centroids have drifted enough to retrain (the reference's
  verify-indexes analogue for ANN);
- one verdict (``_tier_verdict``: fresh / appendable / stale) judges a
  saved tier against the vectors table; ``load_vector_index`` acts on
  it and ``index_freshness`` reports it. A tier records exactly the
  files its vectors frame read (``_covered``), so a file appended while
  it was built or absorbed is judged, and absorbed, next time. The
  listing helpers serve the KB's BM25 index too (``kb.py``).

At 100 TB: appends write only the affected cluster partitions; a
retrain decision is a stats read, never a full rescan.
"""

from __future__ import annotations

import hashlib
import os
from typing import NamedTuple
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from customkb_spark.embedding.index import assign_clusters
from customkb_spark.embedding.pq import PQModel, _assign_nearest
from customkb_spark.embedding.sq import sq_encode_rows
from customkb_spark.functions import parquet_rows as PR
from customkb_spark.functions import vector as V
from customkb_spark.plans.resident import row_norms


# ------------------------------------------------------ small artifacts

_META_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("kind", "id_col", "vec_col", "fp", "src_fp")]
)
# one row per data file of the vectors directory the tier covers
_SOURCES_SCHEMA = pa.schema(
    [("relpath", pa.string()), ("size", pa.int64()), ("mtime_ns", pa.int64())]
)


def _rows(matrix: np.ndarray, dtype=np.float64) -> pa.ListArray:
    """A 2-D array as one ``array<dtype>`` value per row."""
    m = np.asarray(matrix, dtype=dtype)
    offsets = pa.array(np.arange(m.shape[0] + 1, dtype=np.int32) * m.shape[1])
    return pa.ListArray.from_arrays(offsets, pa.array(m.ravel()))


def _matrix(table: pa.Table, col: str) -> np.ndarray:
    """Inverse of ``_rows``: a list column of equal-length rows."""
    arr = table.column(col).combine_chunks()
    if not len(arr):
        return np.empty((0, 0), dtype=np.float64)
    return arr.flatten().to_numpy().astype(np.float64).reshape(len(arr), -1)


def _save_matrix(path: str, key: str, col: str, matrix: np.ndarray) -> None:
    """One row per matrix row: (``key`` = row index, ``col``)."""
    keys = pa.array(np.arange(len(matrix), dtype=np.int32))
    PR.replace(pa.table({key: keys, col: _rows(matrix)}), path)


def _load_matrix(path: str, key: str, col: str) -> np.ndarray:
    return _matrix(PR.read_table(path).sort_by(key), col)


def save_centroids(spark: SparkSession, centroids: np.ndarray, path: str) -> None:
    _save_matrix(path, "cluster_id", "centroid", centroids)


def load_centroids(spark: SparkSession, path: str) -> np.ndarray:
    return _load_matrix(path, "cluster_id", "centroid")


def save_pq(spark: SparkSession, model: PQModel, path: str) -> None:
    """Codebooks flattened to (subvector, code) rows; IVF coupling is
    restored on load from the sibling centroids table if present."""
    grid = np.indices((model.m, model.ksub), dtype=np.int32).reshape(2, -1)
    PR.replace(
        pa.table({
            "subvector": grid[0],
            "code": grid[1],
            "centroid": _rows(model.codebooks.reshape(-1, model.dsub)),
        }),
        f"{path}/codebooks",
    )
    if model.centroids is not None:
        save_centroids(spark, model.centroids, f"{path}/ivf_centroids")
    if model.rotation is not None:
        _save_matrix(f"{path}/opq_rotation", "row", "coeffs", model.rotation)


def save_sq(spark: SparkSession, model, path: str) -> None:
    """SQ8 grid: one row (vmin, scale, nbits) — the whole model is
    2×dim doubles."""
    PR.replace(
        pa.table({
            "vmin": _rows(np.asarray(model.vmin)[None]),
            "scale": _rows(np.asarray(model.scale)[None]),
            "nbits": pa.array([int(model.nbits)], pa.int32()),
        }),
        path,
    )


def load_sq(spark: SparkSession, path: str, centroids=None):
    from customkb_spark.embedding.sq import SQModel

    r = PR.read_row(path)
    return SQModel(
        np.asarray(r["vmin"], dtype=np.float64),
        np.asarray(r["scale"], dtype=np.float64),
        int(r["nbits"]),
        centroids,
    )


def load_pq(spark: SparkSession, path: str) -> PQModel:
    books = PR.read_table(f"{path}/codebooks").sort_by(
        [("subvector", "ascending"), ("code", "ascending")]
    )
    ksub = pc.max(books.column("code")).as_py() + 1
    flat = _matrix(books, "centroid")
    cents = rotation = None
    if PR.data_files(f"{path}/ivf_centroids"):  # flat PQ has no IVF coupling
        cents = load_centroids(spark, f"{path}/ivf_centroids")
    if PR.data_files(f"{path}/opq_rotation"):  # plain PQ has no rotation
        rotation = _load_matrix(f"{path}/opq_rotation", "row", "coeffs")
    return PQModel(flat.reshape(-1, ksub, flat.shape[1]), cents, rotation)


def _listing(path: str | None) -> list[tuple[str, int, int]] | None:
    """Sorted (relpath, size, mtime_ns) of the data files of the parquet
    table DIRECTORY ``path``; None when ``path`` isn't a local
    directory (object-store URI, absent table)."""
    if not path or not os.path.isdir(path):
        return None
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / .crc markers: not data
            p = os.path.join(root, f)
            st = os.stat(p)
            entries.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return sorted(entries)


def _covered(df: DataFrame, directory: str | None) -> list | None:
    """The entries of ``directory``'s ``_listing`` that ``df`` reads:
    what an index built from ``df`` covers, whatever was added to the
    directory after ``df`` listed it. A frame that reads none of its
    files directly (checkpointed, in memory) covers the whole listing,
    as the caller vouches."""
    listing = _listing(directory)
    if listing is None:
        return None
    read = {os.path.normpath(unquote(urlparse(f).path)) for f in df.inputFiles()}
    root = os.path.abspath(directory)
    return [e for e in listing if os.path.join(root, e[0]) in read] or listing


def read_files(spark: SparkSession, files: list[str], columns: list[str]) -> DataFrame:
    """``columns`` of exactly the parquet ``files``, typed from the first
    file's footer, so Spark runs no schema-inference job."""
    schema = pq.read_schema(files[0])
    return spark.read.schema(
        from_arrow_schema(pa.schema([schema.field(c) for c in columns]))
    ).parquet(*files)


def _digest(listing: list | None) -> str | None:
    return None if listing is None else hashlib.md5(repr(listing).encode()).hexdigest()


def dir_fingerprint(path: str | None) -> str | None:
    """Cheap identity of a parquet table DIRECTORY: its ``_listing``,
    hashed. Parquet data files are immutable once written (every write
    creates new files), so listing equality ⇒ content equality — a
    freshness check that costs two ``os.walk``s instead of two
    full-table scans.

    Returns None when ``path`` isn't a local directory — callers fall
    back to content_fingerprint. Any mismatch is also just a fallback,
    never a verdict: a rewrite that produced identical content still
    passes the content check."""
    return _digest(_listing(path))


def content_fingerprint(df: DataFrame, id_col: str, vec_col: str) -> str:
    """Order-independent content checksum: sum of ``xxhash64(id, vec)``
    accumulated in DECIMAL(38,0) (overflow-proof, partial-aggregated).
    A bare row count misses in-place re-embeds under unchanged ids
    (force re-ingest writes new vectors for the same deterministic ids)
    — the fingerprint changes whenever any (id, vector) pair changes,
    in any order, at any parallelism."""
    row = df.agg(
        F.sum(
            F.xxhash64(F.col(id_col), F.col(vec_col)).cast("decimal(38,0)")
        ).alias("fp")
    ).collect()[0]
    return str(row.fp if row.fp is not None else 0)


# ----------------------------------------------------- the big artifact


def write_ivf_table(indexed: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write vectors partitioned by ``cluster_id`` — probe-time cluster
    filters become partition pruning (no data files read outside the
    probed clusters; pinned by tests/test_plans.test_ivf_partition_pruning).

    The repartition before the write is load-bearing: a partitionBy
    from an N-partition frame writes up to N files into EVERY cluster
    dir (the classic small-files fan-out — measured 8,161 files for a
    91 MB / 256-cluster table, which put ~8k scheduling-overhead tasks
    in front of every unpruned scan). Clustering the frame by the
    partition column first writes one file per cluster per holding
    partition — n_clusters files total."""
    indexed.repartition("cluster_id").write.mode(mode).partitionBy(
        "cluster_id"
    ).parquet(path)


def incremental_index(
    vectors: DataFrame,
    table_path: str,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vector",
) -> int:
    """Append only vectors whose id is NOT already indexed, assigned to
    the existing centroids (FAISS ``add`` semantics — training is
    frozen). Anti-join on id (broadcast-able: the *new* side is small in
    steady state), matmul argmin assignment, partitioned append touching
    only the affected cluster partitions. Returns rows appended."""
    spark = vectors.sparkSession
    existing = spark.read.parquet(table_path).select(id_col)
    fresh = vectors.join(existing, id_col, "left_anti")
    assigned = assign_clusters(fresh, centroids, vec_col)
    n = assigned.count()
    if n:
        write_ivf_table(assigned, table_path, mode="append")
    return n


# ------------------------------------------------- index-tier lifecycle


def save_vector_index(tier, path: str, source_dir: str | None = None) -> None:
    """Persist a ``VectorIndexTier`` (embedding/auto.py) — the engine's
    analogue of the reference writing ``<kb>.faiss`` next to the DB
    (embed_manager.py save path). Layout under ``path``:

    - ``meta``: one row (kind, id/vec column names, the vectors'
      content fingerprint ``fp`` and directory fingerprint ``src_fp``);
    - ``centroids`` (ivf/ivfsq/ivfpq), ``sq`` grid (ivfsq), ``pq/``
      codebooks (ivfpq);
    - ``indexed``: the derived table, PARTITIONED BY cluster_id;
    - ``sources`` (with ``source_dir``): one row per data file of
      ``source_dir`` that ``tier.vectors`` read (``_covered``) —
      (relpath, size, mtime_ns), the entries ``src_fp`` hashes — so a
      later pure append is told apart by its new files alone
      (``_tier_verdict``), and a file appended while the tier was
      built is not recorded as covered.

    ``flat`` persists meta (and ``sources``) only — the raw vectors
    table IS the index. Each table is swapped in whole and ``meta`` is
    written last: a killed save never leaves a meta describing a tier
    that is not there.

    ``source_dir`` (the vectors table's parquet directory, when the
    caller reads it from one, e.g. KnowledgeBase) pins the cheap
    dir_fingerprint next to the content fingerprint, so a later load
    of the UNCHANGED table skips the freshness corpus scan entirely.
    """
    spark = tier.vectors.sparkSession
    listing = _covered(tier.vectors, source_dir)
    fp = content_fingerprint(tier.vectors, tier.id_col, tier.vec_col)
    if tier.kind != "flat":
        save_centroids(spark, tier.centroids, f"{path}/centroids")
        if tier.kind == "ivfpq":
            save_pq(spark, tier.pq, f"{path}/pq")
        if tier.kind == "ivfsq":
            save_sq(spark, tier.sq, f"{path}/sq")
        PR.swap(f"{path}/indexed", lambda staged: write_ivf_table(tier.indexed, staged))
    _record(path, dict(kind=tier.kind, id_col=tier.id_col, vec_col=tier.vec_col), fp, listing)


def _record(path: str, meta: dict, fp: str, listing: list | None) -> dict:
    """Record that the tier at ``path`` covers the vectors whose content
    fingerprint is ``fp`` and, with a ``listing``, exactly those data
    files: ``sources``, then ``meta`` last. Returns the new meta."""
    if listing is not None:
        _write_sources(f"{path}/sources", listing)
    meta = {**meta, "fp": fp, "src_fp": _digest(listing)}
    _write_meta(path, meta)
    return meta


def _write_meta(path: str, meta: dict) -> None:
    # keys outside the layout (an old meta's ``n``) are dropped
    PR.replace(pa.Table.from_pylist([meta], schema=_META_SCHEMA), f"{path}/meta")


def _write_sources(table: str, listing: list) -> None:
    """Replace the ``sources`` table at ``table`` by ``listing``."""
    rows = [dict(zip(_SOURCES_SCHEMA.names, e)) for e in listing]
    PR.replace(pa.Table.from_pylist(rows, schema=_SOURCES_SCHEMA), table)


def _appended(table: str, listing: list, src_fp: str | None) -> list | None:
    """The entries of ``listing`` (a data directory now) that a PURE
    append added since the ``sources`` table at ``table`` was recorded,
    or None when that is not what happened: no ``sources`` table, one
    that ``src_fp`` does not hash (a save or absorb killed before its
    meta), or a recorded file gone or rewritten."""
    try:
        t = PR.read_table(table)
    except FileNotFoundError:
        return None
    recorded = sorted(zip(*(t.column(c).to_pylist() for c in _SOURCES_SCHEMA.names)))
    if _digest(recorded) != src_fp or not set(recorded) <= set(listing):
        return None
    return sorted(set(listing) - set(recorded))


class _Verdict(NamedTuple):
    state: str  # "fresh" | "appendable" | "stale"
    # from the content rule: the vectors' content fingerprint, and the
    # ``source_dir`` files of the frame it judged (``_covered``); from
    # the sources rule: ``source_dir``'s data files as judged, and the
    # entries of that listing the pure append added
    fp: str | None = None
    listing: list | None = None
    appended: list | None = None
    vectors: DataFrame | None = None  # the frame the content rule judged


def _tier_verdict(
    spark: SparkSession, path: str, vectors: DataFrame | None, meta,
    source_dir: str | None = None,
) -> _Verdict:
    """The one freshness rule for a saved tier, each step run only when
    the one before cannot decide:

    1. with ``source_dir`` (the directory ``vectors`` was read from), an
       unchanged ``dir_fingerprint`` listing proves the content
       unchanged (parquet files are immutable) → ``"fresh"``, no scan;
    2. ivf/ivfsq with ``source_dir``: every file the tier's ``sources``
       record is still there with the same size and mtime, so the
       change is a PURE append of the other files → ``"appendable"``,
       those files being the delta (``appended``) — no scan, on the same
       immutability;
    3. the content fingerprint — not a row count: vectors re-embedded
       under the same ids must never serve stale neighbors — equals the
       saved one → ``"fresh"``;
    4. ivf/ivfsq only: the previously-indexed ids' content is unchanged,
       so the change is a pure append → ``"appendable"`` (the delta is
       the ids the tier lacks). ivfpq is rebuilt instead: its residual
       codebooks drift fastest as the corpus grows, and a rebuild
       doubles as the retrain ``index_drift`` would recommend.

    Either ``"appendable"`` is FAISS ``add`` against the frozen
    centroids / SQ grid (``load_vector_index``). Steps 3-4 are the
    content rule: frame callers (no ``source_dir``) and tiers saved
    without ``sources`` take it; with ``source_dir`` a None ``vectors``
    is read from it there, so steps 1-2 need no frame. Anything else
    (in-place mutation, pre-fingerprint meta) is ``"stale"``; a flat
    tier is always ``"fresh"`` (the raw vectors table IS the index).
    """
    fp_old, kind = meta.get("fp"), meta["kind"]
    if kind == "flat":
        return _Verdict("fresh")
    if fp_old is None:
        return _Verdict("stale")
    listing = _listing(source_dir)
    src_fp_old = meta.get("src_fp")
    if src_fp_old is not None and _digest(listing) == src_fp_old:
        return _Verdict("fresh")
    appendable = kind in ("ivf", "ivfsq")
    if appendable and listing is not None:
        new = _appended(f"{path}/sources", listing, src_fp_old)
        if new is not None:
            return _Verdict("appendable", None, listing, new)
    if vectors is None:
        vectors = spark.read.parquet(source_dir)
    covered = _covered(vectors, source_dir)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    fp_now = content_fingerprint(vectors, id_col, vec_col)
    if fp_now == fp_old:
        return _Verdict("fresh", fp_now, covered)
    if not appendable:
        return _Verdict("stale")
    indexed_ids = spark.read.parquet(f"{path}/indexed").select(id_col)
    old_subset = vectors.join(indexed_ids, id_col, "left_semi")
    if content_fingerprint(old_subset, id_col, vec_col) == fp_old:
        return _Verdict("appendable", fp_now, covered, None, vectors)
    return _Verdict("stale")


def index_freshness(
    spark: SparkSession, path: str, vectors: DataFrame, source_dir: str | None = None
) -> str:
    """Report-only ``_tier_verdict`` of a saved tier — the verdict
    ``load_vector_index`` acts on, so ``verify`` never disagrees with
    what a query would do: ``"fresh"``, ``"appendable"`` (a query
    absorbs the new vectors), ``"stale"`` (a query rebuilds) or
    ``"absent"`` (no readable saved index)."""
    try:
        meta = PR.read_row(f"{path}/meta")
    except Exception:
        return "absent"
    try:
        return _tier_verdict(spark, path, vectors, meta, source_dir).state
    except Exception:
        return "stale"  # unreadable indexed table: a query would rebuild


def load_vector_index(
    spark: SparkSession, path: str, vectors: DataFrame | None,
    source_dir: str | None = None,
):
    """Rehydrate a saved tier, acting on its ``_tier_verdict``:

    - ``"fresh"`` → load as-is (no training, no assignment; with an
      unchanged ``source_dir`` listing the load is metadata-only); when
      the content rule found it fresh (a rewrite with the same content,
      e.g. ``optimize``), the listing it covers is recorded, so the
      next load decides from the listing again;
    - ``"appendable"`` → ``_absorb`` the delta on the driver (which
      records the listing it covers in ``sources`` and rewrites meta),
      then load;
    - ``"stale"``, no saved index, or a partially-written/corrupt index
      dir (e.g. a killed save) → None: the caller rebuilds.

    The tier reads its ``indexed`` table when first used, so a caller
    that only needs the saved tier brought up to date (KnowledgeBase
    serving from memory) pays no Spark listing of it; with
    ``source_dir`` that caller may pass ``vectors=None``.
    """
    try:
        meta = PR.read_row(f"{path}/meta")
        verdict = _tier_verdict(spark, path, vectors, meta, source_dir)
        if verdict.state == "stale":
            return None
        if verdict.state == "appendable":
            meta = _absorb(spark, path, meta, verdict, source_dir)
        elif verdict.fp is not None and verdict.listing is not None:
            meta = _record(path, meta, verdict.fp, verdict.listing)
        return _load_tier(spark, path, vectors, meta)
    except Exception:
        return None


def _absorb(spark, path: str, meta, verdict: _Verdict, source_dir) -> dict:
    """FAISS ``add`` of an ``"appendable"`` verdict's delta on the
    driver, then ``sources`` and ``meta`` (last) for the listing judged;
    returns the new meta.

    With ``verdict.appended`` the delta is those files, read one at a
    time (driver memory is bounded by the largest), each written under
    its own name so a retry after a kill rewrites its rows instead of
    adding them twice; the new fingerprint is the old one plus the
    delta's (one Spark job over the delta rows; the DECIMAL sum is
    exact, so it equals a full ``content_fingerprint``). Under the
    content rule the delta is the ids the tier lacks (an anti-join,
    collected through Arrow) and the fingerprint the verdict's."""
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    cents = load_centroids(spark, f"{path}/centroids")
    sq = load_sq(spark, f"{path}/sq", centroids=cents) if meta["kind"] == "ivfsq" else None
    table_path = f"{path}/indexed"
    if verdict.appended is None:
        indexed_ids = spark.read.parquet(table_path).select(id_col)
        fresh = verdict.vectors.join(indexed_ids, id_col, "left_anti").toArrow()
        _absorb_rows(fresh, table_path, id_col, vec_col, cents, sq)
        fp = verdict.fp
    else:
        files = [os.path.join(source_dir, rel) for rel, _size, _mtime in verdict.appended]
        for f in files:
            rows = pq.read_table(f)
            _absorb_rows(rows, table_path, id_col, vec_col, cents, sq, os.path.basename(f))
        delta = read_files(spark, files, [id_col, vec_col])
        fp = str(int(meta["fp"]) + int(content_fingerprint(delta, id_col, vec_col)))
    return _record(path, meta, fp, verdict.listing)


def _absorb_rows(
    rows: pa.Table, table_path: str, id_col: str, vec_col: str,
    centroids: np.ndarray, sq=None, name: str | None = None,
) -> None:
    """Assign ``rows`` to the frozen ``centroids`` with the kernel
    ``assign_clusters`` runs and write one file per touched cluster into
    ``cluster_id=<c>/``, temp-then-rename. ivf writes the rows as they
    are; ivfsq (``sq`` given) writes (id, sq_code) encoded on the frozen
    grid after the L2 normalization of ``l2_normalized_frame``, in its
    fold order."""
    if not rows.num_rows:
        return
    x = _matrix(rows, vec_col)
    if sq is None:
        cluster, out = _assign_nearest(x, centroids), rows
    else:
        norms = row_norms(x)[:, None]
        x = np.where(norms > 0, x / np.where(norms > 0, norms, 1.0), x)
        cluster, codes = sq_encode_rows(x, sq)
        out = pa.table({id_col: rows.column(id_col), "sq_code": _rows(codes, np.int16)})
    for c in np.unique(cluster):
        PR.write_rows(out.filter(pa.array(cluster == c)), f"{table_path}/cluster_id={c}", name)


def _load_tier(spark: SparkSession, path: str, vectors: DataFrame | None, meta):
    from customkb_spark.embedding.auto import VectorIndexTier

    kind, id_col, vec_col = meta["kind"], meta["id_col"], meta["vec_col"]
    if kind == "flat":
        return VectorIndexTier("flat", vectors, id_col, vec_col)
    cents = load_centroids(spark, f"{path}/centroids")
    indexed = dict(indexed_path=f"{path}/indexed")  # read on first use
    if kind == "ivf":
        return VectorIndexTier("ivf", vectors, id_col, vec_col, centroids=cents, **indexed)
    if kind == "ivfsq":
        sq = load_sq(spark, f"{path}/sq", centroids=cents)
        return VectorIndexTier(
            "ivfsq", vectors, id_col, vec_col, centroids=cents, sq=sq, **indexed
        )
    pq = load_pq(spark, f"{path}/pq")
    return VectorIndexTier(
        "ivfpq", vectors, id_col, vec_col,
        centroids=pq.centroids if pq.centroids is not None else cents, pq=pq, **indexed,
    )


def index_drift(
    indexed: DataFrame, centroids: np.ndarray, vec_col: str = "vector"
) -> DataFrame:
    """Per-cluster assignment-distance stats: ``cluster_id, n, avg_dist,
    max_dist``. Rising avg distance on fresh appends = the frozen
    centroids no longer describe the data → retrain. One scan, one
    partial-aggregated groupBy."""
    cents = F.array(
        *[F.lit([float(x) for x in c]).cast("array<double>") for c in centroids]
    )
    dist = V.l2_distance(
        F.col(vec_col),
        F.element_at(cents, F.col("cluster_id") + 1),
    )
    return (
        indexed.select("cluster_id", dist.alias("d"))
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("d"), 6).alias("avg_dist"),
            F.round(F.max("d"), 6).alias("max_dist"),
        )
        .orderBy("cluster_id")
    )
