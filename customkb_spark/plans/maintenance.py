"""Table maintenance — the reference's ``optimize`` / ``verify-indexes``
commands (utils/optimization_manager.py:50, database/index_manager.py:
209) re-expressed for parquet tables.

The reference tunes ~20 single-node knobs by memory tier and rebuilds
SQLite B-tree indexes. On Spark the equivalents are:

- ``optimize_chunks``: rewrite the chunks table clustered by
  (sourcedoc, sid) — files sorted on the covering-index key
  (index_manager.py:161) so min/max row-group stats prune the context
  range join's probe; partition count sized to the target file size;
  swapped in whole (``parquet_rows.swap``), as a killed rewrite must not
  lose the table.
- ``table_stats``: the verify surface — per-table row counts, file
  counts, and size, plus pending-work counts (the flag-polling checks,
  embed_manager.py:586 / bm25_manager.py:227-255) as anti-join counts.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from customkb_spark.functions.parquet_rows import swap


def optimize_chunks(
    spark: SparkSession,
    chunks_path: str,
    target_file_mb: int = 128,
    bucket_col: str = "sourcedoc",
) -> None:
    """Compact + cluster the chunks table by (sourcedoc, sid).

    repartition on the bucket key co-locates each document's chunks;
    sortWithinPartitions writes row groups ordered by (sourcedoc, sid)
    so sid-range probes prune via parquet min/max stats — the Spark
    analogue of the reference's covering index."""
    df = spark.read.parquet(chunks_path)
    total_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(chunks_path, "*.parquet"))
    )
    n_files = max(1, total_bytes // (target_file_mb * 1024 * 1024))
    clustered = df.repartition(int(n_files), F.col(bucket_col))
    swap(chunks_path, clustered.sortWithinPartitions(bucket_col, "sid").write.parquet)
    spark.catalog.refreshByPath(chunks_path)  # a held KB caches chunks


MEMORY_TIERS = [
    # (max_gb, tier, factors {memory, thread, batch}) — reference
    # optimization_manager.py:91-128 tiers (<16 / 16-64 / 64-128 / >128)
    (16, "low", 0.25, 0.5, 0.5),
    (64, "medium", 0.5, 0.75, 0.75),
    (128, "high", 0.75, 1.0, 1.0),
    (float("inf"), "very_high", 1.0, 1.5, 1.5),
]


def suggest_tuning(total_memory_gb: float, cpus: int = 32) -> dict:
    """The reference's memory-tier auto-config
    (optimization_manager.py:88-173) translated to the knobs this
    engine actually has: Spark confs + KBConfig batch sizes. The
    reference tunes SQLite caches and asyncio pools; the Spark
    equivalents are shuffle partitions, broadcast threshold, partition
    target size, and the Arrow/provider batch sizes.

    Returns {"tier", "spark_conf": {...}, "kb_config": {...}} —
    advisory (callers apply what they can set)."""
    for max_gb, tier, mem_f, thread_f, batch_f in MEMORY_TIERS:
        if total_memory_gb < max_gb:
            break
    return {
        "tier": tier,
        "spark_conf": {
            # more memory → bigger partitions (fewer, fatter tasks)
            "spark.sql.shuffle.partitions": str(max(cpus, int(cpus * 2 * thread_f))),
            "spark.sql.files.maxPartitionBytes": str(int(128 * 1024 * 1024 * (0.5 + mem_f))),
            "spark.sql.autoBroadcastJoinThreshold": str(int(10 * 1024 * 1024 * (1 + 3 * mem_f))),
            "spark.sql.adaptive.enabled": "true",
        },
        "kb_config": {
            # reference embedding_batch = 750·batch_factor (scaled to
            # this engine's per-call default of 100)
            "embedding_batch_size": max(25, int(100 * batch_f)),
            "bm25_max_results": int(1000 * batch_f) or 1000,
            "reranking_top_k": max(10, int(20 * batch_f)),
        },
    }


def table_stats(spark: SparkSession, kb_dir: str) -> DataFrame:
    """verify-indexes equivalent: rows / files / bytes per KB table."""
    rows = []
    for name in ("chunks", "vectors", "query_log"):
        path = os.path.join(kb_dir, name)
        if not os.path.isdir(path):
            continue
        files = [
            f
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        ]
        n_rows = spark.read.parquet(path).count()
        rows.append((name, n_rows, len(files), sum(os.path.getsize(f) for f in files)))
    return spark.createDataFrame(
        rows, "table string, n_rows long, n_files long, bytes long"
    )


def column_profile(df: DataFrame, approx: bool = False, rsd: float = 0.05) -> DataFrame:
    """Per-column data-quality profile — null count, distinct count,
    min/max (as strings for heterogeneous schemas) — the pre-ingest
    audit every pipeline runs on a new table (deequ-style,
    engine-native).

    ONE pass: every column's aggregates evaluate inside a single
    partial-aggregated projection (no per-column scans); the result is
    stacked to one row per column driver-side (column count is tiny).

    ``approx=False`` (default) uses exact count_distinct — oracle
    comparable, but each distinct column adds an Expand + its own
    shuffle of the full row set. ``approx=True`` is the web-scale
    tier: HyperLogLog++ ``approx_count_distinct(rsd)`` sketches fold
    into the SAME single partial aggregation as the other stats —
    constant memory per column, one scan, zero extra shuffles, at a
    relative standard error of ``rsd`` (Spark's HLL++ implementation;
    the tier swap the exact path's docstring always promised).
    """
    aggs = []
    for f in df.schema.fields:
        c = f.name
        distinct_agg = (
            F.approx_count_distinct(F.col(c), rsd)
            if approx
            else F.count_distinct(F.col(c))
        )
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            distinct_agg.alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    # r9: the row count folds into the SAME single aggregation pass —
    # the separate df.count() was a second full scan + job per profile
    aggs.append(F.count(F.lit(1)).alias("__n_rows"))
    row = df.agg(*aggs).collect()[0]
    n = row["__n_rows"]
    spark = df.sparkSession
    out = [
        (
            f.name,
            f.dataType.simpleString(),
            int(n),
            int(row[f"{f.name}__nulls"]),
            int(row[f"{f.name}__distinct"]),
            row[f"{f.name}__min"],
            row[f"{f.name}__max"],
        )
        for f in df.schema.fields
    ]
    return spark.createDataFrame(
        out,
        "column string, dtype string, n_rows long, n_nulls long,"
        " n_distinct long, min_value string, max_value string",
    )


def clean_embedding_cache(
    spark: SparkSession,
    cache_path: str,
    expected_dims: int,
    dry_run: bool = False,
) -> dict:
    """Cache hygiene — reference scripts/clean_corrupted_cache.py:
    drop cache entries whose vector is NULL, empty, or has the wrong
    dimensionality (the reference's dimension-mismatch corruption
    case, produced by a model switch without a cache key change or a
    torn write).

    One scan + one rewrite of the cache table (both map-side; the
    filter is a pure column predicate), swapped in whole. Returns the
    reference script's (total, corrupted, cleaned) accounting.
    ``dry_run`` reports without rewriting."""
    if not os.path.isdir(cache_path):
        return {"total": 0, "corrupted": 0, "cleaned": 0}
    cache = spark.read.parquet(cache_path)
    ok = F.col("vector").isNotNull() & (F.size("vector") == expected_dims)
    total = cache.count()
    good = cache.filter(ok)
    n_good = good.count()
    corrupted = total - n_good
    if corrupted == 0 or dry_run:
        return {"total": total, "corrupted": corrupted, "cleaned": 0}
    swap(cache_path, good.write.parquet)
    return {"total": total, "corrupted": corrupted, "cleaned": corrupted}
