"""Embedding cache as a keyed table + joins.

The reference keeps a two-tier JSON cache keyed by
f'{model}_{sha256(text)}' (embedding/cache.py:49-120,
embed_manager.py:72-119). The distributed equivalent is a
``embedding_cache(cache_key, vector)`` table:

    hits    = pending ⋈ cache            (left join, key pre-hashed)
    misses  = pending where vector IS NULL → provider call
    updated = cache ∪ new vectors        (append)

The cache join IS the reference's read-through semantics (J5); the
append is the write-back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from customkb_spark.functions.hashing import sha_cache_key


def with_cache_key(df: DataFrame, text_col: str, model: str) -> DataFrame:
    return df.withColumn("cache_key", sha_cache_key(model, text_col))


def split_hits_misses(
    pending: DataFrame, cache: DataFrame, expected_dims: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """pending must carry cache_key; cache is (cache_key, vector).

    Returns (hits with vector, misses without). One left join,
    materialized once (``localCheckpoint``) and filtered into both
    sides, so no later action re-runs the probe.

    ``expected_dims`` guards the dimension-mismatch corruption case:
    the cache key is f'{model}_{sha256(text)}' (reference parity —
    embed_manager.py:72-85 — which does NOT encode dimensions), so a
    vector_dimensions change with the same model would otherwise
    re-serve stale-dimension hits. Wrong-dimension rows count as
    misses and are re-embedded (and the fresh write-back shadows the
    stale entry on future probes only if keys differ — run
    ``optimize --clean-cache`` to purge the stale rows)."""
    if expected_dims is not None:
        # collapse duplicate keys, preferring a right-dimension row —
        # re-embedding a stale-dim entry appends a second row under the
        # SAME key, and a multi-row key would fan out the probe join.
        # One partial-aggregated shuffle of the cache table only.
        good = (F.size("vector") == int(expected_dims)).cast("int")
        cache = cache.groupBy("cache_key").agg(
            F.max_by("vector", good).alias("vector")
        )
    joined = pending.join(cache, "cache_key", "left").localCheckpoint()
    ok = F.col("vector").isNotNull()
    if expected_dims is not None:
        ok = ok & (F.size("vector") == int(expected_dims))
    hits = joined.filter(ok)
    misses = joined.filter(~ok).drop("vector")
    return hits, misses
