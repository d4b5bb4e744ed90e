"""Query-embedding TTL cache — reference query/embedding.py:30-141.

The reference caches single-query embeddings as per-key JSON files with
a 7-day TTL (query_cache_ttl_days). Here they are a small keyed parquet
table

    <kb_dir>/query_emb_cache/  (cache_key, embedding, created_at)

read and written driver-side with pyarrow; no Spark job runs for a
probe or a save. Key scheme is the reference's exactly:
f'{model}_{sha256(query_text)}' (query/embedding.py:30-44).

One tier, in process memory (``_MEMO``). The first probe of a table
loads it once, keeping the freshest row per key; every later probe is a
dict lookup. The TTL applies at probe time, so expired rows stay in the
table until ``prune_expired`` (run by ``customkb optimize``) rewrites it.
A save adds one file, renamed into place (``functions/parquet_rows.py``):
the entry is in the table for any reader when the call returns, and in
this process's memory at once. Rows another process saves after this
one loaded the table are misses here until the next load (a new
process, or ``prune_expired`` in this one); a miss only costs a
provider call.

The batch path doesn't use this table: batch query embedding goes
through the J5 emb_cache read-through join (embedding/cache.py), which
is the scale shape. This table exists for single-query LATENCY parity —
a repeated query skips the provider round-trip entirely.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from customkb_spark.functions import cache_stats
from customkb_spark.functions.parquet_rows import (
    compact,
    data_files,
    read_files,
    write_rows,
)

# the table layout
QUERY_CACHE_SCHEMA = pa.schema(
    [
        ("cache_key", pa.string()),
        ("embedding", pa.list_(pa.float64())),
        ("created_at", pa.float64()),
    ]
)

# table path → {cache_key: (embedding, created_at)}, the freshest row
# per key. Keyed by path so distinct KBs never cross-hit; each table's
# entries are bounded (first-loaded evicted first) so a long-lived session
# can't grow it without limit — an evicted key is a miss. _LOCK makes
# each update's read-modify-write atomic across request threads.
_MEMO: dict[str, dict[str, tuple[list[float], float]]] = {}
_MEMO_MAX = 4096
_LOCK = threading.Lock()


def _memo_put(
    entries: dict[str, tuple[list[float], float]],
    key: str,
    embedding: list[float],
    created_at: float,
) -> None:
    with _LOCK:
        old = entries.get(key)
        if old is None or old[1] <= created_at:
            entries[key] = (embedding, created_at)
        if len(entries) > _MEMO_MAX:
            entries.pop(next(iter(entries)))


def _load(path: str) -> dict[str, tuple[list[float], float]]:
    table = read_files(data_files(path), QUERY_CACHE_SCHEMA).sort_by("created_at")
    entries: dict[str, tuple[list[float], float]] = {}
    for key, emb, created_at in zip(
        table["cache_key"].to_pylist(),
        table["embedding"].to_pylist(),
        table["created_at"].to_pylist(),
    ):
        _memo_put(entries, key, emb, created_at)
    _MEMO[path] = entries
    return entries


def query_cache_key(query_text: str, model: str) -> str:
    """f'{model}_{sha256(text)}' — reference query/embedding.py:30-44."""
    return f"{model}_{hashlib.sha256(query_text.encode()).hexdigest()}"


def probe_query_embedding(
    spark: SparkSession,
    path: str,
    query_text: str,
    model: str,
    ttl_days: float = 7,
    now: float | None = None,
) -> list[float] | None:
    """Freshest unexpired cached embedding for the query, or None.
    Expired rows are ignored (the reference deletes the file on expired
    read; here ``prune_expired`` does compaction separately, keeping
    reads read-only)."""
    now = time.time() if now is None else now
    if not os.path.isdir(path):
        # existence check BEFORE the memo (ADVICE r8): a backing table
        # deleted/pruned by another process must read as a miss, not a
        # process-memory hit
        _MEMO.pop(path, None)
        entries = {}
    else:
        entries = _MEMO.get(path)
        if entries is None:
            entries = _load(path)
    hit = entries.get(query_cache_key(query_text, model))
    fresh = hit is not None and hit[1] > now - ttl_days * 86400.0
    cache_stats.record(cache_stats.QUERY_TTL_CACHE, hits=int(fresh), misses=int(not fresh))
    return list(hit[0]) if fresh else None


def save_query_embedding(
    spark: SparkSession,
    path: str,
    query_text: str,
    model: str,
    embedding: list[float],
    now: float | None = None,
) -> None:
    """Append-only write-back (reference save_query_embedding_to_cache,
    query/embedding.py:116-141)."""
    now = float(time.time() if now is None else now)
    key = query_cache_key(query_text, model)
    emb = [float(x) for x in embedding]
    write_rows(
        pa.Table.from_pydict(
            {"cache_key": [key], "embedding": [emb], "created_at": [now]},
            schema=QUERY_CACHE_SCHEMA,
        ),
        path,
    )
    entries = _MEMO.get(path)
    if entries is not None:  # an unloaded table picks the row up on load
        _memo_put(entries, key, emb, now)


def prune_expired(
    spark: SparkSession, path: str, ttl_days: float = 7, now: float | None = None
) -> int:
    """Compact the cache table into one file of its unexpired rows (the
    reference removes expired files on read; here one rewrite pass
    does it). The next probe reloads the table. Returns rows kept."""
    files = data_files(path)
    if not files:
        return 0
    now = time.time() if now is None else now
    table = read_files(files, QUERY_CACHE_SCHEMA)
    fresh = table.filter(pc.greater(table["created_at"], now - ttl_days * 86400.0))
    compact(path, fresh, files)
    _MEMO.pop(path, None)
    return fresh.num_rows
