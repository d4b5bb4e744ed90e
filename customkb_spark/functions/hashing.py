"""Deterministic hashing expressions — cache keys, MinHash, SimHash,
fingerprints.

Everything is built on md5 (stable across engines and languages) rather
than Spark's xxhash64/hash, so results are reproducible against the
DuckDB oracle and across cluster restarts. md5 is computed JVM-side by
codegen — no Python in the path.

MinHash design (for LSH dedup at 100 TB): ONE md5 per shingle → 28-bit
integer x (first 7 hex chars), then a family of k seeded linear
permutations h_k(x) = (a_k·x + b_k) mod P with P = 2038074743 (the
~2^31 prime MLlib's MinHashLSH uses). One digest amortizes across all
k members — 16× less hashing than salted-digest families — and every
step is exact 64-bit integer arithmetic, reproducible in any engine
(DuckDB mirrors x via CAST('0x'||substr(md5(s),1,7) AS BIGINT)).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha_cache_key(model: Column | str, text: Column | str) -> Column:
    """Embedding-cache key — reference embed_manager.py:72-85:
    f'{model}_{sha256(text)}'."""
    m = F.lit(model) if isinstance(model, str) else model
    t = F.col(text) if isinstance(text, str) else text
    return F.concat(m, F.lit("_"), F.sha2(t, 256))


def hex_to_long(hex_col: Column, n_chars: int = 15) -> Column:
    """First ``n_chars`` hex chars → non-negative bigint (≤60 bits)."""
    return F.conv(F.substring(hex_col, 1, n_chars), 16, 10).cast("long")


# ~2^31 prime; a_k·x + b_k stays < 2^59 for 28-bit x → no int64 overflow
MINHASH_PRIME = 2038074743


def minhash_perm_params(num_hashes: int = 16, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a_k, b_k) coefficient pairs for the permutation family."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MINHASH_PRIME)), int(rng.integers(0, MINHASH_PRIME)))
        for _ in range(num_hashes)
    ]


def shingle_to_int(shingle_col: Column) -> Column:
    """shingle string → 28-bit int via md5 prefix (one digest per
    shingle, shared by every permutation)."""
    return hex_to_long(F.md5(shingle_col), 7)


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array, in document order."""
    idx = F.sequence(F.lit(0), F.size(tokens_col) - n)
    return F.when(
        F.size(tokens_col) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens_col, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tokens_col)))


def rolling_fingerprint(tokens_col: Column, window: int = 4, keep: int = 4) -> Column:
    """Winnowing-style document fingerprint: hash every ``window``-gram,
    keep the ``keep`` smallest digests, md5 the concatenation. Two
    documents share a fingerprint iff their minimal shingle digests
    agree — robust to local edits, cheap to group on."""
    sh = shingles(tokens_col, window)
    digests = F.array_sort(F.transform(sh, lambda s: F.md5(s)))
    kept = F.slice(digests, 1, keep)
    return F.md5(F.concat_ws("|", kept))
