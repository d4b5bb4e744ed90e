"""Training-data curation operators — decontamination, PII redaction,
repetition signals, stratified mixing.

These are the corpus-preparation steps a large-scale LLM training
pipeline runs after ingest and before tokenization (the reference
repo's scope ends at retrieval, so these extend it; the designs follow
the published recipes: GPT-3 appendix C n-gram decontamination, the
Gopher/MassiveText repetition filters, and hash-based deterministic
sampling for dataset mixing).

Scale posture (100 TB):
- Everything is built-in column algebra + at most ONE shuffle per
  operator (the per-doc n-gram aggregation); no Python UDFs.
- Decontamination broadcasts the benchmark n-gram set (eval sets are
  tiny: MMLU+GSM8K+HumanEval ≈ 10^5 n-grams) and semi-joins the
  exploded corpus side map-side; the only shuffle is the per-doc
  hit count, which is partial-aggregated.
- Stratified sampling is a pure map-side filter: deterministic
  md5-threshold per row, no sampling state, no shuffle, reproducible
  across retries (unlike ``df.sample`` whose output can change under
  task recompute).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from customkb_spark.functions import text as X

# ------------------------------------------------------------ n-grams


def ngrams_from_tokens(toks: Column | str, n: int) -> Column:
    """Space-joined n-grams from an ALREADY-MATERIALIZED token array
    column. Callers must stage the token array in its own projection:
    lambda-bearing expressions bypass whole-stage-codegen common
    subexpression elimination, so inlining the tokenizer here would
    re-evaluate the regex once per slice — measured 2.9× on the sf10
    shingle explode (20.3s → 7.1s staged).

    Empty array when the document has fewer than ``n`` tokens."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    # sequence(1, 0) would yield [1, 0] (negative step), so gate on size
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(col: Column | str, n: int) -> Column:
    """Space-joined word n-grams over the standard token contract
    (``functions.text.tokens``: ``[a-z0-9]+`` on lowercased text).

    Convenience single-expression form — fine for small/benchmark
    inputs, but HOT paths must stage the token array and use
    ``ngrams_from_tokens`` (see there for why)."""
    return ngrams_from_tokens(X.tokens(col), n)


# ----------------------------------------------------- decontamination


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Flag documents sharing any word ``n``-gram with a benchmark set
    (GPT-3 appendix C / PaLM-style train-test decontamination).

    Returns one row per input document:
    ``id_col, total_ngrams, contaminated_ngrams (distinct overlapping),
    contaminated (bool)``.

    Plan: benchmark n-grams are distinct-ed and **broadcast** (eval
    suites are ~10^5 n-grams even for large harnesses); the corpus side
    explodes its n-grams map-side and broadcast-semi-joins, so the only
    shuffle is the per-document hit count — partial-aggregated, key =
    document id, no skew (each doc contributes ≤ its own n-gram count).
    The left join back preserves clean documents with a 0 count.
    """
    bench_text_col = bench_text_col or text_col
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(bench_text_col, n)).alias("ngram"))
        .distinct()
    )
    toked = docs.select(F.col(id_col), X.tokens(text_col).alias("_toks"))
    grams = toked.select(
        F.col(id_col), F.explode(ngrams_from_tokens("_toks", n)).alias("ngram")
    )
    hits = (
        grams.join(F.broadcast(bench_grams), "ngram", "inner")
        .groupBy(id_col)
        .agg(F.count_distinct("ngram").alias("contaminated_ngrams"))
    )
    # |ngrams| = max(0, |tokens| − n + 1): no need to materialize them
    total = F.greatest(F.size("_toks") - (n - 1), F.lit(0))
    return (
        toked.select(F.col(id_col), total.alias("total_ngrams"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.col("total_ngrams").cast("long").alias("total_ngrams"),
            F.coalesce("contaminated_ngrams", F.lit(0)).cast("long").alias("contaminated_ngrams"),
            (F.coalesce("contaminated_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def corpus_token_profile(
    docs: DataFrame,
    by: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
    percentiles: tuple[float, ...] = (0.5, 0.95),
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-slice token-length profile: doc count, total tokens, and
    length percentiles — the first pass over any new crawl slice.

    ``approx=False`` uses exact interpolated ``percentile`` (buffers
    every value per group — right for oracle comparison and small
    slices). ``approx=True`` is the 100 TB tier:
    ``approx_percentile`` (Greenwald-Khanna sketch, bounded memory per
    group, partial-aggregable so hot sources never buffer their full
    length list on one reducer) at 1/``accuracy`` relative rank error.
    """
    fn = "approx_percentile" if approx else "percentile"
    extra = f", {accuracy}" if approx else ""
    base = docs.select(
        *by, F.size(X.tokens(text_col)).alias("_n_toks")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_n_toks").cast("long").alias("total_tokens"),
    ] + [
        F.round(
            F.expr(f"{fn}(_n_toks, {p}{extra})").cast("double"), 6
        ).alias(f"p{int(p * 100)}_tokens")
        for p in percentiles
    ]
    return base.groupBy(*by).agg(*aggs)


class NgramBloom:
    """A Bloom filter over benchmark n-grams — the 100 TB tier of
    decontamination. The exact path broadcasts the distinct benchmark
    n-gram STRINGS (fine for eval suites, ~10^5 grams); a leaked-
    pretraining-set sweep can carry 10^8+ grams where the string
    broadcast is gigabytes. The bloom broadcasts a fixed bit array
    instead (~28.8 bits/gram at the fpp=1e-6 default: 10^8 grams ≈
    360 MB) with the one-sided guarantee that matters for
    decontamination: NO false negatives — every truly contaminated
    n-gram is flagged; a small fpp of clean grams is over-flagged (the
    conservative direction: you drop slightly more than you must,
    never leak eval data).

    fpp compounds at DOC level: a clean doc with g n-grams is flagged
    with probability ≈ g·fpp, so a ~100-gram doc at fpp=1e-3 carries
    ~10% false-flag odds (measured: tools/bloom_table.py). The 1e-6
    default keeps doc-level error ~1e-4 at typical doc lengths; raise
    fpp only if the report thresholds on contaminated_ngrams counts
    rather than the boolean.

    Hashing is Kirsch-Mitzenmacher double hashing over two JVM-side
    ``xxhash64`` seeds (bit positions = (h1 + i·h2) mod m, uint64
    wraparound) so the Python side only does vectorized numpy bit
    arithmetic — no Python string hashing anywhere.
    """

    def __init__(self, bitmap, m_bits: int, k: int, n_items: int):
        import numpy as np

        self.bitmap = np.asarray(bitmap, dtype=np.uint8)
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.n_items = int(n_items)

    # -- persistence: one-row (m_bits, k, n_items, bitmap) table -------
    def to_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [(self.m_bits, self.k, self.n_items, bytes(self.bitmap.tobytes()))],
            "m_bits long, k int, n_items long, bitmap binary",
        )

    @classmethod
    def from_df(cls, df: DataFrame) -> "NgramBloom":
        import numpy as np

        r = df.collect()[0]
        return cls(
            np.frombuffer(r["bitmap"], dtype=np.uint8),
            r["m_bits"],
            r["k"],
            r["n_items"],
        )


_BLOOM_SEED2 = 0x5BF03635  # second xxhash64 seed (Kirsch-Mitzenmacher)


def _bloom_positions(h1, h2, k: int, m_bits: int):
    """Vectorized double-hash bit positions; uint64 wraparound mod m."""
    import numpy as np

    u1 = h1.to_numpy().astype(np.uint64)
    u2 = h2.to_numpy().astype(np.uint64)
    with np.errstate(over="ignore"):
        return [
            ((u1 + np.uint64(i) * u2) % np.uint64(m_bits)) for i in range(k)
        ]


def build_ngram_bloom(
    benchmark: DataFrame,
    n: int = 8,
    bench_text_col: str = "text",
    fpp: float = 1e-6,
) -> NgramBloom:
    """Build the benchmark-side Bloom filter, distributed and
    bitmap-SLICED (the r5 coalesce(16)+driver-OR scheme capped the
    distinct-gram stage at 16 tasks and pushed 16 full bitmaps —
    ~5.8 GB at the 10⁸-gram / fpp 1e-6 tier — through the driver):

    1. distinct benchmark n-grams → two xxhash64 seeds per gram
       (JVM-side, map-only, NATURAL parallelism — no coalesce);
    2. every gram's k double-hash bit positions are emitted as
       (slice, offset) rows (Arrow-batched ``mapInPandas``; a slice is
       a contiguous ~8 MB stripe of the bitmap);
    3. ONE shuffle repartitions positions by slice; each reducer owns
       exactly one stripe, ORs its offsets into a slice-local bitmap,
       and emits it once;
    4. the driver places each slice at its byte offset — total driver
       transit is exactly m bits, independent of build parallelism.

    m = ceil(-n·ln(fpp)/ln²2) bits, k = round(m/n·ln2) — the standard
    optimal sizing. The build/probe split follows the repo's frozen-
    model discipline (dsir_train/apply, bigram_train/apply): build once
    per benchmark release, persist via ``NgramBloom.to_df``, probe any
    number of corpora.
    """
    import math

    import numpy as np

    grams = benchmark.select(
        F.explode(word_ngrams(bench_text_col, n)).alias("ngram")
    ).distinct()
    n_items = grams.count()
    if n_items == 0:
        return NgramBloom(np.zeros(1, dtype=np.uint8), 8, 1, 0)
    m_bits = max(64, int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2))))
    m_bits = (m_bits + 7) // 8 * 8
    k = min(16, max(1, round(m_bits / n_items * math.log(2))))

    hashed = grams.select(
        F.xxhash64("ngram").alias("h1"),
        F.xxhash64("ngram", F.lit(_BLOOM_SEED2)).alias("h2"),
    )
    sliced, slice_bits, n_slices = _bloom_slice_plan(hashed, m_bits, k)
    bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
    slice_bytes = slice_bits // 8
    for r in sliced.collect():
        start = r["slice"] * slice_bytes
        chunk = np.frombuffer(r["bm"], dtype=np.uint8)
        end = min(start + len(chunk), len(bitmap))
        bitmap[start:end] |= chunk[: end - start]
    return NgramBloom(bitmap, m_bits, k, n_items)


# a bitmap stripe per reducer: big enough that slice rows stay few,
# small enough that a reducer's working set is trivial
_BLOOM_SLICE_TARGET_BITS = 8 * (1 << 20) * 8  # 8 MB


def _bloom_slice_plan(hashed: DataFrame, m_bits: int, k: int):
    """The distributed part of the sliced Bloom build: (h1, h2) rows →
    one (slice int, bm binary) row per bitmap stripe. Returned
    un-collected so the plan test can assert its shape (no Coalesce;
    the only exchange is the by-slice repartition)."""
    import math

    import numpy as np
    import pandas as pd

    n_slices = max(1, min(4096, math.ceil(m_bits / _BLOOM_SLICE_TARGET_BITS)))
    slice_bits = (math.ceil(m_bits / n_slices) + 7) // 8 * 8

    def positions(batches):
        sb = np.uint64(slice_bits)
        for b in batches:
            pos = np.concatenate(_bloom_positions(b["h1"], b["h2"], k, m_bits))
            yield pd.DataFrame(
                {
                    "slice": (pos // sb).astype(np.int32),
                    "off": (pos % sb).astype(np.int64),
                }
            )

    def build_slices(batches):
        maps: dict[int, "np.ndarray"] = {}
        for b in batches:
            sl = b["slice"].to_numpy()
            off = b["off"].to_numpy().astype(np.uint64)
            for s in np.unique(sl):
                bm = maps.setdefault(
                    int(s), np.zeros(slice_bits // 8, dtype=np.uint8)
                )
                o = off[sl == s]
                np.bitwise_or.at(
                    bm,
                    (o >> np.uint64(3)).astype(np.int64),
                    np.left_shift(np.uint8(1), (o & np.uint64(7)).astype(np.uint8)),
                )
        if not maps:  # empty reducer partition — typed empty batch
            yield pd.DataFrame(
                {
                    "slice": pd.Series([], dtype="int32"),
                    "bm": pd.Series([], dtype=object),
                }
            )
            return
        yield pd.DataFrame(
            {"slice": list(maps), "bm": [m.tobytes() for m in maps.values()]}
        )

    sliced = (
        hashed.mapInPandas(positions, "slice int, off long")
        .repartition(n_slices, "slice")
        .mapInPandas(build_slices, "slice int, bm binary")
    )
    return sliced, slice_bits, n_slices


def decontaminate_bloom(
    docs: DataFrame,
    bloom: NgramBloom,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-tier decontamination report — same contract as
    ``decontaminate`` (``id, total_ngrams, contaminated_ngrams,
    contaminated``), with ``contaminated_ngrams`` counting bloom HITS:
    a superset of the exact overlap (no false negatives; ≤ fpp of
    clean grams over-counted — locked by the superset test).

    Plan: corpus n-grams and their two xxhash64 seeds are map-side;
    membership is one Arrow-batched pandas UDF over the broadcast
    bitmap (vectorized numpy bit tests, k ≤ 16 passes per batch); the
    only shuffle is the same per-doc partial-aggregated hit count as
    the exact path. The benchmark side never re-reads: the broadcast
    is the fixed-size bitmap, independent of benchmark row count.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(
        (bloom.bitmap.tobytes(), bloom.m_bits, bloom.k)
    )

    # no annotations: under `from __future__ import annotations` the
    # stringified hints break pandas_udf signature inference
    @pandas_udf("boolean")
    def bloom_hit(h1, h2):
        bm_bytes, m_bits, k = bc.value
        bm = np.frombuffer(bm_bytes, dtype=np.uint8)
        acc = np.ones(len(h1), dtype=bool)
        for pos in _bloom_positions(h1, h2, k, m_bits):
            bit = (bm[(pos >> np.uint64(3)).astype(np.int64)]
                   >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
            acc &= bit.astype(bool)
        return pd.Series(acc)

    toked = docs.select(F.col(id_col), X.tokens(text_col).alias("_toks"))
    grams = toked.select(
        F.col(id_col), F.explode(ngrams_from_tokens("_toks", n)).alias("ngram")
    ).select(
        id_col,
        "ngram",
        F.xxhash64("ngram").alias("h1"),
        F.xxhash64("ngram", F.lit(_BLOOM_SEED2)).alias("h2"),
    )
    hits = (
        grams.filter(bloom_hit("h1", "h2"))
        .groupBy(id_col)
        .agg(F.count_distinct("ngram").alias("contaminated_ngrams"))
    )
    total = F.greatest(F.size("_toks") - (n - 1), F.lit(0))
    return (
        toked.select(F.col(id_col), total.alias("total_ngrams"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.col("total_ngrams").cast("long").alias("total_ngrams"),
            F.coalesce("contaminated_ngrams", F.lit(0)).cast("long").alias("contaminated_ngrams"),
            (F.coalesce("contaminated_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_semantic(
    doc_embeddings: DataFrame,
    bench_embeddings: DataFrame,
    centroids=None,
    nlist: int = 64,
    nprobe: int = 4,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine train-test decontamination — the paraphrase
    blind spot of :func:`decontaminate`/:func:`decontaminate_bloom`:
    n-gram overlap misses benchmark items that leaked into the corpus
    reworded (the published contamination studies' motivating case),
    while high-similarity embeddings catch them.

    Returns one row per corpus document:
    ``id_col, best_bench_id, best_sim (max cosine vs any benchmark
    item, NULL/0-free via left join), contaminated (bool)``.

    Plan (the SemDeDup cell-scoping shape, dedup.semantic_duplicates):
    k-means cells bound the comparison — never corpus × benchmark. The
    CORPUS side is assigned to exactly ONE cell (one map-side argmin,
    no shuffle); the BENCHMARK side — bounded, like the n-gram path's
    broadcast — is expanded to its ``nprobe`` nearest cells
    (index._probe_clusters_udf), so boundary-straddling paraphrases
    are still compared without ever multi-assigning the big side.
    The expanded bench table (|bench| × nprobe rows) broadcasts; the
    per-doc max is a partial aggregation keyed by document id. At
    100 TB: corpus scan + broadcast hash join + partial agg — zero
    corpus shuffles beyond the doc-keyed max.

    Pass frozen ``centroids`` to reuse a standing index (the
    incremental discipline of semdedup_incremental); otherwise they are
    trained here from a driver-side sample of the corpus.
    """
    from customkb_spark.embedding.index import (
        _probe_clusters_udf,
        assign_clusters,
        train_centroids,
    )
    from customkb_spark.functions import vector as V

    bench_id_col = bench_id_col or id_col
    if centroids is None:
        centroids = train_centroids(doc_embeddings, vec_col, nlist)
    docs_a = assign_clusters(doc_embeddings, centroids, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("cluster_id"),
        # pre-normed cosine (r9): per-row norms bound before the join —
        # bit-identical scores, one dot fold per candidate pair
        V.norm(F.col(vec_col)).alias("_nv"),
    )
    bench_a = bench_embeddings.select(
        F.col(bench_id_col).alias("_bench_id"),
        F.col(vec_col).alias("_bench_vec"),
        F.explode(
            _probe_clusters_udf(centroids, nprobe)(F.col(vec_col))
        ).alias("cluster_id"),
        V.norm(F.col(vec_col)).alias("_nb"),
    )
    sim = F.round(
        V.dot(F.col(vec_col), F.col("_bench_vec"))
        / (F.col("_nv") * F.col("_nb")),
        6,
    )
    # deterministic argmax: struct max orders by (sim, bench_id), so a
    # sim tie resolves to the LARGEST bench id on every engine
    best = (
        docs_a.join(F.broadcast(bench_a), "cluster_id")
        .select(F.col(id_col), F.col("_bench_id"), sim.alias("_sim"))
        .groupBy(id_col)
        .agg(F.max(F.struct("_sim", "_bench_id")).alias("_best"))
        .select(
            id_col,
            F.col("_best._bench_id").alias("best_bench_id"),
            F.col("_best._sim").alias("best_sim"),
        )
    )
    return (
        doc_embeddings.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            "best_bench_id",
            F.coalesce("best_sim", F.lit(-1.0)).alias("best_sim"),
            (F.coalesce("best_sim", F.lit(-1.0)) >= threshold).alias("contaminated"),
        )
    )


# ------------------------------------------------------- PII redaction

# Patterns are kept in the common subset of Java regex (Spark) and RE2
# (DuckDB oracle): character classes, bounded repetition, \b — no
# lookaround, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}
# Redaction order is load-bearing: ssn before phone/ipv4 (an SSN's
# digits must not be half-eaten by a later pattern), email first
# (emails may contain dots that ipv4 would otherwise chew on).
PII_ORDER = ["email", "ssn", "phone", "ipv4"]


def pii_scrub(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Redact PII spans and count them, entirely JVM-side.

    Adds ``n_<kind>`` count columns (pre-redaction occurrence counts on
    the original text) and ``out_col`` with each span replaced by
    ``<KIND>``. The reference has no PII pass; this mirrors the
    C4/MassiveText-style scrubbers. One projection, zero shuffles —
    at 100 TB this runs at parquet-scan speed.
    """
    out = df
    for kind in PII_ORDER:
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(PII_PATTERNS[kind]), F.lit(0))).cast("long"),
        )
    red = F.col(text_col)
    for kind in PII_ORDER:
        red = F.regexp_replace(red, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out.withColumn(out_col, red)


# ------------------------------------------- repetition (Gopher rules)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ngram: int = 2,
) -> DataFrame:
    """Per-document repetition signals (Gopher §A1.1 repetition
    filters, re-expressed as one explode + one aggregation):

    - ``n_lines`` / ``dup_line_frac`` — fraction of newline-split lines
      that are duplicates of an earlier line (pure expression);
    - ``dup_word_frac`` — 1 − distinct/total tokens (pure expression);
    - ``top_ngram_frac`` — occurrences of the most frequent word
      ``top_ngram``-gram over total n-grams (requires the one shuffle:
      groupBy (doc, gram) with partial aggregation, then per-doc max).

    Gopher drops docs with dup_line_frac > 0.30 or top 2-gram char
    fraction > 0.20; thresholds are left to the caller — this operator
    reports the signals.
    """
    lines = F.split(F.col(text_col), "\n")
    base = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.round(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            / F.greatest(F.size(lines), F.lit(1)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            (F.size(X.tokens(text_col)) - F.size(F.array_distinct(X.tokens(text_col))))
            / F.greatest(F.size(X.tokens(text_col)), F.lit(1)),
            6,
        ).alias("dup_word_frac"),
    )
    grams = df.select(F.col(id_col), X.tokens(text_col).alias("_toks")).select(
        F.col(id_col), F.explode(ngrams_from_tokens("_toks", top_ngram)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    top = per_gram.groupBy(id_col).agg(
        F.max("cnt").cast("long").alias("top_gram_cnt"),
        F.sum("cnt").cast("long").alias("total_grams"),
    )
    return (
        base.join(top, id_col, "left")
        .select(
            id_col,
            "n_lines",
            "dup_line_frac",
            "dup_word_frac",
            F.coalesce("top_gram_cnt", F.lit(0)).cast("long").alias("top_gram_cnt"),
            F.coalesce("total_grams", F.lit(0)).cast("long").alias("total_grams"),
            F.round(
                F.coalesce("top_gram_cnt", F.lit(0))
                / F.greatest(F.coalesce("total_grams", F.lit(0)), F.lit(1)),
                6,
            ).alias("top_ngram_frac"),
        )
    )


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The FULL Gopher §A1.1 repetition battery (Rae et al. 2021,
    table A1) — per document:

    - ``dup_line_frac`` / ``dup_para_frac`` — fraction of line (resp.
      blank-line-separated paragraph) occurrences that repeat an
      earlier identical line/paragraph;
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — characters in
      those repeated occurrences over ``length(text)``;
    - ``top_{n}_gram_char_frac`` (n ∈ ``top_ns``) — characters covered
      by occurrences of the single most frequent word n-gram
      (count × n-gram char length, the paper's convention — overlapping
      occurrences are not de-overlapped, so degenerate "a a a …" docs
      can exceed 1);
    - ``dup_{n}_gram_char_frac`` (n ∈ ``dup_ns``) — characters covered
      by the UNION of all word n-grams that occur more than once in
      the doc (de-overlapped, the paper's "all duplicate n-grams"
      mask).

    Char space for the n-gram metrics is the whitespace-canonicalized
    token join (tokens + single separating spaces — the corpus
    tokenizer's text form, same convention as content_hash /
    exact_substring_dedup); a separating space counts as covered when
    both flanking tokens are covered. Line/para metrics are over the
    raw text. Published drop thresholds (0.30/0.20 lines, 0.20/0.18/
    0.16 top 2/3/4-grams, 0.15..0.10 dup 5..10-grams) are the
    caller's; this reports the signals.

    Plan at 100 TB (everything is per-doc; no corpus-wide key ever
    shuffles):
    - line/para metrics and the gram build are pure map-side column
      algebra (one ``transform`` per n over the staged token array);
    - ONE posexploded gram table feeds both metric families; gram
      counts come from a (doc, n, gram)-partitioned window (hot grams
      stay inside their doc's partition — skew is bounded by doc
      length, not corpus frequency);
    - the duplicate-gram mask fans out ONLY duplicated positions
      (× n ≤ 10), then joins token lengths on (doc, pos) — corpus-
      token-sized but hash-co-located, with map-side distinct first;
    - per-doc pivots are tiny (≤ len(top_ns)+len(dup_ns) rows/doc).
    """
    from pyspark.sql.window import Window

    all_ns = sorted(set(top_ns) | set(dup_ns))
    lines = F.split(F.col("_txt"), "\n")
    paras = F.split(F.col("_txt"), "\n\n")
    chars_of = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )

    base = (
        df.select(
            F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("_txt")
        )
        .withColumn("_toks", X.tokens("_txt"))
        .withColumn("_total", F.length(F.array_join("_toks", " ")))
    )
    doc_metrics = base.select(
        id_col,
        "_toks",
        "_total",
        F.round(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            / F.greatest(F.size(lines), F.lit(1)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            (chars_of(lines) - chars_of(F.array_distinct(lines)))
            / F.greatest(F.length("_txt"), F.lit(1)),
            6,
        ).alias("dup_line_char_frac"),
        F.round(
            (F.size(paras) - F.size(F.array_distinct(paras)))
            / F.greatest(F.size(paras), F.lit(1)),
            6,
        ).alias("dup_para_frac"),
        F.round(
            (chars_of(paras) - chars_of(F.array_distinct(paras)))
            / F.greatest(F.length("_txt"), F.lit(1)),
            6,
        ).alias("dup_para_char_frac"),
    )

    def gram_structs(n: int) -> Column:
        return F.when(
            F.size("_toks") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    i.alias("pos"),
                    F.md5(F.array_join(F.slice("_toks", i + 1, n), " ")).alias(
                        "ghash"
                    ),
                    F.length(F.array_join(F.slice("_toks", i + 1, n), " ")).alias(
                        "glen"
                    ),
                ),
            ),
        ).otherwise(
            F.array().cast(
                "array<struct<n:int,pos:int,ghash:string,glen:int>>"
            )
        )

    ex = doc_metrics.select(
        id_col, F.explode(F.flatten(F.array(*[gram_structs(n) for n in all_ns]))).alias("g")
    ).select(id_col, "g.n", "g.pos", "g.ghash", "g.glen")
    wg = Window.partitionBy(id_col, "n", "ghash")
    counted = ex.withColumn("cnt", F.count(F.lit(1)).over(wg))

    # --- top-n-gram char fraction: argmax by (cnt, glen, ghash) ---
    top = (
        counted.filter(F.col("n").isin(list(top_ns)))
        .groupBy(id_col, "n", "ghash", "glen", "cnt")
        .agg(F.count(F.lit(1)).alias("_dummy"))
        .groupBy(id_col, "n")
        .agg(F.max(F.struct("cnt", "glen", "ghash")).alias("_top"))
        .select(
            id_col,
            "n",
            (F.col("_top.cnt") * F.col("_top.glen")).cast("long").alias("_cov"),
        )
        .groupBy(id_col)
        .pivot("n", list(top_ns))
        .agg(F.first("_cov"))
    )
    top = top.select(
        id_col, *[F.col(str(n)).alias(f"_top{n}") for n in top_ns]
    )

    # --- duplicate-n-gram coverage: union mask over covered tokens ---
    tl = base.select(
        id_col, F.posexplode(F.transform("_toks", F.length)).alias("tpos", "tlen")
    )
    cov_tok = (
        counted.filter((F.col("cnt") > 1) & F.col("n").isin(list(dup_ns)))
        .select(
            id_col,
            "n",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.col("n") - 1)).alias(
                "tpos"
            ),
        )
        .distinct()
    )
    wadj = Window.partitionBy(id_col, "n").orderBy("tpos")
    cov = (
        cov_tok.join(tl, [id_col, "tpos"])
        .withColumn(
            "_adj",
            (F.lag("tpos").over(wadj) == F.col("tpos") - 1).cast("long"),
        )
        .groupBy(id_col, "n")
        .agg(
            (F.sum("tlen") + F.sum(F.coalesce("_adj", F.lit(0)))).alias("_cov")
        )
        .groupBy(id_col)
        .pivot("n", list(dup_ns))
        .agg(F.first("_cov"))
    )
    cov = cov.select(id_col, *[F.col(str(n)).alias(f"_dup{n}") for n in dup_ns])

    out = doc_metrics.drop("_toks").join(top, id_col, "left").join(cov, id_col, "left")
    frac = lambda c: F.round(  # noqa: E731
        F.coalesce(F.col(c), F.lit(0)) / F.greatest("_total", F.lit(1)), 6
    )
    return out.select(
        id_col,
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        *[frac(f"_top{n}").alias(f"top_{n}_gram_char_frac") for n in top_ns],
        *[frac(f"_dup{n}").alias(f"dup_{n}_gram_char_frac") for n in dup_ns],
    )


# Gopher §A1's "essential English words" gate set (Rae et al. 2021,
# published thresholds): a doc must contain ≥ 2 of these.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_signal_columns(
    text_col: str = "text", toks: Column | None = None
) -> dict[str, Column]:
    """The Gopher §A1.1 non-repetition signals as NAMED column
    expressions (composable onto any frame, batch or streaming —
    streaming/curation.py attaches them without a join):

    - ``n_words``, ``mean_word_len`` — whitespace words;
    - ``symbol_word_ratio`` — '#' or '…'/'...' occurrences per word
      (each ellipsis form counts ONE symbol — ASCII and Unicode
      spellings of the same mark must gate identically);
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — lines starting
      with a bullet mark / ending in an ellipsis;
    - ``alpha_word_frac`` — words containing ≥ 1 alphabetic char;
    - ``n_stop_hits`` — how many of the 8 Gopher essential words occur.

    Pass ``toks`` (a staged token-array column) to reuse an existing
    tokenization instead of inlining a fresh one.
    """
    c = F.col(text_col)
    words = F.regexp_extract_all(c, F.lit(r"\S+"), 0)
    n_words = F.size(words)
    lines = F.filter(F.split(c, "\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_symbols = (
        F.length(c) - F.length(F.regexp_replace(c, "#|…", ""))
        + F.size(F.regexp_extract_all(c, F.lit(r"\.\.\."), 0))
    )
    if toks is None:
        toks = X.tokens(text_col)
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(
            F.aggregate(words, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
            / F.greatest(n_words, F.lit(1)),
            6,
        ),
        "symbol_word_ratio": F.round(n_symbols / F.greatest(n_words, F.lit(1)), 6),
        "bullet_line_frac": F.round(
            F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•‣▪]")))
            / n_lines, 6,
        ),
        "ellipsis_line_frac": F.round(
            F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")))
            / n_lines, 6,
        ),
        "alpha_word_frac": F.round(
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
            / F.greatest(n_words, F.lit(1)),
            6,
        ),
        # array_intersect evaluates the token array ONCE; the previous
        # filter-lambda form re-ran the inlined tokenizer per stop word
        # (codegen CSE does not cross lambdas — module docstring)
        "n_stop_hits": F.size(F.array_intersect(toks, stop_arr)).cast("long"),
    }


def gopher_quality_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher quality-filter signals (Rae et al. 2021
    §A1.1, the non-repetition half — repetition_signals covers the
    rest). ALL pure column expressions — zero shuffles, scan-speed at
    any corpus size. See gopher_signal_columns for the signal list."""
    sig = gopher_signal_columns(text_col)
    return df.select(F.col(id_col), *[c.alias(n) for n, c in sig.items()])


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher's published accept/reject rule over the signals (defaults
    are the paper's §A1.1 thresholds). Returns (id, …signals…,
    gopher_pass) — callers filter or inspect; joins nothing, shuffles
    nothing."""
    sig = gopher_quality_signals(df, text_col, id_col)
    passed = gopher_pass_from_signals(
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_ratio, max_bullet_frac, max_ellipsis_frac,
        min_alpha_frac, min_stop_hits,
    )
    return sig.withColumn("gopher_pass", passed)


def gopher_pass_from_signals(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """The accept predicate over ALREADY-ATTACHED signal columns (the
    names gopher_signal_columns emits) — shared by the batch filter and
    the streaming gate (streaming/curation.py)."""
    return (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_frac)
        & (F.col("n_stop_hits") >= min_stop_hits)
    )


def tfidf_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_token_len: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF keyphrases per document — the distributed form
    of the reference's per-chunk keyphrase concept (its chunks table
    carries a ``keyphrase_processed`` flag for exactly this pass).

    Plan: one explode → (doc, term) partial-agg count → vocabulary df
    (term-keyed partial agg, vocabulary-sized not corpus-sized) joined
    back → per-doc rank window (partitioned by doc — never a global
    window) → collect_list of the ordered head. idf = ln((N+1)/(df+1))
    + 1 (smoothed, sklearn convention), score rounded to 6.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    terms = df.select(
        F.col(id_col),
        F.explode(
            F.filter(X.tokens(text_col), lambda t: F.length(t) >= min_token_len)
        ).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    vocab_df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(vocab_df, "term").select(
        id_col, "term", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_rn", "term", "tfidf"))
            ).alias("_ranked")
        )
        .select(
            id_col,
            F.transform("_ranked", lambda s: s["term"]).alias("keyphrases"),
            F.transform("_ranked", lambda s: s["tfidf"]).alias("scores"),
        )
    )


# ------------------------------------------------ span-level dedup


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> DataFrame:
    """C4-style exact span deduplication, reported per document.

    The corpus is cut into non-overlapping ``span_words``-word blocks;
    a block whose text already occurred EARLIER in the corpus (by
    (doc id, span index) order) is a duplicate span. C4 removes
    duplicate three-sentence spans corpus-wide keeping the first
    occurrence; this is the same operator at word-block granularity
    (the corpus-order tiebreak makes it deterministic and
    oracle-checkable).

    Returns ``id_col, n_spans, dup_spans, dup_span_frac``.

    Plan — aggregation-only, NO ranking window (a window partitioned by
    span_hash would send every occurrence of a hyper-common span — "the
    the the…" boilerplate at corpus scale — to one task; partial
    aggregation collapses duplicates map-side instead, so hot spans are
    skew-immune):

    1. per-span groupBy → the minimum (doc, idx) struct = the owner of
       the first occurrence, + total occurrences (both combine
       map-side);
    2. firsts-per-doc = groupBy the owner doc (≤ one row per distinct
       span reaches the shuffle);
    3. ``dup_spans(doc) = n_spans(doc) − firsts(doc)`` — a left join of
       two per-doc aggregates (tiny relative to the corpus).

    No self-joins over corpus rows, no collect, no windows.
    """
    # _toks staged in its own projection: a raw X.tokens() expression
    # captured by the transform() lambda is re-evaluated PER SPAN under
    # interpreted HOF evaluation (the l2_normalize capture trap) — the
    # regex tokenizer must run once per row, then the lambda slices an
    # attribute.
    toked = df.select(F.col(id_col), X.tokens(text_col).alias("_toks"))
    tk = F.col("_toks")
    spans = toked.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.size(tk) - 1) / span_words, F.lit(0)
                    ).cast("int"),
                ),
                lambda i: F.array_join(
                    F.slice(tk, i * span_words + 1, span_words), " "
                ),
            )
        ).alias("span_idx", "span_text"),
    ).filter(F.length("span_text") > 0)
    spans = spans.select(id_col, "span_idx", F.md5("span_text").alias("span_hash"))

    per_doc = spans.groupBy(id_col).agg(F.count("*").cast("long").alias("n_spans"))
    owners = (
        spans.groupBy("span_hash")
        .agg(F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("first_occ"))
        .select(F.col(f"first_occ.{id_col}").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("firsts"))
    )
    return (
        per_doc.join(owners, id_col, "left")
        .select(
            id_col,
            "n_spans",
            (F.col("n_spans") - F.coalesce("firsts", F.lit(0))).cast("long").alias("dup_spans"),
            F.round(
                (F.col("n_spans") - F.coalesce("firsts", F.lit(0)))
                / F.greatest(F.col("n_spans"), F.lit(1)),
                6,
            ).alias("dup_span_frac"),
        )
    )


# -------------------------------------- C4 / CCNet page cleaning

C4_POLICY_MARKERS = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
)


def c4_kept_lines(
    text_col: Column | str,
    min_words_per_line: int = 5,
    drop_line_markers: tuple[str, ...] = ("javascript",),
) -> Column:
    """Array of the (trimmed) lines C4's line rules retain — the
    shared expression behind ``c4_page_filters`` and the streaming
    gate. See ``c4_page_filters`` for the rule list."""

    def _keep_line(l: Column) -> Column:
        words = F.size(F.filter(F.split(l, r"\s+"), lambda w: F.length(w) > 0))
        ok = (words >= min_words_per_line) & l.rlike(r'[.!?"]$')
        for m in drop_line_markers:
            ok = ok & ~F.lower(l).contains(F.lit(m))
        return ok

    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        # NOT bare F.trim: transform would bind its optional second
        # parameter (trimStr) to the element index
        F.transform(F.split(col, "\n"), lambda l: F.trim(l)),
        _keep_line,
    )


def bad_word_flag(text_col: Column | str, bad_words: tuple[str, ...]) -> Column:
    """Whole-word, case-insensitive bad-word page flag (C4's list
    matching semantics). ``lit(False)`` when the list is empty."""
    if not bad_words:
        return F.lit(False)
    import re as _re

    col = F.col(text_col) if isinstance(text_col, str) else text_col
    pat = r"\b(?:" + "|".join(_re.escape(w.lower()) for w in bad_words) + r")\b"
    return F.lower(col).rlike(pat)


def marker_flag(text_col: Column | str, markers: tuple[str, ...]) -> Column:
    """Case-insensitive substring page flag (policy boilerplate /
    'lorem ipsum' style markers)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(col)
    flag = F.lit(False)
    for m in markers:
        flag = flag | low.contains(F.lit(m))
    return flag


def c4_page_verdict(
    text_col: Column | str,
    kept: Column,
    min_sentences: int = 3,
    bad_words: tuple[str, ...] = (),
    policy_markers: tuple[str, ...] = C4_POLICY_MARKERS,
) -> Column:
    """The C4 page-keep decision as one expression over the original
    text and a ``c4_kept_lines`` array — shared by ``c4_page_filters``
    and the streaming gate so the two can never drift."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    n_sent = F.length(F.regexp_replace(F.array_join(kept, "\n"), r"[^.!?]", ""))
    return (
        (n_sent >= min_sentences)
        & ~bad_word_flag(col, bad_words)
        & ~marker_flag(col, policy_markers)
        & ~marker_flag(col, ("lorem ipsum",))
        & ~col.contains(F.lit("{"))
    )


def c4_page_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    bad_words: tuple[str, ...] = (),
    policy_markers: tuple[str, ...] = C4_POLICY_MARKERS,
    drop_line_markers: tuple[str, ...] = ("javascript",),
) -> DataFrame:
    """The full C4 page/line cleaning battery (Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning…", §2.2 — the rules that
    built the Colossal Clean Crawled Corpus), as one map-side pass.

    Line rules (applied to ``\\n``-split, trimmed lines; survivors are
    rejoined into ``clean_text``):
      - keep only lines ending in a terminal punctuation mark
        (``. ! ? "``);
      - keep only lines with ≥ ``min_words_per_line`` words (C4: 5);
      - drop lines containing any ``drop_line_markers`` word
        (C4: "javascript").

    Page rules (flags computed on the ORIGINAL text; ``keep`` is the
    C4 drop decision):
      - fewer than ``min_sentences`` sentences in the retained text
        (sentence ≈ terminal-punctuation mark, C4's own heuristic);
      - any ``bad_words`` entry as a whole word (C4 used the public
        "List of Dirty, Naughty…" list — caller-supplied here);
      - any ``policy_markers`` phrase ("terms of use" boilerplate);
      - the literal phrase "lorem ipsum";
      - the ``{`` character (code pages).

    The remaining C4 step — corpus-wide dedup of repeated spans — is a
    corpus-level (not per-page) operator: ``span_dedup_stats`` /
    ``line_dedup`` here.

    Returns one row per input document: ``id_col, clean_text,
    lines_total, lines_kept, n_sentences, has_bad_word, has_policy,
    has_lorem, has_brace, keep``.

    Plan: pure column algebra over a staged line array — ZERO shuffles,
    zero Python; at 100 TB this runs at parquet-scan speed, and the
    kept-lines array is materialized once per row (staged projection)
    so the lambda expressions are not re-evaluated per consumer.
    """
    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_orig"),
        c4_kept_lines(text_col, min_words_per_line, drop_line_markers).alias(
            "_kept"
        ),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("lines_total"),
    )
    clean = F.array_join(F.col("_kept"), "\n")
    has_bad = bad_word_flag("_orig", bad_words)
    has_policy = marker_flag("_orig", policy_markers)
    out = staged.select(
        F.col(id_col),
        clean.alias("clean_text"),
        "lines_total",
        F.size("_kept").cast("long").alias("lines_kept"),
        F.length(F.regexp_replace(clean, r"[^.!?]", "")).cast("long").alias("n_sentences"),
        has_bad.alias("has_bad_word"),
        has_policy.alias("has_policy"),
        marker_flag("_orig", ("lorem ipsum",)).alias("has_lorem"),
        F.col("_orig").contains(F.lit("{")).alias("has_brace"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_bad_word")
        & ~F.col("has_policy")
        & ~F.col("has_lorem")
        & ~F.col("has_brace"),
    )


REFINEDWEB_MAX_REMOVED_FRAC = 0.05  # the paper's 5% page budget


def refinedweb_removed_frac(lines: Column, kept: Column) -> Column:
    """Fraction of line characters the corrections removed (rounded 6
    dp; separators excluded) — shared by the batch operator and the
    streaming gate."""
    total = F.aggregate(lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l))
    kc = F.aggregate(kept, F.lit(0).cast("long"), lambda a, l: a + F.length(l))
    return F.when(total > 0, F.round((total - kc) / total, 6)).otherwise(
        F.lit(0.0)
    )


def refinedweb_kept_lines(
    text_col: Column | str, upper_frac: float = 0.6
) -> Column:
    """Array of the (trimmed) lines RefinedWeb's corrections retain —
    the shared expression behind ``refinedweb_line_corrections`` and
    the streaming gate. See there for the rule list."""
    counter_pat = (
        r"(?i)^\d+\s+(likes?|comments?|shares?|views?|followers?|"
        r"retweets?|upvotes?|points?)$"
    )
    numeric_pat = r"^[0-9\s.,:%-]*[0-9][0-9\s.,:%-]*$"

    def _drop_line(l: Column) -> Column:
        letters = F.length(F.regexp_replace(l, r"[^A-Za-z]", ""))
        uppers = F.length(F.regexp_replace(l, r"[^A-Z]", ""))
        words = F.size(F.filter(F.split(l, r"\s+"), lambda w: F.length(w) > 0))
        return (
            ((letters > 0) & (uppers / letters > upper_frac))
            | l.rlike(numeric_pat)
            | l.rlike(counter_pat)
            | (words == 1)
        )

    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.transform(F.split(col, "\n"), lambda l: F.trim(l)),
        lambda l: ~_drop_line(l),
    )


def refinedweb_line_corrections(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    upper_frac: float = 0.6,
    max_removed_frac: float = REFINEDWEB_MAX_REMOVED_FRAC,
) -> DataFrame:
    """RefinedWeb line-wise corrections (Penedo et al. 2023, "The
    RefinedWeb Dataset for Falcon LLM", §G.2): drop lines that are
    web-interface residue, then drop the whole document if the
    corrections removed too much of it.

    A (trimmed) line is removed when it is:
      - mainly uppercase: > ``upper_frac`` of its letters are capitals
        (menu/heading residue; lines with no letters are exempt);
      - only numerical characters (digits with ``. , : % -`` spacing);
      - a social-media counter (``\\d+ likes`` / comments / shares /
        views / followers / retweets / upvotes / points);
      - a single word (navigation items — the paper's rule).

    Document rule: if the removed lines account for more than
    ``max_removed_frac`` of the document's line characters (the paper
    uses 5%), the page itself is dropped (``keep = false``) — heavy
    interface residue predicts a low-quality extraction.

    Returns ``id_col, clean_text, lines_total, lines_kept,
    removed_char_frac, keep``. Pure column algebra over a staged line
    array — ZERO shuffles, zero Python (same scan-speed shape as
    ``c4_page_filters``).
    """
    staged = df.select(
        F.col(id_col),
        refinedweb_kept_lines(text_col, upper_frac).alias("_kept"),
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)).alias(
            "_lines"
        ),
    )
    # char accounting over line CONTENTS (separators excluded) so the
    # ratio is insensitive to how many newlines the extractor emitted
    removed_frac = refinedweb_removed_frac(F.col("_lines"), F.col("_kept"))
    return staged.select(
        F.col(id_col),
        F.array_join("_kept", "\n").alias("clean_text"),
        F.size("_lines").cast("long").alias("lines_total"),
        F.size("_kept").cast("long").alias("lines_kept"),
        removed_frac.alias("removed_char_frac"),
        (removed_frac <= max_removed_frac).alias("keep"),
    )


def ccnet_line_norm(col: Column | str) -> Column:
    """CCNet line normalization (Wenzek et al. 2020): lowercase,
    digits and punctuation stripped, whitespace collapsed — the
    dedup-key transform shared by ``line_dedup`` and the streaming
    admission gate."""
    col = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[^a-z\s]", ""), r"\s+", " "
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style corpus-wide line/paragraph deduplication WITH
    reassembly (Wenzek et al. 2020, "CCNet: Extracting High Quality
    Monolingual Datasets…", §3.1 — there per CC shard; here
    deterministic corpus-global so the result is oracle-checkable).

    Each line is normalized the CCNet way (lowercase, digits and
    punctuation stripped, whitespace collapsed) and hashed; the FIRST
    occurrence in corpus order (document id, line position) survives,
    every later copy of the same normalized line is removed, and each
    document's surviving lines are rejoined in order. Lines that
    normalize to empty (pure punctuation / blank) are never dedup
    candidates and always survive.

    Returns one row per input document: ``id_col, clean_text,
    lines_total, lines_kept, lines_removed, dup_line_frac`` —
    ``clean_text`` is the shipped corpus, the counters the report.

    Plan and the skew story (100 TB):
    1. one line explode;
    2. first-occurrence owners via ``groupBy(hash).agg(min(struct))`` —
       PARTIAL-aggregated, so a boilerplate line occurring 10^9 times
       collapses map-side;
    3. occurrences join owners on the hash to decide keep/remove. This
       is deliberately a JOIN and not a ranking window: the owner side
       is unique per key, so AQE's skew-join can split a hot hash's
       partition and replicate the single owner row — a window
       partitioned by hash could never split that partition;
    4. per-document reassembly: ``sort_array(collect_list(struct(pos,
       line)))`` — bounded by the document's own line count.

    No self-joins over corpus rows, no Python, no collect.
    """
    norm = ccnet_line_norm(F.col("_line"))
    base = df.select(F.col(id_col), F.split(F.col(text_col), "\n").alias("_lines"))
    ex = (
        base.select(F.col(id_col), F.posexplode("_lines").alias("_pos", "_line"))
        .withColumn("_h", F.when(F.length(norm) > 0, F.md5(norm)))
    )
    occ = F.struct(F.col(id_col).alias("d"), F.col("_pos").alias("p"))
    owners = (
        ex.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.min(occ).alias("_first"))
    )
    kept = (
        ex.join(owners, "_h", "left")
        .filter(F.col("_h").isNull() | (occ == F.col("_first")))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("lines_kept"),
        )
    )
    totals = base.select(
        F.col(id_col), F.size("_lines").cast("long").alias("lines_total")
    )
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "lines_total",
            F.coalesce("lines_kept", F.lit(0)).cast("long").alias("lines_kept"),
            (F.col("lines_total") - F.coalesce("lines_kept", F.lit(0)))
            .cast("long")
            .alias("lines_removed"),
            F.round(
                (F.col("lines_total") - F.coalesce("lines_kept", F.lit(0)))
                / F.greatest(F.col("lines_total"), F.lit(1)),
                6,
            ).alias("dup_line_frac"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    n: int,
    strata_col: str | None = None,
    seed: str = "wsel-v1",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): keep the top-``n`` rows (per stratum)
    by ``u^(1/w)`` where ``u`` is a per-row uniform draw — rows with
    larger ``weight_col`` are proportionally more likely to survive.
    The quality-weighted selection step of curation pipelines ("sample
    good documents more"), distributed and reproducible:

    - ``u`` derives from md5(key:seed) (same engine-portable trick as
      ``stratified_sample``), so retries/engines agree;
    - ordering uses ``ln(u)/w`` (monotone in u^(1/w), no pow
      underflow), ROUNDED to 6 dp with a key tiebreak so cross-engine
      float ulp differences cannot reorder the cutoff;
    - one window per stratum over rows, top-n kept.

    ``weight_col`` must be > 0. Returns the surviving rows with
    ``sample_rank`` (1 = most favored).
    """
    from pyspark.sql import Window

    u_int = F.conv(hash_bucket_hex(F.col(key_col), seed), 16, 10).cast("long")
    u = (u_int + 1) / F.lit(float(1 << 32))  # (0, 1]
    akey = F.round(F.log(u) / F.col(weight_col), 6)
    part = [strata_col] if strata_col else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(F.desc("_akey"), F.asc(key_col))
    return (
        df.withColumn("_akey", akey)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= n)
        .drop("_akey")
    )


# ----------------------------------------------------- vocabulary


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    rank_partitions: int = 32,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with term/document frequencies and frequency
    rank — the input of tokenizer training (BPE/unigram corpora start
    from exactly this table) and of Zipf-curve corpus diagnostics.

    Returns ``token, tf (corpus occurrences), df (docs containing),
    rank (1 = most frequent, ties broken by token)``.

    One explode + ONE shuffle (groupBy token, both aggregates partial
    — count and count_distinct(doc) combine map-side via
    partial-aggregation).

    The global frequency rank is TWO-PHASE (VERDICT r4 #6): the vocab
    range-partitions on the sort key (tf desc, token) into
    ``rank_partitions`` buckets, each bucket ranks locally, and a
    driver-collected per-bucket count table (``rank_partitions`` rows)
    broadcasts the cumulative offsets back — no single-reducer global
    sort window anywhere in the plan (a web-scale vocabulary is
    billions of rows; ``Window.orderBy`` with no partition routes all
    of them through one task). ``rank_partitions=1`` keeps the old
    single-window path for tiny inputs.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(X.tokens(text_col)).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.count_distinct(id_col).cast("long").alias("df"),
        )
        .filter(F.col("tf") >= min_count)
    )
    if top_k is not None:
        # r9: consumers that only need the frequency HEAD (vocab_topk,
        # the Zipf fit) don't need a global rank at all — rank ≤ top_k
        # ⇔ membership in the top_k rows by (tf desc, token), which
        # orderBy+limit plans as TakeOrderedAndProject: a per-partition
        # top-k merged on the driver, bounded by k at any corpus size.
        # The two-phase rank's range-exchange (a full re-evaluation of
        # the vocab subtree for boundary sampling), its localCheckpoint
        # job, and its per-bucket-counts collect all disappear. Ranks
        # within the ≤top_k-row head come from a window over a
        # BOUNDED single partition — identical values to the global
        # two-phase rank filtered to rank <= top_k (same total order,
        # same tie-break).
        head = vocab.orderBy(F.desc("tf"), F.asc("token")).limit(int(top_k))
        w = Window.orderBy(F.desc("tf"), F.asc("token"))
        return head.withColumn("rank", F.row_number().over(w).cast("long"))
    if rank_partitions <= 1:
        w = Window.orderBy(F.desc("tf"), F.asc("token"))
        return vocab.withColumn("rank", F.row_number().over(w).cast("long"))
    # phase 1: range-exchange on the sort key, pin each row's bucket id.
    # localCheckpoint (not cache) so the counts job and the final query
    # see the SAME range boundaries: eager materialization once, and
    # the checkpoint RDD is released by the ContextCleaner when the
    # result DataFrame goes out of scope — cache() would leak one
    # vocabulary-sized block per call with no handle to unpersist.
    base = (
        vocab.repartitionByRange(rank_partitions, F.desc("tf"), F.asc("token"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {r["_pid"]: r["n"] for r in base.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    # phase 2: cumulative offsets (rank_partitions scalars) broadcast back
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(F.desc("tf"), F.asc("token"))
    return (
        base.join(F.broadcast(off_df), "_pid")
        .withColumn("rank", (F.row_number().over(w) + F.col("_off")).cast("long"))
        .drop("_pid", "_off")
    )


def corpus_zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the frequency head: least-squares regression
    of ``ln(tf) ~ ln(rank)`` across the ``top_k`` most frequent tokens.
    A natural-language corpus sits near slope −1; a strong departure is
    a corpus-health smell (template/boilerplate floods flatten the
    curve, aggressive dedup steepens it) — the one-row diagnostic
    corpus reports track.

    Returns one row: ``n_tokens_fit, slope, intercept, r2`` (rounded
    6 dp). Sums run in DECIMAL (the DSIR discipline) so the regression
    is exact and order-independent — engine-portable, value-hash
    oracle-able. Cost: the ``build_vocab`` shuffle + a ``top_k``-row
    aggregate.
    """
    # r9: bounded head via build_vocab(top_k=...) — TakeOrdered instead
    # of the two-phase global rank + filter (same rows, same ranks)
    vocab = build_vocab(df, text_col, id_col, top_k=top_k)
    # (18,9): products stay inside decimal(37,18) in BOTH Spark and
    # DuckDB (38-digit cap) — wider operands would silently lose scale
    # on one engine and break value-hash parity
    d = "decimal(18,9)"
    x = F.round(F.log(F.col("rank").cast("double")), 9).cast(d)
    y = F.round(F.log(F.col("tf").cast("double")), 9).cast(d)
    agg = vocab.select(
        x.alias("_x"), y.alias("_y")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r_num = n * sxy - sx * sy
    r2 = (r_num * r_num) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(
        F.col("n").alias("n_tokens_fit"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets_hex: int | None = None,
    seed: str = "usur-v1",
) -> DataFrame:
    """Per-document mean surprisal under the corpus's own unigram LM —
    the cheap perplexity proxy quality filters use (CCNet ranks by LM
    perplexity; a unigram model keeps it engine-native): documents full
    of corpus-rare tokens score high (noise, other languages, garbled
    decode), boilerplate scores low.

    ``surprisal(doc) = mean over tokens of −ln(tf(token) / total)``.

    Two model shapes (VERDICT r4 #5):

    - exact (``n_buckets_hex=None``, the DuckDB-oracle twin): corpus
      vocab (token → tf) joined back onto the token stream. The vocab
      side is vocabulary-sized — broadcastable for natural-language
      vocabularies, but at web scale (billions of distinct tokens from
      noise/code/UUIDs) the join degrades to a vocabulary-keyed
      shuffle of the whole token stream.
    - bucketed (``n_buckets_hex=k``): tokens hash into ``16**k``
      md5-prefix buckets first (the same hash-trick the bigram LM and
      DSIR use), so the model is a CONSTANT-size table regardless of
      vocabulary and the scoring join is always a broadcast — the
      token stream never shuffles. Collisions smooth tf upward
      slightly (documented hash-trick behavior).

    Returns ``id_col, n_tokens, mean_surprisal``.
    """
    toks = df.select(F.col(id_col), F.explode(X.tokens(text_col)).alias("token"))
    if n_buckets_hex is not None:
        toks = toks.select(
            id_col, _dsir_bucket(F.col("token"), seed, n_buckets_hex).alias("token")
        )
        vocab = F.broadcast(
            toks.groupBy("token").agg(F.count("*").cast("long").alias("tf"))
        )
    else:
        vocab = toks.groupBy("token").agg(F.count("*").cast("long").alias("tf"))
    # r9: the corpus token total rides the plan as a broadcast 1-row
    # relation instead of a driver collect — one job round saved per
    # call (q_unigram_surprisal makes two), identical arithmetic: the
    # same SUM produces the same long, cast to double for the division
    # exactly as float(total) was
    total = F.broadcast(
        vocab.agg(F.coalesce(F.sum("tf"), F.lit(1)).cast("double").alias("_total"))
    )
    scored = toks.join(vocab, "token").crossJoin(total).select(
        id_col, (-F.log(F.col("tf") / F.col("_total"))).alias("s")
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("s"), 6).alias("mean_surprisal"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_uni_hex: int = 3,
    n_bi_hex: int = 4,
    backoff: float = 0.4,
    seed: str = "bsur-v1",
) -> DataFrame:
    """Per-document mean surprisal under a hashed BIGRAM LM with Stupid
    Backoff — one rung up the CCNet ladder from
    :func:`unigram_surprisal` (KenLM ranks with a 5-gram; a hashed
    bigram keeps the model a broadcastable constant-size table):

        p(cur | prev) = c2(prev,cur) / c1(prev)        if the pair was seen
                      = backoff · c1(cur) / T          otherwise
        first token:    c1(cur) / T

    Token and pair counts live in hash buckets (md5 prefixes, the DSIR
    hash-trick: 16^n_uni_hex unigram / 16^n_bi_hex pair buckets), so
    both model tables are fixed-size regardless of vocabulary and the
    scoring joins are broadcasts — no vocabulary-sized shuffle touches
    the token stream. Collisions smooth the model slightly (documented
    hash-trick behavior, same as DSIR's features).

    Numeric conventions mirror DSIR for engine parity: per-token
    −ln p rounded to 9 dp and summed in DECIMAL (order-independent),
    mean rounded to 6. Returns ``id_col, n_tokens, bigram_surprisal``
    (empty docs emit no row, like unigram_surprisal).
    """
    pc = _bigram_pairs(df, text_col, id_col, n_uni_hex, n_bi_hex, seed)
    uni = pc.groupBy("b_cur").agg(F.count("*").cast("long").alias("c1"))
    total = uni.agg(F.sum("c1").alias("t"))
    uni = F.broadcast(uni.crossJoin(F.broadcast(total)))
    bi = F.broadcast(
        pc.filter(F.col("prev").isNotNull())
        .groupBy("b_pair")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    scored = (
        pc.join(uni, "b_cur")
        .join(
            F.broadcast(
                uni.select(F.col("b_cur").alias("b_prev"), F.col("c1").alias("c1_prev"))
            ),
            "b_prev",
            "left",
        )
        .join(bi, "b_pair", "left")
    )
    # least(·, 1): b_pair collisions can push c2 past c1_prev (a pair
    # bucket aggregates unrelated pairs, the prev bucket doesn't), and
    # an uncapped p > 1 would emit NEGATIVE surprisal — ranking
    # collided text as better-than-certain instead of just smoothed
    p = F.least(
        F.when(F.col("prev").isNull(), F.col("c1") / F.col("t"))
        .when(
            F.col("c2").isNotNull(), F.col("c2") / F.col("c1_prev")
        )
        .otherwise(F.lit(backoff) * F.col("c1") / F.col("t")),
        F.lit(1.0),
    )
    s = F.round(-F.log(p), 9).cast("decimal(28,9)")
    return (
        scored.select(id_col, s.alias("s"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.sum("s").cast("double") / F.count("*"), 6).alias(
                "bigram_surprisal"
            ),
        )
    )


def _bigram_pairs(
    df: DataFrame, text_col: str, id_col: str | None, n_uni_hex: int,
    n_bi_hex: int, seed: str,
) -> DataFrame:
    """Shared (prev, cur) bucket stream for the bigram LM — index
    transform inside the scan (no per-doc window), prev NULL at
    position 0."""
    cols = [F.col(id_col)] if id_col else []
    toks = df.select(*cols, X.tokens(text_col).alias("toks"))
    pc = toks.select(
        *cols,
        F.explode(
            F.transform(
                F.col("toks"),
                lambda c, i: F.struct(
                    F.when(i > 0, F.element_at(F.col("toks"), i)).alias("prev"),
                    c.alias("cur"),
                ),
            )
        ).alias("pc"),
    ).select(*cols, F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur"))
    return pc.select(
        *cols,
        "prev",
        _dsir_bucket(F.col("cur"), seed, n_uni_hex).alias("b_cur"),
        _dsir_bucket(F.col("prev"), seed, n_uni_hex).alias("b_prev"),
        F.substring(
            F.md5(F.concat_ws("\x1f", F.col("prev"), F.col("cur"), F.lit(seed))),
            1,
            n_bi_hex,
        ).alias("b_pair"),
    )


def bigram_train(
    df: DataFrame,
    text_col: str = "text",
    n_uni_hex: int = 3,
    n_bi_hex: int = 4,
    seed: str = "bsur-v1",
) -> tuple[DataFrame, DataFrame]:
    """Fit the hashed Stupid-Backoff LM once, as two constant-size
    count tables ``(uni, bi)`` — ``uni(b_cur, c1)``, ``bi(b_pair, c2)``
    — the train/apply split of :func:`bigram_surprisal` (DSIR's
    dsir_train/dsir_apply pattern, table-backed because 16^4 pair
    buckets are too many for a literal map). Persist them as parquet
    next to the KB's other sidecars; :func:`bigram_apply` scores ANY
    later batch against the frozen model with broadcast joins."""
    pc = _bigram_pairs(df, text_col, None, n_uni_hex, n_bi_hex, seed)
    uni = pc.groupBy("b_cur").agg(F.count("*").cast("long").alias("c1"))
    bi = (
        pc.filter(F.col("prev").isNotNull())
        .groupBy("b_pair")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    return uni, bi


def bigram_apply(
    df: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_uni_hex: int = 3,
    n_bi_hex: int = 4,
    backoff: float = 0.4,
    seed: str = "bsur-v1",
) -> DataFrame:
    """Score documents under a FROZEN bigram LM from
    :func:`bigram_train` — new crawls rank against the reference
    corpus's model without re-reading it (the production use; on the
    training corpus itself this reproduces :func:`bigram_surprisal`
    exactly, which is the tested contract).

    Unseen buckets (tokens the model never saw) take a half-count
    floor, c1 → 0.5, so novel vocabulary scores FINITE-but-high
    surprisal instead of ∞. Same numeric conventions as the batch
    form (9-dp rounding, DECIMAL sum). Both model joins broadcast.
    """
    pc = _bigram_pairs(df, text_col, id_col, n_uni_hex, n_bi_hex, seed)
    t_row = uni.agg(F.sum("c1")).collect()[0][0] or 1
    t = float(t_row)
    scored = (
        pc.join(F.broadcast(uni), "b_cur", "left")
        .join(
            F.broadcast(
                uni.select(F.col("b_cur").alias("b_prev"), F.col("c1").alias("c1_prev"))
            ),
            "b_prev",
            "left",
        )
        .join(F.broadcast(bi), "b_pair", "left")
    )
    c1 = F.coalesce(F.col("c1").cast("double"), F.lit(0.5))
    # least(·, 1): same collision cap as bigram_surprisal
    p = F.least(
        F.when(F.col("prev").isNull(), c1 / F.lit(t))
        .when(
            F.col("c2").isNotNull() & F.col("c1_prev").isNotNull(),
            F.col("c2") / F.col("c1_prev"),
        )
        .otherwise(F.lit(backoff) * c1 / F.lit(t)),
        F.lit(1.0),
    )
    s = F.round(-F.log(p), 9).cast("decimal(28,9)")
    return (
        scored.select(id_col, s.alias("s"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.sum("s").cast("double") / F.count("*"), 6).alias(
                "bigram_surprisal"
            ),
        )
    )


# ------------------------------------------------- boilerplate spans


def boilerplate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    span_words: int = 10,
    min_frac: float = 0.25,
) -> DataFrame:
    """Per-source boilerplate detection (C4's headers/footers/nav-bars
    problem): a span that appears in ≥ ``min_frac`` of a source's
    documents is boilerplate — template text, not content.

    Returns ``source_col, span_hash, n_docs (docs in source containing
    it), total_docs (docs in source), frac``.

    Aggregation-only (same skew argument as span_dedup_stats): spans
    explode map-side, the (source, span) distinct-doc count and the
    per-source doc count are both partial-aggregated, and the result is
    vocabulary-sized, joinable back as a broadcast filter to strip the
    flagged spans from the corpus.
    """
    toks = X.tokens(text_col)
    spans = df.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest((F.size(toks) - 1) / span_words, F.lit(0)).cast("int"),
                ),
                lambda i: F.array_join(F.slice(toks, i * span_words + 1, span_words), " "),
            )
        ).alias("span_text"),
    ).filter(F.length("span_text") > 0)
    per_span = (
        spans.select(source_col, F.md5("span_text").alias("span_hash"), F.col(id_col))
        .groupBy(source_col, "span_hash")
        .agg(F.count_distinct(id_col).cast("long").alias("n_docs"))
    )
    per_source = df.groupBy(source_col).agg(
        F.count_distinct(id_col).cast("long").alias("total_docs")
    )
    return (
        per_span.join(per_source, source_col)
        .withColumn(
            "frac", F.round(F.col("n_docs") / F.col("total_docs"), 6)
        )
        .filter(F.col("frac") >= min_frac)
    )


# --------------------------------------------- deterministic sampling


def hash_bucket_hex(key: Column, seed: str) -> Column:
    """First 8 hex chars of md5(key ':' seed) — a uniform U(0, 2^32)
    draw encoded as a STRING, so the keep-decision is a plain string
    comparison that evaluates identically in Spark and any ANSI engine
    (no engine-specific hash functions, no float rounding)."""
    return F.substring(F.md5(F.concat_ws(":", key.cast("string"), F.lit(seed))), 1, 8)


def rate_threshold_hex(rate: float) -> str:
    """Threshold such that P(hash_bucket_hex < thr) == rate.

    rate >= 1.0 returns ``"g"`` — lexicographically above every hex
    string — so "keep everything" is exact rather than 1 − 2^-32.
    """
    if rate >= 1.0:
        return "g"
    rate = max(rate, 0.0)
    return format(int(rate * 0xFFFFFFFF), "08x")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    seed: str = "mix-v1",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling for dataset mixing.

    ``rates`` maps stratum value → keep probability. A row is kept iff
    ``md5(key:seed)[0:8] < hex_threshold(rate[stratum])`` — a pure
    map-side filter (zero shuffles, pushes below wide transforms), and
    deterministic under task retries and partial recomputes, which
    ``DataFrame.sample`` is NOT (its Bernoulli draw is keyed on
    partition+position and changes when lineage replays differently —
    the same indeterminacy class as the repartition correctness issue).
    Reproducibility across runs/engines is exactly what a training-mix
    manifest needs.

    Because the draw is a fixed per-row score compared to a threshold,
    samples at the same seed are NESTED: the rate-0.3 sample is a
    subset of the rate-0.6 sample. That is the property scaling-law
    runs need (each smaller data budget is contained in the larger
    one), and it makes mix-rate changes incremental — raising a
    stratum's rate only ADDS rows, never swaps them.
    """
    thr = F.lit(rate_threshold_hex(default_rate))
    mapping = F.create_map(
        *[x for k, v in sorted(rates.items()) for x in (F.lit(k), F.lit(rate_threshold_hex(v)))]
    )
    thr = F.coalesce(F.element_at(mapping, F.col(strata_col)), thr)
    return df.filter(hash_bucket_hex(F.col(key_col), seed) < thr)


def cluster_balanced_sample(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    target_per_cluster: int | None = None,
    seed: str = "cbal-v1",
) -> DataFrame:
    """Topic-balanced selection: k-means-cluster the embedding space,
    then down-sample each cluster to a common target so no topic
    dominates the mix — the cluster-then-sample recipe web-corpus
    pipelines use to counter head-topic skew (the diversity complement
    of SemDeDup's within-cluster dedup).

    ``target_per_cluster`` defaults to the SMALLEST cluster's size
    (full balance). Selection within a cluster is the deterministic
    md5-threshold draw (:func:`stratified_sample` semantics — nested,
    retry-safe, engine-portable), with per-cluster rates =
    target/size, so the expected kept mass is equal across clusters.

    Plan shape: centroid training on a bounded driver sample
    (embedding/index.py, the FAISS-parity exception), JVM argmin
    assignment (broadcast centroids), one tiny per-cluster count agg,
    then a map-side threshold filter. Returns the kept rows with
    ``cluster_id``. Iterative KMeans → not SQL-expressible; covered by
    invariant tests instead of an oracle entry.
    """
    from customkb_spark.embedding.index import assign_clusters, train_centroids

    # NULL vectors can't be assigned a topic — drop them explicitly
    # (silently NULL-clustered rows would otherwise poison the balance
    # target and vanish from the output without a trace)
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    if not embeddings.take(1):
        return embeddings.withColumn("cluster_id", F.lit(0).cast("int")).limit(0)
    cents = train_centroids(embeddings, vec_col, nlist=n_clusters)
    # lazy localCheckpoint: the argmin assignment is O(rows·K·dims) —
    # compute it once for the size collect AND the returned filter
    assigned = assign_clusters(embeddings, cents, vec_col).localCheckpoint(eager=False)
    sizes = {
        r["cluster_id"]: r["n"]
        for r in assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    target = target_per_cluster if target_per_cluster is not None else min(sizes.values())
    rates = {str(cid): min(1.0, target / n) for cid, n in sizes.items()}
    return stratified_sample(
        assigned.withColumn("_cid", F.col("cluster_id").cast("string")),
        "_cid",
        rates,
        id_col,
        seed=seed,
    ).drop("_cid")


#: sentinel stratum label for rows whose ``strata_col`` is NULL —
#: chosen to be an implausible real source name; such rows form their
#: own stratum rather than being dropped from the mix
NULL_STRATUM = "__null_stratum__"


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    total: int,
    alpha: float = 0.7,
    seed: str = "tmix-v1",
) -> DataFrame:
    """Temperature-scaled source mixing — the multilingual/multi-domain
    LLM recipe (sampling proportion ∝ n_s^alpha): alpha=1 keeps natural
    proportions, alpha→0 flattens toward equal-per-source, the usual
    0.3–0.7 range up-weights tail sources without drowning the head.

    Per-source keep rate = min(1, total · n_s^alpha / (Z · n_s)) with
    Z = Σ_t n_t^alpha, applied through :func:`stratified_sample`'s
    md5-threshold draw — so the mix inherits its guarantees: map-side,
    retry-safe, engine-portable, and NESTED across ``total`` budgets
    (a smaller budget's sample is a subset of a larger one at the same
    seed/alpha). Sources whose rate caps at 1.0 contribute everything
    they have; the realized total then lands slightly under ``total``
    rather than stealing mass from other sources (documented, not
    renormalized — renormalizing would break the nesting property).

    Rows whose ``strata_col`` is NULL are NOT dropped: they are mapped
    to the :data:`NULL_STRATUM` sentinel and participate in the mix as
    their own source (ADVICE r4 — silent exclusion loses documents
    from a partially-populated source column with no signal).

    Plan shape: one tiny per-source count agg, then the map-side
    threshold filter. Rates are data-dependent driver scalars →
    invariant-tested rather than oracled (the fixed-rate mixing oracle
    is ``stratified_sample`` / `corpus_sampling`).
    """
    if total < 0:
        raise ValueError("temperature_mix: total must be >= 0")
    if alpha < 0:
        raise ValueError("temperature_mix: alpha must be >= 0")
    # size the strata over the SAME cast-to-string column the filter
    # will key on — Python's str() and Spark's cast disagree for
    # booleans ('True' vs 'true') and floats ('1e-07' vs '1.0E-7'),
    # and a mismatched rate key silently drops the whole stratum.
    # NULL strata map to a sentinel stratum (ADVICE r4): a corpus with
    # a partially-populated source column keeps those rows in the mix
    # as their own source instead of silently losing them.
    keyed = df.withColumn(
        "_s", F.coalesce(F.col(strata_col).cast("string"), F.lit(NULL_STRATUM))
    )
    sizes = {
        r["_s"]: r["n"]
        for r in keyed.groupBy("_s").agg(F.count("*").alias("n")).collect()
    }
    if not sizes:
        return df.limit(0)
    z = sum(n**alpha for n in sizes.values())
    rates = {
        s: min(1.0, total * (n**alpha) / z / n) for s, n in sizes.items()
    }
    return stratified_sample(keyed, "_s", rates, key_col, seed=seed).drop("_s")


# ------------------------------------------- importance resampling


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "tbudget-v1",
) -> DataFrame:
    """Deterministic per-source selection to a TOKEN budget — the
    mixing recipe when the contract is "N billion tokens of source S",
    not a document count or rate (how real pretraining mixes are
    specified). Documents are taken in md5-hash order (the package's
    engine-portable, retry-stable sampling discipline) while the
    stratum's running token total stays within its budget; the first
    overflowing document is excluded (strict prefix — deterministic,
    oracle-checkable).

    ``budgets`` maps stratum value → max tokens; strata absent from the
    map are dropped. Returns ``id_col, strata_col, n_tokens,
    cum_tokens`` for the selected rows.

    Plan — NO per-stratum single-reducer sort (the 100 TB cliff a
    plain ``Window.partitionBy(stratum).orderBy(hash)`` would plan):
    the hash key's first byte buckets each stratum into 256 stable,
    value-derived slices; per-(stratum, bucket) totals form a TINY
    table whose per-stratum window yields exclusive bucket offsets,
    broadcast back; a within-bucket cumulative window (parallelism =
    strata × 256) plus the offset reproduces the exact per-stratum
    prefix sum in hash order — ``packing``'s two-phase prefix-sum
    discipline, applied per stratum.
    """
    from pyspark.sql import Window

    hk = F.md5(
        F.concat_ws(
            ":",
            F.col(strata_col),
            F.col(id_col).cast("string"),
            F.lit(seed),
        )
    )
    base = (
        df.select(
            F.col(id_col),
            F.col(strata_col),
            F.size(X.tokens(text_col)).cast("long").alias("n_tokens"),
        )
        .withColumn("_hk", hk)
        .withColumn("_b", F.substring("_hk", 1, 2))
        .localCheckpoint(eager=False)  # two consumers below
    )
    btot = base.groupBy(strata_col, "_b").agg(F.sum("n_tokens").alias("_bt"))
    woff = (
        Window.partitionBy(strata_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = btot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(woff), F.lit(0))
    ).select(strata_col, "_b", "_off")
    wcum = (
        Window.partitionBy(strata_col, "_b")
        .orderBy("_hk", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    budget = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )[F.col(strata_col)]
    cum = F.sum("n_tokens").over(wcum) + F.col("_off")
    return (
        base.join(F.broadcast(offs), [strata_col, "_b"])
        .withColumn("cum_tokens", cum.cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select(id_col, strata_col, "n_tokens", "cum_tokens")
    )


def quality_budget_sample(
    df: DataFrame,
    token_budget: int,
    signal: Column | str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ordered token budget — the FineWeb-Edu selection shape
    (Penedo et al. 2024): rank the whole corpus by a quality signal,
    keep the BEST documents until a corpus-wide token budget is
    reached (strict prefix: the first overflowing doc is excluded,
    same convention as ``token_budget_sample``). Where
    ``token_budget_sample`` fills per-source quotas in unbiased hash
    order, this one spends the whole budget on the highest-signal
    tail — the two ends of the mixing-policy spectrum.

    ``signal`` defaults to the engine's heuristic ``quality_score``;
    pass a classifier probability column for the learned variant.
    Descending order with ties broken by id, implemented as
    ``(-signal, id)`` ascending through
    :func:`ranking.ordered_prefix_sum` — the TeraSort-shape exact
    prefix sum (one range shuffle, no single-partition window; a plain
    ``sum OVER (ORDER BY ...)`` is the oracle's semantic twin).

    Returns ``(id_col, n_tokens, signal, cum_tokens)`` for the
    selected rows, where ``cum_tokens`` is the running total in
    selection order.
    """
    from customkb_spark.functions import text as X
    from customkb_spark.operators.ranking import ordered_prefix_sum

    sig = (
        X.quality_score(text_col)
        if signal is None
        else (F.col(signal) if isinstance(signal, str) else signal)
    )
    base = df.select(
        F.col(id_col),
        F.size(X.tokens(text_col)).cast("long").alias("n_tokens"),
        F.round(sig, 6).alias("signal"),
    )
    cum = ordered_prefix_sum(
        base,
        [(-F.col("signal")), F.col(id_col)],
        "n_tokens",
        out_col="cum_tokens",
    )
    return cum.filter(F.col("cum_tokens") <= token_budget).select(
        id_col, "n_tokens", "signal", "cum_tokens"
    )


def dsir_log_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets_hex: int = 2,
    alpha: float = 0.5,
    seed: str = "dsir-v1",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every raw document by how much
    more likely its hashed bag-of-words is under the TARGET domain's
    unigram model than under the raw corpus's — the principled version
    of "select data that looks like the domain I care about", used to
    up-sample domain-relevant web data before training.

    ``target_pred`` marks the in-domain rows (e.g. ``col('source') ==
    'wiki'``). Features are tokens hashed into ``16**n_buckets_hex``
    buckets (the hash-trick keeps the parameter table fixed-size
    regardless of vocabulary). With Laplace smoothing ``alpha``::

        log_w(doc) = sum over tokens t of  ln p_target(b(t)) / p_raw(b(t))

    Buckets are the first ``n_buckets_hex`` chars of ``md5(token:seed)``
    — engine-portable (string, not engine-specific hashes), same trick
    as :func:`stratified_sample`. Per-bucket log-ratios are rounded to
    9 dp and summed in DECIMAL so the per-doc total is exact and
    order-independent (float sums are not associative under Spark's
    unordered combines).

    Plan shape (scale-safe at any corpus size), all in ONE job: the
    ratio branch explodes the scan into a partial-aggregated groupBy
    on (bucket) counting both sides in one pass (conditional sums),
    with totals folded in by an in-plan broadcast cross join (no
    driver collect); the resulting constant-size table (≤ 16^n rows)
    broadcast-joins back onto the probe-side token stream → per-doc
    partial-agg sum. Two passes over the token stream, two shuffles —
    one of them over a constant-size key space; to make it a single
    pass at the 100 TB tier, persist the token projection and feed it
    to both branches.

    Returns ``id_col, n_tokens, log_weight`` for every document
    (target rows score too — useful for calibration). Resample with
    :func:`weighted_sample` over ``exp(log_weight)`` or select top-k.
    """
    toks = df.select(
        F.col(id_col),
        # NULL predicates (e.g. col('source')==x on a NULL source) must
        # count as raw, not vanish from BOTH unigram models (ADVICE r3)
        F.coalesce(target_pred, F.lit(False)).cast("int").alias("_is_t"),
        F.explode(X.tokens(text_col)).alias("token"),
    ).withColumn("bucket", _dsir_bucket(F.col("token"), seed, n_buckets_hex))
    # r9: both branches consume a per-(doc, bucket) histogram instead
    # of the raw token stream (guide §2.3). Column pruning keeps the
    # two histogram subtrees canonically distinct, so the tokenize+md5
    # scan still runs once per branch (see ``explain()`` of this plan)
    # — the measured win is that the broadcast-join probe and both
    # downstream aggregates now process ≤ 16^n rows per doc rather than
    # one row per token (~50× fewer decimal-sum/join evaluations at the
    # bench corpus; sf1 row 13.2 → 1.8 s). Exactness: c_t/c_r are the
    # same long sums regrouped; per-doc sum(log_ratio × c) ≡ sum of
    # log_ratio over c token occurrences in DECIMAL arithmetic (exact,
    # order-free), then the same double cast.
    hist = toks.groupBy(id_col, "_is_t", "bucket").agg(
        F.count("*").cast("long").alias("_c")
    )
    counts = hist.groupBy("bucket").agg(
        F.sum(F.col("_c") * F.col("_is_t")).cast("long").alias("c_t"),
        F.sum(F.col("_c") * (1 - F.col("_is_t"))).cast("long").alias("c_r"),
    )
    ratios = _dsir_ratios(counts, n_buckets_hex, alpha)
    # _c as decimal(9,0): decimal(28,9) × decimal(9,0) → decimal(38,9)
    # EXACTLY (a bare long would promote past precision 38 and drop the
    # scale to 6 under allowPrecisionLoss, truncating the 9-dp sum).
    # Safe bound: _c counts one bucket's tokens within ONE document, and
    # Spark rows cap strings < 2 GB, so _c < 1e9 always.
    return (
        hist.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("long").alias("n_tokens"),
            F.sum(F.col("log_ratio") * F.col("_c").cast("decimal(9,0)"))
            .cast("double")
            .alias("log_weight"),
        )
    )


def _dsir_bucket(token: Column, seed: str, n_buckets_hex: int) -> Column:
    return F.substring(
        F.md5(F.concat_ws(":", token, F.lit(seed))), 1, n_buckets_hex
    )


def _dsir_ratios(counts: DataFrame, n_buckets_hex: int, alpha: float) -> DataFrame:
    """Per-bucket smoothed log-likelihood ratios from (bucket, c_t, c_r)
    counts — the trained DSIR model, a constant-size table.

    Totals come from an IN-PLAN broadcast cross join on the aggregated
    1-row frame (textually mirroring the oracle's ``CROSS JOIN tot``) —
    no driver collect, so building the ratio plan costs zero jobs and
    the whole weight computation stays one Spark job."""
    n_buckets = 16 ** n_buckets_hex
    tot = counts.agg(F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log((F.col("c_t") + alpha) / (F.col("n_t") + alpha * n_buckets))
            - F.log((F.col("c_r") + alpha) / (F.col("n_r") + alpha * n_buckets)),
            9,
        )
        .cast("decimal(28,9)")
        .alias("log_ratio"),
    )


def dsir_train(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets_hex: int = 2,
    alpha: float = 0.5,
    seed: str = "dsir-v1",
) -> dict[str, float]:
    """Fit the DSIR importance model once and return it as a plain
    ``{bucket: log_ratio}`` dict (≤ 16^n entries — constant-size,
    serializable, persistable as JSON next to the KB's other
    sidecars). The fit is the same counts→ratios pass as
    :func:`dsir_log_weights`; the dict form is what
    :func:`dsir_apply` needs to score NEW data — including a stream —
    without re-reading the training corpora."""
    toks = df.select(
        F.coalesce(target_pred, F.lit(False)).cast("int").alias("_is_t"),
        F.explode(X.tokens(text_col)).alias("token"),
    ).withColumn("bucket", _dsir_bucket(F.col("token"), seed, n_buckets_hex))
    counts = toks.groupBy("bucket").agg(
        F.sum("_is_t").cast("long").alias("c_t"),
        F.sum(1 - F.col("_is_t")).cast("long").alias("c_r"),
    )
    ratios = _dsir_ratios(counts, n_buckets_hex, alpha)
    return {r["bucket"]: float(r["log_ratio"]) for r in ratios.collect()}


def dsir_apply(
    df: DataFrame,
    model: dict[str, float],
    text_col: str = "text",
    n_buckets_hex: int = 2,
    alpha: float = 0.5,
    seed: str = "dsir-v1",
    default_log_ratio: float | None = None,
) -> DataFrame:
    """Score rows under a trained DSIR model — STATELESS: the model
    becomes a literal ``create_map`` and the per-doc weight is an
    ``F.aggregate`` over the token array, so this is a pure per-row
    expression (no explode, no shuffle, no state). That makes it valid
    inside a Structured Streaming gate (``streaming/curation``-style)
    and free to push below other transforms in batch plans.

    Buckets absent from the model (possible when the training corpora
    never hashed into them) score ``default_log_ratio`` — by default
    the smoothed ratio of two zero counts, ``ln((α/D_t)/(α/D_r))``
    folded to 0.0 since both denominators are unknown here; pass the
    exact value if bucket-perfect parity with the batch scorer matters
    beyond the trained buckets.

    Adds ``n_tokens`` and ``log_weight``. Per-token ratios are summed
    in DECIMAL(28,9) (same convention as the batch path) so batch and
    streaming agree bit-for-bit on shared buckets. NULL/empty text
    scores ``(n_tokens=0, log_weight=0.0)`` rather than NULL — the
    batch scorer drops token-less rows entirely, so a NULL here would
    silently fail any ``log_weight >= tau`` gate downstream.
    """
    if default_log_ratio is None:
        default_log_ratio = 0.0
    entries = [x for kv in sorted(model.items()) for x in (F.lit(kv[0]), F.lit(round(kv[1], 9)))]
    ratio_map = F.create_map(*entries) if entries else F.create_map()
    toks = F.coalesce(X.tokens(text_col), F.array().cast("array<string>"))
    zero = F.lit("0").cast("decimal(28,9)")
    per_tok = lambda t: F.coalesce(  # noqa: E731
        F.element_at(ratio_map, _dsir_bucket(t, seed, n_buckets_hex)),
        F.lit(default_log_ratio),
    ).cast("decimal(28,9)")
    return df.withColumn("n_tokens", F.size(toks).cast("long")).withColumn(
        "log_weight",
        F.aggregate(
            toks, zero, lambda acc, t: (acc + per_tok(t)).cast("decimal(28,9)")
        ).cast("double"),
    )
