"""BM25 as DataFrame algebra.

The reference materializes a BM25Okapi object into NPZ arrays
(embedding/bm25_manager.py:64-102) and scores queries in-process
(bm25_manager.py:258-324). Here the "index" is two derived tables —
``postings(id, term)`` and ``term_stats(term, df, idf)`` — built by one
pass of explode + groupBy (map-side partial agg), and scoring is a
broadcast join + sum. Both build and score are shuffle-minimal and
scale linearly with the corpus.

Semantics parity notes (load-bearing for the oracle gate):
- The reference DEDUPLICATES tokens per document (tokenize_for_bm25,
  utils/text_utils.py:306-314), so tf ∈ {0,1} and a posting row carries
  no count.
- doc_length = number of UNIQUE tokens (text_utils.py:314).
- idf is the BM25Okapi formula: ln((N - df + 0.5)/(df + 0.5) + 1).
- Scores ≤ 0 are dropped (bm25_manager.py:298,316).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from customkb_spark.functions import text as X


def build_postings(
    chunks: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    language: str = "en",
) -> DataFrame:
    """postings(id, term, dl): one row per (document, BM25 token) —
    the F3 token set (dedup + single-char/essential-stopword removal,
    text.bm25_token_set; the stopword drop is en-gated, matching the
    reference's ``--language`` behavior)."""
    toks = chunks.select(
        F.col(id_col).alias("id"),
        # unordered: the set is only exploded/sized here, and the
        # per-row sort is ~25% of the tokenization pass
        X.bm25_token_set(text_col, language=language, ordered=False).alias("toks"),
    )
    # explode_OUTER, not explode: for a plain explode Catalyst infers
    # `isnotnull(toks) AND size(toks) > 0` and pushes it below the
    # projection into the scan filter — where the entire tokenizer
    # expression re-evaluates, doubling the dominant cost of the index
    # build (measured at sf1). Outer generate infers no such filter;
    # empty docs yield one NULL term dropped by a cheap per-row filter.
    return (
        toks.select(
            "id", F.size("toks").alias("dl"), F.explode_outer("toks").alias("term")
        )
        .filter(F.col("term").isNotNull())
    )


def build_term_stats(postings: DataFrame, corpus_size: int) -> DataFrame:
    """term_stats(term, df, idf) — partial+final hash aggregation."""
    return with_idf(postings.groupBy("term").agg(F.count("*").alias("df")), corpus_size)


def with_idf(term_df: DataFrame, corpus_size: int) -> DataFrame:
    """(term, df) rows with the ``idf`` of a corpus of ``corpus_size``
    documents, in Spark's ``log`` (numpy's and Python's differ from it
    in the last bit on some values)."""
    n = float(corpus_size)
    return term_df.withColumn(
        "idf", F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    )


def corpus_stats_frame(
    chunks: DataFrame, text_col: str = "text", language: str = "en"
) -> DataFrame:
    """ONE-row ``(_n, _avgdl)`` frame — the in-plan form of
    :func:`corpus_stats`. Passing this to ``bm25_score`` /
    ``bm25_score_batch`` (``stats_frame=``) keeps the corpus-size /
    average-doc-length aggregation INSIDE the scoring plan as a
    broadcast scalar relation instead of a separate driver collect —
    one fewer job round per query, identical values (the same
    count/avg aggregation produces the same doubles the collect
    returned)."""
    return chunks.select(
        X.bm25_token_set(text_col, language=language, ordered=False).alias("toks")
    ).agg(
        F.count("*").cast("long").alias("_n"),
        F.avg(F.size("toks")).alias("_avgdl"),
    )


def bm25_score(
    postings: DataFrame,
    term_stats: DataFrame | None,
    query_terms: list[str],
    avgdl: float | None,
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 1000,
    corpus_size: int | None = None,
    stats_frame: DataFrame | None = None,
) -> DataFrame:
    """Score all documents against ``query_terms``; top-``limit`` rows
    (score desc, id asc), positive scores only.

    Plan: postings are filtered to the query terms FIRST (pushed to the
    scan), then joined to the broadcast term_stats slice — the shuffle
    carries only matching postings, not the corpus.

    With ``term_stats=None`` (pass ``corpus_size``), each query term's
    df is derived from the matched postings themselves:
    df(t) = |{id : (id,t) ∈ postings}| — aggregated with a map-side
    partial agg into a ≤|query|-row frame that broadcast-joins back.
    No corpus-wide stats build (the full-vocabulary shuffle) is needed,
    and the matched rows never shuffle BY TERM — a per-term count
    window here would route every matched posting through ≤|query|
    reducers (measured as a 2-partition straggler stage at sf1).
    Use this for ad-hoc scoring without a persisted index; the
    term_stats path is for the materialized-index flow (kb.build_bm25).
    """
    qt = sorted(set(t.lower() for t in query_terms))
    matched = postings.filter(F.col("term").isin(qt))
    # tf = 1 (dedup semantics) → the classic numerator reduces to (k1+1)
    # and the denominator to 1 + k1·(1 − b + b·dl/avgdl). With a
    # stats_frame the avgdl scalar rides the broadcast stats rows
    # (joined per term below) instead of a driver-collected literal.
    avgdl_col = F.col("_avgdl") if stats_frame is not None else F.lit(avgdl)
    score_term = (
        F.col("idf")
        * (k1 + 1.0)
        / (1.0 + F.lit(k1) * (1.0 - b + F.lit(b) * F.col("dl") / avgdl_col))
    )
    if term_stats is None:
        if corpus_size is None and stats_frame is None:
            raise ValueError("bm25_score: corpus_size required when term_stats is None")
        # df-stats and scoring are two subtrees over `matched`, so the
        # tokenize+explode lineage runs twice — CONCURRENTLY. The
        # checkpoint that fixes the batch path (bm25_score_batch) was
        # A/B-measured here too: wall-time identical within noise (the
        # materialization barrier eats what the saved scan gains, with
        # no query set to amortize it), so the single-query form keeps
        # the overlapped scans. Scale users take the persisted
        # term_stats path (one scan, no stats subtree) or the batch API.
        n_col = (
            F.col("_n").cast("double") if stats_frame is not None
            else F.lit(float(corpus_size))
        )
        stats = matched.groupBy("term").agg(F.count("*").alias("df"))
        if stats_frame is not None:
            # ≤|query| stats rows × 1 stats row — the corpus (n, avgdl)
            # aggregation evaluates ONCE, inside this tiny subtree
            stats = stats.crossJoin(F.broadcast(stats_frame))
        stats = F.broadcast(
            stats.withColumn(
                "idf",
                F.log((n_col - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
            ).drop("df", "_n")
        )
        scored_src = matched.join(stats, "term")
    else:
        stats = F.broadcast(term_stats.filter(F.col("term").isin(qt)))
        if stats_frame is not None:
            stats = F.broadcast(stats.crossJoin(F.broadcast(stats_frame)).drop("_n"))
        scored_src = matched.join(stats, "term")
    return (
        scored_src.groupBy("id")
        .agg(F.round(F.sum(score_term), 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(limit)
    )


def corpus_stats(
    chunks: DataFrame, text_col: str = "text", language: str = "en"
) -> tuple[int, float]:
    """(corpus_size, avgdl) over BM25-token-set document lengths —
    the SAME language gate as build_postings, or dl/avgdl
    normalization skews when stopwords are kept on one side only."""
    return corpus_totals(chunks, text_col, language)[:2]


def corpus_totals(
    chunks: DataFrame, text_col: str = "text", language: str = "en"
) -> tuple[int, float, int | None]:
    """:func:`corpus_stats` plus ``sum_dl``, the integer sum of the
    lengths avgdl averages (so avgdl = sum_dl / n exactly, and an
    append can update both); None when a NULL text has no length, as
    the average then skips it."""
    size = F.size(X.bm25_token_set(text_col, language=language, ordered=False))
    row = chunks.select(size.alias("dl")).agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("sum_dl"), F.count("dl").alias("n_dl"),
    ).collect()[0]
    n = int(row["n"])
    return n, float(row["avgdl"]), int(row["sum_dl"]) if row["n_dl"] == n else None


def needs_rebuild(
    chunks: DataFrame,
    processed_col: str = "keyphrase_processed",
    threshold: int = 1000,
) -> bool:
    """BM25 staleness check (reference bm25_manager.py:227-255): rebuild
    when more than ``threshold`` rows haven't been tokenized into the
    index yet. One pushed-down count — at scale this reads row-group
    statistics, not data. The streaming-native form is a Delta CDF
    trigger; this is the batch/poll equivalent."""
    pending = chunks.filter(~F.col(processed_col)).limit(threshold + 1).count()
    return pending > threshold


def bm25_score_batch(
    postings: DataFrame,
    term_stats: DataFrame | None,
    query_terms: DataFrame,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 1000,
    corpus_size: int | None = None,
    stats_frame: DataFrame | None = None,
) -> DataFrame:
    """Score a whole query SET in one corpus pass.

    ``query_terms``: (qid, term) — one row per unique term per query
    (small: Q × terms-per-query → broadcast). Returns (qid, id, score),
    top-``limit`` per query. One postings scan serves every query; the
    shuffle carries only matching (qid, posting) rows.

    ``term_stats=None`` (with ``corpus_size``): per-term df comes from
    a map-side partial aggregation of the matched postings (one row per
    (id,term), so the count IS the corpus df), broadcast-joined back.
    Skips the corpus-wide stats build, and the matched rows never
    shuffle by term — a count window here collapses to ≤|query vocab|
    reducers (measured: a 2-partition straggler stage at sf1). Use for
    ad-hoc batches; keep the term_stats path for the persisted index
    (plans/hybrid.py).
    """
    from pyspark.sql import Window

    q = F.broadcast(query_terms.select("qid", F.lower("term").alias("term")).distinct())
    avgdl_col = F.col("_avgdl") if stats_frame is not None else F.lit(avgdl)
    score_term = (
        F.col("idf")
        * (k1 + 1.0)
        / (1.0 + F.lit(k1) * (1.0 - b + F.lit(b) * F.col("dl") / avgdl_col))
    )
    if term_stats is None:
        if corpus_size is None and stats_frame is None:
            raise ValueError("bm25_score_batch: corpus_size required when term_stats is None")
        # ONE corpus scan: without this checkpoint the df-stats agg and
        # the qid fan-out are two independent subtrees and Spark runs the
        # (dominant) tokenize+explode twice — measured 2×2.5 s of a
        # 5.7 s sf1 call. The matched set is bounded by Σ_term df(term)
        # (the same candidate volume the scoring shuffle carries anyway),
        # so materializing it is shuffle-sized, never corpus-sized.
        matched0 = postings.join(q.select("term").distinct(), "term").localCheckpoint()
        n_col = (
            F.col("_n").cast("double") if stats_frame is not None
            else F.lit(float(corpus_size))
        )
        # df is per TERM (not per qid): count once over the term-matched
        # postings, then broadcast to every (qid, term) matched row
        stats = matched0.groupBy("term").agg(F.count("*").alias("df"))
        if stats_frame is not None:
            stats = stats.crossJoin(F.broadcast(stats_frame))
        stats = F.broadcast(
            stats.withColumn(
                "idf",
                F.log((n_col - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
            ).drop("df", "_n")
        )
        scored_src = matched0.join(q, "term").join(stats, "term")
    else:
        matched = postings.join(q, "term")
        # slice term_stats to the query vocabulary (tiny) and broadcast —
        # the corpus-wide stats table must never shuffle for a query batch
        stats_slice = term_stats.join(q.select("term").distinct(), "term", "left_semi")
        if stats_frame is not None:
            stats_slice = stats_slice.crossJoin(F.broadcast(stats_frame)).drop("_n")
        stats_slice = F.broadcast(stats_slice)
        scored_src = matched.join(stats_slice, "term")
    scored = (
        scored_src.groupBy("qid", "id")
        .agg(F.round(F.sum(score_term), 6).alias("score"))
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .drop("_rn")
    )

