"""Ingest pipeline: files/documents → the canonical chunks table.

Mirrors the reference's `customkb database` flow (SURVEY.md §3.1) as a
single declarative job — no driver loop:

    scan → anti-join ingestion log (incremental) → chunk (fan-out)
         → clean/tokenize/metadata exprs → sid window → write

At 100 TB the only shuffles are the sid window (partitioned by
document — bounded partitions) and the final write; everything else is
map-side. Incremental re-ingest is a left-anti join against the
ingestion log (reference's batched IN-probe, db_manager.py:349-374);
force-reprocess is "delete rows for path, re-append" — replaceWhere on
a partitioned table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from customkb_spark.functions import text as X
from customkb_spark.ingest.chunker import chunk_fixed


def incremental_filter(
    files: DataFrame, ingest_log: DataFrame, path_col: str = "path"
) -> DataFrame:
    """Drop files already recorded in the ingestion log (S4/U2)."""
    log = ingest_log.select(F.col("file_path").alias(path_col)).distinct()
    return files.join(log, path_col, "left_anti")


def documents_to_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str | None = "lang",
    chunk_size: int = 200,
    overlap: int = 0,
    language: str = "en",
) -> DataFrame:
    """Build the canonical chunks table from a documents table.

    Output columns follow CHUNKS_SCHEMA (id, sid, sourcedoc,
    originaltext, embedtext, bm25_tokens, doc_length, metadata bits).
    ``bm25_tokens`` is ``bm25_token_set`` under ``language``'s stopword
    gate (the KB's ``cfg.language``, as the BM25 build uses).
    ``id`` is derived deterministically from (doc_id, sid) — stable
    across runs, unlike monotonically_increasing_id, so it can serve as
    the vector join key (SURVEY.md §1.2 note on id stability).
    """
    meta = docs.select(
        F.col(id_col).alias("_doc_id"),
        F.col(source_col).alias("sourcedoc"),
        *([F.col(lang_col).alias("language")] if lang_col else [F.lit("en").alias("language")]),
    )
    chunks = chunk_fixed(docs, id_col, text_col, chunk_size, overlap)
    out = chunks.join(meta, chunks["doc_id"] == meta["_doc_id"]).drop("_doc_id")
    embed_text = X.clean_text(F.col("chunk_text"))
    toks = X.bm25_token_set(F.col("chunk_text"), language=language)
    projected = out.select(
        # id = doc_id · 2^22 + sid: 4.2M chunks/doc (a 100 MB file at
        # 200-char chunks is ~500k) before collision, doc_id < 2^41
        # (~2.2e12 — the CLI's hashed ids stay under 1e12) before
        # overflow. Deterministic, unlike monotonically_increasing_id.
        (F.col("doc_id") * (1 << 22) + F.col("sid")).alias("id"),
        F.col("doc_id"),
        F.col("sid"),
        F.col("sourcedoc"),
        F.col("chunk_text").alias("originaltext"),
        embed_text.alias("embedtext"),
        F.lit(False).alias("embedded"),
        F.col("language"),
        toks.alias("bm25_tokens"),
        X.char_length(F.col("chunk_text")).alias("char_length"),
        X.word_count(F.col("chunk_text")).alias("word_count"),
    )
    # derive from the materialized token array — lambda-bearing exprs
    # bypass codegen CSE, so repeating `toks` would tokenize 3× per row
    return projected.select(
        "id",
        "doc_id",
        "sid",
        "sourcedoc",
        "originaltext",
        "embedtext",
        "embedded",
        "language",
        "bm25_tokens",
        F.size("bm25_tokens").alias("doc_length"),
        (F.size("bm25_tokens") > 0).alias("keyphrase_processed"),
        "char_length",
        "word_count",
    )
