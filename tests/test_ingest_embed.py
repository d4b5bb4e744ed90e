"""Ingest pipeline + embedding stub + ANN index tests."""

import numpy as np
from pyspark.sql import functions as F

from customkb_spark.embedding.cache import split_hits_misses, with_cache_key
from customkb_spark.embedding.embedder import HashEmbeddingProvider, embed_texts
from customkb_spark.embedding.index import (
    assign_clusters,
    ivf_search,
    nearest_clusters,
    train_centroids,
)
from customkb_spark.ingest.chunker import chunk_fixed, chunk_recursive_pandas
from customkb_spark.ingest.filetype import detect_file_type
from customkb_spark.ingest.pipeline import documents_to_chunks, incremental_filter
from customkb_spark.operators.topk import brute_force_topk


def test_chunk_fixed_covers_text(spark):
    docs = spark.createDataFrame([(1, "abcdefghij")], ["doc_id", "text"])
    out = chunk_fixed(docs, chunk_size=4).orderBy("sid").collect()
    assert [r["chunk_text"] for r in out] == ["abcd", "efgh", "ij"]
    assert [r["sid"] for r in out] == [0, 1, 2]


def test_chunk_fixed_overlap(spark):
    docs = spark.createDataFrame([(1, "abcdef")], ["doc_id", "text"])
    out = chunk_fixed(docs, chunk_size=4, overlap=2).orderBy("sid").collect()
    assert [r["chunk_text"] for r in out] == ["abcd", "cdef", "ef"]


def test_chunk_recursive_respects_separators(spark):
    docs = spark.createDataFrame([(1, "para one.\n\npara two is longer.")], ["doc_id", "text"])
    out = chunk_recursive_pandas(docs, chunk_size=15).orderBy("sid").collect()
    assert all(len(r["chunk_text"]) <= 15 for r in out)
    assert "".join(r["chunk_text"] for r in out).replace(" ", "") in (
        "paraone.paratwoislonger.".replace(" ", "")
    )


def test_detect_file_type(spark):
    df = spark.createDataFrame(
        [("a/b.md",), ("c.PY",), ("d.json",), ("e.unknown",)], ["p"]
    )
    out = [r["t"] for r in df.select(detect_file_type("p").alias("t")).collect()]
    assert out == ["markdown", "code", "json", "text"]


def test_documents_to_chunks_schema_and_sid(spark, documents):
    chunks = documents_to_chunks(documents.limit(5), chunk_size=100)
    rows = chunks.orderBy("doc_id", "sid").collect()
    assert rows[0]["sid"] == 0
    assert all(r["id"] == r["doc_id"] * (1 << 22) + r["sid"] for r in rows)
    assert all(r["doc_length"] == len(r["bm25_tokens"]) for r in rows)


def test_incremental_filter(spark):
    files = spark.createDataFrame([("a",), ("b",), ("c",)], ["path"])
    log = spark.createDataFrame([("a",)], ["file_path"])
    out = {r["path"] for r in incremental_filter(files, log).collect()}
    assert out == {"b", "c"}


def test_hash_embedder_deterministic():
    p = HashEmbeddingProvider(32)
    v1 = p.get_embeddings(["hello", "hello", "world"])
    assert np.allclose(v1[0], v1[1])
    assert not np.allclose(v1[0], v1[2])
    assert abs(np.linalg.norm(v1[0]) - 1.0) < 1e-5


def test_embed_texts_dedup_join(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "diff")], ["id", "embedtext"]
    )
    out = {r["id"]: r["vector"] for r in embed_texts(df, dimensions=16).collect()}
    assert len(out) == 3
    assert out[1] == out[2] and out[1] != out[3]


def test_cache_split(spark):
    pending = with_cache_key(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "embedtext"]), "embedtext", "m"
    )
    cache = pending.filter(F.col("id") == 1).select(
        "cache_key", F.array(F.lit(0.5)).alias("vector")
    )
    hits, misses = split_hits_misses(pending, cache)
    assert [r["id"] for r in hits.collect()] == [1]
    assert [r["id"] for r in misses.collect()] == [2]


def test_ivf_recall_vs_exact(spark, embeddings):
    cents = train_centroids(embeddings, "embedding", nlist=8)
    indexed = assign_clusters(embeddings, cents, "embedding").cache()
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    q = [float(x) for x in q]
    exact = {r["id"] for r in brute_force_topk(embeddings, q, 10, "vec_id", "embedding").collect()}
    # full probe = exact
    full = {
        r["id"]
        for r in ivf_search(indexed, cents, q, 10, nprobe=8, id_col="vec_id", vec_col="embedding").collect()
    }
    assert full == exact
    # partial probe: decent recall, and rank-1 (self) always found
    part = {
        r["id"]
        for r in ivf_search(indexed, cents, q, 10, nprobe=3, id_col="vec_id", vec_col="embedding").collect()
    }
    assert 0 in part
    assert len(part & exact) >= 3


def test_database_bm25_tokens_use_the_kb_language(spark, tmp_path):
    """``chunks.bm25_tokens`` is gated by ``cfg.language`` as the BM25
    build and ``migrate_for_bm25`` are: under "de" the English
    stopword "the" stays a token."""
    from customkb_spark.config import KBConfig
    from customkb_spark.functions import text as X
    from customkb_spark.kb import KnowledgeBase

    kb = KnowledgeBase(spark, str(tmp_path / "kb"), KBConfig(language="de"))
    docs = spark.createDataFrame(
        [(1, "the walrus reads the beacon", "de.txt")], ["doc_id", "text", "source"]
    )
    assert kb.database(docs) > 0
    chunks = kb._read("chunks").select(
        "bm25_tokens", X.bm25_token_set("originaltext", language="de").alias("want")
    ).collect()
    assert all(r.bm25_tokens == r.want and "the" in r.want for r in chunks)
