"""One freshness rule per persisted KB index, and a write path whose
only record is the chunks table: verify agrees with what a query does,
a force re-ingest needs no index wipe, and a killed ``database`` is
safe to retry."""

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from customkb_spark.config import KBConfig
from customkb_spark.embedding import store as S
from customkb_spark.kb import KnowledgeBase

CFG = dict(query_top_k=5, ann_index="ivf")
# Spark jobs of a 5-document append (test_append_cycle_computes_each_result_once)
DATABASE_APPEND_JOBS = 10
EMBED_APPEND_JOBS = 18


@pytest.fixture(scope="module")
def base_kb(spark, documents, tmp_path_factory):
    """One KB with every persisted index written (BM25 tables, IVF
    tier); tests work on copies of it (``_copy``)."""
    kb_dir = str(tmp_path_factory.mktemp("fresh") / "kb")
    docs = documents.limit(30).localCheckpoint()
    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    assert kb.database(docs) > 0
    assert kb.embed() > 0
    assert kb.build_bm25()["rebuilt"] is True
    kb.query("spark data query table", log=False)  # persists the tier
    assert os.path.isdir(os.path.join(kb_dir, "vindex"))
    return kb_dir, docs


def _copy(base_kb, tmp_path) -> str:
    # copytree keeps mtimes, so the copy's listing fingerprints match
    dst = str(tmp_path / "kb")
    shutil.copytree(base_kb[0], dst)
    return dst


def test_index_freshness_ivfsq_pure_append_is_appendable(spark, embeddings, tmp_path):
    """verify's verdict is the one a query acts on: a query absorbs a
    pure append into an ivfsq tier, so the verdict is "appendable"."""
    from customkb_spark.embedding.auto import build_vector_index

    base = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).filter("id < 100").cache()
    path = str(tmp_path / "vindex")
    S.save_vector_index(build_vector_index(base, KBConfig(ann_index="ivfsq")), path)
    assert S.index_freshness(spark, path, base) == "fresh"

    appended = base.unionByName(
        base.filter("id < 3").withColumn("id", F.col("id") + 1_000_000)
    )
    assert S.index_freshness(spark, path, appended) == "appendable"
    mutated = base.withColumn("vector", F.reverse(F.col("vector")))
    assert S.index_freshness(spark, path, mutated) == "stale"

    loaded = S.load_vector_index(spark, path, appended)
    assert loaded is not None and loaded.indexed.count() == appended.count()
    assert S.index_freshness(spark, path, appended) == "fresh"


def test_verify_on_unchanged_kb_runs_no_content_scan(spark, base_kb, tmp_path, monkeypatch):
    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))

    def boom(*a, **k):
        raise AssertionError("content scan on an unchanged KB")

    monkeypatch.setattr(S, "content_fingerprint", boom)
    v = kb.verify()
    assert v["bm25_index"] == "fresh" and v["vector_index"] == "fresh"
    assert v["pending_embed"] == 0


class _Crash(Exception):
    pass


def test_database_killed_after_chunks_write_retries_safely(
    spark, base_kb, tmp_path, monkeypatch
):
    """Every parquet write after the chunks write in ``database`` fails;
    the retry with the same docs must not duplicate chunk ids, and the
    next embed + query serve each new document once."""
    kb_dir = _copy(base_kb, tmp_path)
    docs = spark.createDataFrame(
        [(9100 + i, f"crashretry{i} appended text about quokka lanterns", f"cr{i}.txt")
         for i in range(3)],
        ["doc_id", "text", "source"],
    )
    real = DataFrameWriter.parquet
    written = []

    def crashing(self, path, *a, **k):
        if written:
            raise _Crash(path)
        real(self, path, *a, **k)
        if os.path.basename(path.rstrip("/")) == "chunks":
            written.append(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    try:
        KnowledgeBase(spark, kb_dir, KBConfig(**CFG)).database(docs)
    except _Crash:
        pass
    monkeypatch.undo()
    assert written  # the chunks landed before the crash

    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    kb.database(docs)
    chunks = spark.read.parquet(os.path.join(kb_dir, "chunks"))
    assert chunks.count() == chunks.select("id").distinct().count()
    assert chunks.filter(F.col("sourcedoc").startswith("cr")).count() == 3

    assert kb.embed() > 0
    vectors = spark.read.parquet(os.path.join(kb_dir, "vectors"))
    assert vectors.count() == vectors.select("id").distinct().count()
    sections = json.loads(kb.query("crashretry1 quokka lanterns", fmt="json", log=False))
    sources = [s["source"] for s in sections]
    assert "cr1.txt" in sources
    assert len(sources) == len(set(sources))
    assert all(s["text"].count("crashretry") <= 1 for s in sections)


def test_force_reingest_without_bm25_rebuild_serves_new_text(spark, base_kb, tmp_path):
    """After ``database(force=True)`` + ``embed`` the fingerprints alone
    reject the persisted BM25 tables and IVF tier (no directory wipe);
    a query with no ``build_bm25`` in between serves the new text."""
    kb_dir, docs = _copy(base_kb, tmp_path), base_kb[1]
    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    marker = "zephyrquokka"
    changed = docs.select(
        "doc_id", F.concat(F.lit(marker + " "), F.col("text")).alias("text"), "source"
    )
    assert kb.database(changed, force=True) > 0
    assert kb.embed() > 0
    assert os.path.isdir(os.path.join(kb_dir, "postings"))
    v = kb.verify()
    assert v["bm25_index"] == "stale" and v["vector_index"] == "stale"

    assert marker in kb.query(marker + " spark data", log=False)
    # over the memory budget the Spark plans serve from the IVF tier
    spark_path = KnowledgeBase(
        spark, kb_dir, KBConfig(**CFG, index_memory_budget_mb=0)
    )
    assert marker in spark_path.query(marker + " spark data", log=False)
    assert spark_path.verify()["vector_index"] == "fresh"


def _append_docs(spark, tag: str, n: int = 5):
    return spark.createDataFrame(
        [(9300 + i, f"{tag}{i} appended text about walrus beacons", f"{tag}{i}.txt")
         for i in range(n)],
        ["doc_id", "text", "source"],
    )


def test_held_kb_sees_another_writers_append(spark, base_kb, tmp_path):
    """A long-lived KnowledgeBase (a server) serves another process's
    appends: the index rebuilds when ``chunks/`` or ``vectors/`` change
    on disk, not only after its own writes."""
    kb_dir = _copy(base_kb, tmp_path)
    reader = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    assert "heldwriter" not in reader.query("heldwriter0 walrus beacons", log=False)
    writer = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    assert writer.database(_append_docs(spark, "heldwriter", 1)) > 0
    assert writer.embed() > 0
    assert "heldwriter0" in reader.query("heldwriter0 walrus beacons", log=False)


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a job group; the status
    tracker is fed asynchronously, so poll until the count settles."""
    sc = spark.sparkContext
    group = f"append-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "append job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker, n, same = sc.statusTracker(), -1, 0
    deadline = time.monotonic() + 30
    while same < 3 and time.monotonic() < deadline:
        time.sleep(0.3)
        m = len(tracker.getJobIdsForGroup(group))
        same, n = (same + 1, n) if m == n else (0, m)
    return n


def test_append_cycle_computes_each_result_once(spark, base_kb, tmp_path):
    """A 5-document append: ``database`` chunks its input once and
    ``embed`` probes the embedding cache once (bounds measured on this
    code; re-running either shows up as extra jobs)."""
    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    docs = _append_docs(spark, "jobcount").localCheckpoint()
    assert _jobs_of(spark, lambda: kb.database(docs)) <= DATABASE_APPEND_JOBS
    assert _jobs_of(spark, kb.embed) <= EMBED_APPEND_JOBS
    assert kb.verify()["pending_embed"] == 0


def test_index_metadata_reads_run_no_spark_job(spark, base_kb, tmp_path):
    """On an unchanged KB both freshness rules decide from the metadata
    tables and directory listings alone: no Spark job."""
    kb_dir = _copy(base_kb, tmp_path)
    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    chunks = kb._read("chunks")
    vectors = kb._read("vectors")
    out = {}

    def freshness():
        out["bm25"] = kb._bm25_freshness(chunks)[0]
        out["vindex"] = S.index_freshness(
            spark, kb._p("vindex"), vectors, source_dir=kb._p("vectors")
        )

    assert _jobs_of(spark, freshness) == 0
    assert out["bm25"] is not None and out["vindex"] == "fresh"
