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
# Spark jobs of the query after that append, the tier's absorb included
# (test_query_absorbs_an_append_from_its_new_files; 25 before the absorb
# read only the new files, on the driver)
QUERY_APPEND_JOBS = 17


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


def _kill_writes_to(monkeypatch, table: str) -> None:
    """Make every Spark parquet write whose target's last path component
    contains ``table`` (the table, a copy beside it, or its staged
    sibling) die inside its job as a failing task does: the frame
    written gains a column whose UDF raises. The writer's mode is kept,
    so an overwrite still clears its target before the job runs."""
    real_mode, real_parquet = DataFrameWriter.mode, DataFrameWriter.parquet

    def die(_):
        raise RuntimeError("write killed")

    def mode(self, save_mode):
        self._save_mode = save_mode
        return real_mode(self, save_mode)

    def parquet(self, path, *a, **k):
        if table not in os.path.basename(path.rstrip("/")):
            return real_parquet(self, path, *a, **k)
        doomed = self._df.withColumn("_killed", F.udf(die, "int")(F.lit(0))).write
        real_mode(doomed, getattr(self, "_save_mode", None))
        real_parquet(doomed, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "mode", mode)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _leftovers(directory: str, table: str) -> list[str]:
    """Entries beside ``table`` named after it: copies, staged or
    set-aside directories."""
    return [d for d in os.listdir(directory) if table in d and d != table]


def test_bm25_rebuild_killed_in_postings_write_keeps_the_index(
    spark, base_kb, tmp_path, monkeypatch
):
    kb_dir = _copy(base_kb, tmp_path)
    q = "spark data query table"
    before = KnowledgeBase(spark, kb_dir, KBConfig(**CFG)).query(q, log=False)
    _kill_writes_to(monkeypatch, "postings")
    with pytest.raises(Exception, match="write killed"):
        KnowledgeBase(spark, kb_dir, KBConfig(**CFG)).build_bm25(force=True)
    monkeypatch.undo()

    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    assert kb.query(q, log=False) == before
    assert kb.verify()["bm25_index"] == "fresh"
    assert _leftovers(kb_dir, "postings") == []


def test_force_reingest_killed_in_chunks_write_keeps_the_chunks(
    spark, base_kb, tmp_path, monkeypatch
):
    """Killed in the chunks write, ``database(force=True)`` leaves the
    old chunks serving their old text, their vectors dropped; the retry
    and ``embed`` then serve the new text, with no duplicate ids."""
    kb_dir, docs = _copy(base_kb, tmp_path), base_kb[1]
    marker = "killedquokka"
    changed = docs.limit(3).select(
        "doc_id", F.concat(F.lit(marker + " "), F.col("text")).alias("text"), "source"
    )
    replaced = [r.source for r in changed.select("source").collect()]
    n_chunks = spark.read.parquet(os.path.join(kb_dir, "chunks")).count()
    _kill_writes_to(monkeypatch, "chunks")
    with pytest.raises(Exception, match="write killed"):
        KnowledgeBase(spark, kb_dir, KBConfig(**CFG)).database(changed, force=True)
    monkeypatch.undo()

    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    chunks = kb._read("chunks")
    assert chunks.count() == n_chunks
    old = chunks.filter(F.col("sourcedoc").isin(*replaced))
    assert old.filter(F.col("originaltext").contains(marker)).count() == 0
    # their vectors went with the vectors swap, so they wait to re-embed
    assert kb.verify()["pending_embed"] == old.filter(F.length("embedtext") > 0).count()
    assert marker not in kb.query(marker + " spark data", log=False)

    assert kb.database(changed, force=True) > 0
    assert kb.embed() > 0
    assert marker in kb.query(marker + " spark data", log=False)
    for table in ("chunks", "vectors"):
        ids = kb._read(table).select("id")
        assert ids.count() == ids.distinct().count()


@pytest.mark.parametrize("rewrite", ["optimize_chunks", "migrate_add_categories"])
def test_chunks_rewrite_killed_keeps_the_chunks(
    spark, base_kb, tmp_path, monkeypatch, rewrite
):
    from customkb_spark.plans.maintenance import optimize_chunks
    from customkb_spark.plans.migrations import migrate_add_categories

    kb_dir = _copy(base_kb, tmp_path)
    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    n_chunks = kb._read("chunks").count()
    _kill_writes_to(monkeypatch, "chunks")
    with pytest.raises(Exception, match="write killed"):
        if rewrite == "optimize_chunks":
            optimize_chunks(spark, kb._p("chunks"))
        else:
            migrate_add_categories(kb)
    monkeypatch.undo()

    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    assert kb._read("chunks").count() == n_chunks
    assert _leftovers(kb_dir, "chunks") == []


def test_replace_interrupted_between_renames_is_undone_on_open(
    spark, base_kb, tmp_path, monkeypatch
):
    """A crash after the old table is renamed aside and before the new
    one is renamed in: opening the KB renames the old one back."""
    from customkb_spark.functions import parquet_rows as PR

    kb_dir = _copy(base_kb, tmp_path)
    vindex = os.path.join(kb_dir, "vindex")
    meta = PR.read_row(os.path.join(vindex, "meta"))
    real, renames = os.rename, []

    def rename(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("killed between the renames")
        real(src, dst)

    monkeypatch.setattr(PR.os, "rename", rename)
    with pytest.raises(OSError):
        S._write_meta(vindex, {**meta, "fp": "0"})
    monkeypatch.undo()
    assert not os.path.isdir(os.path.join(vindex, "meta"))
    os.makedirs(os.path.join(kb_dir, ".not.a.swap.new"))

    KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    assert PR.read_row(os.path.join(vindex, "meta")) == meta
    assert _leftovers(vindex, "meta") == []
    assert os.path.isdir(os.path.join(kb_dir, ".not.a.swap.new"))


def _appended_kb(spark, base_kb, tmp_path, tag: str) -> KnowledgeBase:
    """A copy of ``base_kb`` after a 5-document ``database`` + ``embed``."""
    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    assert kb.database(_append_docs(spark, tag)) > 0
    assert kb.embed() > 0
    return kb


def _resave_ivf_tier(spark, kb, nlist: int = 4) -> None:
    """Replace the copy's tier by an ivf one of ``nlist`` clusters (the
    base KB's 64 vectors give it one), so an absorb can touch several."""
    from customkb_spark.embedding.auto import VectorIndexTier
    from customkb_spark.embedding.index import assign_clusters, train_centroids

    vectors = kb._read("vectors")
    cents = train_centroids(vectors, "vector", nlist=nlist)
    tier = VectorIndexTier(
        "ivf", vectors, "id", "vector",
        centroids=cents, indexed=assign_clusters(vectors, cents, "vector"),
    )
    S.save_vector_index(tier, kb._p("vindex"), source_dir=kb._p("vectors"))


def _indexed_ids(kb) -> list:
    return [r.id for r in kb._read("vindex/indexed").select("id").collect()]


def _appended_vectors(spark, base_kb, kb):
    """The vectors ``kb`` holds beyond ``base_kb``'s."""
    old = spark.read.parquet(os.path.join(base_kb[0], "vectors")).select("id")
    return kb._read("vectors").join(old, "id", "left_anti")


def test_verify_after_append_runs_no_vector_scan(spark, base_kb, tmp_path, monkeypatch):
    """The tier's recorded ``sources`` tell a pure append apart from the
    new files alone: "appendable" with no content scan of the vectors."""
    kb = _appended_kb(spark, base_kb, tmp_path, "noscan")
    real = S.content_fingerprint

    def no_vector_scan(df, id_col, vec_col):
        if vec_col == "vector":
            raise AssertionError("content scan of the vectors")
        return real(df, id_col, vec_col)  # the BM25 rule's chunks scan

    monkeypatch.setattr(S, "content_fingerprint", no_vector_scan)
    assert kb.verify()["vector_index"] == "appendable"


def test_query_absorbs_an_append_from_its_new_files(spark, base_kb, tmp_path):
    """The absorb leaves each vector indexed once, in the cluster
    ``assign_clusters`` gives it, and a meta whose ``fp`` is the full
    content fingerprint."""
    from customkb_spark.embedding.index import assign_clusters
    from customkb_spark.functions import parquet_rows as PR

    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    _resave_ivf_tier(spark, kb)
    assert kb.database(_append_docs(spark, "absorb")) > 0
    assert kb.embed() > 0
    out = {}
    jobs = _jobs_of(spark, lambda: out.update(ctx=kb.query("absorb0 walrus beacons", log=False)))
    assert "absorb0" in out["ctx"]
    assert jobs <= QUERY_APPEND_JOBS

    vectors = kb._read("vectors")
    ids = _indexed_ids(kb)
    assert len(ids) == len(set(ids))
    assert set(ids) == {r.id for r in vectors.select("id").collect()}
    meta = PR.read_row(kb._p("vindex/meta"))
    assert meta["fp"] == S.content_fingerprint(vectors, "id", "vector")

    new = _appended_vectors(spark, base_kb, kb)
    cents = S.load_centroids(spark, kb._p("vindex/centroids"))
    want = {tuple(r) for r in assign_clusters(new, cents).select("id", "cluster_id").collect()}
    got = kb._read("vindex/indexed").join(new.select("id"), "id")
    assert {tuple(r) for r in got.select("id", "cluster_id").collect()} == want
    assert kb.verify()["vector_index"] == "fresh"


class _Kill(BaseException):
    """A process kill: no ``except Exception`` handler sees it."""


def test_absorb_killed_after_a_cluster_file_retries_safely(
    spark, base_kb, tmp_path, monkeypatch
):
    """Killed after its first cluster file, the absorb leaves the old
    meta and ``sources``; the next query absorbs the same files again,
    rewriting the file it had written, so each id is indexed once."""
    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    _resave_ivf_tier(spark, kb)
    # whole documents, so the delta spans several clusters
    docs = base_kb[1].limit(5).select(
        (F.col("doc_id") + 50_000).alias("doc_id"),
        F.concat(F.lit("killabsorb "), F.col("text")).alias("text"),
        F.concat(F.lit("killabsorb/"), F.col("source")).alias("source"),
    )
    assert kb.database(docs) > 0
    assert kb.embed() > 0
    centroids = os.listdir(kb._p("vindex/centroids"))
    real, calls = os.replace, []

    def replace(src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise _Kill(dst)
        real(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(_Kill):
        kb.query("killabsorb", log=False)
    monkeypatch.undo()
    assert all("cluster_id=" in dst for dst in calls)  # between two clusters

    retry = KnowledgeBase(spark, kb.kb_dir, KBConfig(**CFG))
    assert retry.verify()["vector_index"] == "appendable"
    assert "killabsorb" in retry.query("killabsorb", log=False)
    ids = _indexed_ids(retry)
    assert len(ids) == len(set(ids)) == retry._read("vectors").count()
    assert os.listdir(kb._p("vindex/centroids")) == centroids  # absorbed, not rebuilt
    assert retry.verify()["vector_index"] == "fresh"


def test_spark_path_serves_the_absorbed_tier_as_the_resident_index(spark, base_kb, tmp_path):
    kb = _appended_kb(spark, base_kb, tmp_path, "sparkpath")
    q = "sparkpath0 walrus beacons"
    resident = kb.query(q, log=False)  # absorbs
    assert kb.verify()["resident_index"]["state"] == "resident"
    assert "sparkpath0" in resident
    over = KnowledgeBase(spark, kb.kb_dir, KBConfig(**CFG, index_memory_budget_mb=0))
    assert over.query(q, log=False) == resident


def test_ivfsq_absorb_encodes_as_encode_sq(spark, base_kb, tmp_path):
    from customkb_spark.embedding.auto import build_vector_index
    from customkb_spark.embedding.sq import encode_sq
    from customkb_spark.functions.vector import l2_normalized_frame

    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    vpath, vdir = kb._p("vindex"), kb._p("vectors")
    tier = build_vector_index(kb._read("vectors"), KBConfig(ann_index="ivfsq"))
    S.save_vector_index(tier, vpath, source_dir=vdir)
    assert kb.database(_append_docs(spark, "sqabsorb")) > 0
    assert kb.embed() > 0

    vectors = kb._read("vectors")
    assert S.index_freshness(spark, vpath, vectors, source_dir=vdir) == "appendable"
    tier = S.load_vector_index(spark, vpath, vectors, source_dir=vdir)
    assert tier is not None and tier.kind == "ivfsq"
    assert tier.indexed.count() == tier.indexed.select("id").distinct().count() == vectors.count()

    new = _appended_vectors(spark, base_kb, kb)

    def rows(df):
        return sorted((r.id, r.cluster_id, list(r.sq_code)) for r in df.collect())

    want = encode_sq(l2_normalized_frame(new, "vector"), tier.sq)
    got = tier.indexed.join(new.select("id"), "id").select("id", "cluster_id", "sq_code")
    assert rows(want) and rows(got) == rows(want)
    assert S.index_freshness(spark, vpath, vectors, source_dir=vdir) == "fresh"


def test_tier_without_sources_absorbs_by_content_then_records_them(
    spark, base_kb, tmp_path, monkeypatch
):
    """A tier saved before ``sources`` existed takes the content rule
    once; the absorb then records the files it covers."""
    kb_dir = _copy(base_kb, tmp_path)
    shutil.rmtree(os.path.join(kb_dir, "vindex", "sources"))
    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    assert kb.database(_append_docs(spark, "nosources")) > 0
    assert kb.embed() > 0
    real, scans = S.content_fingerprint, []

    def counted(df, id_col, vec_col):
        scans.append(vec_col)
        return real(df, id_col, vec_col)

    monkeypatch.setattr(S, "content_fingerprint", counted)
    assert kb.verify()["vector_index"] == "appendable"
    assert scans.count("vector") == 2  # all vectors, then the indexed subset
    assert "nosources0" in kb.query("nosources0 walrus beacons", log=False)
    monkeypatch.undo()

    assert os.path.isdir(os.path.join(kb_dir, "vindex", "sources"))
    ids = _indexed_ids(kb)
    assert len(ids) == len(set(ids)) == kb._read("vectors").count()
    assert kb.verify()["vector_index"] == "fresh"


# Spark jobs of the query after a 5-document append + embed, both
# indexes absorbing the new files on the driver: two delta fingerprints
# (two jobs each under AQE) and the term_stats write
# (test_query_after_append_runs_only_delta_jobs; 17 before BM25 absorbed
# its delta and the resident index loaded without Spark)
QUERY_DELTA_JOBS = 5


def _postings(kb) -> list:
    from customkb_spark.functions import parquet_rows as PR

    t = PR.read_table(kb._p("postings"))
    return sorted(zip(*(t.column(c).to_pylist() for c in ("id", "dl", "term"))))


def _term_stats(kb) -> dict:
    from customkb_spark.functions import parquet_rows as PR

    t = PR.read_table(kb._p("term_stats"))
    return {r["term"]: (r["df"], r["idf"]) for r in t.to_pylist()}


def _scratch(spark, kb, tmp_path) -> KnowledgeBase:
    """A from-scratch BM25 build over a copy of ``kb``'s tables."""
    dst = str(tmp_path / "scratch")
    shutil.copytree(kb.kb_dir, dst)
    scratch = KnowledgeBase(spark, dst, KBConfig(**CFG))
    assert scratch.build_bm25(force=True)["rebuilt"] is True
    return scratch


def _bm25_equal(kb, scratch) -> None:
    from customkb_spark.functions import parquet_rows as PR

    got, want = _postings(kb), _postings(scratch)
    assert len(got) == len(set(got)) and got == want
    assert _term_stats(kb) == _term_stats(scratch)  # idf bit-equal
    meta, ref = (PR.read_row(k._p("bm25_meta")) for k in (kb, scratch))
    assert (meta["n_chunks"], meta["avgdl"], meta["sum_dl"]) == (
        ref["n_chunks"], ref["avgdl"], ref["sum_dl"]
    )
    assert meta["chunks_fp"] == ref["chunks_fp"]


def _numbered_docs(spark, tag: str, first_id: int, n: int = 5):
    """``_append_docs`` under doc ids from ``first_id``, so that several
    appends add distinct chunk ids."""
    return _append_docs(spark, tag, n).withColumn("doc_id", F.col("doc_id") - 9300 + first_id)


def test_bm25_absorbed_appends_equal_a_scratch_build(spark, base_kb, tmp_path):
    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    for i in range(3):
        assert kb.database(_numbered_docs(spark, f"bm25delta{i}x", 9400 + 10 * i)) > 0
        assert kb.verify()["bm25_index"] == "appendable"
        assert kb.build_bm25()["rebuilt"] is False
        assert kb.verify()["bm25_index"] == "fresh"
    _bm25_equal(kb, _scratch(spark, kb, tmp_path))


@pytest.mark.parametrize("killed_at", ["postings", "bm25_sources"])
def test_bm25_absorb_killed_before_meta_retries_without_duplicates(
    spark, base_kb, tmp_path, monkeypatch, killed_at
):
    """Killed after its first postings file, or after ``term_stats`` is
    swapped (at ``bm25_sources``), the absorb leaves the old meta; the
    retry serves each posting once and equals a from-scratch build."""
    from customkb_spark.functions import parquet_rows as PR

    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    assert kb.database(_numbered_docs(spark, "killbm25", 9400, 2)) > 0
    assert kb.database(_numbered_docs(spark, "killbm25b", 9410, 2)) > 0
    real = PR.replace if killed_at == "bm25_sources" else PR.write_rows

    def kill(table, directory, *a, **k):
        real(table, directory, *a, **k)
        if os.path.basename(directory.rstrip("/")) == killed_at:
            raise _Kill(directory)

    monkeypatch.setattr(PR, real.__name__, kill)
    with pytest.raises(_Kill):
        kb.build_bm25()
    monkeypatch.undo()

    retry = KnowledgeBase(spark, kb.kb_dir, KBConfig(**CFG))
    assert "killbm25b1" in retry.query("killbm25b1 walrus beacons", log=False)
    _bm25_equal(retry, _scratch(spark, retry, tmp_path))


def test_verify_after_chunks_append_runs_no_chunks_scan(spark, base_kb, tmp_path, monkeypatch):
    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    assert kb.database(_append_docs(spark, "noscanbm25")) > 0

    def boom(*a, **k):
        raise AssertionError("content scan after a pure append")

    monkeypatch.setattr(S, "content_fingerprint", boom)
    assert kb.verify()["bm25_index"] == "appendable"


def test_query_after_append_runs_only_delta_jobs(spark, base_kb, tmp_path, monkeypatch):
    """The query after an append absorbs both deltas and loads the
    resident index with pyarrow: no whole-corpus job, no re-tokenizing
    and no Spark-plan form of the index."""
    from customkb_spark.operators import bm25 as B25

    kb = _appended_kb(spark, base_kb, tmp_path, "deltajobs")
    real, calls = B25.build_postings, []
    monkeypatch.setattr(B25, "build_postings", lambda *a, **k: calls.append(1) or real(*a, **k))
    out = {}
    jobs = _jobs_of(spark, lambda: out.update(ctx=kb.query("deltajobs0 walrus beacons", log=False)))
    assert "deltajobs0" in out["ctx"] and calls == []
    assert jobs <= QUERY_DELTA_JOBS
    assert kb._index is None  # no Spark-plan form was built


def test_chunks_appended_during_a_bm25_build_are_absorbed_next(
    spark, base_kb, tmp_path, monkeypatch
):
    """A chunks file another writer adds while BM25 is rebuilt was not
    read by the build, so it is not recorded as covered: the next query
    absorbs it and returns it."""
    from customkb_spark.operators import bm25 as B25

    kb_dir = _copy(base_kb, tmp_path)
    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    real = B25.build_postings

    def build_postings(*a, **k):
        monkeypatch.setattr(B25, "build_postings", real)
        writer = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
        assert writer.database(_append_docs(spark, "midbuildzq", 1)) > 0
        return real(*a, **k)

    monkeypatch.setattr(B25, "build_postings", build_postings)
    assert kb.build_bm25(force=True)["rebuilt"] is True
    assert kb.verify()["bm25_index"] == "appendable"
    assert "midbuildzq0" in kb.query("midbuildzq0 walrus beacons", log=False)


def test_vectors_appended_during_a_tier_build_are_absorbed_next(
    spark, base_kb, tmp_path, monkeypatch
):
    from customkb_spark.embedding import auto

    kb_dir = _copy(base_kb, tmp_path)
    shutil.rmtree(os.path.join(kb_dir, "vindex"))
    kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    real = auto.build_vector_index

    def build_vector_index(*a, **k):
        monkeypatch.setattr(auto, "build_vector_index", real)
        writer = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
        assert writer.database(_append_docs(spark, "midtier", 1)) > 0
        assert writer.embed() > 0
        return real(*a, **k)

    monkeypatch.setattr(auto, "build_vector_index", build_vector_index)
    kb.query("spark data query table", log=False)  # builds and saves the tier
    assert kb.verify()["vector_index"] == "appendable"
    kb.query("midtier0 walrus beacons", log=False)
    ids = _indexed_ids(kb)
    assert len(ids) == len(set(ids)) == kb._read("vectors").count()


def test_content_rule_fresh_verdict_records_the_listing(spark, base_kb, tmp_path, monkeypatch):
    """After a rewrite with the same content (``optimize``), the first
    index build proves freshness with one content fingerprint per index
    and records the new listing; the second runs none."""
    from customkb_spark.functions import parquet_rows as PR
    from customkb_spark.plans.maintenance import optimize_chunks

    kb_dir = _copy(base_kb, tmp_path)
    spark_kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
    optimize_chunks(spark, spark_kb._p("chunks"))
    vdir = spark_kb._p("vectors")
    PR.swap(vdir, spark.read.parquet(vdir).repartition(2).write.parquet)
    real, scans = S.content_fingerprint, []

    def counted(df, id_col, vec_col):
        scans.append(vec_col)
        return real(df, id_col, vec_col)

    monkeypatch.setattr(S, "content_fingerprint", counted)
    for want in (1, 0):
        scans.clear()
        kb = KnowledgeBase(spark, kb_dir, KBConfig(**CFG))
        kb.query("spark data query table", log=False)
        assert scans.count("originaltext") == scans.count("vector") == want
        assert kb.verify()["bm25_index"] == kb.verify()["vector_index"] == "fresh"


def _data_files(directory: str) -> list:
    return [
        os.path.join(root, f) for root, _dirs, files in os.walk(directory)
        for f in files if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def test_optimize_compacts_postings_and_the_ivf_table(spark, base_kb, tmp_path):
    """After four absorbed appends ``optimize`` leaves one postings file
    and one ``vindex/indexed`` file per cluster; answers are unchanged,
    and a KB held over the memory budget plans over the new files."""
    from customkb_spark import cli

    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))
    _resave_ivf_tier(spark, kb)
    held = KnowledgeBase(spark, kb.kb_dir, KBConfig(**CFG, index_memory_budget_mb=0))
    for i in range(4):
        assert kb.database(_numbered_docs(spark, f"compact{i}x", 9400 + 10 * i, 2)) > 0
        assert kb.embed() > 0
        assert f"compact{i}x0" in held.query(f"compact{i}x0 walrus beacons", log=False)
    assert len(_data_files(kb._p("postings"))) > 1
    assert len(_data_files(kb._p("vindex/indexed"))) > 4
    queries = ["compact3x1 walrus beacons", "spark data query table"]
    before = [kb.query(q, log=False) for q in queries]

    assert cli.main(["optimize", kb.kb_dir]) == 0
    assert len(_data_files(kb._p("postings"))) == 1
    assert len(_data_files(kb._p("vindex/indexed"))) <= 4
    assert [kb.query(q, log=False) for q in queries] == before
    assert [held.query(q, log=False) for q in queries] == before
    assert kb.verify()["bm25_index"] == kb.verify()["vector_index"] == "fresh"


def test_tier_absorb_killed_before_meta_rebuilds_once(spark, base_kb, tmp_path, monkeypatch):
    """Killed after it replaced ``vindex/sources`` and before ``meta``,
    the absorb leaves the old meta, which does not hash the new
    ``sources``; the retry cannot take a pure append from it, and the
    indexed table already holds the new ids, so the tier is rebuilt:
    each vector indexed once."""
    from customkb_spark.functions import parquet_rows as PR

    kb = _appended_kb(spark, base_kb, tmp_path, "killsources")
    meta = PR.read_row(kb._p("vindex/meta"))
    real = PR.replace

    def kill(table, directory, *a, **k):
        real(table, directory, *a, **k)
        if directory.rstrip("/").endswith(os.path.join("vindex", "sources")):
            raise _Kill(directory)

    monkeypatch.setattr(PR, "replace", kill)
    with pytest.raises(_Kill):
        kb.query("killsources0 walrus beacons", log=False)
    monkeypatch.undo()
    assert PR.read_row(kb._p("vindex/meta")) == meta  # sources first, meta last

    retry = KnowledgeBase(spark, kb.kb_dir, KBConfig(**CFG))
    assert "killsources0" in retry.query("killsources0 walrus beacons", log=False)
    ids = _indexed_ids(retry)
    assert len(ids) == len(set(ids)) == retry._read("vectors").count()
    assert retry.verify()["vector_index"] == "fresh"


def test_database_refuses_a_doc_id_held_by_another_source(spark, base_kb, tmp_path):
    """Chunk ids are ``doc_id · 2^22 + sid``: a doc_id already held by a
    chunk of another source, or given to two sources in one call, is
    refused before anything is written; a force re-ingest of the
    holding source itself is not."""
    kb = KnowledgeBase(spark, _copy(base_kb, tmp_path), KBConfig(**CFG))

    def doc(doc_id, source, text="collision walrus beacons"):
        return (doc_id, f"{text} {source}", source)

    def docs(*rows):
        return spark.createDataFrame(list(rows), ["doc_id", "text", "source"])

    assert kb.database(docs(doc(9300, "a.txt"))) > 0
    n = kb._read("chunks").count()
    held = [doc(9300, "b.txt")]
    twice = [doc(9301, "c.txt"), doc(9301, "d.txt")]
    for rows, sources in ((held, ("a.txt", "b.txt")), (twice, ("c.txt", "d.txt"))):
        with pytest.raises(ValueError, match=f"doc_id {rows[0][0]} ") as err:
            kb.database(docs(*rows))
        assert all(src in str(err.value) for src in sources)
        assert kb._read("chunks").count() == n
    assert kb.database(docs(doc(9300, "a.txt", "rewritten walrus")), force=True) > 0
    ids = kb._read("chunks").select("id")
    assert ids.count() == ids.distinct().count()
