"""Index persistence + incremental maintenance round trips."""

import numpy as np
from pyspark.sql import functions as F

from customkb_spark.embedding import store as S
from customkb_spark.embedding.index import assign_clusters, ivf_search, train_centroids
from customkb_spark.embedding.pq import encode_pq, pq_topk, train_pq


def test_centroids_round_trip(spark, embeddings, tmp_path):
    cents = train_centroids(embeddings, "embedding", nlist=8)
    p = str(tmp_path / "cent")
    S.save_centroids(spark, cents, p)
    back = S.load_centroids(spark, p)
    assert back.shape == cents.shape
    assert np.allclose(back, cents)


def test_pq_round_trip_same_search_results(spark, embeddings, tmp_path):
    cents = train_centroids(embeddings, "embedding", nlist=8)
    model = train_pq(embeddings, "embedding", m=8, nbits=4, centroids=cents)
    p = str(tmp_path / "pq")
    S.save_pq(spark, model, p)
    back = S.load_pq(spark, p)
    assert np.allclose(back.codebooks, model.codebooks)
    assert back.centroids is not None and np.allclose(back.centroids, model.centroids)

    codes = encode_pq(embeddings, model, "vec_id", "embedding")
    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding]
    a = [r.id for r in pq_topk(codes, model, qv, k=5, nprobe=8, id_col="vec_id").collect()]
    b = [r.id for r in pq_topk(codes, back, qv, k=5, nprobe=8, id_col="vec_id").collect()]
    assert a == b


def test_search_identical_after_persistence(spark, embeddings, tmp_path):
    cents = train_centroids(embeddings, "embedding", nlist=8)
    path = str(tmp_path / "ivf2")
    S.write_ivf_table(assign_clusters(embeddings, cents, "embedding"), path)

    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 3).collect()[0].embedding]
    live = ivf_search(
        assign_clusters(embeddings, cents, "embedding"), cents, qv, k=5, nprobe=4,
        id_col="vec_id", vec_col="embedding",
    )
    cpath = str(tmp_path / "cent2")
    S.save_centroids(spark, cents, cpath)
    loaded = ivf_search(
        spark.read.parquet(path), S.load_centroids(spark, cpath),
        qv, k=5, nprobe=4, id_col="vec_id", vec_col="embedding",
    )
    assert [r.id for r in live.collect()] == [r.id for r in loaded.collect()]


def test_index_drift_stats(spark, embeddings):
    cents = train_centroids(embeddings, "embedding", nlist=8)
    indexed = assign_clusters(embeddings, cents, "embedding")
    stats = S.index_drift(indexed, cents, "embedding").collect()
    assert sum(r.n for r in stats) == embeddings.count()
    for r in stats:
        assert 0.0 <= r.avg_dist <= r.max_dist


def test_kb_index_tier_persists_and_refreshes(spark, tmp_path, documents, monkeypatch):
    """Reference parity: the index tier is trained once, persisted like
    the <kb>.faiss file, and later sessions (and IVF appends) never
    retrain."""
    from customkb_spark.config import KBConfig
    from customkb_spark.kb import KnowledgeBase

    cfg = KBConfig(query_top_k=5, ann_index="ivf")
    kb = KnowledgeBase(spark, str(tmp_path / "kb"), cfg)
    assert kb.database(documents.limit(30)) > 0
    assert kb.embed() > 0
    out1 = kb.query("spark data query table", log=False)

    # a fresh session over the same kb_dir must LOAD, never retrain
    import customkb_spark.embedding.auto as A

    def _bomb(*a, **k):
        raise AssertionError("index retrained after persistence")

    monkeypatch.setattr(A, "train_centroids", _bomb)
    kb2 = KnowledgeBase(spark, str(tmp_path / "kb"), cfg)
    assert kb2.query("spark data query table", log=False) == out1

    # appended vectors flow in via incremental assignment (FAISS add),
    # still with training disabled
    more = spark.createDataFrame(
        [(9001, "entirely new appended document about spark windows", "new1.txt")],
        ["doc_id", "text", "source"],
    )
    assert kb2.database(more) > 0
    assert kb2.embed() > 0
    out3 = kb2.query("appended document windows", log=False)
    assert isinstance(out3, str) and len(out3) > 0
    # the refreshed on-disk table covers every vector exactly once
    idx = spark.read.parquet(str(tmp_path / "kb" / "vindex" / "indexed"))
    vecs = spark.read.parquet(str(tmp_path / "kb" / "vectors"))
    assert idx.count() == vecs.count()


def test_streaming_index_maintenance_matches_batch(spark, embeddings, tmp_path):
    """Streaming appends against frozen centroids produce exactly the
    batch assignment (same ids, same clusters), exactly once."""
    from customkb_spark.streaming.incremental import incremental_index_maintenance

    cents = train_centroids(embeddings, "embedding", nlist=8)
    cpath = str(tmp_path / "cents")
    S.save_centroids(spark, cents, cpath)

    src = str(tmp_path / "vec_src")
    embeddings.select("vec_id", "embedding").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = incremental_index_maintenance(
        stream, str(tmp_path / "ivf_s"), cpath, str(tmp_path / "ckpt"),
        vec_col="embedding", id_col="vec_id",
    )
    q.awaitTermination(120)

    got = {
        (r.vec_id, r.cluster_id)
        for r in spark.read.parquet(str(tmp_path / "ivf_s")).select("vec_id", "cluster_id").collect()
    }
    want = {
        (r.vec_id, r.cluster_id)
        for r in assign_clusters(embeddings, cents, "embedding").select("vec_id", "cluster_id").collect()
    }
    assert got == want

    # foreachBatch is at-least-once: a REPLAYED batch must append
    # nothing (ADVICE r2 — the id anti-join makes the sink idempotent)
    from customkb_spark.streaming.incremental import _drop_already_written

    replay = _drop_already_written(
        spark.read.parquet(src), str(tmp_path / "ivf_s"), "vec_id"
    )
    assert replay.count() == 0


def test_load_rejects_in_place_vector_mutation(spark, embeddings, tmp_path):
    """ADVICE r2 (high): vectors re-embedded under the SAME ids and the
    SAME row count must not load the persisted tier — the content
    fingerprint, not the row count, decides freshness."""
    from customkb_spark.embedding.auto import VectorIndexTier

    cents = train_centroids(embeddings, "embedding", nlist=8)
    tier = VectorIndexTier(
        "ivf", embeddings, "vec_id", "embedding",
        centroids=cents,
        indexed=assign_clusters(embeddings, cents, "embedding"),
    )
    path = str(tmp_path / "tier")
    S.save_vector_index(tier, path)

    # unchanged content → loads without training or assignment
    back = S.load_vector_index(spark, path, embeddings)
    assert back is not None and back.kind == "ivf"

    # same ids, same count, mutated vectors → must refuse (None)
    mutated = embeddings.withColumn(
        "embedding", F.reverse(F.col("embedding"))
    )
    assert S.load_vector_index(spark, path, mutated) is None

    # a PURE append still flows through FAISS-add incremental assignment
    extra = embeddings.limit(3).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    grown = embeddings.unionByName(extra)
    refreshed = S.load_vector_index(spark, path, grown)
    assert refreshed is not None
    assert refreshed.indexed.count() == grown.count()


def test_force_reingest_never_serves_stale_results(spark, tmp_path, documents):
    """End-to-end ADVICE r2 scenario: database(force=True) rewrites text
    under deterministic ids; the next query must reflect the NEW corpus
    even though persisted ANN/BM25 artifacts existed."""
    from customkb_spark.config import KBConfig
    from customkb_spark.kb import KnowledgeBase

    cfg = KBConfig(query_top_k=5, ann_index="ivf")
    docs = documents.limit(30).localCheckpoint()
    kb = KnowledgeBase(spark, str(tmp_path / "kbstale"), cfg)
    assert kb.database(docs) > 0
    assert kb.embed() > 0
    kb.build_bm25()
    kb.query("spark data query table", log=False)  # persists the tier

    marker = "zephyrquokka"
    changed = docs.select(
        "doc_id",
        F.concat(F.lit(marker + " "), F.col("text")).alias("text"),
        "source",
    )
    assert kb.database(changed, force=True) > 0
    assert kb.embed() > 0
    kb.build_bm25()

    # fresh session over the same dir: must rebuild/refresh, not serve
    # the pre-rewrite neighbors
    kb2 = KnowledgeBase(spark, str(tmp_path / "kbstale"), cfg)
    out = kb2.query(marker + " spark data", log=False)
    assert marker in out


def test_index_freshness_verdicts(spark, embeddings, tmp_path):
    """index_freshness mirrors load_vector_index's decisions: fresh on
    unchanged content, appendable on pure ivf appends, stale on
    in-place mutation, absent with no saved index."""
    from customkb_spark.embedding.auto import VectorIndexTier

    cents = train_centroids(embeddings, "embedding", nlist=8)
    tier = VectorIndexTier(
        "ivf", embeddings, "vec_id", "embedding",
        centroids=cents,
        indexed=assign_clusters(embeddings, cents, "embedding"),
    )
    path = str(tmp_path / "fresh_tier")
    assert S.index_freshness(spark, path, embeddings) == "absent"
    S.save_vector_index(tier, path)
    assert S.index_freshness(spark, path, embeddings) == "fresh"

    appended = embeddings.unionByName(
        embeddings.limit(3).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )
    assert S.index_freshness(spark, path, appended) == "appendable"

    mutated = embeddings.withColumn("embedding", F.reverse(F.col("embedding")))
    assert S.index_freshness(spark, path, mutated) == "stale"


def test_write_ivf_table_one_file_per_cluster(spark, embeddings, tmp_path):
    """Small-files regression (r7): a partitionBy write from an
    N-partition frame fans out to N files in EVERY cluster dir
    (measured 8,161 files for a 91 MB / 256-cluster table — ~8k
    scheduling-overhead tasks before every unpruned scan). The
    repartition-by-cluster write keeps it to one file per cluster."""
    import glob

    from customkb_spark.embedding.index import assign_clusters, train_centroids

    cents = train_centroids(embeddings, "embedding", nlist=8)
    path = str(tmp_path / "ivf_files")
    S.write_ivf_table(
        assign_clusters(embeddings.repartition(16), cents, "embedding"), path
    )
    files = glob.glob(f"{path}/cluster_id=*/*.parquet")
    dirs = glob.glob(f"{path}/cluster_id=*")
    assert len(dirs) >= 2
    assert len(files) == len(dirs)  # exactly one file per cluster


def test_dir_fingerprint_shortcut_skips_content_scan(spark, embeddings, tmp_path, monkeypatch):
    """r8 (VERDICT r7 #4): with the vectors table saved from a parquet
    directory, an UNCHANGED listing loads the tier WITHOUT any
    content-fingerprint corpus scan; a changed listing falls back to
    the content check (correctly fresh when content is identical)."""
    from customkb_spark.embedding.auto import VectorIndexTier

    vdir = str(tmp_path / "vectors")
    embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    ).write.parquet(vdir)
    vectors = spark.read.parquet(vdir)
    cents = train_centroids(vectors, "vector", nlist=4)
    tier = VectorIndexTier(
        "ivf", vectors, "id", "vector",
        centroids=cents, indexed=assign_clusters(vectors, cents, "vector"),
    )
    p = str(tmp_path / "vindex")
    S.save_vector_index(tier, p, source_dir=vdir)
    meta = spark.read.parquet(f"{p}/meta").collect()[0]
    assert meta.src_fp == S.dir_fingerprint(vdir)

    # unchanged listing: content_fingerprint must never run
    def boom(*a, **k):
        raise AssertionError("content scan on an unchanged directory")

    monkeypatch.setattr(S, "content_fingerprint", boom)
    loaded = S.load_vector_index(spark, p, vectors, source_dir=vdir)
    assert loaded is not None and loaded.kind == "ivf"
    monkeypatch.undo()

    # changed listing (rewrite with identical content): falls back to
    # the content check and still loads fresh
    rewritten = str(tmp_path / "vectors2")
    spark.read.parquet(vdir).repartition(2).write.parquet(rewritten)
    vectors2 = spark.read.parquet(rewritten)
    loaded2 = S.load_vector_index(spark, p, vectors2, source_dir=rewritten)
    assert loaded2 is not None and loaded2.kind == "ivf"


def test_dir_fingerprint_none_for_missing_or_uri():
    assert S.dir_fingerprint(None) is None
    assert S.dir_fingerprint("/nonexistent/zzz") is None
    assert S.dir_fingerprint("s3://bucket/table") is None
