"""KnowledgeBase facade: database→embed→query lifecycle, incremental
ingest, verify stats, answer stub."""

from pyspark.sql import functions as F

from customkb_spark.config import KBConfig
from customkb_spark.kb import KnowledgeBase
from customkb_spark.plans.answer import ExtractiveStubLLM, build_prompt, generate_answer


def _kb(spark, tmp_path, documents):
    kb = KnowledgeBase(spark, str(tmp_path / "kb1"), KBConfig(query_top_k=5))
    n = kb.database(documents.limit(20))
    assert n > 0
    assert kb.embed() > 0
    return kb


def test_lifecycle_and_query(spark, tmp_path, documents):
    kb = _kb(spark, tmp_path, documents)
    ctx = kb.query("spark data query table", context_only=True, log=False)
    assert isinstance(ctx, str) and len(ctx) > 0
    stats = kb.verify()
    assert stats["chunks"] > 0 and stats["vectors"] > 0
    assert stats["pending_embed"] == 0


def test_incremental_database_skips_seen(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"text number {i} about spark", f"file{i}.txt") for i in range(10)],
        ["doc_id", "text", "source"],
    )
    kb = KnowledgeBase(spark, str(tmp_path / "kb2"), KBConfig(query_top_k=5))
    assert kb.database(docs) > 0
    assert kb.embed() > 0
    assert kb.database(docs) == 0  # all sources seen
    assert kb.embed() == 0  # nothing pending
    more = spark.createDataFrame(
        [(100, "a brand new document", "file100.txt")], ["doc_id", "text", "source"]
    )
    assert kb.database(more) > 0  # new source flows through
    assert kb.embed() > 0


def test_answer_stub_extractive(spark, tmp_path, documents):
    kb = _kb(spark, tmp_path, documents)
    ans = kb.query("spark data query", context_only=False, log=False)
    assert isinstance(ans, str) and len(ans) > 0


def test_prompt_template_and_stub_determinism():
    sys_p, user_p = build_prompt("what is spark", "spark is an engine\nother line")
    assert "what is spark" in user_p and "spark is an engine" in user_p
    a1 = generate_answer("what is spark", "spark is an engine\nnoise line")
    a2 = generate_answer("what is spark", "spark is an engine\nnoise line")
    assert a1 == a2
    assert "spark" in a1


def test_query_log_written(spark, tmp_path, documents):
    kb = _kb(spark, tmp_path, documents)
    kb.query("spark data", log=True)
    log = spark.read.parquet(str(tmp_path / "kb1" / "query_log"))
    assert log.count() == 1


def test_maintenance_optimize_and_stats(spark, tmp_path, documents):
    from customkb_spark.plans.maintenance import optimize_chunks, table_stats

    kb = _kb(spark, tmp_path, documents)
    before = kb.verify()
    optimize_chunks(spark, str(tmp_path / "kb1" / "chunks"), target_file_mb=64)
    after = spark.read.parquet(str(tmp_path / "kb1" / "chunks"))
    assert after.count() == before["chunks"]
    stats = {r["table"]: r for r in table_stats(spark, str(tmp_path / "kb1")).collect()}
    assert stats["chunks"]["n_rows"] == before["chunks"]
    assert stats["vectors"]["n_rows"] == before["vectors"]


def test_force_reingest_replaces_only_target_paths(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "original text one", "f1.txt"), (2, "original text two", "f2.txt")],
        ["doc_id", "text", "source"],
    )
    kb = KnowledgeBase(spark, str(tmp_path / "kb3"), KBConfig(query_top_k=5))
    kb.database(docs)
    kb.embed()
    v_before = kb.verify()

    changed = spark.createDataFrame(
        [(1, "completely rewritten text for doc one", "f1.txt")],
        ["doc_id", "text", "source"],
    )
    assert kb.database(changed, force=True) > 0
    chunks = spark.read.parquet(str(tmp_path / "kb3" / "chunks"))
    # f2 untouched, f1 replaced (no duplicate rows for f1)
    texts = {r["sourcedoc"]: r["originaltext"] for r in chunks.collect()}
    assert "rewritten" in texts["f1.txt"]
    assert texts["f2.txt"] == "original text two"
    assert chunks.filter("sourcedoc = 'f1.txt'").count() == 1
    # stale vector purged → pending embed for the new text
    assert kb.verify()["pending_embed"] > 0
    assert kb.embed() > 0
    assert kb.verify()["pending_embed"] == 0
    assert kb.verify()["vectors"] == v_before["vectors"]


def test_embed_cache_read_through(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"cached text number {i}", f"c{i}.txt") for i in range(5)],
        ["doc_id", "text", "source"],
    )
    kb = KnowledgeBase(spark, str(tmp_path / "kb4"), KBConfig(query_top_k=5))
    kb.database(docs)
    assert kb.embed() > 0
    cache_path = str(tmp_path / "kb4" / "emb_cache")
    n_cache = spark.read.parquet(cache_path).count()
    assert n_cache > 0

    # force re-ingest the same docs: vectors purged, but every text is
    # a cache hit → cache table unchanged, vectors restored
    kb.database(docs, force=True)
    assert kb.verify()["pending_embed"] > 0
    assert kb.embed() > 0
    assert spark.read.parquet(cache_path).count() == n_cache
    assert kb.verify()["pending_embed"] == 0


def test_kb_query_batch_surface(spark, tmp_path):
    from customkb_spark.config import KBConfig
    from customkb_spark.kb import KnowledgeBase

    kb = KnowledgeBase(
        spark, str(tmp_path / "kbq"), KBConfig(vector_dimensions=8, query_top_k=4)
    )
    docs = spark.createDataFrame(
        [(i, f"spark data document {i} retrieval text " * 4, f"/s/{i}.md") for i in range(6)],
        ["doc_id", "text", "source"],
    )
    kb.database(docs)
    kb.embed()
    queries = spark.createDataFrame(
        [(1, "spark data"), (2, "retrieval text")], ["qid", "query_text"]
    )
    ctx = kb.query_batch(queries, context_only=True, fmt="markdown").collect()
    assert {r["qid"] for r in ctx} == {1, 2}
    assert all(r["reference_string"].startswith("### ") for r in ctx)
    full = kb.query_batch(queries, context_only=False).collect()
    assert all(r["answer"] for r in full)


def test_verify_reports_index_freshness(spark, tmp_path, documents):
    from customkb_spark.config import KBConfig
    from customkb_spark.kb import KnowledgeBase

    kb = KnowledgeBase(spark, str(tmp_path / "kbv"), KBConfig(query_top_k=5))
    assert kb.database(documents.limit(10)) > 0
    v = kb.verify()
    assert v["bm25_index"] == "absent" and v["vector_index"] == "absent"
    kb.build_bm25()
    assert kb.verify()["bm25_index"] == "fresh"
    # language change makes the persisted postings the wrong index
    kb.cfg.language = "de"
    assert kb.verify()["bm25_index"] == "stale"
    # the in-memory serving index is loaded by the first query
    assert v["resident_index"] == "not_loaded"
    kb.embed()
    kb.query("spark data", log=False)
    resident = kb.verify()["resident_index"]
    assert resident["state"] == "resident" and resident["rows"] == v["chunks"]


def test_column_profile_hll_tier(spark):
    """Web-scale profile tier: approx_count_distinct sketches fold into
    the single-pass aggregation (no Expand / no per-column distinct
    shuffles) and land within the HLL rsd of the exact counts."""
    from customkb_spark.plans.maintenance import column_profile

    df = spark.range(5000).selectExpr(
        "id", "id % 97 AS mod97", "CAST(id % 7 AS STRING) AS s7"
    )
    exact = {r["column"]: r for r in column_profile(df).collect()}
    approx = {r["column"]: r for r in column_profile(df, approx=True, rsd=0.02).collect()}
    assert set(exact) == set(approx) == {"id", "mod97", "s7"}
    for c in exact:
        e, a = exact[c], approx[c]
        assert a["n_nulls"] == e["n_nulls"]
        assert (a["min_value"], a["max_value"]) == (e["min_value"], e["max_value"])
        # HLL++ at rsd=0.02: allow 5 sigma
        assert abs(a["n_distinct"] - e["n_distinct"]) <= max(3, 0.1 * e["n_distinct"])

    # plan shape: the exact tier needs Expand for multi-distinct; the
    # HLL tier must not (sketches are plain partial aggregates)
    aggs_exact = [
        F.count_distinct(F.col(c)).alias(c) for c in ("id", "mod97", "s7")
    ]
    aggs_hll = [
        F.approx_count_distinct(F.col(c), 0.02).alias(c)
        for c in ("id", "mod97", "s7")
    ]
    plan_exact = df.agg(*aggs_exact)._jdf.queryExecution().executedPlan().toString()
    plan_hll = df.agg(*aggs_hll)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan_exact
    assert "Expand" not in plan_hll


def test_build_bm25_filtered_focused_index(spark, tmp_path):
    """rebuild_bm25_filtered parity (reference scripts/
    rebuild_bm25_filtered.py): keywords OR-match text or sourcedoc,
    include/exclude AND onto the slice; corpus stats are recomputed
    over the SLICE and the focused tables drive a working
    HybridIndex."""
    docs = spark.createDataFrame(
        [
            (1, "spark shuffle partitions tuning guide", "docs/spark/a.txt"),
            (2, "spark join strategies broadcast hints", "docs/spark/b.txt"),
            (3, "gardening tips for tomato seedlings", "docs/garden/c.txt"),
            (4, "spark streaming watermark semantics", "docs/archive/d.txt"),
        ],
        ["doc_id", "text", "source"],
    )
    kb = KnowledgeBase(spark, str(tmp_path / "kbf"), KBConfig(query_top_k=5))
    kb.database(docs)
    kb.embed()
    full = kb.build_bm25()

    out = kb.build_bm25_filtered(
        keywords=["spark"], exclude=["archive"], name="focus"
    )
    assert out["n_chunks"] == 2  # docs 1,2: spark-matching, not archived
    assert 0 < out["n_terms"] < full["n_terms"]

    postings, stats, (n, avgdl) = kb.load_bm25_filtered("focus")
    assert n == 2 and avgdl > 0
    ids = {r["id"] for r in postings.select("id").distinct().collect()}
    chunks = spark.read.parquet(str(tmp_path / "kbf" / "chunks"))
    slice_ids = {
        r["id"]
        for r in chunks.filter("sourcedoc LIKE '%spark%'").select("id").collect()
    }
    assert ids <= slice_ids and len(ids) == 2

    # the focused tables drive retrieval end-to-end
    from customkb_spark.plans.hybrid import HybridIndex, hybrid_search

    vectors = spark.read.parquet(str(tmp_path / "kbf" / "vectors"))
    idx = HybridIndex.build(
        chunks, vectors, postings=postings, term_stats=stats, corpus=(n, avgdl)
    )
    hits = hybrid_search(idx, "spark shuffle")
    assert hits.count() > 0


def test_build_bm25_filtered_include_patterns(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "alpha text content", "a/one.txt"),
            (2, "beta text content", "b/two.txt"),
            (3, "gamma text content", "a/three.txt"),
        ],
        ["doc_id", "text", "source"],
    )
    kb = KnowledgeBase(spark, str(tmp_path / "kbi"), KBConfig())
    kb.database(docs)
    out = kb.build_bm25_filtered(include=["a/"], name="inc")
    assert out["n_chunks"] == 2
