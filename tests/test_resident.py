"""In-memory serving index (plans/resident.py): the resident path
of ``KnowledgeBase.query`` must return exactly what the Spark path
returns (fused ids, order, scores and the formatted context), run no
Spark job once loaded, see every write, and hand its fused rows to
``plans.hybrid.retrieve_context_hits`` (the hook perfbench's output
check wraps)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from customkb_spark.config import KBConfig
from customkb_spark.kb import KnowledgeBase
from customkb_spark.plans import hybrid as HY
from customkb_spark.plans import resident as RI

TOP_K = 5
BASE = KBConfig(query_top_k=TOP_K, ann_index="flat")
DUP_TEXT = "quartz lantern meadow quartz harbor lantern ember"


def _words(rng, n, taken):
    out = []
    while len(out) < n:
        w = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), rng.integers(3, 9)))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A Zipf-worded KB (perfbench's corpus shape, smaller): three
    documents per source path, two documents with identical text (so
    duplicate vectors and identical BM25 documents), and a
    ``primary_category`` column. Returns (kb_dir, probe queries, resident
    KB, Spark-path KB) with both indexes built."""
    rng = np.random.default_rng(7)
    vocab = np.array(_words(rng, 300, set()))
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    cdf = np.cumsum(p / p.sum())

    def draw(n):
        return " ".join(vocab[np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)])

    rows = [(i, draw(90), f"src/f{i % 8}.txt") for i in range(24)]
    rows += [(100, DUP_TEXT, "dup/a.txt"), (101, DUP_TEXT, "dup/b.txt")]
    kb_dir = str(tmp_path_factory.mktemp("resident") / "kb")
    kb = KnowledgeBase(spark, kb_dir, KBConfig(ann_index="flat"))
    kb.database(spark.createDataFrame(rows, ["doc_id", "text", "source"]))
    chunks = spark.read.parquet(f"{kb_dir}/chunks")
    cats = F.element_at(F.array(*map(F.lit, ("alpha", "beta", "gamma"))), F.col("sid") % 3 + 1)
    chunks.withColumn("primary_category", cats).localCheckpoint().write.mode(
        "overwrite"
    ).parquet(f"{kb_dir}/chunks")
    kb.embed()
    kb.build_bm25()
    probes = [draw(5) for _ in range(10)]
    res = KnowledgeBase(spark, kb_dir, BASE)
    spk = KnowledgeBase(spark, kb_dir, replace(BASE, index_memory_budget_mb=0))
    res._build_index()
    spk._build_index()
    assert res._resident is not None and spk._resident is None
    return kb_dir, probes, res, spk


def _random_queries(n=50, seed=11):
    """Seeded queries of every shape: corpus and unknown words, single
    terms, repeated and upper-cased terms, stopwords, punctuation."""
    rng = np.random.default_rng(seed)
    pool = DUP_TEXT.split() + ["the", "of", "and", "a", "Quartz", "LANTERN", "x", "3.14"]
    out = []
    for _ in range(n):
        words = list(rng.choice(pool, rng.integers(1, 6)))
        words += _words(rng, int(rng.integers(0, 3)), set())
        out.append(" ".join(words) + rng.choice(["", "?", "!", " state-of-the-art"]))
    return out


def _pair(corpus, **kw):
    """The corpus's (resident KB, Spark-path KB) with query knobs ``kw``
    (none of them changes the built indexes)."""
    _, _, res, spk = corpus
    res.cfg = replace(BASE, **kw)
    spk.cfg = replace(BASE, index_memory_budget_mb=0, **kw)
    return res, spk


def _fused(res, spk, queries):
    """[(resident fused rows, Spark-path fused rows)] per query; the
    Spark side runs its per-query plans from a few threads at once."""

    def resident(q):
        text, vec = HY.embed_query(q, res.cfg)
        terms = HY.query_terms(text, res.cfg.bm25_min_token_length, res.cfg.language)
        return [(r["id"], r["score"]) for r in res._resident.search(terms, vec, res.cfg)]

    def spark_path(q):
        return [(r["id"], r["score"]) for r in HY.hybrid_search(spk._index, q, cfg=spk.cfg).collect()]

    with ThreadPoolExecutor(4) as pool:
        want = list(pool.map(spark_path, queries))
    return list(zip(map(resident, queries), want))


@pytest.mark.parametrize("method", ["rrf", "weighted"])
def test_resident_fused_hits_match_spark(spark, corpus, method):
    probes = corpus[1]
    res, spk = _pair(corpus, hybrid_fusion_method=method)
    queries = probes + _random_queries()
    for q, (got, want) in zip(queries, _fused(res, spk, queries)):
        assert got == want, q


@pytest.mark.parametrize("method", ["rrf", "weighted"])
def test_resident_context_matches_spark(spark, corpus, method):
    """Formatted context, with and without a category filter, on a KB
    whose source paths each hold several documents."""
    kb_dir, probes, _, _ = corpus
    res, spk = _pair(corpus, hybrid_fusion_method=method)
    calls = [
        (q, fmt, cats)
        for q in probes[:3] + _random_queries(2, seed=3) + [DUP_TEXT]
        for fmt, cats in (("plain", None), ("markdown", ["alpha", "gamma"]))
    ]

    def spark_path(call):
        q, fmt, cats = call
        return spk.query(q, fmt=fmt, categories=cats, log=False)

    with ThreadPoolExecutor(4) as pool:
        want = list(pool.map(spark_path, calls))
    for (q, fmt, cats), w in zip(calls, want):
        assert res.query(q, fmt=fmt, categories=cats, log=False) == w, (q, fmt, cats)
    per_path = spark.read.parquet(f"{kb_dir}/chunks").groupBy("sourcedoc").agg(
        F.countDistinct("doc_id").alias("n")
    )
    assert per_path.filter("n = 3").count() == 8


@pytest.mark.parametrize("method", ["rrf", "weighted"])
def test_resident_ties_duplicate_vectors_and_bm25_docs(spark, corpus, method):
    """Two documents with the same text tie in both rankers: each
    ranker orders them by id, so they lead the fused list in id order
    (weighted fusion keeps their scores equal; RRF's ranks split them)."""
    kb_dir = corpus[0]
    res, spk = _pair(corpus, hybrid_fusion_method=method)
    [(got, want)] = _fused(res, spk, [DUP_TEXT])
    assert got == want
    chunks = spark.read.parquet(f"{kb_dir}/chunks").filter(F.col("doc_id").isin(100, 101))
    dup_ids = sorted(r["id"] for r in chunks.filter("sid = 0").collect())
    assert [i for i, _ in got[:2]] == dup_ids
    assert got[0][1] == got[1][1] if method == "weighted" else got[0][1] > got[1][1]


def test_round6_is_sparks_half_up_round(spark):
    ties = [0.1234565, 5e-07, 0.5000005, 1.0000005, -0.1234565, 12.3456785, 0.0327865, 2.5e-07]
    rng = np.random.default_rng(5)
    vals = ties + list(np.round(rng.random(2000), 7)) + list(rng.random(2000) * 30)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    want = [r[0] for r in df.select(F.round("x", 6)).collect()]
    assert RI.round6(np.array(vals)).tolist() == want
    assert np.round(0.1234565, 6) != RI.round6(0.1234565)  # half-even differs


def test_resident_score_at_rounding_tie(spark, corpus):
    """Weighted fusion where the top hit scores exactly the vector
    weight (no BM25 match): 0.1234565 rounds HALF_UP to 0.123457 on
    both paths."""
    res, spk = _pair(corpus, hybrid_fusion_method="weighted", vector_weight=0.1234565)
    [(got, want)] = _fused(res, spk, ["zzzunmatched qqqnothing"])
    assert got == want and got[0][1] == 0.123457


def test_resident_query_runs_no_spark_job(spark, corpus):
    probes = corpus[1]
    kb, _ = _pair(corpus)
    kb.query(probes[0])
    sc = spark.sparkContext
    sc.setJobGroup("resident-zero-jobs", "resident serving")
    try:
        for q in probes[:3] + probes[:1]:  # new and cached query embeddings
            assert kb.query(q)
        jobs = sc.statusTracker().getJobIdsForGroup("resident-zero-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_resident_serves_appends_and_force_reingest(spark, tmp_path):
    kb = KnowledgeBase(spark, str(tmp_path / "kbf"), KBConfig(query_top_k=TOP_K))
    docs = [(i, f"common words about spark number {i} here", f"s/{i}.txt") for i in range(6)]
    kb.database(spark.createDataFrame(docs, ["doc_id", "text", "source"]))
    kb.embed()
    assert "zebrafruit" not in kb.query("spark number", log=False)
    assert kb._resident is not None
    new = [(50, "zebrafruit orchard appears only here", "s/new.txt")]
    kb.database(spark.createDataFrame(new, ["doc_id", "text", "source"]))
    kb.embed()
    assert "zebrafruit orchard" in kb.query("zebrafruit orchard", log=False)
    changed = [(50, "kiwiberry grove replaced the old text", "s/new.txt")]
    kb.database(spark.createDataFrame(changed, ["doc_id", "text", "source"]), force=True)
    kb.embed()
    assert "zebrafruit" not in kb.query("zebrafruit orchard", log=False)
    assert "kiwiberry grove" in kb.query("kiwiberry grove", log=False)


def test_kb_query_hands_fused_rows_to_retrieve_context_hits(spark, corpus, monkeypatch):
    """perfbench's output check wraps the module attribute
    ``plans.hybrid.retrieve_context_hits``; the served path must call it
    through that attribute with the k fused rows."""
    probes = corpus[1]
    kb, _ = _pair(corpus)
    calls = []
    real = HY.retrieve_context_hits

    def spy(index, fused_rows, *args, **kwargs):
        calls.append(list(fused_rows))
        return real(index, fused_rows, *args, **kwargs)

    monkeypatch.setattr(HY, "retrieve_context_hits", spy)
    assert kb.query(probes[1], log=False)
    assert len(calls) == 1 and len(calls[0]) == TOP_K
    scores = [r["score"] for r in calls[0]]
    assert all(isinstance(r["id"], int) for r in calls[0])
    assert scores == sorted(scores, reverse=True)


def test_verify_reports_resident_index_over_budget(spark, corpus):
    kb_dir = corpus[0]
    res, spk = _pair(corpus)
    assert spk.verify()["resident_index"] == "over_budget"
    state = res.verify()["resident_index"]
    n = spark.read.parquet(f"{kb_dir}/chunks").count()
    assert state["state"] == "resident" and state["rows"] == n and state["bytes"] > 0
