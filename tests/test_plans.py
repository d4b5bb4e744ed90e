"""Physical-plan regression tests — pin the plan shapes that matter at
100 TB (pushdown, broadcast strategies, top-k physical op, shuffle-free
fingerprints). A green result here means Catalyst still picks the plan
we designed for, not just that the numbers come out right.
"""

import contextlib
import io

from pyspark.sql import functions as F

import __spark_entry__ as E
from customkb_spark.operators import dedup as D
from customkb_spark.operators.range_join import context_range_join
from customkb_spark.ingest.pipeline import incremental_filter

SF = "/root/testdata/sf0.001"


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark):
    plan = explain_str(E.q_tpch_q1_pricing_summary(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # column pruning: untouched wide columns never reach the scan
    assert "l_comment" not in plan


def test_topk_is_take_ordered(spark):
    plan = explain_str(E.q_top_orders_by_price(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_vector_topk_is_take_ordered(spark):
    plan = explain_str(E.q_vector_topk_cosine(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_dim_join_broadcasts(spark):
    plan = explain_str(E.q_segment_order_stats(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan


def test_anti_join_shape(spark, documents):
    files = documents.select("doc_id", F.col("source").alias("path"))
    log = documents.limit(5).select(F.col("source").alias("file_path"))
    plan = explain_str(incremental_filter(files, log, "path"), "simple")
    assert "LeftAnti" in plan


def test_context_range_join_broadcasts_hits(spark, documents):
    from customkb_spark.ingest.chunker import chunk_fixed

    chunks = chunk_fixed(documents, "doc_id", "text", 80).withColumnRenamed(
        "doc_id", "sourcedoc"
    )
    hits = spark.createDataFrame([(0, 2, 0.9)], ["sourcedoc", "sid", "score"])
    plan = explain_str(
        context_range_join(hits, chunks, text_col="chunk_text"), "simple"
    )
    # equi key (sourcedoc) + BETWEEN residual, hit side broadcast: a
    # BroadcastHashJoin, never a shuffle of the corpus
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_signatures_partial_agg_exchange(spark, documents):
    # r9: signatures run over exploded shingle rows with a groupBy(id)
    # min — the plan must keep the map-side partial aggregate so the
    # ONE exchange carries ~a row per doc, never the shingle stream
    # (asserted on the formatted plan below)
    sigs = D.minhash_signatures(documents, "doc_id", "text", 16, 3)
    plan = explain_str(sigs, "formatted")
    tree = plan.split("\n\n", 1)[0]  # node tree, before the detail blocks
    assert tree.count("Exchange") == 1
    # partial + final HashAggregate pair around the exchange
    assert tree.count("HashAggregate") == 2
    assert "partial_min" in plan


def test_simhash_shuffle_free(spark, documents):
    plan = explain_str(D.simhash_fingerprints(documents), "simple")
    assert "Exchange" not in plan


def test_signature_tokenizer_not_inlined(spark, documents):
    # the regex tokenizer must appear in its own Project, not inside the
    # per-element minhash lambdas (the quadratic-eval regression)
    plan = explain_str(D.minhash_signatures(documents, "doc_id", "text", 4, 3), "extended")
    physical = plan.split("== Physical Plan ==", 1)[1]
    # one tokenizer eval per row: regexp appears in the shingle
    # projection only — lambda bodies reference the materialized array
    assert physical.count("regexp_extract_all") <= 2


def test_knn_join_broadcasts_queries(spark):
    plan = explain_str(E.q_knn_join(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivf_partition_pruning(spark, embeddings, tmp_path):
    """The IVF scale path: vectors written partitioned by cluster_id →
    an nprobe filter becomes partition pruning, not a data filter."""
    from customkb_spark.embedding.index import assign_clusters, train_centroids

    cents = train_centroids(embeddings, "embedding", nlist=4)
    path = str(tmp_path / "vec_part")
    assign_clusters(embeddings, cents, "embedding").write.partitionBy(
        "cluster_id"
    ).parquet(path)
    pruned = spark.read.parquet(path).filter(F.col("cluster_id").isin([0, 1]))
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:120]
    assert "cluster_id" in seg  # pruning happens at file listing, not scan


def test_bm25_batch_broadcasts_stats_slice(spark, documents):
    from customkb_spark.operators import bm25 as B

    postings = B.build_postings(documents, "doc_id", "text")
    stats = B.build_term_stats(postings, documents.count())
    qt = spark.createDataFrame([(0, "spark"), (1, "data")], ["qid", "term"])
    plan = explain_str(B.bm25_score_batch(postings, stats, qt, 10.0), "simple")
    # both the query terms and the stats slice join as broadcasts; the
    # corpus-wide stats table is never shuffled
    assert plan.count("BroadcastHashJoin") >= 2


def test_bm25_inline_stats_no_term_window(spark, documents):
    """term_stats=None derives df via map-side partial agg + broadcast
    join back. The plan must contain NO window and no sort-merge join:
    a per-term count window routes every matched posting through
    ≤|query| reducers (measured as a 2-partition straggler stage at
    sf1); broadcast keeps the matched rows where they are."""
    from customkb_spark.operators import bm25 as B

    postings = B.build_postings(documents, "doc_id", "text")
    inline = B.bm25_score(postings, None, ["data", "query"], 10.0, corpus_size=500)
    plan = explain_str(inline, "simple")
    assert "Window" not in plan and "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    qt = spark.createDataFrame([(0, "data"), (1, "query")], ["qid", "term"])
    batch = B.bm25_score_batch(postings, None, qt, 10.0, corpus_size=500)
    bplan = explain_str(batch, "simple")
    # the rank window partitions by qid (bounded output), never by term
    assert "SortMergeJoin" not in bplan and bplan.count("BroadcastHashJoin") >= 2
    # single corpus scan (r4): the tokenize+explode ran once, inside the
    # matched-postings checkpoint job — the scoring plan reads only the
    # checkpointed RDD, so NO parquet/corpus scan may appear downstream
    # (two would mean the df-stats and fan-out subtrees each re-scan)
    assert "ExistingRDD" in bplan and "Scan parquet" not in bplan


def test_cross_corpus_bench_side_broadcasts(spark):
    plan = explain_str(E.q_cross_corpus_shingle_join(spark, SF), "simple")
    # the benchmark slice joins as a broadcast: corpus shingles never
    # shuffle for the join (only the pair-count aggregation shuffles)
    assert "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle(spark):
    import datetime as dt

    from customkb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "a")], ["k", "ts", "v"]
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 9.0)], ["k", "ts", "price"]
    )
    plan = explain_str(asof_join(left, right, ["k"]), "simple")
    # union-scan form: exactly one Exchange (the window partitioning),
    # no join operator at all — the L×R blowup shape never appears
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_merge_small_chunks_single_shuffle_no_window(spark, documents):
    from customkb_spark.ingest.chunker import chunk_fixed, merge_small_chunks

    chunks = chunk_fixed(documents, "doc_id", "text", 80)
    plan = explain_str(merge_small_chunks(chunks, 100), "simple")
    # the per-doc fold is ONE groupBy exchange; no window, no Python
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "EvalPython" not in plan


def test_pq_adc_scoring_is_jvm_side(spark, embeddings):
    from customkb_spark.config import KBConfig
    from customkb_spark.embedding.auto import build_vector_index

    tier = build_vector_index(
        embeddings.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        ),
        KBConfig(ann_index="ivfpq", pq_nbits=6),
    )
    q = [0.1] * 64
    # ADC top-k over the (cached) encoded table: zip_with/aggregate
    # scoring plus the broadcast LUT join must introduce NO Python —
    # the only Arrow stage allowed is the cached encode itself
    from customkb_spark.embedding.pq import pq_topk

    plan = explain_str(pq_topk(tier.indexed, tier.pq, q, 10, 4, "ip"), "simple")
    after_cache = plan.split("InMemoryTableScan", 1)[0]
    assert "EvalPython" not in after_cache
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_batch_formatting_windows_are_partitioned(spark, documents):
    from customkb_spark.ingest.chunker import chunk_fixed
    from customkb_spark.plans.formatters import format_references_batch

    chunks = chunk_fixed(documents, "doc_id", "text", 80)
    ctx = chunks.select(
        F.lit(1).alias("qid"),
        F.col("doc_id").alias("sourcedoc"),
        "sid",
        F.col("chunk_text").alias("text"),
    )
    plan = explain_str(format_references_batch(ctx, "plain"), "formatted")
    # every window/sort partitions by (qid, sourcedoc) — nothing lands
    # on a single unpartitioned reducer
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_cobucketed_join_has_no_exchange(spark, documents):
    """The 100 TB layout story: chunks and vectors written BUCKETED BY
    the join key join with NO Exchange on either side — the shuffle
    was paid once at write time."""
    from customkb_spark.plans.bucketing import cobucketed_join, write_bucketed

    chunks = documents.select(
        F.col("doc_id").alias("id"), F.col("text").alias("originaltext")
    )
    vectors = documents.select(
        F.col("doc_id").alias("id"), F.array(F.lit(0.1), F.lit(0.2)).alias("vector")
    )
    import shutil

    for t in ("t_chunks_b", "t_vectors_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a previously-failed run can leave the managed location behind
        loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(f"{loc.removeprefix('file:')}/{t}", ignore_errors=True)
    write_bucketed(chunks, "t_chunks_b", "id", n_buckets=8)
    write_bucketed(vectors, "t_vectors_b", "id", n_buckets=8)
    # the test tables are tiny enough to auto-broadcast, which would
    # hide the bucketed shape — at real scale neither side broadcasts
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, "t_chunks_b", "t_vectors_b", "id")
        plan = explain_str(joined, "simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle either side
        assert joined.count() == documents.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_postings_tokenizer_single_eval(spark, documents):
    """Regression: plain explode makes Catalyst infer a not-empty
    filter below the tokenizer projection, re-evaluating the whole
    tokenizer per row (2x the index build cost at sf1). explode_outer
    keeps exactly ONE eval in the plan."""
    from customkb_spark.operators.bm25 import build_postings

    plan = explain_str(build_postings(documents, "doc_id", "text"), "formatted")
    assert plan.count("regexp_extract_all(lower") == 1


def test_pii_scrub_shuffle_free(spark, documents):
    """PII scrub is a pure projection — it must run at scan speed."""
    from customkb_spark.operators.curation import pii_scrub

    plan = explain_str(pii_scrub(documents), "simple")
    assert "Exchange" not in plan


def test_decontaminate_broadcasts_benchmark(spark, documents):
    """The benchmark n-gram set must broadcast (eval suites are tiny);
    the corpus side must never shuffle its exploded n-grams."""
    from customkb_spark.operators.curation import decontaminate

    bench = documents.filter(F.col("doc_id") % 41 == 0)
    plan = explain_str(decontaminate(documents, bench, n=5), "simple")
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_is_map_side_filter(spark, documents):
    """Mixing must stay a pure filter: no shuffle, no join, and the
    md5-threshold predicate sits above the scan."""
    from customkb_spark.operators.curation import stratified_sample

    out = stratified_sample(documents, "source", {"src0": 0.5}, "doc_id")
    plan = explain_str(out, "simple")
    assert "Exchange" not in plan and "Join" not in plan


def test_span_dedup_has_no_ranking_window(spark, documents):
    """Span dedup must stay aggregation-only: a row_number window over
    span_hash would funnel every occurrence of a hyper-common span into
    one task; partial aggregation is the skew-immune shape."""
    from customkb_spark.operators.curation import span_dedup_stats

    plan = explain_str(span_dedup_stats(documents), "simple")
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan or "SortAggregate" in plan


def test_vocab_and_surprisal_aggregation_shapes(spark, documents):
    """Vocabulary and surprisal must stay partial-aggregated — their
    only windows/sorts run over vocabulary-sized data, and the corpus
    explode never materializes a per-row window."""
    from customkb_spark.operators.curation import build_vocab, unigram_surprisal

    # rank_partitions=1 keeps the whole lineage in one plan (the
    # two-phase path eagerly checkpoints the aggregated vocab, so its
    # returned plan starts at the checkpoint RDD)
    vplan = explain_str(build_vocab(documents, rank_partitions=1), "simple")
    assert "HashAggregate" in vplan or "ObjectHashAggregate" in vplan
    splan = explain_str(unigram_surprisal(documents), "simple")
    assert "Window" not in splan


def test_vocab_rank_has_no_single_partition_exchange(spark, documents):
    """The two-phase global rank (VERDICT r4 #6): range-partitioned
    local ranks + broadcast offsets — a web-scale vocabulary must never
    route through a no-partition window's single reducer."""
    from customkb_spark.operators.curation import build_vocab

    plan = explain_str(build_vocab(documents, rank_partitions=32), "simple")
    assert "Exchange SinglePartition" not in plan
    # ...while the legacy single-window path (tiny inputs) does
    legacy = explain_str(build_vocab(documents, rank_partitions=1), "simple")
    assert "Exchange SinglePartition" in legacy


def test_bucketed_surprisal_broadcasts_model(spark, documents):
    """The hashed-LM scoring join must be a broadcast (constant 16^k
    model rows) — the token stream never shuffles on a vocabulary key
    (VERDICT r4 #5)."""
    from customkb_spark.operators.curation import unigram_surprisal

    plan = explain_str(unigram_surprisal(documents, n_buckets_hex=3), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_spans_aggregation_only(spark, documents):
    from customkb_spark.operators.curation import boilerplate_spans

    plan = explain_str(boilerplate_spans(documents), "simple")
    assert "Window" not in plan


def test_citations_plan_jvm_only_and_pruned(spark):
    """The citations regex tier must stay whole-stage-codegen JVM work:
    no Python evaluation node, and the documents scan pruned to the two
    columns the extraction touches."""
    from customkb_spark.operators.citations import extract_citations

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = explain_str(extract_citations(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "lang" not in plan.split("ReadSchema", 1)[1][:200]  # pruned
    assert "source" not in plan.split("ReadSchema", 1)[1][:200]


def test_bucketed_groupby_no_exchange(spark, documents):
    """The co-location claim, proven on the plan: a groupBy on the
    bucket column over the bucketed chunks table plans with NO
    Exchange; the same aggregate over the plain parquet table needs
    one. (plans/layout.py — the 100 TB layout story.)"""
    from customkb_spark.ingest.pipeline import documents_to_chunks
    from customkb_spark.plans import layout as L

    chunks = documents_to_chunks(documents.limit(50), chunk_size=200)
    L.drop_table(spark, "t_bucketed_chunks")
    try:
        L.write_bucketed(chunks, "t_bucketed_chunks", "sourcedoc", n_buckets=4)
        bucketed = L.read_bucketed(spark, "t_bucketed_chunks")
        plan_b = explain_str(bucketed.groupBy("sourcedoc").count(), "simple")
        assert "Exchange" not in plan_b
        assert "SelectedBucketsCount" in explain_str(
            bucketed.groupBy("sourcedoc").count()
        ) or "Bucketed: true" in explain_str(bucketed.groupBy("sourcedoc").count())
        # control: the un-bucketed twin shuffles
        plan_p = explain_str(chunks.groupBy("sourcedoc").count(), "simple")
        assert "Exchange" in plan_p
        # window keyed on (sourcedoc) also plans exchange-free
        from pyspark.sql import Window

        w = Window.partitionBy("sourcedoc").orderBy("sid")
        plan_w = explain_str(bucketed.withColumn("rn", F.row_number().over(w)), "simple")
        assert "Exchange" not in plan_w
    finally:
        L.drop_table(spark, "t_bucketed_chunks")


def test_substring_spans_plan_shape(spark, documents):
    """ExactSubstr spans: the window-hash shuffle must carry partial
    aggregation (hot boilerplate windows collapse map-side), every
    Window must be partitioned by the doc id (never global), and the
    tokenizer must be materialized once per scan, not re-run per
    window element."""
    from customkb_spark.operators.dedup import duplicated_substring_spans

    plan = explain_str(duplicated_substring_spans(documents, k=8), "simple")
    assert "partial_count" in plan and "partial_min" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line.split("windowspecdefinition")[1][:40]


def test_gopher_repetition_plan_shape(spark, documents):
    """Full Gopher battery: every window is (doc-, n-, gram-)scoped —
    never global — and the dup-mask pivot aggregates carry partial
    aggregation."""
    from customkb_spark.operators.curation import gopher_repetition

    plan = explain_str(gopher_repetition(documents), "simple")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line.split("windowspecdefinition")[1][:60]
    assert "partial_" in plan


def test_line_dedup_partial_agg_owners_no_python(spark, documents):
    from customkb_spark.operators import curation as CUq

    plan = explain_str(CUq.line_dedup(documents), "simple")
    # owner resolution is a partial-aggregated groupBy on the line hash
    # (hot boilerplate lines collapse map-side), decided by a JOIN (AQE
    # skew-splittable: owner side unique per key), never a ranking
    # window over the hash; everything stays JVM-side
    assert "partial_min" in plan
    assert "Python" not in plan
    # reassembly is sort_array(collect_list) per doc, not a window
    assert "Window" not in plan
