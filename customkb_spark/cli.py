"""CLI — the reference's command surface (customkb.py:191,545-629) over
the Spark engine.

    python -m customkb_spark.cli database <kb_dir> --files 'docs/**/*.md'
    python -m customkb_spark.cli database <kb_dir> --docs-parquet documents.parquet
    python -m customkb_spark.cli embed <kb_dir>
    python -m customkb_spark.cli query <kb_dir> "how do i ..." --format markdown
    python -m customkb_spark.cli verify <kb_dir>
    python -m customkb_spark.cli optimize <kb_dir>

Config resolution mirrors the reference (env > cfg > defaults,
config/config_manager.py:17-22): pass ``--config path.cfg`` or set
``CUSTOMKB_*`` environment variables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F


def _spark():
    from customkb_spark.session import get_spark

    return get_spark("customkb_spark")


def _kb(args):
    from customkb_spark.config import KBConfig
    from customkb_spark.kb import KnowledgeBase

    # explicit --config wins; otherwise the KB's own persisted settings
    # (<kb_dir>/kb.cfg, written by e.g. `database -l de`) — so a flag
    # chosen at ingest time still governs later bm25/query processes
    path = getattr(args, "config", None) or os.path.join(args.kb_dir, "kb.cfg")
    cfg = KBConfig.from_file(path)
    return KnowledgeBase(_spark(), args.kb_dir, cfg)


def _persist_kb_settings(kb_dir: str, **settings) -> None:
    """Record per-KB config overrides in <kb_dir>/kb.cfg (the
    reference's per-KB .cfg file, config_manager.py) so every later
    command on this KB sees them without re-passing flags."""
    import configparser

    os.makedirs(kb_dir, exist_ok=True)
    path = os.path.join(kb_dir, "kb.cfg")
    parser = configparser.ConfigParser()
    parser.read(path)
    for k, v in settings.items():
        parser["DEFAULT"][k] = str(v)
    with open(path, "w") as f:
        parser.write(f)


def _docs_from_files(spark, pattern: str, max_file_size_mb: float):
    """Text files → documents DataFrame (S1-S5 front end); files over
    ``max_file_size_mb`` are skipped."""
    from customkb_spark.sources.files import read_text_files

    files = read_text_files(spark, pattern, max_file_size_mb)
    # doc_id < 2^41 keeps the chunk-id derivation (doc_id · 2^22 + sid,
    # ingest/pipeline.py) inside int64. Collision odds at this width are
    # ~N²/2^42 (≈0.2 expected collisions at 1M files); beyond that,
    # assign ids from an ingestion-log sequence instead of a path hash.
    return files.select(
        F.pmod(F.xxhash64("path"), F.lit(1 << 41)).alias("doc_id"),
        F.col("text"),
        F.col("path").alias("source"),
    )


def cmd_database(args) -> int:
    kb = _kb(args)
    overrides = {}
    if args.language:
        kb.cfg.language = args.language
        overrides["language"] = args.language
    if args.detect_language:
        kb.cfg.detect_language = True
        overrides["detect_language"] = True
    if args.docs_parquet:
        docs = kb.spark.read.parquet(args.docs_parquet)
    elif args.files:
        docs = _docs_from_files(kb.spark, args.files, kb.cfg.max_file_size_mb)
    else:
        print("either --docs-parquet or --files is required", file=sys.stderr)
        return 2
    # persist only after argument validation: a failed invocation must
    # not leave a half-created KB dir with sticky settings behind
    if overrides:
        _persist_kb_settings(args.kb_dir, **overrides)
    n = kb.database(docs, force=args.force)
    print(f"ingested {n} chunks into {args.kb_dir}")
    return 0


def cmd_embed(args) -> int:
    import shutil

    kb = _kb(args)
    backups: list[tuple[str, str]] = []
    if getattr(args, "reset_database", False):
        # reference embed -r resets status flags only — vectors/index
        # are re-derived, so here they're renamed ASIDE (not deleted):
        # a mid-embed failure (quota, network) restores them instead of
        # leaving the KB with no vectors at all. emb_cache is KEPT — it
        # is keyed by content+model, its entries cannot go stale, and
        # deleting it forfeits all paid-embedding reuse (--purge-cache
        # opts into dropping it, e.g. after a provider-side bug).
        reset_tables = ["vectors", "vindex"]
        if getattr(args, "purge_cache", False):
            reset_tables.append("emb_cache")
        for table in reset_tables:
            path = os.path.join(args.kb_dir, table)
            if os.path.isdir(path):
                bak = path + ".reset-bak"
                if os.path.isdir(bak):
                    shutil.rmtree(bak)
                os.rename(path, bak)
                backups.append((path, bak))
    try:
        n = kb.embed()
    except BaseException:
        for path, bak in backups:
            # anything at `path` is the FAILED run's partial output
            # (Hadoop's committer creates the dir at job setup, so a
            # bare isdir check would strand the intact backup behind
            # an empty/torn table that later reads die on)
            if os.path.isdir(path):
                shutil.rmtree(path)
            os.rename(bak, path)
        raise
    for _, bak in backups:
        shutil.rmtree(bak, ignore_errors=True)
    print(f"embedded {n} vectors")
    return 0


def cmd_serve_http(args) -> int:
    """Reference scripts/retrieve_api.py as a subcommand: run the
    dep-gated HTTP retrieval shim for one KB."""
    from customkb_spark.exceptions import CustomKBError
    from customkb_spark.http_api import serve

    try:
        serve(
            args.kb_dir,
            host=args.host,
            port=args.port,
            max_chars=args.max_chars,
            top_k=args.top_k,
        )
    except (NotImplementedError, ImportError, CustomKBError) as e:
        print(f"serve-http: {e}", file=sys.stderr)
        return 2
    return 0


def cmd_query(args) -> int:
    kb = _kb(args)
    if args.top_k is not None:
        kb.cfg.query_top_k = args.top_k
    if args.context_scope is not None:
        kb.cfg.query_context_scope = args.context_scope
    question = args.question
    if args.query_file:
        try:
            with open(args.query_file, encoding="utf-8", errors="replace") as f:
                question = f.read().strip()
        except OSError as e:
            print(f"query: cannot read --query-file: {e}", file=sys.stderr)
            return 2
    if not question:
        print("query: empty question (give QUESTION or --query-file)", file=sys.stderr)
        return 2
    # fail on unreadable context files BEFORE the retrieval pipeline runs
    for path in args.context_files or []:
        if not os.path.isfile(path):
            print(f"query: context file not found: {path}", file=sys.stderr)
            return 2
    try:
        out = kb.query(
            question,
            context_only=args.context_only,
            fmt=args.format,
            categories=args.category or None,
            template=args.prompt_template,
            model=args.model,
            role=args.role or None,
            temperature=args.temperature,
            max_tokens=args.max_tokens,
            context_files=args.context_files,
        )
    except ValueError as e:
        # sanitize_query_text contract (oversized / control-chars-only
        # query): a clear CLI error, not a traceback — mapped through
        # the typed hierarchy so the message shape is uniform
        from customkb_spark.exceptions import handle_exception

        err = handle_exception(e, raise_custom=False)
        print(f"query: {err}", file=sys.stderr)
        return 2
    print(out)
    return 0


def cmd_verify(args) -> int:
    kb = _kb(args)
    print(json.dumps(kb.verify(), indent=2))
    return 0


def cmd_doctor(args) -> int:
    """Runtime/environment health report — the reference's
    scripts/diagnose_crashes.py re-scoped to what matters for a Spark
    session: engine versions, resource conf (cores, memory, shuffle
    partitions, AQE, Arrow), GPU scheduling conf, local-dir disk
    headroom, and host memory. Dependency-free (no psutil): /proc +
    shutil only, each section degrading to null off-Linux."""
    import shutil

    spark = _spark()
    conf = spark.conf
    sc = spark.sparkContext

    def _get(key, default=None):
        try:
            return conf.get(key)
        except Exception:
            return default

    local_dir = _get("spark.local.dir", "/tmp")
    disk = shutil.disk_usage(local_dir.split(",")[0])
    meminfo = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemTotal", "MemAvailable", "SwapTotal", "SwapFree"):
                    meminfo[k] = int(v.strip().split()[0]) * 1024
    except OSError:
        pass

    import pyarrow
    import pyspark

    report = {
        "versions": {
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
            "java": sc._jvm.System.getProperty("java.version"),
        },
        "session": {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": _get("spark.sql.shuffle.partitions"),
            "aqe": _get("spark.sql.adaptive.enabled"),
            "arrow": _get("spark.sql.execution.arrow.pyspark.enabled"),
            "driver_memory": _get("spark.driver.memory"),
            "max_partition_bytes": _get("spark.sql.files.maxPartitionBytes"),
        },
        "gpu": {
            "task_gpu_amount": _get("spark.task.resource.gpu.amount"),
            "executor_gpu_amount": _get("spark.executor.resource.gpu.amount"),
            "discovery_script": _get(
                "spark.executor.resource.gpu.discoveryScript"
            ),
        },
        "disk": {
            "local_dir": local_dir,
            "free_gb": round(disk.free / 1e9, 1),
            "total_gb": round(disk.total / 1e9, 1),
        },
        "memory": {
            "host_total_gb": round(meminfo.get("MemTotal", 0) / 1e9, 1) or None,
            "host_available_gb": round(meminfo.get("MemAvailable", 0) / 1e9, 1)
            or None,
            "swap_used_gb": round(
                (meminfo.get("SwapTotal", 0) - meminfo.get("SwapFree", 0)) / 1e9, 1
            )
            if "SwapTotal" in meminfo
            else None,
        },
        "warnings": [],
    }
    if disk.free < 10e9:
        report["warnings"].append(
            f"<10 GB free under {local_dir}: shuffle spill will fail first"
        )
    if meminfo.get("MemAvailable", 1 << 62) < 2e9:
        report["warnings"].append("<2 GB host memory available")
    if _get("spark.sql.adaptive.enabled") != "true":
        report["warnings"].append("AQE disabled: skew joins won't re-plan")
    print(json.dumps(report, indent=2))
    return 0


def cmd_optimize(args) -> int:
    from customkb_spark.plans.maintenance import (
        MEMORY_TIERS,
        optimize_chunks,
        suggest_tuning,
        table_stats,
    )

    if getattr(args, "show_tiers", False):
        # reference optimize -s: display every memory tier's settings
        tiers = {
            tier: suggest_tuning((0 if i == 0 else MEMORY_TIERS[i - 1][0]) + 1.0)
            for i, (max_gb, tier, *_rest) in enumerate(MEMORY_TIERS)
        }
        print(json.dumps(tiers, indent=2))
        return 0

    spark = _spark()
    read_only = getattr(args, "dry_run", False) or getattr(args, "analyze", False)
    chunks = os.path.join(args.kb_dir, "chunks")
    if os.path.isdir(chunks) and not read_only:
        optimize_chunks(spark, chunks)
    if not read_only:
        # absorbs add files to postings/ and vindex/indexed: fold them
        _kb(args).compact_indexes()
        # each request adds a file to both per-request tables: fold
        # the log to one file per day, the query cache to one file of
        # its unexpired rows
        from customkb_spark.embedding.query_cache import prune_expired
        from customkb_spark.plans.querylog import compact_query_log

        compact_query_log(os.path.join(args.kb_dir, "query_log"))
        prune_expired(
            spark,
            os.path.join(args.kb_dir, "query_emb_cache"),
            _kb(args).cfg.query_cache_ttl_days,
        )
    if not read_only and getattr(args, "reindex", False):
        # drop the persisted vector-index tier so the next build
        # re-selects flat/IVF/IVFPQ for the CURRENT corpus size (a
        # grown-past-threshold KB otherwise keeps its original tier)
        # and re-trains centroids on the current distribution
        import shutil

        vindex = os.path.join(args.kb_dir, "vindex")
        if os.path.isdir(vindex):
            shutil.rmtree(vindex)
        kb = _kb(args)
        kb._refresh()  # rebuild + persist the fresh tier
    if getattr(args, "clean_cache", False):
        # reference scripts/clean_corrupted_cache.py: drop cache rows
        # with NULL/wrong-dimension vectors (honors --dry-run)
        from customkb_spark.plans.maintenance import clean_embedding_cache

        kb = _kb(args)
        report = clean_embedding_cache(
            spark,
            os.path.join(args.kb_dir, "emb_cache"),
            kb.cfg.vector_dimensions,
            dry_run=getattr(args, "dry_run", False),
        )
        print(json.dumps({"emb_cache": report}, indent=2))
    table_stats(spark, args.kb_dir).show(truncate=False)
    # the reference's memory-tier auto-config report (advisory; Spark
    # confs print so cluster deployment can apply them)
    mem_gb = getattr(args, "memory_gb", None) or float(
        os.environ.get("CUSTOMKB_TOTAL_MEMORY_GB", "64")
    )
    print(json.dumps(suggest_tuning(mem_gb), indent=2))
    return 0


def cmd_bm25(args) -> int:
    """Reference ``customkb bm25``: materialize the BM25 index tables
    (postings, term_stats) to the KB dir; later query sessions load
    them instead of re-tokenizing the corpus. With any of --keyword/
    --include/--exclude, builds a FOCUSED index over the filtered
    slice instead (reference scripts/rebuild_bm25_filtered.py)."""
    kb = _kb(args)
    if args.keyword or args.include or args.exclude:
        out = kb.build_bm25_filtered(
            keywords=args.keyword or None,
            include=args.include or None,
            exclude=args.exclude or None,
            name=args.name,
        )
    else:
        out = kb.build_bm25(force=args.force)
    print(json.dumps(out, indent=2))
    return 0


def cmd_categorize(args) -> int:
    """Reference ``customkb categorize``: checkpointed per-document
    categorization into <kb_dir>/cat_assignments (resume = anti-join
    against the persisted table), then the category histogram."""
    from customkb_spark.operators.categorize import (
        categorize_with_resume,
        category_counts,
    )

    kb = _kb(args)
    apath = os.path.join(args.kb_dir, "cat_assignments")
    if getattr(args, "list_categories", False):
        # reference --list: existing categories and counts, no work
        if not os.path.isdir(apath):
            print(json.dumps({"categories": 0}))
            return 0
        category_counts(kb.spark.read.parquet(apath)).show(truncate=False)
        return 0
    if getattr(args, "fresh", False) and os.path.isdir(apath):
        # reference --fresh: drop the checkpoint, reprocess everything
        import shutil

        shutil.rmtree(apath)
    chunks = kb.spark.read.parquet(os.path.join(args.kb_dir, "chunks"))
    if args.sample:
        # reference -S N: categorize N PENDING documents — sampling
        # must exclude already-assigned docs or repeated -S runs would
        # reselect the same first batch and never advance
        pending = chunks.select("sourcedoc").distinct()
        if os.path.isdir(apath):
            done = kb.spark.read.parquet(apath).select("sourcedoc")
            pending = pending.join(done, "sourcedoc", "left_anti")
        docs = pending.orderBy("sourcedoc").limit(args.sample)
        chunks = chunks.join(docs, "sourcedoc", "left_semi")
    n = categorize_with_resume(chunks, apath, model=args.model)
    print(json.dumps({"newly_categorized": n}, indent=2))
    category_counts(kb.spark.read.parquet(apath)).show(truncate=False)
    return 0


def cmd_convert_encoding(args) -> int:
    """Reference ``customkb convert-encoding``: rewrite non-UTF-8 text
    files in place (with backups); --dry-run reports only."""
    from customkb_spark.sources.files import convert_files_to_utf8

    report = convert_files_to_utf8(
        _spark(),
        args.pattern,
        dry_run=args.dry_run,
        backup_suffix=".bak" if args.backup else None,
        recursive=getattr(args, "recursive", False),
    )
    report.show(truncate=False)
    return 0


def cmd_edit(args) -> int:
    """Reference ``customkb edit`` opens the INI in $EDITOR; with no
    interactive editor in scope we print the config path and the
    resolved effective config so it can be edited out-of-band."""
    from dataclasses import asdict

    from customkb_spark.config import KBConfig

    cfg = KBConfig.from_file(args.config)
    print(json.dumps({"config_file": args.config, "effective": asdict(cfg)}, indent=2, default=str))
    return 0


def cmd_version(args) -> int:
    from customkb_spark import __version__

    print(__version__)
    return 0


def cmd_curate(args) -> int:
    """Training-data curation report over a documents parquet: per-doc
    repetition/PII/span-dup signals (+ optional benchmark
    decontamination), written as one parquet and summarized as JSON."""
    from pyspark.sql import functions as F

    from customkb_spark.operators import curation as CU

    spark = _spark()
    docs = spark.read.parquet(args.docs_parquet)
    id_col, text_col = args.id_col, args.text_col
    rep = CU.repetition_signals(docs, text_col, id_col)
    pii = CU.pii_scrub(docs, text_col).select(
        id_col, "n_email", "n_ssn", "n_phone", "n_ipv4"
    )
    spans = CU.span_dedup_stats(docs, text_col, id_col)
    # span stats emit no row for docs with zero non-empty spans (empty/
    # token-less docs) — left-join + coalesce keeps them in the report
    # and in the summary aggregates (ADVICE r2)
    gopher = CU.gopher_quality_filter(docs, text_col, id_col).select(
        id_col, "n_words", "mean_word_len", "alpha_word_frac", "gopher_pass"
    )
    report = (
        rep.join(pii, id_col)
        .join(gopher, id_col)
        .join(spans, id_col, "left")
        .withColumn("n_spans", F.coalesce("n_spans", F.lit(0)).cast("long"))
        .withColumn("dup_spans", F.coalesce("dup_spans", F.lit(0)).cast("long"))
        .withColumn("dup_span_frac", F.coalesce("dup_span_frac", F.lit(0.0)))
    )
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        if getattr(args, "bloom", False):
            # Bloom tier: fixed-size bitmap broadcast — the path for
            # benchmark sets too large to broadcast as strings; hits
            # are a no-false-negative superset of the exact overlap
            bloom = CU.build_ngram_bloom(bench, n=args.ngram, bench_text_col=text_col)
            decon = CU.decontaminate_bloom(
                docs, bloom, n=args.ngram, text_col=text_col, id_col=id_col
            )
        else:
            decon = CU.decontaminate(
                docs, bench, n=args.ngram, text_col=text_col, id_col=id_col
            )
        report = report.join(
            decon.select(id_col, "contaminated"),
            id_col,
            "left",
        ).withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
    if getattr(args, "semantic_benchmark", None):
        # third decontamination tier: embedding cosine catches benchmark
        # items that leaked in REWORDED — n-gram overlap (exact or
        # Bloom) can't see paraphrases. Both sides are embeddings
        # parquets keyed by the report's id column.
        demb = spark.read.parquet(args.embeddings)
        bemb = spark.read.parquet(args.semantic_benchmark)
        sem = CU.decontaminate_semantic(
            demb, bemb, threshold=args.semantic_threshold, id_col=id_col
        )
        report = report.join(
            sem.select(
                id_col,
                F.col("best_sim").alias("bench_best_sim"),
                F.col("contaminated").alias("semantic_contaminated"),
            ),
            id_col,
            "left",
        ).withColumn(
            "semantic_contaminated",
            F.coalesce("semantic_contaminated", F.lit(False)),
        )
    if args.surprisal:
        # both LM rungs: corpus unigram + hashed Stupid-Backoff bigram.
        # left join: empty/token-less docs emit no surprisal row but
        # must stay in the report (same rationale as the span columns)
        report = (
            report.join(
                CU.unigram_surprisal(docs, text_col, id_col).select(
                    id_col, "mean_surprisal"
                ),
                id_col,
                "left",
            )
            .join(
                CU.bigram_surprisal(docs, text_col, id_col).select(
                    id_col, "bigram_surprisal"
                ),
                id_col,
                "left",
            )
        )
    if getattr(args, "gopher_full", False):
        # the full Rae et al. 2021 table-A1 battery; repetition_signals
        # already contributes dup_line_frac so only the new columns join
        full = CU.gopher_repetition(docs, text_col, id_col).drop("dup_line_frac")
        report = report.join(full, id_col, "left")
    if getattr(args, "web_clean", False):
        # the web-extraction cleaning batteries: C4 page rules
        # (Raffel et al. 2020), RefinedWeb line corrections (Penedo et
        # al. 2023), and CCNet line-level corpus dedup (Wenzek et al.
        # 2020) — keep flags + removal fractions, text untouched (the
        # apply variants live in the operators)
        c4 = CU.c4_page_filters(docs, text_col, id_col).select(
            id_col,
            F.col("keep").alias("c4_keep"),
            F.col("n_sentences").alias("c4_sentences"),
        )
        rw = CU.refinedweb_line_corrections(docs, text_col, id_col).select(
            id_col,
            F.col("keep").alias("rw_keep"),
            F.col("removed_char_frac").alias("rw_removed_char_frac"),
        )
        ld = CU.line_dedup(docs, text_col, id_col).select(
            id_col, F.col("dup_line_frac").alias("line_dup_frac")
        )
        report = report.join(c4, id_col).join(rw, id_col).join(ld, id_col)
    if args.dsir_target:
        # domain-targeted DSIR weights: the named source column value is
        # the in-domain slice, everything else the raw corpus
        model = CU.dsir_train(docs, F.col("source") == args.dsir_target, text_col, id_col)
        report = report.join(
            CU.dsir_apply(docs, model, text_col).select(id_col, "log_weight"),
            id_col,
        )
    if args.quality_ref:
        from customkb_spark.operators.classifier import (
            score_quality,
            train_quality_classifier,
        )

        qm = train_quality_classifier(docs, F.col("source") == args.quality_ref, text_col)
        report = report.join(
            score_quality(docs, qm).select(id_col, "quality_prob"), id_col
        )
    if args.out:
        report.write.mode("overwrite").parquet(args.out)
        # the summary re-reads the written parquet — without this the
        # agg re-runs the whole report lineage (tokenize + every join)
        # a second time, ~2x wall on large corpora
        report = spark.read.parquet(args.out)
    agg = [
        F.count("*").alias("docs"),
        F.round(F.avg("dup_word_frac"), 4).alias("avg_dup_word_frac"),
        F.round(F.avg("top_ngram_frac"), 4).alias("avg_top_ngram_frac"),
        F.round(F.avg("dup_span_frac"), 4).alias("avg_dup_span_frac"),
        F.sum((F.col("n_email") + F.col("n_ssn") + F.col("n_phone") + F.col("n_ipv4") > 0).cast("long")).alias("docs_with_pii"),
        F.sum(F.col("gopher_pass").cast("long")).alias("gopher_pass_docs"),
    ]
    if args.benchmark:
        agg.append(F.sum(F.col("contaminated").cast("long")).alias("contaminated_docs"))
    if getattr(args, "semantic_benchmark", None):
        agg.append(
            F.sum(F.col("semantic_contaminated").cast("long")).alias(
                "semantic_contaminated_docs"
            )
        )
    if args.surprisal:
        agg.append(F.round(F.avg("mean_surprisal"), 4).alias("avg_unigram_surprisal"))
        agg.append(F.round(F.avg("bigram_surprisal"), 4).alias("avg_bigram_surprisal"))
    print(json.dumps(report.agg(*agg).collect()[0].asDict(), default=str, indent=2))
    return 0


def cmd_semdedup(args) -> int:
    """Semantic dedup (SemDeDup) over an embeddings parquet: k-means
    cell-scoped near-dup groups → one survivor per group
    (operators/dedup.semdedup_apply). Writes the per-row
    (id, cluster_id, centroid_sim, kept) report and prints a JSON
    summary. ``--centroids`` loads a persisted artifact if present
    (else trains and, if given, saves there) — the same frozen-centroid
    lifecycle as the ANN store."""
    from customkb_spark.embedding.index import train_centroids
    from customkb_spark.embedding.store import load_centroids, save_centroids
    from customkb_spark.operators.dedup import semdedup_apply

    spark = _spark()
    emb = spark.read.parquet(args.embeddings_parquet)
    if args.centroids and os.path.isdir(args.centroids):
        cents = load_centroids(spark, args.centroids)
    else:
        cents = train_centroids(emb, args.vec_col, nlist=args.nlist)
        if args.centroids:
            save_centroids(spark, cents, args.centroids)
    # bad --keep is already rejected by argparse choices; semdedup_apply
    # has no other eager failure mode worth a handler here
    report = semdedup_apply(
        emb, cents, args.id_col, args.vec_col, args.threshold, keep=args.keep
    )
    if args.out:
        report.write.mode("overwrite").parquet(args.out)
        report = spark.read.parquet(args.out)  # summary reuses the write
    row = report.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("kept").cast("long")).alias("kept"),
    ).collect()[0]
    kept = row["kept"] or 0  # sum over zero rows is NULL, not 0
    print(
        json.dumps(
            {
                "rows": row["rows"],
                "kept": kept,
                "dropped": row["rows"] - kept,
                "nlist": len(cents),
                "threshold": args.threshold,
                "keep": args.keep,
            },
            indent=2,
        )
    )
    return 0


def cmd_substr_dedup(args) -> int:
    """ExactSubstr dedup (Lee et al. 2022) over a documents parquet:
    cut every duplicated >=k-token span, keeping the corpus-order first
    copy. Writes the cleaned corpus (id, n_tokens, removed_tokens,
    text) and prints a JSON summary."""
    from pyspark.sql import functions as F

    from customkb_spark.operators.dedup import exact_substring_dedup

    spark = _spark()
    docs = spark.read.parquet(args.docs_parquet)
    cleaned = exact_substring_dedup(docs, args.id_col, args.text_col, k=args.k)
    if args.out:
        cleaned.write.mode("overwrite").parquet(args.out)
        cleaned = spark.read.parquet(args.out)  # summary reuses the write
    row = cleaned.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("removed_tokens").alias("removed"),
        F.sum((F.col("removed_tokens") > 0).cast("long")).alias("docs_cut"),
        F.sum(
            ((F.col("removed_tokens") == F.col("n_tokens")) & (F.col("n_tokens") > 0)).cast("long")
        ).alias("docs_emptied"),
    ).collect()[0]
    tokens = row["tokens"] or 0
    removed = row["removed"] or 0
    print(
        json.dumps(
            {
                "docs": row["docs"],
                "tokens": tokens,
                "removed_tokens": removed,
                "removed_frac": round(removed / tokens, 6) if tokens else 0.0,
                "docs_cut": row["docs_cut"] or 0,
                "docs_emptied": row["docs_emptied"] or 0,
                "k": args.k,
            },
            indent=2,
        )
    )
    return 0


def cmd_bpe(args) -> int:
    """Subword tokenizer verbs: ``train`` learns a vocabulary with the
    selected family — greedy-merge BPE (operators/bpe.py), the EM-fit
    unigram LM (operators/unigram.py), or likelihood-scored WordPiece
    (operators/wordpiece.py) — and writes the family's aux table plus
    the shared segmentation table; ``encode`` applies a trained
    segmentation to a corpus (the pure-JVM join all three families
    share); ``fertility`` prints the per-slice subwords/word report."""
    import json as _json

    from customkb_spark.operators import bpe as BP

    spark = _spark()
    docs = spark.read.parquet(args.docs_parquet)
    seg_path = os.path.join(args.model, "seg")
    if args.action == "train":
        if args.algo == "bpe":
            aux_name, (aux, seg) = "merges", BP.bpe_train(
                docs, args.text_col, num_merges=args.merges, max_vocab=args.max_vocab
            )
        elif args.algo == "unigram":
            from customkb_spark.operators import unigram as UG

            aux_name, (aux, seg) = "pieces", UG.unigram_train(
                docs,
                args.text_col,
                vocab_size=args.vocab_size,
                max_vocab=args.max_vocab,
            )
        else:
            from customkb_spark.operators import wordpiece as WP

            aux_name, (aux, seg) = "vocab", WP.wordpiece_train(
                docs,
                args.text_col,
                vocab_size=args.vocab_size,
                max_vocab=args.max_vocab,
            )
        aux.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(args.model, aux_name)
        )
        seg.coalesce(1).write.mode("overwrite").parquet(seg_path)
        print(
            _json.dumps(
                {"algo": args.algo, aux_name: aux.count(), "vocab_words": seg.count()}
            )
        )
        return 0
    if not os.path.isdir(seg_path):
        print(f"bpe: no segmentation at {seg_path} (run train first)", file=sys.stderr)
        return 2
    seg = spark.read.parquet(seg_path)
    if args.action == "encode":
        enc = BP.bpe_apply(docs, seg, args.text_col, args.id_col)
        if args.out:
            enc.write.mode("overwrite").parquet(args.out)
        from pyspark.sql import functions as F

        row = enc.agg(
            F.count("*").alias("docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_subwords").alias("subwords"),
        ).collect()[0]
        print(
            _json.dumps(
                {"docs": row["docs"], "words": row["words"], "subwords": row["subwords"]}
            )
        )
        return 0
    rows = BP.bpe_fertility(
        docs, seg, args.text_col, args.id_col, by=(args.by,)
    ).collect()
    print(
        _json.dumps(
            {
                r[args.by]: {
                    "fertility": r["fertility"],
                    "chars_per_subword": r["chars_per_subword"],
                }
                for r in rows
            },
            sort_keys=True,
        )
    )
    return 0


def cmd_pipeline(args) -> int:
    """End-to-end curation pipeline (plans/pipeline.curate_pipeline):
    run the enabled stages in canonical order over a documents parquet,
    write the kept corpus (+ the per-stage attrition report) and print
    the report as JSON — the data-card numbers."""
    import json as _json

    from customkb_spark.plans.pipeline import PipelineConfig, curate_pipeline

    if args.resume and not args.stage_dir:
        # silently re-running every stage is the worst failure mode of
        # a resume flag (ADVICE r6) — refuse loudly instead
        print(
            "pipeline: --resume requires --stage-dir (there is nothing "
            "durable to resume from without one)",
            file=sys.stderr,
        )
        return 2
    if args.streaming and not args.work_dir:
        print(
            "pipeline: --streaming requires --work-dir (the gates' "
            "standing outputs and checkpoints live there)",
            file=sys.stderr,
        )
        return 2
    spark = _spark()
    docs = spark.read.parquet(args.docs_parquet)
    budgets = None
    if args.budgets:
        budgets = {}
        for part in args.budgets.split(","):
            name, eq, val = part.partition("=")
            try:
                if not eq or not name.strip():
                    raise ValueError
                budgets[name.strip()] = int(val)
            except ValueError:
                print(
                    f"pipeline: bad --budgets segment {part!r} (expected name=tokens)",
                    file=sys.stderr,
                )
                return 2
    splits = None
    if args.splits:
        splits = {}
        for part in args.splits.split(","):
            name, eq, val = part.partition("=")
            try:
                if not eq or not name.strip():
                    raise ValueError
                splits[name.strip()] = float(val)
            except ValueError:
                print(
                    f"pipeline: bad --splits segment {part!r} (expected name=weight)",
                    file=sys.stderr,
                )
                return 2
    cfg = PipelineConfig(
        lang_filter=args.lang,
        pii_scrub=args.pii,
        c4_clean=not args.no_c4,
        refinedweb_clean=not args.no_refinedweb,
        line_dedup=not args.no_line_dedup,
        exact_dedup=not args.no_exact_dedup,
        substring_dedup=args.substr_dedup,
        substring_k=args.substr_k,
        minhash_dedup=not args.no_minhash,
        minhash_threshold=args.minhash_threshold,
        gopher_filter=not args.no_gopher,
        gopher_min_words=args.gopher_min_words,
        gopher_min_stop_hits=args.gopher_min_stop_hits,
        token_budgets=budgets,
        quality_token_budget=args.quality_budget,
        strata_col=args.strata_col,
        curriculum_stages=args.curriculum,
        split_weights=splits,
    )
    emb = spark.read.parquet(args.embeddings) if args.embeddings else None
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    if args.streaming:
        # streaming twin: drain the source's CURRENT content through the
        # gate chain; standing state under --work-dir persists across
        # invocations, so re-running on a grown source dedups new docs
        # against everything already processed
        import os as _os

        import numpy as _np

        from customkb_spark.streaming.pipeline import (
            streaming_curate_pipeline,
            streaming_pipeline_final,
            streaming_pipeline_report,
        )

        centroids = None
        if emb is not None and cfg.semantic_dedup:
            # the gate needs FROZEN cells across invocations: train once
            # on the first run, persist, reload forever after
            cpath = _os.path.join(args.work_dir, "centroids.npy")
            if _os.path.exists(cpath):
                centroids = _np.load(cpath)
            else:
                from customkb_spark.embedding.index import train_centroids

                centroids = train_centroids(
                    emb, emb.columns[1], nlist=cfg.semantic_nlist
                )
                _os.makedirs(args.work_dir, exist_ok=True)
                _np.save(cpath, _np.asarray(centroids))
        runs = streaming_curate_pipeline(
            spark, args.docs_parquet, args.work_dir, cfg,
            embeddings=emb, centroids=centroids, benchmark=bench,
            id_col=args.id_col, text_col=args.text_col,
            strata_col=args.strata_col,
        )
        final = streaming_pipeline_final(
            spark, args.docs_parquet, args.work_dir, cfg,
            id_col=args.id_col, text_col=args.text_col,
        )
        final.write.mode("overwrite").parquet(args.out)
        report = streaming_pipeline_report(
            spark, args.docs_parquet, args.work_dir, runs,
            id_col=args.id_col, text_col=args.text_col,
        )
        report.coalesce(1).write.mode("overwrite").parquet(args.out + "_report")
        stages = [r.asDict() for r in report.orderBy("stage_no").collect()]
        print(_json.dumps({
            "stages": stages,
            "kept_docs": spark.read.parquet(args.out).count(),
        }))
        return 0
    materialize = resume = None
    if args.stage_dir:
        def materialize(name: str, df):
            path = args.stage_dir.rstrip("/") + "/" + name
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        if args.resume:
            def resume(name: str):
                path = args.stage_dir.rstrip("/") + "/" + name
                # probe through the Hadoop FileSystem API so resume
                # works for hdfs:// / s3a:// stage dirs, not just the
                # local FS (ADVICE r6)
                jvm = spark._jvm
                succ = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
                fs = succ.getFileSystem(spark._jsc.hadoopConfiguration())
                if fs.exists(succ):
                    print(f"# pipeline: resuming {name} from {path}", file=sys.stderr)
                    return spark.read.parquet(path)
                return None
    kept, report = curate_pipeline(
        docs, cfg, embeddings=emb, benchmark=bench,
        id_col=args.id_col, text_col=args.text_col,
        materialize=materialize, resume=resume,
    )
    kept.write.mode("overwrite").parquet(args.out)
    report.coalesce(1).write.mode("overwrite").parquet(args.out + "_report")
    stages = [r.asDict() for r in report.orderBy("stage_no").collect()]
    print(_json.dumps({"stages": stages, "kept_docs": stages[-1]["docs_out"] if stages else docs.count()}))
    return 0


def cmd_eval(args) -> int:
    """Score a retrieval run against a relevance set
    (operators/evalmetrics): per-query parquet + the macro line as
    JSON."""
    import json as _json

    from customkb_spark.operators.evalmetrics import (
        macro_average,
        retrieval_metrics,
    )

    spark = _spark()
    run = spark.read.parquet(args.run_parquet)
    qrels = spark.read.parquet(args.qrels_parquet)
    per = retrieval_metrics(
        run, qrels, k=args.k, qid_col=args.qid_col,
        id_col=args.id_col, rank_col=args.rank_col,
    )
    if args.out:
        per.write.mode("overwrite").parquet(args.out)
        per = spark.read.parquet(args.out)
    row = macro_average(per).collect()[0]
    print(_json.dumps({k: row[k] for k in row.asDict()}, sort_keys=True))
    return 0


def cmd_mix(args) -> int:
    """Token-budget mixing (curation.token_budget_sample): parse
    ``--budgets src0=4000,src1=2500``, select per-source hash-order
    prefixes, print per-source selected docs/tokens."""
    import json as _json

    from customkb_spark.operators import curation as CU

    spark = _spark()
    docs = spark.read.parquet(args.docs_parquet)
    budgets: dict[str, int] = {}
    for part in args.budgets.split(","):
        name, eq, val = part.partition("=")
        try:
            if not eq or not name.strip():
                raise ValueError
            budgets[name.strip()] = int(val)
        except ValueError:
            print(
                f"mix: bad --budgets segment {part!r} (expected name=tokens)",
                file=sys.stderr,
            )
            return 2
    out = CU.token_budget_sample(
        docs, budgets, args.strata_col, args.text_col, args.id_col
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
    from pyspark.sql import functions as F

    rows = (
        out.groupBy(args.strata_col)
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens"))
        .collect()
    )
    print(
        _json.dumps(
            {
                r[args.strata_col]: {"docs": r["docs"], "tokens": r["tokens"]}
                for r in rows
            },
            sort_keys=True,
        )
    )
    return 0


def cmd_pack(args) -> int:
    """Pack a (curated) documents parquet into fixed-length training
    sequences (operators/packing.py): assign train/val/test splits by
    stable hash, lay documents out per (split, shard), and write the
    doc→pack segment map. Prints a per-split pack/token summary."""
    from pyspark.sql import functions as F

    from customkb_spark.operators import packing as PK

    spark = _spark()
    docs = spark.read.parquet(args.docs_parquet)
    weights = None
    if args.splits:
        weights = {}
        for part in args.splits.split(","):
            name, eq, frac = part.partition("=")
            try:
                if not eq or not name.strip():
                    raise ValueError
                weights[name.strip()] = float(frac)
            except ValueError:
                print(
                    f"pack: bad --splits segment {part!r} (expected name=fraction)",
                    file=sys.stderr,
                )
                return 2
    try:
        split = PK.assign_splits(docs, args.id_col, weights)
    except ValueError as e:
        print(f"pack: {e}", file=sys.stderr)
        return 2
    # packing is per (split, shard): a validation doc must never share
    # a training sequence with a train doc
    split = split.withColumn(
        "_pack_shard", F.concat_ws("/", "split", F.col(args.shard_col))
    )
    seg = PK.pack_segments(
        split,
        args.seq_len,
        text_col=args.text_col,
        id_col=args.id_col,
        shard_col="_pack_shard",
    )
    # one computation of the window+explode plan feeds the segment
    # write, the summary write, and the printed roll-up (same pattern
    # as build_bm25's read-back: never re-run the corpus pass per sink)
    seg = seg.localCheckpoint()
    if args.out:
        seg.write.mode("overwrite").parquet(args.out)
    per_pack = PK.pack_summary(seg, "_pack_shard")
    if args.summary_out:
        # the trainer-side index: one row per (split/shard, pack)
        per_pack.write.mode("overwrite").parquet(args.summary_out)
    summary = (
        per_pack
        .withColumn("split", F.split_part("_pack_shard", F.lit("/"), F.lit(1)))
        .groupBy("split")
        .agg(
            F.count("*").alias("packs"),
            F.sum("pack_tokens").alias("tokens"),
            F.sum("n_docs").alias("doc_segments"),
        )
        .orderBy("split")
    )
    print(
        json.dumps(
            {r["split"]: {k: r[k] for k in ("packs", "tokens", "doc_segments")} for r in summary.collect()},
            indent=2,
        )
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="customkb_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("kb_dir")
        sp.add_argument("--config", default=None, help="INI config file")

    d = sub.add_parser("database", help="ingest documents into the KB")
    common(d)
    d.add_argument("--files", default=None, help="file glob to ingest")
    d.add_argument("--docs-parquet", default=None, help="documents parquet path")
    d.add_argument("-f", "--force", action="store_true", help="re-ingest seen sources")
    d.add_argument("-l", "--language", default=None, help="stopword language (en gates the BM25 drop)")
    d.add_argument("--detect-language", action="store_true", help="per-doc heuristic language column")
    d.set_defaults(fn=cmd_database)

    e = sub.add_parser("embed", help="embed pending chunks")
    common(e)
    e.add_argument("-r", "--reset-database", action="store_true", help="re-embed everything")
    e.add_argument(
        "--purge-cache", action="store_true",
        help="with -r: also drop the content-keyed embedding cache",
    )
    e.set_defaults(fn=cmd_embed)

    q = sub.add_parser("query", help="hybrid retrieval (+ answer)")
    common(q)
    q.add_argument("question", nargs="?", default="")
    q.add_argument("-Q", "--query-file", default=None, help="read the question from a file")
    q.add_argument("-c", "--context-only", action="store_true")
    q.add_argument("-f", "--format", default="plain", choices=["plain", "xml", "json", "markdown"])
    q.add_argument("-k", "--top-k", type=int, default=None)
    q.add_argument("-s", "--context-scope", type=int, default=None, help="context segments per hit")
    q.add_argument("--category", action="append", help="repeatable category filter")
    q.add_argument("-m", "--model", default=None, help="answer model (alias registry + LiteLLM)")
    q.add_argument("-R", "--role", default="", help="custom system role for the answer")
    q.add_argument("-t", "--temperature", type=float, default=None)
    q.add_argument("-M", "--max-tokens", type=int, default=512)
    q.add_argument(
        "-p", "--prompt-template", default="default",
        help="default|instructive|scholarly|concise|analytical|conversational|technical",
    )
    q.add_argument("--context-files", nargs="+", default=None, help="extra context files")
    q.set_defaults(fn=cmd_query)

    v = sub.add_parser("verify", help="table/pending-work stats")
    common(v)
    v.set_defaults(fn=cmd_verify)

    dr = sub.add_parser("doctor", help="runtime/environment health report")
    dr.set_defaults(fn=cmd_doctor)

    o = sub.add_parser("optimize", help="compact + cluster the chunks table")
    common(o)
    o.add_argument("-n", "--dry-run", action="store_true", help="report only, change nothing")
    o.add_argument("-a", "--analyze", action="store_true", help="stats + recommendations only")
    o.add_argument("-s", "--show-tiers", action="store_true", help="print all memory-tier settings")
    o.add_argument("-m", "--memory-gb", type=float, default=None, help="override detected memory")
    o.add_argument(
        "--reindex", action="store_true",
        help="retrain + re-tier the persisted vector index for the current corpus",
    )
    o.add_argument(
        "--clean-cache", action="store_true",
        help="drop corrupted (NULL/wrong-dimension) embedding-cache rows",
    )
    o.set_defaults(fn=cmd_optimize)

    b = sub.add_parser("bm25", help="materialize the BM25 index tables")
    common(b)
    b.add_argument("--force", action="store_true", help="rebuild even if fresh")
    b.add_argument("--keyword", action="append", default=[],
                   help="focused index: keep chunks whose text or source contains this (repeatable, OR)")
    b.add_argument("--include", action="append", default=[],
                   help="focused index: keep chunks whose source contains this (repeatable, OR)")
    b.add_argument("--exclude", action="append", default=[],
                   help="focused index: drop chunks whose source contains this (repeatable, AND)")
    b.add_argument("--name", default="bm25_focused", help="focused-index table prefix")
    b.set_defaults(fn=cmd_bm25)

    sv = sub.add_parser(
        "serve-http",
        help="retrieval HTTP API (POST {query}->{context}; needs fastapi+uvicorn)",
    )
    common(sv)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8100)
    sv.add_argument("--top-k", type=int, default=5)
    sv.add_argument("--max-chars", type=int, default=3000)
    sv.set_defaults(fn=cmd_serve_http)

    cat = sub.add_parser("categorize", help="checkpointed document categorization")
    common(cat)
    cat.add_argument("-S", "--sample", type=int, default=None, help="categorize only N documents")
    cat.add_argument("--fresh", action="store_true", help="drop the checkpoint, reprocess all")
    cat.add_argument("--list", dest="list_categories", action="store_true", help="list categories and counts")
    cat.add_argument("-m", "--model", default="stub-top-token", help="categorization model")
    cat.set_defaults(fn=cmd_categorize)

    ce = sub.add_parser("convert-encoding", help="rewrite non-UTF-8 files as UTF-8")
    ce.add_argument("pattern", help="file glob")
    ce.add_argument("--dry-run", action="store_true")
    ce.add_argument("--backup", dest="backup", action="store_true", default=True)
    ce.add_argument("--no-backup", dest="backup", action="store_false")
    ce.add_argument("-r", "--recursive", action="store_true", help="descend into a directory")
    ce.set_defaults(fn=cmd_convert_encoding)

    ed = sub.add_parser("edit", help="show the resolved KB config")
    ed.add_argument("--config", default=None)
    ed.set_defaults(fn=cmd_edit)

    ver = sub.add_parser("version", help="print the engine version")
    ver.set_defaults(fn=cmd_version)

    hp = sub.add_parser("help", help="detailed help for every command")
    hp.set_defaults(fn=lambda a: (p.print_help(), 0)[1])

    c = sub.add_parser("curate", help="training-data curation report")
    c.add_argument("docs_parquet")
    c.add_argument("--out", default=None, help="write per-doc report parquet here")
    c.add_argument("--benchmark", default=None, help="benchmark parquet for decontamination")
    c.add_argument("--ngram", type=int, default=8, help="decontamination n-gram size")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--dsir-target", default=None, help="source value of the DSIR in-domain slice")
    c.add_argument("--quality-ref", default=None, help="source value of the classifier reference slice")
    c.add_argument(
        "--surprisal",
        action="store_true",
        help="add unigram + Stupid-Backoff bigram LM surprisal columns",
    )
    c.add_argument(
        "--bloom",
        action="store_true",
        help="decontaminate via the Bloom tier (fixed-size bitmap "
        "broadcast; no false negatives) instead of exact n-gram strings",
    )
    c.add_argument(
        "--semantic-benchmark",
        default=None,
        help="benchmark EMBEDDINGS parquet (id col matching --id-col + "
        "'embedding'): adds the embedding-cosine decontamination tier "
        "that catches paraphrased benchmark leakage; requires --embeddings",
    )
    c.add_argument(
        "--embeddings",
        default=None,
        help="corpus embeddings parquet for --semantic-benchmark",
    )
    c.add_argument(
        "--semantic-threshold",
        type=float,
        default=0.9,
        help="cosine threshold for semantic contamination (default 0.9)",
    )
    c.add_argument(
        "--gopher-full",
        action="store_true",
        help="add the full Gopher repetition battery (dup line/para "
        "char fracs, top 2-4-gram and dup 5-10-gram char coverage)",
    )
    c.add_argument(
        "--web-clean",
        action="store_true",
        help="add the web-extraction cleaning signals: C4 page-rule "
        "keep flag, RefinedWeb line-correction keep flag + removed-char "
        "fraction, CCNet duplicate-line fraction",
    )
    c.set_defaults(fn=cmd_curate)

    sd = sub.add_parser("semdedup", help="semantic dedup over an embeddings parquet")
    sd.add_argument("embeddings_parquet")
    sd.add_argument("--out", default=None, help="write per-row keep report parquet here")
    sd.add_argument("--nlist", type=int, default=16, help="k-means cells (scope/recall knob)")
    sd.add_argument("--threshold", type=float, default=0.95, help="cosine duplicate threshold")
    sd.add_argument(
        "--keep",
        default="low_centroid_sim",
        choices=["low_centroid_sim", "min_id"],
        help="survivor policy per duplicate group",
    )
    sd.add_argument("--centroids", default=None, help="load-or-save centroid artifact path")
    sd.add_argument("--id-col", default="vec_id")
    sd.add_argument("--vec-col", default="embedding")
    sd.set_defaults(fn=cmd_semdedup)

    ss = sub.add_parser(
        "substr-dedup", help="cut duplicated >=k-token spans (ExactSubstr)"
    )
    ss.add_argument("docs_parquet")
    ss.add_argument("--out", default=None, help="write cleaned corpus parquet here")
    ss.add_argument("--k", type=int, default=50, help="minimum duplicated run, in tokens")
    ss.add_argument("--id-col", default="doc_id")
    ss.add_argument("--text-col", default="text")
    ss.set_defaults(fn=cmd_substr_dedup)

    pk = sub.add_parser("pack", help="pack documents into training sequences")
    pk.add_argument("docs_parquet")
    pk.add_argument("--out", default=None, help="write doc→pack segment parquet here")
    pk.add_argument("--summary-out", default=None, help="write per-pack summary parquet here")
    pk.add_argument("--seq-len", type=int, default=2048)
    pk.add_argument("--splits", default=None, help="e.g. train=0.98,validation=0.01,test=0.01")
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--shard-col", default="source")
    pk.set_defaults(fn=cmd_pack)

    bp = sub.add_parser(
        "bpe", help="train a subword tokenizer / encode a corpus with one"
    )
    bp.add_argument("action", choices=["train", "encode", "fertility"])
    bp.add_argument("docs_parquet")
    bp.add_argument(
        "--model",
        required=True,
        help="model directory (train writes the family aux table + seg/; encode/fertility read seg/)",
    )
    bp.add_argument("--out", default=None, help="encode: write the encoded parquet here")
    bp.add_argument(
        "--algo",
        choices=["bpe", "unigram", "wordpiece"],
        default="bpe",
        help="train: tokenizer family (encode/fertility are family-agnostic)",
    )
    bp.add_argument("--merges", type=int, default=200)
    bp.add_argument(
        "--vocab-size", type=int, default=1000, help="unigram/wordpiece vocab budget"
    )
    bp.add_argument("--max-vocab", type=int, default=100_000)
    bp.add_argument("--by", default="source", help="fertility: slice column")
    bp.add_argument("--id-col", default="doc_id")
    bp.add_argument("--text-col", default="text")
    bp.set_defaults(fn=cmd_bpe)

    mx = sub.add_parser(
        "mix", help="select documents per source up to a token budget"
    )
    mx.add_argument("docs_parquet")
    mx.add_argument(
        "--budgets",
        required=True,
        help="per-stratum token budgets, e.g. src0=4000,src1=2500",
    )
    mx.add_argument("--out", default=None, help="write the selected rows here")
    mx.add_argument("--strata-col", default="source")
    mx.add_argument("--id-col", default="doc_id")
    mx.add_argument("--text-col", default="text")
    mx.set_defaults(fn=cmd_mix)

    pl = sub.add_parser(
        "pipeline",
        help="end-to-end curation pipeline with a per-stage attrition report",
    )
    pl.add_argument("docs_parquet")
    pl.add_argument("--out", required=True, help="kept corpus parquet (report at <out>_report)")
    pl.add_argument("--embeddings", default=None, help="(id, vector) parquet enabling semantic dedup")
    pl.add_argument("--benchmark", default=None, help="benchmark corpus parquet enabling decontamination")
    pl.add_argument("--lang", default=None, help="keep only docs whose heuristic lang-ID matches (e.g. en)")
    pl.add_argument("--pii", action="store_true", help="redact PII spans to <KIND> markers")
    pl.add_argument("--no-c4", action="store_true")
    pl.add_argument("--no-refinedweb", action="store_true")
    pl.add_argument("--no-line-dedup", action="store_true")
    pl.add_argument("--no-exact-dedup", action="store_true")
    pl.add_argument("--substr-dedup", action="store_true", help="enable ExactSubstr span cutting")
    pl.add_argument("--substr-k", type=int, default=50)
    pl.add_argument("--no-minhash", action="store_true")
    pl.add_argument("--minhash-threshold", type=float, default=0.5)
    pl.add_argument("--no-gopher", action="store_true")
    pl.add_argument("--gopher-min-words", type=int, default=50)
    pl.add_argument("--gopher-min-stop-hits", type=int, default=2)
    pl.add_argument("--budgets", default=None, help="token-budget mix, e.g. src0=4000,src1=2500")
    pl.add_argument("--quality-budget", type=int, default=None, help="corpus-wide best-first token budget (FineWeb-Edu selection)")
    pl.add_argument("--curriculum", type=int, default=None, help="annotate an n-stage quality curriculum column")
    pl.add_argument("--splits", default=None, help="split weights, e.g. train=0.9,val=0.05,test=0.05")
    pl.add_argument("--strata-col", default="source")
    pl.add_argument(
        "--stage-dir",
        default=None,
        help="persist each stage's output parquet here (durable, resumable) "
        "instead of executor-local checkpoints",
    )
    pl.add_argument(
        "--resume",
        action="store_true",
        help="with --stage-dir (required): skip stages whose output parquet "
        "already exists (probed via the Hadoop FileSystem API, so any "
        "fs the session can read — local, hdfs://, s3a:// — works)",
    )
    pl.add_argument(
        "--streaming",
        action="store_true",
        help="run the streaming twin (streaming/pipeline.py): drain the "
        "source's current content through the composed gates; standing "
        "state under --work-dir persists, so re-running on a grown "
        "source dedups only the new documents",
    )
    pl.add_argument(
        "--work-dir",
        default=None,
        help="with --streaming (required): gate standing outputs + "
        "checkpoints (+ the frozen semantic centroids artifact)",
    )
    pl.add_argument("--id-col", default="doc_id")
    pl.add_argument("--text-col", default="text")
    pl.set_defaults(fn=cmd_pipeline)

    ev = sub.add_parser(
        "eval", help="score a retrieval run (qid,id,rank) against qrels (qid,id)"
    )
    ev.add_argument("run_parquet")
    ev.add_argument("qrels_parquet")
    ev.add_argument("--k", type=int, default=10)
    ev.add_argument("--out", default=None, help="write per-query metrics parquet here")
    ev.add_argument("--qid-col", default="qid")
    ev.add_argument("--id-col", default="id")
    ev.add_argument("--rank-col", default="rank")
    ev.set_defaults(fn=cmd_eval)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
