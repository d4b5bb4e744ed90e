"""KnowledgeBase facade — the reference's CLI lifecycle
(``customkb database|embed|query``, customkb.py:545-629) over Spark
tables.

A KB is a directory of parquet tables (the reference's
$VECTORDBS/<name>/ with SQLite+FAISS+NPZ sidecars, SURVEY.md §1.1):

    <kb_dir>/chunks/      the canonical chunk table (CHUNKS_SCHEMA subset);
                          its ``sourcedoc`` column is the file registry
    <kb_dir>/vectors/     (id, vector) — the FAISS-file equivalent
    <kb_dir>/vindex/, postings/, term_stats/, bm25_meta/
                          derived indexes; each records the fingerprint
                          of the table it covers, and one freshness rule
                          per index judges it on read

Semantics preserved from the reference:
- ``database`` is incremental: already-ingested sources are skipped via
  a left-anti join on the distinct ``chunks.sourcedoc`` (S4/U2);
  ``force`` re-ingests.
- ``embed`` embeds only rows without a vector (the ``embedded=0``
  pending set, embed_manager.py:586) — expressed as an anti-join
  against the vectors table instead of a mutable flag column, so the
  append-only tables need no MERGE.
- ``query`` builds the hybrid index from the tables once per write and
  runs the full fused-retrieval pipeline; ``context_only`` mirrors the
  reference's --context-only flag, otherwise the (stubbed) LLM answers.
  Within ``cfg.index_memory_budget_mb`` the index is also held in
  process memory (plans/resident.py) and a query runs no Spark job; over
  it, the Spark plans of plans/hybrid.py serve. Every write to
  ``chunks/`` or ``vectors/``, from any process, drops both: the next
  query sees the tables' listing change.

At 100 TB: write the chunks table BUCKETED by ``sourcedoc``
(plans/layout.py — bucketBy into the catalog, per-bucket sorted by
sid) so each document's chunks co-locate and every per-doc operator
(sid window, context range join, chunk stats, categorize sampling)
plans exchange-free; proven on the plan in
tests/test_plans.py::test_bucketed_groupby_no_exchange.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from customkb_spark.config import KBConfig
from customkb_spark.embedding.embedder import embed_texts
from customkb_spark.functions import parquet_rows as PR
from customkb_spark.ingest.pipeline import documents_to_chunks
from customkb_spark.plans import hybrid as HY
from customkb_spark.plans import resident as RI
from customkb_spark.plans.answer import generate_answer
from customkb_spark.plans.formatters import format_references
from customkb_spark.plans.querylog import log_query

# ``bm25_meta`` / ``<name>_meta``: one row, written by ``_write_bm25``
BM25_META_SCHEMA = pa.schema([("n_chunks", pa.int64()), ("avgdl", pa.float64())] + [
    (c, pa.string()) for c in ("chunks_fp", "language", "chunks_src_fp")
])


class KnowledgeBase:
    def __init__(self, spark: SparkSession, kb_dir: str, cfg: KBConfig | None = None):
        self.spark = spark
        self.kb_dir = kb_dir
        self.cfg = cfg or KBConfig()
        self._index: HY.HybridIndex | None = None
        self._index_fp: tuple | None = None
        self._resident: RI.ResidentIndex | None = None

    # ---------------------------------------------------------- paths
    def _p(self, name: str) -> str:
        return os.path.join(self.kb_dir, name)

    def _exists(self, name: str) -> bool:
        return os.path.isdir(self._p(name))

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._p(name))

    # ------------------------------------------------------- database
    def database(self, docs: DataFrame, force: bool = False) -> int:
        """Ingest a documents DataFrame (doc_id, text, source[, lang]).

        Returns the number of NEW chunks written. Incremental by
        ``source`` path; ``force=True`` re-ingests everything (the
        reference deletes+reinserts per path, db_manager.py:613-615).
        A source is already ingested when ``chunks.sourcedoc`` holds it:
        the chunks write is the only record, so a call killed after it
        is retried without duplicating chunk ids.
        """
        if not force and self._exists("chunks"):
            seen = self._read("chunks").select(F.col("sourcedoc").alias("source"))
            docs = docs.join(seen.distinct(), "source", "left_anti")
        lang = "lang" if "lang" in docs.columns else None
        if lang is None and self.cfg.detect_language:
            # reference database --detect-language: per-doc heuristic
            # (language_detector.py) — a pure column expression here
            from customkb_spark.functions import text as X

            docs = docs.withColumn("lang", X.detect_language_heuristic("text"))
            lang = "lang"
        # materialized once: the count and the write (or the force
        # path's merge) read the same chunks without re-chunking
        chunks = documents_to_chunks(
            docs, lang_col=lang, chunk_size=self.cfg.db_max_tokens
        ).localCheckpoint()
        n = chunks.count()
        if n == 0:
            return 0
        if force and self._exists("chunks"):
            # reference semantics (db_manager.py:613-615): delete the
            # re-ingested paths' rows, keep everything else — an
            # anti-join rewrite here; replaceWhere/MERGE on a
            # source-partitioned lakehouse table at scale
            sources = docs.select("source").distinct()
            old = self._read("chunks")
            kept = old.join(
                sources.select(F.col("source").alias("sourcedoc")),
                "sourcedoc",
                "left_anti",
            )
            if self._exists("vectors"):
                # drop vectors of the replaced sources' old chunks: ids
                # are deterministic, so changed text under the same id
                # must re-embed (the reference resets embedded=0 on
                # reinsert)
                replaced_ids = old.join(
                    sources.select(F.col("source").alias("sourcedoc")), "sourcedoc"
                ).select("id")
                kept_vecs = (
                    self._read("vectors")
                    .join(replaced_ids, "id", "left_anti")
                    .localCheckpoint()
                )
                kept_vecs.write.mode("overwrite").parquet(self._p("vectors"))
            merged = kept.unionByName(chunks).localCheckpoint()
            merged.write.mode("overwrite").parquet(self._p("chunks"))
        else:
            chunks.write.mode("append").parquet(self._p("chunks"))
        return n

    # ---------------------------------------------------------- embed
    def embed(self) -> int:
        """Embed chunks that have no vector yet (anti-join pending set).
        Returns the number of new vectors.

        The J5 read-through cache table (<kb_dir>/emb_cache: cache_key,
        vector) is probed first — texts seen before (any chunk, any
        re-ingest) skip the provider entirely; misses are embedded and
        written back. This is the reference's two-tier embedding cache
        (embedding/cache.py:49-120) as one left join + one append. The
        probe and the new vectors are each materialized once, so no
        action re-runs the chunks scan, the anti-join or the
        provider."""
        from customkb_spark.embedding.cache import split_hits_misses, with_cache_key
        from customkb_spark.functions import cache_stats

        pending = self._read("chunks").filter(F.length("embedtext") > 0)
        if self._exists("vectors"):
            have = self._read("vectors").select("id")
            pending = pending.join(have, "id", "left_anti")
        keyed = with_cache_key(
            pending.select("id", "embedtext"), F.col("embedtext"), self.cfg.vector_model
        )
        cache = (
            self._read("emb_cache")
            if self._exists("emb_cache")
            else self.spark.createDataFrame([], "cache_key string, vector array<float>")
        )
        hits, misses = split_hits_misses(
            keyed, cache, expected_dims=self.cfg.vector_dimensions
        )
        new_vectors = embed_texts(
            misses, "id", "embedtext", self.cfg.vector_model, self.cfg.vector_dimensions
        ).localCheckpoint()
        # hit/miss counters (reference performance_analyzer cache
        # section), both read from materialized frames
        miss_n, hit_n = new_vectors.count(), hits.count()
        if miss_n:
            # write-back: one cache row per distinct missed text
            (
                misses.select("id", "cache_key")
                .join(new_vectors, "id")
                .select("cache_key", "vector")
                .dropDuplicates(["cache_key"])
                .write.mode("append")
                .parquet(self._p("emb_cache"))
            )
        cache_stats.record(cache_stats.EMBEDDING_CACHE, hits=hit_n, misses=miss_n)
        if hit_n + miss_n:
            hits.select("id", "vector").unionByName(new_vectors).write.mode(
                "append"
            ).parquet(self._p("vectors"))
        return hit_n + miss_n

    # ----------------------------------------------------------- bm25
    def build_bm25(self, force: bool = False) -> dict:
        """Materialize the BM25 index tables (postings, term_stats) to
        the KB dir — the reference's ``customkb bm25`` command, which
        tokenizes the corpus into a persisted NPZ index
        (bm25_manager.py). Skips the build when ``_bm25_freshness``
        finds the persisted index covers the current chunks (the
        verify-indexes analogue). Returns
        ``{n_chunks, avgdl, n_terms, rebuilt}``."""
        from customkb_spark.embedding.store import content_fingerprint

        chunks = self._read("chunks")
        meta, fp = (None, None) if force else self._bm25_freshness(chunks)
        rebuilt = meta is None
        if rebuilt:
            if fp is None:
                fp = content_fingerprint(chunks, "id", "originaltext")
            meta = self._write_bm25(chunks, "", "bm25_meta", fp)
        return {
            "n_chunks": int(meta["n_chunks"]), "avgdl": float(meta["avgdl"]),
            "n_terms": self._read("term_stats").count(), "rebuilt": rebuilt,
        }

    def build_bm25_filtered(
        self,
        keywords: list[str] | None = None,
        include: list[str] | None = None,
        exclude: list[str] | None = None,
        name: str = "bm25_focused",
    ) -> dict:
        """Focused BM25 index over a filtered slice of the corpus —
        the reference's scripts/rebuild_bm25_filtered.py (keywords
        substring-match text OR sourcedoc, OR-combined; ``include``
        patterns OR-combine over sourcedoc; ``exclude`` patterns
        AND-exclude), re-expressed as one predicate on the chunks scan
        (pushed into parquet) + the standard postings/term_stats build.

        Tables land under ``<name>_postings`` / ``<name>_term_stats`` /
        ``<name>_meta`` next to the primary index; feed them to
        ``HybridIndex.build(postings=..., term_stats=..., corpus=...)``
        for a slice-scoped retrieval session. Corpus stats (N, avgdl)
        are recomputed over the SLICE, matching the reference (idf and
        length normalization are relative to the focused corpus, not
        the full KB).
        """
        chunks = self._read("chunks")
        cond = None
        if keywords:
            kw = None
            for w in keywords:
                c = F.col("originaltext").contains(w) | F.col("sourcedoc").contains(w)
                kw = c if kw is None else (kw | c)
            cond = kw
        if include:
            inc = None
            for p in include:
                c = F.col("sourcedoc").contains(p)
                inc = c if inc is None else (inc | c)
            cond = inc if cond is None else (cond & inc)
        if exclude:
            for p in exclude:
                c = ~F.col("sourcedoc").contains(p)
                cond = c if cond is None else (cond & c)
        sliced = chunks.filter(cond) if cond is not None else chunks

        meta = self._write_bm25(sliced, f"{name}_", f"{name}_meta")
        return {
            "n_chunks": int(meta["n_chunks"]),
            "avgdl": float(meta["avgdl"]),
            "n_terms": self._read(f"{name}_term_stats").count(),
            "name": name,
        }

    def load_bm25_filtered(self, name: str = "bm25_focused") -> tuple:
        """(postings, term_stats, (n, avgdl)) of a focused index built
        by ``build_bm25_filtered`` — ready for ``HybridIndex.build``."""
        meta = PR.read_row(self._p(f"{name}_meta"))
        return (
            self._read(f"{name}_postings"),
            self._read(f"{name}_term_stats"),
            (int(meta["n_chunks"]), float(meta["avgdl"])),
        )

    def _write_bm25(self, chunks, prefix: str, meta_name: str, fp=None):
        """The one BM25 build: corpus stats → ``<prefix>postings`` →
        read back (term_stats aggregates the materialized table instead
        of re-tokenizing the corpus) → ``<prefix>term_stats`` → meta,
        written last. ``fp`` is the chunks' content fingerprint the
        primary index records for ``_bm25_freshness``. Returns the meta
        row."""
        from customkb_spark.embedding.store import dir_fingerprint
        from customkb_spark.operators import bm25 as B25

        lang = self.cfg.language
        n, avgdl = B25.corpus_stats(chunks, "originaltext", language=lang)
        postings = B25.build_postings(chunks, "id", "originaltext", language=lang)
        postings.write.mode("overwrite").parquet(self._p(f"{prefix}postings"))
        stats = B25.build_term_stats(self._read(f"{prefix}postings"), n)
        stats.write.mode("overwrite").parquet(self._p(f"{prefix}term_stats"))
        meta = dict(
            n_chunks=int(n), avgdl=float(avgdl), chunks_fp=fp, language=lang,
            chunks_src_fp=dir_fingerprint(self._p("chunks")),
        )
        PR.replace(
            pa.Table.from_pylist([meta], schema=BM25_META_SCHEMA), self._p(meta_name)
        )
        self._invalidate()
        return meta

    def _bm25_freshness(self, chunks) -> tuple:
        """The one BM25 freshness rule: ``(meta, fp)``, where ``meta`` is
        the persisted ``bm25_meta`` row when the persisted tables cover
        ``chunks`` (else None) and ``fp`` the chunks' content
        fingerprint when this check computed it (else None).

        The persisted language must match the cfg's (postings tokenized
        under another stopword gate are the wrong index); then an
        unchanged chunks-dir listing proves the content unchanged
        without a corpus scan (parquet files are immutable); only a
        changed listing falls to the content fingerprint, which a force
        re-ingest's rewrite under unchanged ids and counts fails."""
        if not all(
            self._exists(t) for t in ("bm25_meta", "postings", "term_stats")
        ):
            return None, None
        from customkb_spark.embedding.store import content_fingerprint, dir_fingerprint

        meta = PR.read_row(self._p("bm25_meta"))
        if meta.get("language", "en") != self.cfg.language:
            return None, None
        src_fp = meta.get("chunks_src_fp")
        if src_fp is not None and dir_fingerprint(self._p("chunks")) == src_fp:
            return meta, None
        fp = content_fingerprint(chunks, "id", "originaltext")
        return (meta if meta.get("chunks_fp") == fp else None), fp

    # ---------------------------------------------------------- query
    def _invalidate(self) -> None:
        """Drop the cached index — unpersisting the old cached
        DataFrames so repeated database/embed/query cycles in a
        long-lived session don't leak executor memory."""
        if self._index is not None:
            vindex = getattr(self._index, "vindex", None)
            for df in (
                getattr(self, "_cached_chunks", None),
                self._index.vectors,
                self._index.postings,
                self._index.term_stats,
                getattr(vindex, "indexed", None),
            ):
                if df is not None:
                    try:
                        df.unpersist()
                    except Exception:
                        pass
        self._cached_chunks = None
        self._index = None
        self._resident = None

    def _build_index(self) -> HY.HybridIndex:
        """The hybrid index over the current tables, rebuilt whenever
        ``chunks/`` or ``vectors/`` changed since the last build. Parquet
        files are immutable, so any write to them — from this object or
        another process — changes their listing fingerprint: two
        directory listings per call, no Spark job."""
        from customkb_spark.embedding.store import dir_fingerprint

        sources_fp = tuple(dir_fingerprint(self._p(t)) for t in ("chunks", "vectors"))
        if self._index is not None and sources_fp != self._index_fp:
            self._invalidate()
        if self._index is None:
            from customkb_spark.embedding import store as IS

            self._index_fp = sources_fp
            self._cached_chunks = self._read("chunks").cache()
            vectors = self._read("vectors")
            vpath = self._p("vindex")
            # reference lifecycle parity: load the persisted index tier
            # (<kb>.faiss analogue) instead of retraining; an IVF tier
            # absorbs appended vectors via FAISS-add-style incremental
            # assignment inside load_vector_index
            vindex = IS.load_vector_index(
                self.spark, vpath, vectors, source_dir=self._p("vectors")
            )
            meta, _ = self._bm25_freshness(self._cached_chunks)
            postings = term_stats = corpus = None
            if meta is not None:  # else HybridIndex.build tokenizes
                postings, term_stats = self._read("postings"), self._read("term_stats")
                corpus = (int(meta["n_chunks"]), float(meta["avgdl"]))
            self._index = HY.HybridIndex.build(
                self._cached_chunks, vectors, cfg=self.cfg, vindex=vindex,
                postings=postings, term_stats=term_stats, corpus=corpus,
            )
            if vindex is None and self._index.vindex is not None:
                IS.save_vector_index(
                    self._index.vindex, vpath, source_dir=self._p("vectors")
                )
            # None over the memory budget: then Spark plans serve
            self._resident = RI.ResidentIndex.load(self._index, self.cfg)
        return self._index

    def query(
        self,
        query_text: str,
        context_only: bool = True,
        fmt: str = "plain",
        categories: list[str] | None = None,
        log: bool = True,
        template: str = "default",
        model: str | None = None,
        role: str | None = None,
        temperature: float | None = None,
        max_tokens: int = 512,
        context_files: list[str] | None = None,
    ) -> str:
        """Full reference query lifecycle (SURVEY.md §3.3): hybrid
        search → context assembly → format → (stub) LLM answer.

        The answer knobs mirror the reference's query flags
        (customkb.py:230-262): ``template`` (-p), ``model`` (-m, via
        the alias registry + LiteLLM routing), ``role`` (-R system
        override), ``temperature`` (-t), ``max_tokens`` (-M), and
        ``context_files`` — extra driver-side files appended to the
        reference string before answering."""
        t0 = time.time()
        index = self._build_index()
        cfg, resident = self.cfg, self._resident
        rerank_cache = None
        rerank_sink = None
        if cfg.enable_reranking:
            rerank_cache = (
                self._read("rerank_cache") if self._exists("rerank_cache") else None
            )

            def rerank_sink(entries: DataFrame) -> None:
                # materialize first: the entries plan embeds the scorer;
                # appending must not re-run it when ctx is also consumed
                rows = entries.localCheckpoint()
                if rows.limit(1).count():
                    rows.write.mode("append").parquet(self._p("rerank_cache"))

        if resident is None:  # over the memory budget: Spark plans
            ctx = HY.query(
                index, query_text, cfg, categories=categories,
                query_cache_path=self._p("query_emb_cache"),
                rerank_cache=rerank_cache, rerank_cache_sink=rerank_sink,
            )
            keys = [c for c in ("sourcedoc", "doc_id") if c in ctx.columns]
            ctx_rows = ctx.select(*keys, "sid", "text").collect()
        else:
            text, qvec = HY.embed_query(
                query_text, cfg, self._p("query_emb_cache"), self.spark
            )
            terms = HY.query_terms(text, cfg.bm25_min_token_length, cfg.language)
            fused_rows = resident.search(terms, qvec, cfg)
            if cfg.enable_reranking:
                fused = self.spark.createDataFrame(
                    [(r["id"], r["score"]) for r in fused_rows], "id long, score double"
                )
                fused_rows = HY.rerank(
                    index, fused, query_text, cfg, rerank_cache, rerank_sink
                ).collect()
            ctx_rows = HY.retrieve_context_hits(resident, fused_rows, cfg, categories)
        reference_string = format_references(ctx_rows, fmt)
        if log:
            try:
                log_query(
                    self.spark,
                    self._p("query_log"),
                    os.path.basename(self.kb_dir),
                    query_text,
                    time.time() - t0,
                    len(ctx_rows),
                )
            except Exception:
                pass  # logging must never fail the query
        if context_files:
            blocks = [reference_string]
            for path in context_files:
                with open(path, encoding="utf-8", errors="replace") as f:
                    blocks.append(f"[context file: {os.path.basename(path)}]\n{f.read()}")
            reference_string = "\n\n".join(blocks)
        if context_only:
            return reference_string
        provider = None
        if model and model != "none":
            from customkb_spark.plans.answer import get_llm

            provider = get_llm(model, temperature=temperature)
        return generate_answer(
            query_text,
            reference_string,
            template=template,
            provider=provider,
            role=role,
            max_tokens=max_tokens,
        )

    def query_batch(
        self,
        queries: DataFrame,
        context_only: bool = True,
        fmt: str = "plain",
    ) -> DataFrame:
        """Batch query surface: (qid, query_text) → per-query results,
        fully distributed (one corpus scan per ranker serves every
        query; formatting and answering never touch the driver).

        ``context_only=True`` → (qid, reference_string); else
        (qid, query_text, reference_string, answer) via the provider.
        The reference processes queries one at a time in an asyncio
        loop — this is the shape that replaces it at cluster scale.
        """
        index = self._build_index()
        if context_only:
            from customkb_spark.plans.formatters import format_references_batch

            ctx = HY.query_batch(index, queries, self.cfg)
            return format_references_batch(ctx, fmt)
        return HY.rag_batch(index, queries, self.cfg, fmt)

    # ------------------------------------------------------ ops surface
    def verify(self) -> dict:
        """verify-indexes equivalent: table row counts, pending work,
        and persisted-index FRESHNESS (the reference's verify-indexes
        checks index health, not just existence — a stale index is the
        failure mode users actually hit after re-ingests)."""
        out: dict = {}
        chunks = self._read("chunks") if self._exists("chunks") else None
        out["chunks"] = chunks.count() if chunks is not None else 0
        out["vectors"] = self._read("vectors").count() if self._exists("vectors") else 0
        if chunks is not None:
            pending = chunks.filter(F.length("embedtext") > 0)
            if self._exists("vectors"):
                pending = pending.join(
                    self._read("vectors").select("id"), "id", "left_anti"
                )
            # no vectors table yet ⇒ EVERY embeddable chunk is pending
            out["pending_embed"] = pending.count()
        # A7: schema-version aggregate over the migrations event log
        from customkb_spark.plans.migrations import get_current_schema_version

        out["schema_version"] = get_current_schema_version(self.spark, self.kb_dir)
        # persisted-index freshness: the same rules a query applies
        # (_bm25_freshness; store._tier_verdict, where "appendable" = a
        # query absorbs the new vectors FAISS-add-style)
        if chunks is None:
            out["bm25_index"] = "n/a"
        elif not self._exists("bm25_meta"):
            out["bm25_index"] = "absent"
        else:
            fresh = self._bm25_freshness(chunks)[0] is not None
            out["bm25_index"] = "fresh" if fresh else "stale"
        if self._exists("vindex") and self._exists("vectors"):
            from customkb_spark.embedding.store import index_freshness

            out["vector_index"] = index_freshness(
                self.spark, self._p("vindex"), self._read("vectors"),
                source_dir=self._p("vectors"),
            )
        else:
            out["vector_index"] = "absent"
        # per-cache hit/miss counters this driver process has observed
        # (reference performance_analyzer.py:67-136's cache section)
        from customkb_spark.functions import cache_stats

        out["cache_stats"] = cache_stats.snapshot()
        if self._resident is not None:
            out["resident_index"] = {
                "state": "resident",
                "bytes": self._resident.nbytes,
                "rows": self._resident.n_rows,
            }
        elif not RI.fits(out["chunks"], self.cfg):
            out["resident_index"] = "over_budget"
        else:
            out["resident_index"] = "not_loaded"
        return out
