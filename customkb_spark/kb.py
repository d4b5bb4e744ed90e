"""KnowledgeBase facade — the reference's CLI lifecycle
(``customkb database|embed|query``, customkb.py:545-629) over Spark
tables.

A KB is a directory of parquet tables (the reference's
$VECTORDBS/<name>/ with SQLite+FAISS+NPZ sidecars, SURVEY.md §1.1):

    <kb_dir>/chunks/      the canonical chunk table (CHUNKS_SCHEMA subset);
                          its ``sourcedoc`` column is the file registry
    <kb_dir>/vectors/     (id, vector) — the FAISS-file equivalent
    <kb_dir>/vindex/, postings/, term_stats/, bm25_meta/, bm25_sources/
                          derived indexes; each records the data files
                          and content fingerprint of the table it
                          covers, and one freshness rule per index
                          judges it on read

Semantics preserved from the reference:
- ``database`` is incremental: already-ingested sources are skipped via
  a left-anti join on the distinct ``chunks.sourcedoc`` (S4/U2);
  ``force`` re-ingests.
- ``embed`` embeds only rows without a vector (the ``embedded=0``
  pending set, embed_manager.py:586) — expressed as an anti-join
  against the vectors table instead of a mutable flag column, so the
  append-only tables need no MERGE.
- ``query`` brings the persisted indexes up to date once per write and
  runs the full fused-retrieval pipeline; ``context_only`` mirrors the
  reference's --context-only flag, otherwise the (stubbed) LLM answers.
  After a pure append both indexes absorb just the new files on the
  driver (BM25 from the tokens ``database`` stored with the chunks, the
  vector tier FAISS-add style); anything else rebuilds them. Within
  ``cfg.index_memory_budget_mb`` the index is then read into process
  memory with pyarrow (plans/resident.py) and a query runs no Spark job;
  over it, or to rerank or batch, the Spark plans of plans/hybrid.py
  serve, their frames built on first use. Every write to ``chunks/`` or
  ``vectors/``, from any process, and every compaction of the derived
  tables drops both: the next query sees the tables change on disk.

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
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from customkb_spark.config import KBConfig
from customkb_spark.embedding import store as IS
from customkb_spark.embedding.embedder import embed_texts
from customkb_spark.functions import parquet_rows as PR
from customkb_spark.ingest.pipeline import documents_to_chunks
from customkb_spark.plans import hybrid as HY
from customkb_spark.plans import resident as RI
from customkb_spark.plans.answer import generate_answer
from customkb_spark.plans.formatters import format_references
from customkb_spark.plans.querylog import log_query

# ``bm25_meta`` / ``<name>_meta``: one row, written by ``_commit_bm25``
BM25_META_SCHEMA = pa.schema(
    [("n_chunks", pa.int64()), ("avgdl", pa.float64()), ("sum_dl", pa.int64())]
    + [(c, pa.string()) for c in ("chunks_fp", "language", "chunks_src_fp", "term_stats_fp")]
)
# what a built index covers (a change to one's listing refreshes it) and
# the derived tables it reads (a swap of one refreshes it)
_SOURCES, _DERIVED = ("chunks", "vectors"), ("postings", "vindex/indexed")


def _dir_identity(path: str) -> tuple | None:
    """(inode, mtime) of a table directory: ``parquet_rows.swap`` puts in
    a new one. Two stats instead of a walk of ``vindex/indexed``'s
    cluster directories on every query."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns


class _BM25State(NamedTuple):
    """``KnowledgeBase._bm25_freshness``'s verdict."""

    meta: dict | None  # bm25_meta, when the index is fresh or appendable
    fp: str | None = None  # the chunks' content fingerprint, when computed
    listing: list | None = None  # the chunks/ files judged (content rule: covered)
    appended: list | None = None  # the entries of ``listing`` a pure append added


class KnowledgeBase:
    def __init__(self, spark: SparkSession, kb_dir: str, cfg: KBConfig | None = None):
        self.spark = spark
        self.kb_dir = kb_dir
        self.cfg = cfg or KBConfig()
        PR.recover(kb_dir)  # undo table swaps a killed writer left
        self._index: HY.HybridIndex | None = None  # the Spark form, on first use
        self._index_fp: tuple | None = None  # _tables_fp at the last refresh
        self._resident: RI.ResidentIndex | None = None
        self._bm25_meta: dict | None = None

    # ---------------------------------------------------------- paths
    def _p(self, name: str) -> str:
        return os.path.join(self.kb_dir, name)

    def _exists(self, name: str) -> bool:
        return os.path.isdir(self._p(name))

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._p(name))

    def _swap(self, name: str, df: DataFrame) -> None:
        """``parquet_rows.swap`` in ``df`` as table ``name``, refreshing
        Spark's cached reads of it as an overwrite does."""
        PR.swap(self._p(name), df.write.parquet)
        self.spark.catalog.refreshByPath(self._p(name))

    # ------------------------------------------------------- database
    def database(self, docs: DataFrame, force: bool = False) -> int:
        """Ingest a documents DataFrame (doc_id, text, source[, lang]).

        Returns the number of NEW chunks written. Incremental by
        ``source`` path; ``force=True`` re-ingests everything (the
        reference deletes+reinserts per path, db_manager.py:613-615).
        A source is already ingested when ``chunks.sourcedoc`` holds it:
        the chunks write is the only record, so a call killed after it
        is retried without duplicating chunk ids.
        ``force`` swaps in ``vectors/`` less the replaced sources', then
        ``chunks/``; killed between the two, those sources keep their old
        text, pending re-embedding, until the retry.
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
            docs, lang_col=lang, chunk_size=self.cfg.db_max_tokens,
            language=self.cfg.language,
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
                kept_vecs = self._read("vectors").join(replaced_ids, "id", "left_anti")
                self._swap("vectors", kept_vecs)
            self._swap("chunks", kept.unionByName(chunks))
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

        pending = self._pending_embed(self._read("chunks")).select("id", "embedtext")
        keyed = with_cache_key(pending, F.col("embedtext"), self.cfg.vector_model)
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

    def _pending_embed(self, chunks: DataFrame) -> DataFrame:
        """The chunks of ``chunks`` with embeddable text and no vector;
        with no vectors table yet, every embeddable chunk."""
        pending = chunks.filter(F.length("embedtext") > 0)
        if self._exists("vectors"):
            pending = pending.join(self._read("vectors").select("id"), "id", "left_anti")
        return pending

    # ----------------------------------------------------------- bm25
    def build_bm25(self, force: bool = False) -> dict:
        """Materialize the BM25 index tables (postings, term_stats) to
        the KB dir — the reference's ``customkb bm25`` command, which
        tokenizes the corpus into a persisted NPZ index
        (bm25_manager.py). Brings the persisted index up to date instead
        when ``_bm25_freshness`` allows (the verify-indexes analogue):
        as is when it covers the current chunks, by ``_absorb_bm25``
        after a pure append. Returns ``{n_chunks, avgdl, n_terms,
        rebuilt}``."""
        meta, rebuilt = self._bm25_index(force)
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

    def _bm25_index(self, force: bool = False) -> tuple[dict, bool]:
        """(meta, rebuilt) of the primary BM25 index after bringing it up
        to date with ``chunks/`` under ``_bm25_freshness``: as is when
        fresh (a fresh verdict of the content rule records the listing
        it covers, so the next check decides from the listing again),
        absorbed after a pure append, otherwise (or with ``force``)
        rebuilt."""
        state = _BM25State(None) if force else self._bm25_freshness()
        if state.appended is not None:
            meta = self._absorb_bm25(state)
            if meta is not None:
                return meta, False
        elif state.meta is not None:
            if state.fp is not None:
                return self._commit_bm25("", "bm25_meta", state.meta, state.listing), False
            return state.meta, False
        chunks = self._read("chunks")
        listing = IS._covered(chunks, self._p("chunks"))
        fp = state.fp if state.fp is not None and state.listing == listing else None
        if fp is None:
            fp = IS.content_fingerprint(chunks, "id", "originaltext")
        return self._write_bm25(chunks, "", "bm25_meta", fp, listing), True

    def _write_bm25(self, chunks, prefix: str, meta_name: str, fp=None, listing=None):
        """The one BM25 build: corpus totals → ``<prefix>postings`` →
        read back (term_stats aggregates the materialized table instead
        of re-tokenizing the corpus) → ``<prefix>term_stats`` → meta,
        written last; each is swapped in whole. ``fp`` is the chunks'
        content fingerprint and ``listing`` the ``chunks/`` files
        ``chunks`` reads, which the primary index records for
        ``_bm25_freshness``. Returns the meta row."""
        from customkb_spark.operators import bm25 as B25

        lang = self.cfg.language
        n, avgdl, sum_dl = B25.corpus_totals(chunks, "originaltext", language=lang)
        postings = B25.build_postings(chunks, "id", "originaltext", language=lang)
        self._swap(f"{prefix}postings", postings)
        stats = B25.build_term_stats(self._read(f"{prefix}postings"), n)
        self._swap(f"{prefix}term_stats", stats)
        meta = dict(n_chunks=n, avgdl=avgdl, sum_dl=sum_dl, chunks_fp=fp, language=lang)
        return self._commit_bm25(prefix, meta_name, meta, listing)

    def _commit_bm25(self, prefix: str, meta_name: str, meta: dict, listing) -> dict:
        """Record the BM25 index just written: with a ``listing`` (the
        primary index) the ``chunks/`` files it covers in
        ``bm25_sources``, then ``meta`` last with their hash and that of
        the ``term_stats`` listing. Returns the meta."""
        if listing is not None:
            IS._write_sources(self._p("bm25_sources"), listing)
        meta = {
            **meta, "chunks_src_fp": IS._digest(listing),
            "term_stats_fp": IS.dir_fingerprint(self._p(f"{prefix}term_stats")),
        }
        PR.replace(
            pa.Table.from_pylist([meta], schema=BM25_META_SCHEMA), self._p(meta_name)
        )
        self._invalidate()
        return meta

    def _bm25_freshness(self, chunks: DataFrame | None = None) -> "_BM25State":
        """The one BM25 freshness rule, each step run only when the one
        before cannot decide (``store._tier_verdict``'s, over
        ``chunks/``):

        1. no index, or one tokenized under another language (postings
           under another stopword gate are the wrong index) → stale;
        2. an unchanged ``chunks/`` listing proves the content unchanged
           (parquet files are immutable) → fresh, no scan;
        3. every file ``bm25_sources`` records is still there unchanged,
           and ``term_stats`` is the table the meta recorded (an absorb
           killed after swapping it leaves another) → a pure append of
           the other files (``appended``), no scan;
        4. the content fingerprint of ``chunks`` (default: ``chunks/``)
           equals the recorded one → fresh; a force re-ingest's rewrite
           under unchanged ids and counts fails it → stale.

        ``meta`` is the persisted ``bm25_meta`` row when the index is
        fresh or appendable."""
        if not all(
            self._exists(t) for t in ("bm25_meta", "postings", "term_stats")
        ):
            return _BM25State(None)
        meta = PR.read_row(self._p("bm25_meta"))
        if meta.get("language", "en") != self.cfg.language:
            return _BM25State(None)
        listing = IS._listing(self._p("chunks"))
        src_fp = meta.get("chunks_src_fp")
        if src_fp is not None and IS._digest(listing) == src_fp:
            return _BM25State(meta, None, listing)
        if (
            listing is not None
            and None not in (meta.get("sum_dl"), meta.get("chunks_fp"))
            and IS.dir_fingerprint(self._p("term_stats")) == meta.get("term_stats_fp")
        ):
            new = IS._appended(self._p("bm25_sources"), listing, src_fp)
            if new is not None:
                return _BM25State(meta, None, listing, new)
        if chunks is None:
            chunks = self._read("chunks")
        fp = IS.content_fingerprint(chunks, "id", "originaltext")
        covered = IS._covered(chunks, self._p("chunks"))
        return _BM25State(meta if meta.get("chunks_fp") == fp else None, fp, covered)

    def _absorb_bm25(self, state: "_BM25State") -> dict | None:
        """Add the ``chunks/`` files of a pure append (``state.appended``)
        to the persisted BM25 index, on the driver, from the tokens
        ``database`` stored with them (``bm25_tokens`` / ``doc_length``,
        the ``bm25_token_set`` of ``originaltext`` under the KB's
        ``cfg.language``, as the index's own): one postings file per new
        file, named after it, so a retry after a kill rewrites its rows
        instead of adding them twice; ``df`` merged into ``term_stats``
        and ``idf`` derived from it with ``bm25.with_idf`` (one Spark
        job); ``n`` and ``sum_dl`` added up, ``avgdl = sum_dl / n``;
        ``chunks_fp`` plus the delta's fingerprint (one Spark job);
        then ``bm25_sources`` and ``meta`` last. The result equals a
        from-scratch build: the same integers, the same ``idf``
        expression. Returns the new meta, or None when a new file holds
        no usable tokens (a layout before them, a NULL text): the caller
        rebuilds."""
        from customkb_spark.operators import bm25 as B25

        meta = state.meta
        files = [os.path.join(self._p("chunks"), rel) for rel, _size, _mtime in state.appended]
        new = []
        for f in files:
            if not {"bm25_tokens", "doc_length"} <= set(pq.read_schema(f).names):
                return None
            t = pq.read_table(f, columns=["id", "bm25_tokens", "doc_length"])
            if t["bm25_tokens"].null_count or t["doc_length"].null_count:
                return None
            new.append((f, t, t["bm25_tokens"].combine_chunks()))
        for f, t, toks in new:
            rows = pc.list_parent_indices(toks)
            PR.write_rows(pa.table({
                "id": t["id"].take(rows),
                "dl": t["doc_length"].cast(pa.int32()).take(rows),
                "term": pc.list_flatten(toks),
            }), self._p("postings"), os.path.basename(f))
        old = PR.read_table(self._p("term_stats"))
        terms = pa.concat_arrays(
            [old["term"].combine_chunks()] + [pc.list_flatten(toks) for _f, _t, toks in new]
        )
        ones = pa.array(np.ones(len(terms) - old.num_rows, dtype=np.int64))
        counts = pa.concat_arrays([old["df"].combine_chunks().cast(pa.int64()), ones])
        merged = pa.table({"term": terms, "df": counts}).group_by("term").aggregate(
            [("df", "sum")]
        )
        n = int(meta["n_chunks"]) + sum(t.num_rows for _f, t, _toks in new)
        sum_dl = int(meta["sum_dl"]) + sum(pc.sum(t["doc_length"]).as_py() or 0 for _f, t, _toks in new)
        term_df = self.spark.createDataFrame(
            pa.table({"term": merged["term"], "df": merged["df_sum"]})
        )
        self._swap("term_stats", B25.with_idf(term_df, n))
        delta = IS.read_files(self.spark, files, ["id", "originaltext"])
        fp = int(meta["chunks_fp"]) + int(IS.content_fingerprint(delta, "id", "originaltext"))
        meta = {**meta, "n_chunks": n, "avgdl": sum_dl / n, "sum_dl": sum_dl, "chunks_fp": str(fp)}
        return self._commit_bm25("", "bm25_meta", meta, state.listing)

    # ---------------------------------------------------------- query
    def _invalidate(self) -> None:
        """Drop the built indexes — unpersisting the Spark form's cached
        DataFrames so repeated database/embed/query cycles in a
        long-lived session don't leak executor memory. A loaded tier's
        ``indexed`` is not cached, so it is left unread."""
        if self._index is not None:
            index = self._index
            for df in (index.chunks, index.vectors, index.postings, index.term_stats):
                try:
                    df.unpersist()
                except Exception:
                    pass
        self._index = self._resident = self._index_fp = None

    def _refresh(self) -> None:
        """Bring the persisted indexes up to date with ``chunks/`` and
        ``vectors/`` and, within ``cfg.index_memory_budget_mb``, load
        the resident index from the KB's tables with pyarrow; no Spark
        frame is made unless an index is (re)built or a delta absorbed.
        BM25 (``_bm25_index``) and the vector tier (``load_vector_index``)
        each absorb a pure append of new files on the driver, FAISS-add
        style, or are rebuilt and persisted.

        Runs whenever the listing of ``chunks/`` or ``vectors/``, or the
        directory of ``postings/`` or ``vindex/indexed``, changed since
        the last call, from this object or another process: parquet
        files are immutable, so two directory listings and two stats,
        with no Spark job, tell apart every write — appends, rewrites,
        and the swaps ``compact_indexes`` makes under frames a Spark
        plan may hold."""
        from customkb_spark.embedding.auto import build_vector_index

        fp = self._tables_fp()
        if fp == self._index_fp:
            return
        self._invalidate()
        vpath, vdir = self._p("vindex"), self._p("vectors")
        # reference lifecycle parity: load the persisted index tier
        # (<kb>.faiss analogue) instead of retraining; it is built and
        # saved here when stale or absent
        loaded = IS.load_vector_index(self.spark, vpath, None, source_dir=vdir)
        meta, _ = self._bm25_index()
        if loaded is None:
            tier = build_vector_index(self._read("vectors"), self.cfg, n=int(meta["n_chunks"]))
            IS.save_vector_index(tier, vpath, source_dir=vdir)
            if tier.indexed is not None:
                tier.indexed.unpersist()
        self._bm25_meta = meta
        # the sources as listed before they were read; the derived
        # tables as this call left them
        self._index_fp = fp[:2] + self._tables_fp()[2:]
        # None over the memory budget: then Spark plans serve
        self._resident = RI.ResidentIndex.load(
            self.kb_dir, int(meta["n_chunks"]), float(meta["avgdl"]), self.cfg
        )

    def _tables_fp(self) -> tuple:
        return tuple(IS.dir_fingerprint(self._p(t)) for t in _SOURCES) + tuple(
            _dir_identity(self._p(t)) for t in _DERIVED
        )

    def _build_index(self) -> HY.HybridIndex:
        """The Spark-plan form of the index over the persisted tables —
        for the query over the memory budget, reranking and
        ``query_batch`` — built on first use after each ``_refresh``."""
        self._refresh()
        if self._index is None:
            meta, vectors = self._bm25_meta, self._read("vectors")
            self._index = HY.HybridIndex.build(
                self._read("chunks").cache(), vectors, cfg=self.cfg,
                vindex=IS.load_vector_index(
                    self.spark, self._p("vindex"), vectors, source_dir=self._p("vectors")
                ),
                postings=self._read("postings"), term_stats=self._read("term_stats"),
                corpus=(int(meta["n_chunks"]), float(meta["avgdl"])),
            )
        return self._index

    def compact_indexes(self) -> None:
        """Fold the files appends add to the derived tables — one
        ``postings/`` file per absorbed chunks file, one
        ``vindex/indexed`` file per touched cluster per absorbed vectors
        file — into one postings file and one file per cluster, each
        table swapped in whole (``customkb optimize``). Pending appends
        are absorbed first, so no file of a killed absorb is folded in
        (its retry would add the rows again). A held KnowledgeBase sees
        the swaps (``_refresh``)."""
        if self._exists("chunks") and self._exists("vectors"):
            self._refresh()
        if self._exists("postings"):
            self._swap("postings", self._read("postings").coalesce(1))
        indexed = self._p("vindex/indexed")
        if os.path.isdir(indexed):
            PR.swap(indexed, lambda staged: IS.write_ivf_table(self._read("vindex/indexed"), staged))
            self.spark.catalog.refreshByPath(indexed)

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
        self._refresh()
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
                self._build_index(), query_text, cfg, categories=categories,
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
                    self._build_index(), fused, query_text, cfg, rerank_cache, rerank_sink
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
            out["pending_embed"] = self._pending_embed(chunks).count()
        # A7: schema-version aggregate over the migrations event log
        from customkb_spark.plans.migrations import get_current_schema_version

        out["schema_version"] = get_current_schema_version(self.spark, self.kb_dir)
        # persisted-index freshness: the same rules a query applies
        # (_bm25_freshness; store._tier_verdict), where "appendable" = a
        # query absorbs the new chunks / vectors files
        if chunks is None:
            out["bm25_index"] = "n/a"
        elif not self._exists("bm25_meta"):
            out["bm25_index"] = "absent"
        else:
            state = self._bm25_freshness(chunks)
            out["bm25_index"] = (
                "appendable" if state.appended is not None
                else "fresh" if state.meta is not None else "stale"
            )
        if self._exists("vindex") and self._exists("vectors"):
            out["vector_index"] = IS.index_freshness(
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
