"""RAG-serving benchmark for customkb_spark.

    python3 perfbench/run.py --workload serve_interactive --seed 1 \\
        --seconds 18 --trace 0

Every run starts from a fresh copy of a knowledgebase (KB) of synthetic
documents, built once per checkout by the engine in it (cached under
``.perfbench_work/cache/``, keyed by the engine sources). It drives the
engine through its public surface for ``--seconds`` seconds with one
closed-loop client (each call waits for the previous one), checks every
answer, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md for every name).

Workloads (README.md says why each was chosen):

- ``serve_interactive``: single requests through
  ``http_api.retrieve_context`` (top_k 5, plain format, 3000-char cap);
  every 4th request repeats an earlier one.
- ``ingest_append``: cycles of append 5 documents → ``embed`` → one
  ``query`` that must return a chunk of the appended documents.

The runner fixes the environment itself: Spark runs as ``local[N]``
with N the CPUs this process may use, the driver heap is 2 GiB, the
checkout root is on ``PYTHONPATH`` (Python workers import the engine),
and every file the run writes (KB, Spark scratch, temp files) lives in
a fresh directory under ``.perfbench_work/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from spans import Tracer, patch, stage_totals, unpatch  # noqa: E402

WORKLOADS = ("serve_interactive", "ingest_append")

TOP_K = 5  # http_api default
MAX_CHARS = 3000  # http_api default
RECALL_K = 10
WARMUP_REQUESTS = 5
WARMUP_APPENDS = 1
STREAM_LEN = 1000  # upper bound on requests in one run
RECALL_QUERIES = 10
PROBE_QUERIES = 4
BATCH_PROBE_QUERIES = 100
# traced runs alternate traced and untraced blocks of this many
# operations, to measure tracing overhead; a workload without an entry
# (one long operation per run) traces all of them
TRACE_BLOCK = {"serve_interactive": 4}
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}

# name → (unit, span name, statistic). A statistic is the mean per call
# of the span over the timed phase (probe.* spans: over the probe pass),
# "calls" is the call count; metrics without a span are set directly.
PER_LAYER = {
    "kb.query.jobs": ("count", "kb.query", "jobs"),
    "kb.query.stages": ("count", "kb.query", "stages"),
    "kb.query.self_s": ("s", "kb.query", "self_s"),
    "hybrid.search_s": ("s", "hybrid.search", "incl_s"),
    "hybrid.fused_collect_s": ("s", "hybrid.query", "self_s"),
    "hybrid.context_s": ("s", "hybrid.context", "incl_s"),
    "hybrid.context_rows": ("count", "format", "rows"),
    "query_cache.probe_s": ("s", "query_cache.probe", "incl_s"),
    "query_cache.save_s": ("s", "query_cache.save", "incl_s"),
    "query_cache.hit_ratio": ("ratio", "query_cache.probe", "hits"),
    "query_cache.files": ("count", None, None),
    "querylog.write_s": ("s", "querylog.write", "incl_s"),
    "querylog.files": ("count", None, None),
    "format.s": ("s", "format", "incl_s"),
    "vindex.topk_s": ("s", "probe.vindex.topk", "incl_s"),
    "vindex.rows_scored_frac": ("ratio", "probe.vindex.topk", "rows_scored_frac"),
    "bm25.score_s": ("s", "probe.bm25.score", "incl_s"),
    "fusion.rrf_s": ("s", "probe.fusion.rrf", "incl_s"),
    "hybrid.query_batch_s": ("s", "probe.kb.query_batch", "incl_s"),
    "hybrid.query_batch_qps": ("1/s", None, None),
    "spark.tasks": ("count", None, None),
    "spark.task_cpu_frac": ("ratio", None, None),
    "embed.batch_query_s": ("s", "probe.embed.batch_query", "incl_s"),
    "bm25.score_batch_s": ("s", "probe.bm25.score_batch", "incl_s"),
    "format.batch_s": ("s", "probe.format.batch", "incl_s"),
    "kb.database_s": ("s", "kb.database", "incl_s"),
    "ingest.chunks": ("count", "kb.database", "chunks"),
    "ingest.bytes_per_input_byte": ("ratio", None, None),
    "kb.embed_s": ("s", "kb.embed", "incl_s"),
    "embed.texts_per_s": ("1/s", None, None),
    "embed_cache.hit_ratio": ("ratio", None, None),
    "kb.build_bm25_s": ("s", None, None),
    "bm25.postings_rebuilds": ("count", "bm25.build_postings", "calls"),
    "vindex.build_s": ("s", None, None),
    "vindex.load_s": ("s", "vindex.load", "incl_s"),
    "hybrid.index_build_s": ("s", "hybrid.index_build", "incl_s"),
    "session.start_s": ("s", None, None),
    "kb.build_chunks_per_s": ("1/s", None, None),
    "trace.op_traced_s": ("s", None, None),
    "trace.op_untraced_s": ("s", None, None),
    "trace.overhead_s": ("s", None, None),
    "trace.unattributed_s": ("s", None, None),
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: Path) -> None:
    """Fix the environment before the JVM starts; every path is inside
    the run's work directory."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    sys.path.insert(0, str(ROOT))
    os.chdir(work)


# ----------------------------------------------------------- processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and its descendants (JVM, Python
    workers)."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started to exit."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ------------------------------------------------------------- helpers
def _now() -> float:
    return time.perf_counter()


def _log(t_start: float, msg: str) -> None:
    print(f"# {_now() - t_start:7.2f}s {msg}", file=sys.stderr, flush=True)


def _parquet_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self, args, t_start: float):
        self.args = args
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.traced_latencies: list[float] = []
        self.metrics: dict[str, float] = {}
        self.tracer: Tracer | None = None
        self.input_bytes = 0  # appended text, ingest_append only
        self._undo: list = []

    # -------------------------------------------------------- set-up
    def setup(self) -> None:
        from customkb_spark.kb import KnowledgeBase

        cached = self._cached_kb()
        self.build = json.loads((cached / "build.json").read_text())
        self.start_session()
        self._capture_fused_hits()
        if self.args.trace:
            self.tracer = Tracer(self.sc)
            self._install_spans()
            self.tracer.enabled = True
        shutil.copytree(cached, "kb", ignore=shutil.ignore_patterns("build.json"))
        self.kb = KnowledgeBase(self.spark, "kb", self.cfg)

    def start_session(self) -> None:
        from customkb_spark.config import KBConfig
        from customkb_spark.session import get_spark

        self.inputs = gen.Inputs(self.args.seed)
        self.cfg = KBConfig(query_top_k=TOP_K)
        t = _now()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                # heap committed up front: a lazily grown heap makes the
                # process RSS depend on when the collector chose to grow it
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']}"
                ),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.metrics["session.start_s"] = _now() - t
        _log(self.t_start, "session started")
        self.sc = self.spark.sparkContext

    def _cold_build(self, kb_dir: str) -> dict:
        """documents → ``database`` → ``embed`` → ``build_bm25`` → the
        first ``query`` (which trains the vector index); returns the
        time of each step."""
        from customkb_spark.embedding import auto
        from customkb_spark.kb import KnowledgeBase

        gen.write_parquet(self.inputs.corpus(), "corpus.parquet")
        kb = KnowledgeBase(self.spark, kb_dir, self.cfg)
        docs = self.spark.read.parquet("corpus.parquet")
        out = {"vindex_build_s": 0.0}

        def make(func):
            def wrapper(*args, **kwargs):
                t = _now()
                try:
                    return func(*args, **kwargs)
                finally:
                    out["vindex_build_s"] += _now() - t

            return wrapper

        undo = patch(auto, "build_vector_index", make)
        try:
            t = [_now()]
            out["chunks"] = kb.database(docs)
            t.append(_now())
            kb.embed()
            t.append(_now())
            kb.build_bm25()
            t.append(_now())
            kb.query(self.inputs.distinct_queries(1)[0], log=False)
            t.append(_now())
        finally:
            unpatch(undo)
        for i, step in enumerate(("database_s", "embed_s", "build_bm25_s", "first_query_s")):
            out[step] = t[i + 1] - t[i]
        out["total_s"] = t[-1] - t[0]
        _log(self.t_start, f"KB built: {out['chunks']} chunks in {out['total_s']:.2f}s")
        # the timed operations leave the base KB's vector index as it is
        # (appends extend it), so its recall is a property of the build
        out["recall_at_10"] = self.recall(kb_dir)
        _log(self.t_start, "recall checked")
        return out

    def _cached_kb(self) -> Path:
        """The base KB, built once per checkout by this engine version
        (on a miss, by a child process, so that the run itself goes on
        in a JVM as fresh as every other run's), with the cold build's
        step times in its ``build.json``. Every run starts from a copy
        of it."""
        h = hashlib.sha256()
        for f in sorted((ROOT / "customkb_spark").rglob("*.py")) + sorted(HERE.glob("*.py")):
            h.update(f.relative_to(ROOT).as_posix().encode() + f.read_bytes())
        cache = ROOT / ".perfbench_work" / "cache"
        kb = cache / f"kb-{h.hexdigest()[:16]}"
        if not kb.is_dir():
            tmp = cache / f"tmp-{os.getpid()}"
            try:
                subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--build-kb", str(tmp)],
                    stdout=sys.stderr, check=True,
                )
                tmp.rename(kb)
            except OSError:
                if not kb.is_dir():  # not a concurrent build that won
                    raise
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        return kb

    def _capture_fused_hits(self) -> None:
        """Keep the fused (id, score) rows the served path hands to
        context retrieval, for the output check. Costs one Python call."""
        from customkb_spark.plans import hybrid as HY

        self.fused: list = []

        def make(func):
            def wrapper(index, fused_rows, *args, **kwargs):
                self.fused = list(fused_rows)
                return func(index, fused_rows, *args, **kwargs)

            return wrapper

        self._undo += patch(HY, "retrieve_context_hits", make)

    def _install_spans(self) -> None:
        from customkb_spark import kb as KB
        from customkb_spark.embedding import query_cache, store
        from customkb_spark.operators import bm25
        from customkb_spark.plans import formatters, hybrid, querylog

        tr = self.tracer

        def rows(s, args, kwargs, out):
            s.attrs["rows"] = len(args[0])

        def chunks(s, args, kwargs, out):
            s.attrs["chunks"] = out

        def hit(s, args, kwargs, out):
            s.attrs["hits"] = int(out is not None)

        tr.wrap(KB.KnowledgeBase, "query", "kb.query")
        tr.wrap(KB.KnowledgeBase, "database", "kb.database", chunks)
        tr.wrap(KB.KnowledgeBase, "embed", "kb.embed", chunks)
        tr.wrap(KB.KnowledgeBase, "build_bm25", "kb.build_bm25")
        tr.wrap(hybrid, "query", "hybrid.query")
        tr.wrap(hybrid, "hybrid_search", "hybrid.search")
        tr.wrap(hybrid, "retrieve_context_hits", "hybrid.context")
        tr.wrap(hybrid.HybridIndex, "build", "hybrid.index_build")
        tr.wrap(query_cache, "probe_query_embedding", "query_cache.probe", hit)
        tr.wrap(query_cache, "save_query_embedding", "query_cache.save")
        tr.wrap(querylog, "log_query", "querylog.write")
        tr.wrap(formatters, "format_references", "format", rows)
        tr.wrap(store, "load_vector_index", "vindex.load")
        tr.wrap(bm25, "build_postings", "bm25.build_postings")

    # ----------------------------------------------------- workloads
    def serve_interactive(self) -> None:
        from customkb_spark import http_api

        first = self.inputs.distinct_queries(1)[0]
        if not self.kb.query(first):
            raise RuntimeError("first query on the KB returned no context")
        _log(self.t_start, "KB answers queries")
        self.stream = stream = self.inputs.interactive_stream(STREAM_LEN)
        for q in self.inputs.distinct_queries(WARMUP_REQUESTS):
            t = _now()
            http_api.retrieve_context(self.kb, q, max_chars=MAX_CHARS, top_k=TOP_K)
            _log(self.t_start, f"warm-up request: {_now() - t:.3f}s")
        chunks = self.spark.read.parquet("kb/chunks").select(
            "id", "sourcedoc", "doc_id", "sid", "originaltext"
        )
        self.chunk_rows = {r["id"]: r for r in chunks.collect()}

        def op(q):
            ctx = http_api.retrieve_context(self.kb, q, max_chars=MAX_CHARS, top_k=TOP_K)
            return self._check_context(ctx), None

        self._timed_loop(stream, op)

    def _check_context(self, ctx: str) -> bool:
        """Non-empty, within the cap, opens with the section of the hit
        the formatter orders first, and holds the top fused hit's chunk
        text unless the cap cut the context short."""
        if not ctx or len(ctx) > MAX_CHARS or not self.fused:
            return False
        hits = [self.chunk_rows[r["id"]] for r in self.fused]
        first = min(hits, key=lambda r: (r["sourcedoc"], r["doc_id"], r["sid"]))
        best = self.chunk_rows[max(self.fused, key=lambda r: r["score"])["id"]]
        return (
            ctx.startswith(f"{first['sourcedoc']} [")
            and first["originaltext"] in ctx
            and (best["originaltext"] in ctx or len(ctx) == MAX_CHARS)
        )

    def ingest_append(self) -> None:
        def batches():
            for b in itertools.count():
                docs, query, token = self.inputs.append_batch(b)
                path = f"append{b:04d}.parquet"
                nbytes = gen.write_parquet(docs, path)
                yield self.spark.read.parquet(path), query, token, nbytes

        def op(batch):
            docs, query, token, nbytes = batch
            t = _now()
            n = self.kb.database(docs)
            self.kb.embed()
            ctx = self.kb.query(query)
            dt = _now() - t
            self.input_bytes += nbytes
            return n > 0 and token in ctx, dt

        # the first append of a fresh JVM also starts the Python workers
        # and compiles the write path; it takes about twice as long as the
        # next
        stream = batches()
        for batch in itertools.islice(stream, WARMUP_APPENDS):
            ok, dt = op(batch)
            if not ok:
                raise RuntimeError("warm-up append is not visible to the next query")
            _log(self.t_start, f"warm-up append: {dt:.3f}s")
        self.input_bytes = 0
        self.chunks_bytes0 = _dir_bytes("kb/chunks")
        self._timed_loop(stream, op)

    def _timed_loop(self, ops, op) -> None:
        """Closed loop: run ``op`` on each input while the next one, if it
        takes as long as the last, ends within ``--seconds`` (the first
        always runs). ``op`` returns (ok, latency or None for its own wall
        time)."""
        tr = self.tracer
        block = TRACE_BLOCK.get(self.args.workload)
        self.metrics["setup_s"] = _now() - self.t_start
        _log(self.t_start, "set-up done, timed phase starts")
        if tr is not None:
            tr.phase = "run"
        deadline = _now() + self.args.seconds
        last = 0.0
        for i, x in enumerate(ops):
            if i and _now() + last > deadline:
                break
            traced = tr is not None and (block is None or (i // block) % 2 == 0)
            if tr is not None:
                tr.enabled = traced
            self.attempted += 1
            t = _now()
            try:
                if tr is not None:
                    with tr.span("op"):
                        out = op(x)
                else:
                    out = op(x)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            finally:
                last = _now() - t
            dt = out[1] if out[1] is not None else last
            if not out[0]:
                print(f"check failed on operation {i}: {x!r}", file=sys.stderr)
                self.failed += 1
                continue
            (self.traced_latencies if traced else self.latencies).append(dt)
            _log(self.t_start, f"op {i}: {dt:.3f}s{' traced' if traced else ''}")
        if tr is not None:
            tr.enabled = True
            tr.phase = "probe"
        self.metrics["peak_rss_mb"] = peak_rss_mb()

    # ---------------------------------------------------------- oracle
    def _served_index(self):
        """The KB's hybrid index for the probe passes, rebuilt through the
        public surface from the tables the served path reads."""
        from customkb_spark.embedding.store import load_vector_index
        from customkb_spark.plans.hybrid import HybridIndex

        chunks = self.spark.read.parquet("kb/chunks").cache()
        vectors = self.spark.read.parquet("kb/vectors")
        vindex = load_vector_index(self.spark, "kb/vindex", vectors, source_dir="kb/vectors")
        return HybridIndex.build(chunks, vectors, cfg=self.cfg, vindex=vindex)

    def recall(self, kb_dir: str) -> float:
        """ANN recall@10 of the served vector tier: overlap of its top-10
        (``VectorIndexTier.topk``, the call the single-query path makes)
        with the exact cosine top-10 over every stored vector, computed
        here with numpy, over a fixed probe set of ``RECALL_QUERIES``
        queries (the same for every seed, so the value only moves when
        the engine does). Fusion adds the same BM25 list on both sides,
        so a tier that loses neighbours is the only way to lose fused
        hits. The probe vectors come from the engine's batch embedder."""
        import numpy as np
        import pandas as pd

        from customkb_spark.embedding.embedder import embed_texts
        from customkb_spark.embedding.store import load_vector_index
        from customkb_spark.operators.topk import brute_force_topk

        cfg = self.cfg
        qs = self.inputs.probe_queries(RECALL_QUERIES)
        frame = self.spark.createDataFrame(
            pd.DataFrame({"qid": range(len(qs)), "query_text": qs})
        )
        embedded = embed_texts(
            frame, "qid", "query_text", cfg.vector_model, cfg.vector_dimensions
        ).collect()
        qvecs = np.array([r["vector"] for r in sorted(embedded, key=lambda r: r["id"])])
        vectors = self.spark.read.parquet(f"{kb_dir}/vectors")
        rows = vectors.collect()
        ids = np.array([r["id"] for r in rows])
        mat = np.array([r["vector"] for r in rows], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = qvecs.astype(np.float64) @ mat.T
        tier = load_vector_index(
            self.spark, f"{kb_dir}/vindex", vectors, source_dir=f"{kb_dir}/vectors"
        )
        hits = []
        for qv, sim in zip(qvecs.tolist(), sims):
            served = (
                tier.topk(qv, RECALL_K, cfg.faiss_nprobe) if tier is not None
                else brute_force_topk(vectors, qv, RECALL_K)
            ).collect()
            exact = ids[np.argsort(-sim, kind="stable")[:RECALL_K]]
            hits.append(len({r["id"] for r in served} & set(exact.tolist())) / RECALL_K)
        return statistics.fmean(hits)

    # ---------------------------------------------------------- probes
    def probe_interactive(self, index) -> None:
        """Per-layer probes on the single-query path: force each lazy
        layer on the run's own queries and time it alone."""
        from customkb_spark.embedding.embedder import get_provider
        from customkb_spark.embedding.index import nearest_clusters
        from customkb_spark.operators import bm25 as B
        from customkb_spark.operators import fusion as FU
        from customkb_spark.plans.hybrid import query_terms

        from customkb_spark.operators.topk import brute_force_topk

        cfg, tr, vi = self.cfg, self.tracer, index.vindex
        sizes = None
        if vi is not None and vi.kind == "ivf":
            sizes = {r[0]: r[1] for r in vi.indexed.groupBy("cluster_id").count().collect()}
        provider = get_provider(cfg.vector_model, cfg.vector_dimensions)
        for q in list(dict.fromkeys(self.stream[: self.attempted]))[:PROBE_QUERIES]:
            qv = provider.get_embeddings([q])[0].tolist()
            with tr.span("probe.vindex.topk") as s:
                vec = (
                    vi.topk(qv, cfg.query_top_k, cfg.faiss_nprobe) if vi is not None
                    else brute_force_topk(index.vectors, qv, cfg.query_top_k)
                ).localCheckpoint()
            s.attrs["rows_scored_frac"] = 1.0 if sizes is None else sum(
                sizes.get(c, 0)
                for c in nearest_clusters(qv, vi.centroids, min(cfg.faiss_nprobe, len(vi.centroids)))
            ) / sum(sizes.values())
            with tr.span("probe.bm25.score"):
                kw = B.bm25_score(
                    index.postings, index.term_stats,
                    query_terms(q, cfg.bm25_min_token_length, cfg.language),
                    index.avgdl, cfg.bm25_k1, cfg.bm25_b, cfg.bm25_max_results,
                ).localCheckpoint()
            with tr.span("probe.fusion.rrf"):
                FU.rrf_fuse(vec, kw, cfg.rrf_k, cfg.query_top_k).collect()

    def probe_batch(self, index) -> None:
        """Batch-path probes: ``KnowledgeBase.query_batch`` on one frame
        of distinct queries (results forced and checked), then its
        layers one at a time on the same frame."""
        import pandas as pd
        from pyspark.sql import functions as F

        from customkb_spark.embedding.embedder import embed_texts
        from customkb_spark.functions import text as X
        from customkb_spark.operators import bm25 as B
        from customkb_spark.plans.formatters import format_references_batch
        from customkb_spark.plans.hybrid import query_batch

        cfg, tr = self.cfg, self.tracer
        qs = self.inputs.distinct_queries(BATCH_PROBE_QUERIES)
        frame = self.spark.createDataFrame(
            pd.DataFrame({"qid": range(len(qs)), "query_text": qs})
        ).localCheckpoint()
        with tr.span("probe.kb.query_batch") as s:
            refs = self.kb.query_batch(frame).collect()
        wall = s.duration
        if sorted(r["qid"] for r in refs if r["reference_string"]) != list(range(len(qs))):
            raise RuntimeError("query_batch did not return one reference per query")
        tasks, run_s = stage_totals(self.sc, s.group)
        self.metrics["hybrid.query_batch_qps"] = len(qs) / wall
        self.metrics["spark.tasks"] = tasks
        self.metrics["spark.task_cpu_frac"] = run_s / (wall * _cpus())
        with tr.span("probe.embed.batch_query"):
            embed_texts(
                frame, "qid", "query_text", cfg.vector_model, cfg.vector_dimensions
            ).localCheckpoint()
        terms = frame.select(
            "qid",
            F.explode_outer(
                X.bm25_token_set("query_text", language=cfg.language, ordered=False)
            ).alias("term"),
        ).filter(F.length("term") >= cfg.bm25_min_token_length)
        with tr.span("probe.bm25.score_batch"):
            B.bm25_score_batch(
                index.postings, index.term_stats, terms, index.avgdl,
                cfg.bm25_k1, cfg.bm25_b, cfg.bm25_max_results,
            ).collect()
        ctx = query_batch(index, frame, cfg).localCheckpoint()
        with tr.span("probe.format.batch"):
            format_references_batch(ctx, "plain").collect()

    # --------------------------------------------------------- results
    def finish(self) -> dict:
        from customkb_spark.functions import cache_stats

        _log(self.t_start, "timed phase done")
        correct = self.failed == 0 and self.attempted > 0
        lat = self.latencies or [0.0]
        if self.args.trace:
            if self.args.workload == "serve_interactive":
                index = self._served_index()
                self.probe_interactive(index)
                self.probe_batch(index)
            metrics = self._layer_metrics(cache_stats.snapshot())
            units = {k: v[0] for k, v in PER_LAYER.items()}
        else:
            metrics = {
                "setup_s": self.metrics["setup_s"],
                "latency_p50_s": statistics.median(lat),
                "recall_at_10": self.build["recall_at_10"],
                "peak_rss_mb": self.metrics["peak_rss_mb"],
            }
            units = END_TO_END
        _log(self.t_start, "checks done")
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def _layer_metrics(self, cache_snapshot: dict) -> dict:
        tr = self.tracer
        tr.resolve_jobs()
        run, probe = tr.summary("run"), tr.summary("probe")
        out = {}
        for name, (_, span, stat) in PER_LAYER.items():
            if span is None:
                out[name] = float(self.metrics.get(name, 0.0))
                continue
            src = probe if span.startswith("probe.") else run
            a = src.get(span)
            if not a or not a["calls"]:
                out[name] = 0.0
            elif stat == "calls":
                out[name] = float(a["calls"])
            else:
                out[name] = a.get(stat, 0.0) / a["calls"]
        out["kb.build_chunks_per_s"] = self.build["chunks"] / self.build["total_s"]
        out["kb.build_bm25_s"] = self.build["build_bm25_s"]
        out["vindex.build_s"] = self.build["vindex_build_s"]
        out["query_cache.files"] = float(_parquet_files("kb/query_emb_cache"))
        out["querylog.files"] = float(_parquet_files("kb/query_log"))
        emb = run.get("kb.embed")
        if emb and emb["incl_s"]:
            out["embed.texts_per_s"] = emb["chunks"] / emb["incl_s"]
        if self.input_bytes:
            out["ingest.bytes_per_input_byte"] = (
                _dir_bytes("kb/chunks") - self.chunks_bytes0
            ) / self.input_bytes
        ec = cache_snapshot.get("embedding", {})
        if ec.get("hits", 0) + ec.get("misses", 0):
            out["embed_cache.hit_ratio"] = ec["hits"] / (ec["hits"] + ec["misses"])
        ops = [s for s in tr.spans if s.name == "op" and s.phase == "run"]
        if ops:
            out["trace.unattributed_s"] = statistics.fmean(s.self_s for s in ops)
        if self.traced_latencies and self.latencies:
            out["trace.op_traced_s"] = statistics.fmean(self.traced_latencies)
            out["trace.op_untraced_s"] = statistics.fmean(self.latencies)
            out["trace.overhead_s"] = out["trace.op_traced_s"] - out["trace.op_untraced_s"]
        return out

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.close()
        unpatch(self._undo)
        if getattr(self, "spark", None) is not None:
            stop_spark(self.spark)


def build_kb(out: Path) -> int:
    """Build the base KB into ``out``, with ``build.json``."""
    work = ROOT / ".perfbench_work" / f"build-{os.getpid()}"
    work.mkdir(parents=True)
    bench = Bench(argparse.Namespace(seed=0, trace=0), _now())
    try:
        _prepare_env(work)
        bench.start_session()
        timings = bench._cold_build(str(out))
        (out / "build.json").write_text(json.dumps(timings))
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    return 0


def main(argv=None) -> int:
    t_start = _now()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "customkb_spark" / "__init__.py").is_file():
        print(f"customkb_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    cwd = os.getcwd()
    bench = Bench(args, t_start)
    try:
        _prepare_env(work)
        bench.setup()
        getattr(bench, args.workload)()
        result = bench.finish()
    finally:
        bench.close()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--build-kb"]:
        sys.exit(build_kb(Path(sys.argv[2])))
    sys.exit(main())
