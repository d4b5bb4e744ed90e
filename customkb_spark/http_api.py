"""Retrieval HTTP API — reference scripts/retrieve_api.py (a thin
FastAPI wrapper exposing POST {"query"} → {"context"} for external
consumers such as nanochat's ``--retrieve-url``).

Same split as the MCP shim (mcp_shim.py): the request handling with
engine semantics (``retrieve_context`` / ``health_info``) is plain
Python and fully tested; the transport (FastAPI + uvicorn, neither in
this container) is dep-gated behind ``build_app``/``serve``. Wiring is
two route decorators around the tested core.

Reference behavior mirrored (retrieve_api.py:62-113):
- empty/whitespace query → empty context, no pipeline run;
- hybrid search with reranking off, context-only (no LLM answer);
- plain-text reference format;
- context truncated to ``max_chars`` (default 3000, top_k default 5);
- GET /health reports kb name + knob values.
"""

from __future__ import annotations

import threading

from customkb_spark.kb import KnowledgeBase

DEFAULT_MAX_CHARS = 3000
DEFAULT_TOP_K = 5

# per-call top_k rides on engine.cfg (KnowledgeBase.query has no knob
# parameter); the lock serializes the set-query-restore window so
# concurrent requests with different top_k can't race on shared config
# — the local Spark driver serializes the actual work anyway
_CFG_LOCK = threading.Lock()


def retrieve_context(
    engine: KnowledgeBase,
    query: str,
    max_chars: int = DEFAULT_MAX_CHARS,
    top_k: int | None = DEFAULT_TOP_K,
) -> str:
    """POST-body core: context-only hybrid retrieval, plain format,
    truncated. Never raises on bad input — empty/whitespace,
    control-chars-only, and oversized queries all return an empty
    context (the reference returns empty instead of 4xx)."""
    from customkb_spark.functions.security import sanitize_query_text

    query = (query or "").strip()
    if not query:
        return ""
    # sanitize HERE, narrowly: only the length/control-char rejection
    # maps to an empty context. A blanket except around engine.query
    # would also swallow internal config ValueErrors (e.g. an empty
    # vector_model) and mask a broken KB as empty-but-200 responses.
    try:
        query = sanitize_query_text(query)
    except ValueError:
        return ""
    if not query:
        return ""
    return (query_context(engine, query, top_k, "plain") or "")[:max_chars]


def query_context(
    engine: KnowledgeBase, query: str, top_k: int | None, fmt: str
) -> str:
    """Context-only ``engine.query`` with a per-call ``top_k`` (None
    keeps the engine's), set and restored under ``_CFG_LOCK``."""
    with _CFG_LOCK:
        prior_top_k = engine.cfg.query_top_k
        if top_k is not None:
            engine.cfg.query_top_k = int(top_k)
        try:
            return engine.query(query, context_only=True, fmt=fmt)
        finally:
            engine.cfg.query_top_k = prior_top_k


def health_info(
    engine: KnowledgeBase | None,
    max_chars: int = DEFAULT_MAX_CHARS,
    top_k: int = DEFAULT_TOP_K,
) -> dict:
    """GET /health payload (reference retrieve_api.py:53-60)."""
    name = None
    if engine is not None:
        name = getattr(engine.cfg, "kb_name", None) or engine.kb_dir
    return {
        "status": "ok",
        "kb": name,
        "top_k": top_k,
        "max_chars": max_chars,
    }


def build_app(
    engine: KnowledgeBase,
    max_chars: int = DEFAULT_MAX_CHARS,
    top_k: int = DEFAULT_TOP_K,
):  # pragma: no cover - dep-gated transport
    """FastAPI app over the tested core. Raises NotImplementedError
    without the package (same gate contract as mcp_shim.serve)."""
    try:
        from fastapi import FastAPI
        from pydantic import BaseModel
    except ImportError as e:
        raise NotImplementedError(
            "the 'fastapi' package is not installed; call "
            "retrieve_context directly for in-process retrieval"
        ) from e

    class QueryRequest(BaseModel):
        query: str

    class QueryResponse(BaseModel):
        context: str

    app = FastAPI(title="customkb-spark Retrieval API")

    @app.get("/health")
    def health():
        return health_info(engine, max_chars, top_k)

    @app.post("/", response_model=QueryResponse)
    def retrieve(req: QueryRequest):
        return QueryResponse(
            context=retrieve_context(engine, req.query, max_chars, top_k)
        )

    return app


def serve(
    kb_dir: str,
    host: str = "127.0.0.1",
    port: int = 8100,
    max_chars: int = DEFAULT_MAX_CHARS,
    top_k: int = DEFAULT_TOP_K,
) -> None:  # pragma: no cover - dep-gated transport
    """Run the API for one knowledgebase directory (reference CLI:
    ``retrieve_api.py --kb <name> --port 8100``)."""
    import uvicorn  # dep-gated

    from customkb_spark.config import KBConfig
    from customkb_spark.exceptions import KnowledgeBaseNotFoundError
    from customkb_spark.session import get_spark

    import os

    if not os.path.isdir(os.path.join(kb_dir, "chunks")):
        raise KnowledgeBaseNotFoundError(os.path.basename(kb_dir.rstrip("/")))
    cfg_path = os.path.join(kb_dir, "kb.cfg")
    cfg = KBConfig.from_file(cfg_path) if os.path.exists(cfg_path) else KBConfig()
    engine = KnowledgeBase(get_spark("customkb-http"), kb_dir, cfg)
    uvicorn.run(build_app(engine, max_chars, top_k), host=host, port=port)
