"""MCP server shim — reference mcp_server/server.py:79-116 (S10).

The reference exposes each knowledgebase as an MCP search tool plus
discovery tools (list_knowledgebases / get_kb_info), each call shelling
out to ``customkb query -c``. Here the same tool surface maps straight
onto the in-process engine (KnowledgeBase.query) — no subprocess, one
shared SparkSession and one held KnowledgeBase per KB.

The ``mcp`` package is not in this container, so the transport layer is
dep-gated: ``serve()`` raises a clear error without it, while the tool
dispatch (``handle_tool_call``) — the part with engine semantics — is
plain Python and fully tested. Wiring FastMCP on top is three
``@mcp.tool`` decorators around these functions.

Base dir resolution mirrors the reference's VECTORDBS convention
(server.py:19): a knowledgebase is any subdirectory with a ``chunks``
table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from customkb_spark.config import KBConfig
from customkb_spark.http_api import _CFG_LOCK, query_context
from customkb_spark.kb import KnowledgeBase

DEFAULT_BASE = os.environ.get("VECTORDBS", "/var/lib/vectordbs")


def list_knowledgebases(base_dir: str = DEFAULT_BASE) -> list[str]:
    """KB discovery (reference get_available_kbs, server.py:119-131):
    subdirectories that contain an ingested chunks table."""
    if not os.path.isdir(base_dir):
        return []
    return sorted(
        name
        for name in os.listdir(base_dir)
        if not name.startswith(".")
        and os.path.isdir(os.path.join(base_dir, name, "chunks"))
    )


def _kb_cfg(base_dir: str, kb: str) -> KBConfig:
    """Per-KB config: the reference's <kb>.cfg name, falling back to
    the CLI's persisted kb.cfg — both must resolve here or MCP queries
    run under different settings (language!) than the index was built
    with."""
    named = os.path.join(base_dir, kb, f"{kb}.cfg")
    generic = os.path.join(base_dir, kb, "kb.cfg")
    return KBConfig.from_file(named if os.path.exists(named) else generic)


_ENGINES: dict = {}  # (session, kb_dir) → its held KnowledgeBase


def _engine(spark: SparkSession, base_dir: str, kb: str) -> KnowledgeBase:
    """The held engine of ``kb``, whose index survives between calls
    (its ``_build_index`` sees other writers); a changed .cfg file
    replaces it. Compared under ``_CFG_LOCK``, where no call has the
    engine's top_k changed."""
    kb_dir, cfg = os.path.join(base_dir, kb), _kb_cfg(base_dir, kb)
    with _CFG_LOCK:
        engine = _ENGINES.get((spark, kb_dir))
        if engine is None or engine.cfg != cfg:
            engine = _ENGINES[(spark, kb_dir)] = KnowledgeBase(spark, kb_dir, cfg)
    return engine


def get_kb_info(base_dir: str, kb: str, spark: SparkSession) -> dict:
    """Reference get_kb_info tool: existence + table stats."""
    if kb not in list_knowledgebases(base_dir):
        return {"name": kb, "available": False}
    return {"name": kb, "available": True, **_engine(spark, base_dir, kb).verify()}


def search_knowledgebase(
    spark: SparkSession,
    base_dir: str,
    kb: str,
    query: str,
    top_k: int = 50,
    output_format: str = "markdown",
) -> str:
    """The per-KB search tool (reference run_customkb_search,
    server.py:79-116): context-only query, formatted references out.
    Errors return as strings — MCP tools must not raise (the reference
    returns 'Error querying …' the same way)."""
    if kb not in list_knowledgebases(base_dir):
        return f"Error querying {kb}: unknown knowledgebase"
    try:
        return query_context(_engine(spark, base_dir, kb), query, top_k, output_format)
    except Exception as e:  # tool contract: never raise
        return f"Error querying {kb}: {e}"


def handle_tool_call(
    spark: SparkSession, name: str, arguments: dict, base_dir: str = DEFAULT_BASE
) -> object:
    """MCP dispatch: tool name + JSON arguments → result payload.

    Tools: ``list_knowledgebases`` (no args), ``get_kb_info`` (kb),
    ``search_<kb>`` / ``search_knowledgebase`` (kb, query, top_k,
    output_format) — the reference registers one search tool per KB;
    both addressing forms resolve here.
    """
    if name == "list_knowledgebases":
        return list_knowledgebases(base_dir)
    if name == "get_kb_info":
        return get_kb_info(base_dir, arguments["kb"], spark)
    if name == "search_knowledgebase":
        kb = arguments["kb"]
    elif name.startswith("search_"):
        kb = name[len("search_") :]
    else:
        return f"Error: unknown tool {name}"
    return search_knowledgebase(
        spark,
        base_dir,
        kb,
        arguments["query"],
        int(arguments.get("top_k", 50)),
        arguments.get("output_format", "markdown"),
    )


def serve(base_dir: str = DEFAULT_BASE) -> None:  # pragma: no cover - dep-gated
    """Run a FastMCP server exposing the tools above (transport layer;
    requires the ``mcp`` package, not in this container)."""
    try:
        from mcp.server.fastmcp import FastMCP
    except ImportError as e:
        raise NotImplementedError(
            "the 'mcp' package is not installed; use handle_tool_call "
            "for in-process dispatch"
        ) from e
    from customkb_spark.session import get_spark

    spark = get_spark("customkb-mcp")
    mcp = FastMCP("customkb")

    @mcp.tool()
    def list_kbs() -> list[str]:
        return list_knowledgebases(base_dir)

    @mcp.tool()
    def kb_info(kb: str) -> dict:
        return get_kb_info(base_dir, kb, spark)

    @mcp.tool()
    def search(kb: str, query: str, top_k: int = 50, output_format: str = "markdown") -> str:
        return search_knowledgebase(spark, base_dir, kb, query, top_k, output_format)

    mcp.run()
