"""Security utilities — parity with the reference's utils/security_utils.py
(tested there in tests/unit/utils/test_security_utils.py).

Driver-side helpers for single strings (query entry points, config
loads, log writes) plus a column-expression twin for the one that runs
over data at scale (query sanitation in batch query sets). The
SQLite-specific pieces (safe_sql_in_query) don't exist here —
Spark/DuckDB plans are parameterized by construction — but the
name/table validation survives as guards on user-supplied identifiers
(KB names, table paths).
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

# control characters except \t (09), \n (0A), \r (0D)
_CTRL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
_CTRL_PATTERN_SQLSAFE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

# secret-shaped tokens, most specific first (reference
# security_utils.py:264-284): provider key prefixes, then any long
# opaque token
_MASK_RULES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"sk-ant-[a-zA-Z0-9_-]{95,}"), "sk-ant-***MASKED***"),
    (re.compile(r"sk-[a-zA-Z0-9]{40,}"), "sk-***MASKED***"),
    (re.compile(r"\b[a-zA-Z0-9]{32,}\b"), "***MASKED***"),
]

MAX_QUERY_LENGTH = 10_000


def sanitize_query_text(query: str, max_length: int = MAX_QUERY_LENGTH) -> str:
    """Reference sanitize_query_text (security_utils.py:189-213):
    reject empty/oversized queries, strip control characters (keeping
    newline/tab/CR), trim. Raises ValueError like the reference so the
    CLI/HTTP/MCP surfaces return a clear 4xx-style error instead of
    feeding garbage into tokenization."""
    if not query:
        raise ValueError("Query text cannot be empty")
    if len(query) > max_length:
        raise ValueError(f"Query too long. Maximum {max_length} characters allowed")
    return _CTRL_RE.sub("", query).strip()


def sanitize_query_col(col: Column | str) -> Column:
    """Column twin for batch query-set pipelines: same strip+trim (the
    length guard becomes the caller's filter — a row can't raise)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, _CTRL_PATTERN_SQLSAFE, ""))


def sanitize_config_value(value: str, max_length: int = 1000) -> str:
    """Reference sanitize_config_value: oversized values raise, control
    chars (including \\t/\\n/\\r here — config values are single-line)
    are stripped."""
    if len(value) > max_length:
        raise ValueError(f"Configuration value too long. Maximum {max_length} characters")
    return re.sub(r"[\x00-\x1F\x7F]", "", value).strip()


def mask_sensitive_data(text: str) -> str:
    """Reference mask_sensitive_data: API-key-shaped substrings →
    ***MASKED*** (Anthropic prefix first — it would otherwise be
    half-eaten by the generic OpenAI rule)."""
    for pattern, repl in _MASK_RULES:
        text = pattern.sub(repl, text)
    return text


def validate_table_name(table_name: str) -> bool:
    """Reference validate_table_name: identifier charset, no
    system-table prefixes, ≤64 chars."""
    if not table_name or len(table_name) > 64:
        return False
    if not re.match(r"^[a-zA-Z_][a-zA-Z0-9_]*$", table_name):
        return False
    lowered = table_name.lower()
    blocked = (
        "sqlite_master", "sqlite_temp_master", "sqlite_sequence",
        "information_schema", "pg_", "sys", "master", "msdb", "tempdb",
    )
    return not any(lowered.startswith(b) for b in blocked)


def validate_database_name(db_name: str) -> str:
    """Reference validate_database_name: identifier charset (plus . -),
    no traversal; returns the name or raises."""
    if not db_name:
        raise ValueError("Database name cannot be empty")
    if not re.match(r"^[a-zA-Z0-9_.-]+$", db_name):
        raise ValueError("Database name contains invalid characters")
    if ".." in db_name or db_name.startswith("/"):
        raise ValueError("Invalid database name: path traversal detected")
    return db_name


def validate_api_key(api_key: str, prefix: str | None = None, min_length: int = 20) -> bool:
    """Reference validate_api_key: non-empty, long enough, optional
    provider prefix, key-safe charset."""
    if not api_key or len(api_key) < min_length:
        return False
    if prefix and not api_key.startswith(prefix):
        return False
    return bool(re.match(r"^[a-zA-Z0-9_.-]+$", api_key))


def validate_safe_path(filepath: str, base_dir: str) -> bool:
    """Reference validate_safe_path: resolved path must stay under
    base_dir (prefix on the absolute forms)."""
    import os

    try:
        abs_path = os.path.abspath(filepath)
        abs_base = os.path.abspath(base_dir)
        return abs_path == abs_base or abs_path.startswith(abs_base + os.sep)
    except (OSError, ValueError):
        return False


def safe_json_loads(json_str: str, max_size: int = 10_000) -> dict[str, Any]:
    """Reference safe_json_loads: size-capped strict parse, ValueError
    on both failure modes (the LLM-tolerant variant is
    functions/llm_json.parse_llm_json — this one is for config/trusted
    inputs where malformed means broken, not creative)."""
    if len(json_str) > max_size:
        raise ValueError(f"JSON data too large. Maximum {max_size} characters")
    try:
        return json.loads(json_str)
    except json.JSONDecodeError as e:
        raise ValueError(f"Invalid JSON format: {e}") from e
