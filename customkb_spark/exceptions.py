"""Typed error hierarchy — reference utils/exceptions.py (tested in
tests/unit/test_exceptions.py): one base carrying (message, details),
domain subclasses, and ``handle_exception`` mapping foreign errors
into the hierarchy.

Spark-side note: errors raised inside executors surface as
Py4J/PySparkException chains — ``handle_exception`` is the driver-side
boundary where they become typed engine errors (the reference does the
same for sqlite3/OpenAI errors at its manager boundaries).
"""

from __future__ import annotations

from typing import Any


class CustomKBError(Exception):
    """Base: message plus a structured details dict (rendered into
    ``str()`` so logs carry the context without custom formatting)."""

    def __init__(self, message: str, details: dict[str, Any] | None = None):
        super().__init__(message)
        self.message = message
        self.details = details or {}

    def __str__(self) -> str:
        if self.details:
            rendered = ", ".join(f"{k}={v}" for k, v in self.details.items())
            return f"{self.message} ({rendered})"
        return self.message


# -- configuration ----------------------------------------------------------


class ConfigurationError(CustomKBError):
    pass


class KnowledgeBaseNotFoundError(ConfigurationError):
    def __init__(self, kb_name: str, available_kbs: list | None = None):
        message = f"Knowledgebase '{kb_name}' not found"
        details: dict[str, Any] = {"kb_name": kb_name}
        if available_kbs:
            details["available"] = available_kbs
            message += f". Available: {', '.join(available_kbs)}"
        super().__init__(message, details)


# -- storage ----------------------------------------------------------------


class DatabaseError(CustomKBError):
    pass


class TableNotFoundError(DatabaseError):
    def __init__(self, table: str, kb_dir: str | None = None):
        details: dict[str, Any] = {"table": table}
        if kb_dir:
            details["kb_dir"] = kb_dir
        super().__init__(f"Table '{table}' not found", details)


class QueryError(DatabaseError):
    pass


# -- embedding / models -----------------------------------------------------


class EmbeddingError(CustomKBError):
    pass


class ModelNotAvailableError(EmbeddingError):
    def __init__(self, model: str, reason: str = ""):
        message = f"Model '{model}' not available"
        if reason:
            message += f": {reason}"
        super().__init__(message, {"model": model})


class CacheError(EmbeddingError):
    pass


# -- provider APIs ----------------------------------------------------------


class APIError(CustomKBError):
    pass


class RateLimitError(APIError):
    """Carries retry bookkeeping like the reference's RetryableError."""

    def __init__(self, message: str, retry_count: int = 0, max_retries: int = 3):
        super().__init__(
            message, {"retry_count": retry_count, "max_retries": max_retries}
        )
        self.retry_count = retry_count
        self.max_retries = max_retries

    def can_retry(self) -> bool:
        return self.retry_count < self.max_retries


# -- processing -------------------------------------------------------------


class ProcessingError(CustomKBError):
    pass


class DocumentProcessingError(ProcessingError):
    def __init__(self, filepath: str, reason: str = ""):
        message = f"Failed to process document '{filepath}'"
        if reason:
            message += f": {reason}"
        super().__init__(message, {"filepath": filepath})


def handle_exception(
    e: Exception, logger=None, raise_custom: bool = True
) -> CustomKBError | None:
    """Boundary mapper (reference exceptions.py:358+): foreign errors
    become typed engine errors; already-typed errors pass through.
    With ``raise_custom`` False the mapped error is returned for the
    caller to decide."""
    if isinstance(e, CustomKBError):
        mapped = e
    elif isinstance(e, FileNotFoundError):
        mapped = TableNotFoundError(str(e))
    elif isinstance(e, (ValueError, TypeError)):
        mapped = ConfigurationError(str(e))
    elif isinstance(e, (ConnectionError, TimeoutError)):
        mapped = APIError(str(e))
    else:
        try:
            from pyspark.errors import AnalysisException, PySparkException

            if isinstance(e, AnalysisException):
                mapped = QueryError(str(e))
            elif isinstance(e, PySparkException):
                mapped = DatabaseError(str(e))
            else:
                mapped = CustomKBError(str(e))
        except ImportError:  # pragma: no cover
            mapped = CustomKBError(str(e))
    if logger is not None:
        logger.error(str(mapped))
    if raise_custom:
        raise mapped from e
    return mapped
