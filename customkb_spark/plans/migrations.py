"""Schema migrations — A7, the reference's database/migrations.py
(schema_migrations tracking table; `get_current_schema_version` is the
MAX-version aggregate excluding rolled-back rows; `migrate_for_bm25`
is the canonical migration, adding bm25_tokens + doc_length columns).

Lakehouse form: the tracking table is an APPEND-ONLY parquet table
under ``<kb_dir>/schema_migrations`` — applied and rollback events are
separate rows (no in-place UPDATE), and the current version is a
grouped aggregate over the event log:

    version = max(v : has an applied event and no later rollback)

which is exactly the reference's ``MAX(version) WHERE applied_at IS
NOT NULL AND rollback_at IS NULL`` over an event-sourced table. Being
append-only (one file per event, ``functions/parquet_rows.write_rows``),
the log survives concurrent writers the same way the KB's other
sidecars do; it holds #migrations rows, so the driver reads and
aggregates it with pyarrow and no Spark job.

Migrations themselves follow the reference shape: idempotent (probe
the live schema first, return False when already applied), then record
the version. The BM25 migration materializes the token columns the
reference adds to SQLite — here a one-pass column-append rewrite of
the chunks table, which at 100 TB is a map-only job (no shuffle: the
new columns are per-row expressions), swapped in whole
(``parquet_rows.swap``) before the version is recorded.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from customkb_spark.functions.parquet_rows import data_files, read_files, write_rows

MIGRATIONS_TABLE = "schema_migrations"
MIGRATIONS_SCHEMA = pa.schema([
    ("version", pa.int64()), ("name", pa.string()), ("applied_at", pa.float64()),
    ("rollback_at", pa.float64()), ("description", pa.string()),
])


def get_current_schema_version(spark: SparkSession, kb_dir: str) -> int:
    """Reference get_current_schema_version (migrations.py:19-51): the
    highest version whose latest applied event postdates any rollback
    event; 0 when untracked. A version rolled back and later re-applied
    counts as applied again (the reference's in-place row clears
    ``rollback_at`` on re-apply; the append-only log expresses the same
    state by comparing max timestamps)."""
    log = read_files(
        data_files(os.path.join(kb_dir, MIGRATIONS_TABLE)), MIGRATIONS_SCHEMA
    )
    agg = [("applied_at", "max"), ("rollback_at", "max")]
    live = [
        r["version"] for r in log.group_by("version").aggregate(agg).to_pylist()
        if r["applied_at_max"] is not None
        and (r["rollback_at_max"] is None or r["applied_at_max"] > r["rollback_at_max"])
    ]
    return max(live, default=0)


def _append_event(kb_dir: str, **event) -> None:
    """One event row (absent columns null), as one new file of the log."""
    write_rows(
        pa.Table.from_pylist([event], schema=MIGRATIONS_SCHEMA),
        os.path.join(kb_dir, MIGRATIONS_TABLE),
    )


def record_migration(
    spark: SparkSession,
    kb_dir: str,
    version: int,
    name: str,
    description: str = "",
    now: float | None = None,
) -> None:
    """Reference record_migration: append an applied event."""
    _append_event(
        kb_dir, version=int(version), name=name, description=description,
        applied_at=time.time() if now is None else now,
    )


def record_rollback(
    spark: SparkSession,
    kb_dir: str,
    version: int,
    now: float | None = None,
) -> None:
    """Rollback marker (the reference's ``rollback_at`` column): a
    second event row; the version aggregate then skips this version."""
    _append_event(
        kb_dir, version=int(version), name="", description="",
        rollback_at=time.time() if now is None else now,
    )


BM25_MIGRATION_VERSION = 1


def migrate_for_bm25(kb) -> bool:
    """Reference migrate_for_bm25 (migrations.py:106-170): materialize
    ``bm25_tokens`` (the unique-token array, F3 contract) and
    ``doc_length`` onto the chunks table for hybrid search. Idempotent:
    returns False when the columns already exist.

    One map-only rewrite of the chunks table (per-row expressions, no
    shuffle); the tokenization uses the SAME language-gated contract as
    the postings build, so an index built later from these columns
    equals one built from raw text."""
    from customkb_spark.functions import text as X

    chunks = kb._read("chunks")
    if "bm25_tokens" in chunks.columns and "doc_length" in chunks.columns:
        return False
    toks = X.bm25_token_set("originaltext", language=kb.cfg.language)
    out = chunks.withColumn("bm25_tokens", toks).withColumn(
        "doc_length", F.size("bm25_tokens").cast("long")
    )
    kb._swap("chunks", out)
    record_migration(
        kb.spark, kb.kb_dir, BM25_MIGRATION_VERSION, "bm25_columns",
        "materialize bm25_tokens + doc_length on chunks",
    )
    return True


CATEGORIES_MIGRATION_VERSION = 2


def migrate_add_categories(kb) -> bool:
    """Reference migrate_add_categories (migrations.py:168-224):
    primary_category + categories columns (NULL until categorize runs).
    The reference's idx_primary_category has no parquet analogue — the
    category filter (P3) is a broadcast semi-join, and at scale the
    table can be re-written partitioned by primary_category for
    pruning. Idempotent on ``primary_category`` like the reference."""
    chunks = kb._read("chunks")
    if "primary_category" in chunks.columns:
        return False
    out = chunks.withColumn(
        "primary_category", F.lit(None).cast("string")
    ).withColumn("categories", F.lit(None).cast("array<string>"))
    kb._swap("chunks", out)
    record_migration(
        kb.spark, kb.kb_dir, CATEGORIES_MIGRATION_VERSION, "add_categories",
        "Added category columns for document classification",
    )
    return True


TIMESTAMPS_MIGRATION_VERSION = 3


def migrate_add_timestamps(kb) -> bool:
    """Reference migrate_add_timestamps (migrations.py:227-290):
    created_at/updated_at stamped at migration time. The reference's
    AFTER UPDATE trigger has no analogue in append-only tables —
    rewrites go through kb.database(force)/optimize, which stamp
    updated_at themselves. Idempotent on ``created_at``."""
    chunks = kb._read("chunks")
    if "created_at" in chunks.columns:
        return False
    now = F.current_timestamp()
    out = chunks.withColumn("created_at", now).withColumn("updated_at", now)
    kb._swap("chunks", out)
    record_migration(
        kb.spark, kb.kb_dir, TIMESTAMPS_MIGRATION_VERSION, "add_timestamps",
        "Added timestamp columns for tracking",
    )
    return True
