"""Driver-side parquet writes for the per-request side tables: the
query log (``plans/querylog.py``) and the query-embedding cache
(``embedding/query_cache.py``).

A request adds one row to each, written with pyarrow rather than by a
Spark job. The row goes to a dot-prefixed temp file in the table's
directory and is renamed into place: readers (Spark and pyarrow skip
names starting with ``.`` or ``_``) see the whole row or nothing, and
the row is in the table when the call returns. As with Spark's own
writes nothing is fsynced, so a power loss can drop the last rows.

``compact`` renames the merged file in before it removes the files it
replaces, so a crash in between leaves duplicate rows, never lost ones.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq


def data_files(directory: str) -> list[str]:
    """The data files of the table in ``directory`` (not its
    subdirectories), in name order; hidden and ``_``-prefixed files
    (temp files, Spark's ``_SUCCESS`` and ``.crc`` sidecars) are not
    data."""
    if not os.path.isdir(directory):
        return []
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def write_rows(table: pa.Table, directory: str) -> None:
    """Add ``table`` to the table in ``directory`` as one new file,
    atomically."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def read_files(files: list[str], schema: pa.Schema) -> pa.Table:
    """Concatenate ``files`` as ``schema``. Files written by Spark
    (INT96 timestamps, other list field names) cast to the same
    types."""
    if not files:
        return schema.empty_table()
    return pa.concat_tables(
        pq.read_table(f, columns=schema.names).cast(schema) for f in files
    )


def compact(directory: str, table: pa.Table, old_files: list[str]) -> None:
    """Replace ``old_files`` in ``directory`` by one file holding
    ``table``."""
    write_rows(table, directory)
    for f in old_files:
        os.remove(f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
