"""Driver-side parquet tables: those whose rows the driver holds whole,
read and written with pyarrow rather than by Spark jobs — the
per-request side tables (query log, query-embedding cache) and the
index metadata (the vector tier's meta, centroids and PQ/SQ models,
``bm25_meta``, the ``schema_migrations`` log). Spark reads them too.

``write_rows`` adds a file as a dot-prefixed temp file renamed into
place: readers (Spark and pyarrow skip names starting with ``.`` or
``_``) see the whole file or nothing, and the rows are in the table
when the call returns. As with Spark's own writes nothing is fsynced,
so a power loss can drop the last rows.

``compact`` renames the merged file in before it removes the files it
replaces, so a crash in between leaves duplicate rows, never lost ones.

``replace`` swaps the whole directory: a reader sees the old rows, no
table, or the new rows, never a mix; a crash between its two renames
leaves the table absent, as a killed Spark overwrite can.
"""

from __future__ import annotations

import os
import shutil
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


def read_table(directory: str) -> pa.Table:
    """The table in ``directory`` with the columns its files hold;
    FileNotFoundError when it has no data file."""
    files = data_files(directory)
    if not files:
        raise FileNotFoundError(directory)
    return pa.concat_tables(pq.read_table(f) for f in files)


def read_row(directory: str) -> dict:
    """The first row of the table in ``directory``; a column a layout
    written before it existed lacks is absent from the dict."""
    return read_table(directory).to_pylist()[0]


def replace(table: pa.Table, directory: str) -> None:
    """Make ``table`` the whole table in ``directory``, as one file: it
    is written into a hidden sibling directory, renamed into place once
    the old directory, with all it held (Spark's ``_SUCCESS`` and
    ``.crc`` files too), is renamed aside and then removed."""
    parent, name = os.path.split(os.path.normpath(directory))
    tag = uuid.uuid4().hex
    staged, aside = (os.path.join(parent, f".{name}.{tag}.{s}") for s in ("new", "old"))
    os.makedirs(staged)
    pq.write_table(table, os.path.join(staged, f"part-{tag}.parquet"))
    if os.path.isdir(directory):
        os.rename(directory, aside)
    os.rename(staged, directory)
    shutil.rmtree(aside, ignore_errors=True)


def compact(directory: str, table: pa.Table, old_files: list[str]) -> None:
    """Replace ``old_files`` in ``directory`` by one file holding
    ``table``."""
    write_rows(table, directory)
    for f in old_files:
        os.remove(f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
