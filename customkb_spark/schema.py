"""Canonical table schemas.

The reference stores one row per text chunk in SQLite (``docs`` table,
database/connection.py:100-122) with JSON-in-TEXT nested data. The Spark
model upgrades those to native Array/Map/Struct types (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# The one fact table. Partitioning note for 100 TB: partition by a hash
# bucket of ``sourcedoc`` (co-locates each document's chunks for the
# context range join J2) and sort/cluster files by (sourcedoc, sid) so
# the covering-index access pattern (reference index_manager.py:161)
# becomes parquet row-group pruning.
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),  # global chunk id == vector id
        T.StructField("sid", T.IntegerType(), False),  # per-doc sequence
        T.StructField("sourcedoc", T.StringType(), False),
        T.StructField("originaltext", T.StringType(), True),
        T.StructField("embedtext", T.StringType(), True),
        T.StructField("embedded", T.BooleanType(), False),
        T.StructField("language", T.StringType(), True),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("char_length", T.IntegerType(), True),
                    T.StructField("word_count", T.IntegerType(), True),
                    T.StructField("file_type", T.StringType(), True),
                    T.StructField("heading", T.StringType(), True),
                    T.StructField("section_type", T.StringType(), True),
                    T.StructField(
                        "entities",
                        T.MapType(T.StringType(), T.ArrayType(T.StringType())),
                        True,
                    ),
                ]
            ),
            True,
        ),
        T.StructField("bm25_tokens", T.ArrayType(T.StringType()), True),
        T.StructField("doc_length", T.IntegerType(), True),
        T.StructField("keyphrase_processed", T.BooleanType(), True),
        T.StructField("primary_category", T.StringType(), True),
        T.StructField("categories", T.ArrayType(T.StringType()), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

# Vector sidecar (reference: FAISS file) — a plain table column setup:
# id ↔ float vector. At scale, bucket by ``cluster_id`` (IVF) so probe
# queries prune partitions instead of scanning all vectors.
VECTORS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
        T.StructField("cluster_id", T.IntegerType(), True),  # IVF assignment
    ]
)
