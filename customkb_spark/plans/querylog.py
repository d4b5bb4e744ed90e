"""Query log sink — reference S11 (query/processing.py:134-146):
append (ts, kb, query, elapsed, n_results) per query to a log table.

An append-only table keyed by day gives the reference's logs/query.log
semantics with partition pruning for retention/analytics:

    <kb_dir>/query_log/day=YYYY-MM-DD/  (ts, kb, query, elapsed_s, n_results)

``log_query`` writes its row with pyarrow, not Spark, so a request runs
no Spark job for its log line. The row is one new file, renamed into
place (``functions/parquet_rows.py``): when the call returns, the row is
in the table for any reader, and a killed process leaves no partial
file. Each query thus adds a file; ``compact_query_log`` (run by
``customkb optimize``) folds each day back to one. Reads and aggregates
stay Spark DataFrames.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from customkb_spark.functions.parquet_rows import (
    compact,
    data_files,
    read_files,
    write_rows,
)
from customkb_spark.functions.security import mask_sensitive_data

# the file layout; ``day`` is the partition directory, not a column
LOG_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us", tz="UTC")),
        ("kb", pa.string()),
        ("query", pa.string()),
        ("elapsed_s", pa.float64()),
        ("n_results", pa.int32()),
    ]
)


def log_query(
    spark: SparkSession,
    log_path: str,
    kb: str,
    query_text: str,
    elapsed_s: float,
    n_results: int,
) -> None:
    ts = dt.datetime.now(dt.timezone.utc)
    row = pa.Table.from_pydict(
        {
            "ts": [ts],
            "kb": [kb],
            # reference mask_sensitive_data before anything reaches a log:
            # a pasted API key must not be persisted in the query log table
            "query": [mask_sensitive_data(query_text)],
            "elapsed_s": [float(elapsed_s)],
            "n_results": [int(n_results)],
        },
        schema=LOG_SCHEMA,
    )
    write_rows(row, os.path.join(log_path, f"day={ts.date().isoformat()}"))


def compact_query_log(log_path: str) -> None:
    """Fold each ``day=`` partition into one file, rows in ``ts``
    order."""
    for day in sorted(glob.glob(os.path.join(log_path, "day=*"))):
        files = data_files(day)
        if len(files) > 1:
            compact(day, read_files(files, LOG_SCHEMA).sort_by("ts"), files)


def read_query_log(spark: SparkSession, log_path: str) -> DataFrame:
    return spark.read.parquet(log_path)


def query_stats(log: DataFrame) -> DataFrame:
    """Per-day latency/result aggregates over the log table."""
    return log.groupBy("day", "kb").agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg("elapsed_s"), 6).alias("avg_elapsed_s"),
        F.round(F.max("elapsed_s"), 6).alias("max_elapsed_s"),
        F.round(F.avg("n_results"), 6).alias("avg_results"),
    )
