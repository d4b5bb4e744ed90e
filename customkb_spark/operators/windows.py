"""Window-function-shaped operators (SURVEY.md §2.9).

W1  rank assignment            → row_number over score desc
W3  consecutive-run grouping   → lag + cumulative sum of run starts
T6  positional sampling        → sid vs max(sid) per doc
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    n_buckets: int = 64,
    out_col: str = "running_total",
) -> DataFrame:
    """Scalable global prefix sum: ``SUM(value) OVER (ORDER BY order)``
    without the single-partition window Spark would otherwise plan for
    an unpartitioned ORDER BY (every row through one reducer — the
    classic 100-TB cliff).

    Two-phase, the distributed-scan textbook shape:

    1. rows are bucketed by explicit ``approxQuantile`` boundaries on
       ``order_col`` (explicit boundaries, NOT ``spark_partition_id()``
       after a range shuffle — physical partition ids are not stable
       under recomputation/AQE, value-derived buckets are);
    2. per-bucket totals (one partial-agg shuffle over ≤ ``n_buckets``
       groups) become exclusive bucket offsets via a window over the
       TINY per-bucket table, broadcast back;
    3. a within-bucket cumulative window (partitioned — parallelism =
       ``n_buckets``) plus the bucket offset gives the global prefix.

    ``order_col`` must be numeric and unique (ties would make "prefix"
    ill-defined). Size ``n_buckets`` ≈ cluster parallelism.

    The bucketed input is lazily ``localCheckpoint``-ed so the join's
    two branches (per-bucket totals and the probe side) read ONE
    materialization instead of recomputing the upstream plan twice —
    with an expression-heavy input (e.g. per-row tokenization) the
    recompute dominates. Total input evaluations: the quantile action
    plus one materialized pass.
    """
    col = F.col(order_col)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # scalar-bounded driver action (n_buckets-1 doubles), like the
    # corpus_stats collects — not a corpus-proportional materialization
    bounds = sorted(set(df.approxQuantile(order_col, qs, 0.001)))
    bucket = F.lit(0)
    for i, b in enumerate(bounds):
        bucket = F.when(col > F.lit(b), F.lit(i + 1)).otherwise(bucket)
    bucketed = df.withColumn("_rt_bucket", bucket).localCheckpoint(eager=False)
    per_bucket = bucketed.groupBy("_rt_bucket").agg(
        F.sum(value_col).alias("_rt_sum")
    )
    w_off = (
        Window.orderBy("_rt_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "_rt_bucket",
        F.coalesce(F.sum("_rt_sum").over(w_off), F.lit(0)).alias("_rt_offset"),
    )
    w_in = (
        Window.partitionBy("_rt_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(offsets), "_rt_bucket")
        .withColumn(out_col, F.sum(value_col).over(w_in) + F.col("_rt_offset"))
        .drop("_rt_bucket", "_rt_offset")
    )


def consecutive_runs(
    df: DataFrame,
    partition_col: str,
    order_col: str | list[str],
    value_col: str,
) -> DataFrame:
    """Group consecutive equal values into runs (reference formatter
    grouping, query/formatters.py:414-519).

    Returns one row per run: (partition, value, run_id, run_len,
    run_start, run_end). run_id is 1-based per partition.
    ``order_col`` may be a list — pass a unique tiebreaker (e.g. the
    event id) so run assignment is deterministic under equal keys.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(partition_col).orderBy(*order_cols)
    order_col = order_cols[0]
    is_new = F.when(
        F.lag(value_col).over(w).isNull()
        | (F.lag(value_col).over(w) != F.col(value_col)),
        1,
    ).otherwise(0)
    with_runs = df.withColumn("_new", is_new).withColumn(
        "run_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_runs.groupBy(partition_col, "run_id").agg(
        F.first(value_col).alias(value_col),
        F.count("*").alias("run_len"),
        F.min(order_col).alias("run_start"),
        F.max(order_col).alias("run_end"),
    )


def positional_sample(
    chunks: DataFrame, doc_col: str = "sourcedoc", sid_col: str = "sid"
) -> DataFrame:
    """Top/middle/bottom chunk per document (reference categorize
    sampling, categorize_manager.py:371-391): sid 0, ⌊max/2⌋, max."""
    w = Window.partitionBy(doc_col)
    flagged = chunks.withColumn("_max_sid", F.max(sid_col).over(w))
    pos = (
        F.when(F.col(sid_col) == 0, "top")
        .when(F.col(sid_col) == F.floor(F.col("_max_sid") / 2), "middle")
        .when(F.col(sid_col) == F.col("_max_sid"), "bottom")
    )
    return (
        flagged.withColumn("position", pos)
        .filter(F.col("position").isNotNull())
        .drop("_max_sid")
    )


def random_sample(
    df: DataFrame, n: int, seed: int = 42, order_col: str | None = None
) -> DataFrame:
    """T6 random sampling (reference ORDER BY RANDOM() LIMIT n,
    categorize_manager.py:124-143): seeded rand-ordered top-n.

    TakeOrderedAndProject under the hood — no full sort; the seed makes
    CI/test runs reproducible, unlike SQL RANDOM()."""
    tiebreak = [F.asc(order_col)] if order_col else []
    return df.orderBy(F.rand(seed), *tiebreak).limit(n)
