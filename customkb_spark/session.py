"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production targets a
multi-executor cluster. All scale-sensitive knobs (AQE, shuffle
partitions, Arrow) are set here so every entry point gets the same
execution profile.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-timezone is pinned to UTC so timestamp semantics match the
# DuckDB oracle (DuckDB parquet timestamps are UTC-naive).
_BASE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 100 TB note: the STATIC autoBroadcastJoinThreshold stays default
    # (10 MB) — estimator-based broadcasts of mis-estimated sides OOM
    # executors; we broadcast explicitly where the small side is
    # provably bounded (top-k hit sets, dimension tables, query
    # batches). The ADAPTIVE threshold is raised to 64 MB: AQE decides
    # from MEASURED shuffle sizes, so a 64 MB broadcast is safe and
    # converts mid-size build sides (e.g. ExactSubstr's filtered
    # duplicated-window table, ~32 MB at sf10) from a sort-merge join
    # that sorts the corpus-window-sized probe into a broadcast probe
    # that never shuffles it (measured 227 s -> 62 s on that join).
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.parquet.filterPushdown": "true",
    # The driver's events table stores TIMESTAMP(NANOS) (unsupported by
    # Spark's reader) — read as long and convert (see schema.read_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ContextCleaner only reclaims shuffle files / broadcast blocks when
    # the DRIVER GCs; with a 32 GiB heap that's rare, and a long session
    # (70-query bench, oracle sweeps) accumulates enough state to run
    # 5-20× slower by the end (measured). Force the cleanup cycle.
    "spark.cleaner.periodicGC.interval": "2min",
}


def get_spark(
    app_name: str = "customkb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    gpus_per_task: float | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or the host's CPU count
    (``os.cpu_count()``); on a real cluster the master is taken from
    the environment and this arg is ignored.

    ``gpus_per_task`` (or $SPARK_GRAFT_GPUS_PER_TASK) sets
    ``spark.task.resource.gpu.amount`` — the cluster-scheduling
    equivalent of the reference's GPU FAISS / GPU cross-encoder path
    (utils/gpu_utils.py:115-148, utils/faiss_loader.py:21-108): with it
    set, Spark co-schedules the model-inference pandas-UDF stages
    (embed M1, rerank M3) onto GPU-bearing executors, and the UDF reads
    its assigned device from ``TaskContext.get().resources()['gpu']``.
    Fractional values share one GPU between concurrent tasks (e.g. 0.25
    = 4 rerank tasks per device — the memory-aware batching the
    reference does per-process). No-op on this CPU-only container.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        # local mode runs every task in the driver JVM, whose default
        # heap is 1g — 32 concurrent explode tasks at the sf10 scale
        # point OOM there. Sized for the harness (128 GiB box); on a
        # real cluster the executor memory conf governs instead.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        )
    for k, v in build_conf(cpus, shuffle_partitions, extra_conf, gpus_per_task).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def build_conf(
    cpus: int,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    gpus_per_task: float | None = None,
) -> dict[str, str]:
    """Assemble the session conf (separated from get_spark so the
    GPU/extra-conf plumbing is testable without starting a session)."""
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    gpus = gpus_per_task or os.environ.get("SPARK_GRAFT_GPUS_PER_TASK")
    if gpus:
        # a task requirement alone fails SparkContext resource
        # validation — the executor must also advertise GPUs and, on
        # a real cluster, know how to discover them
        conf["spark.task.resource.gpu.amount"] = str(gpus)
        # executor amount must be >= the task requirement or context
        # validation rejects the pair
        import math

        default_exec = str(max(1, math.ceil(float(gpus))))
        conf.setdefault(
            "spark.executor.resource.gpu.amount",
            os.environ.get("SPARK_GRAFT_GPUS_PER_EXECUTOR", default_exec),
        )
        disc = os.environ.get("SPARK_GRAFT_GPU_DISCOVERY")
        if disc:
            conf.setdefault("spark.executor.resource.gpu.discoveryScript", disc)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session
    (the verify driver hands us its own SparkSession)."""
    for k, v in _BASE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static confs on a running session — ignore
            pass
    return spark


def get_task_resource_addresses(resource: str = "gpu") -> list[str]:
    """Worker-side: the resource addresses assigned to THIS task.

    The runtime consumer of the ``spark.task.resource.gpu.amount``
    plumbing in :func:`build_conf` — a Pandas-UDF/mapPartitions stage
    that needs a device calls this inside the worker to pin its work to
    the task's assigned GPU (the reference's per-process device
    selection, utils/gpu_utils.py:115-148; on Spark the scheduler hands
    each task its address set through ``TaskContext.resources()``
    instead of the process scanning the host).

    Returns ``[]`` off-task (driver code) or on a CPU-only session, so
    callers can fall back to CPU without probing the host.
    """
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is None:
        return []
    res = ctx.resources()
    if resource not in res:
        return []
    return [str(a) for a in res[resource].addresses]


def task_resource_report(
    spark: SparkSession, num_slots: int = 2, resource: str = "gpu"
) -> list[list[str]]:
    """Driver-side probe: run ``num_slots`` one-partition tasks that
    each read their :func:`get_task_resource_addresses` and return the
    per-task address lists — validates end-to-end that the conf
    declared by :func:`build_conf` actually materializes as scheduler
    assignments (``kb verify``'s GPU check)."""
    return (
        spark.sparkContext.parallelize(range(num_slots), num_slots)
        .mapPartitions(lambda _: [get_task_resource_addresses(resource)])
        .collect()
    )
