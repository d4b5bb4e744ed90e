"""The per-request side tables — query log and query-embedding cache —
written driver-side with pyarrow: the single in-memory cache tier's
contract, compaction by ``optimize``, and tables that already hold
files written by Spark."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from customkb_spark.embedding import query_cache as QC
from customkb_spark.functions.parquet_rows import data_files
from customkb_spark.plans import querylog as QL


# the query cache's layout as the Spark writer declared it
CACHE_DDL = "cache_key string, embedding array<double>, created_at double"


def _names(path):
    return [f for _, _, fs in os.walk(path) for f in fs]


@pytest.fixture(autouse=True)
def _fresh_memo():
    QC._MEMO.clear()
    yield
    QC._MEMO.clear()


def test_query_cache_single_tier_contract(spark, tmp_path):
    path = str(tmp_path / "qc")
    assert QC.probe_query_embedding(spark, path, "q", "m") is None
    QC.save_query_embedding(spark, path, "q", "m", [1.0, 2.0])
    assert QC.probe_query_embedding(spark, path, "q", "m") == [1.0, 2.0]
    # no temp file is left behind by a write
    assert not [f for f in _names(path) if f.startswith(".")]

    # a new process (empty memo) sees the entries written earlier
    QC._MEMO.clear()
    assert QC.probe_query_embedding(spark, path, "q", "m") == [1.0, 2.0]

    # a row another writer adds after the load is a memo miss, which is
    # a miss; prune_expired forces the reload that picks it up
    spark.createDataFrame(
        [(QC.query_cache_key("q2", "m"), [3.0], 9e12)], CACHE_DDL
    ).write.mode("append").parquet(path)
    assert QC.probe_query_embedding(spark, path, "q2", "m") is None
    assert QC.prune_expired(spark, path) == 2
    assert QC.probe_query_embedding(spark, path, "q2", "m") == [3.0]

    # a table deleted under a live process reads as a miss
    shutil.rmtree(path)
    assert QC.probe_query_embedding(spark, path, "q", "m") is None


def test_concurrent_memo_updates_stay_bounded(monkeypatch):
    """Request threads share one table's memo; with every update past
    the bound evicting an entry, no interleaving may raise or leave the
    memo over its bound."""
    import sys
    import threading

    monkeypatch.setattr(QC, "_MEMO_MAX", 16)
    entries: dict = {}
    n_threads, n_puts = 8, 5000
    errors = []

    def saver(t):
        try:
            for j in range(n_puts):
                QC._memo_put(entries, f"k{t}-{j}", [float(j)], float(j))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=saver, args=(t,)) for t in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(th.is_alive() for th in threads)
    assert len(entries) == 16


def _log_rows(spark, path):
    cols = ("ts", "kb", "query", "elapsed_s", "n_results", "day")
    return sorted(tuple(r) for r in QL.read_query_log(spark, path).select(*cols).collect())


def _stats(spark, path):
    return sorted(tuple(r) for r in QL.query_stats(QL.read_query_log(spark, path)).collect())


def test_optimize_bounds_request_files(spark, tmp_path, capsys):
    from customkb_spark import cli

    kb_dir = str(tmp_path / "kb")
    log_path = os.path.join(kb_dir, "query_log")
    cache_path = os.path.join(kb_dir, "query_emb_cache")
    n = 6
    # the per-request calls get no session: they run no Spark job
    for i in range(n):
        QL.log_query(None, log_path, "kb", f"query {i}", 0.1 * (i + 1), i)
        QC.save_query_embedding(None, cache_path, f"query {i}", "m", [float(i), 1.0])
    days = sorted(os.listdir(log_path))
    rows, stats = _log_rows(spark, log_path), _stats(spark, log_path)
    assert len(rows) == n
    assert sum(len(data_files(os.path.join(log_path, d))) for d in days) == n
    assert len(data_files(cache_path)) == n
    assert not [f for f in _names(kb_dir) if f.startswith(".")]  # no temp files

    # read-only modes leave both tables as they are
    for flag in ("--dry-run", "--analyze"):
        assert cli.main(["optimize", kb_dir, flag]) == 0
        assert sum(len(data_files(os.path.join(log_path, d))) for d in days) == n
        assert len(data_files(cache_path)) == n

    assert cli.main(["optimize", kb_dir]) == 0
    capsys.readouterr()
    assert all(len(data_files(os.path.join(log_path, d))) == 1 for d in days)
    assert len(data_files(cache_path)) == 1
    assert not [f for f in _names(kb_dir) if f.startswith(".")]
    assert _log_rows(spark, log_path) == rows
    assert _stats(spark, log_path) == stats
    for memo in ("kept", "reloaded"):
        for i in range(n):
            got = QC.probe_query_embedding(None, cache_path, f"query {i}", "m")
            assert got == [float(i), 1.0], memo
        QC._MEMO.clear()


def _spark_log_row(spark, path, kb, query, elapsed_s, n_results):
    """A log row as the Spark sink wrote it before the pyarrow writer."""
    spark.createDataFrame(
        [(kb, query, float(elapsed_s), int(n_results))],
        "kb string, query string, elapsed_s double, n_results int",
    ).select(
        F.current_timestamp().alias("ts"),
        F.to_date(F.current_timestamp()).alias("day"),
        "kb",
        "query",
        "elapsed_s",
        "n_results",
    ).write.mode("append").partitionBy("day").parquet(path)


def _spark_cache_row(spark, path, query, emb, created_at):
    key = QC.query_cache_key(query, "m")
    spark.createDataFrame([(key, emb, created_at)], CACHE_DDL).write.mode(
        "append"
    ).parquet(path)


def test_spark_written_tables_migrate(spark, tmp_path):
    # query log: Spark-written rows first, pyarrow rows on top
    log_path = str(tmp_path / "query_log")
    _spark_log_row(spark, log_path, "kb", "old one", 0.2, 1)
    _spark_log_row(spark, log_path, "kb", "old two", 0.4, 3)
    schema = QL.read_query_log(spark, log_path).schema
    assert schema.simpleString() == (
        "struct<ts:timestamp,kb:string,query:string,elapsed_s:double,"
        "n_results:int,day:date>"
    )
    QL.log_query(spark, log_path, "kb", "new one", 0.6, 5)
    QL.log_query(spark, log_path, "kb", "new two", 0.8, 7)
    log = QL.read_query_log(spark, log_path)
    assert log.schema == schema
    assert sorted(r.query for r in log.collect()) == ["new one", "new two", "old one", "old two"]
    stats = QL.query_stats(log).collect()
    assert sum(r.n_queries for r in stats) == 4
    if len(stats) == 1:  # all four rows fell on one day
        assert stats[0].avg_elapsed_s == pytest.approx(0.5)
        assert stats[0].max_elapsed_s == pytest.approx(0.8)
        assert stats[0].avg_results == pytest.approx(4.0)
    rows = _log_rows(spark, log_path)
    QL.compact_query_log(log_path)
    assert QL.read_query_log(spark, log_path).schema == schema
    assert _log_rows(spark, log_path) == rows

    # query cache: old entries probe, and the freshest row wins across
    # Spark- and pyarrow-written files, in either order
    cache_path = str(tmp_path / "query_emb_cache")
    _spark_cache_row(spark, cache_path, "old", [1.0, 2.0], 1000.0)
    _spark_cache_row(spark, cache_path, "both", [5.0, 6.0], 2000.0)
    assert QC.probe_query_embedding(spark, cache_path, "old", "m", now=3000.0) == [1.0, 2.0]
    QC.save_query_embedding(spark, cache_path, "both", "m", [7.0, 8.0], now=3000.0)
    QC.save_query_embedding(spark, cache_path, "late", "m", [3.0, 3.0], now=3000.0)
    _spark_cache_row(spark, cache_path, "late", [9.0, 9.0], 4000.0)
    QC._MEMO.clear()
    probe = lambda q: QC.probe_query_embedding(spark, cache_path, q, "m", now=5000.0)
    assert probe("old") == [1.0, 2.0]
    assert probe("both") == [7.0, 8.0]
    assert probe("late") == [9.0, 9.0]
    assert spark.read.parquet(cache_path).schema.simpleString() == (
        "struct<cache_key:string,embedding:array<double>,created_at:double>"
    )
    assert QC.prune_expired(spark, cache_path, ttl_days=1, now=5000.0) == 5
    assert [probe(q) for q in ("old", "both", "late")] == [[1.0, 2.0], [7.0, 8.0], [9.0, 9.0]]
