"""Tables the driver holds whole — the vector tier's meta, centroids and
PQ/SQ models, the migrations log — are written and read with pyarrow:
no Spark job, and a replace leaves only the new rows, also over a
table Spark wrote. Plus the held MCP engine and two config readers."""

import dataclasses
import os
import sys
import threading

import numpy as np
from test_freshness import _jobs_of

from customkb_spark import cli
from customkb_spark import mcp_shim as M
from customkb_spark.config import KBConfig
from customkb_spark.embedding import store as S
from customkb_spark.embedding.sq import SQModel
from customkb_spark.functions import parquet_rows as PR
from customkb_spark.kb import KnowledgeBase
from customkb_spark.plans import migrations as MG


def test_centroids_and_sq_round_trip_without_spark_jobs(spark, tmp_path):
    rng = np.random.default_rng(3)
    cents = rng.standard_normal((35, 64))
    sq = SQModel(rng.standard_normal(64), rng.random(64), 8)
    out = {}

    def round_trip():
        S.save_centroids(spark, cents, str(tmp_path / "centroids"))
        out["cents"] = S.load_centroids(spark, str(tmp_path / "centroids"))
        S.save_sq(spark, sq, str(tmp_path / "sq"))
        out["sq"] = S.load_sq(spark, str(tmp_path / "sq"))

    assert _jobs_of(spark, round_trip) == 0
    assert np.array_equal(out["cents"], cents)
    assert np.array_equal(out["sq"].vmin, sq.vmin)
    assert np.array_equal(out["sq"].scale, sq.scale) and out["sq"].nbits == 8


def test_migration_log_without_spark_jobs(spark, tmp_path):
    kb_dir = str(tmp_path)
    out = {}

    def log_and_read():
        MG.record_migration(spark, kb_dir, 1, "a", now=1.0)
        MG.record_migration(spark, kb_dir, 2, "b", now=2.0)
        MG.record_rollback(spark, kb_dir, 2, now=3.0)
        out["v"] = MG.get_current_schema_version(spark, kb_dir)

    assert _jobs_of(spark, log_and_read) == 0
    assert out["v"] == 1
    MG.record_migration(spark, kb_dir, 2, "b", now=4.0)  # re-applied
    assert MG.get_current_schema_version(spark, kb_dir) == 2
    assert spark.read.parquet(os.path.join(kb_dir, "schema_migrations")).count() == 4


def _spark_write(spark, rows, schema, path):
    """The layout Spark's overwrite leaves: part-*.snappy.parquet,
    _SUCCESS and .crc sidecars."""
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    ).write.mode("overwrite").parquet(path)


def test_replace_over_a_spark_written_table(spark, tmp_path):
    vindex = str(tmp_path / "vindex")
    # a meta from before the src_fp column, with the retired n column
    _spark_write(
        spark, [("ivf", "id", "vector", "42", 7)],
        "kind string, id_col string, vec_col string, fp string, n long",
        f"{vindex}/meta",
    )
    old = np.arange(6, dtype=np.float64).reshape(3, 2)
    _spark_write(
        spark, [(i, [float(x) for x in c]) for i, c in enumerate(old)],
        "cluster_id int, centroid array<double>", f"{vindex}/centroids",
    )
    assert any(f.startswith("_SUCCESS") for f in os.listdir(f"{vindex}/centroids"))

    meta = PR.read_row(f"{vindex}/meta")
    assert meta["kind"] == "ivf" and meta["fp"] == "42" and meta.get("src_fp") is None
    assert np.array_equal(S.load_centroids(spark, f"{vindex}/centroids"), old)

    new = old[:2] + 10
    S.save_centroids(spark, new, f"{vindex}/centroids")
    S._write_meta(vindex, {**meta, "fp": "43", "src_fp": "src"})  # drops n
    for table in ("centroids", "meta"):
        files = os.listdir(f"{vindex}/{table}")
        assert len(files) == 1 and files[0].endswith(".parquet"), files
    assert sorted(os.listdir(vindex)) == ["centroids", "meta"]
    back = spark.read.parquet(f"{vindex}/centroids").orderBy("cluster_id").collect()
    assert [list(r.centroid) for r in back] == new.tolist()
    assert [tuple(r) for r in spark.read.parquet(f"{vindex}/meta").collect()] == [
        ("ivf", "id", "vector", "43", "src")
    ]


def test_mcp_search_on_a_held_kb_runs_no_spark_job(spark, tmp_path):
    base = tmp_path / "vectordbs"
    docs = spark.createDataFrame(
        [(i, f"held engine walrus document {i} " * 10, f"/h/{i}.md") for i in range(5)],
        ["doc_id", "text", "source"],
    )
    kb = KnowledgeBase(spark, str(base / "heldkb"), KBConfig())
    kb.database(docs)
    kb.embed()
    call = {"query": "walrus document", "top_k": 3}
    first = M.handle_tool_call(spark, "search_heldkb", call, str(base))
    out = {}

    def again():
        out["r"] = M.handle_tool_call(spark, "search_heldkb", call, str(base))

    assert _jobs_of(spark, again) == 0
    assert out["r"] == first and "walrus" in first
    one = M.handle_tool_call(spark, "search_heldkb", {**call, "top_k": 1}, str(base))
    assert len(one) < len(first)  # the per-call top_k still applies

    # concurrent calls share the held engine; each gets its own top_k
    want, got = {1: one, 3: first}, []

    def worker(k):
        args = {**call, "top_k": k}
        got.append((k, M.handle_tool_call(spark, "search_heldkb", args, str(base))))

    threads = [threading.Thread(target=worker, args=(k,)) for k in (1, 3) * 4]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 8 and all(r == want[k] for k, r in got)


def test_cli_database_skips_files_over_max_file_size(spark, tmp_path, capsys):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "small.txt").write_text("small walrus beacon text " * 20)
    (d / "big.txt").write_text("big quokka lantern text " * 50_000)  # 1.2 MB
    kb_dir = tmp_path / "kb"
    kb_dir.mkdir()
    (kb_dir / "kb.cfg").write_text("[DEFAULT]\nmax_file_size_mb = 1\n")
    assert cli.main(["database", str(kb_dir), "--files", str(d)]) == 0
    sources = spark.read.parquet(str(kb_dir / "chunks")).select("sourcedoc").distinct()
    assert [os.path.basename(r.sourcedoc) for r in sources.collect()] == ["small.txt"]


def test_old_cfg_with_retired_fields_loads(tmp_path):
    path = tmp_path / "old.cfg"
    path.write_text(
        "[DEFAULT]\ndb_min_tokens = 50\nquery_model = gpt\nquery_top_k = 7\n"
        "[PERFORMANCE]\nshuffle_partitions = 8\nann_nlist = 16\n"
    )
    cfg = KBConfig.from_file(str(path))
    assert cfg.query_top_k == 7
    retired = {"db_min_tokens", "query_model", "shuffle_partitions", "ann_nlist"}
    assert not retired & {f.name for f in dataclasses.fields(KBConfig)}
