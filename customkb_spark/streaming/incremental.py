"""Incremental ingest/embed as Structured Streaming.

The reference polls flag columns for pending work (embedded=0,
embed_manager.py:586) and checkpoints every N batches
(embed_manager.py:466-523). The streaming-native form is: read new
document files as they land, run the SAME chunk/clean/tokenize exprs as
batch ingest (the pipeline functions take DataFrames — batch and stream
share code), embed per micro-batch, append to the chunks/vectors
tables. ``availableNow`` gives the reference's catch-up-then-stop batch
semantics with real checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from customkb_spark.ingest.pipeline import documents_to_chunks


def stream_documents(
    spark: SparkSession, input_dir: str, schema, fmt: str = "parquet"
) -> DataFrame:
    return spark.readStream.format(fmt).schema(schema).load(input_dir)


def incremental_ingest(
    docs_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 200,
) -> StreamingQuery:
    """Stream documents → chunks table (append, exactly-once via
    checkpoint). One streaming job replaces the reference's
    poll-and-flag loop."""
    chunks = documents_to_chunks(docs_stream, chunk_size=chunk_size)
    return (
        chunks.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _drop_already_written(batch: DataFrame, table_dir: str, id_col: str) -> DataFrame:
    """Idempotency guard for foreachBatch appends: drop rows whose id is
    already in the id-keyed output table. foreachBatch gives at-least-
    once delivery to non-idempotent sinks — on a batch/task retry the
    same rows arrive again, and a blind append would duplicate them.
    The anti-join makes the append a no-op on replay (as
    ``KnowledgeBase.embed``'s anti-join against ``vectors/`` does)."""
    from pyspark.errors import AnalysisException

    spark = batch.sparkSession
    try:
        existing = spark.read.parquet(table_dir).select(id_col)
    except AnalysisException:
        return batch  # first batch: output path doesn't exist yet
    # any OTHER read failure (transient FS error, listing race) must
    # propagate — swallowing it would skip the anti-join and re-open
    # the duplicate-append hole this guard exists to close
    return batch.join(existing, id_col, "left_anti")


def incremental_index_maintenance(
    vectors_stream: DataFrame,
    index_dir: str,
    centroids_path: str,
    checkpoint_dir: str,
    vec_col: str = "vector",
    id_col: str = "id",
) -> StreamingQuery:
    """Stream new vectors into the persisted IVF table (FAISS ``add``
    as a streaming job): each micro-batch is assigned to the FROZEN
    centroids (one matmul argmin — centroids load once on the driver and
    ship as a broadcast) and appended PARTITIONED BY
    cluster_id, so only the touched cluster partitions gain files.
    Retraining is a separate batch decision driven by
    ``embedding.store.index_drift`` — the stream never moves existing
    rows. The append itself is made idempotent by an id anti-join
    against the index table (see ``_drop_already_written``), closing
    foreachBatch's at-least-once replay window."""
    from customkb_spark.embedding.index import assign_clusters
    from customkb_spark.embedding.store import load_centroids

    spark = vectors_stream.sparkSession
    centroids = load_centroids(spark, centroids_path)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        fresh = _drop_already_written(batch_df, index_dir, id_col)
        assigned = assign_clusters(fresh, centroids, vec_col)
        assigned.write.mode("append").partitionBy("cluster_id").parquet(index_dir)

    return (
        vectors_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_pack_maintenance(
    docs_stream: DataFrame,
    segments_dir: str,
    checkpoint_dir: str,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
) -> StreamingQuery:
    """Stream arriving documents into a persisted pack-segment table
    (``operators/packing``): each micro-batch continues every shard's
    token offsets from where the previous batches stopped — the
    streaming form of "append a day's crawl without re-packing the
    corpus".

    Per-batch cost scales with the BATCH, never the corpus:

    - segments land under ``{segments_dir}/epoch=N`` with per-epoch
      OVERWRITE, so a foreachBatch replay rewrites its own partition
      instead of double-appending (idempotent without any anti-join
      against the ever-growing table — and without the anti-join's
      global-id assumption; packing ids only need to be unique per
      shard);
    - offsets come from a tiny sidecar (``{segments_dir}/_offsets/
      epoch=N``: one row per shard per epoch with that batch's token
      total). The base offset for epoch N sums epochs < N — a read
      over #epochs × #shards rows, not over segments. Its exclusive
      filter also makes the offset math replay-safe: a replayed epoch
      never sees its own earlier totals.

    Readers get the full layout from ``spark.read.parquet(
    segments_dir)`` (the ``epoch`` column marks arrival batches; the
    ``_offsets`` sidecar is underscore-prefixed, so parquet readers
    skip it). Ordering contract: the stream equals the batch rebuild
    when ids arrive in order per shard — same contract as
    ``pack_append``."""
    from pyspark.errors import AnalysisException

    from customkb_spark.operators.packing import pack_append, pack_segments

    offsets_dir = f"{segments_dir}/_offsets"

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            # the epoch column comes from partition discovery over the
            # epoch=N directory names — the files carry only (shard,
            # pack_tokens), so a replayed overwrite stays self-contained
            prior = (
                spark.read.parquet(offsets_dir)
                .filter(F.col("epoch") < epoch_id)
                .groupBy(shard_col)
                .agg(F.sum("pack_tokens").cast("long").alias("pack_tokens"))
            )
        except AnalysisException:
            prior = None  # first epoch: no offsets written yet
        if prior is not None:
            # checkpoint/segments-dir mismatch guard (ADVICE r3): a
            # fresh/cleared checkpoint restarts epoch_id at 0 — letting
            # it proceed would overwrite epoch=0 and base offsets at 0,
            # silently corrupting the persisted layout. Refuse instead.
            max_epoch = (
                spark.read.parquet(offsets_dir)
                .agg(F.max("epoch").alias("m"))
                .first()["m"]
            )
            # strict >: a replay of the CURRENT epoch legitimately sees
            # its own sidecar row (written before the failed commit) —
            # the per-epoch overwrite is designed for exactly that
            if max_epoch is not None and max_epoch > epoch_id:
                raise RuntimeError(
                    f"incremental_pack_maintenance: segments dir "
                    f"{segments_dir!r} already contains epoch {max_epoch} "
                    f"> incoming epoch {epoch_id}; the stream's "
                    f"checkpoint does not match this layout (new/cleared "
                    f"checkpoint_dir?). Use a fresh segments_dir or the "
                    f"original checkpoint."
                )
        if prior is None or not prior.take(1):
            seg = pack_segments(batch_df, seq_len, text_col, id_col, shard_col)
        else:
            # pack_append only consumes sum(pack_tokens) per shard, so
            # the 1-pack-per-shard summary shape above is sufficient
            seg = pack_append(prior, batch_df, seq_len, text_col, id_col, shard_col)
        seg = seg.localCheckpoint()  # one computation feeds both writes
        seg.write.mode("overwrite").parquet(f"{segments_dir}/epoch={epoch_id}")
        (
            seg.groupBy(shard_col)
            .agg(F.sum("seg_tokens").cast("long").alias("pack_tokens"))
            .write.mode("overwrite")
            .parquet(f"{offsets_dir}/epoch={epoch_id}")
        )

    return (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
