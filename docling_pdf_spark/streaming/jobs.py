"""Streaming jobs: incremental extraction + watermarked windows."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from docling_pdf_spark.pipeline import extract
from docling_pdf_spark.schemas import DOCUMENTS_SCHEMA


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental extraction over a file-source stream of documents.

    The extraction transform is stateless per row, so the batch
    pipeline function is reused verbatim; Structured Streaming's own
    checkpoint supersedes the batch manifest protocol here (exactly-
    once file sink). trigger(availableNow) = catch-up-then-stop, the
    streaming analog of the resumable batch job."""
    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
    out = extract(docs)  # no explicit repartition: keep the stream stateless/narrow
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_stream_exactly_once(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    stream_checkpoint: str,
    manifest_dir: str,
    n_buckets: int = 8,
) -> StreamingQuery:
    """The canonical production streaming sink: foreachBatch with an
    IDEMPOTENT write plus an atomic manifest commit per micro-batch.

    Structured Streaming's checkpoint gives at-least-once delivery to
    foreachBatch (a batch can replay after a crash); exactly-once
    output follows because the write is idempotent: every row lands in
    a partition keyed by (ingest_batch, bucket) and the replay's
    dynamic partition overwrite replaces exactly those directories.
    The per-batch manifest (checkpoint.ProgressLog, keyed by batch id)
    carries counts + lineage for ops — the streaming analog of
    run_extraction's per-bucket manifests, and like them observed on
    the write itself: one SQL execution per micro-batch, nothing read
    back."""
    import hashlib

    from docling_pdf_spark.checkpoint import BucketManifest, ProgressLog
    from docling_pdf_spark.sources.io import idempotent_partition_overwrite

    # manifests live under ingest_batch=<id>/ (NOT bucket=<id>/), so a
    # misconfigured shared directory with the batch job's per-bucket
    # manifests can never cross-contaminate resume decisions
    log = ProgressLog(manifest_dir, key="ingest_batch")
    # replay-idempotence depends on the bucket layout being STABLE
    # across restarts: a replayed batch with a different n_buckets would
    # overwrite only the new bucket dirs and leave stale ones behind
    for m in log.all_manifests():
        prev = m.lineage.get("n_buckets")
        if prev is not None and prev != str(n_buckets):
            raise RuntimeError(
                f"stream was previously run with n_buckets={prev}; "
                f"restarting with {n_buckets} breaks replay idempotence — "
                "keep it constant or start a fresh output/manifest dir"
            )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the manifest stats ride on the write itself (as in
        # run_extraction): observed after extract() and the bucket
        # columns, with no Exchange before the write, so a retried
        # task's rows count once
        stats = Observation()
        out = (
            extract(batch_df)
            .withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)))
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .observe(
                stats,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("extraction_successful").cast("long")).alias("ok"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
                # order-insensitive doc-id set hash in bounded memory (as
                # components._checkpoint); decimal: a sum of raw xxhash64
                # longs overflows int64
                F.sum(F.xxhash64("doc_id").cast("decimal(28,0)")).alias("ids"),
            )
        )
        idempotent_partition_overwrite(out, ["ingest_batch", "bucket"], output_path)
        row = stats.get
        # per-BATCH content signature (this batch's doc-id set): the
        # source df's inputFiles() is empty inside foreachBatch, and a
        # dir-wide fingerprint would not identify the batch's own input
        snapshot = hashlib.sha256(
            f"{row['n']}:{row['lo']}:{row['hi']}:{row['ids']}".encode()
        ).hexdigest()[:16]
        log.commit(
            BucketManifest(
                partition_id=int(batch_id),
                status="done",
                n_docs=int(row["n"]),
                n_ok=int(row["ok"] or 0),
                n_failed=int(row["n"]) - int(row["ok"] or 0),
                lineage={
                    "partition_key": f"ingest_batch={batch_id}",
                    "input_snapshot": snapshot,
                    "n_buckets": str(n_buckets),
                },
            )
        )

    docs = spark.readStream.schema(DOCUMENTS_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(input_dir)
    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h event-type counts with late-data watermark —
    streaming-safe aggregation (works identically on a batch DF)."""
    # watermarks require TIMESTAMP (LTZ); parquet files carry NTZ —
    # cast under the UTC session timezone (value-preserving)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
