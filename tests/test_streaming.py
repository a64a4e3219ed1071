"""Structured Streaming: incremental extraction equals batch extraction;
watermarked window agg is streaming-safe (SURVEY.md §2b streaming row)."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest

from docling_pdf_spark.fixtures import gen_documents
from docling_pdf_spark.pipeline import extract
from docling_pdf_spark.streaming import extract_stream, windowed_event_counts


def _drain(q, timeout: int = 300) -> None:
    """Wait for an availableNow query; on timeout STOP it before failing
    so a hung stream cannot poison later tests on the shared session."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise AssertionError(f"streaming query did not drain in {timeout}s")


@pytest.fixture(scope="module")
def stream_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream-in")
    # two "arriving" files
    t = gen_documents(60, adversarial=False)
    pq.write_table(t.slice(0, 30), str(d / "part-0.parquet"))
    pq.write_table(t.slice(30, 30), str(d / "part-1.parquet"))
    return str(d)


def test_stream_extract_equals_batch(spark, stream_corpus, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = extract_stream(spark, stream_corpus, out, ckpt, available_now=True)
    _drain(q)

    got = {
        r["doc_id"]: (r["n_chars"], r["extraction_method"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_chars"], r["extraction_method"])
        for r in extract(spark.read.parquet(stream_corpus)).collect()
    }
    assert got == want


def test_stream_resumes_from_checkpoint(spark, stream_corpus, tmp_path):
    """A second availableNow run over the same input is a no-op (file
    source checkpoint remembers processed files) — the streaming analog
    of the batch manifest resume."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _drain(extract_stream(spark, stream_corpus, out, ckpt))
    n1 = spark.read.parquet(out).count()
    _drain(extract_stream(spark, stream_corpus, out, ckpt))
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == 60


def test_windowed_event_counts_streaming_plan(spark, tmp_path):
    """The watermarked window agg compiles as a streaming plan and,
    run availableNow over the events table, matches the batch result."""
    src = "/root/testdata/sf0.001"
    events_dir = str(tmp_path / "events-in")
    os.makedirs(events_dir)
    import shutil

    shutil.copy(f"{src}/events.parquet", f"{events_dir}/events.parquet")

    batch = windowed_event_counts(spark.read.parquet(f"{src}/events.parquet"))
    expected = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
                for r in batch.collect()}

    stream = spark.readStream.schema(
        spark.read.parquet(f"{src}/events.parquet").schema
    ).parquet(events_dir)
    out = str(tmp_path / "win-out")
    q = (
        windowed_event_counts(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "win-ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # append mode only emits windows the watermark has closed; with a
    # finite file source every window except the max-ts one is closed
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in spark.read.parquet(out).collect()}
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_streaming_dedup_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates split across two
    micro-batches (maxFilesPerTrigger=1) are still emitted exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.streaming import streaming_dedup

    d = tmp_path / "in"
    d.mkdir()
    schema = pa.schema([("doc_id", pa.string()), ("text", pa.string())])
    # batch 1: A, B, A-dup   batch 2: B-dup, C
    pq.write_table(
        pa.table({"doc_id": ["a1", "b1", "a2"],
                  "text": ["Alpha text!", "Beta text?", "alpha TEXT"]}, schema=schema),
        str(d / "f0.parquet"),
    )
    pq.write_table(
        pa.table({"doc_id": ["b2", "c1"],
                  "text": ["beta Text", "Gamma text"]}, schema=schema),
        str(d / "f1.parquet"),
    )

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = str(tmp_path / "out")
    q = (
        streaming_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    rows = {r["fingerprint"]: r["doc_id"] for r in spark.read.parquet(out).collect()}
    # 3 distinct normalized fingerprints (alpha/beta/gamma), each once
    assert len(rows) == 3
    assert set(rows.values()) <= {"a1", "a2", "b1", "b2", "c1"}
    # the cross-batch duplicate (beta in batch 2) was suppressed:
    docs = sorted(rows.values())
    assert "c1" in docs


def test_streaming_sessionization_equals_batch(spark, tmp_path):
    """applyInPandasWithState sessionization over TWO micro-batches
    (time-split files, sessions spanning the boundary carried in state)
    must equal the batch window formulation on the full table."""
    from docling_pdf_spark.streaming.stateful import sessionize_stream

    # slice with pyarrow so the parquet types match the source exactly
    t = pq.read_table("/root/testdata/sf0.001/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    d = tmp_path / "ev-in"
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(d / "f0.parquet"))
    pq.write_table(t.slice(half), str(d / "f1.parquet"))
    # the file source takes files in modification-time order (ms); two
    # files written back to back can tie, so set them 10 s apart
    now = time.time()
    os.utime(d / "f0.parquet", (now - 10, now - 10))
    os.utime(d / "f1.parquet", (now, now))

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessionize_result")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    # update mode appends one row per (user, micro-batch); the final
    # totals are the row with the highest n_events per user
    got = {}
    for r in spark.table("sessionize_result").collect():
        cur = got.get(r["user_id"])
        if cur is None or r["n_events"] > cur[1]:
            got[r["user_id"]] = (r["n_sessions"], r["n_events"], r["sum_value"])

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    want = {
        r["user_id"]: (r["ns"], r["ne"], r["sv"])
        for r in (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .withColumn(
                "new_session",
                F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
            )
            .groupBy("user_id")
            .agg(
                F.sum("new_session").alias("ns"),
                F.count("*").alias("ne"),
                F.sum("value").alias("sv"),
            )
            .collect()
        )
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], f"user {u} sessions"
        assert got[u][1] == want[u][1], f"user {u} events"
        assert got[u][2] == pytest.approx(want[u][2], rel=1e-9), f"user {u} sum"


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    broadcast dimension inside the micro-batch plan — results equal the
    batch join."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dim = (
        ev.select("user_id").distinct()
        .withColumn("segment", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )

    stream = spark.readStream.schema(ev.schema).parquet(str(_stage_events_dir(tmp_path)))
    enriched = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_result")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = {
        (r["segment"], r["event_type"]): r["n"]
        for r in spark.table("enrich_result").collect()
    }
    want = {
        (r["segment"], r["event_type"]): r["n"]
        for r in ev.join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(want) >= 2


def _stage_events_dir(tmp_path):
    import os

    d = tmp_path / "ev-dir"
    d.mkdir(exist_ok=True)
    link = d / "events.parquet"
    if not link.exists():
        os.symlink("/root/testdata/sf0.001/events.parquet", str(link))
    return d


def test_foreachbatch_exactly_once_with_manifests(spark, stream_corpus, tmp_path):
    """foreachBatch sink: idempotent (ingest_batch, bucket) writes +
    one atomic manifest per micro-batch; a re-run over the same stream
    checkpoint is a no-op (no duplicate rows, manifests unchanged)."""
    from docling_pdf_spark.checkpoint import ProgressLog
    from docling_pdf_spark.streaming import extract_stream_exactly_once

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "stream-ckpt")
    mans = str(tmp_path / "manifests")

    q = extract_stream_exactly_once(spark, stream_corpus, out, ckpt, mans)
    _drain(q)

    got = spark.read.parquet(out)
    assert got.count() == 60
    assert got.select("doc_id").distinct().count() == 60
    manifests = ProgressLog(mans, key="ingest_batch").all_manifests()
    assert len(manifests) == 2  # maxFilesPerTrigger=1 → one per file
    assert all(m.status == "done" for m in manifests)
    assert sum(m.n_docs for m in manifests) == 60
    assert all(m.lineage["partition_key"].startswith("ingest_batch=") for m in manifests)
    # per-batch lineage carries the batch's OWN input files, not a
    # dir-wide snapshot: two different files → two different snapshots
    assert manifests[0].lineage["input_snapshot"] != manifests[1].lineage["input_snapshot"]
    # the batch job's bucket-keyed view cannot see these manifests
    assert ProgressLog(mans).all_manifests() == []

    # re-run: the stream checkpoint remembers processed files → no-op
    q2 = extract_stream_exactly_once(spark, stream_corpus, out, ckpt, mans)
    _drain(q2)
    assert spark.read.parquet(out).count() == 60
    assert len(ProgressLog(mans, key="ingest_batch").all_manifests()) == 2

    # restart-with-different-n_buckets is refused (replay idempotence)
    with pytest.raises(RuntimeError, match="n_buckets"):
        extract_stream_exactly_once(spark, stream_corpus, out, ckpt, mans,
                                    n_buckets=4)


def test_foreachbatch_sink_observes_its_manifest_stats(spark, tmp_path, monkeypatch):
    """The sink takes each manifest's counts from an observation on its
    own write and never reads the output back; the counts still equal
    the batch's slice of the output, failures included, and each batch
    carries its own input snapshot."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameReader

    from docling_pdf_spark.checkpoint import ProgressLog
    from docling_pdf_spark.streaming import extract_stream_exactly_once

    src = tmp_path / "in"
    src.mkdir()
    t = gen_documents(30, adversarial=True)  # the adversarial docs include a failure
    pq.write_table(t.slice(0, 20), str(src / "part-0.parquet"))
    pq.write_table(t.slice(20), str(src / "part-1.parquet"))
    out = str(tmp_path / "out")
    mans = str(tmp_path / "manifests")

    read_paths: list[str] = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        read_paths.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    _drain(extract_stream_exactly_once(
        spark, str(src), out, str(tmp_path / "stream-ckpt"), mans))
    monkeypatch.undo()
    assert read_paths == []

    got = {
        r["ingest_batch"]: (r["n"], r["ok"])
        for r in spark.read.parquet(out)
        .groupBy("ingest_batch")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("extraction_successful").cast("long")).alias("ok"))
        .collect()
    }
    manifests = ProgressLog(mans, key="ingest_batch").all_manifests()
    assert len(manifests) == 2
    assert {m.partition_id: (m.n_docs, m.n_ok) for m in manifests} == got
    assert sum(m.n_failed for m in manifests) >= 1
    assert all(m.n_failed == m.n_docs - m.n_ok for m in manifests)
    snapshots = {m.lineage["input_snapshot"] for m in manifests}
    assert len(snapshots) == 2


def test_stateful_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The stateful operators run unchanged on the RocksDB state-store
    provider — the store that pages state to disk at corpus scale,
    where the default in-memory HDFS-backed store OOMs (state =
    |distinct fingerprints|)."""
    import pyarrow as pa

    from docling_pdf_spark.streaming import streaming_dedup

    d = tmp_path / "in"
    d.mkdir()
    schema = pa.schema([("doc_id", pa.string()), ("text", pa.string())])
    pq.write_table(
        pa.table({"doc_id": ["a1", "a2", "b1"],
                  "text": ["same Doc", "SAME doc", "other document"]}, schema=schema),
        str(d / "f0.parquet"),
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = str(tmp_path / "out")
        q = (
            streaming_dedup(
                spark.readStream.schema("doc_id string, text string").parquet(str(d))
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 2  # 'same doc' dedup'd, 'other document' kept
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
