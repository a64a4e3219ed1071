"""Storage: the one overwrite-safe partitioned write and the one input
lineage token (SURVEY.md §7.8).

The jobs read and write partitioned parquet: run_extraction and the
streaming foreachBatch sink write through idempotent_partition_overwrite
(dynamic partition overwrite + the atomic-rename manifest protocol in
docling_pdf_spark.checkpoint), and run_extraction stamps each manifest
with file_fingerprint of its input. An Iceberg catalog path (snapshot-id
lineage, MERGE INTO for the progress upsert) waits until an Iceberg
runtime jar is in the repository; until then it could not be tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def file_fingerprint(path: str) -> str:
    """Deterministic lineage token for a file/dir input (the stand-in
    for a table snapshot id): sha256 of the sorted file listing with
    sizes."""
    import hashlib
    import os

    h = hashlib.sha256()
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for f in sorted(files):
                h.update(f.encode())
                h.update(str(os.path.getsize(os.path.join(root, f))).encode())
    elif os.path.isfile(path):
        h.update(os.path.basename(path).encode())
        h.update(str(os.path.getsize(path)).encode())
    return h.hexdigest()[:16]


def idempotent_partition_overwrite(
    df: "DataFrame", partition_cols: list[str], path: str
) -> None:
    """THE overwrite-safe write the batch job and the streaming
    foreachBatch sink use: pins partitionOverwriteMode=dynamic on this
    WRITE ONLY via the DataFrameWriter option (a default 'static' write
    would truncate the whole output path and delete committed
    partitions — round-1 ADVICE), then replaces exactly the partitions
    present in df.
    Round-2 ADVICE: setting the session conf here leaked dynamic
    semantics into every later mode('overwrite') write on the shared
    session; the writer-scoped option leaves session state untouched."""
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(path)
    )

