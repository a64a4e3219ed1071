"""Iceberg-first table IO with a parquet-warehouse fallback (SURVEY.md §7.8).

The north rule names Iceberg tables as the storage substrate. This
sandbox has no network, so the Iceberg runtime jar cannot be fetched
(SURVEY.md environment facts) — therefore:

  * ``mode='iceberg'`` — code-complete path used when the runtime jar
    is on the classpath: catalog-qualified table names, snapshot-id
    lineage, MERGE INTO for the _progress upsert, snapshot expiry as
    the retention analog of the reference's Redis TTL
    (docling-pdf redis_manager.py:64-68, config.py:17).
  * ``mode='parquet'`` — the warehouse fallback exercised by tests:
    partitioned parquet + dynamic partition overwrite + the atomic-
    rename manifest protocol (docling_pdf_spark.checkpoint).

No job reads or writes through TableIO yet: the jobs write
partitioned parquet through idempotent_partition_overwrite, which the
parquet mode also uses. The iceberg mode waits for an Iceberg runtime
jar in the repository; until one is on the classpath,
tests/test_iceberg_integration.py skips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def file_fingerprint(path: str) -> str:
    """Deterministic lineage token for a file/dir input (fallback-mode
    stand-in for an Iceberg snapshot id): sha256 of the sorted file
    listing with sizes."""
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
    """THE overwrite-safe write the batch job, the streaming
    foreachBatch sink and TableIO's parquet mode use: pins
    partitionOverwriteMode=dynamic on this WRITE ONLY via the
    DataFrameWriter option (a default 'static' write would truncate the
    whole output path and delete committed partitions — round-1
    ADVICE), then replaces exactly the partitions present in df.
    Round-2 ADVICE: setting the session conf here leaked dynamic
    semantics into every later mode('overwrite') write on the shared
    session; the writer-scoped option leaves session state untouched."""
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(path)
    )


class TableIO:
    def __init__(
        self,
        spark: SparkSession,
        mode: str = "parquet",
        catalog: str = "lake",
        warehouse: str | None = None,
    ) -> None:
        if mode not in ("parquet", "iceberg"):
            raise ValueError(f"unknown io mode: {mode}")
        self.spark = spark
        self.mode = mode
        self.catalog = catalog
        self.warehouse = warehouse

    # ------------------------------------------------------------ read
    def read(self, table: str) -> DataFrame:
        if self.mode == "iceberg":
            return self.spark.read.format("iceberg").load(f"{self.catalog}.{table}")
        return self.spark.read.parquet(self._path(table))

    def snapshot_id(self, table: str) -> str:
        """Lineage token for the checkpoint manifest: Iceberg's real
        snapshot id, or (fallback) a fingerprint of the file listing."""
        if self.mode == "iceberg":
            row = (
                self.spark.read.format("iceberg")
                .load(f"{self.catalog}.{table}.snapshots")
                .orderBy("committed_at", ascending=False)
                .select("snapshot_id")
                .head()
            )
            return str(row["snapshot_id"]) if row else "empty"
        return file_fingerprint(self._path(table))

    # ----------------------------------------------------------- write
    def write_partitioned(
        self, df: DataFrame, table: str, partition_col: str = "bucket"
    ) -> None:
        """Idempotent per-partition write: Iceberg overwritePartitions
        (snapshot-atomic) or parquet dynamic partition overwrite."""
        if self.mode == "iceberg":
            from pyspark.sql import functions as F

            # bootstrap: partitionedBy only applies on create(); for an
            # existing table overwritePartitions() alone is correct, and
            # calling it on a missing table raises — so create first.
            full = f"{self.catalog}.{table}"
            if not self.spark.catalog.tableExists(full):
                df.writeTo(full).partitionedBy(F.col(partition_col)).create()
                return
            df.writeTo(full).overwritePartitions()
            return
        idempotent_partition_overwrite(df, [partition_col], self._path(table))

    def merge_progress(self, updates: DataFrame, table: str = "_progress") -> None:
        """Checkpoint upsert. Iceberg: a real MERGE INTO on partition_id
        (atomic, replaces the reference's racy read-modify-write,
        redis_manager.py:83-100). Fallback: the JSON manifest protocol
        in docling_pdf_spark.checkpoint handles this instead."""
        if self.mode != "iceberg":
            raise RuntimeError(
                "parquet mode uses checkpoint.ProgressLog manifests; "
                "merge_progress is the iceberg-mode path"
            )
        updates.createOrReplaceTempView("_progress_updates")
        self.spark.sql(
            f"""
            MERGE INTO {self.catalog}.{table} t
            USING _progress_updates u
            ON t.partition_id = u.partition_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """
        )

    def expire_snapshots(self, table: str, older_than_days: int = 7) -> None:
        """Retention: the Iceberg analog of the reference's 3600s Redis
        TTL self-expiry (config.py:17) — but applied to table history,
        not to data correctness."""
        if self.mode != "iceberg":
            return  # parquet fallback keeps everything; retention is external
        # cutoff must be RELATIVE to now (round-1 ADVICE: an epoch-based
        # literal made expiry a permanent no-op) AND a plain literal —
        # Iceberg's CALL procedure resolver takes constant arguments,
        # not expressions like current_timestamp() - INTERVAL
        import datetime

        cutoff = datetime.datetime.now(datetime.timezone.utc) - datetime.timedelta(
            days=older_than_days
        )
        self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{table}', "
            f"older_than => TIMESTAMP '{cutoff.strftime('%Y-%m-%d %H:%M:%S')}')"
        )

    def _path(self, table: str) -> str:
        if not self.warehouse:
            raise ValueError("parquet mode needs a warehouse dir")
        return f"{self.warehouse}/{table}"
