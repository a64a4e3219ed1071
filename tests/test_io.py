"""The storage path: the overwrite-safe partitioned write round-trips
and replaces only the partitions it writes; the input fingerprint
tracks changes (lineage)."""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_pdf_spark.sources.io import (
    file_fingerprint,
    idempotent_partition_overwrite,
)


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(100).withColumn("bucket", F.pmod("id", F.lit(4)))
    idempotent_partition_overwrite(df, ["bucket"], path)
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert set(back.columns) == {"id", "bucket"}


def test_dynamic_overwrite_only_touches_written_buckets(spark, tmp_path):
    """The write pins dynamic overwrite itself: under a session left at
    'static', rewriting bucket 0 still keeps the other buckets."""
    path = str(tmp_path / "t")
    df = spark.range(100).withColumn("bucket", F.pmod("id", F.lit(4)))
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        idempotent_partition_overwrite(df, ["bucket"], path)
        # rewrite only bucket 0 with fewer rows: id < 8, id % 4 == 0 → {0, 4}
        idempotent_partition_overwrite(
            df.where("bucket = 0 and id < 8"), ["bucket"], path
        )
    finally:
        spark.conf.set(key, prev)
    back = spark.read.parquet(path)
    assert back.where("bucket = 0").count() == 2
    assert back.where("bucket != 0").count() == 75  # untouched


def test_snapshot_fingerprint_tracks_changes(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).withColumn("bucket", F.lit(0))
    idempotent_partition_overwrite(df, ["bucket"], path)
    f1 = file_fingerprint(path)
    idempotent_partition_overwrite(
        spark.range(20).withColumn("bucket", F.lit(0)), ["bucket"], path
    )
    f2 = file_fingerprint(path)
    assert f1 != f2
    assert file_fingerprint(path) == f2  # stable when nothing changed


def test_file_fingerprint_deterministic(tmp_path):
    p = tmp_path / "x.parquet"
    p.write_bytes(b"abc")
    assert file_fingerprint(str(p)) == file_fingerprint(str(p))
    p.write_bytes(b"abcd")
    assert file_fingerprint(str(p)) != file_fingerprint(str(tmp_path / "nope"))


def test_scan_row_groups_reads_suffixless_parquet(spark, tmp_path):
    """Parquet part files need not end in .parquet: the probe identifies
    them by their footer, and still reports None (unknown) for a
    non-parquet input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.functions.scanspread import (
        scan_row_groups,
        spread_unsplittable,
    )
    from docling_pdf_spark.plans import formatted_plan

    part = str(tmp_path / "part-00000")
    pq.write_table(pa.table({"id": list(range(30))}), part, row_group_size=10)
    df = spark.read.parquet(part)
    assert scan_row_groups(df, cap=100) == 3
    # 3 row groups < defaultParallelism (4): the spread applies
    assert "RoundRobinPartitioning" in formatted_plan(spread_unsplittable(df))

    text = tmp_path / "notes"
    text.write_text("not parquet\n")
    assert scan_row_groups(spark.read.text(str(text)), cap=100) is None
