"""TableIO: parquet-warehouse mode round-trips; snapshot fingerprints
track input changes (lineage); iceberg mode guards are explicit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_pdf_spark.sources.io import TableIO, file_fingerprint


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    io = TableIO(spark, mode="parquet", warehouse=str(tmp_path))
    df = spark.range(100).withColumn("bucket", F.pmod("id", F.lit(4)))
    io.write_partitioned(df, "t", "bucket")
    back = io.read("t")
    assert back.count() == 100
    assert set(back.columns) == {"id", "bucket"}


def test_dynamic_overwrite_only_touches_written_buckets(spark, tmp_path):
    io = TableIO(spark, mode="parquet", warehouse=str(tmp_path))
    df = spark.range(100).withColumn("bucket", F.pmod("id", F.lit(4)))
    io.write_partitioned(df, "t", "bucket")
    # rewrite only bucket 0 with fewer rows
    io.write_partitioned(df.where("bucket = 0 and id < 8"), "t", "bucket")
    back = io.read("t")
    assert back.where("bucket = 0").count() == 2  # 0,4 → wait: id<8, id%4==0 → {0,4}
    assert back.where("bucket != 0").count() == 75  # untouched


def test_snapshot_fingerprint_tracks_changes(spark, tmp_path):
    io = TableIO(spark, mode="parquet", warehouse=str(tmp_path))
    df = spark.range(10).withColumn("bucket", F.lit(0))
    io.write_partitioned(df, "t", "bucket")
    f1 = io.snapshot_id("t")
    io.write_partitioned(spark.range(20).withColumn("bucket", F.lit(0)), "t", "bucket")
    f2 = io.snapshot_id("t")
    assert f1 != f2
    assert io.snapshot_id("t") == f2  # stable when nothing changed


def test_file_fingerprint_deterministic(tmp_path):
    p = tmp_path / "x.parquet"
    p.write_bytes(b"abc")
    assert file_fingerprint(str(p)) == file_fingerprint(str(p))
    p.write_bytes(b"abcd")
    assert file_fingerprint(str(p)) != file_fingerprint(str(tmp_path / "nope"))


def test_mode_guards():
    with pytest.raises(ValueError, match="unknown io mode"):
        TableIO(None, mode="delta")


def test_parquet_mode_rejects_merge(spark, tmp_path):
    io = TableIO(spark, mode="parquet", warehouse=str(tmp_path))
    with pytest.raises(RuntimeError, match="iceberg-mode"):
        io.merge_progress(spark.range(1))


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
