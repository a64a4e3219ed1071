"""session.get_spark's fixed confs, as the shared test session has them."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F


def test_analysis_errors_still_name_the_column(spark):
    """DataFrame debugging is off, so an analysis error carries no Python
    file and line; it must still name the column it cannot resolve."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="`nope`"):
        spark.range(3).select(F.col("nope")).collect()


def test_default_driver_heap_fits_the_host(spark):
    """The suite's session passes no heap of its own, so it runs on
    get_spark's default: no larger than the host's physical memory, in
    the conf and in the JVM that started from it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    value = spark.sparkContext.getConf().get("spark.driver.memory")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    unit = value[-1].lower()
    conf_bytes = int(value[:-1]) * units[unit] if unit in units else int(value)
    assert conf_bytes <= phys, (value, phys)
    assert spark._jvm.java.lang.Runtime.getRuntime().maxMemory() <= phys


def test_small_shuffle_keeps_core_parallelism(spark):
    """A shuffle of about 1 MiB (0.93 MiB written) keeps at least two
    partitions after AQE coalescing: at the 1 MiB default floor it
    becomes one task, however much CPU the rows downstream of it cost."""
    df = spark.range(7500).select(
        (F.col("id") % 997).alias("k"),
        F.sha2(F.col("id").cast("string"), 512).alias("h"),
    ).repartition("k")
    sizes = df.rdd.glom().map(len).collect()
    assert sum(sizes) == 7500
    assert sum(1 for n in sizes if n) >= 2, sizes
