"""Root conftest: puts the repo on sys.path and provides the shared
SparkSession fixture (local[4], small shuffle width for test speed)."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from docling_pdf_spark.session import get_spark

    # one JVM serves the whole suite: bound its heap by the host (a third
    # of physical memory) instead of the session default, which can
    # exceed a small host's memory before G1 sees a reason to collect
    heap_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 3 >> 20
    s = get_spark(
        "docling-pdf-spark-tests", local_cores=4, shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_DRIVER_MEM", f"{heap_mb}m"
            )
        },
    )
    yield s
    s.stop()
