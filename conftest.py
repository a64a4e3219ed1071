"""Root conftest: puts the repo on sys.path and provides the shared
SparkSession fixture (local[4], small shuffle width for test speed)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from docling_pdf_spark.session import get_spark

    s = get_spark("docling-pdf-spark-tests", local_cores=4, shuffle_partitions=8)
    yield s
    s.stop()
