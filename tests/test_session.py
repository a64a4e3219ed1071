"""session.get_spark's fixed confs, as the shared test session has them."""

from __future__ import annotations

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
