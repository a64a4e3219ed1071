"""Per-source quota cap (operators/domains.py): the two-phase salted
top-k must be value-identical to the naive single-window SQL — that
equality IS the operator's correctness contract (see the no-eviction
argument in the module docstring)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_pdf_spark.operators.domains import (
    per_source_cap,
    per_source_cap_sql,
)
from tests.test_queries_vs_duckdb import SF_DIR, _assert_matches


def test_cap_matches_naive_sql_oracle(spark):
    """sf0.01 documents, cap 7 ranked by longest-first: two-phase Spark
    plan vs the naive DuckDB window, full-row value equality."""
    _assert_matches(
        spark,
        "per_source_cap",
        lambda s, d: per_source_cap(
            s.read.parquet(f"{d}/documents.parquet"),
            cap=7,
            order_by=-F.col("n_chars"),
        ),
        per_source_cap_sql(cap=7, order_sql="n_chars DESC"),
    )


def test_cap_default_order_matches_sql(spark):
    _assert_matches(
        spark,
        "per_source_cap_default",
        lambda s, d: per_source_cap(
            s.read.parquet(f"{d}/documents.parquet"), cap=3
        ),
        per_source_cap_sql(cap=3),
    )


def test_two_phase_equals_naive_window(spark):
    """Spark-side equivalence: the salted two-phase result set equals
    the direct single-window form for every (cap, n_salts) probed —
    including n_salts=1 (degenerates to the naive plan) and a cap
    larger than any source (no-op)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    order = [(-F.col("n_chars")), F.col("doc_id")]
    for cap, n_salts in [(1, 16), (5, 4), (5, 1), (10_000, 8)]:
        w = Window.partitionBy("source").orderBy(*order)
        naive = (
            docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= cap)
            .drop("_rn")
        )
        two = per_source_cap(
            docs, cap=cap, order_by=-F.col("n_chars"), n_salts=n_salts
        )
        assert (
            sorted(r.doc_id for r in two.select("doc_id").collect())
            == sorted(r.doc_id for r in naive.select("doc_id").collect())
        ), (cap, n_salts)


def test_cap_hand_case(spark):
    """3 sources with 5/2/1 docs, cap 2 keeping the SMALLEST ids:
    selection is exactly the 2 lowest ids per source."""
    rows = [(i, f"s{i % 3}" if i < 6 else "s0") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        (r.source, r.doc_id)
        for r in per_source_cap(df, cap=2, n_salts=4).collect()
    }
    assert got == {("s0", 0), ("s0", 3), ("s1", 1), ("s1", 4), ("s2", 2), ("s2", 5)}


def test_cap_null_order_values_rank_last(spark):
    """NULL order values get LOWEST keep-priority on both engines:
    Spark's bare ascending sort is NULLS FIRST (which would keep an
    unknown-quality doc over a real one) while DuckDB defaults NULLS
    LAST in both directions — the explicit asc_nulls_last / NULLS LAST
    pinning keeps the plans value-identical (review-found)."""
    import duckdb

    rows = [(i, "s1", None if i == 3 else 100 - i) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id int, source string, n_chars int")
    kept = sorted(
        r.doc_id
        for r in per_source_cap(df, cap=7, order_by=-F.col("n_chars")).collect()
    )
    # the NULL-n_chars doc is the one evicted
    assert kept == [0, 1, 2, 4, 5, 6, 7]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id INT, source VARCHAR, n_chars INT)")
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", rows)
    oracle = sorted(
        r[0]
        for r in con.execute(
            per_source_cap_sql(table="docs", cap=7, order_sql="n_chars DESC")
        ).fetchall()
    )
    assert kept == oracle


def test_cap_rejects_bad_cap(spark):
    df = spark.range(1).select(F.col("id").alias("doc_id"), F.lit("a").alias("source"))
    with pytest.raises(ValueError):
        per_source_cap(df, cap=0)


def test_cap_plan_no_python(spark):
    """Both phases are JVM window aggregates — no Python evaluation
    anywhere in the physical plan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        per_source_cap(docs, cap=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"):
        assert marker not in plan, marker
