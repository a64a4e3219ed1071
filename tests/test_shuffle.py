"""Deterministic corpus shuffle (operators/shuffle.py): the
distributed prefix-sum ranks must be value-identical to the naive
one-window DuckDB twin — that equality is the operator's correctness
contract (same bar as fill_to_allocation)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_pdf_spark.operators.shuffle import (
    deterministic_shuffle,
    deterministic_shuffle_sql,
    global_row_number,
    shuffle_key,
)
from tests.test_queries_vs_duckdb import SF_DIR, _assert_matches


def _docs(spark, d=SF_DIR):
    return spark.read.parquet(f"{d}/documents.parquet")


def test_matches_duckdb(spark):
    _assert_matches(
        spark,
        "corpus_shuffle_42",
        lambda s, d: deterministic_shuffle(_docs(s, d), 42).select(
            "doc_id", "shuffle_rank"
        ),
        deterministic_shuffle_sql(42),
    )


def test_ranks_equal_naive_window_for_every_bucket_count(spark):
    """Spark-side equivalence incl. n_buckets=1 (one range bucket) and
    n_buckets far beyond the row count (mostly empty buckets)."""
    docs = _docs(spark)
    naive = docs.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(shuffle_key(7), F.col("doc_id").asc()))
        .cast("long")
        .alias("r"),
    )
    expect = {r.doc_id: r.r for r in naive.collect()}
    for nb in (1, 7, 32, 4096):
        got = {
            r.doc_id: r.shuffle_rank
            for r in deterministic_shuffle(docs, 7, n_buckets=nb)
            .select("doc_id", "shuffle_rank")
            .collect()
        }
        assert got == expect, f"n_buckets={nb}"


def test_ranks_are_a_dense_permutation(spark):
    docs = _docs(spark)
    n = docs.count()
    ranks = sorted(
        r.shuffle_rank
        for r in deterministic_shuffle(docs, 3).select("shuffle_rank").collect()
    )
    assert ranks == list(range(1, n + 1))


def test_seed_changes_order_same_seed_reproduces(spark):
    docs = _docs(spark)

    def order(seed):
        return [
            r.doc_id
            for r in deterministic_shuffle(docs, seed)
            .orderBy("shuffle_rank")
            .select("doc_id")
            .collect()
        ]

    a, b, a2 = order(1), order(2), order(1)
    assert a == a2, "same seed must reproduce the same permutation"
    assert a != b, "different seeds must permute differently"
    assert sorted(a) == sorted(b)


def test_shuffle_rooted_input(spark):
    """The checkpointed bucket assignment is frozen, so the counts and
    row_number branches agree even when the lineage is rooted in a
    shuffle (join/aggregate upstream)."""
    docs = _docs(spark)
    lang_sizes = docs.groupBy("lang").agg(F.count("*").alias("_n"))
    shuffled = docs.join(lang_sizes, "lang").drop("_n")
    naive = shuffled.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(shuffle_key(11), F.col("doc_id").asc()))
        .cast("long")
        .alias("r"),
    )
    expect = {r.doc_id: r.r for r in naive.collect()}
    got = {
        r.doc_id: r.shuffle_rank
        for r in deterministic_shuffle(shuffled, 11, n_buckets=7)
        .select("doc_id", "shuffle_rank")
        .collect()
    }
    assert got == expect


def test_global_row_number_generic_order(spark):
    """The rank kernel is order-generic: longest-doc-first with id
    tiebreak equals the naive window under the same order."""
    docs = _docs(spark)
    order = [(-F.col("n_chars")).asc_nulls_last(), F.col("doc_id").asc()]
    naive = docs.select(
        "doc_id",
        F.row_number().over(Window.orderBy(*order)).cast("long").alias("r"),
    )
    expect = {r.doc_id: r.r for r in naive.collect()}
    got = {
        r.doc_id: r.rank
        for r in global_row_number(docs, order, n_buckets=7)
        .select("doc_id", "rank")
        .collect()
    }
    assert got == expect


def test_null_id_fails_loudly(spark):
    """Review-found: a NULL id must raise, not silently take a
    twin-divergent rank (concat_ws would skip the NULL) or collide
    with another NULL id on a nondeterministic tiebreak."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    docs = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id bigint, text string"
    )
    with pytest.raises(SparkRuntimeException, match="must be non-null"):
        deterministic_shuffle(docs, 1).collect()
