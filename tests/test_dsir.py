"""DSIR importance weights (operators/dsir.py): hashed-ngram
target/raw log-likelihood-ratio scores must be value-identical to the
DuckDB twin (portable bucket hash; ROUND(.,4) float contract), and
the scores must actually rank target-like text above off-target text
on a planted corpus."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from docling_pdf_spark.operators.dsir import (
    dsir_log_ratios,
    dsir_oracle_sql,
    dsir_weights,
)
from tests.test_queries_vs_duckdb import SF_DIR, _assert_matches

TARGET_MOD = 17


def _docs(spark, d=SF_DIR):
    return spark.read.parquet(f"{d}/documents.parquet")


def _spark_dsir(spark, d):
    docs = _docs(spark, d)
    target = docs.where(F.col("doc_id") % TARGET_MOD == 0)
    ratios = dsir_log_ratios(docs, target)
    return dsir_weights(docs, ratios)


def test_matches_duckdb(spark):
    _assert_matches(
        spark, "dsir_weights", _spark_dsir, dsir_oracle_sql(TARGET_MOD)
    )


def test_target_docs_score_higher_on_planted_corpus(spark):
    """Two disjoint-vocabulary registers; the target exemplars come
    from register A. Every register-A doc must outscore every
    register-B doc (the paper's separation property at its
    easiest)."""
    rows = []
    for i in range(40):
        words = " ".join(
            f"alpha{j % 11} quality{(i + j) % 7} prose{j % 5}"
            for j in range(30)
        )
        rows.append((i, words, "A"))
    for i in range(40, 80):
        words = " ".join(
            f"spam{j % 3} zzz{(i * j) % 13} noise{j % 2}"
            for j in range(30)
        )
        rows.append((i, words, "B"))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, register string"
    )
    target = docs.where(
        (F.col("register") == "A") & (F.col("doc_id") % 4 == 0)
    )
    ratios = dsir_log_ratios(docs, target)
    w = {
        r.doc_id: r.dsir_logweight
        for r in dsir_weights(docs, ratios).collect()
    }
    a = [w[i] for i in range(40)]
    b = [w[i] for i in range(40, 80)]
    assert min(a) > max(b)


def test_short_docs_get_zero_weight(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "single")],
        "doc_id bigint, text string",
    )
    ratios = dsir_log_ratios(docs, docs.where(F.col("doc_id") == 1))
    out = {
        r.doc_id: (r.n_grams, r.dsir_logweight)
        for r in dsir_weights(docs, ratios).collect()
    }
    assert out[2] == (0, 0.0)
    assert out[1][0] == 3  # bigrams with multiplicity


def test_weight_identity_is_additive_over_grams(spark):
    """The doc weight is exactly the sum of its grams' bucket
    log-ratios — verified independently by re-aggregating the melted
    join in Python."""
    docs = _docs(spark).limit(50)
    target = docs.where(F.col("doc_id") % 5 == 0)
    ratios = dsir_log_ratios(docs, target)
    from docling_pdf_spark.functions.arrowhash import bucketed_grams_arrow

    melted = (
        bucketed_grams_arrow(docs, 2, 10_000, "doc_id", "text")
        .join(ratios, "bucket")
        .collect()
    )
    expect = {}
    for r in melted:
        expect[r.doc_id] = expect.get(r.doc_id, 0.0) + r.log_ratio
    got = {
        r.doc_id: r.dsir_logweight
        for r in dsir_weights(docs, ratios).collect()
        if r.n_grams > 0
    }
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - round(expect[k], 4)) < 1e-9, k


def test_target_total_counts_out_of_raw_vocabulary(spark):
    """Review-found bias: the target total must include target grams
    whose buckets never occur in the raw corpus (the normal external-
    exemplar case). Verified against a hand-computed expectation on a
    vocabulary-disjoint target."""
    import math

    raw = spark.createDataFrame(
        [(1, "aa bb aa bb"), (2, "cc dd cc dd")],
        "doc_id bigint, text string",
    )
    # 5 bigrams, vocabulary disjoint from raw -> (likely) raw-absent
    # buckets; with the bug, _ttot collapsed to 0 instead of 5
    tgt = spark.createDataFrame(
        [(0, "xx yy xx yy xx yy")], "doc_id bigint, text string"
    )
    B = 10_000
    ratios = {
        r.bucket: r.log_ratio
        for r in dsir_log_ratios(raw, tgt, n_buckets=B).collect()
    }
    from docling_pdf_spark.functions.arrowhash import bucketed_grams_arrow

    raw_buckets = [
        r.bucket
        for r in bucketed_grams_arrow(raw, 2, B, "doc_id", "text").collect()
    ]
    tgt_buckets = {
        r.bucket
        for r in bucketed_grams_arrow(tgt, 2, B, "doc_id", "text").collect()
    }
    rtot, ttot = len(raw_buckets), 5
    from collections import Counter

    rc = Counter(raw_buckets)
    for b, lr in ratios.items():
        tc = 0 if b not in tgt_buckets else None
        assert tc == 0 or b in tgt_buckets
        expect = (
            math.log(0 + 1.0) - math.log(ttot + B)
            - math.log(rc[b] + 1.0) + math.log(rtot + B)
        )
        assert abs(lr - expect) < 1e-12, (b, lr, expect)


def test_null_text_yields_empty_grams(spark):
    """Kernel contract pin (review-found): NULL text must produce an
    EMPTY gram array, not NULL — a future size()/contains consumer
    must see 0/false, not NULL propagation."""
    from docling_pdf_spark.operators.dedup import _gram_arrays

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r.grams for r in _gram_arrays(docs, "doc_id", "text", n=2).collect()}
    assert out[1] == []
    assert out[2] == ["a b", "b c"]


def test_dsir_keep_count_arithmetic():
    from jobs.curate import _dsir_keep_count

    assert _dsir_keep_count(90, 0.7) == 63     # 62.99999... must be 63
    assert _dsir_keep_count(100, 0.29) == 29
    assert _dsir_keep_count(100, 0.5) == 50
    assert _dsir_keep_count(1, 0.5) == 1       # never silently drop all
    assert _dsir_keep_count(0, 0.5) == 0
    assert _dsir_keep_count(3, 1.0) == 3
