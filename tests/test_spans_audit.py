"""Span-integrity audit (operators/spans_audit.py): hand-built
malformed fixtures, a DuckDB twin over a materialized corpus with
deterministically planted violations, and a no-shuffle/no-Python plan
assertion."""

from __future__ import annotations

import duckdb

from docling_pdf_spark.operators.spans_audit import (
    spans_audit,
    spans_audit_sql,
)
from docling_pdf_spark.schemas import DOCUMENTS_SCHEMA
from tests.test_queries_vs_duckdb import _canon_frame


def _doc(doc_id, spans):
    return (doc_id, [tuple(s) for s in spans])


HAND_DOCS = [
    # clean: two text spans with increasing offsets + a linked image
    _doc("ok", [("text", "hello world", None, 0),
                ("text", "second page", None, 12),
                ("image", None, "img-1", 12)]),
    # offsets out of order
    _doc("bad-order", [("text", "b", None, 10), ("text", "a", None, 0)]),
    # duplicate offset (not strictly increasing)
    _doc("dup-off", [("text", "a", None, 5), ("text", "b", None, 5)]),
    # orphan media (no ref) + unknown kind
    _doc("orphan", [("text", "x", None, 0), ("media", None, None, -1),
                    ("blob", None, None, -1)]),
    # empty text span
    _doc("empty-text", [("text", "   ", None, 0)]),
    # degenerate: null spans array
    ("null-spans", None),
    # NULL offset: must census as a violation (FALSE), not vanish as
    # NULL — array_sort(offs)==offs alone is NULL here, and DuckDB's
    # list_distinct strips NULLs, so both engines need the explicit
    # null-free conjunct to agree (review-found)
    _doc("null-off", [("text", "a", None, 0), ("text", "b", None, None)]),
    # NULL kind counts as unknown (bare ~isin() is NULL → F.filter
    # drops the element and the row would audit clean)
    _doc("null-kind", [(None, "x", None, 0)]),
]

EXPECT = {
    #        (n_spans, n_text, n_media, unk, orphan, empty, mono, ok)
    "ok":         (3, 2, 1, 0, 0, 0, True, True),
    "bad-order":  (2, 2, 0, 0, 0, 0, False, False),
    "dup-off":    (2, 2, 0, 0, 0, 0, False, False),
    "orphan":     (3, 1, 1, 1, 1, 0, True, False),
    "empty-text": (1, 1, 0, 0, 0, 1, True, False),
    "null-spans": (0, 0, 0, 0, 0, 0, True, True),
    "null-off":   (2, 2, 0, 0, 0, 0, False, False),
    "null-kind":  (1, 0, 0, 1, 0, 0, True, False),
}


def test_audit_hand_cases(spark):
    df = spark.createDataFrame(HAND_DOCS, DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: r for r in spans_audit(df).collect()}
    assert set(got) == set(EXPECT)
    for doc_id, exp in EXPECT.items():
        r = got[doc_id]
        assert (
            r["n_spans"], r["n_text"], r["n_media"], r["n_unknown_kind"],
            r["n_orphan_media"], r["n_empty_text"],
            r["text_offsets_monotonic"], r["audit_ok"],
        ) == exp, doc_id


def test_audit_matches_duckdb_on_planted_corpus(spark, tmp_path):
    """Fixture corpus + the hand cases written to parquet; the DuckDB
    twin runs the literally-equivalent list lambdas on the same file."""
    import pyarrow.parquet as pq

    from docling_pdf_spark.fixtures import gen_documents

    fixture = str(tmp_path / "fixture.parquet")
    pq.write_table(gen_documents(200, seed=7, adversarial=True), fixture)
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(HAND_DOCS, DOCUMENTS_SCHEMA).unionByName(
        spark.read.parquet(fixture)
    ).coalesce(1).write.mode("overwrite").parquet(p)

    sdf = spans_audit(spark.read.parquet(p)).toPandas()
    ddf = duckdb.sql(spans_audit_sql(f"'{p}/*.parquet'")).df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    # 6 hand docs + 200 fixture docs + the fixture's adversarial cohort
    assert len(sdf) == len(ddf) > 206
    assert _canon_frame(sdf) == _canon_frame(ddf)


def test_audit_plan_narrow_no_python(spark, tmp_path):
    """The audit is a single narrow projection over the scan: no
    Exchange, no Python eval in the physical plan."""
    import pyarrow.parquet as pq

    from docling_pdf_spark.fixtures import gen_documents

    p = str(tmp_path / "docs.parquet")
    pq.write_table(gen_documents(50, seed=3), p)
    plan = (
        spans_audit(spark.read.parquet(p))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker
