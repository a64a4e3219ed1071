"""Span-integrity audit over the interleaved input table — the
data-quality census a 100 TB ingest runs BEFORE extraction, over
exactly the BASELINE input_hint shape
(doc_id, spans:array<struct<kind,text,media_ref,offset>>):

* span_count / per-kind counts (text vs media vs unknown kinds)
* text-offset monotonicity — the §1.4 span encoding orders text spans
  by strictly-increasing cumulative offset; a violation means the
  upstream writer interleaved pages out of order
* media spans missing their media_ref (orphan links)
* text spans with NULL/empty text
* a single audit_ok verdict column for cheap downstream gating

Everything is per-row JVM array-expression work (size / filter /
transform / array_sort) — NO shuffle, NO Python: at 100 TB this runs
as a narrow codegen stage over the parquet scan. The monotonicity test
is expressed as `array_sort(offs) == offs AND distinct-size == size`
so the DuckDB twin can run the literally-equivalent list expressions.

Reference tie-in: the reference trusts its single uploaded file and
fails per-document (pdf_extractor.py failure envelope); at corpus
scale malformed rows must instead be *censused* so the extraction
stage can route or drop them wholesale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The repo's span vocabulary (FIXTURES.md / SURVEY §1.4): input docs
# carry text/html/pdf/media spans; extraction output carries
# text/table/image (+ passthrough media). media and image spans are
# the ones that must link a media_ref.
KNOWN_KINDS = ("text", "html", "pdf", "media", "table", "image")

_MEDIA_KINDS = ("media", "image")


def _text_offsets(spans: Column) -> Column:
    return F.transform(
        F.filter(spans, lambda s: s["kind"] == "text"), lambda s: s["offset"]
    )


def spans_audit(
    docs: DataFrame, id_col: str = "doc_id", spans_col: str = "spans"
) -> DataFrame:
    """(id, n_spans, n_text, n_media, n_unknown_kind, n_orphan_media,
    n_empty_text, text_offsets_monotonic, audit_ok) per document."""
    spans = F.coalesce(F.col(spans_col), F.array())
    offs = _text_offsets(spans)
    # A NULL offset is itself a monotonicity violation — and must be
    # tested explicitly: array_sort(offs) == offs is NULL (not false)
    # when offs contains a NULL element, which would make audit_ok NULL
    # and the row invisible to both `audit_ok` and `NOT audit_ok` filters.
    # FALSE & NULL = FALSE, so leading with the null-free conjunct
    # pins the verdict to a real boolean. The DuckDB twin leads with
    # the literally-equivalent list_filter(x IS NULL) conjunct
    # (list_distinct there additionally STRIPS nulls, so without this
    # guard the two engines disagree NULL-vs-false on such rows).
    no_null_offs = ~F.exists(offs, lambda x: x.isNull())
    monotonic = (
        no_null_offs
        & (F.array_sort(offs) == offs)
        & (F.size(F.array_distinct(offs)) == F.size(offs))
    )
    # NULL kind is unknown, not invisible: bare ~isin() is NULL for
    # NULL kinds and F.filter drops NULL-predicate elements.
    n_unknown = F.size(
        F.filter(
            spans,
            lambda s: s["kind"].isNull() | ~s["kind"].isin(*KNOWN_KINDS),
        )
    )
    n_orphan = F.size(
        F.filter(
            spans,
            lambda s: s["kind"].isin(*_MEDIA_KINDS)
            & (s["media_ref"].isNull() | (s["media_ref"] == "")),
        )
    )
    n_empty_text = F.size(
        F.filter(
            spans,
            lambda s: (s["kind"] == "text")
            & (s["text"].isNull() | (F.trim(s["text"]) == "")),
        )
    )
    out = docs.select(
        F.col(id_col),
        F.size(spans).alias("n_spans"),
        F.size(F.filter(spans, lambda s: s["kind"] == "text")).alias("n_text"),
        F.size(F.filter(spans, lambda s: s["kind"].isin(*_MEDIA_KINDS))).alias(
            "n_media"
        ),
        n_unknown.alias("n_unknown_kind"),
        n_orphan.alias("n_orphan_media"),
        n_empty_text.alias("n_empty_text"),
        monotonic.alias("text_offsets_monotonic"),
    )
    return out.withColumn(
        "audit_ok",
        (F.col("n_unknown_kind") == 0)
        & (F.col("n_orphan_media") == 0)
        & (F.col("n_empty_text") == 0)
        & F.col("text_offsets_monotonic"),
    )


def spans_audit_sql(table: str) -> str:
    """DuckDB twin — identical list-lambda formulation over the same
    struct list (x.kind / x.offset field access; list_sort /
    list_distinct as the duals of array_sort / array_distinct)."""
    spans = "coalesce(spans, [])"
    offs = f"list_transform(list_filter({spans}, x -> x.kind = 'text'), x -> x.\"offset\")"
    kinds = ", ".join(f"'{k}'" for k in KNOWN_KINDS)
    media = ", ".join(f"'{k}'" for k in _MEDIA_KINDS)
    # CAST(... AS INT): Spark's size() is int32 — the driver's schema
    # compare is type-aware (same reason SQL_MULTIMODAL_FRAMES casts)
    # audit_ok references the aliased columns laterally (DuckDB lateral
    # column aliases) so each audit rule is written exactly once —
    # mirroring the Spark side, which builds audit_ok from the named
    # columns. The null-offset conjunct leads text_offsets_monotonic
    # for the same FALSE-over-NULL reason as the Spark plan (see
    # spans_audit above).
    return f"""
SELECT doc_id,
       CAST(len({spans}) AS INT) AS n_spans,
       CAST(len(list_filter({spans}, x -> x.kind = 'text')) AS INT) AS n_text,
       CAST(len(list_filter({spans}, x -> x.kind IN ({media}))) AS INT) AS n_media,
       CAST(len(list_filter({spans}, x -> x.kind IS NULL OR x.kind NOT IN ({kinds}))) AS INT) AS n_unknown_kind,
       CAST(len(list_filter({spans}, x -> x.kind IN ({media})
             AND (x.media_ref IS NULL OR x.media_ref = ''))) AS INT) AS n_orphan_media,
       CAST(len(list_filter({spans}, x -> x.kind = 'text'
             AND (x.text IS NULL OR trim(x.text) = ''))) AS INT) AS n_empty_text,
       (len(list_filter({offs}, x -> x IS NULL)) = 0
        AND list_sort({offs}) = {offs}
        AND len(list_distinct({offs})) = len({offs})) AS text_offsets_monotonic,
       (n_unknown_kind = 0 AND n_orphan_media = 0 AND n_empty_text = 0
        AND text_offsets_monotonic) AS audit_ok
FROM {table}
"""
