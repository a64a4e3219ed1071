"""Per-document extraction semantics: span encoding (SURVEY.md §1.4),
aggregates (X13), pagination (X12), failure envelopes (X14), plus
hypothesis property tests (SURVEY.md §5.2.2)."""

from __future__ import annotations

import base64

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_pdf_spark.conf import LINES_PER_PAGE
from docling_pdf_spark.core.extract import extract_document
from docling_pdf_spark.core.pdfgen import PageSpec, make_pdf


def sp(kind, text, media_ref=None, offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def pdf64(pages, **kw):
    return base64.b64encode(make_pdf(pages, **kw)).decode("ascii")


# ------------------------------------------------------------- encoding


def test_span_encoding_order_and_offsets():
    row = extract_document(
        "d1",
        [
            sp("text", "alpha", offset=0),
            sp("media", "cap", media_ref="img://d1/0", offset=1),
            sp("html", "<p>paragraph body long enough to survive density</p>"
                       "<table><tr><td>x</td><td>y</td></tr></table>", offset=2),
            sp("text", "omega", offset=3),
        ],
    )
    assert row["extraction_successful"]
    kinds = [s["kind"] for s in row["spans"]]
    # all text spans first, then tables, then media (no images here)
    assert kinds == ["text", "text", "text", "table", "media"]
    t0, t1, t2 = row["spans"][0], row["spans"][1], row["spans"][2]
    assert t0["offset"] == 0
    assert t1["offset"] == len(t0["text"]) + 1
    assert t2["offset"] == t1["offset"] + len(t1["text"]) + 1
    # full-text aggregates (pdf_extractor.py:456-457 semantics)
    full = "\n".join(s["text"] for s in row["spans"] if s["kind"] == "text")
    assert row["n_chars"] == len(full)
    assert row["n_words"] == len(full.split())
    assert row["n_pages"] == 3
    assert row["has_tables"] and not row["has_images"]
    # media links to nearest PRECEDING text block = 'alpha' at offset 0
    media = row["spans"][-1]
    assert media["media_ref"] == "img://d1/0"
    assert media["offset"] == 0


def test_media_before_any_text_links_to_minus_one():
    row = extract_document("d", [sp("media", "cap", media_ref="m://x", offset=0)])
    assert row["spans"][0]["offset"] == -1


def test_pdf_image_span_fstring_and_ref():
    row = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(72, 700, "t")], n_images=2)]))]
    )
    imgs = [s for s in row["spans"] if s["kind"] == "image"]
    # byte-exact description f-string (pdf_extractor.py:518-524)
    assert [(i["media_ref"], i["text"]) for i in imgs] == [
        ("page1/img1", "Image 1 on page 1"),
        ("page1/img2", "Image 2 on page 1"),
    ]
    assert row["has_images"]


# ----------------------------------------------------------- pagination


def test_strict_path_repaginates_50_lines():
    # one real page with 120 text lines → 3 output pages of 50/50/20
    # (docling-path behavior: real boundaries discarded, pdf_extractor.py:413-442)
    texts = [(72.0, 800.0 - i * 0.5, f"line {i:03d}") for i in range(120)]
    row = extract_document("d", [sp("pdf", pdf64([PageSpec(texts=texts)]))])
    pages = [s for s in row["spans"] if s["kind"] == "text"]
    assert row["extraction_method"] == "strict"
    assert [len(p["text"].split("\n")) for p in pages] == [50, 50, 20]
    assert pages[0]["text"].startswith("line 000")


def test_fallback_path_keeps_real_page_boundaries():
    pdf = pdf64(
        [PageSpec(texts=[(72, 700, "p1")]), PageSpec(texts=[(72, 700, "p2")])],
        corrupt="truncate_xref",
    )
    row = extract_document("d", [sp("pdf", pdf)])
    assert row["extraction_method"] == "lenient"
    pages = [s["text"] for s in row["spans"] if s["kind"] == "text"]
    # real page boundaries preserved (strict would merge into one
    # 50-line chunk: one span, not two)
    assert pages == ["p1", "p2"]


# ------------------------------------------------------------ envelopes


def test_bad_magic_is_error_row():
    row = extract_document("d", [sp("pdf", pdf64([PageSpec()], corrupt="no_magic"))])
    assert row == {
        "doc_id": "d",
        "extraction_successful": False,
        "extraction_method": None,
        "spans": [],
        "n_pages": 0,
        "n_chars": 0,
        "n_words": 0,
        "has_tables": False,
        "has_images": False,
        "producer": None,
        "metadata": None,
        "warning": None,
        "error": "invalid_pdf_magic",
    }


def test_encrypted_vs_needs_password_warnings():
    """Reference pdf_extractor.py:591-612: is_encrypted and needs_pass
    are DISTINCT flags — empty-user-password PDFs are readable."""
    readable = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "open sesame")])],
                              encrypted=True))]
    )
    assert readable["extraction_successful"]
    assert readable["warning"] == "encrypted"
    assert "needs_password" not in (readable["warning"] or "")

    locked = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "secret")])],
                              needs_password=True))]
    )
    assert locked["warning"] == "encrypted;needs_password"


def test_producer_metadata_column():
    """X4 producer sniff (pdf_extractor.py:139-148, :596): the /Producer
    string surfaces as a metrics column; docs without one get null."""
    row = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "hello world")])],
                              producer="fixture-writer 1.4"))]
    )
    assert row["producer"] == "fixture-writer 1.4"
    # escaped parens/backslash in the /Producer literal round-trip exactly
    escaped = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "hello world")])],
                              producer="writer (v2) \\ test"))]
    )
    assert escaped["producer"] == "writer (v2) \\ test"
    bare = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "hello world")])]))]
    )
    assert bare["producer"] is None
    no_pdf = extract_document("d", [sp("text", "plain text only")])
    assert no_pdf["producer"] is None


def test_producer_ignores_page_text_mention():
    """Round-2 ADVICE: '/Producer (x)' appearing in page TEXT must not be
    reported as document metadata — the sniff resolves the trailer's
    /Info object only (same scoping class as the /Encrypt fix)."""
    row = extract_document(
        "d",
        [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "see /Producer (fake) here")])]))],
    )
    assert row["producer"] is None
    assert row["metadata"] is None


def test_metadata_map_roundtrip():
    """VERDICT #6: the reference stores PyMuPDF's whole metadata map
    (pdf_extractor.py:596); the full Info dict rides a map column and
    span output is unchanged by its presence."""
    info = {"Title": "Título", "Author": "A. N. Author",
            "CreationDate": "D:20260101120000Z"}
    with_md = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "hello world")])],
                              producer="fixture-writer 1.4", info=info))]
    )
    assert with_md["metadata"] == {"Producer": "fixture-writer 1.4", **info}
    assert with_md["producer"] == "fixture-writer 1.4"
    bare = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "hello world")])],
                              producer="fixture-writer 1.4", info=info))]
    )
    plain = extract_document(
        "d", [sp("pdf", pdf64([PageSpec(texts=[(0, 700.0, "hello world")])]))]
    )
    assert bare["spans"] == plain["spans"]  # metadata never alters spans
    assert plain["metadata"] is None


def test_producer_coupled_to_first_metadata_dict():
    """Multi-PDF interleaved doc: producer must describe the SAME Info
    dict as the metadata column (review-found: deriving producer from a
    later PDF while metadata came from an earlier one made the two
    columns describe different documents)."""
    pdf_title_only = pdf64(
        [PageSpec(texts=[(0, 700.0, "one")])], info={"Title": "T"}
    )
    pdf_with_producer = pdf64(
        [PageSpec(texts=[(0, 700.0, "two")])], producer="late-writer"
    )
    row = extract_document(
        "d",
        [sp("pdf", pdf_title_only, offset=0), sp("pdf", pdf_with_producer, offset=1)],
    )
    assert row["metadata"] == {"Title": "T"}
    assert row["producer"] is None  # the first-seen dict has no Producer


def test_oversize_is_error_row(monkeypatch):
    import docling_pdf_spark.core.extract as ex

    monkeypatch.setattr(ex, "MAX_PDF_BYTES", 64)
    row = extract_document("d", [sp("pdf", pdf64([PageSpec(texts=[(0, 0, "x" * 100)])]))])
    assert not row["extraction_successful"]
    assert row["error"] == "file_too_large"


def test_invalid_base64_is_error_row():
    row = extract_document("d", [sp("pdf", "not$$base64!!")])
    assert not row["extraction_successful"]
    assert row["error"].startswith("invalid_base64_payload")


def test_empty_doc_success_with_warning():
    for spans in ([], None):
        row = extract_document("d", spans)
        assert row["extraction_successful"]
        assert row["warning"] == "empty_document"
        assert row["spans"] == [] and row["n_pages"] == 0


def test_never_raises_on_garbage_span_objects():
    row = extract_document("d", [{"kind": "pdf"}, {"bogus": 1}, None])
    assert row["doc_id"] == "d"  # produced a row, whatever its status


# ---------------------------------------------------------- properties


text_lines = st.lists(
    st.text(
        alphabet=st.characters(blacklist_characters="\n", blacklist_categories=("Cs",)),
        min_size=1,
        max_size=40,
    ).map(lambda s: s.replace("\r", " ")),
    min_size=1,
    max_size=130,
)


@settings(max_examples=50, deadline=None)
@given(text_lines)
def test_pagination_inverse_property(lines):
    """'\n'.join(text spans) == full_text, and offsets are exact cumsums
    (SURVEY.md §5.2.2 pagination-inverse + offset-monotonicity)."""
    texts = [(72.0, 800.0 - i * 0.01, ln) for i, ln in enumerate(lines)]
    row = extract_document("d", [sp("pdf", pdf64([PageSpec(texts=texts)]))])
    spans = [s for s in row["spans"] if s["kind"] == "text"]
    full = "\n".join(s["text"] for s in spans)
    assert row["n_chars"] == len(full)
    off = 0
    for s in spans:
        assert s["offset"] == off
        off += len(s["text"]) + 1
    # page sizes: every page except the last has exactly LINES_PER_PAGE lines
    for s in spans[:-1]:
        assert len(s["text"].split("\n")) == LINES_PER_PAGE


@settings(max_examples=30, deadline=None)
@given(st.lists(st.sampled_from(["text", "media"]), min_size=1, max_size=12))
def test_offset_monotonicity_mixed_spans(kinds):
    spans = [
        sp(k, f"payload {i} long enough", media_ref=f"m://{i}" if k == "media" else None, offset=i)
        for i, k in enumerate(kinds)
    ]
    row = extract_document("d", spans)
    offs = [s["offset"] for s in row["spans"] if s["kind"] == "text"]
    assert offs == sorted(offs)
    assert all(o >= 0 for o in offs)


def test_input_span_storage_order_is_irrelevant():
    """Equality must be insensitive to physical storage order of input
    spans — extraction sorts by (offset, index) first (input_hint says
    offsets are ascending, but storage may not preserve it)."""
    spans = [
        sp("text", "first block of text", offset=0),
        sp("media", "cap", media_ref="m://1", offset=1),
        sp("text", "second block of text", offset=2),
    ]
    import random

    shuffled = spans[::-1]
    a = extract_document("d", spans)
    b = extract_document("d", shuffled)
    assert a == b
