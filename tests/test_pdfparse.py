"""Unit tests for the PDF mini-parser ladder (SURVEY.md §2a X5/X7/X8)."""

from __future__ import annotations

from docling_pdf_spark.conf import RUNG_LENIENT, RUNG_RAW, RUNG_STRICT
from docling_pdf_spark.core.pdfgen import PageSpec, make_pdf
from docling_pdf_spark.core.pdfparse import (
    _unescape,
    parse_ladder,
    parse_strict,
)


def _page(*texts, **kw):
    return PageSpec(texts=list(texts), **kw)


def test_strict_roundtrip_pages_and_text():
    pdf = make_pdf(
        [
            _page((72, 700, "first line"), (72, 630, "second line")),
            _page((72, 700, "page two")),
        ]
    )
    parsed = parse_strict(pdf)
    assert parsed.rung == RUNG_STRICT
    assert [p.number for p in parsed.pages] == [1, 2]
    assert parsed.pages[0].reading_order_text() == "first line\nsecond line"
    assert parsed.pages[1].reading_order_text() == "page two"
    assert parsed.pages_with_valid_dimensions == 2


def test_reading_order_sort_top_down_left_right():
    # boxes deliberately out of reading order; two-column layout
    pdf = make_pdf(
        [
            _page(
                (320, 700, "right top"),
                (60, 100, "left bottom"),
                (60, 700, "left top"),
                (320, 100, "right bottom"),
            )
        ]
    )
    parsed = parse_strict(pdf)
    # (-y, x): y=700 row first (left 60 before right 320), then y=100 row
    assert (
        parsed.pages[0].reading_order_text()
        == "left top\nright top\nleft bottom\nright bottom"
    )


def test_reading_order_tie_stability():
    pdf = make_pdf([_page((72, 500, "a"), (72, 500, "b"), (72, 500, "c"))])
    assert parse_strict(pdf).pages[0].reading_order_text() == "a\nb\nc"


def test_invalid_mediabox_repaired_to_a4():
    # reference default: _fix_pdf_page_dimensions → 595×842 (pdf_extractor.py:668-671)
    pdf = make_pdf([_page((72, 700, "x"), media_box=(0, 0, 0, 0))])
    parsed = parse_strict(pdf)
    page = parsed.pages[0]
    assert not page.valid_dims
    assert (page.width, page.height) == (595.0, 842.0)
    assert parsed.pages_with_valid_dimensions == 0


def test_encrypted_flag_from_trailer():
    pdf = make_pdf([_page((72, 700, "x"))], encrypted=True)
    assert parse_strict(pdf).encrypted


def test_needs_password_distinct_from_encrypted():
    """ISO 32000-1 §7.6.3.3: empty-user-password /U equals the padding
    constant → readable; any other /U → password required."""
    from docling_pdf_spark.core.pdfparse import encryption_flags, parse_ladder

    plain = make_pdf([_page((72, 700, "x"))])
    assert encryption_flags(plain) == (False, False)

    readable = make_pdf([_page((72, 700, "x"))], encrypted=True)
    assert encryption_flags(readable) == (True, False)
    p = parse_ladder(readable)
    assert p.encrypted and not p.needs_password

    locked = make_pdf([_page((72, 700, "x"))], needs_password=True)
    assert encryption_flags(locked) == (True, True)
    p = parse_ladder(locked)
    assert p.encrypted and p.needs_password


def test_encrypt_mention_in_content_is_not_flagged():
    """A document whose TEXT merely mentions '/Encrypt' (or '/U (...)')
    must not be flagged — detection is scoped to the trailer dict."""
    from docling_pdf_spark.core.pdfparse import encryption_flags, parse_ladder

    pdf = make_pdf([_page((72, 700, "the /Encrypt key and /U (values) explained"))])
    assert encryption_flags(pdf) == (False, False)
    p = parse_ladder(pdf)
    assert not p.encrypted and not p.needs_password


def test_producer_sniff():
    pdf = make_pdf([_page((72, 700, "x"))], producer="writer (v2) \\ test")
    # escaped parens/backslash in the literal round-trip exactly, in the
    # /Info map the producer column reads
    assert parse_ladder(pdf).metadata["Producer"] == "writer (v2) \\ test"
    bare = parse_ladder(make_pdf([_page((72, 700, "x"))]))
    assert "Producer" not in bare.metadata


def test_images_counted_per_page():
    pdf = make_pdf([_page((72, 700, "x"), n_images=2), _page((72, 700, "y"))])
    parsed = parse_strict(pdf)
    assert [p.n_images for p in parsed.pages] == [2, 0]


def test_ladder_corrupt_graph_falls_to_lenient():
    pdf = make_pdf([_page((72, 700, "keep me"))], corrupt="garbage_graph")
    parsed = parse_ladder(pdf)
    assert parsed.rung == RUNG_LENIENT
    assert "keep me" in parsed.pages[0].reading_order_text()


def test_ladder_truncated_falls_to_lenient():
    pdf = make_pdf(
        [_page((72, 700, "alpha")), _page((72, 700, "beta"))],
        corrupt="truncate_xref",
    )
    parsed = parse_ladder(pdf)
    assert parsed.rung == RUNG_LENIENT
    assert any("alpha" in p.reading_order_text() for p in parsed.pages)


def test_ladder_mangled_ops_falls_to_raw():
    pdf = make_pdf([_page((72, 700, "sieved text"))], corrupt="mangle_ops")
    parsed = parse_ladder(pdf)
    assert parsed.rung == RUNG_RAW
    assert "sieved text" in parsed.pages[0].reading_order_text()


def test_unescape_escapes_and_octal():
    assert _unescape(rb"a\(b\)c\\d") == "a(b)c\\d"
    assert _unescape(rb"\101\102") == "AB"
    assert _unescape("héllo ✓".encode()) == "héllo ✓"


def test_unicode_text_roundtrip():
    s = "文档 🔥 توازي (nested) back\\slash"
    pdf = make_pdf([_page((72, 700, s))])
    assert parse_strict(pdf).pages[0].reading_order_text() == s


def test_strict_roundtrip_property():
    """Property: for any generated PageSpec set, strict parse recovers
    exactly the pages, boxes (reading-order sorted), image counts and
    dimension census that went in."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
        min_size=1, max_size=30,
    )
    box = st.tuples(
        st.floats(0, 600, allow_nan=False).map(lambda v: round(v, 2)),
        st.floats(0, 800, allow_nan=False).map(lambda v: round(v, 2)),
        text,
    )
    page = st.builds(
        PageSpec,
        texts=st.lists(box, min_size=0, max_size=6),
        n_images=st.integers(0, 2),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(page, min_size=1, max_size=4))
    def check(pages):
        parsed = parse_strict(make_pdf(pages))
        assert len(parsed.pages) == len(pages)
        assert parsed.pages_with_valid_dimensions == len(pages)
        for spec, got in zip(pages, parsed.pages):
            assert got.n_images == spec.n_images
            want = sorted(
                range(len(spec.texts)),
                key=lambda i: (-spec.texts[i][1], spec.texts[i][0], i),
            )
            assert got.reading_order_text() == "\n".join(
                spec.texts[i][2] for i in want
            )

    check()


def test_nested_balanced_parens_in_literal_string():
    """ISO 32000-1 §7.3.4.2: balanced unescaped parens are legal inside a
    literal string. Review-found: the block regex dropped the ENTIRE
    BT..ET block on '(a(b)c)'; now both the block scan and the Tj match
    consume nested strings (depth ≤2) atomically."""
    pdf = make_pdf([_page((72, 700, "aXbYc"), (72, 630, "other text"))])
    nested = pdf.replace(b"(aXbYc)", b"(a(b)c)")
    parsed = parse_strict(nested)
    assert parsed.pages[0].reading_order_text() == "a(b)c\nother text"
    # depth 2 also survives
    deep = pdf.replace(b"(aXbYc)", b"(a(b(c))d)")
    assert parse_strict(deep).pages[0].reading_order_text() == "a(b(c))d\nother text"


def test_info_lookup_scoped_for_xref_stream_pdfs():
    """Review-found: a trailer-less (xref-stream) PDF whose page TEXT
    mentions '/Info N G R' must not have that mention resolved as
    document metadata; only a /Type /XRef object dictionary counts."""
    from docling_pdf_spark.core.pdfparse import info_dict

    pdf = make_pdf([_page((72, 700, "see /Info 1 0 R here"), (72, 630, "x"))])
    # strip the trailer keyword so the xref-stream path is exercised;
    # object 1 exists (the font), so a whole-stream scan WOULD resolve it
    no_trailer = pdf.replace(b"trailer", b"trailXX")
    assert info_dict(no_trailer) == {}

    # a genuine XRef object dict carrying /Info IS honored (/W is
    # mandatory for real XRef streams — the scoping requires it)
    with_xref = no_trailer + (
        b"9 0 obj\n<< /Type /XRef /Size 10 /W [1 2 1] /Info 8 0 R >>\n"
        b"stream\n\x00\x01\x02\nendstream\nendobj\n"
        b"8 0 obj\n<< /Producer (xref-writer) >>\nendobj\n"
    )
    assert info_dict(with_xref) == {"Producer": "xref-writer"}

    # ...but page STREAM DATA mentioning '/Type /XRef ... /Info N G R'
    # (a document about PDF internals) must not count: only the object's
    # dictionary portion, with the mandatory /W, is consulted
    decoy = no_trailer + (
        b"9 0 obj\n<< /Length 60 >>\nstream\n"
        b"the /Type /XRef entry with /W [1 2 1] points /Info 1 0 R here"
        b"\nendstream\nendobj\n"
    )
    assert info_dict(decoy) == {}


def test_info_value_with_nested_parens():
    """A spec-legal Info value like '(Acme (TM) Writer)' must survive:
    the entry regex shares the nesting-aware string body with the text
    ops (second-review consistency finding)."""
    from docling_pdf_spark.core.pdfparse import info_dict

    pdf = make_pdf([_page((72, 700, "x"))], producer="AcmeXTMYWriter")
    nested = pdf.replace(b"(AcmeXTMYWriter)", b"(Acme (TM) Writer)")
    assert info_dict(nested) == {"Producer": "Acme (TM) Writer"}


def test_string_operand_of_other_ops_never_leaks_td():
    """A literal string operand of a non-Tj operator containing '1 2 Td'
    must not reposition the following real text op (second-review
    finding: phantom Td matched inside the string body)."""
    pdf = make_pdf([_page((72, 700, "PLACEHOLDER"), (72, 630, "real text"))])
    # turn the first show-text op into a Tw-like string operand carrying
    # a fake Td inside; the second op must keep its true (72, 630) box
    poisoned = pdf.replace(b"(PLACEHOLDER) Tj", b"(1 2 Td) Tw")
    parsed = parse_strict(poisoned)
    assert parsed.pages[0].boxes == [(72.0, 630.0, "real text")]


def test_unbalanced_paren_stream_falls_back_to_flat_parse():
    """Whole-round-review finding: one unbalanced '(' must not let the
    nesting-aware string matcher swallow later blocks. Unbalanced
    streams are detected by paren-count and parsed with the flat
    (round-2) regexes: strings truncate, blocks survive."""
    from docling_pdf_spark.core.pdfparse import _text_boxes

    stream = b"BT 10 700 Td (bad ET BT 10 600 Td (good) Tj ET"
    #          ^ unbalanced '(' before 'bad' — no closing for it
    boxes = _text_boxes(stream)
    assert ("good" in [t for _x, _y, t in boxes])

    # count-BALANCED nested string: the spec-correct reading is ONE
    # literal string (ISO 32000-1 allows balanced parens), so both
    # 'segments' belong to one block and the string is the operand of
    # a Tj — consumed whole
    nested = b"BT 10 700 Td (bad ET BT (good) Tj x) Tj ET"
    assert [t for _x, _y, t in _text_boxes(nested)] == ["bad ET BT (good) Tj x"]


def test_info_object_cannot_be_spoofed_from_stream_data():
    """Whole-round-review finding: page CONTENT spelling out
    'N G obj << /Producer (Spoof) >> endobj' after the real Info object
    must not win the last-match scan — metadata object resolution runs
    on a stream-stripped preimage."""
    from docling_pdf_spark.core.pdfparse import info_dict

    pdf = make_pdf([_page((72, 700, "SPOOFSLOT"))], producer="Real Writer")
    assert info_dict(pdf) == {"Producer": "Real Writer"}
    # find the real Info object's number to craft a matching spoof
    import re as _re

    num = _re.search(rb"/Info (\d+) 0 R", pdf).group(1).decode()
    spoof = f"{num} 0 obj << /Producer (Spoof) >> endobj".encode()
    poisoned = pdf.replace(b"(SPOOFSLOT)", b"(" + spoof.replace(b"(", b"\\(").replace(b")", b"\\)") + b")")
    # the spoof sits INSIDE a content stream (escaped string payload);
    # also try the raw-bytes variant appended inside the stream body
    assert info_dict(poisoned) == {"Producer": "Real Writer"}
    raw_inject = pdf.replace(b"(SPOOFSLOT) Tj", spoof + b" (x) Tj")
    assert info_dict(raw_inject) == {"Producer": "Real Writer"}


def test_xref_decoy_inside_stream_body_is_ignored():
    """r3 ADVICE: a decoy object spliced INSIDE a stream body —
    positioned after an 'endobj' token in that body, with no
    intervening 'stream' keyword — previously satisfied the raw-bytes
    xref-object scan and hijacked /Info resolution for trailer-less
    PDFs. The scan now runs on the stream-stripped preimage."""
    from docling_pdf_spark.core.pdfparse import info_dict

    pdf = make_pdf([_page((72, 700, "x"))])
    no_trailer = pdf.replace(b"trailer", b"trailXX")
    decoy = no_trailer + (
        b"7 0 obj\n<< /Length 120 >>\nstream\n"
        b"text endobj 9 0 obj << /Type /XRef /Size 10 /W [1 2 1] "
        b"/Info 8 0 R >> endobj more"
        b"\nendstream\nendobj\n"
        b"8 0 obj\n<< /Producer (spoofed) >>\nendobj\n"
    )
    assert info_dict(decoy) == {}


def test_trailer_keyword_in_stream_does_not_rescope_info():
    """r3 ADVICE: rfind(b'trailer') on raw bytes can land on the word
    'trailer' inside the last page's content stream of a trailer-less
    PDF, re-scoping the /Info lookup to page text. The keyword search
    now runs on the stream-stripped preimage."""
    from docling_pdf_spark.core.pdfparse import info_dict

    pdf = make_pdf([_page((72, 700, "TRAILERSLOT mentions /Info 8 0 R ok"))])
    no_trailer = pdf.replace(b"trailer", b"trailXX").replace(
        b"TRAILERSLOT", b"trailer"
    )
    poisoned = no_trailer + b"8 0 obj\n<< /Producer (spoofed) >>\nendobj\n"
    assert info_dict(poisoned) == {}


def test_escaped_backslash_miscount_does_not_swallow_blocks():
    """r3 ADVICE: the old count() balance arithmetic treated the
    unescaped paren in '\\\\)' (escaped backslash, then paren) as
    escaped, so a truly unbalanced stream could be judged balanced and
    the nesting-aware matcher could swallow later BT..ET blocks. The
    backslash-run parity scan is exact in both directions."""
    from docling_pdf_spark.core.pdfparse import _parens_balanced, _text_boxes

    stream = b"BT 10 700 Td (bad ET BT 10 600 Td (good) Tj ET q \\\\) ) Q"
    # truly unbalanced (opens 2, unescaped closes 3); the old formula
    # judged it balanced and the nesting-aware path swallowed 'good'
    assert not _parens_balanced(stream)
    assert "good" in [t for _x, _y, t in _text_boxes(stream)]
    # the legal escaped-backslash-terminated string is genuinely
    # balanced; the old formula wrongly judged it unbalanced
    assert _parens_balanced(b"BT (x\\\\) Tj ET")
