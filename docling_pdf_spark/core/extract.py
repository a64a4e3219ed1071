"""Per-document extraction semantics — THE shared module (SURVEY.md §7
design stance: one semantics module used by both the serial oracle and
the Spark UDF, so span equality across execution modes is structural).

`extract_document` re-creates the reference's whole
`extract_pdf_async` transform (docling-pdf `pdf_extractor.py:84-369`)
over an interleaved span document:

  admission gates  — size cap / %PDF magic (main.py:102-121)
  parse ladder     — strict→lenient→raw (pdf_extractor.py:694-739 + :473-576)
  geometry repair  — invalid /MediaBox → A4 (pdf_extractor.py:668-671)
  reading order    — sort text boxes by (page, -y, x)  (docling layout analog)
  pagination       — strict rung re-chunks 50 lines/page exactly like the
                     reference's markdown chunker (pdf_extractor.py:413-442,
                     real page boundaries discarded on the docling path);
                     lenient/raw keep real page boundaries like the
                     PyMuPDF fallback (pdf_extractor.py:510-533)
  html strip       — north-rule addition (htmlx.py)
  media linking    — media spans attach to the nearest preceding text block
  aggregates       — word/char/page counts (pdf_extractor.py:339-344, 456-457)
  failure envelope — errors are rows, never exceptions
                     (pdf_extractor.py:357-369)

Output span encoding per SURVEY.md §1.4: text spans (cumulative char
offset into full_text, '\n' joiner), then table spans (offset=-1), then
image spans (media_ref='page{p}/img{i}', offset=-1), then media spans
(offset = linked text block's offset).
"""

from __future__ import annotations

import base64
from typing import Any

from docling_pdf_spark.conf import (
    LINES_PER_PAGE,
    MAX_PDF_BYTES,
    PDF_MAGIC,
    RUNG_NATIVE,
    RUNG_ORDER,
    RUNG_STRICT,
)
from docling_pdf_spark.core.htmlx import extract_html
from docling_pdf_spark.core.pdfparse import parse_ladder

OUTPUT_COLUMNS = [
    "doc_id",
    "extraction_successful",
    "extraction_method",
    "spans",
    "n_pages",
    "n_chars",
    "n_words",
    "has_tables",
    "has_images",
    "producer",
    "metadata",
    "warning",
    "error",
]


def _span_get(span: Any, key: str) -> Any:
    """Tolerate dicts (Arrow), Rows (Spark collect) and objects."""
    if isinstance(span, dict):
        return span.get(key)
    try:
        return span[key]  # pyspark Row supports __getitem__ by name
    except Exception:
        return getattr(span, key, None)


def _mk_span(kind: str, text: str, media_ref: str | None, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _error_row(doc_id: str, error: str) -> dict:
    """Failure envelope (pdf_extractor.py:359-364): row preserved, data null."""
    return {
        "doc_id": doc_id,
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
        "error": error,
    }


class _AdmissionError(Exception):
    """Input rejected by an admission gate (main.py:102-121 analog)."""


def _paginate_50(page_texts: list[str]) -> list[str]:
    """Reference X12: split the joined text on '\n' and greedily bucket
    into LINES_PER_PAGE-line pages, remainder page last
    (pdf_extractor.py:424-442)."""
    lines = "\n".join(page_texts).split("\n")
    pages = [
        "\n".join(lines[i : i + LINES_PER_PAGE])
        for i in range(0, len(lines), LINES_PER_PAGE)
    ]
    return [p for p in pages if p != ""] or ([""] if page_texts else [])


def _extract_pdf_payload(
    payload_b64: str,
    text_blocks: list[str],
    images: list[tuple[str | None, str]],
    warnings: list[str],
    metadatas: list[dict],
) -> str:
    """Run the admission gates + parse ladder on one pdf span.

    Returns the rung used; appends page texts / image descriptors /
    /Info metadata dicts in place. Raises _AdmissionError for gate
    rejections (whole-doc error, mirroring the reference's pre-task
    HTTP 4xx rejects)."""
    try:
        data = base64.b64decode(payload_b64 or "", validate=True)
    except Exception as exc:
        raise _AdmissionError(f"invalid_base64_payload: {exc}") from exc
    if len(data) > MAX_PDF_BYTES:  # main.py:110-114 / config.py:20
        raise _AdmissionError("file_too_large")
    if not data.startswith(PDF_MAGIC):  # main.py:117-121
        raise _AdmissionError("invalid_pdf_magic")

    parsed = parse_ladder(data)
    if parsed.metadata:  # full Info dict (pdf_extractor.py:596);
        metadatas.append(parsed.metadata)  # Producer rides inside it
    if parsed.encrypted:  # pdf_extractor.py:131-132, 594
        warnings.append("encrypted")
    if parsed.needs_password:  # pdf_extractor.py:591-612 distinct flag
        warnings.append("needs_password")
    if not parsed.pages:
        if parsed.rung == RUNG_STRICT:
            warnings.append("zero_pages")  # pdf_extractor.py:135-136 analog
            return parsed.rung
        raise _AdmissionError("unparseable_pdf")
    if parsed.rung == RUNG_STRICT and parsed.pages_with_valid_dimensions < len(
        parsed.pages
    ):
        warnings.append("page_dimensions_repaired")  # pdf_extractor.py:668-671

    page_texts = [t for t in (p.reading_order_text() for p in parsed.pages) if t != ""]
    if parsed.rung == RUNG_STRICT:
        text_blocks.extend(_paginate_50(page_texts) if page_texts else [])
    else:
        # fallback path keeps real page boundaries (pdf_extractor.py:510-533)
        text_blocks.extend(page_texts)

    for page in parsed.pages:
        for i in range(page.n_images):
            # f-string mirrors the reference byte-for-byte
            # (pdf_extractor.py:518-524)
            images.append(
                (
                    f"page{page.number}/img{i + 1}",
                    f"Image {i + 1} on page {page.number}",
                )
            )
    return parsed.rung


def extract_document(doc_id: str, spans: Any) -> dict:
    """One interleaved document in → one EXTRACTED_SCHEMA row out.

    Never raises: any failure produces an error row
    (pdf_extractor.py:357-369 catch-everything semantics)."""
    try:
        return _extract_document(doc_id, spans)
    except _AdmissionError as exc:
        return _error_row(doc_id, str(exc))
    except Exception as exc:  # X14 parse-failure envelope
        return _error_row(doc_id, f"{type(exc).__name__}: {exc}")


def _extract_document(doc_id: str, spans: Any) -> dict:
    text_blocks: list[str] = []
    tables: list[str] = []
    images: list[tuple[str | None, str]] = []  # (media_ref, description)
    media_links: list[tuple[str | None, str, int]] = []  # (ref, caption, block idx)
    warnings: list[str] = []
    # X4 metadata sniff (pdf_extractor.py:139-148, :596): full Info
    # dicts; the producer column derives from the first-seen dict
    metadatas: list[dict] = []
    rung_rank = RUNG_ORDER.index(RUNG_NATIVE)

    span_list = list(spans) if spans is not None else []
    if not span_list:
        row = _error_row(doc_id, "")
        row.update(
            extraction_successful=True,
            extraction_method=RUNG_NATIVE,
            warning="empty_document",
            error=None,
        )
        return row

    # input spans are ordered by offset (input_hint contract); stable-sort
    # defensively so equality is insensitive to storage order
    indexed = sorted(
        enumerate(span_list),
        key=lambda p: (
            _span_get(p[1], "offset") if _span_get(p[1], "offset") is not None else 0,
            p[0],
        ),
    )

    for _, span in indexed:
        kind = _span_get(span, "kind")
        text = _span_get(span, "text") or ""
        media_ref = _span_get(span, "media_ref")
        if kind == "text":
            if text != "":
                text_blocks.append(text)
        elif kind == "html":
            for blk in extract_html(text):
                if blk.kind == "text":
                    text_blocks.append(blk.text)
                elif blk.kind == "table":
                    tables.append(blk.text)
                elif blk.kind == "image":
                    images.append((blk.media_ref, blk.text))
        elif kind == "pdf":
            rung = _extract_pdf_payload(
                text, text_blocks, images, warnings, metadatas
            )
            rung_rank = max(rung_rank, RUNG_ORDER.index(rung))
        elif kind == "media":
            media_links.append((media_ref, text, len(text_blocks) - 1))
        else:
            warnings.append(f"unknown_kind:{kind}")

    # ---- assembly (SURVEY.md §1.4 span encoding) --------------------
    full_text = "\n".join(text_blocks)
    out_spans: list[dict] = []
    block_offsets: list[int] = []
    off = 0
    for t in text_blocks:
        block_offsets.append(off)
        out_spans.append(_mk_span("text", t, None, off))
        off += len(t) + 1  # +1 for the '\n' joiner
    for t in tables:
        out_spans.append(_mk_span("table", t, None, -1))
    for ref, desc in images:
        out_spans.append(_mk_span("image", desc, ref, -1))
    for ref, caption, link_idx in media_links:
        link_off = block_offsets[link_idx] if 0 <= link_idx < len(block_offsets) else -1
        out_spans.append(_mk_span("media", caption, ref, link_off))

    # de-dup warnings preserving first-seen order
    seen: set[str] = set()
    uniq = [w for w in warnings if not (w in seen or seen.add(w))]

    return {
        "doc_id": doc_id,
        "extraction_successful": True,
        "extraction_method": RUNG_ORDER[rung_rank],
        "spans": out_spans,
        "n_pages": len(text_blocks),  # pdf_extractor.py:340 total_pages analog
        "n_chars": len(full_text),  # pdf_extractor.py:457
        "n_words": len(full_text.split()),  # pdf_extractor.py:456
        "has_tables": bool(tables),  # pdf_extractor.py:342
        "has_images": bool(images),  # pdf_extractor.py:343
        # first-seen Info dict (reference sniffs one PDF per task,
        # pdf_extractor.py:139-148, :596; interleaved docs may carry
        # several). producer is COUPLED to that same dict — deriving it
        # from a later PDF's Info would make the two columns describe
        # different documents (review-found inconsistency)
        "producer": metadatas[0].get("Producer") if metadatas else None,
        "metadata": metadatas[0] if metadatas else None,
        "warning": ";".join(uniq) if uniq else None,
        "error": None,
    }
