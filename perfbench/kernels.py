"""Serial microtrace of the per-document kernels.

Spark runs the kernels inside its Python workers, where driver-side
spans cannot see them. This module times them in the benchmark process,
one call at a time, on a fixed seeded sample of the workload's own
input, so a kernel change shows up as busy time per call without any
change to the package.
"""

from __future__ import annotations

import base64
import random
import time

import pyarrow as pa


def microtrace(table: pa.Table, seed: int, n_docs: int = 200) -> dict[str, float]:
    """Per-call busy time (ms) of parse_ladder and extract_html per span,
    extract_document and extract_arrow_batch per doc, and the share of
    PDF spans the strict rung parsed."""
    from docling_pdf_spark.core.batch import extract_arrow_batch
    from docling_pdf_spark.core.extract import extract_document
    from docling_pdf_spark.core.htmlx import extract_html
    from docling_pdf_spark.core.pdfparse import parse_ladder

    idx = sorted(random.Random(seed).sample(range(table.num_rows), min(n_docs, table.num_rows)))
    sample = table.take(pa.array(idx, type=pa.int64()))
    docs = sample.to_pylist()
    pdf_s = html_s = 0.0
    n_pdf = n_html = n_strict = 0
    for doc in docs:
        for span in doc["spans"] or []:
            text = span["text"] or ""
            if span["kind"] == "pdf":
                try:
                    data = base64.b64decode(text, validate=True)
                except ValueError:  # invalid payloads never reach the ladder
                    continue
                t0 = time.perf_counter()
                try:
                    rung = parse_ladder(data).rung
                except Exception:  # every rung failed: the doc's error row
                    rung = None
                pdf_s += time.perf_counter() - t0
                n_pdf += 1
                n_strict += rung == "strict"
            elif span["kind"] == "html":
                t0 = time.perf_counter()
                extract_html(text)
                html_s += time.perf_counter() - t0
                n_html += 1
    t0 = time.perf_counter()
    for doc in docs:
        extract_document(doc["doc_id"], doc["spans"])
    doc_s = time.perf_counter() - t0
    batch = sample.to_batches(max_chunksize=len(docs))[0] if docs else None
    t0 = time.perf_counter()
    if batch is not None:
        extract_arrow_batch(batch)
    batch_s = time.perf_counter() - t0
    per = lambda s, n: 1000.0 * s / n if n else 0.0  # noqa: E731
    return {
        "core.pdfparse.parse_ladder_ms_per_span": per(pdf_s, n_pdf),
        "core.pdfparse.strict_success_frac": n_strict / n_pdf if n_pdf else 0.0,
        "core.htmlx.extract_html_ms_per_span": per(html_s, n_html),
        "core.extract.extract_document_ms_per_doc": per(doc_s, len(docs)),
        "core.batch.extract_arrow_batch_ms_per_doc": per(batch_s, len(docs)),
    }
