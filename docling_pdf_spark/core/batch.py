"""Vectorized-batch wrapper around the per-doc semantics.

`extract_arrow_batch` is what the Spark stage feeds Arrow batches into
(``mapInArrow`` via pipeline._chunked_extract_arrow — iterator form,
streams batches, bounds memory for oversized docs; SURVEY.md §2a
X1/X15). It is plain RecordBatch-in / RecordBatch-out, so the oracle
and tests can call it without a SparkSession.

The per-doc loop INSIDE a batch is unavoidable (each payload is an
opaque byte stream, like the reference's one-PDF-at-a-time converter
call, docling-pdf pdf_extractor.py:197); the input_hint's "no per-row
Python" is satisfied at the Spark boundary: one Python invocation per
Arrow batch, never per row.
"""

from __future__ import annotations

import pyarrow as pa

from docling_pdf_spark.core.extract import OUTPUT_COLUMNS, extract_document
from docling_pdf_spark.schemas import EXTRACTED_PA


def extract_arrow_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Arrow-native batch transform (the fast path used by mapInArrow).

    Skips the pandas object-column round-trip entirely: to_pylist() is
    a single C call, and the output RecordBatch is built with explicit
    types from EXTRACTED_PA — no dtype inference on the nested spans
    column."""
    schema = batch.schema
    doc_ids = batch.column(schema.get_field_index("doc_id")).to_pylist()
    spans = batch.column(schema.get_field_index("spans")).to_pylist()
    rows = [extract_document(d, s) for d, s in zip(doc_ids, spans)]
    arrays = [
        pa.array([r[name] for r in rows], type=EXTRACTED_PA.field(name).type)
        for name in OUTPUT_COLUMNS
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=EXTRACTED_PA)
