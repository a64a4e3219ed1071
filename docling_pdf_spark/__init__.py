"""docling_pdf_spark — a PySpark-native document-extraction engine.

Brand-new implementation (NOT a port) with the query/data-processing
capabilities of the reference `andreantama/docling-pdf` (a single-node
FastAPI + docling PDF extraction worker; see SURVEY.md for the full
file:line mapping). The reference's per-document transform is
re-expressed as a vectorized Arrow stage over Spark DataFrames of
interleaved text+media documents:

    documents(doc_id: string,
              spans: array<struct<kind,text,media_ref,offset:int>>)
        --mapInArrow(extract)-->
    documents_extracted(doc_id, extraction_successful, extraction_method,
                        spans, n_pages, n_chars, n_words, has_tables,
                        has_images, warning, error)

All heavy logic lives in `docling_pdf_spark.core` as plain
Python/pandas functions callable WITHOUT Spark — the serial oracle
(`docling_pdf_spark.oracle`) and the distributed pipeline
(`docling_pdf_spark.pipeline`) share one semantics module, so
span-sequence equality between the two is structural.
"""

__version__ = "0.1.0"
