"""Fixed StructTypes for every table in the pipeline (SURVEY.md §1.3).

The reference is schema-on-write dynamic JSON (docling-pdf
`pdf_extractor.py:334-345` success envelope, `:359-364` failure
envelope, `redis_manager.py:51-61` task record). Here every
conditional field becomes a nullable column declared once.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# ---------------------------------------------------------------- input
# Exactly BASELINE.json input_hint:
#   documents(doc_id:string, spans:array<struct<kind,text,media_ref,offset:int32>>)
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# --------------------------------------------------------------- output
# FIXTURES.md §2. Spans use the encoding of SURVEY.md §1.4:
#   text spans (one per page, cumulative char offset into full_text),
#   then table spans (offset=-1),
#   then image/media spans (media_ref set; media spans carry the offset
#   of the text block they link to, images -1).
# Metrics mirror pdf_extractor.py:339-344 (metadata) and :456-457
# (word/char counts); error columns mirror the failure envelope :359-364
# and fallback warnings :276,306.
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("extraction_successful", T.BooleanType(), False),
        T.StructField("extraction_method", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("n_chars", T.LongType(), True),
        T.StructField("n_words", T.LongType(), True),
        T.StructField("has_tables", T.BooleanType(), True),
        T.StructField("has_images", T.BooleanType(), True),
        # X4 metadata sniff (pdf_extractor.py:139-148, :596 /Producer)
        T.StructField("producer", T.StringType(), True),
        # full document-information dict (pdf_extractor.py:596 stores
        # PyMuPDF's whole metadata map): Title/Author/CreationDate/...
        T.StructField(
            "metadata", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("warning", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# ------------------------------------------------------- arrow mirrors
# pyarrow schemas for the no-Spark (oracle / fixture) side.
SPAN_PA = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCUMENTS_PA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_PA))])
EXTRACTED_PA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("extraction_successful", pa.bool_()),
        ("extraction_method", pa.string()),
        ("spans", pa.list_(SPAN_PA)),
        ("n_pages", pa.int32()),
        ("n_chars", pa.int64()),
        ("n_words", pa.int64()),
        ("has_tables", pa.bool_()),
        ("has_images", pa.bool_()),
        ("producer", pa.string()),
        ("metadata", pa.map_(pa.string(), pa.string())),
        ("warning", pa.string()),
        ("error", pa.string()),
    ]
)
