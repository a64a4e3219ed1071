"""Storage: the overwrite-safe partitioned parquet write and the input
lineage token (docling_pdf_spark.sources.io)."""
