"""Benchmark for the pdf_extraction_spark engine; see README.md."""
