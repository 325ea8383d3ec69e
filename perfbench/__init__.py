"""Benchmark harness for the pdf2pdfocr_spark jobs (see run.py)."""
