"""Extraction benchmark for receipt_scanner_spark (see README.md)."""
