"""Operator implementations, one module per query family; the registry
dicts that name them live in pdftext_spark.queries."""
