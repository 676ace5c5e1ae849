"""ETL pipeline spine: config -> fetch -> transform -> validate -> store.

Mirrors the reference lifecycle (SURVEY.md §3.1) with lazy Spark plans:
connectors produce DataFrames, transformer plugins compose Catalyst nodes,
validation counts are observed metrics of the one job that materializes the
batch, and the storage write reads that materialized batch.
"""
