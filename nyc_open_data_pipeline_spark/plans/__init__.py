"""Declared query surface of the engine.

Each module registers ``QuerySpec`` entries mapping a SURVEY.md §2 operator
row to (a) a Spark DataFrame program and (b) equivalent ANSI SQL that DuckDB
can execute over the same parquet tables — the differential-correctness
oracle. ``registry.all_queries()`` imports every plan module and returns the
queries in registration order; ``__spark_entry__.py``, ``bench.py`` and the
scripts consume it.
"""

from nyc_open_data_pipeline_spark.plans.registry import QuerySpec, all_queries

__all__ = ["QuerySpec", "all_queries"]
