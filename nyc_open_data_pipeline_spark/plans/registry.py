"""Query registry: name -> (spark program, oracle SQL, survey ref).

Numeric-determinism policy (hash-comparable outputs):
- raw column values pass through untouched (bit-identical from parquet);
- SUM/AVG over doubles go through DECIMAL (exact, associative) and are cast
  back to double — both engines round the same exact decimal to the same
  IEEE double, so results are order- and engine-independent;
- pure row-level double arithmetic (a*b, a/b) is deterministic given equal
  inputs and needs no special handling;
- only genuinely iterative float math (cosine similarity) is rounded, to 6
  decimals, where a 1-ulp ordering difference could otherwise flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    survey_ref: str  # SURVEY.md §2 row(s) this query covers
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, survey_ref: str, doc: str = ""
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Decorator: add a query to the engine's declared surface."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, survey_ref=survey_ref, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Import every plan module (side effect: registration) and return
    every query in registration order."""
    from nyc_open_data_pipeline_spark.plans import (  # noqa: F401
        analytics,
        events,
        geo,
        llmdata,
        relational,
        timeseries,
    )

    return dict(_REGISTRY)
