"""Dataset parsing driver: dynamic transformer loading + validation.

Mirrors reference src/ingestion/parser.py: load transformer by dotted path
(:29-46), apply (:48-75), then validate — required columns raise, range and
uniqueness violations WARN and continue (:77-115, the reference's
warnings-not-failures philosophy). The counts are observed metrics of the
action that materializes the batch, not jobs of their own.
"""

from __future__ import annotations

import importlib
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.pipeline.base import BaseTransformer
from nyc_open_data_pipeline_spark.pipeline.schema import TableSchema
from nyc_open_data_pipeline_spark.pipeline.storage import staged

log = logging.getLogger(__name__)


def load_transformer(dotted_path: str) -> BaseTransformer:
    """'pkg.module.ClassName' -> instance (reference parser.py:29-46)."""
    module_path, _, cls_name = dotted_path.rpartition(".")
    module = importlib.import_module(module_path)
    cls = getattr(module, cls_name)
    # duck-typed (not issubclass): plugin modules may be re-imported under a
    # different module identity, which breaks class-object comparison
    if not (callable(getattr(cls, "transform", None)) and callable(getattr(cls, "get_schema", None))):
        raise TypeError(f"{dotted_path} is not a transformer (needs transform/get_schema)")
    return cls()


@dataclass
class ValidationReport:
    missing_columns: list[str] = field(default_factory=list)
    range_violations: dict[str, int] = field(default_factory=dict)
    duplicate_keys: int = 0
    record_count: int = 0

    @property
    def ok(self) -> bool:
        return not self.missing_columns


def validate(df: DataFrame, schema: TableSchema) -> tuple[DataFrame, Observation]:
    """Attach validation to ``df`` without running a job. Missing required
    columns raise here: a schema check (reference parser.py:86-89). The row
    count and per-column range-violation sums become observed metrics of
    whichever job next runs the returned frame; ``report`` reads them."""
    missing = sorted({c.name for c in schema.columns if c.required} - set(df.columns))
    if missing:
        raise ValueError(f"missing required columns: {missing}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in schema.columns:
        if c.name not in df.columns or (c.min is None and c.max is None):
            continue
        cond = F.lit(False)
        if c.min is not None:
            cond = cond | (F.col(c.name) < c.min)
        if c.max is not None:
            cond = cond | (F.col(c.name) > c.max)
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(c.name))
    obs = Observation()
    return df.observe(obs, *aggs), obs


def report(obs: Observation, rows_out: int) -> ValidationReport:
    """The report once the observed job has run. ``rows_out`` counts the
    batch after per-key dedup, so rows in minus rows out is the sum of
    (count - 1) over key groups (null keys form one group in both)."""
    counts = dict(obs.get)
    n = counts.pop("__n")
    out = ValidationReport(record_count=n, duplicate_keys=n - rows_out,
                           range_violations={c: bad for c, bad in counts.items() if bad})
    if out.range_violations:
        log.warning("range violations (out-of-range values): %s", out.range_violations)
    if out.duplicate_keys:
        log.warning("uniqueness: %d duplicate rows on the unique keys", out.duplicate_keys)
    return out


def parse(df: DataFrame, transformer: BaseTransformer) -> tuple[DataFrame, ValidationReport]:
    """Apply a transformer and validate its output eagerly (reference
    parser.py:48-115): one staging action runs the observed counts. Ingest
    stages the batch it stores instead, so its validation costs no job."""
    out = df.transform(transformer.transform)
    schema = transformer.get_schema()
    observed, obs = validate(out, schema)
    with staged(observed, schema) as batch:
        return out, report(obs, batch.rows)
