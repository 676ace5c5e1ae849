"""Ingestion orchestrator: the reference's batch ETL lifecycle (SURVEY §3.1)
as one lazy Spark pipeline per dataset, evaluated once per batch.

1 catalog resolution (config.load_registry / load_dataset_config)
2 connector dispatch on source_type (ingest_data.py:65-72)
3 transform via the dataset's plugin (parser.load_transformer)
4 validate: missing required columns raise; the row count and range
  violations are observed metrics of step 5's action (warn, never fail)
5 stage: the validated batch is conformed, deduplicated on its unique keys
  and materialized in one action; its row count gives the duplicate count and
  the empty-fetch guard (ingest_data.py:97-99) before anything is written
6 store: upsert when unique_keys configured, else append (:136-150), both
  reading the staged batch
7 metadata (K4): the dataset's row in the storage's metadata manifest, a
  manifest edit with no Spark job
Dry-run short-circuits after step 5 with a preview (ingest_data.py:108-116).
Batch and stream ingest share steps 3-7 (``_store``).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from nyc_open_data_pipeline_spark.config import DatasetConfig
from nyc_open_data_pipeline_spark.pipeline import parser as P
from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage, staged

log = logging.getLogger(__name__)


@dataclass
class IngestResult:
    dataset: str
    record_count: int
    stored_count: int | None
    status: str
    validation: P.ValidationReport | None = None


def _raw_schema(cfg: DatasetConfig):
    """Raw-feed schema for the API connectors: ``raw_schema_ddl`` from the
    dataset config when declared (raw column names usually differ from the
    transformed schema's — rename maps live in the transformer), else the
    dataset schema itself (for feeds already shaped like the table)."""
    ddl = cfg.raw.get("raw_schema_ddl")
    if ddl:
        return ddl
    if cfg.schema is not None:
        return cfg.schema.to_struct_type()
    raise ValueError(
        f"{cfg.entry.key}: API sources need raw_schema_ddl or a dataset schema"
    )


def fetch(spark: SparkSession, cfg: DatasetConfig, filters: dict | None = None,
          cache_dir: str = "data/raw", force: bool = False) -> DataFrame:
    """Connector dispatch (SURVEY §3.1 step 3). Schema-first: every connector
    needs the declared raw schema (raw_schema_ddl in config, or the dataset
    schema when the feed is already shaped)."""
    st = cfg.entry.source_type
    api = cfg.api
    if st == "socrata":
        reader = (
            spark.read.format("socrata")
            .schema(_raw_schema(cfg))
            .option("url", api.get("url", "https://data.cityofnewyork.us"))
            .option("dataset_id", cfg.entry.dataset_id)
            .option("page_size", int(api.get("limit", 1000)))
            .option("timeout", float(api.get("timeout", 30)))
        )
        if filters:
            reader = reader.option("filters", json.dumps(filters))
        if "total_limit" in api:
            reader = reader.option("total_limit", int(api["total_limit"]))
        return reader.load()
    if st == "census_api":
        variables = api.get("variables", {})
        var_list = ",".join(variables) if isinstance(variables, dict) else variables
        reader = (
            spark.read.format("census_api")
            .schema(_raw_schema(cfg))
            .option("url", api.get("url", "https://api.census.gov/data"))
            .option("year", str(api.get("year", 2023)))
            .option("dataset", api.get("dataset", "acs/acs5"))
            .option("variables", var_list)
            .option("geo_level", api.get("geo_level", "zip code tabulation area"))
            .option("chunk_size", int(api.get("chunk_size", 50)))
        )
        if api.get("geo_field"):
            reader = reader.option("geo_field", api["geo_field"])
        if api.get("geo_ids"):
            reader = reader.option("geo_ids", ",".join(api["geo_ids"]))
        return reader.load()
    if st == "url_download":
        from nyc_open_data_pipeline_spark.sources.url import read_url

        return read_url(
            spark, api["url"], cache_dir, cfg.entry.key, force=force
        )
    if st == "shapefile_download":
        from nyc_open_data_pipeline_spark.sources.shapefile import fetch_shapefile

        return fetch_shapefile(spark, api["url"], cache_dir, cfg.entry.key, force=force)
    raise ValueError(f"unknown source_type {st!r}")


def _store(
    spark: SparkSession,
    storage: ParquetStorage,
    key: str,
    transformer: P.BaseTransformer,
    df: DataFrame,
    dry_run: bool = False,
) -> IngestResult:
    """Transform, validate, stage and store one raw batch (steps 3-7)."""
    schema = transformer.get_schema()
    out = df.transform(transformer.transform)
    observed, obs = P.validate(out, schema)
    with staged(observed, schema) as batch:
        report = P.report(obs, batch.rows)
        if not report.record_count:  # V5 empty-fetch guard (ingest_data.py:97-99)
            log.warning("%s: empty fetch, nothing to do", key)
            return IngestResult(key, 0, None, "empty")
        if dry_run:
            out.show(10, truncate=False)
            out.printSchema()
            out.summary().show()
            return IngestResult(key, report.record_count, None, "dry_run", report)
        if schema.unique_keys:
            stored = storage.upsert(spark, batch, schema)
        else:
            storage.create_or_append(batch.frame, schema)
            stored = storage._count(spark, schema.table_name)
    storage.update_metadata(spark, key, schema.table_name, stored)
    return IngestResult(key, report.record_count, stored, "success", report)


def ingest_dataset(
    spark: SparkSession,
    cfg: DatasetConfig,
    storage: ParquetStorage,
    raw_df: DataFrame | None = None,
    filters: dict | None = None,
    dry_run: bool = False,
    force: bool = False,
) -> IngestResult:
    """Run the full lifecycle for one dataset. ``raw_df`` overrides the
    connector fetch (for pre-fetched frames / tests)."""
    df = raw_df if raw_df is not None else fetch(spark, cfg, filters, force=force)
    transformer = P.load_transformer(cfg.entry.transformer)
    return _store(spark, storage, cfg.entry.key, transformer, df, dry_run)


def stream_ingest(
    spark: SparkSession,
    cfg: DatasetConfig,
    storage: ParquetStorage,
    checkpoint_dir: str,
    pages_per_batch: int = 10,
    poll_interval: str = "10 seconds",
):
    """The batch lifecycle above, run CONTINUOUSLY: the reference's
    cron-driven re-ingest (update_frequency in its configs) replaced by one
    Structured Streaming job. The streaming Socrata source polls the API a
    page budget at a time (row-count offsets in the checkpoint — restart
    resumes exactly where the last commit stopped); each micro-batch runs
    the SAME transform + upsert the batch path uses (foreachBatch), so
    stream ingest and batch backfill produce identical tables by
    construction. Returns the StreamingQuery (caller owns stop())."""
    if cfg.entry.source_type != "socrata":
        raise ValueError("stream_ingest currently supports socrata sources")
    api = cfg.api
    raw = (
        spark.readStream.format("socrata")
        .schema(_raw_schema(cfg))
        .option("url", api.get("url", "https://data.cityofnewyork.us"))
        .option("dataset_id", cfg.entry.dataset_id)
        .option("page_size", int(api.get("limit", 1000)))
        .option("pages_per_batch", pages_per_batch)
        .option("timeout", float(api.get("timeout", 30)))
        .load()
    )
    transformer = P.load_transformer(cfg.entry.transformer)
    key = cfg.entry.key

    def process(batch_df: DataFrame, batch_id: int) -> None:
        res = _store(batch_df.sparkSession, storage, key, transformer, batch_df)
        if res.status == "success":
            log.info("%s batch %d: %d records, table at %d rows",
                     key, batch_id, res.record_count, res.stored_count)

    return (
        raw.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=poll_interval)
        .start()
    )
