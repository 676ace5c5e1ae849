"""One Spark pass per ingested batch: the empty-fetch guard, the job budget
of an upsert ingest, and validation counts equal to plain groupBy/agg."""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.config import DatasetConfig, DatasetEntry, load_dataset_config
from nyc_open_data_pipeline_spark.pipeline.base import BaseTransformer
from nyc_open_data_pipeline_spark.pipeline.ingest import ingest_dataset
from nyc_open_data_pipeline_spark.pipeline.parser import parse
from nyc_open_data_pipeline_spark.pipeline.schema import ColumnSpec, TableSchema
from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

REGISTRY = "datasets/registry.yaml"
FOOD_COLS = [":id", "Data Year", "NTA2020", "NTAName", "Boro", "Supply Gap",
             "Supply Gap Percent", "Gap Rank"]
ACS_COLS = ["B17001_002E", "B17001_001E", "B19013_001E", "zcta"]
NTAS = [f"MN{i:02d}" for i in range(40)]
ZIPS = [f"10{i:03d}" for i in range(120)]


def _food(spark, rng: random.Random, n: int) -> DataFrame:
    """Socrata-shaped food rows over a fixed key space (keys repeat within
    the batch), with bad numerics and out-of-range percents mixed in."""
    rows = []
    for i in range(n):
        u = rng.random()
        lbs = "oops" if u < 0.03 else f"{rng.uniform(0, 5e6):.2f}"
        pct = "150.0" if 0.03 <= u < 0.06 else f"{rng.uniform(0, 100):.1f}"
        rows.append((f":r{i}", str(rng.choice(range(2014, 2024))), rng.choice(NTAS),
                     "Name", "Bronx", lbs, pct, str(rng.randint(1, 300))))
    return spark.createDataFrame(rows, FOOD_COLS)


def _acs(spark, rng: random.Random, zips: list[str]) -> DataFrame:
    """Census-API-shaped rows, one per ZIP, with negative sentinels."""
    rows = []
    for z in zips:
        universe = rng.randint(200, 60000)
        count = str(rng.randint(0, universe)) if rng.random() > 0.05 else "-666666666"
        rows.append((count, str(universe), str(rng.randint(18000, 250000)), z))
    return spark.createDataFrame(rows, ACS_COLS)


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_ingest_job_budget(spark, tmp_path):
    """An upsert ingest evaluates its batch once, validation rides that job
    and the metadata row is a manifest edit: at most 10 jobs for a
    food-shaped batch and 8 for an ACS-shaped one, into existing
    partitioned tables (20 and 18 when every consumer re-ran the
    transform and the metadata was a Spark upsert)."""
    rng = random.Random(11)
    storage = ParquetStorage(str(tmp_path))
    food = load_dataset_config(REGISTRY, "food_supply_gap")
    acs = load_dataset_config(REGISTRY, "census_acs")
    ingest_dataset(spark, food, storage, raw_df=_food(spark, rng, 400))
    ingest_dataset(spark, acs, storage, raw_df=_acs(spark, rng, ZIPS))
    for step in range(2):  # the first step warms the upsert path
        batch = _food(spark, rng, 500)
        res, food_jobs = _jobs_of(
            spark, f"food-{step}", lambda: ingest_dataset(spark, food, storage, raw_df=batch)
        )
        assert res.status == "success"
        batch = _acs(spark, rng, rng.sample(ZIPS, 60))
        res, acs_jobs = _jobs_of(
            spark, f"acs-{step}", lambda: ingest_dataset(spark, acs, storage, raw_df=batch)
        )
        assert res.status == "success" and res.stored_count == len(ZIPS)
    assert food_jobs <= 10, food_jobs
    assert acs_jobs <= 8, acs_jobs


def test_ingest_empty_batch_is_a_no_op(spark, tmp_path):
    """V5 empty-fetch guard: an empty raw batch returns "empty" and commits
    nothing, neither to the data table nor to the metadata table."""
    storage = ParquetStorage(str(tmp_path))
    food = load_dataset_config(REGISTRY, "food_supply_gap")
    first = ingest_dataset(spark, food, storage, raw_df=_food(spark, random.Random(3), 50))
    assert first.status == "success"
    gens = (storage.generation("food_supply_gaps"), storage.generation(storage.META_TABLE))
    assert min(gens) > 0
    empty = spark.createDataFrame([], ", ".join(f"`{c}` string" for c in FOOD_COLS))
    res = ingest_dataset(spark, food, storage, raw_df=empty)
    assert (res.status, res.record_count, res.stored_count) == ("empty", 0, None)
    assert (storage.generation("food_supply_gaps"), storage.generation(storage.META_TABLE)) == gens


class ParityTransformer(BaseTransformer):
    """Keys arrive as text: ``conform`` casts ``k`` to integer."""

    dataset_id = "parity"

    def transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn("v", F.col("v").cast("double"))

    def get_schema(self) -> TableSchema:
        return TableSchema(
            table_name="parity",
            columns=[
                ColumnSpec("k", "integer", required=True),
                ColumnSpec("year", "integer"),
                ColumnSpec("v", "float", min=0, max=10),
                ColumnSpec("w", "float", min=0),
            ],
            unique_keys=["k", "year"],
            partition_by=["year"],
        )


def test_validation_counts_match_groupby_formulas(spark, tmp_path):
    """Observed validation equals the formulas it replaced, recomputed here
    with plain groupBy/agg: duplicate key groups, a null key (one group),
    out-of-range values and bad numerics (NULL, not a violation)."""
    raw = spark.createDataFrame(
        [("1", 2023, "5", 1.0), ("1", 2023, "11", 2.0), ("1", 2023, "-1", -3.0),
         ("2", 2023, "oops", 4.0), (None, 2024, "3", 5.0), (None, 2024, "30", -6.0),
         ("3", 2024, "10", 7.0), ("3", 2025, "0", 8.0)],
        "k string, year int, v string, w double",
    )
    t = ParityTransformer()
    out = raw.transform(t.transform)
    want_n = out.count()
    want_rng = out.agg(
        F.sum(F.when((F.col("v") < 0) | (F.col("v") > 10), 1).otherwise(0)).alias("v"),
        F.sum(F.when(F.col("w") < 0, 1).otherwise(0)).alias("w"),
    ).first().asDict()
    want_dups = (
        out.groupBy("k", "year").count().filter(F.col("count") > 1)
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("d")).first()["d"]
    )
    assert (want_n, want_rng, want_dups) == (8, {"v": 3, "w": 2}, 3)

    _, report = parse(raw, t)
    assert (report.record_count, report.range_violations, report.duplicate_keys) == (
        want_n, want_rng, want_dups)

    cfg = DatasetConfig(entry=DatasetEntry(
        key="parity", name="parity", source_type="url_download", dataset_id="parity",
        table_name="parity", transformer="tests.test_ingest_pass.ParityTransformer",
    ))
    storage = ParquetStorage(str(tmp_path))
    res = ingest_dataset(spark, cfg, storage, raw_df=raw)
    assert res.validation == report
    assert res.stored_count == want_n - want_dups
    rows = storage.read(spark, "parity").collect()
    assert {(r["k"], r["year"]) for r in rows} == {
        (1, 2023), (2, 2023), (None, 2024), (3, 2024), (3, 2025)}


def test_metadata_rows_carry_over_from_segment_layout(spark, tmp_path):
    """A metadata table an earlier layout wrote as a parquet segment keeps
    its rows when the next update moves them inline into the manifest."""
    storage = ParquetStorage(str(tmp_path))
    old = spark.createDataFrame(
        [("ds_old", "t_old", "2025-01-01", 7, "success")], storage.META_SCHEMA
    )
    meta = TableSchema(table_name=storage.META_TABLE, unique_keys=["dataset_id"])
    storage.upsert(spark, old, meta)
    assert storage._read_manifest(storage.META_TABLE)["parts"]
    storage.update_metadata(spark, "ds_new", "t_new", 3, last_ingestion="2026-01-01")
    m = storage._read_manifest(storage.META_TABLE)
    assert m["parts"] == {} and len(m["rows"]) == 2
    got = {tuple(r) for r in storage.read_metadata(spark).collect()}
    assert got == {("ds_old", "t_old", "2025-01-01", 7, "success"),
                   ("ds_new", "t_new", "2026-01-01", 3, "success")}
    assert storage.read(spark, storage.META_TABLE, as_of=m["gen"] - 1).count() == 1
