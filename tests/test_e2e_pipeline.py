"""End-to-end lifecycle: feed-shaped fixtures -> ingest (transform/validate/
merge) -> the three serving documents (SURVEY §5 strategy #3).

Fixture shapes mirror the real feeds (FIXTURES.md / reference configs):
Socrata records with ':' metadata columns and display-style column names,
Census header-mapped rows with negative sentinels, TIGER ZCTA attributes,
and the Zillow wide monthly matrix.
"""

from __future__ import annotations

import json

import pytest

from nyc_open_data_pipeline_spark.config import load_dataset_config, load_registry
from nyc_open_data_pipeline_spark.pipeline.ingest import ingest_dataset
from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage
from nyc_open_data_pipeline_spark.serving import (
    export_static,
    food_gaps_document,
    poverty_by_zip_document,
    rent_by_zip_document,
)

REGISTRY = "datasets/registry.yaml"

POLY_A = '{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]}'
POLY_B = '{"type":"Polygon","coordinates":[[[2.0,2.0],[3.0,2.0],[3.0,3.0],[2.0,2.0]]]}'


def test_registry_and_configs_parse():
    reg = load_registry(REGISTRY)
    assert set(reg) == {
        "food_supply_gap",
        "census_acs",
        "census_zctas_2020",
        "ntas_2020",
        "zillow_zori",
    }
    for key in reg:
        cfg = load_dataset_config(REGISTRY, key)
        assert cfg.schema is not None and cfg.schema.columns


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """Ingest all five datasets from fixtures into one storage root."""
    root = str(tmp_path_factory.mktemp("warehouse"))
    storage = ParquetStorage(root)

    # --- food_supply_gap (Socrata shape; duplicate key tests keep-last) ---
    food_raw = spark.createDataFrame(
        [
            (":r1", "2022", "NTA001", "Alpha", "Manhattan", "1000.5", "12.5", "2"),
            (":r2", "2023", "NTA001", "Alpha", "Manhattan", "1100.0", "150.0", "1"),  # pct>100 -> NULL
            (":r3", "2023", "NTA002", "Beta", "Queens", "900.0", "44.0", "2"),
            (":r4", "2023", "NTA002", "Beta", "Queens", "950.0", "45.0", "3"),  # dup key, keep this
            (":r5", "2023", "NTA404", "Ghost", "Bronx", "oops", "5.0", "9"),  # bad numeric -> NULL
        ],
        [":id", "Data Year", "NTA2020", "NTAName", "Boro", "Supply Gap", "Supply Gap Percent", "Gap Rank"],
    )
    ingest_dataset(spark, load_dataset_config(REGISTRY, "food_supply_gap"), storage, raw_df=food_raw)

    # --- census_acs (header-mapped rows; sentinel) ---
    acs_raw = spark.createDataFrame(
        [
            ("200", "1000", "55000", "10001"),
            ("300", "1000", "-666666666", "10002"),  # income sentinel -> NULL
            ("50", "500", "90000", "10003"),
        ],
        ["B17001_002E", "B17001_001E", "B19013_001E", "zcta"],
    )
    ingest_dataset(spark, load_dataset_config(REGISTRY, "census_acs"), storage, raw_df=acs_raw)

    # --- ntas_2020 (Socrata shape with GeoJSON geometry) ---
    from nyc_open_data_pipeline_spark.functions.geo import geojson_to_wkt_py  # noqa: F401

    ntas_raw = spark.createDataFrame(
        [
            (":x", "NTA001", "Alpha", "Manhattan", "123.4", POLY_A),
            (":y", "NTA002", "Beta", "Queens", "222.2", POLY_B),
            (":z", "NTA003", "Gamma", "Bronx", "333.3", "garbage-geometry"),  # -> NULL wkt
        ],
        [":id", "NTA2020", "NTAName", "BoroName", "Shape_STAr", "the_geom"],
    )
    ingest_dataset(spark, load_dataset_config(REGISTRY, "ntas_2020"), storage, raw_df=ntas_raw)

    # --- census_zctas_2020 (TIGER attribute shape, WKT geometry) ---
    zcta_raw = spark.createDataFrame(
        [
            ("10001", "POLYGON ((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0))"),
            ("10002", "POLYGON ((2.0 2.0, 3.0 2.0, 3.0 3.0, 2.0 2.0))"),
            ("99999", "POLYGON ((5.0 5.0, 6.0 5.0, 6.0 6.0, 5.0 5.0))"),  # no ACS/rent row
        ],
        ["ZCTA5CE20", "geometry"],
    )
    ingest_dataset(spark, load_dataset_config(REGISTRY, "census_zctas_2020"), storage, raw_df=zcta_raw)

    # --- zillow_zori (wide monthly matrix) ---
    zori_raw = spark.createDataFrame(
        [
            ("10001", 3100.0, 3200.0, None),  # latest non-null = 2025-12-31
            ("10002", None, 2500.0, 2550.0),
            ("10003", None, None, None),  # all null -> dropped entirely
        ],
        ["RegionName", "2025-11-30", "2025-12-31", "2026-01-31"],
    )
    # simulate the 10001 Jan value being null but 10002 having Jan value
    ingest_dataset(spark, load_dataset_config(REGISTRY, "zillow_zori"), storage, raw_df=zori_raw)

    return storage


def test_food_gaps_document(spark, warehouse):
    doc = json.loads(food_gaps_document(spark, warehouse))
    feats = doc["features"]
    # J4 quirk: left join collapsed to inner by the year filter; only 2023
    # rows with matching NTA polygons survive; NTA404 has no polygon
    codes = [f["properties"]["nta2020"] for f in feats]
    assert codes == ["NTA001", "NTA002"]
    by_code = {f["properties"]["nta2020"]: f for f in feats}
    assert by_code["NTA001"]["properties"]["supply_gap_pct"] is None  # 150 -> NULL
    assert by_code["NTA002"]["properties"]["supply_gap_lbs"] == 950.0  # keep-last dup
    assert by_code["NTA001"]["geometry"]["type"] == "Polygon"


def test_poverty_by_zip_document(spark, warehouse):
    doc = json.loads(poverty_by_zip_document(spark, warehouse))
    feats = doc["features"]
    zips = [f["properties"]["zip_code"] for f in feats]
    # 10002 dropped (NULL income via sentinel), 10003 has no polygon,
    # 99999 has no ACS row -> inner join
    assert zips == ["10001"]
    assert feats[0]["properties"]["poverty_rate"] == 20.0
    assert feats[0]["geometry"]["type"] == "MultiPolygon"  # promotion applied


def test_rent_by_zip_document(spark, warehouse):
    doc = json.loads(rent_by_zip_document(spark, warehouse))
    feats = doc["features"]
    props = {f["properties"]["zip_code"]: f["properties"] for f in feats}
    assert set(props) == {"10001", "10002"}
    assert props["10001"]["rent_index"] == 3200.0  # latest non-null month
    assert props["10001"]["year"] == 2025
    assert props["10002"]["rent_index"] == 2550.0
    assert props["10002"]["year"] == 2026


def test_export_static_files(spark, warehouse, tmp_path):
    written = export_static(spark, warehouse, str(tmp_path / "static"))
    assert set(written) == {"food-gaps.json", "poverty-by-zip.json", "rent-by-zip.json"}
    for path in written.values():
        with open(path) as f:
            doc = json.load(f)
        assert doc["type"] == "FeatureCollection"


def test_upsert_reingest_is_stable(spark, warehouse):
    # re-ingest the same ACS fixture: counts unchanged (K3 idempotence)
    acs_raw = spark.createDataFrame(
        [
            ("200", "1000", "55000", "10001"),
            ("300", "1000", "-666666666", "10002"),
            ("50", "500", "90000", "10003"),
        ],
        ["B17001_002E", "B17001_001E", "B19013_001E", "zcta"],
    )
    before = warehouse.read(spark, "census_acs_poverty").count()
    ingest_dataset(spark, load_dataset_config(REGISTRY, "census_acs"), warehouse, raw_df=acs_raw)
    after = warehouse.read(spark, "census_acs_poverty").count()
    assert before == after == 3


def test_write_cleanroom_partitioned_by_split(spark, sf_dir, tmp_path):
    """The cleanroom writer must produce split=train/val/test partition
    directories whose union round-trips exactly (partition pruning then
    lets a trainer read one split without scanning the others)."""
    import os

    from nyc_open_data_pipeline_spark.plans.llmdata import (
        cleanroom_docs,
        write_cleanroom,
    )

    out = str(tmp_path / "cleanroom")
    write_cleanroom(spark, sf_dir, out)
    parts = sorted(d for d in os.listdir(out) if d.startswith("split="))
    want_docs = cleanroom_docs(spark, sf_dir)
    want_splits = sorted(
        r["split"] for r in want_docs.select("split").distinct().collect()
    )
    assert parts == [f"split={s}" for s in want_splits]
    back = spark.read.parquet(out)
    assert back.count() == want_docs.count()
    # reading ONE split must touch only that partition's files (pruning)
    train = spark.read.parquet(out).filter("split = 'train'")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan
    assert train.count() == want_docs.filter("split = 'train'").count()


def test_jsonl_roundtrip_cleanroom(spark, sf_dir, tmp_path):
    """Cleanroom corpus round-trips through partitioned gzip JSONL (the
    LLM-tooling interchange format) with identical rows."""
    from nyc_open_data_pipeline_spark.plans.llmdata import cleanroom_docs
    from nyc_open_data_pipeline_spark.sources.jsonl import read_jsonl, write_jsonl

    out = str(tmp_path / "corpus_jsonl")
    docs = cleanroom_docs(spark, sf_dir)
    write_jsonl(docs, out, partition_by=["split"])
    back = read_jsonl(spark, out, "doc_id long, lang string, text string")
    # partition column comes back from the directory structure
    assert set(back.columns) == {"doc_id", "lang", "text", "split"}
    want = sorted((r["doc_id"], r["split"]) for r in docs.collect())
    got = sorted((r["doc_id"], r["split"]) for r in back.collect())
    assert got == want
    import glob

    assert glob.glob(f"{out}/split=*/*.json.gz"), "expected gzipped JSONL part files"
