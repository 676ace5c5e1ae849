"""Connector tests against an in-process HTTP server (no external network).

The fixture server speaks the two wire shapes the reference consumes:
Socrata SODA3 POST /api/v3/views/{id}/query.json with page envelope
(nyc_open_data_fetcher.py:36-122) and Census GET with header-first rows
(census_fetcher.py:116-139), plus 429 rate-limit behavior (:153-158).
"""

from __future__ import annotations

import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from nyc_open_data_pipeline_spark.sources import register_data_sources
from nyc_open_data_pipeline_spark.sources.http import HttpError, request_json
from nyc_open_data_pipeline_spark.sources.socrata import build_soql
from nyc_open_data_pipeline_spark.sources.url import read_local

ROWS = [{"nta_code": f"NTA{i:03d}", "year": 2020 + (i % 3), "gap": float(i)} for i in range(25)]


class Handler(BaseHTTPRequestHandler):
    rate_limit_once = False
    seen_queries: list = []
    slow_s = 0.0  # per-request delay: makes concurrent fetches overlap
    _act_lock = threading.Lock()
    active = 0
    max_active = 0  # high-water mark of simultaneous in-flight requests

    def log_message(self, *a):  # silence
        pass

    def _send(self, obj, code=200, headers=()):
        body = json.dumps(obj).encode()
        self.send_response(code)
        for k, v in headers:
            self.send_header(k, v)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        with Handler._act_lock:
            Handler.active += 1
            Handler.max_active = max(Handler.max_active, Handler.active)
        try:
            if Handler.slow_s:
                time.sleep(Handler.slow_s)
            if Handler.rate_limit_once:
                Handler.rate_limit_once = False
                self._send({"error": "slow down"}, code=429, headers=[("Retry-After", "0")])
                return
            n = int(self.headers.get("Content-Length", 0))
            body = json.loads(self.rfile.read(n) or b"{}")
            page = body.get("page", {})
            num, size = page.get("pageNumber", 1), page.get("pageSize", 1000)
            rows = ROWS
            q = body.get("query")
            if q:
                Handler.seen_queries.append(q)
                if "year = 2020" in q:
                    rows = [r for r in rows if r["year"] == 2020]
            start = (num - 1) * size
            self._send({"data": rows[start : start + size]})
        finally:
            with Handler._act_lock:
                Handler.active -= 1

    def do_GET(self):
        # census shape: header row first, geography header named after the
        # PRODUCTION geo level string; variable columns echo the `get` param
        from urllib.parse import parse_qs, urlparse

        q = parse_qs(urlparse(self.path).query)
        geo = q.get("for", [""])[0]
        ids = geo.split(":", 1)[1].split(",") if ":" in geo else []
        varnames = [v for v in q.get("get", [""])[0].split(",") if v] or [
            "B17001_002E",
            "B17001_001E",
        ]
        mult = {"B17001_002E": 2, "B17001_001E": 10}
        out = [varnames + ["zip code tabulation area"]]
        for z in ids:
            row = []
            for v in varnames:
                if z == "10099" and v == "B19013_001E":
                    row.append("-666666666")  # live Census missing-sentinel
                else:
                    row.append(str(int(z) * mult.get(v, 3)))
            out.append(row + [z])
        self._send(out)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_socrata_pagination_partitions(spark, server):
    register_data_sources(spark)
    df = (
        spark.read.format("socrata")
        .schema("nta_code string, year int, gap double")
        .option("url", server)
        .option("dataset_id", "abcd-1234")
        .option("page_size", 10)
        .option("total_limit", 25)
        .option("partition_pages", 1)  # 3 partitions of 1 page each
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    got = {r["nta_code"] for r in df.collect()}
    assert got == {r["nta_code"] for r in ROWS}


def test_socrata_filter_pushdown(spark, server):
    register_data_sources(spark)
    Handler.seen_queries.clear()
    df = (
        spark.read.format("socrata")
        .schema("nta_code string, year int, gap double")
        .option("url", server)
        .option("dataset_id", "abcd-1234")
        .option("page_size", 100)
        .load()
        .filter("year = 2020")
    )
    rows = df.collect()
    assert all(r["year"] == 2020 for r in rows) and len(rows) == 9
    # the predicate reached the server as SoQL (S2 pushdown)
    assert any("year = 2020" in q for q in Handler.seen_queries)


def test_socrata_retry_on_429(spark, server):
    register_data_sources(spark)
    Handler.rate_limit_once = True
    df = (
        spark.read.format("socrata")
        .schema("nta_code string, year int, gap double")
        .option("url", server)
        .option("dataset_id", "abcd-1234")
        .load()
    )
    assert df.count() == 25  # 429 absorbed by Retry-After retry


def test_census_chunked_partitions(spark, server):
    register_data_sources(spark)
    zips = ",".join(f"{10001 + i}" for i in range(7))
    df = (
        spark.read.format("census_api")
        .schema("B17001_002E int, B17001_001E int, zcta string")
        .option("url", server)
        .option("year", "2023")
        .option("dataset", "acs/acs5")
        .option("variables", "B17001_002E,B17001_001E")
        .option("geo_ids", zips)
        .option("chunk_size", 3)  # 7 ids -> 3 partitions (3+3+1)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 7
    # header-name mapping: zcta column isn't in schema name order but maps
    assert {r["B17001_002E"] for r in rows} == {2 * (10001 + i) for i in range(7)}


def test_census_geo_header_alias(spark, server):
    """The live API names the geography header after geo_level ('zip code
    tabulation area'); it must land in the schema's geo field — explicitly
    via geo_field, and by auto-binding when it's the only unbound field
    (ADVICE r1: pre-fix, every zip_code came back NULL)."""
    register_data_sources(spark)
    zips = [f"{10001 + i}" for i in range(4)]
    base = (
        spark.read.format("census_api")
        .schema("B17001_002E int, B17001_001E int, zcta string")
        .option("url", server)
        .option("year", "2023")
        .option("dataset", "acs/acs5")
        .option("variables", "B17001_002E,B17001_001E")
        .option("geo_ids", ",".join(zips))
    )
    for extra in ({}, {"geo_field": "zcta"}):
        df = base
        for k, v in extra.items():
            df = df.option(k, v)
        got = {r["zcta"] for r in df.load().collect()}
        assert got == set(zips), f"geo alias failed with options {extra}"


def test_census_real_header_through_transformer(spark, server):
    """End-to-end with the PRODUCTION geography header string: census_api
    source (fixture server emits the live 'zip code tabulation area' header,
    aliased onto zcta via geo_field) -> CensusAcsTransformer -> derived
    poverty_rate, sentinel -666666666 -> NULL, year literal (ADVICE r1
    hardening carried to a full-pipeline test)."""
    from datasets.census_acs.transformer import CensusAcsTransformer

    register_data_sources(spark)
    df = (
        spark.read.format("census_api")
        .schema(
            "B17001_002E string, B17001_001E string, B19013_001E string, zcta string"
        )
        .option("url", server)
        .option("year", "2023")
        .option("dataset", "acs/acs5")
        .option("variables", "B17001_002E,B17001_001E,B19013_001E")
        .option("geo_level", "zip code tabulation area")
        .option("geo_field", "zcta")
        .option("geo_ids", "10001,10099")
        .load()
    )
    out = {r["zip_code"]: r for r in CensusAcsTransformer().transform(df).collect()}
    assert set(out) == {"10001", "10099"}
    r = out["10001"]
    assert r["poverty_count"] == 20002 and r["poverty_universe"] == 100010
    assert r["poverty_rate"] == 20.0  # count/universe*100, round(2)
    assert r["median_household_income"] == 30003 and r["year"] == 2023
    # the sentinel row: income must be NULL, the ratio still computes
    assert out["10099"]["median_household_income"] is None
    assert out["10099"]["poverty_rate"] == 20.0


def test_coercing_caster_bad_cells_to_null():
    """Malformed API numerics coerce to NULL instead of killing the task
    (reference pd.to_numeric errors='coerce'); '12.0' still lands in an int
    column as 12 (ADVICE r1)."""
    from pyspark.sql.types import DoubleType, IntegerType

    from nyc_open_data_pipeline_spark.sources.http import coercing_caster

    to_int = coercing_caster(IntegerType())
    assert to_int("12") == 12 and to_int("12.0") == 12
    assert to_int("N/A") is None and to_int("") is None and to_int(None) is None
    to_float = coercing_caster(DoubleType())
    assert to_float("1.5") == 1.5
    assert to_float("n/a") is None and to_float(None) is None


def test_fetch_dispatch_api_sources(spark, server):
    """ingest.fetch() dispatch for the API-backed source types, including the
    raw_schema_ddl path and the dataset-schema fallback (ADVICE r1: the
    .schema(None) TypeError made `ingest --dataset all` fail pre-fetch)."""
    from nyc_open_data_pipeline_spark.config import DatasetConfig, DatasetEntry
    from nyc_open_data_pipeline_spark.pipeline.ingest import fetch
    from nyc_open_data_pipeline_spark.pipeline.schema import ColumnSpec, TableSchema

    register_data_sources(spark)
    soc_entry = DatasetEntry(
        key="food_supply_gap", name="t", source_type="socrata",
        dataset_id="abcd-1234", table_name="t",
        transformer="datasets.food_supply_gap.transformer.FoodSupplyGapTransformer",
    )
    # declared raw_schema_ddl
    cfg = DatasetConfig(
        entry=soc_entry, api={"url": server},
        raw={"raw_schema_ddl": "nta_code string, year int, gap double"},
    )
    assert fetch(spark, cfg).count() == len(ROWS)
    # fallback: no raw_schema_ddl -> dataset schema
    cfg_fb = DatasetConfig(
        entry=soc_entry, api={"url": server},
        schema=TableSchema(
            table_name="t",
            columns=[ColumnSpec("nta_code", "string"), ColumnSpec("year", "integer"),
                     ColumnSpec("gap", "double")],
        ),
    )
    assert fetch(spark, cfg_fb).count() == len(ROWS)

    cen_entry = DatasetEntry(
        key="census_acs", name="c", source_type="census_api",
        dataset_id="acs", table_name="c",
        transformer="datasets.census_acs.transformer.CensusAcsTransformer",
    )
    cen_cfg = DatasetConfig(
        entry=cen_entry,
        api={"url": server, "variables": "B17001_002E,B17001_001E",
             "geo_ids": ["10001", "10002"], "geo_field": "zcta"},
        raw={"raw_schema_ddl": "B17001_002E int, B17001_001E int, zcta string"},
    )
    rows = fetch(spark, cen_cfg).collect()
    assert {r["zcta"] for r in rows} == {"10001", "10002"}


def test_real_dataset_configs_have_raw_schemas():
    """Every API-backed dataset config resolves a raw schema (the CLI's
    `ingest --dataset all` path no longer dies on .schema(None))."""
    from nyc_open_data_pipeline_spark.config import load_dataset_config
    from nyc_open_data_pipeline_spark.pipeline.ingest import _raw_schema

    for key in ("food_supply_gap", "ntas_2020", "census_acs"):
        cfg = load_dataset_config("datasets/registry.yaml", key)
        raw = _raw_schema(cfg)
        assert raw, key


def test_build_soql_quoting():
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("name string, year int")
    q = build_soql({"name": "O'Brien", "year": 2020}, schema)
    assert q == "SELECT * WHERE name = 'O''Brien' AND year = 2020"


def test_http_retry_exhaustion():
    calls = []
    with pytest.raises(HttpError):
        request_json(
            "http://127.0.0.1:1/nope", max_retries=2, sleep=lambda s: calls.append(s)
        )
    assert calls == [1]  # one backoff between two attempts (2^0)


def test_read_local_dispatch(spark, tmp_path):
    csv = tmp_path / "d.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    df = read_local(spark, str(csv))
    assert df.count() == 2 and df.columns == ["a", "b"]
    js = tmp_path / "d.json"
    js.write_text('{"a": 1}\n{"a": 2}\n')
    assert read_local(spark, str(js)).count() == 2
    # columnar formats round-trip through the same dispatch
    orc_dir = str(tmp_path / "d_orc")
    spark.range(3).coalesce(1).selectExpr("id AS a").write.orc(orc_dir)
    orc_file = next(
        os.path.join(orc_dir, f) for f in os.listdir(orc_dir) if f.endswith(".orc")
    )
    assert read_local(spark, orc_file).count() == 3
    pq_dir = str(tmp_path / "d_pq")
    spark.range(4).coalesce(1).selectExpr("id AS a").write.parquet(pq_dir)
    pq_file = next(
        os.path.join(pq_dir, f) for f in os.listdir(pq_dir) if f.endswith(".parquet")
    )
    assert read_local(spark, pq_file).count() == 4


def test_socrata_stream_reader_offsets(server):
    """Unit contract of the streaming reader: page-budgeted reads advance
    the row offset; readBetweenOffsets replays exactly the same rows."""
    from pyspark.sql.types import StructType

    from nyc_open_data_pipeline_spark.sources.socrata import SocrataStreamReader

    schema = StructType.fromDDL("nta_code string, year int, gap double")
    r = SocrataStreamReader(
        schema,
        {"url": server, "dataset_id": "abcd-1234", "page_size": "10",
         "pages_per_batch": "1"},
    )
    assert r.initialOffset() == {"rows": 0}
    b1, o1 = r.read({"rows": 0})
    b1 = list(b1)
    assert len(b1) == 10 and o1 == {"rows": 10}
    b2, o2 = r.read(o1)
    b2 = list(b2)
    assert len(b2) == 10 and o2 == {"rows": 20}
    b3, o3 = r.read(o2)
    b3 = list(b3)  # short page: dataset has 25 rows
    assert len(b3) == 5 and o3 == {"rows": 25}
    # idle poll: no new data, offset unchanged
    b4, o4 = r.read(o3)
    assert list(b4) == [] and o4 == {"rows": 25}
    # recovery replay reproduces batch 2 exactly
    assert list(r.readBetweenOffsets({"rows": 10}, {"rows": 20})) == b2
    # replay across a page boundary (unaligned offsets)
    mid = list(r.readBetweenOffsets({"rows": 7}, {"rows": 13}))
    assert len(mid) == 6 and mid[0] == b1[7] and mid[-1] == b2[2]


def test_socrata_stream_end_to_end(spark, server):
    """readStream through the registered source: all 25 fixture rows arrive
    through micro-batches into a memory sink."""
    import uuid

    register_data_sources(spark)
    name = f"soc_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("socrata")
        .schema("nta_code string, year int, gap double")
        .option("url", server)
        .option("dataset_id", "abcd-1234")
        .option("page_size", 10)
        .option("pages_per_batch", 1)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    # Python stream sources don't support availableNow (falls back to one
    # batch) — run continuous micro-batches and stop once fully caught up.
    import time

    deadline = time.time() + 120
    while time.time() < deadline and spark.table(name).count() < 25:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    got = spark.table(name).collect()
    assert len(got) == 25
    assert {r["nta_code"] for r in got} == {f"NTA{i:03d}" for i in range(25)}


class StreamGapTransformer:
    """Minimal transformer for the streaming-ingest e2e (raw feed already
    shaped like the table)."""

    dataset_id = "stream_gap"

    def transform(self, df):
        return df

    def get_schema(self):
        from nyc_open_data_pipeline_spark.pipeline.schema import ColumnSpec, TableSchema

        return TableSchema(
            table_name="stream_gap",
            columns=[
                ColumnSpec("nta_code", "string", required=True),
                ColumnSpec("year", "integer"),
                ColumnSpec("gap", "double"),
            ],
            unique_keys=["nta_code"],
        )


def test_socrata_stream_ingest_e2e(spark, server, tmp_path):
    """S1b x K3: continuous API ingest through the real transform+upsert
    lifecycle; restart with the same checkpoint must be a no-op (offsets
    resume past the ingested rows)."""
    import time

    from nyc_open_data_pipeline_spark.config import DatasetConfig, DatasetEntry
    from nyc_open_data_pipeline_spark.pipeline.ingest import stream_ingest
    from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

    register_data_sources(spark)
    cfg = DatasetConfig(
        entry=DatasetEntry(
            key="stream_gap", name="t", source_type="socrata",
            dataset_id="abcd-1234", table_name="stream_gap",
            transformer="tests.test_sources.StreamGapTransformer",
        ),
        api={"url": server, "limit": 10},
        raw={"raw_schema_ddl": "nta_code string, year int, gap double"},
    )
    storage = ParquetStorage(str(tmp_path / "tables"))
    ckpt = str(tmp_path / "ckpt")

    def table_count() -> int:
        # a poll may land mid-commit — treat any
        # transient read failure as "not there yet", never as a test error
        try:
            if not storage.exists("stream_gap"):
                return -1
            return storage._count(spark, "stream_gap")
        except Exception:
            return -1

    def safe_stop(query) -> None:
        # stop() can race a mid-flight foreachBatch py4j callback; the
        # query is dead either way and the checkpoint has the real state
        try:
            query.stop()
            query.awaitTermination(30)
        except Exception:
            pass

    q = stream_ingest(spark, cfg, storage, ckpt, pages_per_batch=1,
                      poll_interval="1 seconds")
    deadline = time.time() + 120
    try:
        while time.time() < deadline and table_count() < 25:
            time.sleep(0.5)
    finally:
        safe_stop(q)
    assert storage._count(spark, "stream_gap") == 25

    # Restart from the same checkpoint. The first run may have been stopped
    # mid-batch (table written, metadata not yet — exactly the crash window);
    # recovery must REPLAY the uncommitted batch (readBetweenOffsets) and
    # converge: table still 25 (upsert idempotent), metadata catches up to 25.
    q2 = stream_ingest(spark, cfg, storage, ckpt, pages_per_batch=1,
                       poll_interval="1 seconds")
    deadline = time.time() + 120

    def meta_count() -> int:
        try:
            rows = storage.read_metadata(spark).collect()
        except Exception:
            return -1
        return next((r["record_count"] for r in rows if r["dataset_id"] == "stream_gap"), -1)

    try:
        while time.time() < deadline and meta_count() != 25:
            time.sleep(0.5)
    finally:
        safe_stop(q2)
    assert storage._count(spark, "stream_gap") == 25
    assert meta_count() == 25


def test_socrata_max_concurrency_caps_inflight_requests(spark, server):
    """Round-11 verdict #7: max_concurrency is the API rate-limit guard —
    the page space coalesces into at most that many partitions, so
    simultaneous in-flight requests are structurally bounded (verified on
    a slow server whose handler records its concurrency high-water mark)."""
    register_data_sources(spark)
    base = (
        spark.read.format("socrata")
        .schema("nta_code string, year int, gap double")
        .option("url", server)
        .option("dataset_id", "abcd-1234")
        .option("page_size", 3)  # 25 rows -> 9 pages
        .option("total_limit", 25)
        .option("partition_pages", 1)  # uncapped: 9 one-page partitions
    )
    # control: without the cap, local[32] runs all 9 partitions at once
    assert base.load().rdd.getNumPartitions() == 9

    capped = base.option("max_concurrency", 2).load()
    assert capped.rdd.getNumPartitions() == 2
    Handler.slow_s = 0.1  # force request windows to overlap if they can
    Handler.max_active = 0
    try:
        got = {r["nta_code"] for r in capped.collect()}
    finally:
        Handler.slow_s = 0.0
    assert got == {r["nta_code"] for r in ROWS}  # nothing dropped by coalescing
    assert 1 <= Handler.max_active <= 2, (
        f"server saw {Handler.max_active} simultaneous requests with "
        "max_concurrency=2"
    )
