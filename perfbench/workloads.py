"""The four workloads: inputs, set-up, the seeded operation stream, output checks.

A workload makes its inputs when it is constructed, before the session
starts. ``setup`` then loads them into the program and warms it up. Each
workload yields ``(label, call)`` operations forever, in seeded order,
grouped in rounds of ``round_size`` operations; the harness runs whole
rounds, times each operation and passes each call's result to ``record``
outside the timed region. ``check`` runs after the timed loop and returns mismatches.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time

import gen

# The read-only TPC-H-ish query corpus at sf0.01 (TESTDATA.md), one parquet
# file per table, kept with the benchmark so a checkout holds everything.
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
REGISTRY = "datasets/registry.yaml"
FEEDS = {
    "ntas_2020": [":id", "NTA2020", "NTAName", "BoroName", "Shape_STAr", "the_geom"],
    "census_zctas_2020": ["ZCTA5CE20", "geometry"],
    "food_supply_gap": gen.FOOD_COLS,
    "census_acs": gen.ACS_COLS,
}
QUERY_MIX = ("q1 q3 q5 q6 q10 q12 q14 q18 q21 j1 j2 j4 j8 a2 a5 a8 a10 w1 w2 w6 e1 e3 o3 "
             "o5 r1 as1 rj1 f2 f4 ts1").split()
DRIVER_LOOPS = "gr1 st7 st8".split()


class Ctx:
    """What a workload gets from the harness."""

    def __init__(self, tracer, run_dir: str, seed: int, tiny: bool):
        self.spark = None  # set once the session has started
        self.jvm_pid = None  # the driver JVM's pid, likewise
        self.tracer = tracer
        self.run_dir, self.seed, self.tiny = run_dir, seed, tiny
        self.last_df = None  # DataFrame of the last operation, for Catalyst phases
        self.after_op = None  # traced run: called after each timed operation


def _raw_df(spark, key: str, wh: gen.Warehouse):
    from pyspark.sql import types as T

    if key == "zillow_zori":
        fields = [T.StructField("RegionName", T.StringType())]
        fields += [T.StructField(c, T.DoubleType()) for c in wh.zori_cols[1:]]
        return spark.createDataFrame(wh.zori, T.StructType(fields))
    rows = {"ntas_2020": wh.ntas, "census_zctas_2020": wh.zctas,
            "food_supply_gap": wh.food, "census_acs": wh.acs}[key]
    return spark.createDataFrame(rows, FEEDS[key])


class _Warehouse:
    """Shared set-up: ingest the seeded warehouse through ``ingest_dataset``
    into a fresh ``ParquetStorage`` root with its default commit mode."""

    datasets: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        from nyc_open_data_pipeline_spark.config import load_dataset_config

        self.ctx = ctx
        sizes = dict(n_ntas=24, n_zctas=20, n_zori=15, n_months=12, vertices=20) if ctx.tiny else {}
        self.wh = gen.warehouse(ctx.seed, **sizes)
        self.cfg = {k: load_dataset_config(REGISTRY, k) for k in self.datasets}

    def ingest(self, key: str, raw) -> None:
        from nyc_open_data_pipeline_spark.pipeline.ingest import ingest_dataset

        with self.ctx.tracer.span("ingest.dataset"):
            ingest_dataset(self.ctx.spark, self.cfg[key], self.storage, raw_df=raw)

    def setup(self) -> None:
        from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

        self.store_root = os.path.join(self.ctx.run_dir, "store")
        shutil.rmtree(self.store_root, ignore_errors=True)
        self.storage = ParquetStorage(self.store_root)
        for key in self.datasets:
            self.ingest(key, _raw_df(self.ctx.spark, key, self.wh))

    def check_doc(self, kind: str, doc: str, want: int) -> list[str]:
        try:
            parsed = json.loads(doc)
        except ValueError as e:
            return [f"{kind}: not JSON ({e})"]
        if parsed.get("type") != "FeatureCollection" or not isinstance(parsed.get("features"), list):
            return [f"{kind}: not a FeatureCollection"]
        if len(parsed["features"]) != want:
            return [f"{kind}: {len(parsed['features'])} features, generator expects {want}"]
        return []


def _doc_fns():
    from nyc_open_data_pipeline_spark import serving

    return {"food_gaps": serving.food_gaps_document,
            "poverty_by_zip": serving.poverty_by_zip_document,
            "rent_by_zip": serving.rent_by_zip_document}


class ServeDocs(_Warehouse):
    """The read path: the three GeoJSON documents in seeded order."""

    datasets = ("ntas_2020", "census_zctas_2020", "zillow_zori", "food_supply_gap", "census_acs")
    round_size = 3

    def setup(self) -> None:
        super().setup()
        self.docs = _doc_fns()
        self.hashes: dict[str, set[str]] = {k: set() for k in self.docs}
        self.first: dict[str, str] = {}
        self.doc_bytes: list[int] = []
        for kind, fn in self.docs.items():  # warm-up, also the first check sample
            self.record(kind, fn(self.ctx.spark, self.storage))

    def ops(self):
        rng = random.Random(self.ctx.seed)
        kinds = sorted(self.docs)
        while True:
            rng.shuffle(kinds)
            for kind in kinds:
                yield kind, (lambda k=kind: self.serve(k))

    def serve(self, kind: str) -> str:
        with self.ctx.tracer.span("serving.doc"):
            return self.docs[kind](self.ctx.spark, self.storage)

    def record(self, kind: str, doc: str) -> None:
        self.first.setdefault(kind, doc)
        self.hashes[kind].add(hashlib.sha1(doc.encode()).hexdigest())
        self.doc_bytes.append(len(doc))

    def check(self) -> list[str]:
        errs = []
        want = self.wh.expected_features()
        for kind, doc in self.first.items():
            errs += self.check_doc(kind, doc, want[kind])
            if len(self.hashes[kind]) != 1:
                errs.append(f"{kind}: repeats differ ({len(self.hashes[kind])} variants)")
        return errs

    def layer_metrics(self) -> dict[str, float]:
        return {"serving.doc_bytes": sum(self.doc_bytes) / len(self.doc_bytes)}


class IngestUpsert(_Warehouse):
    """The write path: each step upserts one food and one ACS batch, then
    reads the food document back; the three are separate operations."""

    datasets = ("ntas_2020", "food_supply_gap", "census_acs")
    round_size = 3

    def setup(self) -> None:
        super().setup()
        from nyc_open_data_pipeline_spark import serving

        self.read_doc = serving.food_gaps_document
        self.rng = random.Random(self.ctx.seed * 7919 + 1)
        self.read_errors: list[str] = []
        self.fresh_read_s: list[float] = []
        self.input_bytes = 0
        self.rows_in = 0
        self._ops = self._steps()
        for _ in range(self.round_size):  # warm-up step: the upsert and read paths are cold
            label, call = next(self._ops)
            self.record(label, call())
        self.fresh_read_s.clear()
        self.input_bytes = self.rows_in = 0  # count the timed batches only

    def ops(self):
        return self._ops

    def _steps(self):
        # Each batch is generated just before its operation runs, so the
        # ground truth holds exactly the batches that were ingested.
        n_food, n_acs = (200, 30) if self.ctx.tiny else (2000, 300)
        step = 0
        while True:
            food = self._count(gen.food_batch(self.rng, self.wh, step, n_food))
            yield "food", (lambda rows=food: self.upsert("food_supply_gap", rows))
            acs = self._count(gen.acs_batch(self.rng, self.wh, n_acs))
            yield "acs", (lambda rows=acs: self.upsert("census_acs", rows))
            want = self.wh.expected_features()["food_gaps"]
            yield "read", (lambda w=want: (self.read(), w))
            step += 1

    def _count(self, rows: list[tuple]) -> list[tuple]:
        self.input_bytes += sum(len(json.dumps(r)) for r in rows)
        self.rows_in += len(rows)
        return rows

    def upsert(self, key: str, rows: list[tuple]) -> None:
        self.ingest(key, self.ctx.spark.createDataFrame(rows, FEEDS[key]))

    def read(self) -> str:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("serving.doc"):
            doc = self.read_doc(self.ctx.spark, self.storage)
        self.fresh_read_s.append(time.perf_counter() - t0)
        return doc

    def record(self, label: str, out) -> None:
        if label == "read":
            doc, want = out
            self.read_errors += self.check_doc("food_gaps", doc, want)

    def check(self) -> list[str]:
        errs = list(self.read_errors)
        spark = self.ctx.spark
        food = self.storage.read(spark, "food_supply_gaps").toPandas()
        got = {(int(r.year), r.nta_code): r for r in food.itertuples()}
        truth = self.wh.food_truth
        if len(food) != len(truth) or set(got) != set(truth):
            errs.append(f"food_supply_gaps: {len(food)} rows, generator expects {len(truth)}")
        else:
            for key, (lbs, pct, rank) in truth.items():
                r = got[key]
                if not (_same(r.supply_gap_lbs, lbs) and _same(r.supply_gap_pct, pct)
                        and _same(r.rank, rank)):
                    errs.append(f"food_supply_gaps {key}: {(r.supply_gap_lbs, r.supply_gap_pct, r.rank)}"
                                f" != keep-last {(lbs, pct, rank)}")
                    break
        acs = self.storage.read(spark, "census_acs_poverty").toPandas()
        got = {r.zip_code: r for r in acs.itertuples()}
        truth = self.wh.acs_truth
        if len(acs) != len(truth) or set(got) != set(truth):
            errs.append(f"census_acs_poverty: {len(acs)} rows, generator expects {len(truth)}")
        else:
            for z, (rate, income) in truth.items():
                r = got[z]
                if not (_same(r.poverty_rate, rate) and _same(r.median_household_income, income)):
                    errs.append(f"census_acs_poverty {z}: {(r.poverty_rate, r.median_household_income)}"
                                f" != {(rate, income)}")
                    break
        return errs

    def layer_metrics(self) -> dict[str, float]:
        from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

        st: ParquetStorage = self.storage
        tables = [t for t in os.listdir(self.store_root) if not t.startswith(".") and "__" not in t]
        size = 0
        for dirpath, _dirs, names in os.walk(self.store_root):
            size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        return {
            "ingest.fresh_read_ms": 1000 * statistics.median(self.fresh_read_s or [0.0]),
            "ingest.store_mb": size / 2**20,
            "storage.live_files": float(sum(len(st._live_data_files(t)) for t in tables)),
            "storage.generations": float(sum(st.generation(t) for t in tables)),
        }


def _same(got, want) -> bool:
    if want is None:
        return got is None or (isinstance(got, float) and math.isnan(got))
    if got is None or (isinstance(got, float) and math.isnan(got)):
        return False
    return math.isclose(float(got), float(want), rel_tol=1e-6, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# query workloads over the fixed corpus
# ---------------------------------------------------------------------------

def canonical_hash(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result frame; columns are
    taken in name order and cells rendered engine-neutrally."""
    import datetime as dt
    import decimal

    import numpy as np
    import pandas as pd

    def cell(v) -> str:
        if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
            return "~"
        if isinstance(v, (np.ndarray, list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, (decimal.Decimal, float, np.floating)):
            f = float(v)
            return str(int(f)) if f.is_integer() and abs(f) < 1e15 else repr(f)
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
            return pd.Timestamp(v).isoformat()
        if isinstance(v, dt.date):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    cols = sorted(pdf.columns)
    rows = sorted("|".join(cell(v) for v in row) for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha1("\n".join([",".join(cols), *rows]).encode()).hexdigest()
    return len(rows), h


def oracle_hashes(specs: dict) -> dict[str, tuple[int, str]]:
    """(row count, hash) of DuckDB running each query's oracle SQL on the corpus."""
    import duckdb

    from nyc_open_data_pipeline_spark.catalog import TESTDATA_TABLES, table_path

    con = duckdb.connect()
    try:
        for name in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(CORPUS, name)}')")
        return {s: canonical_hash(con.sql(spec.oracle).df()) for s, spec in specs.items() if spec.oracle}
    finally:
        con.close()


def _specs(registry: dict, short: list[str]) -> dict:
    by_short = {name.split("_")[0]: spec for name, spec in registry.items()}
    return {s: by_short[s] for s in short}


class _Queries:
    names: list[str] = []

    def __init__(self, ctx: Ctx):
        from nyc_open_data_pipeline_spark.plans import all_queries

        self.ctx = ctx
        self.specs = _specs(all_queries(), self.names)
        self.oracle = oracle_hashes(self.specs)

    @property
    def round_size(self) -> int:
        return len(self.names)

    def setup(self) -> None:
        self.results: dict[str, set] = {s: set() for s in self.names}
        for s in self.names:  # warm-up pass: session caches, codegen, JIT
            self.record(s, self.run(s))

    def ops(self):
        rng = random.Random(self.ctx.seed)
        names = list(self.names)
        while True:
            rng.shuffle(names)
            for s in names:
                yield s, (lambda s=s: self.run(s))

    def run(self, short: str):
        with self.ctx.tracer.span("plans.build"):
            df = self.specs[short].fn(self.ctx.spark, CORPUS)
        with self.ctx.tracer.span("exec.action"):
            pdf = df.toPandas()
        self.ctx.last_df = df
        return pdf

    def record(self, short: str, pdf) -> None:
        self.results[short].add(tuple(canonical_hash(pdf)))

    def check(self) -> list[str]:
        errs = []
        for s, seen in self.results.items():
            if len(seen) != 1:
                errs.append(f"{s}: {len(seen)} different results across passes")
            elif s in self.oracle and next(iter(seen)) != self.oracle[s]:
                (n, _h), = seen
                errs.append(f"{s}: {n} rows / hash differs from the DuckDB oracle "
                            f"({self.oracle[s][0]} rows)")
        return errs

    def layer_metrics(self) -> dict[str, float]:
        return {}


class QueryMix(_Queries):
    """The relational surface: one plan per query, cost in Catalyst and execution."""

    names = QUERY_MIX


class DriverLoops(_Queries):
    """Queries that launch many small jobs and micro-batches while building."""

    names = DRIVER_LOOPS


WORKLOADS = {
    "serve-docs": ServeDocs,
    "ingest-upsert": IngestUpsert,
    "query-mix": QueryMix,
    "driver-loops": DriverLoops,
}
