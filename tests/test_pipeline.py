"""Pipeline spine: schema parsing, transformer base, validation, storage merge."""

from __future__ import annotations

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_open_data_pipeline_spark.pipeline.base import BaseTransformer
from nyc_open_data_pipeline_spark.pipeline.parser import load_transformer, parse, validate
from nyc_open_data_pipeline_spark.pipeline.schema import ColumnSpec, TableSchema, parse_type
from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage


def test_parse_type_reference_strings():
    # the exact logical-type strings the reference configs use (SURVEY §1.2)
    assert parse_type("integer") == T.IntegerType()
    assert parse_type("VARCHAR(10)") == T.StringType()
    assert parse_type("NUMERIC(12, 2)") == T.DecimalType(12, 2)
    assert parse_type("FLOAT") == T.DoubleType()
    assert parse_type("DATE") == T.DateType()
    assert parse_type("TIMESTAMP") == T.TimestampType()
    assert parse_type("GEOMETRY('MULTIPOLYGON', srid=4326)") == T.StringType()
    assert parse_type("unknown_gibberish") == T.StringType()


def test_schema_from_dict_and_struct():
    schema = TableSchema.from_dict(
        {
            "table_name": "food_supply_gaps",
            "columns": [
                {"name": "year", "type": "integer", "required": True, "min": 2000, "max": 2100},
                {"name": "nta_code", "type": "VARCHAR(10)", "required": True},
                {"name": "supply_gap_lbs", "type": "NUMERIC(14,2)"},
            ],
            "validation": {"unique_keys": ["year", "nta_code"]},
            "indexes": ["year"],
        }
    )
    st = schema.to_struct_type()
    assert [f.dataType for f in st.fields] == [
        T.IntegerType(),
        T.StringType(),
        T.DecimalType(14, 2),
    ]
    assert schema.unique_keys == ["year", "nta_code"]
    assert schema.partition_by == ["year"]


class ToyTransformer(BaseTransformer):
    dataset_id = "toy"

    def transform(self, df: DataFrame) -> DataFrame:
        df = self.standardize_column_names(df)
        df = self.drop_metadata_columns(df)
        return df.withColumn("val", F.col("val").cast("double"))

    def get_schema(self) -> TableSchema:
        return TableSchema(
            table_name="toy",
            columns=[
                ColumnSpec("key", "string", required=True),
                ColumnSpec("val", "float", min=0, max=100),
            ],
            unique_keys=["key"],
        )


def test_transformer_and_validation(spark):
    df = spark.createDataFrame(
        [(":meta", "a", "5"), (":meta", "a", "200"), (":meta", "b", "oops")],
        [":id", "Key Name", "val"],
    ).withColumnRenamed("Key Name", "KEY")
    out, report = parse(df, ToyTransformer())
    assert "key" in out.columns and ":id" not in out.columns
    assert report.record_count == 3
    assert report.range_violations == {"val": 1}  # 200 out of range; 'oops'->NULL
    assert report.duplicate_keys == 1  # two 'a' rows


def test_validation_missing_column_raises(spark):
    df = spark.createDataFrame([("a", "1")], ["not_key", "val"])
    with pytest.raises(ValueError, match="missing required columns"):
        parse(df, ToyTransformer())


def test_load_transformer_dotted_path():
    # importlib may re-import this module under its dotted name, so compare
    # by qualified name, not identity
    t = load_transformer("tests.test_pipeline.ToyTransformer")
    assert type(t).__name__ == "ToyTransformer"
    assert t.dataset_id == "toy"


def test_storage_upsert_idempotent(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=["k"],
    )
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    n = storage.upsert(spark, batch1, schema)
    assert n == 2
    # idempotence: same batch again -> no growth (SURVEY §5 property #4)
    assert storage.upsert(spark, batch1, schema) == 2
    # update + insert: incoming wins on conflict (ON CONFLICT DO UPDATE)
    batch2 = spark.createDataFrame([(2, "B2"), (3, "c")], ["k", "v"])
    assert storage.upsert(spark, batch2, schema) == 3
    rows = {
        r["k"]: r["v"] for r in storage.read(spark, "t").collect()
    }
    assert rows == {1: "a", 2: "B2", 3: "c"}


def test_storage_upsert_partition_pruned(spark, tmp_path):
    """K3 at scale: an upsert touching one partition must not read or rewrite
    any other partition's files (VERDICT r1 'What's wrong' #1)."""
    import os

    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("year", "integer"),
            ColumnSpec("v", "string"),
        ],
        unique_keys=["k"],
        partition_by=["year"],
    )
    base = spark.createDataFrame(
        [(1, 2023, "a"), (2, 2023, "b"), (3, 2024, "c"), (4, 2024, "d")],
        ["k", "year", "v"],
    )
    assert storage.upsert(spark, base, schema) == 4

    def files_of(part: str) -> dict[str, float]:
        return {
            f: os.path.getmtime(f)
            for f in storage._live_data_files("t")
            if os.path.basename(os.path.dirname(f)) == part
        }

    before_2023 = files_of("year=2023")
    assert before_2023
    # update one 2024 row + insert a new 2024 row: only year=2024 is rewritten
    batch = spark.createDataFrame([(3, 2024, "C2"), (5, 2024, "e")], ["k", "year", "v"])
    assert storage.upsert(spark, batch, schema) == 5
    assert files_of("year=2023") == before_2023  # same files, same mtimes
    rows = {r["k"]: r["v"] for r in storage.read(spark, "t").collect()}
    assert rows == {1: "a", 2: "b", 3: "C2", 4: "d", 5: "e"}
    # idempotence holds on the pruned path too
    assert storage.upsert(spark, batch, schema) == 5


def test_storage_upsert_dedup_deterministic(spark, tmp_path):
    """Incoming-batch dedup keeps the min row under all-column ordering —
    partition/scheduling independent (ADVICE r1)."""
    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=["k"],
    )
    dup = spark.createDataFrame(
        [(1, "z"), (1, "a"), (1, "m")], ["k", "v"]
    ).repartition(3)
    storage.upsert(spark, dup, schema)
    rows = storage.read(spark, "t").collect()
    assert len(rows) == 1 and rows[0]["v"] == "a"


def test_storage_append_and_metadata(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(table_name="logs", columns=[ColumnSpec("x", "integer")])
    df = spark.createDataFrame([(1,), (2,)], ["x"])
    storage.create_or_append(df, schema)
    storage.create_or_append(df, schema)  # append: no unique keys -> grows
    assert storage.read(spark, "logs").count() == 4

    storage.update_metadata(spark, "ds1", "logs", 4, last_ingestion="2026-01-01")
    storage.update_metadata(spark, "ds1", "logs", 4, last_ingestion="2026-01-02")
    meta = storage.read_metadata(spark).collect()
    assert len(meta) == 1 and meta[0]["last_ingestion"] == "2026-01-02"


def test_storage_delete_keys_partition_pruned(spark, tmp_path):
    """The delete mirrors the upsert's scale contract: keys carrying the
    partition column must leave other partitions' files untouched."""
    import os

    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("year", "integer"),
            ColumnSpec("v", "string"),
        ],
        unique_keys=["k"],
        partition_by=["year"],
    )
    base = spark.createDataFrame(
        [(1, 2023, "a"), (2, 2023, "b"), (3, 2024, "c"), (4, 2024, "d")],
        ["k", "year", "v"],
    )
    assert storage.upsert(spark, base, schema) == 4

    def files_of(part):
        return {
            f: os.path.getmtime(f)
            for f in storage._live_data_files("t")
            if os.path.basename(os.path.dirname(f)) == part
        }

    before_2023 = files_of("year=2023")
    assert before_2023
    gone = spark.createDataFrame([(3, 2024)], ["k", "year"])
    assert storage.delete_keys(spark, gone, schema) == 3
    assert files_of("year=2023") == before_2023
    rows = {r["k"] for r in storage.read(spark, "t").collect()}
    assert rows == {1, 2, 4}
    # idempotent: deleting the same keys again is a no-op
    assert storage.delete_keys(spark, gone, schema) == 3


def test_storage_delete_keys_unpartitioned(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=["k"],
    )
    storage.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), schema)
    assert storage.delete_keys(spark, spark.createDataFrame([(2,)], ["k"]), schema) == 1
    assert storage.delete_keys(spark, spark.createDataFrame([(9,)], ["k"]), schema) == 1


def test_storage_purge_partitions_metadata_only(spark, tmp_path):
    """Retention: dropping partitions must not read data files and must
    remove exactly the failing partitions."""
    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("year", "integer"),
            ColumnSpec("v", "string"),
        ],
        unique_keys=["k"],
        partition_by=["year"],
    )
    base = spark.createDataFrame(
        [(1, 2019, "a"), (2, 2020, "b"), (3, 2021, "c")], ["k", "year", "v"]
    )
    storage.upsert(spark, base, schema)
    dropped = storage.purge_partitions(schema, lambda v: int(v["year"]) >= 2020)
    assert sorted(d["year"] for d in dropped) == ["2019"]
    rows = {r["year"] for r in storage.read(spark, "t").collect()}
    assert rows == {2020, 2021}


def test_storage_upsert_schema_evolution(spark, tmp_path):
    """A feed that grows a column (the reference's U2 warning case) must
    merge cleanly: old rows get NULL for the new column, new rows carry it."""
    storage = ParquetStorage(str(tmp_path))
    schema_v1 = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=["k"],
    )
    storage.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), schema_v1)
    schema_v2 = TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("v", "string"),
            ColumnSpec("extra", "string"),
        ],
        unique_keys=["k"],
    )
    batch = spark.createDataFrame([(2, "B2", "x"), (3, "c", "y")], ["k", "v", "extra"])
    assert storage.upsert(spark, batch, schema_v2) == 3
    rows = {r["k"]: (r["v"], r["extra"]) for r in storage.read(spark, "t").collect()}
    assert rows == {1: ("a", None), 2: ("B2", "x"), 3: ("c", "y")}


def test_autosize_shuffle_partitions(spark, tmp_path):
    """AQE initialPartitionNum derives from input bytes (round-6: the sf100
    spill fix with NO env knob): small dirs pin core-count, a 20 GB dir gets
    ~640 partitions, and the per-session high-water never shrinks so a scale
    switch cannot flap a later big query back into the spill regime."""
    import os

    from nyc_open_data_pipeline_spark import catalog as C

    from nyc_open_data_pipeline_spark.cache import SESSION_CACHE

    assert not os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    par = spark.sparkContext.defaultParallelism
    spark.conf.unset(C._INITIAL_PARTITIONS)

    small = tmp_path / "small"
    small.mkdir()
    (small / "t.parquet").write_bytes(b"x" * 1024)
    assert C.autosize_shuffle_partitions(spark, str(small)) == par

    big = tmp_path / "big"
    big.mkdir()
    with open(big / "t.parquet", "wb") as f:  # sparse: 20 GB logical, ~0 disk
        f.truncate(20 * 1024**3)
    got = C.autosize_shuffle_partitions(spark, str(big))
    assert got == 640  # 20 GiB / 32 MiB
    assert (
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )
        == "640"
    )

    # high-water: revisiting the small dir must not shrink the width
    assert C.autosize_shuffle_partitions(spark, str(small)) == 640

    # explicit operator override replaces auto-sizing: it must take effect
    # even after the autosizer raised the high-water (the review-caught
    # bug: the old early-return left a stale initialPartitionNum active
    # and reported 0/stale as the target in effect)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "256"
    try:
        SESSION_CACHE.invalidate(("_dir_input_bytes", str(big)))
        assert C.autosize_shuffle_partitions(spark, str(big)) == 256
        assert (
            spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
            == "256"
        )
    finally:
        del os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"]
        # restore for the rest of the suite (sf0.001 fixtures -> core count)
        spark.conf.unset(C._INITIAL_PARTITIONS)


def test_storage_concurrent_upserts_serialize(spark, tmp_path):
    """Round-12 commit protocol: two writers hammering ONE table must
    produce the serialized result — before the per-table writer lock,
    concurrent publishes could interleave and silently drop a whole batch
    (VERDICT r11 'What's missing' #2)."""
    import threading

    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=["k"],
    )
    # seed so both writers take the merge path, not the create path
    storage.upsert(spark, spark.createDataFrame([(0, "seed")], ["k", "v"]), schema)
    errors: list[BaseException] = []

    def writer(base: int) -> None:
        try:
            for i in range(4):
                batch = spark.createDataFrame(
                    [(base + i, f"w{base}b{i}"), (999, f"w{base}b{i}")], ["k", "v"]
                )
                storage.upsert(spark, batch, schema)
        except BaseException as e:  # noqa: BLE001 — surfaced to the assert
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    rows = {r["k"]: r["v"] for r in storage.read(spark, "t").collect()}
    # no batch lost: every non-contended key from BOTH writers survived
    assert set(rows) == {0, 999, *range(100, 104), *range(200, 204)}
    # the contended key holds the value of SOME single batch (a serialization
    # exists); 9 committed writes -> generation counted them all
    assert rows[999] in {f"w{b}b{i}" for b in (100, 200) for i in range(4)}
    assert storage.generation("t") == 9


def test_storage_stale_lock_takeover_and_fence(spark, tmp_path):
    """A dead writer's lock is broken after lock_stale_after; the zombie,
    if it ever resumes, is fenced at its commit point."""
    import json
    import os
    import time

    import pytest as _pytest

    from nyc_open_data_pipeline_spark.pipeline.storage import (
        LockTimeoutError,
        WriterFencedError,
    )

    storage = ParquetStorage(str(tmp_path), lock_timeout=0.5, lock_stale_after=0.2)
    schema = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=["k"],
    )
    # a crashed writer left its lock: dead pid, old mtime
    lock = storage._lock_dir("t")
    os.makedirs(lock)
    owner = os.path.join(lock, "owner.json")
    with open(owner, "w") as f:
        json.dump({"token": "zombie", "pid": 2**31 - 5, "host": __import__("socket").gethostname(), "ts": 0}, f)
    os.utime(owner, (1, 1))
    # takeover: the new writer breaks the stale lock and commits
    storage.upsert(spark, spark.createDataFrame([(1, "a")], ["k", "v"]), schema)
    assert storage.generation("t") == 1
    # the zombie resumes: its token no longer owns the lock -> fenced
    with _pytest.raises(WriterFencedError):
        storage._check_fence("t", "zombie")

    # a LIVE lock (this pid, fresh mtime) is NOT broken: acquisition times out
    live = storage._acquire_lock("t")
    t0 = time.monotonic()
    with _pytest.raises(LockTimeoutError):
        storage._acquire_lock("t")
    assert time.monotonic() - t0 >= 0.4  # actually waited, not failed fast
    storage._release_lock("t", live)
    assert not os.path.exists(lock)


def test_storage_concurrent_upserts_to_different_partitioned_tables(spark, tmp_path):
    """Round-12 review #4: per-table locks don't serialize CROSS-table
    writers, and the old session-conf partitionOverwriteMode set/restore
    could race another table's overwrite into STATIC (truncating) mode.
    With the per-writer option, concurrent partitioned upserts to two
    tables must each preserve their untouched partitions."""
    import threading

    storage = ParquetStorage(str(tmp_path))

    def schema_for(name: str) -> TableSchema:
        return TableSchema(
            table_name=name,
            columns=[
                ColumnSpec("k", "integer", primary_key=True),
                ColumnSpec("part", "integer"),
                ColumnSpec("v", "string"),
            ],
            unique_keys=["k"],
            partition_by=["part"],
        )

    # seed both tables with partitions 0..3
    for name in ("tx", "ty"):
        seed = spark.createDataFrame(
            [(p * 10 + i, p, f"seed{p}{i}") for p in range(4) for i in range(2)],
            ["k", "part", "v"],
        )
        storage.upsert(spark, seed, schema_for(name))

    errors: list[BaseException] = []

    def writer(name: str) -> None:
        try:
            for i in range(3):
                # each upsert touches ONE partition; the other three must
                # survive every interleaving
                batch = spark.createDataFrame(
                    [(i * 10, i, f"{name}-b{i}")], ["k", "part", "v"]
                )
                storage.upsert(spark, batch, schema_for(name))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    t1 = threading.Thread(target=writer, args=("tx",))
    t2 = threading.Thread(target=writer, args=("ty",))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    for name in ("tx", "ty"):
        rows = storage.read(spark, name).collect()
        parts = {r["part"] for r in rows}
        assert parts == {0, 1, 2, 3}, f"{name} lost partitions: {parts}"
        assert len(rows) == 8  # 2 per partition, upserts replaced in place
