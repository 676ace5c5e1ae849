"""Pointer-file (manifest) commit protocol + lock lease heartbeat.

Every write lands in an immutable segment and publishes by atomically
replacing ONE ``_current`` manifest file. These tests cover the
concurrency, crash, fencing and fault-injection scenarios, the
percent-escaped partition values Spark writes, time travel, and a
live-but-slow cross-host writer that the lease heartbeat must protect from
takeover.
"""

from __future__ import annotations

import json
import os
import socket
import threading
import time
from datetime import datetime

import pytest

from nyc_open_data_pipeline_spark.pipeline.schema import ColumnSpec, TableSchema
from nyc_open_data_pipeline_spark.pipeline.storage import (
    LockTimeoutError,
    ParquetStorage,
    WriterFencedError,
)


def _kv_schema() -> TableSchema:
    return TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=["k"],
    )


def _part_schema() -> TableSchema:
    return TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("year", "integer"),
            ColumnSpec("v", "string"),
        ],
        unique_keys=["k"],
        partition_by=["year"],
    )


def test_pointer_upsert_idempotent_and_merge(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert storage.upsert(spark, batch1, schema) == 2
    assert storage.upsert(spark, batch1, schema) == 2  # idempotent
    batch2 = spark.createDataFrame([(2, "B2"), (3, "c")], ["k", "v"])
    assert storage.upsert(spark, batch2, schema) == 3
    rows = {r["k"]: r["v"] for r in storage.read(spark, "t").collect()}
    assert rows == {1: "a", 2: "B2", 3: "c"}
    assert storage.generation("t") == 3


def test_pointer_upsert_partition_pruned_never_rewrites_untouched(spark, tmp_path):
    """The pruned-upsert contract at the segment level: the
    untouched partition's FILES (inside their owning segment) keep their
    mtimes, and the manifest still points the untouched partition at the
    original segment."""
    storage = ParquetStorage(str(tmp_path))
    schema = _part_schema()
    base = spark.createDataFrame(
        [(1, 2023, "a"), (2, 2023, "b"), (3, 2024, "c"), (4, 2024, "d")],
        ["k", "year", "v"],
    )
    assert storage.upsert(spark, base, schema) == 4
    m0 = storage._read_manifest("t")
    seg_2023 = m0["parts"]["year=2023"]

    def files_of(seg: str, part: str) -> dict[str, float]:
        d = os.path.join(storage.path("t"), seg, part)
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = files_of(seg_2023[0], "year=2023")
    batch = spark.createDataFrame([(3, 2024, "C2"), (5, 2024, "e")], ["k", "year", "v"])
    assert storage.upsert(spark, batch, schema) == 5
    m1 = storage._read_manifest("t")
    assert m1["parts"]["year=2023"] == seg_2023  # pointer untouched
    assert m1["parts"]["year=2024"] != m0["parts"]["year=2024"]  # replaced
    assert files_of(seg_2023[0], "year=2023") == before  # bytes untouched
    rows = {r["k"]: r["v"] for r in storage.read(spark, "t").collect()}
    assert rows == {1: "a", 2: "b", 3: "C2", 4: "d", 5: "e"}
    assert storage.upsert(spark, batch, schema) == 5  # idempotent


def test_pointer_append_grows_segment_list_and_metadata_roundtrip(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(table_name="logs", columns=[ColumnSpec("x", "integer")])
    df = spark.createDataFrame([(1,), (2,)], ["x"])
    storage.create_or_append(df, schema)
    storage.create_or_append(df, schema)
    assert storage.read(spark, "logs").count() == 4
    m = storage._read_manifest("logs")
    assert len(m["parts"][""]) == 2  # two contributing segments
    assert m["gen"] == 2

    storage.update_metadata(spark, "ds1", "logs", 4, last_ingestion="2026-01-01")
    storage.update_metadata(spark, "ds1", "logs", 4, last_ingestion="2026-01-02")
    meta = storage.read_metadata(spark).collect()
    assert len(meta) == 1 and meta[0]["last_ingestion"] == "2026-01-02"


def test_pointer_delete_keys_pruned_and_unpartitioned(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    schema = _part_schema()
    base = spark.createDataFrame(
        [(1, 2023, "a"), (2, 2023, "b"), (3, 2024, "c"), (4, 2024, "d")],
        ["k", "year", "v"],
    )
    storage.upsert(spark, base, schema)
    seg_2023 = storage._read_manifest("t")["parts"]["year=2023"]
    gone = spark.createDataFrame([(3, 2024)], ["k", "year"])
    assert storage.delete_keys(spark, gone, schema) == 3
    assert storage._read_manifest("t")["parts"]["year=2023"] == seg_2023
    assert {r["k"] for r in storage.read(spark, "t").collect()} == {1, 2, 4}
    assert storage.delete_keys(spark, gone, schema) == 3  # idempotent

    # delete-to-empty partition: its manifest entry drops out entirely
    both = spark.createDataFrame([(4, 2024)], ["k", "year"])
    assert storage.delete_keys(spark, both, schema) == 2
    assert "year=2024" not in storage._read_manifest("t")["parts"]

    st2 = ParquetStorage(str(tmp_path / "u"))
    kv = _kv_schema()
    st2.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), kv)
    assert st2.delete_keys(spark, spark.createDataFrame([(2,)], ["k"]), kv) == 1


def test_pointer_purge_partitions_is_manifest_only(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    schema = _part_schema()
    base = spark.createDataFrame(
        [(1, 2019, "a"), (2, 2020, "b"), (3, 2021, "c")], ["k", "year", "v"]
    )
    storage.upsert(spark, base, schema)
    seg = storage._read_manifest("t")["parts"]["year=2019"][0]
    dropped = storage.purge_partitions(schema, lambda v: int(v["year"]) >= 2020)
    assert sorted(d["year"] for d in dropped) == ["2019"]
    assert {r["year"] for r in storage.read(spark, "t").collect()} == {2020, 2021}
    # metadata-only: the purged partition's data files still exist until vacuum
    assert os.path.exists(os.path.join(storage.path("t"), seg, "year=2019"))


def test_pointer_schema_evolution(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    storage.upsert(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), _kv_schema()
    )
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

    # evolution through APPEND: old segments lack the new column -> NULL
    st2 = ParquetStorage(str(tmp_path / "ap"))
    s1 = TableSchema(table_name="logs", columns=[ColumnSpec("x", "integer")])
    s2 = TableSchema(
        table_name="logs",
        columns=[ColumnSpec("x", "integer"), ColumnSpec("tag", "string")],
    )
    st2.create_or_append(spark.createDataFrame([(1,)], ["x"]), s1)
    st2.create_or_append(spark.createDataFrame([(2, "t")], ["x", "tag"]), s2)
    rows = {r["x"]: r["tag"] for r in st2.read(spark, "logs").collect()}
    assert rows == {1: None, 2: "t"}


def test_pointer_concurrent_upserts_serialize(spark, tmp_path):
    """Two-writer interleave: the manifest flip under the table lock must
    serialize every batch."""
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
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
    assert set(rows) == {0, 999, *range(100, 104), *range(200, 204)}
    assert rows[999] in {f"w{b}b{i}" for b in (100, 200) for i in range(4)}
    assert storage.generation("t") == 9


def test_pointer_crash_before_flip_leaves_committed_state(spark, tmp_path):
    """Crash between segment write and flip: a writer that wrote its
    segment but died before the manifest flip leaves the PREVIOUS commit
    fully intact (manifest + every referenced segment), the orphan segment
    invisible to readers, and vacuum sweeps it."""
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
    storage.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), schema)
    m_before = storage._read_manifest("t")

    # simulate: crashed writer's segment landed, manifest never flipped
    with storage._locked("t"):
        seg, _rps = storage._write_segment(
            spark.createDataFrame([(9, "ghost")], ["k", "v"]), schema
        )
    assert storage._read_manifest("t") == m_before  # nothing published
    rows = {r["k"] for r in storage.read(spark, "t").collect()}
    assert rows == {1, 2}  # the orphan segment is invisible
    removed = storage.vacuum("t")
    assert any(seg in p for p in removed)
    assert not os.path.exists(os.path.join(storage.path("t"), seg))

    # the retried upsert lands on top of the committed state
    assert storage.upsert(
        spark, spark.createDataFrame([(9, "c")], ["k", "v"]), schema
    ) == 3


def test_pointer_stale_lock_takeover_and_fence(spark, tmp_path):
    """Takeover/fence at the manifest flip: a dead
    writer's lock breaks, the zombie is refused at the manifest flip."""
    storage = ParquetStorage(
        str(tmp_path), lock_timeout=0.5, lock_stale_after=0.2
    )
    schema = _kv_schema()
    lock = storage._lock_dir("t")
    os.makedirs(lock)
    owner = os.path.join(lock, "owner.json")
    with open(owner, "w") as f:
        json.dump(
            {"token": "zombie", "pid": 2**31 - 5, "host": socket.gethostname(), "ts": 0},
            f,
        )
    os.utime(owner, (1, 1))
    storage.upsert(spark, spark.createDataFrame([(1, "a")], ["k", "v"]), schema)
    assert storage.generation("t") == 1
    with pytest.raises(WriterFencedError):
        storage._flip_manifest("t", {"gen": 99, "parts": {}}, "zombie")
    assert storage.generation("t") == 1  # zombie's manifest never landed


def test_heartbeat_protects_live_crosshost_writer(spark, tmp_path):
    """ADVICE r12: cross-host staleness is age-only, so before the lease a
    live-but-slow remote writer past lock_stale_after was ALWAYS taken
    over. With the heartbeat refreshing owner.json's mtime, a contender
    must time out instead. Cross-host is simulated by rewriting the owner
    host (pid liveness is then unverifiable and age is the only signal)."""
    storage = ParquetStorage(
        str(tmp_path), lock_timeout=1.0, lock_stale_after=0.3, lock_heartbeat=0.05
    )
    token = storage._acquire_lock("t")
    owner = os.path.join(storage._lock_dir("t"), "owner.json")
    with open(owner) as f:
        rec = json.load(f)
    rec["host"] = "some-other-host"
    with open(owner, "w") as f:
        json.dump(rec, f)
    time.sleep(0.6)  # well past lock_stale_after: only the heartbeat saves it
    t0 = time.monotonic()
    with pytest.raises(LockTimeoutError):
        storage._acquire_lock("t")
    assert time.monotonic() - t0 >= 0.8  # waited the full timeout
    assert storage._owns_lock("t", token)  # never taken over
    storage._release_lock("t", token)


def test_heartbeat_stop_allows_takeover_and_fences_zombie(spark, tmp_path):
    """The converse: once the owner's heartbeat stops (process death), age
    goes stale, a contender takes over, and the original writer is fenced
    at its commit point."""
    storage = ParquetStorage(
        str(tmp_path), lock_timeout=2.0, lock_stale_after=0.3, lock_heartbeat=0.05
    )
    token = storage._acquire_lock("t")
    owner = os.path.join(storage._lock_dir("t"), "owner.json")
    with open(owner) as f:
        rec = json.load(f)
    rec["host"] = "some-other-host"  # cross-host: age is the only signal
    with open(owner, "w") as f:
        json.dump(rec, f)
    storage._stop_heartbeat(token)  # the remote writer's process died
    time.sleep(0.4)

    contender = ParquetStorage(
        str(tmp_path), lock_timeout=2.0, lock_stale_after=0.3, lock_heartbeat=0.05
    )
    token2 = contender._acquire_lock("t")
    assert not storage._owns_lock("t", token)
    with pytest.raises(WriterFencedError):
        storage._check_fence("t", token)
    contender._release_lock("t", token2)


def test_pointer_compact_segments_bounds_manifest_growth(spark, tmp_path):
    """Appends grow each partition's segment list one per write; the
    maintenance fold must collapse over-threshold partitions into one
    segment, preserve every row, leave untouched partitions' pointers and
    bytes alone, and make the superseded segments vacuum-able."""
    storage = ParquetStorage(str(tmp_path))
    schema = TableSchema(
        table_name="logs",
        columns=[ColumnSpec("x", "integer"), ColumnSpec("part", "integer")],
        partition_by=["part"],
    )
    # partition 0 gets 6 appends (over threshold), partition 1 gets one
    for i in range(6):
        storage.create_or_append(
            spark.createDataFrame([(i, 0)], ["x", "part"]), schema
        )
    storage.create_or_append(spark.createDataFrame([(100, 1)], ["x", "part"]), schema)
    m = storage._read_manifest("logs")
    assert len(m["parts"]["part=0"]) == 6
    seg_p1 = m["parts"]["part=1"]

    folded = storage.compact_segments(spark, schema, max_segments=4)
    assert folded == {"part=0": 6}
    m2 = storage._read_manifest("logs")
    assert len(m2["parts"]["part=0"]) == 1
    assert m2["parts"]["part=1"] == seg_p1  # untouched pointer
    rows = {(r["x"], r["part"]) for r in storage.read(spark, "logs").collect()}
    assert rows == {(i, 0) for i in range(6)} | {(100, 1)}
    # superseded segments become vacuum-able orphans
    removed = storage.vacuum("logs")
    assert len(removed) >= 6
    rows2 = {(r["x"], r["part"]) for r in storage.read(spark, "logs").collect()}
    assert rows2 == rows
    # idempotent below threshold
    assert storage.compact_segments(spark, schema, max_segments=4) == {}


def _str_part_schema() -> TableSchema:
    return TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("src", "string"),
            ColumnSpec("v", "string"),
        ],
        unique_keys=["k"],
        partition_by=["src"],
    )


def test_escaped_partition_values_round_trip(spark, tmp_path):
    """Spark percent-escapes some characters in Hive dir names ("a:b" is
    written as ``src=a%3Ab``). Touched partitions are matched to manifest
    entries by UNESCAPED value, so upsert, append and purge all round-trip
    such values, and the purge predicate sees the values, not the escaped
    dir text."""
    storage = ParquetStorage(str(tmp_path))
    schema = _str_part_schema()
    base = spark.createDataFrame(
        [(1, "a:b", "x"), (2, "x/y", "y"), (3, "50%", "z"), (4, "keep", "w")],
        ["k", "src", "v"],
    )
    assert storage.upsert(spark, base, schema) == 4
    upd = spark.createDataFrame([(1, "a:b", "X2"), (5, "x/y", "n")], ["k", "src", "v"])
    assert storage.upsert(spark, upd, schema) == 5
    storage.create_or_append(
        spark.createDataFrame([(6, "a:b", "app")], ["k", "src", "v"]), schema
    )

    def rows() -> set:
        return {(r["k"], r["src"], r["v"]) for r in storage.read(spark, "t").collect()}

    assert rows() == {
        (1, "a:b", "X2"), (2, "x/y", "y"), (3, "50%", "z"),
        (4, "keep", "w"), (5, "x/y", "n"), (6, "a:b", "app"),
    }
    assert set(storage._read_manifest("t")["parts"]) == {
        "src=a%3Ab", "src=x%2Fy", "src=50%25", "src=keep",
    }

    seen: list[str] = []

    def keep(values: dict) -> bool:
        seen.append(values["src"])
        return values["src"] != "50%"

    assert storage.purge_partitions(schema, keep) == [{"src": "50%"}]
    assert sorted(seen) == ["50%", "a:b", "keep", "x/y"]
    assert rows() == {
        (1, "a:b", "X2"), (2, "x/y", "y"), (4, "keep", "w"),
        (5, "x/y", "n"), (6, "a:b", "app"),
    }


def test_swap_delete_empties_partition_directory(spark, tmp_path):
    """Dynamic partition overwrite only replaces partitions PRESENT in the
    written data, so a delete that removes a partition's every row must
    drop that partition from the manifest, or its stale segment would keep
    serving the 'deleted' rows — including for Hive percent-escaped
    partition values (matched on unescaped text), double and timestamp
    values (matched on Spark's own text for them) and a key batch that
    carries only some of the partition columns. A partial delete keeps
    the partition, and deleting every row of every partition commits a
    table that reads as empty."""
    storage = ParquetStorage(str(tmp_path))
    schema = _str_part_schema()

    def parts() -> set:
        return set(storage._read_manifest("t")["parts"])

    base = spark.createDataFrame(
        [(1, "a:b", "x"), (2, "a:b", "y"), (3, "keep", "z")], ["k", "src", "v"]
    )
    assert storage.upsert(spark, base, schema) == 3
    assert parts() == {"src=a%3Ab", "src=keep"}
    gone = spark.createDataFrame([(1, "a:b"), (2, "a:b")], ["k", "src"])
    assert storage.delete_keys(spark, gone, schema) == 1
    assert parts() == {"src=keep"}, (
        "emptied (escaped-name) partition kept serving deleted rows"
    )
    rows = {(r["k"], r["src"]) for r in storage.read(spark, "t").collect()}
    assert rows == {(3, "keep")}
    # partial delete must NOT remove a partition that still has rows
    storage.upsert(spark, base, schema)
    one = spark.createDataFrame([(1, "a:b")], ["k", "src"])
    assert storage.delete_keys(spark, one, schema) == 2
    assert parts() == {"src=a%3Ab", "src=keep"}
    # deleting EVERY row of EVERY partition: the commit succeeds and the
    # count resolves to 0
    rest = spark.createDataFrame([(2, "a:b"), (3, "keep")], ["k", "src"])
    assert storage.delete_keys(spark, rest, schema) == 0
    assert not storage.exists("t")
    # vacuum then sweeps the emptied partitions' segments off disk
    storage.vacuum("t")
    assert not [e for e in os.listdir(storage.path("t")) if e.startswith("seg_")]

    # double and timestamp values whose dir text (Spark's cast) differs
    # from Python's str(): 1.0E20 vs 1e+20, ...00.123 vs ...00.123000;
    # the int key for a double partition is cast to the declared type
    cases = [
        ("double", 1e20, 0.5, 1e20),
        ("timestamp", datetime(2024, 1, 1, 0, 0, 0, 123000), datetime(2024, 1, 2), None),
        ("double", 1.0, 0.5, 1),
    ]
    for i, (typ, hit, other, key_value) in enumerate(cases):
        typed = TableSchema(
            table_name=f"typed{i}",
            columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("p", typ)],
            unique_keys=["k"],
            partition_by=["p"],
        )
        rows_in = spark.createDataFrame([(1, hit), (2, other)], ["k", "p"])
        storage.upsert(spark, rows_in, typed)
        assert len(storage._read_manifest(typed.table_name)["parts"]) == 2
        key = spark.createDataFrame(
            [(1, hit if key_value is None else key_value)], ["k", "p"]
        )
        assert storage.delete_keys(spark, key, typed) == 1
        assert len(storage._read_manifest(typed.table_name)["parts"]) == 1, typ
        assert [r["k"] for r in storage.read(spark, typed.table_name).collect()] == [2]

    # a key batch carrying only the first of two partition columns empties
    # a=1/b=1 and keeps a=1/b=2
    two = TableSchema(
        table_name="two",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("a", "integer"),
            ColumnSpec("b", "integer"),
        ],
        unique_keys=["k"],
        partition_by=["a", "b"],
    )
    storage.upsert(
        spark, spark.createDataFrame([(1, 1, 1), (2, 1, 2), (3, 2, 1)], ["k", "a", "b"]), two
    )
    assert storage.delete_keys(spark, spark.createDataFrame([(1, 1)], ["k", "a"]), two) == 2
    assert set(storage._read_manifest("two")["parts"]) == {"a=1/b=2", "a=2/b=1"}
    assert {r["k"] for r in storage.read(spark, "two").collect()} == {2, 3}


def test_pointer_readers_get_snapshot_isolation(spark, tmp_path):
    """A DataFrame resolved from the manifest BEFORE a rewrite keeps
    reading the OLD segments after the flip, because published segments
    are immutable and survive until vacuum — queries running for minutes
    against a table being upserted see one consistent snapshot."""
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
    storage.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), schema)
    old_reader = storage.read(spark, "t")  # resolves gen-1's segments NOW
    storage.upsert(spark, spark.createDataFrame([(2, "B2"), (3, "c")], ["k", "v"]), schema)
    # new readers see the new commit...
    new_rows = {r["k"]: r["v"] for r in storage.read(spark, "t").collect()}
    assert new_rows == {1: "a", 2: "B2", 3: "c"}
    # ...while the pre-flip reader still scans the gen-1 snapshot intact
    old_rows = {r["k"]: r["v"] for r in old_reader.collect()}
    assert old_rows == {1: "a", 2: "b"}
    # vacuum ends the snapshot's lifetime (documented retention boundary)
    storage.vacuum("t")
    assert {r["k"] for r in storage.read(spark, "t").collect()} == {1, 2, 3}


def test_pointer_empty_string_partition_value_repoints_correctly(spark, tmp_path):
    """Round-13 review: Spark folds BOTH null and '' into the
    __HIVE_DEFAULT_PARTITION__ directory (verified empirically), so
    computing 'col=' for an empty string orphaned the merged slice — the
    upsert silently kept serving old rows. The canonical relpath must
    fold '' the same way Spark does."""
    storage = ParquetStorage(str(tmp_path))
    schema = _str_part_schema()
    base = spark.createDataFrame([(1, "", "a"), (2, "x", "b")], ["k", "src", "v"])
    assert storage.upsert(spark, base, schema) == 2
    upd = spark.createDataFrame([(1, "", "A2")], ["k", "src", "v"])
    assert storage.upsert(spark, upd, schema) == 2
    rows = {r["k"]: r["v"] for r in storage.read(spark, "t").collect()}
    assert rows == {1: "A2", 2: "b"}, "empty-string partition update was lost"


def test_pointer_corrupt_manifest_refuses_instead_of_fresh_start(spark, tmp_path):
    """Round-13 review: a corrupt _current must NOT read as 'never
    committed' — the next append would build a fresh gen-1 manifest that
    orphans every committed segment, and vacuum would then delete them.
    Corruption must raise loudly on every entry point."""
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
    storage.upsert(spark, spark.createDataFrame([(1, "a")], ["k", "v"]), schema)
    with open(storage._manifest_path("t"), "w") as f:
        f.write("{truncated garb")
    with pytest.raises(RuntimeError, match="unreadable"):
        storage.exists("t")
    with pytest.raises(RuntimeError, match="unreadable"):
        storage.create_or_append(
            spark.createDataFrame([(2, "b")], ["k", "v"]), schema
        )
    # the committed segment is still on disk, untouched
    segs = [e for e in os.listdir(storage.path("t")) if e.startswith("seg_")]
    assert segs, "committed segment vanished under a corrupt manifest"


def test_pointer_delete_to_empty_table_reads_typed_empty(spark, tmp_path):
    """A legitimately-committed pointer table whose every partition was
    deleted must stay readable (typed empty frame from the stamped
    schema), not crash after the commit succeeded."""
    storage = ParquetStorage(str(tmp_path))
    schema = _part_schema()
    storage.upsert(
        spark, spark.createDataFrame([(1, 2024, "a")], ["k", "year", "v"]), schema
    )
    gone = spark.createDataFrame([(1, 2024)], ["k", "year"])
    assert storage.delete_keys(spark, gone, schema) == 0  # commit + count work
    empty = storage.read(spark, "t")
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "year", "v"}  # schema survived


def test_heartbeat_zombie_stops_when_token_changes(tmp_path):
    """Round-13 review: a SIGSTOP-resumed zombie's heartbeat must not
    refresh a SUCCESSOR'S owner.json (it could keep a dead successor's
    lock perpetually fresh). The beat verifies the owner token and exits
    on mismatch."""
    storage = ParquetStorage(
        str(tmp_path), lock_timeout=1.0, lock_stale_after=5.0, lock_heartbeat=0.05
    )
    token = storage._acquire_lock("t")
    owner = os.path.join(storage._lock_dir("t"), "owner.json")
    # simulate a takeover: the owner file now carries someone else's token
    with open(owner) as f:
        rec = json.load(f)
    rec["token"] = "successor"
    with open(owner, "w") as f:
        json.dump(rec, f)
    os.utime(owner, (1, 1))  # make staleness observable
    time.sleep(0.4)  # several beat intervals
    age = time.time() - os.stat(owner).st_mtime
    assert age > 1, "zombie heartbeat refreshed the successor's lease"
    storage._stop_heartbeat(token)
    import shutil as _sh

    _sh.rmtree(storage._lock_dir("t"), ignore_errors=True)


def test_heartbeat_survives_transient_utime_failures(tmp_path, monkeypatch):
    """Round-13 review: a single NFS/FUSE blip must not silently kill the
    lease for the rest of a long write — the beat tolerates up to 3
    consecutive misses. Two injected failures, then the lease must still
    be refreshing."""
    import nyc_open_data_pipeline_spark.pipeline.storage  # noqa: F401

    real_utime = os.utime
    fails = {"n": 0}

    def flaky(path, *a, **kw):
        if fails["n"] < 2:
            fails["n"] += 1
            raise OSError("transient blip")
        return real_utime(path, *a, **kw)

    monkeypatch.setattr(os, "utime", flaky)
    storage = ParquetStorage(
        str(tmp_path), lock_stale_after=5.0, lock_heartbeat=0.05
    )
    token = storage._acquire_lock("t")
    owner = os.path.join(storage._lock_dir("t"), "owner.json")
    real_utime(owner, (1, 1))  # age it; only a live heartbeat refreshes it
    time.sleep(0.5)
    age = time.time() - os.stat(owner).st_mtime
    assert age < 0.4, f"lease died on transient misses (age={age})"
    assert fails["n"] == 2
    storage._release_lock("t", token)


def _steal_lock_during_segment_write(monkeypatch, storage):
    """Arrange for the table lock to be stolen WHILE the Spark job writing
    the next segment runs: wrap DataFrameWriter.parquet so that any write
    into a ``seg_`` dir first completes, then has the lock owner token
    swapped — modeling a stale-lock takeover that happens mid-job. The
    write must then FENCE and publish nothing."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def stealing(self, path, *a, **kw):
        out = orig(self, path, *a, **kw)
        if os.path.basename(path).startswith("seg_"):
            owner = os.path.join(storage._lock_dir("t"), "owner.json")
            with open(owner) as f:
                rec = json.load(f)
            rec["token"] = "takeover-winner"
            with open(owner, "w") as f:
                json.dump(rec, f)
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", stealing)


def _winner_releases_and_vacuum_sweeps_orphan(storage) -> None:
    """The takeover winner finishes and releases the lock; the fenced
    writer's segment is an orphan no manifest references, and vacuum
    sweeps it."""
    import shutil

    shutil.rmtree(storage._lock_dir("t"))
    live = {s for segs in storage._read_manifest("t")["parts"].values() for s in segs}
    removed = storage.vacuum("t")
    assert any(os.path.basename(p).startswith("seg_") for p in removed)
    left = {e for e in os.listdir(storage.path("t")) if e.startswith("seg_")}
    assert left == live


def test_append_fences_takeover_during_write_job(spark, tmp_path, monkeypatch):
    """ADVICE r12 #2: create_or_append writes an invisible segment and
    publishes by the post-fence manifest flip, so a stale-lock takeover
    during the (possibly minutes-long) append job leaves the zombie's rows
    UNPUBLISHED."""
    storage = ParquetStorage(str(tmp_path))
    schema = _part_schema()
    storage.create_or_append(
        spark.createDataFrame([(1, 2020, "a")], ["k", "year", "v"]), schema
    )
    _steal_lock_during_segment_write(monkeypatch, storage)
    with pytest.raises(WriterFencedError):
        storage.create_or_append(
            spark.createDataFrame([(2, 2021, "b")], ["k", "year", "v"]), schema
        )
    monkeypatch.undo()
    rows = {tuple(r) for r in storage.read(spark, "t").select("k", "year", "v").collect()}
    assert rows == {(1, 2020, "a")}, "fenced append must publish zero rows"
    assert storage.generation("t") == 1
    _winner_releases_and_vacuum_sweeps_orphan(storage)


def test_upsert_fences_takeover_during_write_job(spark, tmp_path, monkeypatch):
    """Same close for the partition-overwrite path: a takeover during the
    merged-slice segment job fences before the manifest moves — old rows
    keep serving, no half-overwritten table."""
    storage = ParquetStorage(str(tmp_path))
    schema = _part_schema()
    base = spark.createDataFrame(
        [(1, 2020, "a"), (2, 2021, "b")], ["k", "year", "v"]
    )
    assert storage.upsert(spark, base, schema) == 2
    _steal_lock_during_segment_write(monkeypatch, storage)
    with pytest.raises(WriterFencedError):
        storage.upsert(
            spark, spark.createDataFrame([(1, 2020, "CHANGED")], ["k", "year", "v"]), schema
        )
    monkeypatch.undo()
    rows = {tuple(r) for r in storage.read(spark, "t").select("k", "year", "v").collect()}
    assert rows == {(1, 2020, "a"), (2, 2021, "b")}, (
        "fenced overwrite must leave every live partition untouched"
    )
    assert storage.generation("t") == 1
    _winner_releases_and_vacuum_sweeps_orphan(storage)


def test_pointer_read_rejects_uncommitted_table(spark, tmp_path):
    storage = ParquetStorage(str(tmp_path))
    assert not storage.exists("nope")
    with pytest.raises(FileNotFoundError):
        storage.read(spark, "nope")


def _fuzz_schema() -> TableSchema:
    return TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("part", "integer"),
            ColumnSpec("v", "string"),
        ],
        unique_keys=["k"],
        partition_by=["part"],
    )


def _fuzz_upsert_rows(rng, step: int) -> tuple[list, dict]:
    """A random upsert batch and its effect on the dict model. part = k % 3
    keeps a key's partition stable — the documented upsert contract.
    Within-batch dedup keeps the min row per key (the dedup_first
    contract), then incoming wins over stored."""
    rows = [
        (k, k % 3, f"s{step}i{i}")
        for i in range(rng.randrange(1, 5))
        for k in [rng.randrange(12)]
    ]
    batch: dict[int, tuple[int, str]] = {}
    for k, p, v in sorted(rows):
        batch.setdefault(k, (p, v))
    return rows, batch


def _fuzz_append_rows(rng, step: int, first_key: int) -> list:
    """Fresh keys only, so appended rows never collide with upserted ones."""
    return [
        (first_key + i, (first_key + i) % 3, f"a{step}i{i}")
        for i in range(rng.randrange(1, 4))
    ]


def test_differential_fuzz_storage_vs_model(spark, tmp_path):
    """Differential evidence for the table semantics: a seeded random
    program of upserts / appends / deletes / segment compactions / vacuums
    runs against the store, and after EVERY op the full row set must equal
    a plain dict model of latest-wins-by-key plus appended rows."""
    import random

    rng = random.Random(1307)
    schema = _fuzz_schema()
    storage = ParquetStorage(str(tmp_path))
    model: dict[int, tuple[int, str]] = {}
    snapshots: dict[int, set] = {}  # generation -> expected row set
    next_append_key = 1000

    def state() -> set:
        if not storage.exists("t"):
            return set()
        return {(r["k"], r["part"], r["v"]) for r in storage.read(spark, "t").collect()}

    ops = []
    for step in range(16):
        op = rng.choice(["upsert", "upsert", "append", "delete", "compact", "vacuum"])
        if op == "upsert":
            rows, batch = _fuzz_upsert_rows(rng, step)
            storage.upsert(spark, spark.createDataFrame(rows, ["k", "part", "v"]), schema)
            model.update(batch)
        elif op == "append":
            rows = _fuzz_append_rows(rng, step, next_append_key)
            next_append_key += len(rows)
            storage.create_or_append(spark.createDataFrame(rows, ["k", "part", "v"]), schema)
            model.update({k: (p, v) for k, p, v in rows})
        elif op == "delete" and model:
            keys = rng.sample(sorted(model), min(len(model), rng.randrange(1, 3)))
            kdf = spark.createDataFrame([(k, model[k][0]) for k in keys], ["k", "part"])
            storage.delete_keys(spark, kdf, schema)
            for k in keys:
                model.pop(k)
        elif op == "compact":
            storage.compact_segments(spark, schema, max_segments=2)
        elif op == "vacuum":
            storage.vacuum("t")
        ops.append(op)
        want = {(k, p, v) for k, (p, v) in model.items()}
        assert state() == want, f"store diverged from model after {ops}"
        if storage.exists("t"):
            snapshots[storage.generation("t")] = want
    assert ops.count("upsert") >= 4 and {"append", "delete"} <= set(ops), ops
    # time-travel coda: every generation still retained after the random
    # vacuums must read back EXACTLY the model snapshot recorded when that
    # generation was current — history is consistent under the whole op
    # mix (including compactions, which bump the generation without
    # changing visible rows)
    retained = [g for g in storage.history("t") if g in snapshots]
    assert retained, "fuzz never observed a retained generation"
    for g in retained:
        got = {
            (r["k"], r["part"], r["v"])
            for r in storage.read(spark, "t", as_of=g).collect()
        }
        assert got == snapshots[g], f"as_of={g} snapshot diverged after {ops}"


def test_differential_fuzz_publish_fault_injection(spark, tmp_path, monkeypatch):
    """Crash-consistency fuzz for the manifest publish: a seeded random
    program of upserts / appends / deletes runs while, at a seeded rate,
    the segment write job fails (after writing its files) or the
    os.replace of the history file or of ``_current`` fails. Invariants:
    (a) after every injected failure the read state and generation() are
    unchanged, (b) a bounded retry then lands, (c) the store agrees with
    the dict model throughout, (d) no write path renames anything — the
    property that makes the protocol safe where rename is copy+delete —
    and (e) vacuum then removes every orphan segment and tmp file."""
    import random

    from pyspark.sql.readwriter import DataFrameWriter

    fault = random.Random(4113)
    rng = random.Random(2913)
    schema = _fuzz_schema()
    storage = ParquetStorage(str(tmp_path))
    model: dict[int, tuple[int, str]] = {}
    armed = {"on": False}
    fired: dict[str, int] = {}
    real_parquet, real_replace = DataFrameWriter.parquet, os.replace

    def maybe_fail(what: str) -> None:
        if armed["on"] and fault.random() < 0.25:
            fired[what] = fired.get(what, 0) + 1
            raise OSError(f"injected {what} fault")

    def flaky_parquet(self, path, *a, **kw):
        out = real_parquet(self, path, *a, **kw)
        if os.path.basename(path).startswith("seg_"):
            maybe_fail("segment-write")
        return out

    def flaky_replace(src, dst):
        name = os.path.basename(dst)
        if name == ParquetStorage.MANIFEST:
            maybe_fail("current-replace")
        elif name.startswith(ParquetStorage.HISTORY_PREFIX):
            maybe_fail("history-replace")
        return real_replace(src, dst)

    def no_rename(src, dst):
        raise AssertionError(f"a write path renamed {src} -> {dst}")

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky_parquet)
    monkeypatch.setattr(os, "replace", flaky_replace)
    monkeypatch.setattr(os, "rename", no_rename)

    def state() -> set:
        if not storage.exists("t"):
            return set()
        return {(r["k"], r["part"], r["v"]) for r in storage.read(spark, "t").collect()}

    def run_with_faults(op) -> None:
        for attempt in range(8):
            before, gen = state(), storage.generation("t")
            armed["on"] = attempt < 7  # last attempt fault-free: must land
            try:
                op()
                return
            except OSError as e:
                assert "injected" in str(e), e
            finally:
                armed["on"] = False
            assert state() == before, "read state moved after an injected failure"
            assert storage.generation("t") == gen, "generation moved after a failed publish"
        raise AssertionError("unreachable")

    next_append_key = 1000
    ops = []
    for step in range(12):
        kind = rng.choice(["upsert", "upsert", "append", "delete"])
        if kind == "upsert":
            rows, batch = _fuzz_upsert_rows(rng, step)
            df = spark.createDataFrame(rows, ["k", "part", "v"])
            run_with_faults(lambda: storage.upsert(spark, df, schema))
            model.update(batch)
        elif kind == "append":
            rows = _fuzz_append_rows(rng, step, next_append_key)
            next_append_key += len(rows)
            df = spark.createDataFrame(rows, ["k", "part", "v"])
            run_with_faults(lambda: storage.create_or_append(df, schema))
            model.update({k: (p, v) for k, p, v in rows})
        elif kind == "delete" and model:
            keys = rng.sample(sorted(model), min(len(model), rng.randrange(1, 3)))
            kdf = spark.createDataFrame([(k, model[k][0]) for k in keys], ["k", "part"])
            run_with_faults(lambda: storage.delete_keys(spark, kdf, schema))
            for k in keys:
                model.pop(k)
        else:
            continue
        ops.append(kind)
        want = {(k, p, v) for k, (p, v) in model.items()}
        assert state() == want, f"store diverged from model after {ops}"
    assert set(fired) == {"segment-write", "history-replace", "current-replace"}, (
        f"fault schedule exercised only {fired} — raise the rate"
    )

    removed = storage.vacuum("t")
    assert any(os.path.basename(p).startswith("seg_") for p in removed)
    root = storage.path("t")
    live = {s for segs in storage._read_manifest("t")["parts"].values() for s in segs}
    assert {e for e in os.listdir(root) if e.startswith("seg_")} == live
    assert not [e for e in os.listdir(root) if ".tmp_" in e]
    assert state() == {(k, p, v) for k, (p, v) in model.items()}


def test_append_schema_evolution_is_deterministic(spark, tmp_path):
    """Appends across a schema change would read under whichever part
    file's footer Spark happened to pick (UUID file names make the winner
    listing-order random). The manifest stamps the evolved union schema
    and read() applies it explicitly: old rows surface the new column as
    NULL, a NARROWER later append does not shrink the view, the column set
    is stable, and resolving the table launches no schema-inference job."""
    storage = ParquetStorage(str(tmp_path))
    v1 = TableSchema(
        table_name="t",
        columns=[ColumnSpec("k", "integer", primary_key=True), ColumnSpec("v", "string")],
        unique_keys=[],
    )
    v2 = TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("v", "string"),
            ColumnSpec("extra", "string"),
        ],
        unique_keys=[],
    )
    storage.create_or_append(spark.createDataFrame([(1, "a")], ["k", "v"]), v1)
    storage.create_or_append(
        spark.createDataFrame([(2, "b", "x")], ["k", "v", "extra"]), v2
    )
    df = storage.read(spark, "t")
    assert df.columns == ["k", "v", "extra"]
    assert {tuple(r) for r in df.collect()} == {(1, "a", None), (2, "b", "x")}
    # a narrower append after the widening must NOT shrink the view
    storage.create_or_append(spark.createDataFrame([(3, "c")], ["k", "v"]), v1)
    sc = spark.sparkContext
    sc.setJobGroup("storage-read-probe", "storage.read resolves the manifest")
    try:
        df = storage.read(spark, "t")
        assert sc.statusTracker().getJobIdsForGroup("storage-read-probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.columns == ["k", "v", "extra"], "union view survives a narrow append"
    assert {tuple(r) for r in df.collect()} == {
        (1, "a", None), (2, "b", "x"), (3, "c", None),
    }


def test_partitioned_upsert_schema_evolution(spark, tmp_path):
    """The partition-replace publish stamps the evolved schema too: after
    a widened upsert touches ONE partition, the untouched partition's old
    segment still reads under the union schema (new column NULL)."""
    storage = ParquetStorage(str(tmp_path))
    v1 = _part_schema()
    storage.upsert(
        spark,
        spark.createDataFrame([(1, 2020, "a"), (2, 2021, "b")], ["k", "year", "v"]),
        v1,
    )
    v2 = TableSchema(
        table_name="t",
        columns=[
            ColumnSpec("k", "integer", primary_key=True),
            ColumnSpec("year", "integer"),
            ColumnSpec("v", "string"),
            ColumnSpec("extra", "string"),
        ],
        unique_keys=["k"],
        partition_by=["year"],
    )
    storage.upsert(
        spark,
        spark.createDataFrame([(1, 2020, "A2", "x")], ["k", "year", "v", "extra"]),
        v2,
    )
    got = {
        r["k"]: (r["year"], r["v"], r["extra"])
        for r in storage.read(spark, "t").collect()
    }
    assert got == {1: (2020, "A2", "x"), 2: (2021, "b", None)}


def test_pointer_time_travel_and_rollback(spark, tmp_path):
    """Every manifest flip persists an immutable per-generation history
    file; segments are immutable until vacuum, so retained generations
    read as consistent snapshots (read(as_of=gen)), rollback republishes
    an old generation's pointer map as a NEW generation without copying
    data, and crash orphans above the current generation are refused."""
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
    storage.upsert(spark, spark.createDataFrame([(1, "a")], ["k", "v"]), schema)
    storage.upsert(spark, spark.createDataFrame([(2, "b")], ["k", "v"]), schema)
    storage.upsert(spark, spark.createDataFrame([(1, "A")], ["k", "v"]), schema)
    assert storage.history("t") == [1, 2, 3]

    def snap(as_of=None):
        return {
            (r["k"], r["v"]) for r in storage.read(spark, "t", as_of=as_of).collect()
        }

    assert snap(1) == {(1, "a")}
    assert snap(2) == {(1, "a"), (2, "b")}
    assert snap(3) == snap() == {(1, "A"), (2, "b")}
    with pytest.raises(ValueError, match="above the current"):
        snap(4)

    assert storage.rollback("t", to_gen=1) == 4
    assert snap() == {(1, "a")}, "rollback restores the old snapshot"
    assert snap(3) == {(1, "A"), (2, "b")}, "pre-rollback state stays retained"
    assert storage.generation("t") == 4
    # writes continue normally on top of the rolled-back state
    storage.upsert(spark, spark.createDataFrame([(3, "c")], ["k", "v"]), schema)
    assert snap() == {(1, "a"), (3, "c")}

    # rows held inline in the manifest (the metadata table) roll back too
    storage.update_metadata(spark, "a", "t", 1)
    storage.update_metadata(spark, "b", "t", 2)
    meta = storage.META_TABLE
    ids = lambda as_of=None: sorted(  # noqa: E731
        r["dataset_id"] for r in storage.read(spark, meta, as_of=as_of).collect()
    )
    gen = storage.generation(meta)
    assert ids(gen - 1) == ["a"]
    storage.rollback(meta, gen - 1)
    assert ids() == ["a"]


def test_pointer_vacuum_retention_bounds_time_travel(spark, tmp_path):
    """vacuum(retain_generations=K) keeps the last K prior generations
    time-travelable (their manifests AND the segments they reference);
    everything older is pruned and its exclusive segments swept; default
    K=0 collapses to the current snapshot only."""
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
    for step in range(3):
        storage.upsert(
            spark, spark.createDataFrame([(step, f"v{step}")], ["k", "v"]), schema
        )
    assert storage.history("t") == [1, 2, 3]

    storage.vacuum("t", retain_generations=1)
    assert storage.history("t") == [2, 3]
    assert {
        (r["k"], r["v"]) for r in storage.read(spark, "t", as_of=2).collect()
    } == {(0, "v0"), (1, "v1")}
    with pytest.raises(ValueError, match="not retained"):
        storage.read(spark, "t", as_of=1)

    storage.vacuum("t")  # default: current snapshot only
    assert storage.history("t") == [3]
    with pytest.raises(ValueError, match="not retained"):
        storage.read(spark, "t", as_of=2)
    # the live table is untouched by retention pruning
    assert {
        (r["k"], r["v"]) for r in storage.read(spark, "t").collect()
    } == {(0, "v0"), (1, "v1"), (2, "v2")}


def test_pointer_diff_generations_change_feed(spark, tmp_path):
    """diff_generations = the storage-level change feed over time-travel
    snapshots: keyed mode classifies insert / update_post / delete with
    NULL-proof presence markers and null-safe change detection; keyless
    mode pairs changes as delete + insert via exceptAll."""
    storage = ParquetStorage(str(tmp_path))
    schema = _kv_schema()
    storage.upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], ["k", "v"]),
        schema,
    )  # gen 1
    storage.upsert(
        spark, spark.createDataFrame([(2, "B2"), (4, "d")], ["k", "v"]), schema
    )  # gen 2
    storage.delete_keys(spark, spark.createDataFrame([(1,)], ["k"]), schema)  # gen 3

    feed = {
        (r["k"], r["v"], r["_change_type"])
        for r in storage.diff_generations(spark, "t", 1, 3, keys=["k"]).collect()
    }
    assert feed == {
        (1, "a", "delete"),
        (2, "B2", "update_post"),
        (4, "d", "insert"),
    }, "key 3's NULL value is unchanged and must not appear"

    # adjacent generations; to_gen defaults to current
    assert {
        (r["k"], r["_change_type"])
        for r in storage.diff_generations(spark, "t", 2, keys=["k"]).collect()
    } == {(1, "delete")}

    # keyless mode: an update pairs as delete + insert
    keyless = {
        (r["k"], r["v"], r["_change_type"])
        for r in storage.diff_generations(spark, "t", 1, 2).collect()
    }
    assert keyless == {
        (2, "b", "delete"),
        (2, "B2", "insert"),
        (4, "d", "insert"),
    }


def test_count_reads_footers_not_data(spark, tmp_path, monkeypatch):
    """upsert/delete return counts; at 100 TB a scan-based count would be
    a full table read per write. _count must resolve from parquet footer
    metadata of the LIVE files only: exact with escaped partitions and with
    superseded segments still on disk until vacuum, and proven scan-free
    by making read() explode."""
    storage = ParquetStorage(str(tmp_path))
    schema = _str_part_schema()
    base = spark.createDataFrame(
        [(1, "a:b", "x"), (2, "a:b", "y"), (3, "keep", "z")], ["k", "src", "v"]
    )
    assert storage.upsert(spark, base, schema) == 3
    assert storage.upsert(
        spark, spark.createDataFrame([(1, "a:b", "X2")], ["k", "src", "v"]), schema
    ) == 3
    assert storage.delete_keys(
        spark, spark.createDataFrame([(2, "a:b")], ["k", "src"]), schema
    ) == 2

    def boom(*a, **kw):
        raise AssertionError("_count must not scan via read()")

    monkeypatch.setattr(ParquetStorage, "read", boom)
    assert storage._count(spark, "t") == 2
