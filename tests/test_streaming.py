"""Streaming: batch/stream parity for windows + custom stateful operator."""

from __future__ import annotations

import shutil

import pytest

from nyc_open_data_pipeline_spark.plans import all_queries
from nyc_open_data_pipeline_spark.streaming.stateful import user_profile_stream
from nyc_open_data_pipeline_spark.streaming.windows import (
    events_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)


def _read(spark, table_dir):
    """The committed rows of the sink table at ``table_dir``."""
    from nyc_open_data_pipeline_spark.pipeline.storage import table_at

    storage, table = table_at(table_dir)
    return storage.read(spark, table)


def _ids(spark, table_dir):
    return [r["doc_id"] for r in _read(spark, table_dir).collect()]


def _segments(table_dir):
    """The segments the table's current manifest lists (unpartitioned)."""
    from nyc_open_data_pipeline_spark.pipeline.storage import table_at

    storage, table = table_at(table_dir)
    return storage._read_manifest(table)["parts"].get("", [])


def _crash_next_flip(monkeypatch, table_dir):
    """Make the next ``_current`` flip of the table at ``table_dir`` raise
    once: a crash at the commit point, after the segment is written."""
    import os

    real = os.replace
    target = os.path.join(table_dir, "_current")
    armed = [True]

    def replace(src, dst):
        if armed[0] and os.fspath(dst) == target:
            armed[0] = False
            raise OSError("injected crash at the manifest flip")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory, sf_dir):
    """Re-materialize events as micros-timestamp parquet (the raw testdata
    uses TIMESTAMP(NANOS), which streaming readers can't consume directly)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(d)
    from nyc_open_data_pipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "events").write.parquet(d)
    return d


def test_tumbling_stream_matches_batch(spark, sf_dir, stream_dir):
    stream = events_stream(spark, path=stream_dir)
    assert stream.isStreaming
    run_to_memory(tumbling_counts(stream), "tumbling_t", mode="complete")
    got = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in spark.table("tumbling_t").collect()
    }
    want = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in all_queries()["e1_tumbling_window"].fn(spark, sf_dir).collect()
    }
    assert got == want  # stream == batch for on-time data


def test_session_stream_matches_batch(spark, sf_dir, stream_dir):
    stream = events_stream(spark, path=stream_dir)
    run_to_memory(session_counts(stream), "session_t", mode="complete")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table("session_t").collect()
    }
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in all_queries()["e3_session_window"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_replay_chunks_are_ordered_micro_batches(spark, tmp_path):
    """write_stream_chunks + maxFilesPerTrigger=1 must replay chunks as
    micro-batches in chunk order — every streaming oracle depends on it."""
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks

    d = str(tmp_path / "chunks")
    dfs = [spark.range(i * 10, i * 10 + 5).selectExpr("id AS v") for i in range(3)]
    write_stream_chunks(dfs, d)
    stream = (
        spark.readStream.schema("v long").option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("replay_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3  # one micro-batch per chunk
    # chunk order == mtime order: re-running with the dedup sink in
    # test_incremental_dedup_stream_state asserts content-order effects


def test_incremental_dedup_stream_state(spark, tmp_path):
    """A hash seen in batch 0 must be anti-joined away in batch 1, and
    within-batch duplicates must collapse to the min doc_id."""
    import os

    from nyc_open_data_pipeline_spark.streaming.dedup import run_incremental_dedup
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks

    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma")], "doc_id long, text string"
    )
    d = str(tmp_path / "in")
    write_stream_chunks([b0, b1], d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = str(tmp_path / "out")
    run_incremental_dedup(spark, stream, out)
    got = set(_ids(spark, out))
    # alpha -> 1 (2 collapsed within batch), beta -> 3 (10 dropped by state),
    # gamma -> 11 (12 collapsed within batch)
    assert got == {1, 3, 11}
    assert os.path.isfile(os.path.join(out, "_current"))


def test_watermark_drops_late_rows(spark, sf_dir):
    """st5's premise: the three-batch replay must actually drop late rows
    (not vacuously equal the no-watermark batch answer)."""
    from nyc_open_data_pipeline_spark.plans import all_queries

    qs = all_queries()
    emitted = qs["st5_stream_late_data"].fn(spark, sf_dir).collect()
    full = {
        r["window_start"]: r["n_events"]
        for r in qs["e1_tumbling_window"].fn(spark, sf_dir).collect()
    }
    dropped = sum(
        full[r["window_start"]] - r["n_events"]
        for r in emitted
        if r["window_start"] in full
    )
    assert dropped > 0  # late rows were really filtered
    assert len(emitted) < len(full)  # open windows not emitted in append mode


def test_stateful_user_profile(spark, sf_dir, stream_dir):
    from nyc_open_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    stream = events_stream(spark, path=stream_dir)
    run_to_memory(user_profile_stream(stream), "profiles_t", mode="update")
    got = {r["user_id"]: r for r in spark.table("profiles_t").collect()}

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("ts").alias("last_ts"))
        .collect()
    )
    for row in batch:
        g = got[row["user_id"]]
        assert g["n_events"] == row["n"]
        assert g["last_ts"] == row["last_ts"]


def test_funnel_state_machine_handles_late_view(spark, tmp_path):
    """A 'view' that arrives in a LATER micro-batch than the click/purchase
    it unlocks must still complete the funnel — the state machine retains
    step timestamps, so reached is recomputed, not greedily latched."""
    from datetime import datetime

    from pyspark.sql import functions as F
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks
    from nyc_open_data_pipeline_spark.streaming.stateful import funnel_stream
    from nyc_open_data_pipeline_spark.streaming.windows import events_stream, run_to_memory

    rows = [
        # user 1: click+purchase arrive in batch 0, the UNLOCKING view in batch 1
        (10, "2024-01-01 01:00:00", 1, "click", 0.0, "{}", 0),
        (11, "2024-01-01 02:00:00", 1, "purchase", 0.0, "{}", 0),
        (12, "2024-01-01 00:30:00", 1, "view", 0.0, "{}", 1),
        # user 2: view only -> reached 1
        (20, "2024-01-01 00:00:00", 2, "view", 0.0, "{}", 0),
        # user 3: purchase BEFORE click (never valid) -> reached 2
        (30, "2024-01-01 00:00:00", 3, "view", 0.0, "{}", 0),
        (31, "2024-01-01 02:00:00", 3, "click", 0.0, "{}", 1),
        (32, "2024-01-01 01:00:00", 3, "purchase", 0.0, "{}", 1),
    ]
    df = spark.createDataFrame(
        [(e, datetime.fromisoformat(ts), u, t, v, p, b) for e, ts, u, t, v, p, b in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, batch int",
    )
    d = str(tmp_path / "funnel_stream")
    write_stream_chunks(
        [df.filter(F.col("batch") == k).drop("batch") for k in range(2)], d
    )
    name = "funnel_oor_test"
    run_to_memory(
        funnel_stream(events_stream(spark, path=d, maxFilesPerTrigger=1)),
        name,
        mode="update",
    )
    final = {
        r["user_id"]: r["reached"]
        for r in spark.table(name)
        .groupBy("user_id")
        .agg(F.max_by("reached", "n_seen").alias("reached"))
        .collect()
    }
    assert final == {1: 3, 2: 1, 3: 2}


def test_event_time_ttl_evicts_idle_state(spark, tmp_path):
    """Bounded state: a user idle past the TTL (event time, watermark-driven)
    gets their state evicted (tombstone n_events=-1) and restarts from zero
    on return — state size tracks LIVE users, the 100 TB/day requirement."""
    from datetime import datetime

    from pyspark.sql import functions as F
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks
    from nyc_open_data_pipeline_spark.streaming.stateful import profile_stream_with_ttl
    from nyc_open_data_pipeline_spark.streaming.windows import events_stream, run_to_memory

    sch = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    batches = [
        [(1, datetime(2024, 1, 1, 0, 0), 1, "view", 0.0, "{}")],
        [(2, datetime(2024, 1, 1, 5, 0), 2, "view", 0.0, "{}")],  # watermark +5h
        [(3, datetime(2024, 1, 1, 6, 0), 2, "view", 0.0, "{}")],
        [(4, datetime(2024, 1, 1, 6, 30), 1, "view", 0.0, "{}")],  # user1 returns
    ]
    d = str(tmp_path / "ttl_stream")
    write_stream_chunks([spark.createDataFrame(b, sch) for b in batches], d)
    run_to_memory(
        profile_stream_with_ttl(
            events_stream(spark, path=d, maxFilesPerTrigger=1), ttl_ms=3_600_000
        ),
        "ttl_evict_test",
        mode="update",
    )
    rows = [
        (r["user_id"], r["n_events"])
        for r in spark.table("ttl_evict_test").orderBy("user_id", "n_events").collect()
    ]
    # user1: initial profile, tombstone after idle > 1h, fresh restart at 1
    assert rows.count((1, -1)) == 1
    assert rows.count((1, 1)) == 2  # original n=1 and restarted n=1
    # user2 stayed live: 1 then 2, never evicted
    assert (2, 1) in rows and (2, 2) in rows and (2, -1) not in rows


def test_incremental_dedup_sink_batch_replay_is_noop(spark, tmp_path):
    """Checkpoint recovery re-delivers the last uncommitted batch; the batch
    id the manifest recorded must make an already-applied replay a no-op
    (without it the replay would double-append survivors)."""
    import os

    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id long, text string")
    sink(b0, 0)
    assert set(_ids(spark, out)) == {1, 2}
    listing = sorted(os.listdir(out))
    # crash-after-commit replay: same batch id delivered again
    sink(b0, 0)
    assert len(_ids(spark, out)) == 2  # no double-append
    assert sorted(os.listdir(out)) == listing  # nothing written or published
    # a NEW batch id with overlapping content still dedups via state
    b1 = spark.createDataFrame([(5, "alpha"), (6, "delta")], "doc_id long, text string")
    sink(b1, 1)
    assert set(_ids(spark, out)) == {1, 2, 6}


def test_incremental_dedup_empty_batches_leave_no_segment(spark, tmp_path):
    """A batch whose rows are all seen publishes its batch id but no
    segment: Spark writes a zero-row part file for an empty frame, and a
    manifest that referenced it cost every later seen-set read one more
    scan. ``vacuum`` then sweeps the unreferenced segment dirs."""
    import os

    from nyc_open_data_pipeline_spark.pipeline.storage import table_at
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    for b in range(4):
        sink(spark.createDataFrame([(b, "same text")], "doc_id long, text string"), b)
    assert _ids(spark, out) == [0]
    assert len(_segments(out)) == 1
    storage, table = table_at(out)
    assert storage.committed_batch(table) == 3

    def seg_dirs():
        return {e for e in os.listdir(out) if e.startswith("seg_")}

    assert len(seg_dirs()) == 4
    storage.vacuum(table)
    assert seg_dirs() == set(_segments(out))


def test_cached_fixture_builds_once_per_session(spark, sf_dir):
    """The stream-input 'topic' is scaffolding: the same (sf_dir, tag) must
    reuse one directory, and distinct tags must not collide."""
    from nyc_open_data_pipeline_spark.streaming.windows import cached_fixture

    calls = []

    def build(p):
        calls.append(p)

    d1 = cached_fixture(spark, sf_dir, "ut_fixture", build)
    d2 = cached_fixture(spark, sf_dir, "ut_fixture", build)
    d3 = cached_fixture(spark, sf_dir, "ut_fixture_other", build)
    assert d1 == d2 and len(calls) == 2  # one build per tag
    assert d3 != d1


def test_run_to_memory_restores_shuffle_partitions(spark, sf_dir):
    """The streaming state-partition override must never leak into the
    session's batch conf after the query finishes."""
    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
        tumbling_counts,
    )
    from nyc_open_data_pipeline_spark.plans.common import t

    before = spark.conf.get("spark.sql.shuffle.partitions")
    d = cached_fixture(
        spark, sf_dir, "evfull",
        lambda p: t(spark, sf_dir, "events").write.mode("overwrite").parquet(p),
    )
    run_to_memory(
        tumbling_counts(events_stream(spark, path=d)),
        "ut_conf_restore",
        mode="complete",
        shuffle_partitions=4,
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_interval_join_state_evicts_after_watermark(spark, tmp_path):
    """st9's premise made measurable: the stream-stream interval join must
    DROP buffered rows once the watermark passes the interval end — state
    tracks the active window, not history. Feed three day-apart batches and
    assert the state store reports removals and ends below total input."""
    from datetime import datetime

    from pyspark.sql import functions as F
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks
    from nyc_open_data_pipeline_spark.streaming.windows import (
        events_stream,
        run_to_memory,
    )

    sch = "event_id long, ts timestamp, user_id long, event_type string"
    def mk(rows):
        return spark.createDataFrame(
            [(e, datetime.fromisoformat(ts), u, k) for e, ts, u, k in rows], sch
        )

    batches = [
        mk([(1, "2024-01-01 00:00:00", 1, "view"),
            (2, "2024-01-01 00:30:00", 1, "purchase")]),
        mk([(3, "2024-01-02 00:00:00", 1, "view"),
            (4, "2024-01-02 00:20:00", 1, "purchase")]),
        mk([(5, "2024-01-03 00:00:00", 1, "view"),
            (6, "2024-01-03 00:10:00", 1, "purchase")]),
    ]
    d = str(tmp_path / "ssj_in")
    write_stream_chunks(batches, d)

    def side(kind: str, prefix: str):
        return (
            events_stream(spark, schema=sch, path=d, maxFilesPerTrigger=1)
            .filter(F.col("event_type") == kind)
            .withWatermark("ts", "10 minutes")
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    joined = side("view", "v").join(
        side("purchase", "p"),
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("interval 1 hour")),
    )
    q = run_to_memory(joined, "ssj_state_test", mode="append")
    progs = [p for p in q.recentProgress if p["stateOperators"]]
    assert progs, "no state-operator progress recorded"
    removed = sum(
        op.get("numRowsRemoved", 0) for p in progs for op in p["stateOperators"]
    )
    final_total = sum(op["numRowsTotal"] for op in progs[-1]["stateOperators"])
    assert removed > 0  # watermark passage really evicted buffered rows
    assert final_total < 6  # 6 events fed; closed-interval rows are gone
    # and the join still answered: one pair per day
    assert spark.table("ssj_state_test").count() == 3


def test_session_state_drops_closed_sessions(spark, tmp_path):
    """st10's premise made measurable: in append mode, a session whose gap
    has passed the watermark is emitted once and its merge state dropped —
    state is bounded by OPEN sessions. (st10 itself runs complete mode as
    an oracle fixture; production session rollups run append/update, which
    is what this pins.)"""
    from datetime import datetime

    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks
    from nyc_open_data_pipeline_spark.streaming.windows import (
        events_stream,
        run_to_memory,
        session_counts,
    )

    sch = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    def day(n, eid):
        return [
            (eid, datetime(2024, 1, n, 0, 0), 1, "view", 1.0, "{}"),
            (eid + 1, datetime(2024, 1, n, 0, 10), 1, "view", 1.0, "{}"),
        ]

    batches = [
        spark.createDataFrame(day(1, 10), sch),
        spark.createDataFrame(day(2, 20), sch),
        spark.createDataFrame(day(3, 30), sch),
    ]
    d = str(tmp_path / "sess_in")
    write_stream_chunks(batches, d)
    q = run_to_memory(
        session_counts(
            events_stream(spark, path=d, maxFilesPerTrigger=1),
            gap="30 minutes",
            watermark="1 hour",
        ),
        "sess_state_test",
        mode="append",
    )
    progs = [p for p in q.recentProgress if p["stateOperators"]]
    assert progs, "no state-operator progress recorded"
    removed = sum(
        op.get("numRowsRemoved", 0) for p in progs for op in p["stateOperators"]
    )
    final_total = sum(op["numRowsTotal"] for op in progs[-1]["stateOperators"])
    assert removed > 0  # closed sessions were dropped from the state store
    assert final_total <= 1  # at most the still-open day-3 session remains
    # append emitted exactly the two closed sessions (day 3 still open)
    rows = spark.table("sess_state_test").collect()
    assert len(rows) == 2
    assert all(r["n_events"] == 2 for r in rows)


def test_transform_with_state_gate_or_parity(spark, sf_dir, stream_dir):
    """transformWithStateInPandas needs google-protobuf (its Python worker
    talks to the state server over protobuf). Without it the operator must
    refuse loudly at CONSTRUCTION time — never crash mid-stream; with it,
    the final state must equal the batch GROUP BY."""
    from pyspark.sql import functions as F
    from nyc_open_data_pipeline_spark.streaming.stateful import (
        user_type_diversity_stream,
    )

    try:
        import google.protobuf  # noqa: F401
        has_protobuf = True
    except ImportError:
        has_protobuf = False

    stream = events_stream(spark, path=stream_dir)
    if not has_protobuf:
        with pytest.raises(NotImplementedError, match="protobuf"):
            user_type_diversity_stream(stream)
        return

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_to_memory(user_type_diversity_stream(stream), "tws_parity", mode="update")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {
        r["user_id"]: (r["n_events"], r["n_event_types"])
        for r in spark.table("tws_parity")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_event_types").alias("n_event_types"),
        )
        .collect()
    }
    from nyc_open_data_pipeline_spark.catalog import load_table

    exp = {
        r["user_id"]: (r["n"], r["nt"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.countDistinct("event_type").alias("nt"))
        .collect()
    }
    assert got == exp


def test_incremental_neardup_stream_state(spark, tmp_path):
    """Band keys seen in batch 0 must drop colliding docs in batch 1,
    within-batch collisions must keep the min doc_id, and shingle-less
    (short) docs must be out of scope entirely."""
    from nyc_open_data_pipeline_spark.streaming.dedup import run_incremental_neardup
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different words appear in this other document body text"
    c = "a third unrelated passage about spark shuffles and parquet footers"
    b0 = spark.createDataFrame(
        [(1, a), (2, a), (3, b), (4, "hi")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(10, a), (11, c), (12, c)], "doc_id long, text string"
    )
    d = str(tmp_path / "in")
    write_stream_chunks([b0, b1], d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    run_incremental_neardup(spark, stream, out, state)
    got = set(_ids(spark, out))
    # a -> 1 (2 within-batch, 10 by state), b -> 3, c -> 11 (12 within-batch);
    # 4 is too short to shingle -> no band keys -> out of scope
    assert got == {1, 3, 11}


def test_incremental_neardup_sink_batch_replay_is_noop(spark, tmp_path):
    """Batch-token parity with the exact-hash sink: an already-applied
    batch id replays as a no-op; a new batch id still filters via state."""
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_neardup_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different words appear in this other document body text"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = incremental_neardup_sink(spark, out, state)
    b0 = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    sink(b0, 0)
    assert set(_ids(spark, out)) == {1, 2}
    sink(b0, 0)  # crash-after-commit replay
    assert len(_ids(spark, out)) == 2
    b1 = spark.createDataFrame(
        [(5, a), (6, "a third unrelated passage about spark shuffles here")],
        "doc_id long, text string",
    )
    sink(b1, 1)
    assert set(_ids(spark, out)) == {1, 2, 6}


def test_stream_incremental_neardup_equals_batch_greedy(spark, sf_dir):
    """st11's replayed answer must equal the batch greedy-first-seen answer
    computed directly over the full table (the stream==batch contract the
    oracle encodes): accept a doc iff every band key's corpus-wide MIN
    doc_id is itself."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.catalog import load_table
    from nyc_open_data_pipeline_spark.operators.dedup import band_keys
    from nyc_open_data_pipeline_spark.plans import all_queries

    got = {
        r["doc_id"]
        for r in all_queries()["st11_stream_incremental_neardup"]
        .fn(spark, sf_dir)
        .collect()
    }
    bk = (
        band_keys(load_table(spark, sf_dir, "documents"))
        .filter(F.length("band_key") > 0)
        .withColumnRenamed("id", "doc_id")
    )
    firsts = bk.groupBy("band", "band_key").agg(F.min("doc_id").alias("first_id"))
    exp = {
        r["doc_id"]
        for r in bk.join(firsts, ["band", "band_key"])
        .groupBy("doc_id")
        .agg(F.max((F.col("first_id") < F.col("doc_id")).cast("int")).alias("d"))
        .filter(F.col("d") == 0)
        .collect()
    }
    assert got == exp and len(got) > 0


def test_incremental_dedup_sink_crash_before_marker_replay(spark, tmp_path, monkeypatch):
    """A crash AFTER the batch's segment write but IN the manifest flip
    replays the batch with the recorded id un-advanced: the crashed
    segment must stay invisible (no double rows) and the replay must
    anti-join against exactly the pre-batch seen-set."""
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    sink(b0, 0)
    b1 = spark.createDataFrame(
        [(5, "alpha"), (6, "delta")], "doc_id long, text string"
    )
    _crash_next_flip(monkeypatch, out)
    with pytest.raises(OSError, match="injected"):
        sink(b1, 1)
    assert set(_ids(spark, out)) == {1, 2}  # the crashed batch is invisible
    sink(b1, 1)  # checkpoint replay
    assert set(_ids(spark, out)) == {1, 2, 6}
    assert len(_ids(spark, out)) == 3  # no double-append


def test_incremental_neardup_sink_crash_before_marker_replay(spark, tmp_path, monkeypatch):
    """Crash BETWEEN the state flip and the output flip of the band-key
    sink: the replay must skip the already-published state write, and its
    ``batch < id`` seen-set read must keep the batch's own published keys
    from dropping its own survivors."""
    from nyc_open_data_pipeline_spark.pipeline.storage import table_at
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_neardup_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different words appear in this other document body text"
    c = "a third unrelated passage about spark shuffles and parquet footers"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = incremental_neardup_sink(spark, out, state)
    sink(spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string"), 0)
    b1 = spark.createDataFrame([(5, a), (6, c)], "doc_id long, text string")
    _crash_next_flip(monkeypatch, out)
    with pytest.raises(OSError, match="injected"):
        sink(b1, 1)
    st, name = table_at(state)
    assert st.committed_batch(name) == 1  # state landed, output did not
    n_keys = _read(spark, state).count()
    sink(b1, 1)  # checkpoint replay
    assert set(_ids(spark, out)) == {1, 2, 6}
    assert len(_ids(spark, out)) == 3
    assert _read(spark, state).count() == n_keys  # state written once


def test_incremental_substring_sink_crash_before_marker_replay(spark, tmp_path, monkeypatch):
    """Crash between the state flip and the output flip of the gram-state
    substring sink: the replay must not double-append spans, and the
    ``batch < id`` seen-set read must keep the batch's own published gram
    keys out of its replayed seen-set (which would otherwise mark EVERY
    window of the batch as duplicated)."""
    from nyc_open_data_pipeline_spark.streaming.dedup import (
        incremental_substring_sink,
    )

    # 12-token texts: one 10-token window per doc at offset 1..3
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    other = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = incremental_substring_sink(spark, out, state)
    sink(spark.createDataFrame([(1, base)], "doc_id long, text string"), 0)
    b1 = spark.createDataFrame(
        [(5, base), (6, other)], "doc_id long, text string"
    )
    _crash_next_flip(monkeypatch, out)
    with pytest.raises(OSError, match="injected"):
        sink(b1, 1)
    sink(b1, 1)  # replay after the crash between the two flips
    rows = _read(spark, out).collect()
    # doc 5 repeats doc 1's text -> one maximal span covering tokens 1..12;
    # docs 1 and 6 are first occurrences -> no spans
    assert [(r["doc_id"], r["start_pos"], r["end_pos"], r["span_len"]) for r in rows] == [
        (5, 1, 12, 12)
    ]


def test_incremental_substring_within_batch_keep_first(spark, tmp_path):
    """Within one micro-batch, only the LOWER doc_id is the keeper: the
    higher id's windows are duplicated spans even with empty prior state."""
    from nyc_open_data_pipeline_spark.streaming.dedup import (
        incremental_substring_sink,
    )

    text = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = incremental_substring_sink(spark, out, state)
    sink(
        spark.createDataFrame(
            [(3, text), (9, text)], "doc_id long, text string"
        ),
        0,
    )
    rows = _read(spark, out).collect()
    assert [(r["doc_id"], r["start_pos"], r["end_pos"], r["span_len"]) for r in rows] == [
        (9, 1, 10, 10)
    ]


def test_incremental_substring_keep_first_join_is_shuffled(spark, tmp_path):
    """The within-batch keep-first join must execute as a SHUFFLED hash
    join with the aggregated mins as build side (round 10): a broadcast
    here would be Catalyst's expansion-blind static estimate shipping the
    posexploded grams side (the d26 sf100 killer), and the round-9
    window-min alternative serializes a batch-wide hot gram into one
    task. The shuffle_hash hint is the pin; this test keeps it pinned."""
    from nyc_open_data_pipeline_spark.streaming.dedup import (
        incremental_substring_sink,
    )
    from nyc_open_data_pipeline_spark.streaming.windows import (
        drain_stream_plans,
    )

    drain_stream_plans()
    text = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = incremental_substring_sink(spark, out, state)
    sink(
        spark.createDataFrame(
            [(1, text), (2, text)], "doc_id long, text string"
        ),
        0,
    )
    recorded = drain_stream_plans()
    assert recorded, "batch plan was not recorded"
    plans = [p for name, p in recorded if "incremental_substring" in name]
    assert plans, f"no substring batch plan among {[n for n, _ in recorded]}"
    assert any("ShuffledHashJoin" in p for p in plans), (
        "keep-first join is not a shuffled hash join"
    )


def _compact(spark, table_dir, max_segments=1):
    from nyc_open_data_pipeline_spark.pipeline.schema import TableSchema
    from nyc_open_data_pipeline_spark.pipeline.storage import table_at

    storage, table = table_at(table_dir)
    return storage.compact_segments(spark, TableSchema(table), max_segments)


def test_compact_state_preserves_survivors_and_bounds_files(spark, tmp_path):
    """Drive 10 micro-batches through the exact-hash sink twice — once
    untouched, once with compaction interleaved mid-stream — and prove
    (a) identical survivors, (b) the compacted table's segment count is
    bounded by (uncompacted batches + 1), not by total batches processed."""
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    # 10 batches; text j of batch i duplicates batch i-2's text j for even j
    def batch(i):
        rows = []
        for j in range(4):
            txt = f"doc {i - 2 if (j % 2 == 0 and i >= 2) else i} payload {j}"
            rows.append((i * 100 + j, txt))
        return spark.createDataFrame(rows, "doc_id long, text string")

    out_a = str(tmp_path / "out_a")
    sink_a = incremental_dedup_sink(spark, out_a)
    for i in range(10):
        sink_a(batch(i), i)

    out_b = str(tmp_path / "out_b")
    sink_b = incremental_dedup_sink(spark, out_b)
    for i in range(10):
        sink_b(batch(i), i)
        if i in (4, 7):  # compact mid-stream, between batches
            assert _compact(spark, out_b) == {"": {4: 5, 7: 4}[i]}

    assert set(_ids(spark, out_b)) == set(_ids(spark, out_a))
    assert len(_ids(spark, out_b)) == len(_ids(spark, out_a)) > 0
    hashes = lambda p: {  # noqa: E731
        r["content_hash"] for r in _read(spark, p).collect()
    }
    assert hashes(out_b) == hashes(out_a)
    # bounded: batches 0..7 folded into one segment, 8..9 still their own
    assert len(_segments(out_b)) == 3
    assert len(_segments(out_a)) == 10


def test_compact_state_then_crash_replay_overwrites_own_partition(spark, tmp_path, monkeypatch):
    """A checkpoint replay AFTER compaction must behave exactly as before:
    the replayed batch publishes only its OWN segment and anti-joins
    against exactly the pre-batch state, so survivors match the
    never-crashed run and the compacted segment is untouched."""
    import os

    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    texts = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    for i in range(8):
        sink(
            spark.createDataFrame(
                [(i * 10, texts[i]), (i * 10 + 1, texts[max(0, i - 1)])],
                "doc_id long, text string",
            ),
            i,
        )
    assert _compact(spark, out) == {"": 8}
    [merged] = _segments(out)
    merged_files = sorted(os.listdir(os.path.join(out, merged)))

    # batch 8: one dup of batch 7's text, one new text
    b8 = spark.createDataFrame(
        [(80, texts[7]), (81, "iota")], "doc_id long, text string"
    )
    _crash_next_flip(monkeypatch, out)
    with pytest.raises(OSError, match="injected"):
        sink(b8, 8)
    sink(b8, 8)  # replay

    assert _segments(out)[0] == merged  # compacted segment still listed
    assert sorted(os.listdir(os.path.join(out, merged))) == merged_files
    got = set(_ids(spark, out))
    # per batch i: doc i*10 survives (new text), i*10+1 is a dup of batch
    # i-1's text except batch 0 where both rows are 'alpha' (within-batch
    # collapse keeps doc 0); batch 8: 80 dups theta, 81 survives
    assert got == {i * 10 for i in range(8)} | {81}
    assert len(_ids(spark, out)) == len(got)  # no double rows


def test_compact_state_crash_mid_swap_is_harmless_and_self_heals(spark, tmp_path, monkeypatch):
    """A compaction that crashes in its manifest flip leaves the published
    state unchanged (its merged segment is an invisible orphan). The sink
    must still produce correct survivors, the next compaction must land,
    and vacuum must sweep the orphan."""
    import os

    from nyc_open_data_pipeline_spark.pipeline.storage import table_at
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    for i, t in enumerate(["one", "two", "three", "four"]):
        sink(
            spark.createDataFrame([(i, t)], "doc_id long, text string"), i
        )
    before = _segments(out)
    _crash_next_flip(monkeypatch, out)
    with pytest.raises(OSError, match="injected"):
        _compact(spark, out)
    assert _segments(out) == before  # state unchanged
    on_disk = lambda: {e for e in os.listdir(out) if e.startswith("seg_")}  # noqa: E731
    orphans = on_disk() - set(before)
    assert len(orphans) == 1

    # a batch against the store still dedups correctly
    sink(
        spark.createDataFrame(
            [(40, "one"), (41, "five")], "doc_id long, text string"
        ),
        4,
    )
    assert set(_ids(spark, out)) == {0, 1, 2, 3, 41}

    assert _compact(spark, out) == {"": 5}
    storage, table = table_at(out)
    storage.vacuum(table)
    assert on_disk() == set(_segments(out))  # the orphan was swept
    hashes = [r["content_hash"] for r in _read(spark, out).collect()]
    assert len(hashes) == len(set(hashes)) == 5


def test_compact_state_below_min_batches_is_noop(spark, tmp_path):
    import os

    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    sink(spark.createDataFrame([(1, "a")], "doc_id long, text string"), 0)
    sink(spark.createDataFrame([(2, "b")], "doc_id long, text string"), 1)
    listing = sorted(os.listdir(out))
    assert _compact(spark, out, max_segments=4) == {}
    assert sorted(os.listdir(out)) == listing  # untouched
    # and on a table with no manifest at all
    assert _compact(spark, str(tmp_path / "nostate")) == {}


def test_compact_state_band_key_store(spark, tmp_path):
    """Compaction is schema-generic: the two-column band-key table of the
    near-dup sink compacts with identical semantics (state keys equal
    before/after, later batches still anti-join against them)."""
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_neardup_sink

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "completely different words appear in this other document body text"
    c = "a third unrelated passage about spark shuffles and parquet footers"
    d = "yet another corpus line mentioning watermarks checkpoints and state"
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = incremental_neardup_sink(spark, out, state)
    for i, t in enumerate([a, b, c, d]):
        sink(
            spark.createDataFrame([(i, t)], "doc_id long, text string"), i
        )
    keys = lambda: [  # noqa: E731
        (r["band"], r["band_key"]) for r in _read(spark, state).collect()
    ]
    before = keys()
    assert _compact(spark, state) == {"": 4}
    assert sorted(keys()) == sorted(before) and len(_segments(state)) == 1
    # a near-copy of doc 0 arriving after compaction is still dropped
    sink(
        spark.createDataFrame(
            [(100, a + " extra"), (101, "entirely novel text about nothing shared with priors at all")],
            "doc_id long, text string",
        ),
        4,
    )
    got = set(_ids(spark, out))
    assert 100 not in got and 101 in got


def test_run_incremental_dedup_compact_after(spark, tmp_path):
    """compact_after=True on the drain wrapper compacts the table at the
    safe point (drain complete) without changing survivors, and vacuums
    the per-batch segments it folded."""
    import os

    from nyc_open_data_pipeline_spark.streaming.dedup import run_incremental_dedup
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks

    chunks = [
        spark.createDataFrame(
            [(i * 10, f"text {i}"), (i * 10 + 1, f"text {max(0, i - 1)}")],
            "doc_id long, text string",
        )
        for i in range(5)
    ]
    d = str(tmp_path / "in")
    write_stream_chunks(chunks, d)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = str(tmp_path / "out")
    run_incremental_dedup(spark, stream, out, compact_after=True)
    got = set(_ids(spark, out))
    assert got == {0, 10, 20, 30, 40}  # i*10 new, i*10+1 dups batch i-1 (0,1 collapse)
    segs = _segments(out)
    assert len(segs) == 1  # all five batch segments folded into one
    assert {e for e in os.listdir(out) if e.startswith("seg_")} == set(segs)


def test_compact_state_all_empty_batches_is_noop(spark, tmp_path):
    """A feed whose batches all publish zero rows (no doc is long enough
    to shingle) leaves typed, empty tables; compacting them must not fail,
    folds to at most one segment, and is then a no-op."""
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_neardup_sink

    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = incremental_neardup_sink(spark, out, state)
    for i in range(5):
        sink(spark.createDataFrame([(i, "hi")], "doc_id long, text string"), i)
    _compact(spark, state)
    assert len(_segments(state)) <= 1
    assert _compact(spark, state) == {}
    assert _read(spark, state).count() == 0
    assert set(_read(spark, state).columns) == {"band", "band_key", "batch"}
    assert _ids(spark, out) == []


def test_replay_guard_refuses_lost_marker_and_stale_marker(spark, tmp_path):
    """The batch id lives in the table's manifest, so it cannot be lost or
    go stale apart from the data: (a) an unreadable ``_current`` makes the
    sink refuse loudly instead of treating the table as empty, and (b) a
    rollback to a pre-compaction generation brings back the batch id that
    generation held, so replays re-apply each later batch exactly once."""
    import os

    from nyc_open_data_pipeline_spark.pipeline.storage import table_at
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    batches = [
        spark.createDataFrame([(i, f"text {i}")], "doc_id long, text string")
        for i in range(4)
    ]
    for i, b in enumerate(batches):
        sink(b, i)
    storage, table = table_at(out)
    after_batch_1 = storage.generation(table) - 2
    assert _compact(spark, out) == {"": 4}

    # (a) unreadable manifest: processing any new batch must refuse
    cur = os.path.join(out, "_current")
    with open(cur) as f:
        saved = f.read()
    with open(cur, "w") as f:
        f.write("{torn")
    b4 = spark.createDataFrame([(40, "text 40")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="unreadable"):
        sink(b4, 4)
    with open(cur, "w") as f:
        f.write(saved)

    # (b) rollback to the generation that held batches 0..1 (before the
    # compaction): the batch id comes back with the data
    storage.rollback(table, after_batch_1)
    assert storage.committed_batch(table) == 1
    assert set(_ids(spark, out)) == {0, 1}
    for i, b in enumerate(batches):
        sink(b, i)  # 0 and 1 are no-ops; 2 and 3 re-apply once
    sink(b4, 4)
    assert sorted(_ids(spark, out)) == [0, 1, 2, 3, 40]


def test_first_batch_crash_with_no_marker_still_replays(spark, tmp_path, monkeypatch):
    """A crash in the very FIRST batch's manifest flip leaves a segment and
    a history file but no ``_current``: the table is still uncommitted,
    and the replay must publish the batch once."""
    from nyc_open_data_pipeline_spark.pipeline.storage import table_at
    from nyc_open_data_pipeline_spark.streaming.dedup import incremental_dedup_sink

    out = str(tmp_path / "out")
    sink = incremental_dedup_sink(spark, out)
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id long, text string")
    _crash_next_flip(monkeypatch, out)
    with pytest.raises(OSError, match="injected"):
        sink(b0, 0)
    storage, table = table_at(out)
    assert storage.generation(table) == 0
    sink(b0, 0)  # replay must publish, not raise
    assert set(_ids(spark, out)) == {1, 2}
    assert len(_ids(spark, out)) == 2  # no double rows


def test_sink_metrics_counts_match_written_rows(spark, tmp_path):
    """Per-batch metrics counts are observed on the write job itself (no
    count job, no output checkpoint) — pin that the reported
    n_out/n_new_keys equal the rows each batch actually published, for
    both the exact-hash and the near-dup sinks."""
    from pyspark.sql import functions as F

    from nyc_open_data_pipeline_spark.streaming.dedup import (
        run_incremental_dedup,
        run_incremental_neardup,
    )
    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks
    from nyc_open_data_pipeline_spark.streaming.windows import drain_batch_metrics

    b0 = spark.createDataFrame(
        [(1, "alpha one two three four"), (2, "alpha one two three four"),
         (3, "beta five six seven eight")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(10, "beta five six seven eight"), (11, "gamma nine ten eleven twelve")],
        "doc_id long, text string",
    )
    d = str(tmp_path / "in")
    write_stream_chunks([b0, b1], d)
    drain_batch_metrics()
    for out_tag in ("dedup", "neardup"):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = str(tmp_path / f"out_{out_tag}")
        state = str(tmp_path / f"state_{out_tag}")
        if out_tag == "dedup":
            run_incremental_dedup(spark, stream, out)
        else:
            run_incremental_neardup(spark, stream, out, state)
        by_batch = {}
        for m in drain_batch_metrics():
            by_batch[m["batch_id"]] = m
        assert set(by_batch) == {0, 1}
        for bid, m in by_batch.items():
            written = _read(spark, out).filter(F.col("batch") == bid).count()
            assert m["n_out"] == written, (out_tag, bid, m, written)
            if "n_new_keys" in m:
                keys = _read(spark, state).filter(F.col("batch") == bid).count()
                assert m["n_new_keys"] == keys, (out_tag, bid, m, keys)


def test_latest_upsert_sink_crash_in_publish_keeps_prior_state(spark, tmp_path, monkeypatch):
    """The crash window of the st7 sink: batch 0 holds a key batch 1
    lacks, and batch 1's state publish fails once mid-commit. The replay
    of batch 1 must merge into batch 0's still-published state, so the
    final state equals the batch latest-per-key answer over all input."""
    import os
    from datetime import datetime

    from nyc_open_data_pipeline_spark.streaming.upsert import latest_upsert_sink

    sch = "user_id long, ts timestamp, event_id long"
    rows = [
        [(1, 1, 10), (2, 1, 11)],  # user 2 appears only in batch 0
        [(1, 3, 12), (3, 2, 13)],
        [(1, 2, 14), (3, 4, 15)],  # user 1's row here is older than batch 1's
    ]
    batches = [
        spark.createDataFrame(
            [(u, datetime(2024, 1, 1, h), e) for u, h, e in b], sch
        )
        for b in rows
    ]
    state = str(tmp_path / "state")
    sink = latest_upsert_sink(spark, state, ["user_id"], ["ts", "event_id"])
    sink(batches[0], 0)

    real = os.replace
    fired = []

    def replace_once(src, dst):
        if not fired:
            fired.append(dst)
            raise OSError("injected crash in the state publish")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace_once)
    with pytest.raises(OSError, match="injected"):
        sink(batches[1], 1)
    monkeypatch.setattr(os, "replace", real)
    sink(batches[1], 1)  # checkpoint replay
    sink(batches[2], 2)

    latest = {}
    for u, h, e in (r for b in rows for r in b):
        latest[u] = max(latest.get(u, (h, e)), (h, e))
    want = {(u, datetime(2024, 1, 1, h), e) for u, (h, e) in latest.items()}
    got = {
        (r["user_id"], r["ts"], r["event_id"]) for r in _read(spark, state).collect()
    }
    assert got == want
