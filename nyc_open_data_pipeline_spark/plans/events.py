"""Event-time windowed aggregation over the ``events`` table (SURVEY §2.13).

The reference has no streaming (SURVEY §2.13: batch CLI only); these queries
add the tumbling/sliding/session window surface as batch queries with exact
SQL oracles. The same ``F.window``/``F.session_window`` expressions run
unchanged under ``readStream`` — see ``streaming/windows.py`` for the
watermarked streaming variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.plans.common import dec, dsum, sql_dsum, sql_floordiv, t
from nyc_open_data_pipeline_spark.plans.registry import register


@register(
    "e1_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events GROUP BY 1
    """,
    survey_ref="§2.13 extension (tumbling event-time window; SURVEY notes events table motivates it)",
)
def e1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows. F.window buckets rows map-side; the agg is an
    ordinary hash aggregate on window_start — partial-agg friendly at scale."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "e2_sliding_window",
    oracle=f"""
    WITH assigned AS (
      SELECT make_timestamp(((CAST(floor(epoch(ts) / 1800) AS BIGINT) - off) * 1800) * 1000000)
               AS window_start,
             value
      FROM events, (SELECT UNNEST([0, 1]) AS off)
    )
    SELECT window_start, COUNT(*) AS n_events, {sql_dsum("value", "total_value")}
    FROM assigned GROUP BY 1
    """,
    survey_ref="§2.13 extension (sliding window, 1h window / 30min slide)",
)
def e2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: each event lands in window_size/slide = 2 windows.
    Spark's window() fans rows out map-side (no shuffle until the agg)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


_E3_SESSION_SQL = f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum("value", "session_value")}
    FROM numbered GROUP BY user_id, sess_id
"""


@register(
    "e3_session_window",
    oracle=_E3_SESSION_SQL,
    survey_ref="§2.13 extension (session window, 30min gap; streaming/windows.py has the stateful variant)",
)
def e3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap. Spark merges
    overlapping per-key sessions after a shuffle on user_id; the oracle is
    the classic gaps-and-islands rewrite."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "st1_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events GROUP BY 1
    """,
    survey_ref="§2.13 Structured Streaming (readStream -> watermarked window -> "
    "memory sink; oracle is the BATCH SQL — stream==batch for on-time data)",
)
def st1_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The e1 tumbling aggregation executed as a Structured Streaming job:
    events re-materialized as a file stream, availableNow trigger, complete
    mode. Proves the engine's batch/stream equivalence contract — the
    oracle is the batch SQL, and the stream must reproduce it exactly."""
    import uuid

    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
        tumbling_counts,
    )

    # micros re-materialization: the raw corpus is TIMESTAMP(NANOS), which
    # file-stream readers can't consume (catalog.load_table converts)
    d = cached_fixture(
        spark, sf_dir, "evfull",
        lambda p: t(spark, sf_dir, "events").write.mode("overwrite").parquet(p),
    )
    name = f"st1_{uuid.uuid4().hex[:8]}"
    run_to_memory(tumbling_counts(events_stream(spark, path=d)), name, mode="complete")
    return spark.table(name)


@register(
    "st2_stateful_profiles",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           round(SUM(value), 6) AS total_value,
           MAX(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
    survey_ref="§2.13 custom stateful streaming operator "
    "(applyInPandasWithState per-user profile; oracle is the batch GROUP BY "
    "the final state must equal — stream==batch equivalence as a hard check)",
)
def st2_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming: per-user running profile (event count,
    last seen, value sum) maintained in GroupState across micro-batches.
    The final state per key is definitionally the batch groupBy over the
    same events — that batch SQL is the oracle. The Python-side float
    accumulation is order-dependent at the ulp level, so total_value is
    rounded to 6 dp on both sides (registry numeric-determinism policy)."""
    import uuid

    from nyc_open_data_pipeline_spark.streaming.stateful import user_profile_stream
    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
    )

    d = cached_fixture(
        spark, sf_dir, "evfull",
        lambda p: t(spark, sf_dir, "events").write.mode("overwrite").parquet(p),
    )
    name = f"st2_{uuid.uuid4().hex[:8]}"
    run_to_memory(user_profile_stream(events_stream(spark, path=d)), name, mode="update")
    # update-mode memory sink holds one row per (key, micro-batch); keep each
    # key's latest emitted state — with availableNow this is the final state
    prof = spark.table(name)
    w_latest = prof.groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "total_value", "last_ts"), "n_events").alias("s")
    )
    return w_latest.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.round("s.total_value", 6).alias("total_value"),
        F.col("s.last_ts").alias("last_ts"),
    )


@register(
    "st4_stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_events,
           {sql_dsum("e.value", "total_value")}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    survey_ref="§2.13 Structured Streaming stream-static join (stream events x "
    "broadcast customer dim -> running agg; the streaming form of J1/J2 — "
    "dimension enrichment during ingestion). Oracle is the batch join SQL.",
)
def st4_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static equi-join: each micro-batch joins against the static
    customer dimension (re-read per batch, broadcast — at 100 TB the static
    side is a slowly-changing dim the stream enriches on the fly), then a
    complete-mode running aggregate by market segment."""
    import uuid

    from pyspark.sql.functions import broadcast

    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
    )

    d = cached_fixture(
        spark, sf_dir, "evfull",
        lambda p: t(spark, sf_dir, "events").write.mode("overwrite").parquet(p),
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        events_stream(spark, path=d)
        .join(broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
    )
    name = f"st4_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name, mode="complete")
    return spark.table(name)


@register(
    "st5_stream_late_data",
    oracle=f"""
    WITH wm1 AS (
      SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events WHERE event_id % 3 = 0
    ),
    wmf AS (
      SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events
    ),
    kept AS (
      SELECT ts, value FROM events
      WHERE event_id % 3 <> 2
         OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT wm FROM wm1)
    )
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM kept
    GROUP BY 1
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT wm FROM wmf)
    """,
    survey_ref="§2.13 Structured Streaming watermark semantics: late events "
    "(whose window the watermark already closed) are DROPPED, and only "
    "watermark-closed windows are emitted (append mode). The oracle "
    "reconstructs both effects in SQL from the deterministic three-batch "
    "replay (batch k = event_id %% 3 == k).",
)
def st5_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling, made deterministic: events replay as three
    micro-batches (event_id mod 3). Spark 4 follows the two-watermark model
    (SPARK-40925): batch N's input is filtered by batch N-1's watermark and
    state is evicted by batch N's — verified empirically, so the drop rule
    here is 'batch 2 rows whose window end <= max(batch-0 ts) - 2h' (batch 1
    is filtered by the epoch watermark: nothing drops). The filter compares
    the WINDOW END, not the raw event time (a row older than the watermark
    whose window is still open is kept). Bounded state is the point: without
    the watermark, window state grows forever at 100 TB/day. Append mode
    emits exactly the windows the final watermark closed; the oracle
    reproduces both the drop set and the emit set."""
    import uuid

    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks
    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
        tumbling_counts,
    )

    ev = t(spark, sf_dir, "events")
    d = cached_fixture(
        spark, sf_dir, "ev3chunks",
        lambda p: write_stream_chunks(
            [ev.filter(F.col("event_id") % 3 == k) for k in range(3)], p
        ),
    )
    stream = events_stream(spark, path=d, maxFilesPerTrigger=1)
    name = f"st5_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        tumbling_counts(stream, window="1 hour", watermark="2 hours"),
        name,
        mode="append",
    )
    return spark.table(name)


@register(
    "e4_json_extract",
    oracle="""
    SELECT event_id,
           TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS prop_k
    FROM events
    """,
    survey_ref="§1.2 extension (semi-structured props column; reference stores raw JSON rows pre-transform)",
)
def e4_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k":\s*(-?\d+)', 1).cast("long").alias("prop_k"),
    )


@register(
    "e6_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
    survey_ref="§1.2 extension (schema-on-read JSON parse — the idiomatic Spark "
    "path vs e4's regex extraction; reference keeps raw JSON rows pre-transform)",
)
def e6_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with a declared schema: JVM-side Jackson parse into a
    struct, column-prunable — the correct scale path for semi-structured
    columns (vs regex for ad-hoc single-field pulls)."""
    ev = t(spark, sf_dir, "events")
    parsed = F.from_json("props", "k bigint")
    return ev.select("event_id", parsed.getField("k").alias("prop_k"))


@register(
    "as1_asof_join",
    oracle="""
    SELECT a.event_id, a.ts, b.event_id AS ref_event_id, b.value AS ref_value,
           epoch(a.ts) - epoch(b.ts) AS gap_seconds
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
      ON a.user_id = b.user_id
     AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id < a.event_id))
    QUALIFY row_number() OVER (PARTITION BY a.event_id
                               ORDER BY b.ts DESC, b.event_id DESC) = 1
    """,
    survey_ref="extension: AS-OF join (operator Spark lacks natively — "
    "driver steering names it). Each purchase matched to the same user's "
    "most recent strictly-prior click. Oracle is the independent "
    "inequality-join + row_number formulation.",
)
def as1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join the scalable way: union both sides tagged, ONE shuffle on
    (user_id), per-partition sort by (ts, event_id), and a running
    last-non-null window carries each reference row forward to the probe
    rows that follow it (rowsBetween(-inf, -1) makes 'strictly prior'
    exact, with event_id as the total-order tiebreak). No inequality join,
    no per-probe scan — at 100 TB this is a sort-merge pass, the same shape
    kdb/QuestDB use. The reference side rides along as a NULL-padded struct,
    so the window is a single pass (operators/temporal.py::asof_join)."""
    from nyc_open_data_pipeline_spark.operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    b = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    m = asof_join(a, b, key="user_id", time="ts", tiebreak="event_id")
    return m.select(
        "event_id",
        "ts",
        F.col("__asof.event_id").alias("ref_event_id"),
        F.col("__asof.value").alias("ref_value"),
        (
            F.col("ts").cast("double") - F.col("__asof.ts").cast("double")
        ).alias("gap_seconds"),
    )


_RJ_BIN_SECONDS = 4 * 3600


@register(
    "rj1_range_join",
    oracle=f"""
    SELECT a.event_id AS anchor_id,
           COUNT(*) AS n_events,
           {sql_dsum("e.value", "total_value")}
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    JOIN events e
      ON a.user_id = e.user_id
     AND e.ts >= a.ts AND e.ts < a.ts + INTERVAL 4 HOUR
    GROUP BY 1
    """,
    survey_ref="extension: RANGE join (driver steering names it). Per-purchase "
    "activity window: all same-user events within [ts, ts+4h). Oracle is the "
    "plain inequality join; the Spark plan is the binned equi-join rewrite.",
)
def rj1_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join without the O(n*m) inequality join: bin both sides into
    4h epochs (bin width == window length, so an anchor's window spans at
    most 2 bins), explode each anchor to its 2 candidate bins, equi-join on
    (user_id, bin), then apply the exact range filter. Catalyst gets a hash
    join on (user_id, bin) — one shuffle, no BroadcastNestedLoopJoin — and
    each matching event appears under exactly one bin (its own), so no
    dedup pass is needed. This is the standard interval-binning rewrite
    Spark lacks as a built-in (DuckDB/kdb ship it natively;
    operators/temporal.py::range_join_binned)."""
    from nyc_open_data_pipeline_spark.operators.temporal import range_join_binned

    ev = t(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("ts").alias("a_ts"),
    )
    evb = ev.select("user_id", "ts", "value")
    j = range_join_binned(
        anchors, evb, key="user_id", probe_time="a_ts", event_time="ts",
        window_seconds=_RJ_BIN_SECONDS,
    )
    return j.groupBy("anchor_id").agg(
        F.count("*").alias("n_events"), dsum("value", "total_value")
    )


@register(
    "e5_event_type_stats",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_dsum("value", "total_value")},
           MIN(ts) AS first_seen,
           MAX(ts) AS last_seen
    FROM events GROUP BY event_type
    """,
    survey_ref="§2.6 A4/A5 over the event stream shape",
)
def e5_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value", "total_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


@register(
    "st6_stream_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS step_no, 'view' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
    )
    """,
    survey_ref="§2.13 custom stateful streaming operator #2: ordered funnel "
    "as an applyInPandasWithState state machine — late/out-of-order step "
    "events handled by retaining step timestamps in state; oracle is the "
    "batch funnel SQL (stream==batch equivalence as a hard check).",
)
def st6_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel: events replayed as 3 micro-batches split by
    event_id mod 3 — each user's step events are scattered ACROSS batches
    and arrive out of ts-order, so the state machine (not replay luck) must
    reconstruct the strictly-after chain. Final per-user state is reduced to
    the same (step_no, step, n_users) table the batch funnel produces; the
    oracle is f1_funnel's SQL verbatim. At scale the state per user is the
    funnel-relevant timestamps only, and the per-batch work is one
    groupBy(user_id) state update — Kafka replaces the file replay
    unchanged."""
    import uuid

    from nyc_open_data_pipeline_spark.streaming.replay import write_stream_chunks
    from nyc_open_data_pipeline_spark.streaming.stateful import funnel_stream
    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
    )

    ev = t(spark, sf_dir, "events")
    d = cached_fixture(
        spark, sf_dir, "ev3chunks",
        lambda p: write_stream_chunks(
            [ev.filter(F.col("event_id") % 3 == k) for k in range(3)], p
        ),
    )
    stream = events_stream(spark, path=d, maxFilesPerTrigger=1)
    name = f"st6_{uuid.uuid4().hex[:8]}"
    run_to_memory(funnel_stream(stream), name, mode="update")
    # update-mode memory sink: one row per (user, batch that touched it);
    # n_seen is monotone, so max_by picks each user's final state.
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max_by("reached", "n_seen").alias("reached"))
    )
    steps = [(1, "view"), (2, "click"), (3, "purchase")]
    out = None
    for no, step in steps:
        lvl = final.filter(F.col("reached") >= no).agg(
            F.lit(no).alias("step_no"),
            F.lit(step).alias("step"),
            F.count("*").cast("long").alias("n_users"),
        )
        out = lvl if out is None else out.unionAll(lvl)
    return out


@register(
    "st7_stream_upsert",
    oracle="""
    SELECT user_id, ts, event_id, event_type, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    survey_ref="§2.13 x K3: streaming MERGE ingest — events replayed as 4 "
    "micro-batches through a foreachBatch latest-wins upsert sink "
    "(streaming/upsert.py); the reference's ON CONFLICT DO UPDATE flow "
    "(src/ingestion/storage.py:230-297) run continuously. Oracle = batch "
    "latest-per-key: the sink is order-independent, so stream==batch holds "
    "for ANY batch decomposition of the input.",
)
def st7_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous upsert ingest: the events table arrives as 4 micro-batches;
    each batch MERGEs into per-user state keeping the (ts, event_id)-maximal
    row. Because the merge is last-writer-wins by event-time (not by arrival
    order), the final state equals the batch latest-per-key answer no matter
    how the stream is chunked or replayed — the property that makes
    checkpoint-recovery re-runs safe."""
    import os
    import tempfile

    from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage
    from nyc_open_data_pipeline_spark.streaming.dedup import _await_drained
    from nyc_open_data_pipeline_spark.streaming.replay import ordered_range_chunks
    from nyc_open_data_pipeline_spark.streaming.upsert import latest_upsert_sink
    from nyc_open_data_pipeline_spark.streaming.windows import cached_fixture

    root = tempfile.mkdtemp(prefix="st7_")
    storage = ParquetStorage(root)
    schema = (
        "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    # input chunks are read-only scaffolding -> session-cached; the state and
    # checkpoint dirs stay per-invocation (each run is a fresh sink)
    stream_dir = cached_fixture(
        spark, sf_dir, "ev4range",
        lambda p: ordered_range_chunks(ev, "event_id", p, n_chunks=4),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            latest_upsert_sink(
                spark, storage.path("state"), ["user_id"], ["ts", "event_id"]
            )
        )
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, "st7_stream_upsert")
    return storage.read(spark, "state")


@register(
    "st8_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    survey_ref="§2.13 native streaming dedup (dropDuplicatesWithinWatermark): "
    "the stream is fed every event TWICE (a redelivery/replay feed) and must "
    "reproduce the single-copy batch counts — exactly-once rows from "
    "at-least-once delivery; oracle is the batch GROUP BY on one copy",
)
def st8_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in streaming dedup operator (vs st3's foreachBatch corpus-hash
    flow): duplicate the feed, drop by event_id within the watermark, count
    per type. The per-type counts equal the batch counts iff every second
    delivery was dropped — a hash mismatch catches both under- and
    over-dedup. State is bounded by the watermark horizon (see
    streaming/dedup.deduped_events)."""
    import uuid

    from nyc_open_data_pipeline_spark.streaming.dedup import deduped_events
    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
    )

    ev = t(spark, sf_dir, "events")

    def _double(p):
        ev.write.mode("overwrite").parquet(p)
        ev.write.mode("append").parquet(p)  # the duplicate delivery

    d = cached_fixture(spark, sf_dir, "evdouble", _double)
    name = f"st8_{uuid.uuid4().hex[:8]}"
    run_to_memory(deduped_events(events_stream(spark, path=d)), name, mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "st9_stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_sec
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    survey_ref="§2.13 Structured Streaming stream-stream interval join: "
    "views x purchases by the same user within 1 hour, both sides "
    "watermarked so join state is droppable. Oracle is the identical "
    "batch interval join.",
)
def st9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range bound. Both sides
    carry a watermark and the join predicate bounds purchase.ts within
    [view.ts, view.ts + 1h], so Spark can expire buffered rows once the
    watermark passes the interval end — bounded state, the only shape a
    stream-stream join is allowed to take at 100 TB (an unbounded-state
    join would buffer the full history). Written as one file so availableNow
    runs a single micro-batch and no pair straddles a watermark advance —
    the streaming result is then exactly the batch interval join."""
    import uuid

    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
    )

    # The "topic" carries only the columns and event kinds the join reads —
    # one file so availableNow is a single micro-batch (see docstring).
    d = cached_fixture(
        spark, sf_dir, "evvp1",
        lambda p: t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_id", "ts", "user_id", "event_type")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p),
    )

    def side(kind: str, prefix: str) -> DataFrame:
        return (
            events_stream(
                spark,
                schema="event_id long, ts timestamp, user_id long, event_type string",
                path=d,
            )
            .filter(F.col("event_type") == kind)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    v, p = side("view", "v"), side("purchase", "p")
    joined = v.join(
        p,
        (F.col("v_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("interval 1 hour")),
    ).select(
        F.col("v_event_id").alias("view_id"),
        F.col("p_event_id").alias("purchase_id"),
        F.col("v_user_id").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("lag_sec"),
    )
    name = f"st9_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name, mode="append")
    return spark.table(name)


@register(
    "st10_stream_session",
    oracle=_E3_SESSION_SQL,
    survey_ref="§2.13 Structured Streaming session windows: the e3 "
    "session_window aggregation under readStream with a watermark — "
    "Spark merges overlapping per-key session state across micro-batches, "
    "the one window type that is genuinely stateful-merge (tumbling/"
    "sliding are mere bucketing). Oracle is e3's batch SQL.",
)
def st10_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) over the shared event feed,
    complete mode. Session state per (user, open session) is merged as
    batches arrive and dropped once the watermark passes the gap — bounded
    by active users, not history. Must equal the batch e3 result exactly."""
    import uuid

    from nyc_open_data_pipeline_spark.streaming.windows import (
        cached_fixture,
        events_stream,
        run_to_memory,
        session_counts,
    )

    d = cached_fixture(
        spark, sf_dir, "evfull",
        lambda p: t(spark, sf_dir, "events").write.mode("overwrite").parquet(p),
    )
    name = f"st10_{uuid.uuid4().hex[:8]}"
    run_to_memory(session_counts(events_stream(spark, path=d)), name, mode="complete")
    return spark.table(name)


# rj2: KEYLESS interval join (rj1 has user_id as an equi-key; here the
# bin is the ONLY equi-key, manufactured). Window length == bin width so every interval
# covers at most 2 bins; all time arithmetic is exact BIGINT microseconds
# (epoch_us / unix_micros + integer div), so bin assignment can never
# straddle a float rounding between engines.
_RJ1_K = 20
_RJ1_WIN_US = 7_200_000_000  # 2 h campaign window == bin width


@register(
    "rj2_interval_join",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS campaign_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + {_RJ1_WIN_US} AS e_us
      FROM events WHERE event_type = 'purchase'
      ORDER BY value DESC, event_id LIMIT {_RJ1_K}
    )
    SELECT p.campaign_id, CAST(p.s_us AS BIGINT) AS start_us,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           {sql_dsum("e.value", "total_value")}
    FROM p JOIN events e
      ON epoch_us(e.ts) >= p.s_us AND epoch_us(e.ts) < p.e_us
    GROUP BY p.campaign_id, p.s_us
    """,
    survey_ref="extension: KEYLESS interval join — rj1's range join has a "
    "natural equi-key (user_id); this is the harder no-key case, where a raw "
    "ts BETWEEN lo AND hi join plans as BroadcastNestedLoop or cartesian. "
    "Re-expressed as the bin-bucketed equi-join + residual "
    "range predicate (the standard range-join strategy, cf. Databricks' "
    "range-join hints): each interval is exploded to its covered time bins, "
    "the join is a hash equi-join on bin, and the inequality runs as a "
    "post-join filter. DuckDB oracle uses the native inequality join.",
)
def rj2_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute every event to the top-K purchase 'campaign' windows
    [ts, ts+2h) it falls in. Scale shape: the interval side is exploded to
    <=2 bins/interval and broadcast, so the fact scan joins by bin hash —
    no BNLJ, no cartesian — and an event matches an interval in exactly ONE
    bin (its own), so no post-join dedup is needed. With both sides large
    the same plan shuffles on bin; bin width trades replication (intervals
    spanning many bins) against candidate fan-in, exactly the range-join
    bucketing knob."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("t_us"),
    )
    camps = (
        ev.filter(F.col("event_type") == "purchase")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(_RJ1_K)
        .select(
            F.col("event_id").alias("campaign_id"),
            F.col("t_us").alias("s_us"),
            (F.col("t_us") + _RJ1_WIN_US).alias("e_us"),
        )
    )
    # flooring division (not bare `div`, which truncates toward zero) so
    # bin assignment agrees with the flooring oracle arithmetic for
    # pre-1970 negative timestamps too (ADVICE r7)
    bins = camps.select(
        "campaign_id", "s_us", "e_us",
        F.explode(
            F.sequence(
                F.expr(sql_floordiv("s_us", _RJ1_WIN_US)),
                F.expr(sql_floordiv("e_us - 1", _RJ1_WIN_US)),
            )
        ).alias("bin"),
    )
    matched = ev.withColumn(
        "bin", F.expr(sql_floordiv("t_us", _RJ1_WIN_US))
    ).join(
        F.broadcast(bins), "bin"
    ).filter((F.col("t_us") >= F.col("s_us")) & (F.col("t_us") < F.col("e_us")))
    return matched.groupBy("campaign_id", F.col("s_us").alias("start_us")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        dsum("value", "total_value"),
    )
