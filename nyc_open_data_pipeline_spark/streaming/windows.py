"""Watermarked event-time windows over streaming DataFrames.

Builders are shape-identical to the batch queries (plans/events.py
e1/e2/e3): the same F.window / F.session_window expressions run under
``readStream``; only the watermark (late-data bound) is added. This is the
engine's guarantee that batch backfill and streaming produce the same
results for on-time data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.cache import SESSION_CACHE
from nyc_open_data_pipeline_spark.plans.common import dec


def events_stream(
    spark, schema: str = "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string", path: str | None = None, **options
) -> DataFrame:
    """File-based events stream (new parquet files appear -> new micro-batch).
    In production this is a Kafka source with the same downstream plan."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling window agg with late-data bound (watermark lets Spark drop
    state for closed windows — unbounded state is the 100 TB streaming
    failure mode)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value", 28, 4)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows; Spark merges overlapping session state
    across micro-batches (the stateful operator batch can't express)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value", 28, 4)).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


# Executed micro-batch plans, appended by run_to_memory (explainInternal of
# the finished streaming query) and by the foreachBatch sinks (executedPlan
# of each batch DataFrame). The streaming hygiene gate
# (tests/test_plans.py) scans these for the same anti-patterns as the batch
# gate — st* queries execute a stream, so their plans can only be audited
# from the run, not from an unexecuted DataFrame.
EXECUTED_STREAM_PLANS: list[tuple[str, str]] = []
# A full physical-plan string per micro-batch adds up in a long-lived
# session (multi-round bench, notebook); the gate only ever needs the plans
# of the query it just ran, so keep a bounded recent window.
_STREAM_PLAN_CAP = 256


def record_stream_plan(name: str, plan: str) -> None:
    EXECUTED_STREAM_PLANS.append((name, plan))
    if len(EXECUTED_STREAM_PLANS) > _STREAM_PLAN_CAP:
        del EXECUTED_STREAM_PLANS[: len(EXECUTED_STREAM_PLANS) - _STREAM_PLAN_CAP]


def record_frame_plan(name: str, df: DataFrame) -> None:
    """Record a foreachBatch frame's executed plan; best effort, a capture
    failure never fails the batch (the gate then reports the missing plan)."""
    try:
        record_stream_plan(name, df._jdf.queryExecution().executedPlan().toString())
    except Exception:
        pass


def drain_stream_plans() -> list[tuple[str, str]]:
    """Return and clear the recorded plans (hygiene-gate consumption API —
    index-slicing the shared list breaks once the cap evicts entries)."""
    out = list(EXECUTED_STREAM_PLANS)
    EXECUTED_STREAM_PLANS.clear()
    return out


# Per-micro-batch rate metrics (round-7 VERDICT #8): the foreachBatch sinks
# record (rows in/out, state rows, wall seconds) per batch so the
# incremental-ingest operators get the same measurement discipline as the
# batch operators — bench.py attaches the drained records to its JSON and
# SCALE.md's streaming section reads rows/sec and state growth off them.
STREAM_BATCH_METRICS: list[dict] = []
_STREAM_METRIC_CAP = 1024


def record_batch_metrics(**m) -> None:
    STREAM_BATCH_METRICS.append(m)
    if len(STREAM_BATCH_METRICS) > _STREAM_METRIC_CAP:
        del STREAM_BATCH_METRICS[: len(STREAM_BATCH_METRICS) - _STREAM_METRIC_CAP]


def drain_batch_metrics() -> list[dict]:
    out = list(STREAM_BATCH_METRICS)
    STREAM_BATCH_METRICS.clear()
    return out


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    mode: str = "complete",
    shuffle_partitions: int | None = 8,
):
    """Execute a streaming plan over all currently-available input
    (availableNow trigger) into an in-memory table; returns the query.

    ``shuffle_partitions`` sizes the STATE partitioning: every stateful
    streaming operator creates one state store per shuffle partition (a
    stream-stream join creates four), each paying per-batch checkpoint
    commit overhead. The batch default (2-3x cores) is sized for scan
    throughput, not state-store count — for these bounded local feeds 8 is
    plenty; on a real cluster size it to sustained input rate instead. The
    conf is pinned into the query's offset log at start, so restoring the
    session value afterwards never affects the running query.

    The save/set/restore window around the session conf assumes one stream
    is being STARTED at a time (queries may run concurrently once started —
    the conf is already pinned). The harnesses here are single-threaded;
    callers starting streams from multiple threads should serialize calls."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        # refuse to read a partially-drained memory sink: False here means
        # the query is still running and the table is incomplete
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                f"run_to_memory({name}): stream not drained after 600s - "
                "the memory table would be truncated"
            )
        try:
            # executed micro-batch plan (codegen explain) for the hygiene
            # gate; the gate asserts >=1 plan per query, so a capture
            # failure here cannot silently exempt a query
            record_stream_plan(name, q._jsq.explainInternal(True))
        except Exception:
            pass
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q


# ---------------------------------------------------------------------------
# Session-scoped stream-input fixtures
# ---------------------------------------------------------------------------
# The file-based "topic" each streaming query reads is input scaffolding (the
# stand-in for Kafka), not part of the query: write it once per (session,
# sf_dir, shape) and reuse across invocations. Without this every run of an
# st* query re-materialized the events table to a fresh temp dir — at bench
# time that charged a 600k-row parquet write to a query whose actual work is
# the stateful stream. The session cache removes a superseded or leftover
# temp dir (at interpreter exit too), so long multi-sf sessions don't
# accumulate parquet copies.


def cached_fixture(spark, sf_dir: str, tag: str, build) -> str:
    """Return a directory containing the stream input for (sf_dir, tag),
    building it with ``build(dir)`` on first use in this session. An
    in-session corpus regeneration rebuilds the fixture instead of serving
    stale replay chunks while the oracle reads the new parquet
    (cache.SessionCache). Fixture builds run real write jobs, so their
    seconds land in the bench's cache_build_sec."""
    import shutil
    import tempfile

    def make() -> str:
        d = tempfile.mkdtemp(prefix=f"{tag}_")
        build(d)
        return d

    return SESSION_CACHE.get(
        ("cached_fixture", spark.sparkContext.applicationId, sf_dir, tag),
        make,
        sf_dir=sf_dir,
        release=lambda d: shutil.rmtree(d, ignore_errors=True),
        label=f"fixture:{tag}",
    )
