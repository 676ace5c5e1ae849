"""SparkSession factory.

Defaults are chosen for correctness-reproducibility (UTC, ANSI off so casts
coerce to NULL like the reference's ``pd.to_numeric(errors='coerce')``,
cf. reference src/ingestion/parser.py and datasets/*/transformer.py) and for
scale (AQE on, shuffle partitions sized to the cluster, Arrow enabled for the
Pandas-UDF slow path).

On a real cluster the same builder is used; only ``master`` and the
shuffle-partition count change (set ``spark.sql.shuffle.partitions`` to
~2-3x total executor cores, and let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] width: SPARK_GRAFT_CPUS when set, else the CPUs of this machine
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# Confs the ENGINE'S SEMANTICS depend on (not just performance). Queries may
# be handed a foreign SparkSession (the correctness driver constructs its
# own); these are all runtime-settable SQL confs, pinned on first table load:
# - ansi off: casts coerce invalid -> NULL (reference pd.to_numeric
#   errors='coerce'); Spark 4 defaults ansi ON, which would raise instead
# - UTC: timestamp semantics must match the DuckDB oracle
# - nanosAsLong: the test corpus stores TIMESTAMP(NANOS), which Spark
#   otherwise refuses to read (PARQUET_TYPE_ILLEGAL)
# - inferTimestampNTZ off: parquet timestamp[us] columns with no UTC flag
#   (e.g. the driver's regenerated events.parquet) must read as TIMESTAMP,
#   not TIMESTAMP_NTZ — NTZ rejects unix_micros()/BIGINT casts the engine's
#   event-time plans rely on, and the DuckDB oracle treats naive timestamps
#   as session-UTC anyway, which is exactly Spark's TIMESTAMP-under-UTC
SEMANTIC_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_semantic_confs(spark: SparkSession) -> None:
    """Pin the semantics-critical confs on a possibly-foreign session."""
    for k, v in SEMANTIC_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def retire_local_checkpoint(df) -> None:
    """Free a localCheckpoint'd DataFrame's storage blocks NOW.

    ``DataFrame.unpersist()`` is a silent no-op on a checkpointed frame:
    it routes through the cache manager, which holds no entry for the
    LogicalRDD-backed plan (ADVICE r11) — so iterative operators that
    "retired" per-round checkpoints with it were actually waiting for the
    JVM to GC the RDD handle (ContextCleaner), i.e. the System.gc nudge
    path. Reach the checkpoint RDD through the analyzed LogicalRDD and
    unpersist it directly (non-blocking, frees memory+disk blocks in one
    call). Best-effort by design: a frame with operators ON TOP of the
    checkpoint, or a Spark Connect session with no JVM handle, falls back
    silently to the GC-driven path."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def get_spark(
    app_name: str = "nyc_open_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local mode is a single JVM; ``spark.driver.memory`` is the only memory
    knob. On a cluster, pass ``master=None`` and let spark-submit decide.
    """
    cpus = DEFAULT_CPUS
    # Shuffle-partition sizing is a per-DATA-SCALE knob, not a per-machine
    # one: partitions should land near ~128-500 MB so wide shuffles (600M-row
    # groupBys at the sf100 probe scale) stay in memory instead of spilling.
    # The DEFAULT path is automatic: catalog.load_table derives AQE's
    # initialPartitionNum from the scale dir's on-disk bytes and lets AQE
    # coalesce small stages back down (catalog.autosize_shuffle_partitions),
    # so no knob is needed at any scale.
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # coercing casts: invalid -> NULL, matching pandas errors='coerce'
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet TIMESTAMP(NANOS) columns read as long; catalog.load_table
        # converts them back to TimestampType (micros) explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # no-UTC-flag timestamp[us] parquet must read TIMESTAMP, not NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # let custom Python data sources receive pushed filters (SoQL S2)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
