"""Table catalog over parquet directories.

The reference keeps a YAML registry of datasets and registers each as a
Postgres table (reference datasets/registry.yaml:1-55,
src/ingestion/storage.py:73-183). Here the catalog is a thin layer over the
Spark catalog: a directory of ``<name>.parquet`` files (or partitioned
parquet dirs) becomes a set of named temp views, and all engine queries go
through ``spark.table(name)`` / ``spark.sql``.

At 100 TB the same interface points at partitioned table roots instead of
single files; Catalyst partition pruning replaces the reference's indexes.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.cache import SESSION_CACHE

# The driver's synthetic corpus (TESTDATA.md) + any engine-produced tables.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    """Resolve a table name to its parquet path under a scale-factor dir."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.exists(p):
        return p
    # partitioned-table layout: a directory named after the table
    d = os.path.join(sf_dir, name)
    if os.path.exists(d):
        return d
    raise FileNotFoundError(f"table {name!r} not found under {sf_dir}")


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as long
    (spark.sql.legacy.parquet.nanosAsLong); we restore TimestampType here."""
    import pyarrow.dataset as ds
    import pyarrow.types as pat

    schema = ds.dataset(path, format="parquet").schema
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


# Tables whose queries are dominated by per-row expression work (shingling,
# md5 hashing, vector folds). The driver's test files are single-row-group
# parquet — unsplittable, so Spark scans each as ONE task. Fanning these out
# right after the scan puts the narrow expression stages on every core. At
# production scale the inputs have many row groups/files and the scan already
# matches cluster parallelism, so the condition below is a no-op there.
# events/lineitem stay as-is: their queries shuffle on a key immediately, and
# a round-robin pre-shuffle would only add a second exchange.
_EXPRESSION_HEAVY = {"documents", "embeddings"}


# --- shuffle-partition auto-sizing -----------------------------------------
# The round-5 sf100 probe found the spill regime: 32 shuffle partitions over
# a 600M-row shuffle put ~GBs per partition and q2/j8/q18 spent their time in
# spill I/O (SCALE.md round-5; q2 182 s -> 86.5 s at 256 partitions). The fix
# was a manual env knob — operator knowledge. This derives it from the data:
# AQE's over-provision-then-coalesce path makes the SAFE direction the
# default. We set adaptive.coalescePartitions.initialPartitionNum from the
# scale dir's on-disk bytes at ~32 MB parquet per partition (~128 MB
# in-memory at the ~4x snappy-parquet decompression typical of these
# columns), clamped to [defaultParallelism, 4096]; AQE then coalesces every
# small stage back down (advisory 64 MB), so small fixtures keep their
# current plans while large inputs get spill-free widths with NO knob.
# Within a session the width only grows, so scale switches don't flap. This
# function is the conf's only writer, so the value the conf holds is the
# session's high-water mark. SPARK_GRAFT_SHUFFLE_PARTITIONS remains as an
# explicit operator override.
_AUTOSIZE_TARGET_DISK_BYTES = 32 * 1024 * 1024
_AUTOSIZE_MAX = 4096
_INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def _dir_input_bytes(sf_dir: str) -> int:
    def walk() -> int:
        b = 0
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    b += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return b

    return SESSION_CACHE.get(("_dir_input_bytes", sf_dir), walk, sf_dir=sf_dir)


def autosize_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Size AQE's initial shuffle-partition count from the input scale.
    Returns the target in effect (for tests/telemetry)."""
    manual = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if manual:
        # explicit operator override: it must actually take effect, even
        # after the autosizer raised the high-water in this session — pin
        # initialPartitionNum to the override and report it as the target
        t = int(manual)
        spark.conf.set(_INITIAL_PARTITIONS, str(t))
        return t
    par = spark.sparkContext.defaultParallelism
    target = max(
        par,
        min(
            _AUTOSIZE_MAX,
            -(-_dir_input_bytes(sf_dir) // _AUTOSIZE_TARGET_DISK_BYTES),
        ),
    )
    high_water = int(spark.conf.get(_INITIAL_PARTITIONS, None) or 0)
    if target > high_water:
        spark.conf.set(_INITIAL_PARTITIONS, str(target))
        return target
    return high_water


def _dir_slug(sf_dir: str) -> str:
    """Filesystem path -> identifier-safe slug for per-scale table names."""
    return re.sub(r"[^A-Za-z0-9]+", "_", os.path.abspath(sf_dir)).strip("_")


# Marker property recording that a bucketed copy was written from load_table
# output (timestamp normalization applied). Checked before serving.
NORMALIZED_PROP = "spark_graft.normalized"


def _bucketed_key(spark: SparkSession, table: str) -> tuple:
    """Session-cache key of a bucketed table's serving verdict; a rewrite
    of the table (operators/bucketing.write_bucketed) invalidates it."""
    return ("_bucketed_is_normalized", spark.sparkContext.applicationId, table)


def _bucketed_is_normalized(spark: SparkSession, table: str) -> bool:
    def probe() -> bool:
        rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        return any(
            r["key"] == NORMALIZED_PROP and r["value"] == "true" for r in rows
        )

    return SESSION_CACHE.get(_bucketed_key(spark, table), probe)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from nyc_open_data_pipeline_spark.session import ensure_semantic_confs

    ensure_semantic_confs(spark)
    autosize_shuffle_partitions(spark, sf_dir)
    return _build_table(spark, sf_dir, name)


def _probe_schema(spark: SparkSession, sf_dir: str, name: str, path: str):
    """(read schema, nanos col list, row-group count) for a table path,
    session-cached per corpus fingerprint. The expensive parts of
    load_table are per-call driver work — spark.read.parquet's footer
    schema inference and the pyarrow nanos-column probe — measured 94-152
    ms per call (round-13 optimization), paid by every query invocation
    per table; the full 211-query two-pass bench rebuilds tables 600+
    times. Caching the probed SCHEMA (not the DataFrame: a shared DataFrame
    instance makes two-role self-joins ambiguous — q8's nation-x-nation
    join failed analysis under a frame cache) lets every call build a fresh
    relation with spark.read.schema(...), skipping the inference.
    Bucketed-layout mode bypasses the probe (its table choice depends on
    session-catalog state, not just the dir).

    Cache-key scope note (ADVICE r13): the probed schema depends on
    session-level confs (nanosAsLong, TIMESTAMP_NTZ inference), which are
    NOT in the key — safe because every probe runs after load_table's
    ensure_semantic_confs(spark) pinned those confs on the probing
    session, so any session in the application probes under identical
    settings. A caller bypassing load_table with divergent confs would
    need the conf values folded into this key."""

    def probe():
        schema = spark.read.parquet(path).schema
        nanos = _nanos_timestamp_cols(path)
        # single-file row-group count for the _EXPRESSION_HEAVY fan-out
        # probe (footer read, cached for the same reason as the schema)
        groups = None
        if os.path.isfile(path):
            import pyarrow.parquet as pq

            groups = pq.ParquetFile(path).metadata.num_row_groups
        return schema, nanos, groups

    key = ("_probe_schema", spark.sparkContext.applicationId, sf_dir, name)
    return SESSION_CACHE.get(key, probe, sf_dir=sf_dir)


def _build_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Bucketed-layout opt-in (operators/bucketing): when the session catalog
    # holds a pre-bucketed copy (written once via write_bucketed, paying the
    # join shuffle at write time) and the operator asks for it, serve that —
    # equi-joins between identically-bucketed facts then plan with NO
    # Exchange. Opt-in by env so the parquet path stays the default and the
    # oracle contract is unaffected (same rows, different physical layout).
    if os.environ.get("SPARK_GRAFT_USE_BUCKETED") == "1":
        # the table name encodes the scale dir: a bucketed copy built from
        # one scale can never be served for another; the NORMALIZED marker
        # property (set by operators/bucketing.write_bucketed when its input
        # came through load_table) proves the copy has the timestamp
        # normalization below baked in — a bucketed table written from a raw
        # spark.read.parquet would silently skip it (round-6 ADVICE), so an
        # unmarked table is ignored rather than served.
        bt = f"sg_bucketed_{_dir_slug(sf_dir)}_{name}"
        if spark.catalog.tableExists(bt) and _bucketed_is_normalized(spark, bt):
            return spark.table(bt)
    path = table_path(sf_dir, name)
    schema, nanos_cols, row_groups = _probe_schema(spark, sf_dir, name, path)
    # explicit schema: skips per-call footer inference (the probe above is
    # cached); the relation itself is freshly built per call so two roles
    # of one table in a self-join keep distinct attribute ids
    df = spark.read.schema(schema).parquet(path)
    dtypes = dict(df.dtypes)
    # Normalize any TIMESTAMP_NTZ column (no-UTC-flag parquet read before the
    # inferTimestampNTZ conf landed, or a cached plan) to TIMESTAMP. Under the
    # pinned UTC session zone this is a pure reinterpretation — the same
    # instant the DuckDB oracle assigns the naive value.
    for c, dt in dtypes.items():
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    for c in nanos_cols:
        # Convert only when Spark actually surfaced the column as a long:
        # nanosAsLong applies to TIMESTAMP(NANOS) annotations, but pyarrow
        # also reports ns for INT96 timestamps (Spark's own writer default),
        # which Spark reads as proper timestamps — converting those would
        # fail on re-written (e.g. engine-exported) events tables.
        if dtypes.get(c) == "bigint":
            # integer div: double division would lose precision above 2^53 ns
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if name in _EXPRESSION_HEAVY and row_groups is not None:
        # footer-only row-group probe (cheaper than df.rdd.getNumPartitions(),
        # which pays a py4j DataFrame->RDD conversion per call); the count
        # itself rides the cached schema probe
        target = spark.sparkContext.defaultParallelism
        if row_groups < target:
            df = df.repartition(target)
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register every table under ``sf_dir`` as a temp view; return handles."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
