"""Streaming MERGE sink: ``foreachBatch`` -> latest-wins upsert state.

The batch engine's K3 upsert (pipeline/storage.py:60, reference
src/ingestion/storage.py:230-297 ON CONFLICT DO UPDATE) is
"incoming batch wins". A stream cannot rely on batch arrival order, so the
streaming MERGE is the ORDER-INDEPENDENT variant: per key keep the row
maximal under ``order_cols`` (last-writer-wins by event-time). That makes
the sink commutative across micro-batches and idempotent under replay —
the two properties checkpoint-recovery semantics (each batch may run
twice) actually require — and gives the query an exact batch oracle:
final state == batch latest-per-key over all input.

Scale shape: this fixture sink rewrites the whole state per batch (fine
for tests); production uses the partition-pruned MERGE
(the pruned path of ParquetStorage.upsert) so a micro-batch touches only the partitions its
keys live in.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession


def latest_upsert_sink(
    spark: SparkSession,
    state_dir: str,
    keys: list[str],
    order_cols: list[str],
    schema_ddl: str,
):
    """foreachBatch function maintaining parquet state at ``state_dir``."""
    from nyc_open_data_pipeline_spark.operators.dedup import dedup_keep_last

    def sink(batch_df, _batch_id: int) -> None:
        batch = dedup_keep_last(batch_df, keys, order_cols)
        if os.path.exists(state_dir):
            cur = spark.read.schema(schema_ddl).parquet(state_dir)
            merged = dedup_keep_last(
                cur.unionByName(batch), keys, order_cols
            )
        else:
            merged = batch
        from nyc_open_data_pipeline_spark.streaming.windows import record_stream_plan

        try:
            record_stream_plan(
                f"latest_upsert#batch{_batch_id}",
                merged._jdf.queryExecution().executedPlan().toString(),
            )
        except Exception:
            pass
        # stage-and-swap: Spark can't overwrite a path in its own read plan
        stage = f"{state_dir}__stage_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(stage)
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.replace(stage, state_dir)

    return sink
