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

Commit: the state is a ``ParquetStorage`` table. Each micro-batch merges
the batch into the published state and publishes the result as a full
rewrite whose manifest flip also records the batch id, then vacuums the
superseded copy. A crash anywhere before the flip leaves the previous
state published, so the replay merges into it again. The merge rewrites
the whole state per batch; a keyed production table takes the
partition-pruned path of ``ParquetStorage.upsert`` instead, so a
micro-batch touches only the partitions its keys live in.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from nyc_open_data_pipeline_spark.pipeline.schema import TableSchema
from nyc_open_data_pipeline_spark.pipeline.storage import table_at


def latest_upsert_sink(
    spark: SparkSession, state_dir: str, keys: list[str], order_cols: list[str]
):
    """foreachBatch function maintaining the latest row per key in the table
    at ``state_dir``."""
    from nyc_open_data_pipeline_spark.operators.dedup import dedup_keep_last
    from nyc_open_data_pipeline_spark.streaming.windows import record_frame_plan

    storage, table = table_at(state_dir)
    schema = TableSchema(table)

    def sink(batch_df, batch_id: int) -> None:
        if batch_id <= storage.committed_batch(table):
            return  # replay of an already-published batch
        merged = dedup_keep_last(batch_df, keys, order_cols)
        if storage.generation(table):
            merged = dedup_keep_last(
                storage.read(spark, table).unionByName(merged), keys, order_cols
            )
        record_frame_plan(f"latest_upsert#batch{batch_id}", merged)
        storage.overwrite(merged, schema, batch_id=batch_id)
        storage.vacuum(table)

    return sink
