"""Streaming incremental deduplication (foreachBatch sinks on ParquetStorage).

The batch flow is ``plans/llmdata.d8_incremental_dedup`` (new batch
left_anti-joined against the corpus's content-hash set); this module runs
the same anti-join per micro-batch inside ``foreachBatch``. That is the
production shape for continuous corpus ingestion at 100 TB:

- every sink table is a ``ParquetStorage`` table, named by its directory
  (root = the parent dir, name = the last component). Each micro-batch appends
  one segment whose rows carry a ``batch`` column, and publishes it in one
  manifest flip that also records the batch id. A checkpoint replay of a
  batch at or below the recorded id is a no-op; a crash before the flip
  leaves an invisible segment for ``vacuum``. The ids are the checkpoint's,
  so a stream restarted from a fresh checkpoint needs fresh tables: its
  ids restart at 0 and would read as replays;
- the exact-hash sink keeps ONE table: the seen-set is its output's
  ``content_hash`` column. The near-dup and substring sinks keep a narrow
  key table next to their output and publish it first, so the output's
  batch id marks the batch done. Every seen-set read keeps ``batch < id``,
  so a replay after a crash between the two flips recomputes exactly;
- within-batch duplicates collapse first (groupBy hash, keep min id) so the
  anti-join's left side is already distinct;
- ``compact_after`` folds the per-batch segments of the table each batch
  scans into one (``ParquetStorage.compact_segments``) and vacuums, so the
  seen-set scan stays bounded by the batches since the last drain.

No counterpart in the reference (batch CLI only — SURVEY §2.13); this
extends d8 the way st1/st2 extend e1/a-family.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nyc_open_data_pipeline_spark.operators.dedup import (
    band_keys,
    maximal_spans,
    normalized_text,
    token_gram_rows,
)
from nyc_open_data_pipeline_spark.pipeline.schema import TableSchema
from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage, table_at
from nyc_open_data_pipeline_spark.session import retire_local_checkpoint
from nyc_open_data_pipeline_spark.streaming.windows import (
    record_batch_metrics,
    record_frame_plan,
)

_DRAIN_TIMEOUT_S = 1800  # hard ceiling; measured drains stop well short (st11 sf1: 161 s)


def _await_drained(q, label: str) -> None:
    """Wait for an availableNow query to DRAIN, and refuse to let a timeout
    masquerade as success: awaitTermination(t) returns False while the
    query is still running, in which case the caller would read a
    partially-written output dir as the answer (and the live query would
    keep appending to a dir already consumed). Stop and fail loudly."""
    if q.awaitTermination(_DRAIN_TIMEOUT_S):
        return
    q.stop()
    raise TimeoutError(
        f"{label}: stream not drained after {_DRAIN_TIMEOUT_S}s - "
        "output would be truncated; raise _DRAIN_TIMEOUT_S or shrink the feed"
    )


def hashed_docs(df: DataFrame) -> DataFrame:
    """(doc_id, content_hash) with the engine-wide normalization (d1/d8)."""
    return df.select(
        "doc_id", F.md5(normalized_text(F.col("text"))).alias("content_hash")
    )


def _seen(
    spark: SparkSession, storage: ParquetStorage, table: str, batch_id: int, cols
) -> DataFrame | None:
    """``cols`` of the rows earlier batches published into ``table``; None
    before its first commit. ``batch < batch_id`` keeps out rows that this
    batch's own crashed attempt already published."""
    if not storage.generation(table):
        return None
    return storage.read(spark, table).filter(F.col("batch") < batch_id).select(*cols)


def _publish(
    storage: ParquetStorage, df: DataFrame, table: str, batch_id: int
) -> int | None:
    """Append ``df``, tagged with its ``batch``, to ``table`` under the
    batch token. Returns the rows written, observed on the write job itself
    (no count job); None when the table already holds the batch."""
    obs = Observation()
    tagged = df.withColumn("batch", F.lit(batch_id).cast("long")).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    if storage.create_or_append(tagged, TableSchema(table), batch_id=batch_id):
        return obs.get["n"]
    return None


def _drain(
    stream: DataFrame, sink, label: str, out_dir: str, compact_dir: str | None
) -> None:
    """Drain all currently-available input through ``sink``, checkpointing
    in ``out_dir``. Then, at that safe point (no batch in flight), fold the
    per-batch segments of the table at ``compact_dir`` into one and sweep
    the superseded ones."""
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, label)
    if compact_dir:
        storage, table = table_at(compact_dir)
        storage.compact_segments(stream.sparkSession, TableSchema(table))
        storage.vacuum(table)


def incremental_dedup_sink(spark: SparkSession, out_dir: str):
    """foreachBatch function: per micro-batch, collapse within-batch dupes
    (keep the smallest doc_id per hash), drop hashes already in the output
    table at ``out_dir``, then append the survivors ``(doc_id,
    content_hash, batch)``.

    Exactly-once under replay: the batch's rows and its id publish in one
    manifest flip, so a replay either finds the id recorded (no-op) or
    finds nothing of the batch visible and recomputes it from the same
    pre-batch seen-set."""
    storage, table = table_at(out_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= storage.committed_batch(table):
            return  # replay of an already-published batch
        t0 = time.perf_counter()
        batch = (
            hashed_docs(batch_df)
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        seen = _seen(spark, storage, table, batch_id, ["content_hash"])
        if seen is not None:
            batch = batch.join(seen, "content_hash", "left_anti")
        record_frame_plan(f"incremental_dedup#batch{batch_id}", batch)
        n_out = _publish(storage, batch.select("doc_id", "content_hash"), table, batch_id)
        record_batch_metrics(
            sink="incremental_dedup",
            batch_id=batch_id,
            n_out=n_out,
            sec=round(time.perf_counter() - t0, 3),
        )

    return process


def run_incremental_dedup(
    spark: SparkSession, stream: DataFrame, out_dir: str, compact_after: bool = False
) -> None:
    """Drain all currently-available input through the dedup sink."""
    _drain(
        stream,
        incremental_dedup_sink(spark, out_dir),
        "incremental_dedup",
        out_dir,
        out_dir if compact_after else None,
    )


def incremental_neardup_sink(spark: SparkSession, out_dir: str, state_dir: str):
    """foreachBatch function for continuous NEAR-dup filtering: the
    MinHash-LSH analogue of ``incremental_dedup_sink``. State is the
    distinct (band, band_key) set of EVERY document processed so far —
    narrow (two small columns), mergeable, bucketable by band_key.

    Semantics (deterministic, set-at-once computable, stream==batch): a
    document is accepted iff every one of its band keys is FIRST seen by
    itself — i.e. no document with a smaller doc_id (ingested earlier;
    the replay is doc_id-ordered) shares any LSH band with it. This is
    the conservative crawl-scale near-dup gate (drop on band collision,
    no exact verify — the verified variant is the batch d4 path), and
    "seen" deliberately includes keys of REJECTED documents: acceptance
    then has no sequential chain dependence inside a batch, so a
    micro-batch is one join, not an iteration. Within a batch the rule
    is doc_id == MIN(doc_id) per key; across batches it is an anti-join
    against the state table. Documents too short to shingle have no band
    keys and are excluded (they are not near-dup candidates of anything;
    the line-level d15 path owns short text).

    Idempotence under checkpoint replay: the state table publishes first
    and the output last (see the module docstring)."""
    out_st, out = table_at(out_dir)
    state_st, state = table_at(state_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= out_st.committed_batch(out):
            return  # replay of an already-published batch
        t0 = time.perf_counter()
        # pin the band keys ONCE per batch: bk feeds five consumers
        # (firsts, the within-batch hit join, the state semi-join, the
        # survivor anti-join, new_keys), and without materialization each
        # re-reads the micro-batch feed and recomputes the 16-perm minhash
        # — measured 7.2 s/batch vs the batch-mode d22's 0.4 s for the
        # same logical work (round 12). Retired after the writes.
        bk = (
            band_keys(batch_df)
            .filter(F.length("band_key") > 0)
            .withColumnRenamed("id", "doc_id")
            .localCheckpoint(eager=True)
        )
        firsts = bk.groupBy("band", "band_key").agg(
            F.min("doc_id").alias("first_id")
        )
        dropped = (
            bk.join(firsts, ["band", "band_key"])
            .filter(F.col("first_id") < F.col("doc_id"))
            .select("doc_id")
        )
        # store each unique (band, band_key) once: keys already in prior
        # state add nothing to the semi-join semantics but would grow state
        # with total occurrences (same ADVICE-r8 hazard as the substring sink)
        new_keys = bk.select("band", "band_key").distinct()
        seen = _seen(spark, state_st, state, batch_id, ["band", "band_key"])
        if seen is not None:
            dropped = dropped.unionByName(
                bk.join(seen, ["band", "band_key"], "left_semi").select("doc_id")
            )
            new_keys = new_keys.join(seen, ["band", "band_key"], "left_anti")
        survivors = (
            bk.select("doc_id")
            .distinct()
            .join(dropped, "doc_id", "left_anti")
        )
        record_frame_plan(f"incremental_neardup#batch{batch_id}", survivors)
        n_new_keys = _publish(state_st, new_keys, state, batch_id)
        n_out = _publish(out_st, survivors, out, batch_id)
        retire_local_checkpoint(bk)
        record_batch_metrics(
            sink="incremental_neardup",
            batch_id=batch_id,
            n_out=n_out,
            n_new_keys=n_new_keys,
            sec=round(time.perf_counter() - t0, 3),
        )

    return process


def run_incremental_neardup(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    state_dir: str,
    compact_after: bool = False,
) -> None:
    """Drain all currently-available input through the near-dup sink."""
    _drain(
        stream,
        incremental_neardup_sink(spark, out_dir, state_dir),
        "incremental_neardup",
        out_dir,
        state_dir if compact_after else None,
    )


def deduped_events(stream: DataFrame, delay: str = "3650 days") -> DataFrame:
    """Native streaming dedup: ``dropDuplicatesWithinWatermark`` on the
    event id — the built-in operator for collapsing at-least-once delivery
    (retries, replays) to exactly-once rows, complementing the foreachBatch
    corpus-hash flow above. State holds one entry per id seen inside the
    watermark delay and is evicted as event time advances past it — the
    delay is the REPLAY BOUND, sized to the source's max redelivery lag
    (generous here so the whole test corpus stays in one dedup horizon;
    at scale: minutes-to-hours, keeping state at |ids per horizon|, not
    |corpus|)."""
    return stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["event_id"])


_SUBSTR_N = 10


def incremental_substring_sink(spark: SparkSession, out_dir: str, state_dir: str):
    """foreachBatch sink for CONTINUOUS exact-substring dedup (d26's
    streaming twin, keep-first orientation): per micro-batch, every
    document's >= N-token windows are checked against (a) the accumulated
    gram-hash state from PRIOR batches and (b) lower-doc_id documents in
    the SAME batch; maximal duplicated spans are appended to the table at
    ``out_dir`` and the batch's distinct NEW gram hashes (anti-joined
    against prior state, so state holds each unique gram once) to the one
    at ``state_dir``. Because the
    replayed micro-batches are doc_id-ordered ranges, "prior state or
    lower id in batch" equals "any lower doc_id globally", so the
    streamed spans equal the batch keep-first answer exactly (st3's
    equivalence argument). Same idempotence discipline as the near-dup
    sink: state published first, output last, seen-set read ``batch < id``."""
    out_st, out = table_at(out_dir)
    state_st, state = table_at(state_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= out_st.committed_batch(out):
            return  # replay of an already-published batch
        t0 = time.perf_counter()
        grams = token_gram_rows(batch_df, n=_SUBSTR_N).localCheckpoint(
            eager=True
        )
        # within-batch keep-first: groupBy partial-agg (skew-safe) +
        # join-back with the build side PINNED to the aggregated mins via
        # shuffle_hash hint. The hint closes BOTH hazards at once
        # (round 10, ADVICE r9): it forces a shuffled join, so Catalyst's
        # expansion-blind static estimate can never broadcast the
        # exploded GRAMS side (the d26 sf100 killer the round-9 window
        # rewrite was dodging), and unlike that window — whose per-gram
        # partition serializes a hot gram (batch-wide boilerplate) into
        # ONE task — a shuffled join's fact-side exchange is exactly
        # what AQE's skew-join optimization can split.
        mins = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
        hits = (
            grams.join(mins.hint("shuffle_hash"), "g")
            .filter(F.col("doc_id") > F.col("first_doc"))
            .select("doc_id", "p")
        )
        new_grams = grams.select("g").distinct()
        seen = _seen(spark, state_st, state, batch_id, ["g"])
        if seen is not None:
            hits = hits.unionByName(
                grams.join(seen, "g", "semi").select("doc_id", "p")
            ).distinct()
            # write only grams NOT already in state: otherwise state grows
            # with total gram occurrences instead of unique grams, and the
            # per-batch seen-scan compounds on duplicate-heavy streams
            # (ADVICE r8; mirrors incremental_dedup_sink writing survivors
            # only)
            new_grams = new_grams.join(seen, "g", "anti")
        spans = maximal_spans(hits, _SUBSTR_N)
        record_frame_plan(f"incremental_substring#batch{batch_id}", spans)
        _publish(state_st, new_grams, state, batch_id)
        n_out = _publish(out_st, spans, out, batch_id)
        record_batch_metrics(
            sink="incremental_substring",
            batch_id=batch_id,
            n_out=n_out,
            sec=round(time.perf_counter() - t0, 3),
        )
        retire_local_checkpoint(grams)

    return process


def run_incremental_substring(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    state_dir: str,
    compact_after: bool = False,
) -> None:
    """Drain all currently-available input through the substring-dedup sink."""
    _drain(
        stream,
        incremental_substring_sink(spark, out_dir, state_dir),
        "incremental_substring",
        out_dir,
        state_dir if compact_after else None,
    )
