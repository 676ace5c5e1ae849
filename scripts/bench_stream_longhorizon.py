#!/usr/bin/env python
"""Long-horizon micro-batch probe: 20+ batches with periodic compaction.

Round-12 VERDICT #5: the pinned-band-key path, state compaction, and
checkpoint retirement are each unit-tested, but no measurement ran the
COMPOSED loop past 4 micro-batches. This probe replays the documents
corpus through an incremental sink as ``n_batches`` doc_id-ordered
micro-batches delivered in WAVES (each wave = one availableNow drain that
resumes the same checkpoint) with ``compact_after=True``, which folds the
seen-set table's per-batch segments into one (``compact_segments``) and
vacuums between drains — the documented periodic-compaction pattern — and
records after every wave:

- per-batch wall seconds (must stay FLAT: per-batch cost is fixed +
  bounded state-scan, not O(batches processed));
- the seen-set table's live segment and parquet-file counts (must stay
  BOUNDED by the wave size + 1 folded segment, not grow with history);
- its bytes (grow only with unique keys, not with batch count).

The seen-set table is the output table for ``dedup`` and the state table
for ``neardup`` and ``substring``.

Usage:
    PYTHONPATH=. python scripts/bench_stream_longhorizon.py \
        [sf_dir] [n_batches] [wave] [dedup|neardup|substring]

Prints one JSON line; SCALE.md's streaming section records the curves.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _state_stats(table_dir: str) -> dict:
    from nyc_open_data_pipeline_spark.pipeline.storage import table_at

    storage, table = table_at(table_dir)
    files = storage._live_data_files(table)
    segments = {
        seg for segs in storage._read_manifest(table)["parts"].values() for seg in segs
    }
    return {
        "segments": len(segments),
        "files": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def main() -> None:
    from nyc_open_data_pipeline_spark.catalog import load_table
    from nyc_open_data_pipeline_spark.session import get_spark
    from nyc_open_data_pipeline_spark.streaming.dedup import (
        run_incremental_dedup,
        run_incremental_neardup,
        run_incremental_substring,
    )
    from nyc_open_data_pipeline_spark.streaming.replay import ordered_range_chunks
    from nyc_open_data_pipeline_spark.streaming.windows import drain_batch_metrics

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    wave = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sink = sys.argv[4] if len(sys.argv) > 4 else "neardup"
    run = {
        "dedup": run_incremental_dedup,
        "neardup": run_incremental_neardup,
        "substring": run_incremental_substring,
    }[sink]

    spark = get_spark("stream_longhorizon")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    root = tempfile.mkdtemp(prefix=f"stlong_{sink}_")
    staging = os.path.join(root, "staging")
    feed = os.path.join(root, "feed")
    out = os.path.join(root, "out")
    state = os.path.join(root, "state")
    os.makedirs(feed, exist_ok=True)
    ordered_range_chunks(docs, "doc_id", staging, n_chunks=n_batches)
    chunks = sorted(os.listdir(staging))
    assert len(chunks) == n_batches

    drain_batch_metrics()  # discard any prior sinks' records
    batch_secs: list[float] = []
    survivors = 0
    waves: list[dict] = []
    t0 = time.perf_counter()
    for w in range(0, n_batches, wave):
        for c in chunks[w : w + wave]:
            os.rename(os.path.join(staging, c), os.path.join(feed, c))
        # one availableNow drain resuming the same checkpoint, then the
        # between-drain compaction (compact_after=True is exactly the
        # production periodic-compaction hook)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        if sink == "dedup":
            run(spark, stream, out, compact_after=True)
        else:
            run(spark, stream, out, state, compact_after=True)
        bm = drain_batch_metrics()
        batch_secs.extend(m["sec"] for m in bm)
        survivors += sum(m.get("n_out", 0) for m in bm)
        waves.append(
            {"after_batch": w + wave, **_state_stats(out if sink == "dedup" else state)}
        )
    wall = round(time.perf_counter() - t0, 2)

    half = len(batch_secs) // 2
    mean = lambda xs: round(sum(xs) / max(len(xs), 1), 3)  # noqa: E731
    print(
        json.dumps(
            {
                "metric": "stream_long_horizon",
                "sink": sink,
                "sf_dir": sf_dir,
                "n_batches": n_batches,
                "wave": wave,
                "wall_sec": wall,
                "survivors": survivors,
                "batch_secs": batch_secs,
                "batch_sec_mean_first_half": mean(batch_secs[:half]),
                "batch_sec_mean_second_half": mean(batch_secs[half:]),
                "state_curve": waves,
            }
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
