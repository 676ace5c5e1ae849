"""Micro-batch fixed-overhead probe for the incremental ingest streams.

Round-7 VERDICT #5: st11 costs ~21 s at sf0.1 for a 4-batch replay while
its batch twin d22 costs ~1 s — the gap is per-micro-batch fixed cost
(plan setup, manifest reads and flips, checkpoint commit), not data. This probe
makes that claim a measurement: replay the SAME corpus through
``incremental_neardup_sink`` (and optionally the exact-hash sink) split
into n micro-batches for several n, then least-squares fit

    wall(n)  ~=  data_sec + fixed_per_batch_sec * n

The greedy first-seen acceptance rule is chunking-invariant under
doc_id-ordered replay (a doc's verdict depends only on keys of
smaller-id docs, never on batch boundaries), so the probe also asserts
the survivor COUNT is identical across every chunking — a free
correctness check that the state flow doesn't leak across batch sizes.

Usage:
    PYTHONPATH=. python scripts/bench_stream_batches.py \
        [sf_dir] [comma-separated chunk counts] [neardup|dedup]

Prints one JSON line; SCALE.md's streaming section records the curve.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    from nyc_open_data_pipeline_spark.catalog import load_table
    from nyc_open_data_pipeline_spark.session import get_spark
    from nyc_open_data_pipeline_spark.streaming.dedup import (
        run_incremental_dedup,
        run_incremental_neardup,
    )
    from nyc_open_data_pipeline_spark.streaming.replay import (
        ordered_range_chunks,
    )
    from nyc_open_data_pipeline_spark.streaming.windows import (
        drain_batch_metrics,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    chunk_counts = [
        int(c)
        for c in (sys.argv[2] if len(sys.argv) > 2 else "2,4,10,20").split(",")
    ]
    sink = sys.argv[3] if len(sys.argv) > 3 else "neardup"
    def run(stream, root: str) -> None:
        out, state = os.path.join(root, "out"), os.path.join(root, "state")
        if sink == "dedup":
            run_incremental_dedup(spark, stream, out)
        else:
            run_incremental_neardup(spark, stream, out, state)

    spark = get_spark("stream_batch_probe")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    runs = []
    for n in [None] + chunk_counts:  # None = untimed warm-up pass
        if n is None:
            # first-ever foreachBatch drain pays one-time session costs
            # (Python worker pool, Arrow init, storage code paths) that
            # would otherwise land entirely on the first timed point
            root = tempfile.mkdtemp(prefix=f"stprobe_{sink}_warm_")
            feed = os.path.join(root, "feed")
            ordered_range_chunks(docs, "doc_id", feed, n_chunks=2)
            run(spark.readStream.schema(
                "doc_id long, text string"
            ).option("maxFilesPerTrigger", 1).parquet(feed), root)
            drain_batch_metrics()
            shutil.rmtree(root, ignore_errors=True)
            continue
        root = tempfile.mkdtemp(prefix=f"stprobe_{sink}_{n}_")
        feed = os.path.join(root, "feed")
        ordered_range_chunks(docs, "doc_id", feed, n_chunks=n)
        drain_batch_metrics()  # discard any prior sinks' records
        t0 = time.perf_counter()
        run(docs.sparkSession.readStream.schema(
            "doc_id long, text string"
        ).option("maxFilesPerTrigger", 1).parquet(feed), root)
        wall = round(time.perf_counter() - t0, 2)
        bm = drain_batch_metrics()
        runs.append(
            {
                "n_chunks": n,
                "wall_sec": wall,
                "n_batches": len(bm),
                "survivors": sum(m.get("n_out", 0) for m in bm),
                "batch_secs": [m["sec"] for m in bm],
            }
        )
        shutil.rmtree(root, ignore_errors=True)

    # chunking-invariance: same corpus, same greedy rule -> same survivors
    counts = {r["survivors"] for r in runs}
    assert len(counts) == 1, f"survivor count varies with chunking: {runs}"

    xs = [float(r["n_batches"]) for r in runs]
    ys = [r["wall_sec"] for r in runs]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    print(
        json.dumps(
            {
                "metric": "stream_batch_overhead",
                "sink": sink,
                "sf_dir": sf_dir,
                "runs": runs,
                "fit": {
                    "fixed_per_batch_sec": round(slope, 2),
                    "data_sec": round(my - slope * mx, 2),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
