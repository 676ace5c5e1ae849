#!/usr/bin/env python
"""Continuous-ingest CLI: the reference's cron-driven re-ingest
(update_frequency in its dataset configs) as one Structured Streaming job.

    python scripts/stream_ingest.py --dataset food_supply_gap \
        --checkpoint data/ckpt/food_supply_gap --poll-interval "60 seconds"

Runs until interrupted; restart resumes from the checkpoint's row offset
(sources/socrata.py SocrataStreamReader).
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="Continuously ingest a Socrata dataset")
    ap.add_argument("--dataset", required=True, help="registry key")
    ap.add_argument("--registry", default="datasets/registry.yaml")
    ap.add_argument("--storage-root", default="data/tables")
    ap.add_argument("--checkpoint", required=True, help="checkpoint directory")
    ap.add_argument("--poll-interval", default="60 seconds")
    ap.add_argument("--pages-per-batch", type=int, default=10)
    args = ap.parse_args()

    logging.basicConfig(level=logging.INFO)

    from nyc_open_data_pipeline_spark.config import load_dataset_config
    from nyc_open_data_pipeline_spark.pipeline.ingest import stream_ingest
    from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage
    from nyc_open_data_pipeline_spark.session import get_spark
    from nyc_open_data_pipeline_spark.sources import register_data_sources

    spark = get_spark("stream_ingest")
    register_data_sources(spark)
    cfg = load_dataset_config(args.registry, args.dataset)
    storage = ParquetStorage(args.storage_root)
    q = stream_ingest(
        spark,
        cfg,
        storage,
        args.checkpoint,
        pages_per_batch=args.pages_per_batch,
        poll_interval=args.poll_interval,
    )
    try:
        q.awaitTermination()
    except KeyboardInterrupt:
        q.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
