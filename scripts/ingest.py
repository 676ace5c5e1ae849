#!/usr/bin/env python
"""Batch ETL CLI (reference scripts/ingest_data.py:213-268).

    python scripts/ingest.py --dataset food_supply_gap
    python scripts/ingest.py --dataset all --storage-root data/tables
    python scripts/ingest.py --dataset zillow_zori --dry-run
    python scripts/ingest.py --dataset food_supply_gap --filter '{"year": 2023}'
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="Ingest datasets into the engine")
    ap.add_argument("--dataset", required=True, help="registry key or 'all'")
    ap.add_argument("--registry", default="datasets/registry.yaml")
    ap.add_argument("--storage-root", default="data/tables")
    ap.add_argument("--cache-dir", default="data/raw")
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--force", action="store_true", help="re-download cached files")
    ap.add_argument("--filter", default=None, help="JSON filter dict pushed to source")
    args = ap.parse_args()

    logging.basicConfig(level=logging.INFO)
    filters = json.loads(args.filter) if args.filter else None

    from nyc_open_data_pipeline_spark.config import load_dataset_config, load_registry
    from nyc_open_data_pipeline_spark.pipeline.ingest import ingest_dataset
    from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage
    from nyc_open_data_pipeline_spark.session import get_spark
    from nyc_open_data_pipeline_spark.sources import register_data_sources

    spark = get_spark("ingest")
    register_data_sources(spark)
    storage = ParquetStorage(args.storage_root)

    registry = load_registry(args.registry)
    keys = (
        [k for k, e in registry.items() if e.enabled]
        if args.dataset == "all"
        else [args.dataset]
    )
    rc = 0
    for key in keys:
        entry = registry.get(key)
        if entry is None:
            print(f"unknown dataset {key!r}", file=sys.stderr)
            return 2
        if not entry.enabled:
            logging.info("%s disabled, skipping", key)
            continue
        cfg = load_dataset_config(args.registry, key)
        try:
            res = ingest_dataset(
                spark, cfg, storage, filters=filters, dry_run=args.dry_run, force=args.force
            )
            print(f"{key}: {res.status} records={res.record_count} stored={res.stored_count}")
            if res.status == "success":
                # a commit leaves the segments it superseded on disk until
                # vacuum; sweep them so the warehouse does not grow per run
                storage.vacuum(entry.table_name)
                storage.vacuum(storage.META_TABLE)
        except Exception as e:  # keep going on 'all' (reference :180-210)
            logging.exception("%s failed: %s", key, e)
            rc = 1
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
