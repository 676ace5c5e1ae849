#!/usr/bin/env python
"""SQL front door (reference S11: DataStorage.query_data — arbitrary SQL over
the stored tables; src/ingestion/storage.py:384-401).

    python scripts/query.py --sf-dir /root/testdata/sf0.01 \
        "SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1"
    python scripts/query.py --storage-root data/tables \
        "SELECT * FROM food_supply_gaps WHERE year = 2023 ORDER BY rank LIMIT 10"

Registers every table under the given root as a temp view, runs the query
through Spark SQL (Catalyst plans it — pushdown/pruning/broadcast for free),
prints JSON lines (default) or a table.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="Run SQL over engine tables")
    ap.add_argument("sql", help="the SQL query")
    ap.add_argument("--sf-dir", default=None, help="testdata-style dir of <name>.parquet")
    ap.add_argument("--storage-root", default=None, help="engine ParquetStorage root")
    ap.add_argument(
        "--as-of",
        type=int,
        default=None,
        metavar="GEN",
        help="time-travel: resolve every --storage-root table at this "
        "retained generation (see ParquetStorage.history)",
    )
    ap.add_argument("--format", choices=["jsonl", "table"], default="jsonl")
    ap.add_argument("--limit", type=int, default=1000, help="max rows printed")
    ap.add_argument("--explain", action="store_true", help="print the physical plan too")
    args = ap.parse_args()
    if not args.sf_dir and not args.storage_root:
        ap.error("one of --sf-dir / --storage-root is required")
    if args.as_of is not None and args.sf_dir:
        ap.error("--as-of requires --storage-root")

    from nyc_open_data_pipeline_spark.session import get_spark

    spark = get_spark("query-cli")

    if args.sf_dir:
        from nyc_open_data_pipeline_spark.catalog import TESTDATA_TABLES, register_tables

        names = [
            n for n in TESTDATA_TABLES
            if os.path.exists(os.path.join(args.sf_dir, f"{n}.parquet"))
            or os.path.exists(os.path.join(args.sf_dir, n))
        ]
        register_tables(spark, args.sf_dir, tuple(names))
    else:
        from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

        root = args.storage_root
        storage = ParquetStorage(root)
        for name in sorted(os.listdir(root)):
            p = os.path.join(root, name)
            if not (os.path.isdir(p) and not name.startswith(("_", "."))):
                continue
            if "__" in name:
                continue  # lock dirs (<table>__lock) are not tables
            storage.read(spark, name, as_of=args.as_of).createOrReplaceTempView(name)

    df = spark.sql(args.sql)
    if args.explain:
        df.explain("formatted")
    rows = df.limit(args.limit)
    if args.format == "table":
        rows.show(args.limit, truncate=False)
    else:
        for line in rows.toJSON().collect():
            print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
