#!/usr/bin/env python
"""Dump .explain('formatted') for named queries to plans/<tag>/<query>.txt.

Usage: PYTHONPATH=. python scripts/dump_plans.py <tag> <query> [<query> ...]

A working aid for plan inspection: dump a before/after pair around a change
and diff it. The dumps are local scratch output, not committed files (the
repo-root plans/ directory is git-ignored). Plans are captured at sf0.1 (the
bench scale) with the same session the bench uses.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)

    from nyc_open_data_pipeline_spark.plans import all_queries
    from nyc_open_data_pipeline_spark.session import get_spark

    spark = get_spark("dump_plans")
    specs = all_queries()
    for name in names:
        if name not in specs:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        try:
            df = specs[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
