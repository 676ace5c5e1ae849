"""Local replica of the correctness driver's gate.

Runs every ``__spark_entry__.queries()`` entry under a BARE SparkSession
(no engine confs — Spark 4 defaults, ANSI on, like the driver's own session)
at sf=0.01 and compares against ``oracle_sql()`` via DuckDB: row count,
schema (column names), and an order-insensitive value hash after sorting
columns by name and rows by all values.

Usage:
    python scripts/verify_driver.py [--sf-dir SF_DIR] [--only name1,name2]

Exit code 0 iff every checked query matches (rows-only queries pass on
successful execution).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, "/root/repo")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr() keeps full double precision; both sides produce IEEE doubles
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = ["\x01".join(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x02")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(queries)
    if args.only:
        wanted = args.only.split(",")
        names = [n for n in names if n in wanted]

    # Bare session: deliberately NO engine confs — mirrors the driver.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify_driver")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = _duck(args.sf_dir)

    results: dict[str, dict] = {}
    fails = []
    for name in names:
        t0 = time.time()
        rec: dict = {}
        try:
            sdf = queries[name](spark, args.sf_dir)
            spdf = sdf.toPandas()
            rec["spark_rows"] = len(spdf)
            if name in oracles:
                odf = con.execute(oracles[name]).df()
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(spdf) == len(odf)
                rec["schema_match"] = sorted(spdf.columns) == sorted(odf.columns)
                rec["hash_match"] = (
                    rec["schema_match"] and _value_hash(spdf) == _value_hash(odf)
                )
                ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
            else:
                rec["err"] = "no_oracle"
                ok = True
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
            ok = False
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        status = "OK " if ok else "FAIL"
        if not ok:
            fails.append(name)
        print(f"{status} {name:28s} {rec.get('sec', 0):6.2f}s "
              f"rows={rec.get('spark_rows')} {rec.get('err') or ''}", flush=True)

    print(json.dumps({"checked": len(names), "failed": fails}))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
