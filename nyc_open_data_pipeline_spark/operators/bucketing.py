"""Bucketed tables: pre-shuffled storage for repeated co-located joins.

The 100 TB strategy for fact-to-fact joins that recur on the same key
(SCALE.md): pay the shuffle ONCE at write time — `bucketBy(n, key)` hashes
rows into n buckets per the key, `sortBy` pre-sorts within buckets — and
every subsequent equi-join between identically-bucketed tables runs with NO
Exchange (and no Sort, if sorted): Catalyst recognizes the output
partitioning and plans a zero-shuffle sort-merge join.

Replaces the reference's Postgres indexes for the join-acceleration role
(reference storage.py:149-156 declares per-table indexes).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

# Entry names a managed Spark parquet write leaves behind — anything else in
# the directory means it is NOT ours to delete.
_MANAGED_ENTRY = ("part-", "_SUCCESS", "_committed_", "_started_", "_temporary")


def _is_stale_managed_dir(path: str) -> bool:
    """True iff ``path`` is a non-empty directory whose every entry is a
    regular FILE matching a Spark managed-write artifact pattern (part-files,
    _SUCCESS, commit markers, their .crc shadows). Guards the orphan-location
    reclaim in ``write_bucketed`` from deleting arbitrary same-named
    directories: an empty dir or a subdirectory named like an artifact
    (which could hold user data) is NOT reclaimable (ADVICE r8)."""
    try:
        entries = os.listdir(path)
    except OSError:
        return False
    if not entries:
        return False
    for name in entries:
        base = name[1:-4] if name.startswith(".") and name.endswith(".crc") else name
        if not base.startswith(_MANAGED_ENTRY):
            return False
        if not os.path.isfile(os.path.join(path, name)):
            return False
    return True


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) catalog table. At
    production scale pick buckets so each bucket file is ~128 MB-1 GB."""
    keys = [key] if isinstance(key, str) else key
    sess = df.sparkSession
    if "." in table:
        # a db-qualified name would compute the wrong orphan path below
        # (<warehouse>/<db>.db/<table>); the reclaim heuristic only handles
        # default-database names, so reject others explicitly (ADVICE r7)
        raise ValueError(
            f"write_bucketed requires an unqualified table name, got {table!r}"
        )
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    try:
        writer.saveAsTable(table)
    except Exception as e:
        # The default metastore is per-session: a managed table written by
        # an earlier session leaves its LOCATION behind with no catalog
        # entry, and saveAsTable fails with LOCATION_ALREADY_EXISTS.
        # Reclaim REACTIVELY and only after verifying the directory is a
        # stale managed Spark write (every entry a part-file / _SUCCESS /
        # commit marker) — a preemptive name-heuristic rmtree destroyed
        # legitimate same-named directories (ADVICE r7 medium).
        wh = sess.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        orphan = os.path.join(wh.removeprefix("file:"), table.lower())
        # prefer the stable error condition over message text; Spark 4
        # renames getErrorClass -> getCondition, so probe the new name
        # first, then the deprecated one, then the substring fallback for
        # exception types that carry neither (ADVICE r8)
        err_cls = getattr(e, "getCondition", lambda: None)() or getattr(
            e, "getErrorClass", lambda: None
        )()
        is_loc = err_cls == "LOCATION_ALREADY_EXISTS" or (
            err_cls is None and "LOCATION_ALREADY_EXISTS" in str(e)
        )
        if not is_loc or not _is_stale_managed_dir(orphan):
            raise
        shutil.rmtree(orphan)
        writer.saveAsTable(table)


def plan_string(df: DataFrame) -> str:
    """Executed-plan text (for asserting shuffle-freeness in tests)."""
    return df._jdf.queryExecution().executedPlan().toString()


def joins_without_shuffle(spark: SparkSession, left: str, right: str, on: list[str]) -> DataFrame:
    """Join two identically-bucketed tables on their bucket key. The
    returned plan contains no Exchange on either side — verify with
    ``plan_string``."""
    return spark.table(left).join(spark.table(right), on)
