#!/usr/bin/env python
"""Dump or compare every registered query's DuckDB oracle SQL, normalized.

Usage:
  PYTHONPATH=. python scripts/oracle_texts.py --dump FILE
  PYTHONPATH=. python scripts/oracle_texts.py --compare FILE

Normalization, outside single-quoted string literals: runs of whitespace
collapse to one space, and whitespace next to ``(``, ``)`` and ``,`` is
dropped; literals (``', '``, ``' '``) are kept byte for byte. Two oracles that
normalize equal are the same query to DuckDB, so a refactor of how the SQL
strings are assembled can show oracle identity without running Spark or
DuckDB: dump at the parent commit, then compare at the change. ``--compare``
prints the names of the oracles that differ (or are missing / new) and exits
1 if there are any.
"""

from __future__ import annotations

import argparse
import json
import re
import sys

_WS = re.compile(r"\s+")
_PUNCT_WS = re.compile(r"\s*([(),])\s*")
_LITERAL = re.compile(r"('(?:[^']|'')*')")


def normalize(sql: str) -> str:
    parts = _LITERAL.split(sql)  # odd indices are the literals
    for i in range(0, len(parts), 2):
        parts[i] = _PUNCT_WS.sub(r"\1", _WS.sub(" ", parts[i]))
    return "".join(parts).strip()


def oracle_texts() -> dict[str, str]:
    from nyc_open_data_pipeline_spark.plans import all_queries

    return {
        name: normalize(spec.oracle)
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }


def compare(old: dict[str, str], new: dict[str, str]) -> list[str]:
    """Names whose normalized oracle differs, is missing or is new."""
    return sorted(n for n in old.keys() | new.keys() if old.get(n) != new.get(n))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--dump", metavar="FILE")
    mode.add_argument("--compare", metavar="FILE")
    args = ap.parse_args(argv)

    texts = oracle_texts()
    if args.dump:
        with open(args.dump, "w") as f:
            json.dump(texts, f, indent=0, sort_keys=True)
        print(f"dumped {len(texts)} oracles to {args.dump}")
        return 0
    with open(args.compare) as f:
        old = json.load(f)
    diff = compare(old, texts)
    for name in diff:
        print(f"DIFFERS {name}")
    print(f"{len(diff)} of {len(old.keys() | texts.keys())} oracles differ")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
