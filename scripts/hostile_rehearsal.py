#!/usr/bin/env python3
"""Pre-round rehearsal of the driver's correctness gate, hostile edition.

The driver supplies its OWN SparkSession (its own timezone, shuffle
parallelism, no engine defaults) and compares the first ~50 entries of
``queries()`` (registration order) against ``oracle_sql()`` on DuckDB at
sf0.01. This script reproduces that as faithfully as possible: a session
built with a non-UTC timezone and awkward shuffle.partitions, then
compare_query over the first N catalog entries — any query that relies
on an engine-built session instead of pinning what it needs fails HERE
instead of in the driver run.

Usage: python scripts/hostile_rehearsal.py [sf_dir] [first_n]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from thread_based_map_reduce_spark.plans.catalog import CATALOG, queries  # noqa: E402
from thread_based_map_reduce_spark.plans.oracle_check import (  # noqa: E402
    compare_query,
    duck_connection,
)


def hostile_session() -> SparkSession:
    return (
        SparkSession.builder.master("local[32]")
        .appName("hostile-rehearsal")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("TBMR_DRIVER_MEM", "24g"))
        .getOrCreate()
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    first_n = int(sys.argv[2]) if len(sys.argv) > 2 else 52

    spark = hostile_session()
    con = duck_connection(sf_dir)

    failures = []
    for name, fn in list(queries().items())[:first_n]:
        t0 = time.time()
        try:
            res = compare_query(spark, con, name, fn, CATALOG[name].oracle, sf_dir)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:28s} {type(e).__name__}: {e}")
            continue
        dt = time.time() - t0
        if not res.ok:
            failures.append(name)
            print(f"FAIL  {name:28s} {'; '.join(res.problems)}")
        elif not res.oracle_checked:
            print(f"ok?   {name:28s} rows={res.rows} (rows-only: no oracle) [{dt:.1f}s]")
        else:
            print(f"PASS  {name:28s} rows={res.rows} [{dt:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
