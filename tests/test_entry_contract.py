"""Driver-contract safety net: __spark_entry__ must expose exactly what
the driver consumes, shaped the way it consumes it."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"ch", "cnt"}


def test_queries_and_oracles_aligned(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 90
    # every oracle belongs to a query; every entry is callable / a string
    assert set(oracles) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())
    # zero rows-only entries since round 5: every query is oracle-backed
    # (multimodal decode/resize gained real-PGM oracles in round 3,
    # ivf_kmeans_assignments an exact-replay oracle in round 4, and
    # approx_aggregates an accuracy-contract oracle in round 5)
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_catalog_order_is_deterministic():
    """Order is a pure function of committed source: the catalog's
    registration order, identical across calls, every entry present."""
    from thread_based_map_reduce_spark.plans.catalog import CATALOG

    names = list(entrymod.queries())
    assert names == list(entrymod.queries())  # stable across calls
    assert names == list(CATALOG)
    assert list(entrymod.oracle_sql()) == names
    assert len(names) == 347


def test_catalog_order_does_not_depend_on_import_order():
    """A process that imported an operator module first lists the catalog
    in the same order as a fresh one (what the driver sees)."""
    import os
    import subprocess
    import sys

    def order(first_import: str) -> list[str]:
        code = first_import + "import __spark_entry__ as e; print(*e.queries())"
        return subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).stdout.split()

    fresh = order("")
    assert len(fresh) == 347
    assert order("import thread_based_map_reduce_spark.operators.analytics; ") == fresh


# The entries among the first 52 of a fresh process's registration order
# (what a caller of __spark_entry__ sees) whose oracle reads `events`: the
# ones a session timezone can move. In this process other test modules may
# have imported operator modules first, so the order here can differ.
_EVENTS_ENTRIES = (
    "window_running_sum",
    "window_lag_gap",
    "json_extract",
    "asof_join_signup",
    "range_join_clicks",
    "events_tumbling_hour",
    "sessionize",
    "ams_f2_sketch_estimate",
)


def test_entries_under_a_session_the_engine_did_not_build(spark, sf_dir):
    """A caller of __spark_entry__ supplies its own session: a non-UTC
    timezone and an odd shuffle width must not change what the entry or
    any events-reading entry returns."""
    from thread_based_map_reduce_spark.plans.oracle_check import (
        compare_query,
        duck_connection,
    )

    tz_key, parts_key = "spark.sql.session.timeZone", "spark.sql.shuffle.partitions"
    tz, parts = spark.conf.get(tz_key), spark.conf.get(parts_key)
    fns, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in _EVENTS_ENTRIES:
        assert re.search(r"\bevents\b", oracles[name]), name
    con = duck_connection(sf_dir)
    try:
        spark.conf.set(parts_key, "7")
        spark.conf.set(tz_key, "America/New_York")
        assert entrymod.entry(spark).count() > 0
        for name in _EVENTS_ENTRIES:
            # the catalog wrapper pins UTC, so each entry starts hostile again
            spark.conf.set(tz_key, "America/New_York")
            res = compare_query(spark, con, name, fns[name], oracles[name], sf_dir)
            assert res.ok and res.oracle_checked, (name, res.problems)
    finally:
        spark.conf.set(tz_key, tz)
        spark.conf.set(parts_key, parts)
        con.close()
