"""Driver-contract safety net: __spark_entry__ must expose exactly what
the driver consumes, shaped the way it consumes it."""

from __future__ import annotations

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
