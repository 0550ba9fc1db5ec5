"""Ad-hoc SQL surface: arbitrary ANSI SQL over the registered views must
agree with DuckDB on the same statements (statements chosen to be valid
and deterministic in both dialects), and ``run_sql`` registers exactly the
testdata tables a statement names."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from thread_based_map_reduce_spark.plans.oracle_check import (
    duck_connection,
    frame_hash,
    frame_rows,
)
from thread_based_map_reduce_spark.plans.sqlapi import run_sql, tables_named
from thread_based_map_reduce_spark.sources.registry import TABLE_NAMES

STATEMENTS = [
    # multi-join + agg + having
    """
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name HAVING count(*) > 3
    """,
    # correlated scalar subquery
    """
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.9 FROM orders)
    """,
    # window + qualify-less top-1 per group via subquery
    """
    SELECT l_returnflag, CAST(max(l_orderkey) AS BIGINT) AS max_key,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    # orders appears only in a CTE body (the parser's innerChildren edge)
    """
    WITH busy AS (
        SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS n_orders
    FROM customer JOIN busy ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    # customer and supplier appear only in IN / EXISTS subqueries
    """
    SELECT n_name
    FROM nation
    WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 0)
      AND EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
    """,
    # an upper-case table name resolves to the lower-case view
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
    FROM ORDERS JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderstatus
    """,
]


def _drop_temp_views(spark):
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("i", range(len(STATEMENTS)))
def test_adhoc_sql_matches_duckdb(spark, sf_dir, i):
    sql = STATEMENTS[i]
    # no view left by an earlier case may stand in for a table the
    # statement's own registration missed
    _drop_temp_views(spark)
    spdf = run_sql(spark, sf_dir, sql).toPandas()
    with duck_connection(sf_dir) as con:
        opdf = con.execute(sql).df()
    assert len(spdf) > 0
    assert sorted(spdf.columns) == sorted(opdf.columns)
    assert frame_hash(frame_rows(spdf)) == frame_hash(frame_rows(opdf))


def test_registers_only_the_named_tables(spark, sf_dir):
    _drop_temp_views(spark)
    run_sql(
        spark,
        sf_dir,
        "SELECT n_name, count(*) AS n FROM nation "
        "JOIN customer ON c_nationkey = n_nationkey GROUP BY n_name",
    ).collect()
    assert _temp_views(spark) == {"nation", "customer"}


@pytest.mark.parametrize(
    "sql",
    ["SELECT * FROM no_such_table", "SELECT * FROM orders JOIN no_such_table ON true"],
)
def test_unknown_table_raises_spark_error(spark, sf_dir, sql):
    with pytest.raises(AnalysisException) as err:
        run_sql(spark, sf_dir, sql)
    assert err.value.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"


def test_explain_falls_back_to_every_table(spark, sf_dir):
    # EXPLAIN's command node hides its query from the parse-tree walk
    _drop_temp_views(spark)
    plan = run_sql(spark, sf_dir, "EXPLAIN SELECT count(*) FROM lineitem").collect()
    assert "lineitem.parquet" in plan[0][0]
    assert _temp_views(spark) == set(TABLE_NAMES)


@pytest.mark.parametrize(
    "sql, expected",
    [
        ("SELECT * FROM Part p JOIN lineitem l ON p_partkey = l_partkey", ("part", "lineitem")),
        # qualified names are not testdata views
        ("SELECT * FROM default.orders JOIN customer ON true", ("customer",)),
        ("SELECT * FROM default.orders", ()),
        # the parser leaves IDENTIFIER(...) names unresolved: no partial answer
        ("SELECT * FROM customer JOIN IDENTIFIER('orders') ON true", ()),
        ("SELECT * FROM", ()),
        ("EXPLAIN SELECT * FROM lineitem", ()),
    ],
)
def test_tables_named(spark, sql, expected):
    assert tables_named(spark, sql) == expected
