"""Ad-hoc SQL surface over the testdata tables.

The reference has no SQL layer at all (SURVEY §2: "no SQL, no optimizer");
here arbitrary ANSI SQL is a first-class entry point: ``run_sql`` parses the
statement with Spark's own parser, registers a temp view for each testdata
table it names, then hands it to ``spark.sql`` — Catalyst plans it with the
same pushdown/pruning/broadcast machinery the catalog queries get. Every call
re-reads the footers of the tables it registers, so a replaced file or a new
``sf_dir`` is never served from an earlier call's view.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from ..session import pin_session_defaults
from ..sources.registry import TABLE_NAMES, load_table


def _register(spark: SparkSession, sf_dir: str, names) -> None:
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def tables_named(spark: SparkSession, sql: str) -> tuple[str, ...]:
    """The testdata tables ``sql`` names, in ``TABLE_NAMES`` order.

    Walks the parsed (unresolved) plan for ``UnresolvedRelation``s along the
    three edges a relation can hang off: ``children``, ``innerChildren``
    (the CTE bodies of ``WITH``) and ``subqueries`` (``IN``/``EXISTS``/scalar
    subqueries). Only single-part names match, case-insensitively; a
    qualified name such as ``default.orders`` is not a testdata view.

    Returns ``()`` when the walk cannot tell: the statement does not parse,
    a command hides its query (``EXPLAIN ...``), or a relation is named
    through ``IDENTIFIER(...)``, which the parser leaves unresolved.
    """
    try:
        found = _relations(
            spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        )
    # a parse error (spark.sql raises it as Spark's own) or a node the walk
    # cannot follow
    except Py4JError:
        return ()
    return tuple(name for name in TABLE_NAMES if name in found)


def _relations(plan) -> set[str]:
    """Lower-cased single-part relation names in a parsed plan, or an empty
    set if one is named through ``IDENTIFIER(...)``."""
    found, seen, todo = set(), set(), [plan]
    while todo:
        node = todo.pop()
        # structurally equal subtrees name the same tables; skipping them
        # also keeps a subquery reached by two edges from being walked twice
        if node in seen:
            continue
        seen.add(node)
        kind = node.nodeName()
        if kind == "PlanWithUnresolvedIdentifier":
            return set()
        if kind == "UnresolvedRelation":
            parts = node.multipartIdentifier()
            if parts.length() == 1:
                found.add(parts.head().lower())
        for edge in (node.children(), node.innerChildren(), node.subqueries()):
            todo.extend(edge.apply(i) for i in range(edge.length()))
    return found


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """One-shot: register the views ``sql`` reads, run it, return the
    DataFrame. A statement whose tables the parser cannot show
    (see ``tables_named``) gets every table registered."""
    pin_session_defaults(spark)
    _register(spark, sf_dir, tables_named(spark, sql) or TABLE_NAMES)
    return spark.sql(sql)
