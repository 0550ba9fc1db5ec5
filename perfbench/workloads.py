"""The two workloads: what one round runs, and how its output is checked.

A round runs the workload's operations in a fixed order; the seed picks the
data and the SQL statements' parameters. Each operation builds its plan
through the engine's public API on an input path no earlier operation in
the process has read (see ``gen.fresh_copy``). The correctness gate runs
after the timed region and compares every result with a DuckDB oracle over
the same generated files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np

# Input sizes. The star schema is small on purpose (per-query fixed costs
# dominate an analyst's loop). The corpus is small too: the engine's fixed
# costs per job dominate a round at any size that fits a run.
ADHOC_SF = 0.01
ADHOC_DOCS = 2000
CORPUS_DOCS = 4000

CATALOG_QUERIES = ("tpch_q1", "window_topk_per_group")
MR_QUERIES = ("mr_charcount", "mr_wordcount_filtered", "mr_lang_source_expand")
CURATE = "curate_corpus"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Ad-hoc statements in the dialect Spark and DuckDB share; sums are over
# integers so both engines agree to the digit. Three statements and two
# catalog queries: with more statements than catalog queries per round the
# median latency falls inside the statements' cluster, not between the
# statements and the faster catalog queries.
SQL_TEMPLATES: dict[str, Callable[[np.random.Generator], str]] = {
    "sql_busy_customers": lambda r: (
        "SELECT c.c_custkey AS custkey, count(*) AS n_orders FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE c.c_mktsegment = '{SEGMENTS[int(r.integers(0, 5))]}' "
        f"AND o.o_orderdate >= TIMESTAMP '{1995 + int(r.integers(0, 5))}-01-01 00:00:00' "
        f"GROUP BY c.c_custkey HAVING count(*) >= {int(r.integers(2, 5))}"
    ),
    "sql_events_week": lambda r: (
        "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users, "
        "max(value) AS top FROM events "
        f"WHERE ts >= TIMESTAMP '2024-01-{1 + int(r.integers(0, 20)):02d} 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-28 00:00:00' GROUP BY event_type"
    ),
    "sql_region_parts": lambda r: (
        "SELECT r_name AS region, p_type AS ptype, count(*) AS n_lines, "
        "CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem "
        "JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        f"WHERE p_size <= {int(r.integers(10, 51))} GROUP BY r_name, p_type"
    ),
}


@dataclass
class Op:
    """One operation of a round: a catalog entry, a SQL statement, a
    map/reduce job or the curation write."""

    name: str  # template name; latencies are grouped by it
    kind: str  # "catalog" | "sql" | "job" | "curate"
    sql: str | None = None

    @property
    def key(self) -> str:
        """Identity of the expected output (same key, same oracle)."""
        return self.sql or self.name


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float | None  # star schema scale factor, None = corpus only
    n_docs: int
    ops: tuple[str, ...]
    # Nominal wall time of one warm round on a 4-core machine. It only
    # turns ``--seconds`` into a number of rounds, so every run of a
    # workload measures the same rounds whatever the speed of the host.
    round_s: float
    # Untimed rounds before the timed ones, the first of them cold. The
    # ad-hoc round after the cold one is still 10-15 % slower than later
    # ones while the JVM compiles (5.3-5.6 s, then 4.7-5.1 s on a 4-core
    # machine), so it is untimed too; a corpus round costs 17-20 s, and
    # the run budget leaves room for its cold round only.
    warm_rounds: int

    def rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_s))

    def round(self, rng: np.random.Generator) -> list[Op]:
        ops = []
        for name in self.ops:
            if name in SQL_TEMPLATES:
                ops.append(Op(name, "sql", sql=SQL_TEMPLATES[name](rng)))
            elif name in MR_QUERIES:
                ops.append(Op(name, "job"))
            elif name == CURATE:
                ops.append(Op(name, "curate"))
            else:
                ops.append(Op(name, "catalog"))
        return ops


WORKLOADS = {
    "adhoc_sql": Workload(
        "adhoc_sql", ADHOC_SF, ADHOC_DOCS,
        tuple(SQL_TEMPLATES) + CATALOG_QUERIES, round_s=5.0, warm_rounds=2,
    ),
    # The reference's SampleClient jobs through the jobs layer, then the
    # curation batch. curate_corpus runs exact dedup, dedup_clusters over
    # dedup_minhash_lsh_pairs' verified pairs, the quality gate and the
    # partitioned write, so the oracle check of its output covers them all.
    "corpus_batch": Workload(
        "corpus_batch", None, CORPUS_DOCS, MR_QUERIES + (CURATE,),
        round_s=20.0, warm_rounds=1,
    ),
}


# -- correctness gate --------------------------------------------------------


def curated_counts_sql(out_dir: str) -> str:
    """Per-language row counts of a hive-partitioned curate output."""
    return (
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_curated FROM read_parquet("
        f"'{os.path.join(out_dir, '*', '*.parquet')}', hive_partitioning = true) "
        "GROUP BY lang"
    )


class Oracle:
    """DuckDB answers over the generated (read-only) input set, memoized
    per output key."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        from thread_based_map_reduce_spark.plans.catalog import CATALOG

        self._catalog = CATALOG
        self._con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self._con.execute(
                    f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')"
                )
        self._answers: dict[str, object] = {}

    def expected(self, op: Op):
        if op.key not in self._answers:
            if op.kind == "sql":
                sql = op.sql
            elif op.kind == "curate":
                sql = self._catalog["corpus_curation_stats"].oracle
            else:
                sql = self._catalog[op.name].oracle
            self._answers[op.key] = self._con.execute(sql).df()
        return self._answers[op.key]

    def actual_curated(self, out_dir: str):
        return self._con.execute(curated_counts_sql(out_dir)).df()

    def close(self) -> None:
        self._con.close()
