"""The named-query catalog: single source of truth for the engine's surface.

Every operator from SURVEY.md §2 (reference parity + mandated extensions)
registers here as a ``Query``: a Spark DataFrame builder plus — when the
semantics are SQL-expressible — a DuckDB oracle string with *identical
column names and types*. ``__spark_entry__`` (the driver contract), the
benchmark, and the oracle self-test all read this one registry, in
registration order.

Conventions that keep the order-insensitive value-hash comparison honest
(output order is not a contract, matching the reference — SURVEY §1.4):

- every computed column is aliased identically in Spark and SQL;
- double aggregates are ``round(x, N)``-ed on BOTH sides (both engines then
  snap to the same nearest-decimal double, erasing summation-order ulps);
- sums with MANY groups over large values (e.g. Q7's 1200 nation-pair-year
  groups) still occasionally land within an ulp of a cent midpoint, where
  rounding flips between engines: there, sum ``CAST(term AS DECIMAL(30,6))``
  on both sides — decimal addition is associative, so the sum is exact and
  order-free — then round and cast back to double;
- integer sums are cast to BIGINT in DuckDB (its native sum is HUGEINT);
- int32-vs-int64 mismatches (e.g. Spark ``year``) are cast to bigint;
- timestamps are projected as strings or epoch seconds, never raw;
- any top-k / row_number ordering carries a unique-key tiebreak so float
  near-ties cannot reorder between engines;
- never alias a computed column to the SAME name as an input column it
  shares a projection with: Spark's lateral column alias resolution makes
  sibling expressions in that projection read the NEW alias while DuckDB
  reads the input column — e.g. ``round(scale,6) AS scale`` next to an
  expression using ``scale`` silently diverges (hit by
  ``embedding_quantize_stats``; use ``scale_raw`` → ``scale``);
- when both engines must agree on a SUM of per-element doubles (the
  element values agree bit-for-bit, the accumulation algorithms do not),
  sum exact integers instead: ``floor(term * 1e18)`` per element, bigint
  addition, divide once at the end.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import pin_session_defaults

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


CATALOG: dict[str, Query] = {}


# DuckDB inlines every CTE by default, so a CTE referenced k times
# re-executes its WHOLE upstream chain k times. The composite-eval oracles
# (blocking recall, curation funnel/ablation, the cluster family) reference
# shared family pipelines 3-7x each — measured r13 at sf0.01: the
# dedup_blocking_recall_eval oracle alone ran 27.8 s, 0.87 s once its
# shared CTEs carry AS MATERIALIZED. The hint is evaluation-only (DuckDB
# docs, "Materialized CTEs"): every entry below was verified old-vs-new
# bit-identical at sf0.01 before being listed. `toks` must stay INLINED in
# curation_flags_table / curation_filter_ablation: DuckDB 1.x dies with an
# internal "Recursive CTE scan found without recursive CTE node" fatal
# error when their list-comprehension gram CTEs read a materialized toks
# (the same combination works in the other entries, which keep it).
_ORACLE_MATERIALIZED_CTES: dict[str, tuple[str, ...]] = {
    "dedup_blocking_recall_eval": (
        "shingles", "sig", "bands", "tsets", "tf", "h", "sims", "blocks",
        "toks", "wkeyed", "wfinger", "wdocfp", "wdf", "wrare", "woccs",
        "snranked", "hdist", "truth", "nt", "m_mh", "m_sh", "m_sn", "m_wn",
        "m_xs", "stats", "budget",
    ),
    "curation_funnel_stats": (
        "toks", "g2", "t2", "g3", "t3", "g4", "t4", "tokoff", "dpiv",
        "flags",
    ),
    "curation_filter_ablation": (
        "g2", "t2", "g3", "t3", "g4", "t4", "tokoff", "dpiv", "wkeyed",
        "wfinger", "wdocfp", "wdf", "wrare", "woccs", "wspans", "islands",
        "covered", "grams", "train", "flags",
    ),
    "curation_flags_table": (
        "g2", "t2", "g3", "t3", "g4", "t4", "tokoff", "dpiv", "wkeyed",
        "wfinger", "wdocfp", "wdf", "wrare", "woccs", "wspans", "islands",
        "covered", "grams", "train",
    ),
    "gopher_repetition_rules": (
        "toks", "g2", "t2", "g3", "t3", "g4", "t4", "tokoff", "dpiv",
    ),
    "dedup_canonical_map": (
        "sig", "bands", "tsets", "verified", "sym", "clusters",
    ),
    "group_kfold_cv": (
        "sig", "bands", "tsets", "vpairs", "sym", "base", "fstats",
    ),
    "optics_reachability": (
        "verified", "sym", "core_dist", "reach", "core_sym", "core_label",
    ),
    "leakage_safe_split": (
        "sig", "bands", "tsets", "vpairs", "sym", "assigned",
    ),
    "lsh_band_tuning_curve": (
        "hashed", "sig", "tsets", "bands_1", "cand_1", "ver_1", "bands_2",
        "cand_2", "ver_2", "bands_4", "cand_4", "ver_4", "bands_8",
        "cand_8", "ver_8",
    ),
    "dedup_removal_sweep": (
        "shingles", "sig", "bands", "tsets", "toks", "wkeyed", "wfinger",
        "wdocfp", "wdf", "wrare", "woccs", "ntok", "pex", "pxs", "pmh",
        "stats", "budget", "allp",
    ),
    "dbscan_lsh_clusters": (
        "verified", "sym", "deg", "cores", "core_sym", "core_label",
    ),
    "dup_span_coverage_exact": (
        "toks", "wkeyed", "wfinger", "wdocfp", "wdf", "wrare", "woccs",
        "wspans", "islands",
    ),
    "semdedup_embedding_prune": ("centroids", "ranked"),
    "corpus_curation_stats": ("sig", "bands", "tsets", "verified", "sym"),
    "dedup_keep_best": ("sig", "bands", "tsets", "verified", "sym"),
    "dup_graph_bfs_hops": ("sig", "bands", "tsets", "verified", "sym"),
    "dedup_clusters": ("sig", "bands", "tsets", "verified", "sym"),
    "dup_graph_pagerank": (
        "shingles", "sig", "bands", "tsets", "verified", "edges", "deg",
    ),
}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""
    mat_ctes = _ORACLE_MATERIALIZED_CTES.get(name)
    if oracle is not None and mat_ctes:
        from ..functions.hashing import materialize_ctes

        oracle = materialize_ctes(oracle, *mat_ctes)

    def wrap(fn: QueryFn) -> QueryFn:
        if name in CATALOG:
            raise ValueError(f"duplicate query name {name!r}")

        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_session_defaults(spark)
            return fn(spark, sf_dir)

        pinned.__name__ = fn.__name__
        pinned.__module__ = fn.__module__
        pinned.__doc__ = fn.__doc__
        CATALOG[name] = Query(name=name, fn=pinned, oracle=oracle, doc=doc, tags=tags)
        return fn

    return wrap


# The operator modules, in the order their entries are listed; within a
# module, entries keep their registration order.
_MODULES = (
    "relational", "relational_ext", "relational_more", "tpch_suite",
    "mapreduce_queries", "dedup", "similarity", "text", "multimodal",
    "multimodal_jpeg", "curation", "layout", "diagnostics",
    "streaming_runtime", "analytics", "engineering", "ml",
)


def _load_all() -> None:
    """Import every operator module for its registration side effects, then
    put ``CATALOG`` in ``_MODULES`` order. Modules import each other, so
    registration order alone depends on which module a process imported
    first."""
    operators = __package__.rsplit(".", 1)[0] + ".operators"
    for m in _MODULES:
        importlib.import_module(f"{operators}.{m}")
    rank = {f"{operators}.{m}": i for i, m in enumerate(_MODULES)}
    ordered = sorted(CATALOG.items(), key=lambda kv: rank[kv[1].fn.__module__])
    if [name for name, _ in ordered] != list(CATALOG):
        CATALOG.clear()
        CATALOG.update(ordered)


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: q.fn for name, q in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in CATALOG.items() if q.oracle is not None}
