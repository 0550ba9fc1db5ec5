"""Generate OPERATORS.md: the full query-catalog index (name, tags,
oracle status, one-line doc), grouped by family. Run after adding
queries: python scripts/gen_operators_md.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from thread_based_map_reduce_spark.plans.catalog import CATALOG, queries

FAMILIES = [
    ("TPC-H query shapes", lambda q: "tpch" in q.tags),
    ("Joins & subqueries", lambda q: ("join" in q.tags or "subquery" in q.tags) and "tpch" not in q.tags),
    ("Aggregation", lambda q: "agg" in q.tags and "tpch" not in q.tags and "join" not in q.tags and "diagnostics" not in q.tags),
    ("Windows & sessions", lambda q: "window" in q.tags or "sessionize" in q.tags),
    ("Set operations", lambda q: "setop" in q.tags),
    ("Scalar functions", lambda q: "scalar" in q.tags),
    ("Projection & explode", lambda q: "projection" in q.tags or "explode" in q.tags),
    ("Sampling", lambda q: "sampling" in q.tags),
    ("Data layout (Z-order / file skipping)", lambda q: "layout" in q.tags),
    ("Operational diagnostics (skew / compaction)", lambda q: "diagnostics" in q.tags),
    ("Corpus curation (decontam / mix / pack / chunk / shard)", lambda q: "curation" in q.tags),
    ("Deduplication", lambda q: "dedup" in q.tags),
    ("Similarity search", lambda q: "similarity" in q.tags or "ann" in q.tags),
    ("Text analysis", lambda q: "text" in q.tags),
    ("Multimodal", lambda q: "multimodal" in q.tags),
    ("Events & streaming twins", lambda q: "events" in q.tags or "streaming" in q.tags),
    ("MapReduce parity & Python lane", lambda q: "parity" in q.tags or "udf" in q.tags or "udtf" in q.tags),
]


def main() -> int:
    queries()  # load registrations
    seen: set[str] = set()
    lines = [
        "# OPERATORS — the query catalog at a glance",
        "",
        f"{len(CATALOG)} registered queries, "
        f"{sum(1 for q in CATALOG.values() if q.oracle)} oracle-checked"
        + (
            ""
            if all(q.oracle for q in CATALOG.values())
            else " (rest are rows-only by construction)"
        )
        + ". Generated by "
        "`scripts/gen_operators_md.py` — regenerate after adding queries. "
        "Full reference-parity mapping: `SURVEY.md` §2.4; scale rationale: "
        "`SCALE.md`.",
        "",
    ]
    for title, pred in FAMILIES:
        rows = [(n, q) for n, q in CATALOG.items() if pred(q) and n not in seen]
        if not rows:
            continue
        seen.update(n for n, _ in rows)
        lines += [f"## {title}", "", "| query | oracle | doc |", "|---|---|---|"]
        for n, q in sorted(rows):
            doc = " ".join(q.doc.split())
            lines.append(
                f"| `{n}` | {'✓' if q.oracle else 'rows-only'} | {doc} |"
            )
        lines.append("")
    rest = [(n, q) for n, q in CATALOG.items() if n not in seen]
    if rest:
        lines += ["## Other", "", "| query | oracle | doc |", "|---|---|---|"]
        for n, q in sorted(rest):
            lines.append(
                f"| `{n}` | {'✓' if q.oracle else 'rows-only'} | {' '.join(q.doc.split())} |"
            )
        lines.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {path}: {len(CATALOG)} queries, {len(seen)} categorized, {len(rest)} other")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
