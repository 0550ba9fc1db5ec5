"""Dump executed physical plans of the named catalog queries to PLANS.md —
readable evidence of plan quality (pushdown, pruning, broadcast, codegen,
exchange count) without re-running anything. The header records the
invocation, so the file can be regenerated as it stands.

Usage: python scripts/dump_plans.py [--sf-dir DIR] NAME [NAME ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import shlex
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from thread_based_map_reduce_spark.plans.catalog import CATALOG, queries
from thread_based_map_reduce_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="+", metavar="NAME", help="catalog query name")
    args = ap.parse_args()
    catalog = queries()
    selected = {name: catalog[name] for name in args.names}
    sf_dir = args.sf_dir
    spark = get_spark("dump-plans")
    invocation = shlex.join(["python", "scripts/dump_plans.py", *sys.argv[1:]])
    out = [
        "# PLANS — executed physical plans of the named queries",
        "",
        f"Generated by `{invocation}` at `{sf_dir}` (AQE final plans:",
        "look for `PushedFilters`, pruned `ReadSchema`, `BroadcastHashJoin`,",
        "`[codegen id : N]` spans, and the Exchange count per query —",
        "the properties `tests/test_plans.py` asserts in CI).",
        "",
    ]
    for name, fn in selected.items():
        df = fn(spark, sf_dir)
        df.collect()  # finalize the AQE plan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().strip()
        out.append(f"## {name}")
        out.append("")
        out.append(CATALOG[name].doc)
        out.append("")
        out.append("```")
        out.append(plan)
        out.append("```")
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(selected)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
