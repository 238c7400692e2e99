#!/usr/bin/env python
"""Dump `.explain("formatted")` for bench queries → PLANS.md.

The plan review artifact: shows pushed filters (`PushedFilters`), pruned
read schemas, join strategies, partial aggregation placement, and Python
(ArrowEvalPython/MapInPandas) boundaries for each query at the bench
scale factor. Regenerate after any operator change:

    python tools/dump_plans.py [--sf-dir /root/testdata/sf0.1]

With query names, only those are dumped — before/after evidence for an
optimization goes to two files:

    python tools/dump_plans.py --out before.md q1 q2 ...

Queries that execute side effects on construction (streaming drains,
index builds, peer spawns) run them once here — the dump reflects the
DataFrame each query RETURNS, which is what the bench times.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*",
                    help="queries to dump (default: every bench query)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.md"))
    args = ap.parse_args()

    from bench import EXTRAS, HEADLINE
    from dataweb_spark.queries import QUERIES, queries, register_views
    from dataweb_spark.session import get_spark

    names = args.names or HEADLINE + EXTRAS + [
        n for n in QUERIES if n.startswith("pipeline_")
        and n not in HEADLINE and n not in EXTRAS]

    spark = get_spark("dump_plans")
    register_views(spark, args.sf_dir)
    qs = queries()

    buf = io.StringIO()
    buf.write("# PLANS — formatted physical plans for the bench headline "
              "queries\n\nGenerated by `tools/dump_plans.py` at "
              f"`{args.sf_dir}`. Things to read for: `PushedFilters`/"
              "`ReadSchema` on scans (pushdown + pruning), `BroadcastHashJoin`"
              " vs `SortMergeJoin` placement, `HashAggregate` partial/final "
              "pairs around exchanges, `TakeOrderedAndProject` for top-k, and "
              "Arrow boundaries (`MapInPandas`/`ArrowEvalPython`) marking the "
              "only Python crossings.\n")
    for name in names:
        try:
            df = qs[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:  # streaming queries have no batch plan
            plan = f"(no static batch plan: {type(ex).__name__}: {ex})"
        # literals in plans can carry raw control bytes (e.g. the
        # encoding-damage query injects chr(7)); keep the artifact text
        plan = re.sub(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "?", plan)
        buf.write(f"\n## {name}\n\n```\n{plan}\n```\n")

    with open(args.out, "w") as f:
        f.write(buf.getvalue())
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
