#!/usr/bin/env python
"""Time a subset of declared queries with the bench's exact methodology
(median of 3 runs of plan+execute+count on a warmed session) — for
before/after isolation while optimizing, without paying a full bench run.

    python tools/time_queries.py q1 q2 ...          # sf0.1, 3 runs
    SPARK_GRAFT_BENCH_RUNS=5 python tools/time_queries.py q1
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from bench import _calibration
    from dataweb_spark.queries import queries, register_views
    from dataweb_spark.session import get_spark

    spark = get_spark("dataweb_spark_time_queries")
    register_views(spark, sf_dir)
    spark.table("lineitem").count()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(10_000).repartition(64).select(_warm(col("id"))).count()

    qs = queries()
    calib = _calibration(spark, qs, sf_dir)
    print(f"# calibration: {calib}s", file=sys.stderr)

    out = {}
    for name in names:
        samples = []
        for _ in range(runs):
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            samples.append(time.time() - t0)
        med = round(sorted(samples)[len(samples) // 2], 3)
        out[name] = med
        print(f"# {name}: median {med}s (all: "
              f"{[round(s, 3) for s in samples]}, {n} rows)",
              file=sys.stderr)
    spark.stop()
    print(json.dumps({"calib": calib, "queries": out}))


if __name__ == "__main__":
    main()
