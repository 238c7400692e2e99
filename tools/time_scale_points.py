#!/usr/bin/env python
"""Median-of-3 warm timings for a query set at two scale points.

Produces the BASELINE.md 10x-scale sanity tables: run
``tools/make_scaled_data.py`` first (sf0.1 -> ~sf1 under /tmp/sfdata1),
then

    python tools/time_scale_points.py [names...] > sf1_points.json

Defaults to the r8/r9 operator set. Prints one progress line per (scale,
query) to stderr and the timings as JSON to stdout. The session uses
``get_spark``'s default core count (``SPARK_GRAFT_CPUS``)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = ["warc_records_parse", "warc_directory_ingest",
           "crawl_url_normalize", "crawl_domain_caps", "crawl_psl_domains",
           "pipeline_dsir_selection", "graph_pagerank_domains",
           "media_index_video_near", "media_index_audio_near",
           "text_html_extract", "text_c4_filter", "text_ccnet_buckets",
           "pipeline_crawl_corpus"]


def main() -> None:
    import __spark_entry__ as entry
    from dataweb_spark.session import get_spark

    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scale-points")
    qs = entry.queries()
    out: dict = {}
    for sf_label, sf_dir in [("sf0.1", "/root/testdata/sf0.1"),
                             ("sf1", "/tmp/sfdata1")]:
        out[sf_label] = {}
        for name in names:
            times = []
            for _ in range(3):
                t0 = time.time()
                n = qs[name](spark, sf_dir).count()
                times.append(time.time() - t0)
            med = sorted(times)[1]
            out[sf_label][name] = {"median_s": round(med, 2),
                                   "runs": [round(t, 2) for t in times],
                                   "rows": n}
            print(f"{sf_label} {name}: {med:.2f}s ({n} rows)",
                  file=sys.stderr, flush=True)
    json.dump(out, sys.stdout, indent=1)


if __name__ == "__main__":
    main()
