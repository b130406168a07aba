#!/usr/bin/env python
"""Interleaved re-measure of chosen queries on the bench's own sink.

One Spark session with ``bench.py``'s warm-up; each query is timed with
``bench.timed_write`` (read → compute → parquet write, pins released
outside the timed region), round-robin N times so a slow host phase hits
every query equally; host probes before/after. Prints one JSON line.

For a parent/change A/B, run the same file against each checkout in
alternation — each pair of processes is one pair of samples:

    python <parent>/tools/bench_ab.py 1 q ...
    python <change>/tools/bench_ab.py 1 q ...

Usage: python tools/bench_ab.py [N] [query ...]
Defaults: N=5, four iterative/embedding queries + two stable controls.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "kmeans_embeddings",
    "semdedup",
    "embedding_gram_matrix",
    "pagerank_suppliers",
    # controls that were stable r4->r5 (within 10%):
    "q1_pricing_summary",
    "text_stats",
]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    names = sys.argv[2:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import timed_write, warm
    from feature_generation_benchmark_spark.hostprobe import (
        io_cache_probe,
        single_core_probe_sec,
    )
    from feature_generation_benchmark_spark.session import get_spark
    from feature_generation_benchmark_spark.workloads import registry

    io_probe = io_cache_probe(sf_dir)
    probe_before = single_core_probe_sec()
    spark = get_spark("bench-ab")
    warm(spark, sf_dir)
    reg = registry()
    out_root = tempfile.mkdtemp(prefix="fgb_bench_ab_")

    times: dict[str, list[float]] = {q: [] for q in names}
    for _ in range(n):
        for q in names:
            out = os.path.join(out_root, q)
            times[q].append(timed_write(spark, reg[q].fn, sf_dir, out))
    shutil.rmtree(out_root, ignore_errors=True)
    probe_after = single_core_probe_sec()

    out = {
        "n": n,
        "sf_dir": sf_dir,
        "probe_before_sec": round(probe_before, 3),
        "probe_after_sec": round(probe_after, 3),
        "io_probe_mbps": round((io_probe or {}).get("io_mbps", -1.0), 1),
        "queries": {
            q: {
                "median": round(statistics.median(ts), 3),
                "min": round(min(ts), 3),
                "max": round(max(ts), 3),
                "runs": ts,
            }
            for q, ts in times.items()
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
