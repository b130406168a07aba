"""Isolate and time single queries with the noop sink (guide §1.4).

Times the COMPUTATION (noop sink evaluates every column of every row,
no output write) with a warm session, N repetitions, each run's pins
released between runs — the per-query microscope the suite bench
(which times the reference protocol: compute + parquet write) cannot
be.

Usage:
    python tools/profile_query.py query [query ...]        # 3 reps each
    PROFILE_REPS=5 python tools/profile_query.py query ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    reps = int(os.environ.get("PROFILE_REPS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import warm
    from feature_generation_benchmark_spark.session import cache_scope, get_spark
    from feature_generation_benchmark_spark.workloads import registry

    spark = get_spark("fgb-profile")
    reg = registry()
    warm(spark, sf_dir)

    for name in names:
        fn = reg[name].fn
        times = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"profile: {name}")
            with cache_scope(spark):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
        print(f"{name}: {times} min={min(times)}")


if __name__ == "__main__":
    main()
