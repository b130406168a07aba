"""Rebuilds ``suites.json``: which benched registry queries launch Spark
jobs while their plan is built.

Run from the repository root (takes a few minutes)::

    python3 perfbench/classify.py --seed 0

Every benched query runs once, in name order, over the generated tables
after the suite warm-up (which touches every table, so first-touch
schema reads are not counted). A query whose ``fn(spark, sf_dir)``
launches at least one job goes to ``suite_build_all``; every other one to
``suite_floor_all``. That is the only rule: a query that is slow, noisy
or fails stays in its list. The ``suite`` workload measures part of
each list, sized so one pass fits a run (``MEASURED``): from
``suite_build_all`` the queries that launch the most build-time jobs
(ties by name), where construction cost shows most; from
``suite_floor_all`` an even stride through the sorted list.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: How many queries of each full list the ``suite`` workload measures.
MEASURED = {"suite_build": 3, "suite_floor": 14}


def stride(names: list[str], k: int) -> list[str]:
    """``k`` names spread evenly through ``names`` (all when k ≥ len)."""
    if k >= len(names):
        return list(names)
    return [names[(i * len(names)) // k] for i in range(k)]


def select(build_jobs: dict[str, int], failed: list[str]) -> dict:
    """The content of ``suites.json`` from each query's build-time jobs."""
    build_all = sorted(n for n, j in build_jobs.items() if j > 0)
    floor_all = sorted(n for n, j in build_jobs.items() if j == 0)
    by_jobs = sorted(build_all, key=lambda n: (-build_jobs[n], n))
    build = by_jobs[: MEASURED["suite_build"]]
    floor = stride(floor_all, MEASURED["suite_floor"])
    return {
        "suite": sorted(build + floor),
        "suite_build_all": build_all,
        "suite_floor_all": floor_all,
        "build_jobs": dict(sorted(build_jobs.items())),
        "failed_at_classification": sorted(failed),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=0)
    args = p.parse_args(argv)
    # import this directory's modules as ``perfbench.*`` only
    sys.path[:] = [ROOT] + [p for p in sys.path if p != HERE]
    from perfbench.run import Session, prepare_env, run_op
    from perfbench.workloads import Suite

    work = os.path.join(ROOT, ".perfbench_work", f"classify-{os.getpid()}")
    prepare_env(work)
    session = Session(work, traced=False)
    try:
        from feature_generation_benchmark_spark.workloads import registry

        names = sorted(n for n, q in registry().items() if q.bench)
        suite = Suite(names, work, args.seed)
        suite.prepare_local()
        session.start()
        suite.warm(session.spark)
        tracker = session.spark.sparkContext.statusTracker()
        rows = {}
        for i, op in enumerate(suite.ops()):
            rec = run_op(session.spark, op, f"c{i}", traced=False)
            jobs = len(tracker.getJobIdsForGroup(f"c{i}:build"))
            rows[op.name] = rec
            print(
                f"{op.name}: build_jobs={jobs} "
                f"build_s={rec.get('build_s', -1):.2f} "
                f"action_s={rec.get('action_s', -1):.2f} "
                f"{'ok' if rec['error'] is None else 'FAILED ' + rec['error']}",
                flush=True,
            )
            rec["build_jobs"] = jobs
        suite.close()
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    out = select(
        {n: r["build_jobs"] for n, r in rows.items()},
        [n for n, r in rows.items() if r["error"] is not None],
    )
    with open(os.path.join(HERE, "suites.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(
        f"{len(out['suite_build_all'])} build-time-job queries, "
        f"{len(out['suite_floor_all'])} others; "
        f"{len(out['failed_at_classification'])} failed"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
