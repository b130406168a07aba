"""Benchmark command for the feature-generation engine.

Run from the repository root::

    python3 perfbench/run.py --workload suite --seed 1 --seconds 30 --trace 0

One process, one ``local[<cores>]`` SparkSession from ``session.get_spark``.
The run makes its inputs from ``--seed``, starts a session, re-starts
and re-warms it ``workload.setup_reps`` times in the same JVM to measure
set-up, lets the workload prime the last session, and runs
``max(1, seconds // pass_s)`` passes of the workload's ops. Every op's
output is checked after it is timed.

Human-readable lines go to stdout first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` enables the Spark event log
and reports the per-layer split instead (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Driver heap, fixed (-Xms = -Xmx); replaces get_spark's 8 GB maximum.
#: See Session.
DRIVER_MEMORY = "2g"
#: Loop count of the single-core host probe (about 0.2 s when healthy).
PROBE_LOOPS = 3_000_000
#: Steal above this share of CPU time flags the run as taken under steal.
STEAL_FLAG_PCT = 1.0

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Session:
    """The run's SparkSession and the JVM behind it."""

    def __init__(self, work: str, traced: bool) -> None:
        # Every engine setting is get_spark's except the driver heap, which
        # is fixed at DRIVER_MEMORY. With get_spark's 8 GB maximum, G1
        # grows the heap by a GC-time rule, so VmHWM spread by 19-29 % of
        # its median between runs of the same work (a 2 GB floor alone
        # did not help). With the heap fixed, VmHWM is the 2 GB heap plus
        # the off-heap part (class metadata, generated code, threads,
        # direct buffers); a heap footprint above 2 GB shows as GC time or
        # failed ops.
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'tmp')}"
            ),
        }
        self.eventlog_dir = os.path.join(work, "eventlog")
        if traced:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "true",
                }
            )
        self.spark = None

    def start(self) -> float:
        from feature_generation_benchmark_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf)
        return time.perf_counter() - t0

    def restart(self) -> float:
        self.spark.stop()
        if os.path.isdir(self.eventlog_dir):
            shutil.rmtree(self.eventlog_dir)  # keep only the measured app
            os.makedirs(self.eventlog_dir)
        return self.start()

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def run_op(spark, op, tag: str, traced: bool) -> dict:
    """Time one op's build and action phases under their own job groups;
    storage the op pins is released after the timed region."""
    from feature_generation_benchmark_spark.session import cache_scope

    sc = spark.sparkContext
    rec = {"name": op.name, "layer": op.layer, "tag": tag, "error": None}
    jsc = sc._jsc
    with cache_scope(spark):
        try:
            pins0 = len(jsc.getPersistentRDDs()) if traced else 0
            sc.setJobGroup(f"{tag}:build", op.name)
            t0 = time.perf_counter()
            built = op.build(spark)
            t1 = time.perf_counter()
            rec["pins"] = len(jsc.getPersistentRDDs()) - pins0 if traced else 0
            sc.setJobGroup(f"{tag}:action", op.name)
            t2 = time.perf_counter()
            op.action(spark, built)
            t3 = time.perf_counter()
            rec["build_s"], rec["action_s"] = t1 - t0, t3 - t2
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            sc.setJobGroup("perfbench:check", "check")
    if rec["error"] is None:
        try:
            rec["error"] = op.verify()
        except Exception:
            rec["error"] = "check raised: " + traceback.format_exc(limit=3)
    rec.update(op.extra)
    return rec


def measure(session: Session, workload, seconds: float, traced: bool):
    """``max(1, seconds // workload.pass_s)`` passes over the workload's
    ops. The pass count depends only on ``seconds``, so every run of a
    workload measures the same work."""
    n = max(1, int(seconds // workload.pass_s)) if workload.pass_s else 1
    records: list[dict] = []
    passes: list[float] = []
    for p in range(n):
        ops = workload.ops()
        for op in ops:
            rec = run_op(session.spark, op, f"p{p}:{len(records)}", traced)
            rec["pass"] = p
            records.append(rec)
            log(
                f"op {op.name} build={rec.get('build_s', -1):.2f}s "
                f"action={rec.get('action_s', -1):.2f}s "
                + ("ok" if rec["error"] is None else f"FAILED {rec['error']}")
            )
        passes.append(
            sum(r.get("build_s", 0) + r.get("action_s", 0) for r in records[-len(ops):])
        )
    return records, passes


def prepare_env(work: str) -> int:
    """Point every temporary path of the run into ``work`` (inside the
    checkout) and set the launcher environment; returns the core count.

    Executors' Python workers are started by the JVM and inherit this
    environment: they import the package (and pickled perfbench
    functions) by module name, whatever the working directory."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return cores


def main(argv=None) -> int:
    args = _parse(argv)
    # import this directory's modules as ``perfbench.*`` only
    sys.path[:] = [ROOT] + [p for p in sys.path if p != HERE]
    from perfbench import report
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # Fails here, before any process starts, outside a full checkout.
    import feature_generation_benchmark_spark  # noqa: F401
    from feature_generation_benchmark_spark.hostprobe import (
        cpu_steal_ticks,
        single_core_probe_sec,
        steal_pct,
    )

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    cores = prepare_env(work)
    traced = bool(args.trace)
    session = Session(work, traced)
    try:
        workload = WORKLOADS[args.workload](work, args.seed)
        probe_before = single_core_probe_sec(PROBE_LOOPS)
        t0 = time.perf_counter()
        log("generating inputs")
        rows = workload.prepare_local()
        gen_s = time.perf_counter() - t0
        cold_start_s = session.start()
        log(f"session started in {cold_start_s:.2f}s")
        t0 = time.perf_counter()
        rows += workload.prepare_spark(session.spark)
        gen_s += time.perf_counter() - t0
        log("inputs ready; measuring set-up")
        starts, setups = [], []
        for _ in range(workload.setup_reps):
            start_s = session.restart()
            t0 = time.perf_counter()
            workload.warm(session.spark)
            starts.append(start_s)
            setups.append(start_s + time.perf_counter() - t0)
        log("set-up done; priming")
        t0 = time.perf_counter()
        workload.prime(session.spark)
        prime_s = time.perf_counter() - t0
        log(f"primed in {prime_s:.2f}s; measuring ops")
        steal0, steal_t0 = cpu_steal_ticks(), time.time()
        records, passes = measure(session, workload, args.seconds, traced)
        steal = steal_pct(
            steal0, cpu_steal_ticks(), time.time() - steal_t0, cores
        )
        peak_rss = vm_hwm_mb(session.jvm_pid())
        workload.close()
        session.close()
        log("session closed")
        probe_after = single_core_probe_sec(PROBE_LOOPS)
        groups = None
        if traced:
            from perfbench import eventlog

            groups = eventlog.parse(session.eventlog_dir)
        run = report.Run(
            workload=args.workload,
            seed=args.seed,
            traced=traced,
            cores=cores,
            records=records,
            passes=passes,
            setup_samples=setups,
            start_samples=starts,
            cold_start_s=cold_start_s,
            prime_s=prime_s,
            gen_s=gen_s,
            input_rows=rows,
            serve_samples=workload.serve_phase(
                [r for r in records if r["error"] is None]
            ),
            peak_rss_mb=peak_rss,
            steal_pct=steal,
            steal_flag=steal > STEAL_FLAG_PCT,
            probe_s=(probe_before, probe_after),
            groups=groups,
        )
        lines, result = report.build(run)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
