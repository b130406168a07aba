"""Turns one run's op records into printed lines and the result object.

End-to-end metrics come from untraced runs. Per-layer metrics come from
traced runs and are totals per pass (the sum over the run's ops divided
by the number of passes), so the layer times of one pass add up to that
pass's ``wall_s``; ratios are computed from the summed parts.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.eventlog import GroupStats
from perfbench.stats import median, summary

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "serve_s": "s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics reported by ``--trace 1``: name → unit.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.rows": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "workloads.build_s": "s",
    "workloads.build_jobs": "count",
    "workloads.build_pins": "count",
    "streaming.apply_s": "s",
    "streaming.write_amp": "ratio",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.first_job_delay_s": "s",
    "spark.exec.sched_delay_s": "s",
    "spark.exec.core_util": "ratio",
    "spark.exec.aqe_updates": "count",
    "spark.exec.cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.shuffle_read_bytes": "B",
    "spark.exec.shuffle_write_bytes": "B",
    "spark.exec.spill_disk_bytes": "B",
    "spark.exec.spill_mem_bytes": "B",
    "spark.exec.input_bytes": "B",
    "spark.exec.failed_tasks": "count",
    "spark.sink.output_bytes": "B",
    "spark.sink.output_files": "count",
    "spark.sink.tail_s": "s",
    "functions.udf_bytes_to_python": "B",
    "functions.udf_bytes_from_python": "B",
    "trace.wall_s": "s",
}

_EXEC_FIELDS = (
    "jobs stages tasks first_job_delay_s sched_delay_s aqe_updates cpu_s gc_s "
    "shuffle_read_bytes shuffle_write_bytes spill_disk_bytes spill_mem_bytes "
    "input_bytes failed_tasks"
).split()


@dataclass
class Run:
    workload: str
    seed: int
    traced: bool
    cores: int
    records: list
    passes: list
    setup_samples: list
    start_samples: list
    cold_start_s: float
    prime_s: float
    gen_s: float
    input_rows: int
    serve_samples: list
    peak_rss_mb: float
    steal_pct: float
    steal_flag: bool
    probe_s: tuple
    groups: dict | None = None


def _op_s(rec: dict) -> float:
    return rec["build_s"] + rec["action_s"]


def end_to_end(run: Run) -> dict[str, float]:
    ok = [r for r in run.records if r["error"] is None]
    wall = median(run.passes)
    return {
        "setup_s": median(run.setup_samples),
        "wall_s": wall,
        "op_p50_s": median([_op_s(r) for r in ok]),
        "rows_per_s": run.input_rows / wall,
        "serve_s": median(run.serve_samples),
        "peak_rss_mb": run.peak_rss_mb,
    }


def per_layer(run: Run) -> dict[str, float]:
    groups = run.groups or {}
    n_pass = len(run.passes)
    empty = GroupStats()

    def g(rec: dict, phase: str) -> GroupStats:
        return groups.get(f"{rec['tag']}:{phase}", empty)

    out = {
        "session.start_s": median(run.start_samples),
        "sources.gen_s": run.gen_s,
        "sources.rows": float(run.input_rows),
    }
    timed = [r for r in run.records if "build_s" in r]
    for layer in ("plans", "workloads"):
        mine = [r for r in timed if r["layer"] == layer]
        out[f"{layer}.build_s"] = sum(r["build_s"] for r in mine) / n_pass
        out[f"{layer}.build_jobs"] = (
            sum(g(r, "build").jobs for r in mine) / n_pass
        )
    out["workloads.build_pins"] = (
        sum(r["pins"] for r in timed if r["layer"] == "workloads") / n_pass
    )
    incs = [r for r in timed if r["layer"] == "streaming"]
    out["streaming.apply_s"] = sum(r["build_s"] for r in incs) / n_pass
    out["streaming.write_amp"] = (
        median([r["write_amp"] for r in incs]) if incs else 0.0
    )
    both = [g(r, p) for r in run.records for p in ("build", "action")]
    actions = [g(r, "action") for r in run.records]
    for f in _EXEC_FIELDS:
        out[f"spark.exec.{f}"] = sum(getattr(s, f) for s in both) / n_pass
    op_wall = sum(_op_s(r) for r in timed)
    out["spark.exec.core_util"] = (
        sum(s.run_s for s in both) / (run.cores * op_wall) if op_wall else 0.0
    )
    out["spark.sink.output_bytes"] = sum(s.output_bytes for s in actions) / n_pass
    out["spark.sink.output_files"] = sum(s.output_files for s in actions) / n_pass
    out["spark.sink.tail_s"] = sum(s.tail_s for s in actions) / n_pass
    out["functions.udf_bytes_to_python"] = (
        sum(s.udf_bytes_to_python for s in both) / n_pass
    )
    out["functions.udf_bytes_from_python"] = (
        sum(s.udf_bytes_from_python for s in both) / n_pass
    )
    out["trace.wall_s"] = median(run.passes)
    return out


def build(run: Run) -> tuple[list[str], dict]:
    """(human-readable lines, result object for the last stdout line)."""
    failed = [r for r in run.records if r["error"] is not None]
    ok = [r for r in run.records if r["error"] is None]
    lines = [
        f"workload={run.workload} seed={run.seed} trace={int(run.traced)} "
        f"cores={run.cores} passes={len(run.passes)} ops={len(run.records)} "
        f"steal_pct={run.steal_pct} steal_flag={run.steal_flag} "
        f"probe_s={run.probe_s[0]}/{run.probe_s[1]} "
        f"cold_start_s={run.cold_start_s:.3f} prime_s={run.prime_s:.3f}"
    ]
    for r in failed:
        lines.append(f"failed op {r['name']}: {r['error'].strip()[:300]}")
    if run.traced:
        groups = run.groups or {}
        for r in run.records:
            b = groups.get(f"{r['tag']}:build", GroupStats())
            a = groups.get(f"{r['tag']}:action", GroupStats())
            lines.append(
                f"op {r['name']} build_s={r.get('build_s', -1):.3f} "
                f"action_s={r.get('action_s', -1):.3f} build_jobs={b.jobs} "
                f"action_jobs={a.jobs} pins={r.get('pins', 0)}"
            )
        metrics = per_layer(run)
        units = PER_LAYER_UNITS
    else:
        metrics = end_to_end(run)
        units = END_TO_END_UNITS
    counts = {
        "setup_s": len(run.setup_samples),
        "wall_s": len(run.passes),
        "rows_per_s": len(run.passes),
        "op_p50_s": len(ok),
        "serve_s": len(run.serve_samples),
        "peak_rss_mb": 1,
    }
    for name, value in metrics.items():
        n = counts.get(name)
        lines.append(
            f"{name} = {value:.6g} {units[name]}" + (f" (n={n})" if n else "")
        )
    if not run.traced:
        p90 = summary([_op_s(r) for r in ok], 0.9)
        lines.append(
            "op_p90_s = "
            + (
                f"{p90['value']:.6g} s (n={p90['n']})"
                if p90["value"] is not None
                else f"n/a (n={p90['n']}: fewer than 10 samples above p90)"
            )
        )
        n = len(run.records)
        lines.append(f"fail_frac = {len(failed) / n:.6g} (n={n})")
    result = {
        "correct": not failed,
        "attempted": len(run.records),
        "failed": len(failed),
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }
    return lines, result
