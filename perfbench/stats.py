"""Turn the executions of one run into the benchmark's metrics."""

from __future__ import annotations

import math
import statistics

# name -> unit. End-to-end metrics come from untraced runs, layer metrics
# from traced ones; BENCHMARK.json lists the same names and units.
END_TO_END = {
    "latency_gmean_s": "s",
    "throughput_qps": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "queries.construct_s": "s",
    "queries.construct_self_s": "s",
    "queries.py4j_calls": "count",
    "queries.py4j_s": "s",
    "queries.construct_jobs": "count",
    "queries.eager_job_share": "ratio",
    "eclfront.run_ecl_s": "s",
    "eclfront.self_s": "s",
    "eclfront.py4j_calls": "count",
    "eclfront.construct_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_busy": "ratio",
    "exec.input_rows": "rows",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.failed_tasks": "count",
    "jvm.gc_s": "s",
    "jvm.old_gen_peak_mb": "MB",
    "trace.latency_p50_s": "s",
}
MIN_BEYOND = 10  # samples a reported tail percentile must leave above it


def percentile(samples, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q`` quantile; refuses unless ``min_beyond`` samples
    lie above it, so a tail figure always rests on a tail."""
    xs = sorted(samples)
    rank = max(1, math.ceil(q * len(xs)))
    if not xs or len(xs) - rank < min_beyond:
        raise ValueError(
            f"p{q * 100:g} of {len(xs)} samples leaves {max(0, len(xs) - rank)} above "
            f"it; need {min_beyond}"
        )
    return xs[rank - 1]


def describe_latency(latencies) -> str:
    """One human-readable line: sample count, median and p90 if supported."""
    line = f"latency samples={len(latencies)}"
    if latencies:
        line += f" p50={statistics.median(latencies):.4f}s"
    try:
        line += f" p90={percentile(latencies, 0.9):.4f}s"
    except ValueError as exc:
        line += f" p90=n/a ({exc})"
    return line


def latencies_by_query(profiles) -> dict[str, list[float]]:
    """Successful executions' latencies per query, in execution order."""
    out: dict[str, list[float]] = {}
    for p in profiles:
        if p.ok:
            out.setdefault(p.name, []).append(p.latency_s)
    return out


def describe_queries(profiles) -> str:
    return "per-query " + " ".join(
        f"{n}=" + ",".join(f"{x:.3f}" for x in xs)
        for n, xs in sorted(latencies_by_query(profiles).items())
    )


def count_failures(checks: dict, profiles) -> tuple[int, int]:
    """(attempted, failed) executions. A failure is an exception or an oracle
    mismatch; every execution of a query whose check failed counts failed."""
    bad = {name for name, err in checks.items() if err}
    attempted = len(checks) + len(profiles)
    failed = len(bad) + sum(1 for p in profiles if not p.ok or p.name in bad)
    return attempted, failed


def end_to_end_metrics(profiles, wall_s, setup_s, rss_mb) -> dict:
    medians = [statistics.median(xs) for xs in latencies_by_query(profiles).values()]
    return {
        "latency_gmean_s": statistics.geometric_mean(medians),
        "throughput_qps": sum(1 for p in profiles if p.ok) / wall_s,
        "peak_rss_mb": rss_mb,
        "setup_s": setup_s,
    }


def layer_metrics(profiles, setup: dict, cores: int, old_gen_peak_mb: float) -> dict:
    ok = [p for p in profiles if p.ok]
    n = len(ok)

    def mean(attr):
        return sum(getattr(p, attr) for p in ok) / n

    def phase(name):
        return sum(p.phases_ms.get(name, 0) for p in ok) / n

    construct_jobs = sum(p.construct_jobs for p in ok)
    exec_jobs = sum(p.exec_jobs for p in ok)
    exec_s = sum(p.exec_s for p in ok)
    return {
        "session.start_s": setup["session.start_s"],
        "session.warm_s": setup["session.warm_s"],
        "queries.construct_s": mean("construct_s"),
        "queries.construct_self_s": mean("construct_self_s"),
        "queries.py4j_calls": mean("construct_py4j_calls"),
        "queries.py4j_s": mean("construct_py4j_s"),
        "queries.construct_jobs": mean("construct_jobs"),
        "queries.eager_job_share": construct_jobs / max(1, construct_jobs + exec_jobs),
        "eclfront.run_ecl_s": mean("eclfront_s"),
        "eclfront.self_s": mean("eclfront_self_s"),
        "eclfront.py4j_calls": mean("eclfront_py4j_calls"),
        "eclfront.construct_jobs": mean("eclfront_jobs"),
        "catalyst.analysis_ms": phase("analysis"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
        "exec.action_s": exec_s / n,
        "exec.jobs": exec_jobs / n,
        "exec.stages": mean("exec_stages"),
        "exec.tasks": mean("exec_tasks"),
        "exec.task_run_s": mean("exec_task_run_s"),
        "exec.task_cpu_s": mean("exec_task_cpu_s"),
        "exec.core_busy": sum(p.exec_task_run_s for p in ok) / (exec_s * cores),
        "exec.input_rows": mean("exec_input_rows"),
        "exec.shuffle_write_bytes": mean("exec_shuffle_write_bytes"),
        "exec.spill_bytes": mean("exec_spill_bytes"),
        "exec.output_bytes": mean("exec_output_bytes"),
        "exec.failed_tasks": mean("exec_failed_tasks"),
        "jvm.gc_s": mean("gc_s"),
        "jvm.old_gen_peak_mb": old_gen_peak_mb,
        "trace.latency_p50_s": statistics.median(p.latency_s for p in ok),
    }


def with_units(metrics: dict) -> dict:
    units = {**END_TO_END, **LAYER}
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
