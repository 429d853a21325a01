"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. Steps:

1. Inputs: the engine's sf0.1 tables (``SPARK_GRAFT_SF_DIR``, as ``bench.py``
   reads them) or, for a replicated workload, their seeded copy (cached per
   seed under ``.perfbench/data``).
2. Set up: start the tuned SparkSession on ``local[<cores>]`` and run one warm
   query; ``setup_s`` is process start to this point, minus step 1.
3. Check: run every query of the workload once, collect it and compare it
   with the query's DuckDB oracle (``tests/helpers.py``'s rule).
4. Warm: one untimed round of the workload into the ``noop`` sink. The check
   pass collects instead, and the JIT is still speeding queries up over the
   next rounds; without this round a slow run fits fewer rounds and its
   medians carry more of that warm-up.
5. Measure: closed loop, one client, rounds of the workload's queries in a
   seeded order into the ``noop`` sink, until ``--seconds`` have passed.
   With ``--trace 1`` every execution is profiled layer by layer
   (``perfbench/probe.py``) and the spans are written to
   ``.perfbench/traces``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
KEEP_SEEDS = 3  # cached input sets kept on disk
# Timed rounds per run, at least. With 2 a query's median is the mean of its
# two executions, so one slow execution moves it and runs become bimodal.
MIN_ROUNDS = 3

# Import the engine and the benchmark as packages of the checkout.
sys.path[0] = ROOT

from perfbench import stats  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for module in ("hpcc_platform_spark", "bench", "tests.helpers"):
        if importlib.util.find_spec(module) is None:
            print(f"perfbench: {module} not found under {ROOT}", file=sys.stderr)
            return 2
    _pin_environment()

    from perfbench.workloads import workloads

    wl = workloads().get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t = time.perf_counter()
    base_dir, data_dir = _inputs(args.seed, wl.replicate)
    gen_s = time.perf_counter() - t
    print(f"input_generation_s {gen_s:.3f} ({data_dir})", flush=True)

    from hpcc_platform_spark.operators.numbering import release_numbering_caches
    from hpcc_platform_spark.queries import REGISTRY
    from hpcc_platform_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark("perfbench")

    def cleanup():
        release_numbering_caches()
        spark.catalog.clearCache()

    try:
        t_warm = time.perf_counter()
        REGISTRY["global_agg"].fn(spark, base_dir).collect()
        t_ready = time.perf_counter()
        setup = {
            "setup_s": t_ready - T_START - gen_s,
            "session.start_s": t_warm - t_session,
            "session.warm_s": t_ready - t_warm,
        }
        print("setup " + " ".join(f"{k}={v:.3f}" for k, v in setup.items()), flush=True)
        t = time.perf_counter()
        checks = _check(spark, REGISTRY, wl, data_dir, args.seed, cleanup)
        print(f"check_s {time.perf_counter() - t:.3f}", flush=True)
        t = time.perf_counter()
        _measure(spark, REGISTRY, wl, data_dir, args.seed, 0, None, cleanup, 1)
        print(f"warm_round_s {time.perf_counter() - t:.3f}", flush=True)
        tracer = None
        if args.trace:
            from perfbench.probe import Tracer

            tracer = Tracer().install()
        profiles, wall = _measure(
            spark, REGISTRY, wl, data_dir, args.seed, args.seconds, tracer, cleanup,
            MIN_ROUNDS,
        )
        rss_mb = _peak_rss_mb(spark)
        old_gen_mb = _old_gen_peak_mb(spark)
        print(f"memory peak_rss_mb={rss_mb:.1f} old_gen_peak_mb={old_gen_mb:.1f}", flush=True)
        if tracer is not None:
            tracer.uninstall()
            print(f"trace {_write_trace(tracer, profiles, args)}", flush=True)
    finally:
        _shutdown(spark)

    attempted, failed = stats.count_failures(checks, profiles)
    for name, err in checks.items():
        if err:
            print(f"FAILED check {name}: {err}", flush=True)
    for p in profiles:
        if not p.ok:
            print(f"FAILED run {p.name}: {p.error}", flush=True)
    lat = [p.latency_s for p in profiles if p.ok]
    print(stats.describe_latency(lat), flush=True)
    print(stats.describe_queries(profiles), flush=True)
    print(f"failed_share {failed / attempted:.4f} ({failed}/{attempted})", flush=True)
    if not lat:
        print("perfbench: no execution succeeded; nothing to report", file=sys.stderr)
        return 1

    if args.trace:
        metrics = stats.layer_metrics(
            profiles, setup, int(os.environ["SPARK_GRAFT_CPUS"]), old_gen_mb
        )
    else:
        metrics = stats.end_to_end_metrics(profiles, wall, setup["setup_s"], rss_mb)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": stats.with_units(metrics),
    }
    print(json.dumps(result), flush=True)
    return 0


def _pin_environment() -> None:
    """Keep every file the run writes inside the checkout; size the session."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # No JVM (Spark's launcher included) may write its perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    # Python workers import the engine from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _inputs(seed: int, replicate: int) -> tuple[str, str]:
    """The engine's sf0.1 tables and the directory the workload reads: the
    same tables, or their seeded ×``replicate`` copy, cached per seed under
    ``.perfbench/data``."""
    from hpcc_platform_spark.session import DEFAULT_SF_DIR, TABLES

    from perfbench import datagen

    base = DEFAULT_SF_DIR
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(base, f"{t}.parquet"))]
    if missing:
        raise SystemExit(
            f"perfbench: {base} lacks {', '.join(missing)}; "
            "set SPARK_GRAFT_SF_DIR to the sf0.1 tables"
        )
    if replicate == 1:
        return base, base
    root = os.path.join(WORK, "data")
    rep = os.path.join(root, f"x{replicate}-{datagen.cache_key(base)}-seed{seed}")
    if not datagen.is_done(rep):
        _evict(root, keep=KEEP_SEEDS - 1)
        shutil.rmtree(rep, ignore_errors=True)
        datagen.make_replicated(base, rep, seed, replicate)
    os.utime(rep)
    return base, rep


def _evict(root: str, keep: int) -> None:
    if not os.path.isdir(root):
        return
    dirs = sorted(
        (os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime
    )
    for d in dirs[: max(0, len(dirs) - keep)]:
        shutil.rmtree(d, ignore_errors=True)


def _round_order(queries, seed: int, rnd: int) -> list[str]:
    import random

    order = list(queries)
    random.Random(f"{seed}/{rnd}").shuffle(order)
    return order


def _check(spark, registry, wl, data_dir, seed, cleanup) -> dict[str, str | None]:
    """One collected execution per query, compared with its DuckDB oracle."""
    import duckdb

    from hpcc_platform_spark.session import TABLES
    from tests.helpers import assert_matches_oracle

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
        )
    out: dict[str, str | None] = {}
    for name in _round_order(wl.queries, seed, -1):
        qd = registry[name]
        try:
            assert_matches_oracle(qd.fn(spark, data_dir), con, qd.oracle, name)
            out[name] = None
        except Exception as exc:  # exception or oracle mismatch: both fail
            out[name] = f"{type(exc).__name__}: {exc}"[:500]
        cleanup()
    con.close()
    return out


def _measure(spark, registry, wl, data_dir, seed, seconds, tracer, cleanup, min_rounds):
    """Closed loop over whole rounds until ``seconds`` have passed and at
    least ``min_rounds`` rounds have run."""
    from perfbench.probe import profile_query

    profiles = []
    t0 = time.perf_counter()
    rnd = 0
    while rnd < min_rounds or time.perf_counter() - t0 < seconds:
        for name in _round_order(wl.queries, seed, rnd):
            profiles.append(
                profile_query(spark, name, registry[name].fn, data_dir, tracer)
            )
            cleanup()
        rnd += 1
    return profiles, time.perf_counter() - t0


def _peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def _old_gen_peak_mb(spark) -> float:
    """Peak use of the JVM heap pools that hold long-lived objects (G1's old
    generation). The heap is fixed at its maximum size, so the process's
    resident memory does not show how much of it the program used; this does.
    """
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    young = ("Eden", "Survivor")
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
        and not any(y in pool.getName() for y in young)
    ) / 2**20


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for {pid}")


def _write_trace(tracer, profiles, args) -> str:
    from dataclasses import asdict

    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl")
    tracer.write(path)
    with open(path, "a") as f:
        for p in profiles:
            f.write(json.dumps({"profile": asdict(p)}) + "\n")
    return path


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return kids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM and its Python workers; wait for all."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    stack, procs = [proc.pid], []
    while stack:
        pid = stack.pop()
        procs.append(pid)
        stack.extend(_children(pid))
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 15
        for pid in procs[1:]:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


if __name__ == "__main__":
    sys.exit(main())
