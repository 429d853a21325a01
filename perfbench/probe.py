"""One query execution, timed and (optionally) traced layer by layer.

``profile_query`` runs ``fn(spark, data_dir)`` and the DataFrame action into
the ``noop`` sink, and returns a ``QueryProfile``. The construct/exec split
costs two clock reads and is always taken. With a ``Tracer`` it also records:

- py4j round trips (``ClientServerConnection.send_command``) and their time;
- the ECL front end (``hpcc_platform_spark.eclfront.run_ecl``);
- Spark jobs started while the query is built and while it runs, found by
  giving each phase its own job group;
- Catalyst's analysis/optimization/planning time, read from the DataFrame's
  ``QueryExecution.tracker()`` after forcing ``executedPlan()``;
- stage and task totals from Spark's status store, per-operator SQL metrics
  and JVM GC time.

Every probe sits in the benchmark, around calls into the program: nothing in
the program changes. A traced run therefore pays for its probes (the forced
planning pass, job-group calls), and its timings are kept apart from the
untraced ones.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_NOOP = "noop"
PHASES = ("analysis", "optimization", "planning")


@dataclass
class QueryProfile:
    name: str
    ok: bool = True
    error: str | None = None
    latency_s: float = 0.0
    construct_s: float = 0.0
    exec_s: float = 0.0
    # Filled only when traced.
    construct_py4j_calls: int = 0
    construct_py4j_s: float = 0.0
    construct_self_s: float = 0.0
    construct_jobs: int = 0
    eclfront_s: float = 0.0
    eclfront_self_s: float = 0.0
    eclfront_py4j_calls: int = 0
    eclfront_jobs: int = 0
    phases_ms: dict = field(default_factory=dict)
    exec_jobs: int = 0
    exec_stages: int = 0
    exec_tasks: int = 0
    exec_failed_tasks: int = 0
    exec_task_run_s: float = 0.0
    exec_task_cpu_s: float = 0.0
    exec_input_rows: int = 0
    exec_shuffle_write_bytes: int = 0
    exec_spill_bytes: int = 0
    exec_output_bytes: int = 0
    gc_s: float = 0.0
    operators: list = field(default_factory=list)


def profile_query(spark, name, fn, data_dir, tracer=None) -> QueryProfile:
    """Build and run one query into the noop sink; never raises."""
    prof = QueryProfile(name)
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = fn(spark, data_dir)
            t1 = t2 = time.perf_counter()
            df.write.mode("overwrite").format(_NOOP).save()
            t3 = time.perf_counter()
        else:
            t1, t2, t3 = tracer.run(spark, prof, fn, data_dir)
        prof.construct_s, prof.exec_s, prof.latency_s = t1 - t0, t3 - t2, t3 - t0
    except Exception as exc:  # a failed execution is a measured outcome
        prof.ok, prof.error = False, f"{type(exc).__name__}: {exc}"[:500]
        prof.latency_s = time.perf_counter() - t0
    return prof


class Tracer:
    """Spans and counts at the benchmark's wrapped boundaries.

    A span is ``(id, parent, name, start, end, query_execution)``. Spans stay
    in memory until ``write``.
    """

    def __init__(self):
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._qid = -1
        self._quiet = 0
        self._installed = []

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name):
        if self._quiet:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, parent, name, start, time.perf_counter(), self._qid)

    @contextmanager
    def quiet(self):
        """Run the tracer's own JVM calls without counting them."""
        self._quiet += 1
        try:
            yield
        finally:
            self._quiet -= 1

    # -- wrapped boundaries ---------------------------------------------
    def install(self):
        from py4j.clientserver import ClientServerConnection

        import hpcc_platform_spark.eclfront as eclfront

        tracer = self
        send = ClientServerConnection.send_command
        run_ecl = eclfront.run_ecl

        def traced_send(conn, command):
            if tracer._quiet or not tracer._stack:
                return send(conn, command)
            with tracer.span("py4j"):
                return send(conn, command)

        def traced_run_ecl(*args, **kwargs):
            if not tracer._stack:
                return run_ecl(*args, **kwargs)
            with tracer.span("eclfront.run_ecl"), tracer._group("eclfront"):
                return run_ecl(*args, **kwargs)

        ClientServerConnection.send_command = traced_send
        # The ecl_front_* queries import run_ecl when called, so patching the
        # module attribute reaches them.
        eclfront.run_ecl = traced_run_ecl
        self._installed = [
            (ClientServerConnection, "send_command", send),
            (eclfront, "run_ecl", run_ecl),
        ]
        return self

    def uninstall(self):
        for owner, attr, orig in self._installed:
            setattr(owner, attr, orig)
        self._installed = []

    @contextmanager
    def _group(self, phase):
        """Tag the Spark jobs started inside with this execution's phase."""
        with self.quiet():
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(f"q{self._qid}-{phase}", phase)
        try:
            yield
        finally:
            with self.quiet():
                if prev is None:
                    self._sc._jsc.clearJobGroup()
                else:
                    self._sc.setJobGroup(prev, prev.rsplit("-", 1)[-1])

    # -- one traced execution -------------------------------------------
    def run(self, spark, prof, fn, data_dir):
        self._sc = spark.sparkContext
        self._qid += 1
        qid = self._qid
        first = len(self.spans)
        gc0 = self._gc_ms(spark)
        try:
            with self.span("query"):
                with self.span("construct"), self._group("construct"):
                    df = fn(spark, data_dir)
                t1 = time.perf_counter()
                with self.span("catalyst"), self.quiet():
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                t2 = time.perf_counter()
                with self.span("exec"), self._group("exec"):
                    df.write.mode("overwrite").format(_NOOP).save()
                t3 = time.perf_counter()
        finally:
            with self.quiet():
                self._sc._jsc.clearJobGroup()
        with self.quiet():
            prof.gc_s = (self._gc_ms(spark) - gc0) / 1000.0
            prof.phases_ms = _phases_ms(qe)
            self._collect(spark, prof, qid)
        self._fold_spans(prof, first)
        return t1, t2, t3

    def _fold_spans(self, prof, first):
        spans = self.spans[first:]
        by_id = {s[0]: s for s in spans}
        child_time: dict[int, float] = {}
        for s in spans:
            child_time[s[1]] = child_time.get(s[1], 0.0) + (s[4] - s[3])

        def under(span, name):
            parent = by_id.get(span[1])
            while parent is not None:
                if parent[2] == name:
                    return True
                parent = by_id.get(parent[1])
            return False

        for s in spans:
            dur = s[4] - s[3]
            if s[2] == "py4j" and under(s, "construct"):
                prof.construct_py4j_calls += 1
                prof.construct_py4j_s += dur
                if under(s, "eclfront.run_ecl"):
                    prof.eclfront_py4j_calls += 1
            elif s[2] == "construct":
                prof.construct_self_s = dur - child_time.get(s[0], 0.0)
            elif s[2] == "eclfront.run_ecl":
                prof.eclfront_s += dur
                prof.eclfront_self_s += dur - child_time.get(s[0], 0.0)

    def _collect(self, spark, prof, qid):
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        prof.construct_jobs = len(tracker.getJobIdsForGroup(f"q{qid}-construct"))
        prof.eclfront_jobs = len(tracker.getJobIdsForGroup(f"q{qid}-eclfront"))
        prof.construct_jobs += prof.eclfront_jobs
        exec_jobs = tracker.getJobIdsForGroup(f"q{qid}-exec")
        prof.exec_jobs = len(exec_jobs)
        for job in exec_jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info is not None else []:
                attempts = store.stageData(stage, False, None, False, None)
                it = attempts.iterator()
                while it.hasNext():
                    d = it.next()
                    if d.status().toString() == "SKIPPED":
                        continue
                    prof.exec_stages += 1
                    prof.exec_tasks += d.numTasks()
                    prof.exec_failed_tasks += d.numFailedTasks()
                    prof.exec_task_run_s += d.executorRunTime() / 1e3
                    prof.exec_task_cpu_s += d.executorCpuTime() / 1e9
                    prof.exec_input_rows += d.inputRecords()
                    prof.exec_shuffle_write_bytes += d.shuffleWriteBytes()
                    prof.exec_spill_bytes += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    prof.exec_output_bytes += d.outputBytes()
        prof.operators = _operator_metrics(spark, set(exec_jobs))

    @staticmethod
    def _gc_ms(spark):
        beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def write(self, path):
        with open(path, "w") as out:
            for s in self.spans:
                out.write(json.dumps(dict(zip(
                    ("id", "parent", "name", "start", "end", "query_execution"), s
                ))) + "\n")


def _phases_ms(qe) -> dict:
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def _operator_metrics(spark, job_ids) -> list:
    """Per-operator SQL metrics of the SQL execution that ran ``job_ids``;
    it is among the last few the status store holds."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 4), 4)
    for i in range(recent.size() - 1, -1, -1):
        ex = recent.apply(i)
        if not any(ex.jobs().contains(j) for j in job_ids):
            continue
        values = store.executionMetrics(ex.executionId())
        ops = []
        nodes = store.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            metrics = {}
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            ops.append({"operator": node.name(), "metrics": metrics})
        return ops
    return []
