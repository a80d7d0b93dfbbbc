"""Outside-in per-layer reader.

Times each public library call in three phases and reads what Spark
recorded about it from the driver's status stores:

- *build*: the call itself, until it returns its DataFrame (eager
  checkpoints run jobs here);
- *plan*: from the noop sink's start until it submits its first job,
  which Spark does once the sink's physical plan is ready;
- *exec*: from that first job's submission until the sink returns.

``build_s + plan_s + exec_s`` is therefore exactly the call's untraced
window.  Jobs are attributed to a call by job-id window (calls run one
after another), which also catches jobs the library starts from its
own driver threads; each phase's jobs are additionally tagged with
``setJobGroup`` so they are named in any event log.  Stage counters
come from ``AppStatusStore``; per-node ``numOutputRows`` from the SQL
status store's plan graph of the sink's execution.  Nothing here runs
unless the benchmark is started with ``--trace 1``.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1e6


@dataclass
class CallTrace:
    """One traced call: phase times, job windows, sink execution id."""

    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    build_jobs: range = range(0)
    exec_jobs: range = range(0)
    execution_id: int | None = None
    counters: dict = field(default_factory=dict)
    df: object = None  # the call's DataFrame, still valid until the next pass


class Tracer:
    """Runs calls traced and reads their counters back from Spark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism

    def _next_job(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def _drain(self) -> None:
        # the status stores are fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def run(self, tag: str, call: str, build, sink) -> CallTrace:
        """Run ``sink(build())`` once, traced."""
        tr = CallTrace()
        self.sc.setJobGroup(f"{tag}:{call}:build", f"{call} build")
        j0 = self._next_job()
        t0 = time.perf_counter()
        tr.df = df = build()
        t1 = time.perf_counter()
        self._drain()
        j1 = self._next_job()
        e1 = self._sql.executionsCount()
        self.sc.setJobGroup(f"{tag}:{call}:exec", f"{call} exec")
        w1 = time.time()
        t2 = time.perf_counter()
        sink(df)
        t3 = time.perf_counter()
        self._drain()
        j2 = self._next_job()
        e2 = self._sql.executionsCount()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        tr.build_s = t1 - t0
        tr.build_jobs = range(j0, j1)
        tr.exec_jobs = range(j1, j2)
        tr.execution_id = self._root_execution(e1, e2)
        sink_s = t3 - t2
        # Spark plans the sink (analysis, optimization, physical and
        # AQE initial planning) before it submits the first job, so the
        # first job's submission splits the sink into plan and exec.
        # Submission times have millisecond resolution: clamp so the
        # phases always add up to the measured window.
        first = self._first_submission(tr.exec_jobs)
        if first is not None:
            tr.plan_s = min(max(first - w1, 0.0), sink_s)
        tr.exec_s = sink_s - tr.plan_s
        return tr

    def _jobs(self, ids):
        """Status-store records of these job ids; a job the store no
        longer holds (dropped listener events) is skipped."""
        for jid in ids:
            try:
                yield self._store.job(jid)
            except Py4JJavaError:
                continue

    def _first_submission(self, jobs: range):
        times = []
        for job in self._jobs(jobs):
            sub = job.submissionTime()
            if sub.isDefined():
                times.append(sub.get().getTime() / 1000.0)
        return min(times, default=None)

    def _root_execution(self, first: int, end: int):
        """Id of the sink's SQL execution (the first root one it made)."""
        ids = []
        if end > first:
            it = self._sql.executionsList(first, end - first).iterator()
            while it.hasNext():
                x = it.next()
                if x.executionId() == x.rootExecutionId():
                    ids.append(x.executionId())
        return min(ids, default=None)

    # -- counters ---------------------------------------------------------

    def stage_counters(self, tr: CallTrace) -> dict:
        """Stage metrics summed over every job the call ran."""
        gw = self._gw
        quant = gw.new_array(gw.jvm.double, 1)
        quant[0] = 1.0
        empty = gw.jvm.java.util.ArrayList()
        no_q = gw.new_array(gw.jvm.double, 0)
        stage_ids = set()
        for job in self._jobs([*tr.build_jobs, *tr.exec_jobs]):
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        out = dict(tasks=0, run_ms=0, cpu_ns=0, gc_ms=0, shuffle_write=0,
                   spill=0, max_task_ms=0.0, mean_task_ms=0.0)
        for sid in sorted(stage_ids):
            try:
                attempts = self._store.stageData(sid, False, empty, False, no_q)
            except Py4JJavaError:
                continue  # not in the store (dropped listener events)
            it = attempts.iterator()
            while it.hasNext():
                s = it.next()
                if s.status().toString() != "COMPLETE":
                    continue  # skipped: a reused exchange never ran
                n = s.numCompleteTasks()
                out["tasks"] += n
                out["run_ms"] += s.executorRunTime()
                out["cpu_ns"] += s.executorCpuTime()
                out["gc_ms"] += s.jvmGcTime()
                out["shuffle_write"] += s.shuffleWriteBytes()
                out["spill"] += s.diskBytesSpilled()
                if n:
                    out["mean_task_ms"] += s.executorRunTime() / n
                    summ = self._store.taskSummary(sid, s.attemptId(), quant)
                    if summ.isDefined():
                        out["max_task_ms"] += summ.get().executorRunTime().apply(0)
        return out

    def node_rows(self, execution_id: int | None) -> dict:
        """``{node id: (name, numOutputRows or None, [child ids])}`` for
        the sink's final (post-AQE) plan graph."""
        if execution_id is None:
            return {}
        graph = self._sql.planGraph(execution_id)
        values = self._sql.executionMetrics(execution_id)
        nodes = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            n = it.next()
            rows = None
            ms = n.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows = int(str(v.get()).replace(",", ""))
            nodes[n.id()] = [n.name(), rows, []]
        it = graph.edges().iterator()
        while it.hasNext():
            e = it.next()
            if e.toId() in nodes:
                nodes[e.toId()][2].append(e.fromId())
        return {k: tuple(v) for k, v in nodes.items()}


def out_rows(nodes: dict) -> int:
    """Rows the plan's root produced: the first ``numOutputRows`` met
    walking down from the root, summed over the children of any node
    without one (a Union reports none; its inputs do)."""
    if not nodes:
        return 0
    children = {c for _, _, cs in nodes.values() for c in cs}
    roots = [k for k in nodes if k not in children]

    def rows(k: int) -> int:
        _, r, cs = nodes[k]
        if r is not None:
            return r
        return sum(rows(c) for c in cs)

    return sum(rows(k) for k in roots)


def spine_candidates(nodes: dict, df=None) -> tuple[int, int]:
    """``(candidates, results)`` of a pair operator: walking down the
    plan's first-input chain from the root, the first row count larger
    than the result's is the candidate set the operator narrowed down
    (the rows entering its final verification filter or aggregation).
    For ``dedup_minhash`` that is the distinct candidate pairs, for
    ``fingerprint_overlap_join`` the pairs sharing a fingerprint, for
    ``dedup_substrings`` the matching shingle positions.  ``df`` (the
    call's DataFrame) is not needed here."""
    out = out_rows(nodes)
    children = {c for _, _, cs in nodes.values() for c in cs}
    k = next((k for k in nodes if k not in children), None)
    while k is not None:
        _, r, cs = nodes[k]
        if r is not None and r > out:
            return r, out
        k = cs[0] if cs else None
    return out, out


def layer_metrics(tr: CallTrace, nodes: dict, cores: int) -> dict:
    c = tr.counters
    wall = tr.build_s + tr.plan_s + tr.exec_s
    return {
        "build_s": tr.build_s,
        "build_jobs": len(tr.build_jobs),
        "plan_s": tr.plan_s,
        "exec_s": tr.exec_s,
        "out_rows": out_rows(nodes),
        "tasks": c["tasks"],
        "exec_cpu_s": c["cpu_ns"] / 1e9,
        "gc_s": c["gc_ms"] / 1e3,
        "shuffle_write_mb": c["shuffle_write"] / MB,
        "spill_mb": c["spill"] / MB,
        "task_skew": (c["max_task_ms"] / c["mean_task_ms"]
                      if c["mean_task_ms"] else 1.0),
        "core_util": (c["run_ms"] / 1e3) / (wall * cores) if wall > 0 else 0.0,
    }


# unit of every per-call metric; the dedup calls add the two cand_* ones
CALL_UNITS = {
    "build_s": "s", "build_jobs": "count", "plan_s": "s", "exec_s": "s",
    "out_rows": "count", "tasks": "count", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
    "core_util": "ratio",
}
CAND_UNITS = {"cand_pairs": "count", "cand_per_out": "ratio"}
TRACE_UNITS = {"cold_pass_s": "s", "trace.wall_s": "s",
               "trace.traced_wall_s": "s", "trace.overhead_s": "s"}


def metric_units(calls: dict) -> dict:
    """``{metric name: unit}`` of every per-layer metric, given
    ``{call name: has candidate pairs}`` over all workloads."""
    out = {}
    for name, cand in calls.items():
        units = {**CALL_UNITS, **(CAND_UNITS if cand else {})}
        out.update({f"{name}.{k}": u for k, u in units.items()})
    out.update(TRACE_UNITS)
    return out


def summarize(calls: dict, per_pass: list, wall: float, traced_wall: float,
              cold: float) -> dict:
    """Median over traced passes of each call's metrics.  Calls of
    other workloads report 0: they did no work in this one."""
    values = {}
    for name, cand in calls.items():
        ms = [p[name] for p in per_pass if name in p]
        keys = {**CALL_UNITS, **(CAND_UNITS if cand else {})}
        for k in keys:
            vals = [m[k] for m in ms]
            values[f"{name}.{k}"] = statistics.median(vals) if vals else 0
    values["cold_pass_s"] = cold
    values["trace.wall_s"] = wall
    values["trace.traced_wall_s"] = traced_wall
    values["trace.overhead_s"] = traced_wall - wall
    units = metric_units(calls)
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}
