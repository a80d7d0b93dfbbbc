"""Benchmark for pandance_spark, measured from outside the library.

Usage (from the repository root):

    python3 perfbench/run.py --workload pandance_joins --seed 1 --seconds 6 --trace 0

One run starts a fresh local Spark session, builds the workload's
inputs from ``--seed``, runs one cold pass, a few untimed warm-up
passes, then warm passes for ``--seconds``.  A pass makes every call
of the workload once; each call is timed from the public function's
invocation until its noop sink finishes.  A timed pass during which
the hypervisor stole more than ``STEAL_LIMIT`` of the CPU time is run
again, at most ``STEAL_RETRIES`` times.  Every call's output is then checked against an
independent reference outside the timed windows.

The last line of stdout is one JSON object: the end-to-end metrics
with ``--trace 0``; with ``--trace 1`` the per-layer metrics of
:mod:`perfbench.trace`, from traced passes that alternate with the
timed ones.  See ``perfbench/README.md`` for what each number means.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Steadiness settings, echoed in the output.  local[3] leaves one of
# four cores to the driver, which plans and launches every job.  The
# driver heap is fixed at 2 GB: a heap that grows does so when GC
# ergonomics decide, which made peak_rss_mb too noisy to gate.
CORES = 3
SETTINGS = {
    "spark.master": f"local[{CORES}]",
    "spark.sql.shuffle.partitions": str(CORES),
    "spark.driver.memory": "2g",
    "spark.driver.extraJavaOptions": "-Xms2g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.host": "localhost",
    "spark.driver.bindAddress": "127.0.0.1",
}
THREAD_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
# untimed warm passes after the cold one, per workload: the driver's
# JIT keeps speeding up planning for several passes
WARMUP_PASSES = {"pandance_joins": 2, "dedup": 0}
MIN_TIMED_PASSES = 2
# A timed pass during which the hypervisor gave more than STEAL_LIMIT
# of the CPU time to other guests is not counted and is run again, at
# most STEAL_RETRIES times; after that the MIN_TIMED_PASSES passes with
# the least steal are used.  Steal episodes on a shared host last
# minutes, so more retries would lengthen runs without escaping them.
STEAL_LIMIT = 0.03
STEAL_RETRIES = 1

END_TO_END_UNITS = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cpu_jiffies() -> tuple[int, int]:
    """``(steal, total)`` jiffies over all CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _reset_hwm(pid) -> None:
    """Restart the peak resident size (VmHWM) from the current one."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """One Spark session plus the workload's cached inputs."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.spark = None

    def conf(self):
        from pyspark import SparkConf

        conf = SparkConf()
        for k, v in SETTINGS.items():
            conf.set(k, v)
        conf.set("spark.local.dir", os.path.join(self.tmp, "spark"))
        conf.set("spark.sql.warehouse.dir", os.path.join(self.tmp, "warehouse"))
        conf.set("spark.driver.extraJavaOptions",
                 f"{SETTINGS['spark.driver.extraJavaOptions']} "
                 f"-Djava.io.tmpdir={self.tmp}")
        return conf

    def launch(self) -> float:
        """Start the JVM only (timed separately: it happens once)."""
        from pyspark import SparkContext

        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=self.conf())
        return time.perf_counter() - t0

    def start(self):
        from pyspark.sql import SparkSession

        self.spark = SparkSession.builder.config(conf=self.conf()).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    """Runs a workload's passes in one session and keeps the counts."""

    def __init__(self, workload, seed: int, tmp: str):
        self.workload, self.seed = workload, seed
        self.calls = workload.calls
        self.session = Session(tmp)
        self.made = {}  # call -> number of invocations
        self.raised = {}  # call -> number of invocations that raised
        self.call_s = {}  # call -> wall time of each untraced invocation
        self.inputs = {}  # cached input DataFrames by name
        self.keep_rdds = set()

    # -- set-up -----------------------------------------------------------

    def setup(self) -> float:
        """Start a session and cache the inputs; returns its duration."""
        t0 = time.perf_counter()
        spark = self.session.start()
        frames = self.workload.generate(self.seed)
        self.inputs = self.workload.load(spark, frames)
        dt = time.perf_counter() - t0
        self.keep_rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        return dt

    def barrier(self):
        """Untimed, before every pass: release every persisted block
        except the inputs', and ask the JVM to collect (as bench.py's
        ``_barrier``)."""
        gc.collect()
        sc = self.session.spark.sparkContext
        rdds = sc._jsc.getPersistentRDDs()
        for rid in list(rdds.keySet()):
            if rid not in self.keep_rdds:
                rdds.get(rid).unpersist(False)
        sc._jvm.System.gc()

    def _attempt(self, call, fn):
        """``fn()``, counting the invocation; ``None`` if it raised."""
        self.made[call.name] = self.made.get(call.name, 0) + 1
        try:
            return fn()
        except Exception:
            self.raised[call.name] = self.raised.get(call.name, 0) + 1
            traceback.print_exc(file=sys.stderr)
            return None

    # -- passes -----------------------------------------------------------

    @staticmethod
    def _sink(df):
        df.write.format("noop").mode("overwrite").save()
        return df

    def untraced_pass(self) -> tuple[float, dict]:
        """Wall time of one pass, and each call's DataFrame (valid until
        the next pass)."""
        self.barrier()
        total, dfs = 0.0, {}
        for call in self.calls:
            t0 = time.perf_counter()
            dfs[call.name] = self._attempt(
                call, lambda: self._sink(call.invoke(self.inputs)))
            dt = time.perf_counter() - t0
            self.call_s.setdefault(call.name, []).append(dt)
            total += dt
        return total, dfs

    def traced_pass(self, tracer, tag: str) -> tuple[float, dict]:
        """Like :meth:`untraced_pass`, plus every call's layer metrics."""
        from perfbench.trace import layer_metrics

        self.barrier()
        total, metrics = 0.0, {}
        for call in self.calls:
            tr = self._attempt(call, lambda: tracer.run(
                tag, call.name, lambda: call.invoke(self.inputs), self._sink))
            if tr is None:
                continue
            total += tr.build_s + tr.plan_s + tr.exec_s
            tr.counters = tracer.stage_counters(tr)
            nodes = tracer.node_rows(tr.execution_id)
            m = layer_metrics(tr, nodes, tracer.cores)
            if call.candidates is not None:
                cand, found = call.candidates(nodes, tr.df)
                m["cand_pairs"] = cand
                m["cand_per_out"] = cand / max(found, 1)
            metrics[call.name] = m
        return total, metrics

    def check(self, dfs: dict, expected: dict) -> dict:
        """``{call: ok}`` for the outputs of one pass, read again after
        its timed windows closed."""
        from perfbench.reference import spark_checksum

        ok = {}
        for call in self.calls:
            got = None
            if dfs.get(call.name) is not None:
                try:
                    got = spark_checksum(dfs[call.name], call.columns, call.scales)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
            exp = (expected[call.name].rows, expected[call.name].checksum)
            ok[call.name] = got == exp
            if got != exp:
                print(f"output check FAILED for {call.name}: got {got}, "
                      f"expected {exp}", file=sys.stderr)
        return ok


def run(args, tmp: str) -> dict:
    from perfbench.workloads import ALL_CALLS, WORKLOADS

    workload = WORKLOADS[args.workload]()
    # references first, with no Spark running: they are not set-up, and
    # the peak resident size is restarted once they are done
    t0 = time.perf_counter()
    expected = workload.references(workload.generate(args.seed))
    references_s = time.perf_counter() - t0
    gc.collect()
    _reset_hwm("self")

    r = Runner(workload, args.seed, tmp)
    try:
        launch_s = r.session.launch()
        setup_s = launch_s + r.setup()
        jvm = r.session.spark.sparkContext._gateway.jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()

        cold, dfs = r.untraced_pass()
        for _ in range(WARMUP_PASSES.get(args.workload, 0)):
            r.untraced_pass()

        # timed passes; a traced run alternates untraced and traced
        # passes so that both see the same JIT state, and the difference
        # of their medians is the tracing overhead
        walls, steals, traced, per_pass = [], [], [], []
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer, summarize

            tracer = Tracer(r.session.spark)
        while True:
            clean = [w for w, st in zip(walls, steals) if st <= STEAL_LIMIT]
            if len(clean) >= MIN_TIMED_PASSES and sum(clean) + sum(traced) >= args.seconds:
                break
            stolen = len(walls) - len(clean)
            if len(walls) >= MIN_TIMED_PASSES and stolen > STEAL_RETRIES:
                break
            if tracer is not None:
                total, m = r.traced_pass(tracer, f"pass{len(traced)}")
                traced.append(total)
                per_pass.append(m)
            # the last pass is untraced: its outputs are the ones checked
            steal0, total0 = _cpu_jiffies()
            wall, dfs = r.untraced_pass()
            steal1, total1 = _cpu_jiffies()
            walls.append(wall)
            # share of CPU time the hypervisor gave to other guests
            # during the pass: the main source of run-to-run noise on a
            # shared host
            steals.append((steal1 - steal0) / max(total1 - total0, 1))
        if len(clean) < MIN_TIMED_PASSES:
            order = sorted(range(len(walls)), key=steals.__getitem__)
            clean = [walls[i] for i in order[:MIN_TIMED_PASSES]]
        rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}

        t0 = time.perf_counter()
        ok = r.check(dfs, expected)
        check_s = time.perf_counter() - t0
    finally:
        # stops the JVM and waits for it, also when a run fails
        r.session.shutdown()

    # a wrong output makes every invocation of that call a failure
    failed = sum(r.made[name] if not good else r.raised.get(name, 0)
                 for name, good in ok.items())
    attempted = sum(r.made.values())
    summary = {
        "workload": args.workload, "seed": args.seed, "settings": SETTINGS,
        "steal_limit": STEAL_LIMIT, "steal_retries": STEAL_RETRIES, "cold_pass_s": cold,
        "timed_passes_s": walls, "steal_frac": steals, "counted_passes_s": clean,
        "traced_passes_s": traced, "call_s": r.call_s,
        "launch_s": launch_s, "references_s": references_s, "check_s": check_s,
        "peak_rss_mb": rss,
        "output_ok": ok, "failed_frac": failed / attempted,
    }
    print("# " + json.dumps(summary), flush=True)
    if args.trace:
        metrics = summarize(ALL_CALLS, per_pass, statistics.median(clean),
                            statistics.median(traced), cold)
    else:
        e2e = {
            "wall_s": statistics.median(clean),
            "setup_s": setup_s,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # before numpy loads: BLAS reads its thread count once, at import
    for k in THREAD_ENV:
        os.environ[k] = "1"
    sys.path.insert(0, ROOT)
    try:
        import pandance_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(scratch, str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run is still using it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
