#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload feature_backfill --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) on ``local[nproc]`` from a single
driver process, from the root of a source checkout:

1. generates the seed's inputs once into ``.perfbench/cache`` (the program
   only ever sees the generated parquet files);
2. set-up, timed as ``setup_s``: session (JVM) start, input load, the
   workload's one-time set-up (the neardup store backfill) and
   ``WARMUP_PASSES`` untimed, checked passes.  Each run sets up once: a
   repeat in the same process cannot repeat the session start, and would
   find lazily filled caches warm, hiding work moved into set-up -- the
   median over runs is the statistic;
3. timed passes, each preceded by ``clearCache`` and followed by an output
   check, until ``--seconds`` have passed and at least ``MIN_PASSES`` ran;
4. prints one summary line per metric, then one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: ``setup_s``, and
``pass_cpu_s``, the median over the timed passes of the CPU seconds the JVM
and its Python workers spent on one pass, less the JIT compiler threads'.
The summary lines add the wall-clock ``pass_s`` (median pass) and
``rows_per_s`` (the median pass's rows per second), ``peak_rss_mb`` (JVM
plus Python workers, sampled from /proc), ``error_rate``, the pass count,
``cpu_steal_s`` (CPU time the hypervisor took from the machine during the
passes) and, for shard_ingest, ``store_bytes_per_row``.  Wall-clock pass
time and peak RSS are not bounded metrics: on a shared virtual machine the
hypervisor's steal can double a pass's wall time from one minute to the
next (the kernel leaves stolen time out of CPU time), and the JVM's heap
sizing moves RSS by 10-20% between identical runs.  The JIT compiler is
left out because a fresh JVM keeps compiling through its first dozen
passes, at a pace set by how much CPU the host leaves it.  ``--trace 1`` sets
up the same way, runs untraced and traced passes (the difference of their
medians is ``trace.overhead_s``), takes per-layer cuts, and reports the
per-layer metrics; the full trace (spans, cuts, stage metrics, plan nodes, stage
row counts) is written to ``.perfbench/traces/<workload>-seed<N>.json``.

Everything the run writes stays under ``.perfbench`` in the checkout: the
Spark warehouse, local dirs, JVM temp files and the neardup store live in a
per-run work directory that is deleted at exit.  A lock file serializes
runs, since two Spark workloads at once pollute each other's timings.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _configure(work: str) -> None:
    """Environment for the JVM and its Python workers; must run before
    pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a quarter of the box: the 48g default does not fit a 15 GB machine
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(2, min(8, total_gb // 4))}g"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # compiler threads that never exit keep their CPU time countable
    # (procfs.jit_cpu_s)
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # spark-warehouse (saveAsTable) is created under the working directory
    os.chdir(work)


def _start_spark():
    from py_evalfilter_spark import session

    real_os = session.os

    class _NoShm:
        """get_spark() points spark.local.dir at /dev/shm when it is
        writable and creates a directory there; hide it so nothing is
        written outside the checkout (SPARK_LOCAL_DIRS is used instead)."""

        def __getattr__(self, name):
            return getattr(real_os, name)

        @staticmethod
        def access(path, mode):
            return path != "/dev/shm" and real_os.access(path, mode)

    session.os = _NoShm()
    try:
        return session.get_spark(app_name="perfbench")
    finally:
        session.os = real_os


class PeakRss:
    """Samples the resident set of the JVM plus its Python workers every
    ``interval`` seconds and keeps the largest sum.  Summing each process's
    own high-water mark instead would count workers that never ran at the
    same time and miss workers that already exited."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid = pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, procfs.rss_kb(self.pid))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the JVM
    started (the Python worker daemon) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = procfs.descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for p in procs:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(wl, seconds: float, traced: bool, t_start: float) -> dict:
    """Timed passes until ``seconds`` have passed.  Returns per-pass wall
    and CPU times, throughput and failures.  Traced runs alternate untraced, traced, traced,
    untraced, ... and need one of each; the JVM still warms, so an overhead
    from only the first two passes reads low."""
    import layertrace
    import workloads

    sc = wl.spark.sparkContext
    tracer = layertrace.Tracer(workloads.LAYERS, t0=t_start) if traced else None
    times = {False: [], True: []}
    cpus, rates, runs = [], [], []
    failed = attempted = 0

    def enough() -> bool:
        if traced:
            return bool(times[False]) and bool(times[True])
        return len(times[False]) >= wl.MIN_PASSES

    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or not enough():
        if attempted >= 3 and failed == attempted:
            break  # every pass fails: stop instead of looping forever
        if wl.exhausted():
            _log("input stream exhausted before --seconds passed")
            break
        with_trace = traced and attempted % 4 in (1, 2)
        attempted += 1
        info = {"group": f"traced-{len(runs)}"} if with_trace else None
        sc.setJobGroup("untraced" if info is None else info["group"], "perfbench pass")
        steal = procfs.steal_s()
        try:
            if with_trace:
                with tracer:
                    dt, cpu, rows = wl.run_pass(info)
                runs.append(info)
            else:
                dt, cpu, rows = wl.run_pass(None)
        except Exception:
            failed += 1
            _log("pass failed:\n" + traceback.format_exc())
            continue
        times[with_trace].append(dt)
        _log(f"pass {attempted}{' traced' if with_trace else ''}: {dt:.3f} s,"
             f" CPU {cpu:.2f} s, steal {procfs.steal_s() - steal:.2f} s")
        if not with_trace:
            cpus.append(cpu)
            rates.append(rows / dt)
    return {
        "times": times[False],
        "traced_times": times[True],
        "cpu_s": cpus,
        "rows_per_s": _median(rates),
        "attempted": attempted,
        "failed": failed,
        "tracer": tracer,
        "runs": runs,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "py_evalfilter_spark", "__init__.py")):
        _log(f"no py_evalfilter_spark package under {ROOT}: nothing to measure")
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        work = os.path.join(STATE, "work", str(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            return _run(args, workloads, work)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)


def _run(args, workloads, work: str) -> int:
    wl = workloads.WORKLOADS[args.workload](
        args.seed, os.path.join(STATE, "cache"), work
    )
    t = time.perf_counter()
    wl.prepare()
    _log(f"inputs and checks prepared: {time.perf_counter() - t:.3f} s")
    _configure(work)

    t_start = time.perf_counter()
    spark = rss = None
    try:
        spark = _start_spark()
        from pyspark import SparkContext

        wl.jvm_pid = SparkContext._gateway.proc.pid
        rss = PeakRss(wl.jvm_pid).start()
        _log(f"session start: {time.perf_counter() - t_start:.3f} s")
        spark.sparkContext.setJobGroup("setup", "perfbench set-up")
        t = time.perf_counter()
        wl.setup(spark)
        _log(f"workload set-up: {time.perf_counter() - t:.3f} s")
        for i in range(wl.WARMUP_PASSES):
            dt, cpu, _ = wl.run_pass(None)  # raises if its output is wrong
            _log(f"warm-up pass {i + 1}: {dt:.3f} s, CPU {cpu:.2f} s")
        setup_s = time.perf_counter() - t_start
        _log(f"set-up: {setup_s:.3f} s")
        steal = procfs.steal_s()
        m = measure(wl, args.seconds, bool(args.trace), t_start)
        steal = procfs.steal_s() - steal
        peak = rss.stop()
        extra = wl.summary() if m["failed"] < m["attempted"] else {}
        layer = None
        if args.trace and m["runs"]:
            spark.sparkContext.setJobGroup("cuts", "perfbench per-layer cuts")
            m["attempted"] += 1  # the cuts run checked work too (curation)
            try:
                layer = _layer_metrics(wl, m, args, peak)
            except workloads.CheckFailed:
                m["failed"] += 1
                _log("per-layer check failed:\n" + traceback.format_exc())
                layer = dict.fromkeys(workloads.PER_LAYER, 0.0)
        wl.teardown()
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            _stop_spark(spark)

    ok = m["attempted"] - m["failed"]
    error_rate = m["failed"] / m["attempted"]
    if args.trace:
        if layer is None:
            _log("no traced pass succeeded")
            return 1
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    else:
        if not m["times"]:
            _log("no timed pass succeeded")
            return 1
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_cpu_s": {"value": _median(m["cpu_s"]), "unit": "s"},
        }
    summary = {k: v["value"] for k, v in metrics.items() if not args.trace}
    if m["times"]:
        summary.update(pass_s=_median(m["times"]), rows_per_s=m["rows_per_s"])
    summary.update(
        peak_rss_mb=peak, error_rate=error_rate, passes=ok, cpu_steal_s=steal, **extra
    )
    for k, v in summary.items():
        print(f"{args.workload}.{k} = {v}")
    print(json.dumps({
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "store.bytes":
        return "bytes"
    if name.endswith(("yield", "skew")):
        return "ratio"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _layer_metrics(wl, m: dict, args, peak_rss_mb: float) -> dict[str, float]:
    import workloads

    tracer = m["tracer"]
    layer = dict.fromkeys(workloads.PER_LAYER, 0.0)
    layer.update(wl.layer_metrics(tracer, m["runs"]))
    layer["trace.overhead_s"] = _median(m["traced_times"]) - _median(m["times"])
    layer["memory.peak_rss_mb"] = peak_rss_mb
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "untraced_pass_s": m["times"],
        "traced_pass_s": m["traced_times"],
        "span_counts": tracer.span_counts(),
        "span_self_s": tracer.span_self_s(),
        "spans": tracer.span_json(),
        "per_layer": layer,
        **tracer.report,
    }
    out = os.path.join(STATE, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    _log(f"trace written to {path}")
    return layer


if __name__ == "__main__":
    sys.exit(main())
