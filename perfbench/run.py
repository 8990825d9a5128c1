#!/usr/bin/env python3
"""Benchmark of the work-order extraction engine at ``local[nproc]``.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract_flagship --seed 1 --seconds 10 --trace 0

One client runs a closed loop with one job in flight: set up, then repeat
the workload's timed call until ``--seconds`` have passed, checking every
output against the oracle. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it records the environment, the seed and the sample counts.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "work_order_pdf_extractor_spark"
SETUPS = 3  # set-ups per untraced run; setup_s is their median
# session.get_spark defaults to a 16g driver, more than a small VM has. The
# heap is fixed and pre-touched so that peak RSS does not follow G1's sizing.
DRIVER_MEM = "1536m"
JVM_OPTS = "-Xms1536m -XX:+AlwaysPreTouch -XX:-UsePerfData"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up, one iteration")
    return ap.parse_args(argv)


def pin_environment(cores: int) -> str:
    """Point every process the run starts at the checkout; return the
    run's private scratch directory."""
    run_tmp = os.path.join(ROOT, ".bench_cache", "perfbench", "tmp", f"run-{os.getpid()}")
    os.makedirs(run_tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # Python workers import the package from the checkout, not from a zip
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_tmp, "spark-local")
    os.environ["TMPDIR"] = run_tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return run_tmp


class RssSampler:
    """Peak resident set of this process and all its descendants (driver,
    JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> dict[str, int]:
        tree = descendants()
        tree[os.getpid()] = 0
        statm = {}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    statm[pid] = f.read()
            except OSError:
                continue
        by_name: dict[str, int] = {}
        for pid, line in statm.items():
            # a child in the middle of a JVM posix_spawn still shares its
            # parent's memory (CLONE_VM); count that memory once
            if statm.get(tree[pid]) == line:
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            by_name[name] = by_name.get(name, 0) + int(line.split()[1]) * self._page
        return by_name

    def _sample(self) -> None:
        by_name = self.tree_rss()
        total = sum(by_name.values())
        if total > self.peak:
            self.peak = total
            self.peak_by_name = {k: round(v / 2**20) for k, v in by_name.items()}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def top_percentile(values: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    for p in (99, 90):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", statistics.quantiles(values, n=100)[p - 1]
    return "p50", statistics.median(values)


def run_iterations(wl, seconds: float, calls: int = 1) -> tuple[list[float], int, int]:
    """Closed loop until ``seconds`` have passed and ``calls`` calls ran."""
    times, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    for i in itertools.count(1):
        try:
            sec, n, wrong = wl.iteration()
            times.append(sec)
        except Exception:  # an iteration that raised counts all its rows as failed
            traceback.print_exc()
            n = wrong = wl.n_rows
        attempted += n
        failed += wrong
        if time.perf_counter() >= deadline and i >= calls:
            return times, attempted, failed


def pin_to_one_cpu(spark) -> None:
    """Pin every thread of the JVM and of this process to one CPU; the
    threads and Python workers they start later inherit the pin."""
    from pyspark import SparkContext

    cpu = str(min(os.sched_getaffinity(0)))
    for pid in (SparkContext._gateway.proc.pid, os.getpid()):
        subprocess.run(["taskset", "-a", "-p", "-c", cpu, str(pid)], check=True, stdout=subprocess.DEVNULL)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def descendants() -> dict[int, int]:
    """``{pid: parent pid}`` of every process this one started, directly or not."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        for kid in children.get(pid, []):
            out[kid] = pid
            todo.append(kid)
    return out


def reap(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what outlives
    ``timeout`` (Python workers exit once the JVM that forked them is gone)."""
    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)}
        if not alive:
            return
        if time.monotonic() >= deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    # import perfbench as a package from the checkout root; its directory on
    # sys.path would let perfbench/trace.py shadow the stdlib module
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if args.smoke:
        args.seconds = 0.0
    cores = len(os.sched_getaffinity(0))
    run_tmp = pin_environment(cores)

    import pyspark

    from perfbench import metrics
    from perfbench.trace import StatusStore, Tracer
    from perfbench.workloads import WORKLOADS
    from work_order_pdf_extractor_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    seed_dir = os.path.join(ROOT, ".bench_cache", "perfbench", f"seed-{args.seed}{'-smoke' if args.smoke else ''}")
    wl = WORKLOADS[args.workload](seed_dir, args.seed, args.smoke)

    def session(n_cores: int = cores):
        return get_spark(
            app_name=f"perfbench-{args.workload}",
            cores=n_cores,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_tmp} {JVM_OPTS}",
                "spark.sql.warehouse.dir": os.path.join(run_tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )

    spark = None
    phases: dict = {}
    try:
        t0 = time.perf_counter()
        spark = session()
        get_spark_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(spark)  # seeded inputs and oracle, cached per seed: not set-up
        phases["prepare_s"] = time.perf_counter() - t0
        # A set-up is session start, input load, amortized state and the
        # first call on the new session, which starts the Python workers.
        # The first set-up also starts the JVM, and its calls warm the JIT;
        # the later ones start a new SparkContext in the same JVM. setup_s
        # is their median, so it does not depend on what prepare ran.
        setups, first_calls, attempted, failed = [], [], 0, 0
        for i in range(1 if args.trace or args.smoke else SETUPS):
            if i:
                spark.stop()
                t0 = time.perf_counter()
                spark = session()
                start_s = time.perf_counter() - t0
            else:
                start_s = get_spark_s
            t0 = time.perf_counter()
            wl.setup(spark)
            first, n, bad = run_iterations(wl, 0.0)
            setups.append(start_s + time.perf_counter() - t0)
            first_calls, attempted, failed = first_calls + first, attempted + n, failed + bad
        phases["setups_s"] = setups
        phases["first_call_s"] = first_calls

        if args.trace:
            # the untraced reference for the tracing overhead: the fastest
            # of two more calls, once the JIT has warmed
            times = first_calls
            if not args.smoke:
                times, n, bad = run_iterations(wl, 0.0, 2)
                attempted, failed = attempted + n, failed + bad
            untraced_s = min(times)
            tracer = Tracer(StatusStore(spark, cores))
            layer = wl.trace(tracer)
            attempted += wl.n_rows
            failed += sum(layer.pop(k) for k in [k for k in layer if k.endswith("rows_wrong")])
            layer["trace.overhead_s"] = layer["trace.job_s"] - untraced_s
            layer["session.get_spark.s"] = get_spark_s
            layer["session.warmup_s"] = first_calls[0]
            layer["sources.read_transcripts.s"] = getattr(wl, "read_s", 0.0)
            if args.workload == "extract_flagship":
                # last, because it pins the process tree: a local[1] session
                # in the same JVM, one warm-up call, then one timed call
                spark.stop()
                pin_to_one_cpu(spark)
                spark = session(1)
                wl.setup(spark)
                one, n, bad = run_iterations(wl, 0.0, 2)
                attempted, failed = attempted + n, failed + bad
                phases["one_core_each_s"] = one
                layer["scaling_eff_1to4"] = one[-1] / (cores * untraced_s)
            values = {k: float(layer.get(k, 0.0)) for k in metrics.PER_LAYER}
            units = metrics.PER_LAYER
            trace_dir = os.path.join(ROOT, ".bench_cache", "perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"metrics": layer, "spans": tracer.to_json()}, f, indent=1, default=str)
        else:
            t0, steal0 = time.perf_counter(), steal_s()
            with RssSampler() as rss:
                times, n, bad = run_iterations(wl, args.seconds)
            phases["measure_s"] = time.perf_counter() - t0
            phases["measure_steal_s"] = steal_s() - steal0
            phases["rss_mb_at_peak"] = rss.peak_by_name
            attempted, failed = attempted + n, failed + bad
            if not times:
                print("perfbench: every iteration raised", file=sys.stderr)
                return 1
            job_s = statistics.median(times)
            values = {
                "rows_per_s": wl.n_rows / job_s,
                "job_s": job_s,
                "setup_s": statistics.median(setups),
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = metrics.END_TO_END
    finally:
        if spark is not None:
            started = set(descendants())
            stop_session(spark)
            reap(started)
        shutil.rmtree(run_tmp, ignore_errors=True)

    tail, tail_v = top_percentile(times) if times else ("p50", 0.0)
    print(json.dumps({
        "perfbench": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cores, "spark": pyspark.__version__,
            "python": platform.python_version(), "rows": wl.n_rows,
            "iterations": len(times), "job_s_each": times,
            f"job_s_{tail}": tail_v, **phases,
            "error_rate": failed / attempted if attempted else 0.0,
        }
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
