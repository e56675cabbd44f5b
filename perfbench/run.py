#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cf_train_heavy --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (closed loop, one client,
Spark ``local[4]`` from ``session.get_spark``):

- ``cf_train_heavy``: the paper's pipeline on a Zipf-skewed ratings
  CSV with 1% validation rows; the ALS fit dominates.
- ``registry_hot``: six registry queries over a generated corpus.

A run sets up once (seeded inputs, session and two warm-up
repetitions; ``setup_s``), then repeats the workload until
``--seconds`` have passed. Outputs are checked outside the timed
region: every repetition's for ``cf_train_heavy``, the first
warm-up's for ``registry_hot``. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced repetitions and
prints the per-layer metrics, whose spans are also written to
``.perfbench_out/``. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name -> value and unit). The exit code is 0 only when
every output check passed. Every process the run starts (input and
oracle children, the Spark JVM and the Python workers it forks) is
stopped and waited for before the run exits, on every path out of it.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cf_train_heavy", "registry_hot")
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts (Linux):
    a process whose parent ends first, such as a worker the Spark JVM
    forked, is re-parented here instead of to init, so that
    ``reap_children`` can stop it and wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def children() -> list[int]:
    """Pids of this process's children, ended ones included."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(entry))
    return kids


def reap_children(grace: float = 20.0) -> None:
    """Stop every process this run started and wait until each has
    ended: multiprocessing's resource tracker is closed, other children
    get SIGTERM and, if still running after ``grace`` seconds, SIGKILL.
    Orphans re-parented here meanwhile are treated the same way."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    signalled: dict[int, int] = {}
    while kids := children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0 and signalled.get(pid) != sig:
                    os.kill(pid, sig)
                    signalled[pid] = sig
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


class Context:
    """State of one run: session, counters, samples and spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale: str):
        self.workload, self.seed, self.seconds, self.trace, self.scale = workload, seed, seconds, trace, scale
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.work = os.path.join(ROOT, ".perfbench_work", self.run_id)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.values: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.spans: list[dict] = []
        self.live_heap: list[float] = []
        self.spark = None

    def start_spark(self, heap: str):
        """``get_spark(master="local[4]")`` with Spark's scratch files in
        the work directory and the JVM heap capped at ``heap``."""
        from spark_cassandra_collabfiltering_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master="local[4]",
            extra_conf={
                "spark.driver.memory": heap,
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -Xss16m",
            },
        )
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def in_child(self, fn, *args):
        """``fn(*args)`` in a fresh Python process, waited for. Input
        generation and the DuckDB oracle run there, so that their memory
        stays out of this driver's peak RSS."""
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
            return pool.submit(fn, *args).result()

    def _pools(self, kind: str):
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.isValid() and p.getType().name() == kind]

    def collect_garbage(self) -> None:
        """Run a full JVM GC and record the heap it leaves in use."""
        self.spark._jvm.System.gc()
        self.live_heap.append(sum(p.getUsage().getUsed() for p in self._pools("HEAP")) / 2**20)

    def peak_rss_mb(self) -> float:
        """Peak memory of the engine in this run: the largest heap left
        live after a full GC (taken between repetitions), plus the JVM's
        non-heap pools at their peak use, plus this Python driver's peak
        RSS. The heap's transient peak is left out: it follows the
        collector's young-generation sizing and spread by a quarter from
        run to run (it is the traced run's ``jvm.heap_peak_mb``)."""
        non_heap = sum(p.getPeakUsage().getUsed() for p in self._pools("NON_HEAP")) / 2**20
        return max(self.live_heap) + non_heap + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def attempt(self, fn, *args, required: bool = False):
        """Run one operation; count it, and count it failed on exception.
        A failed ``required`` operation ends the run."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=4))
            if required:
                raise
            return None

    def record_check(self, problems: list[str]) -> bool:
        """Count a completed operation failed if its output check failed."""
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        return not problems

    def measure(self, reps) -> None:
        """Repeat ``reps`` (one cycle) until ``seconds`` have passed, at
        least once; annotate host noise over the measured region. A JVM
        GC before each repetition (untimed, as ``bench.py`` does) keeps
        one repetition's garbage out of the next one's time."""
        from perfbench import noise

        spin = noise.SpinProbe()
        spin.sample()
        before = noise.proc_stat()
        start = time.perf_counter()
        while True:
            for rep in reps:
                self.collect_garbage()
                rep()
            spin.sample()
            if time.perf_counter() - start >= self.seconds:
                break
        self.collect_garbage()
        self.values["jvm.heap_peak_mb"] = sum(p.getPeakUsage().getUsed() for p in self._pools("HEAP")) / 2**20
        self.values["host.cpu_steal_pct"] = noise.steal_pct(before, noise.proc_stat())
        self.values["host.spin_noise_ratio"] = spin.ratio()

    def timing(self, name: str, samples: list[float]) -> None:
        self.samples[name] = samples
        self.values[name] = statistics.median(samples)

    def metric(self, name: str, value: float) -> None:
        self.values[name] = value


def run_workload(ctx: Context) -> None:
    from perfbench import cf, registry

    os.makedirs(os.path.join(ctx.work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    try:
        (registry.run if ctx.workload == "registry_hot" else cf.run)(ctx)
        ctx.values["peak_rss_mb"] = ctx.peak_rss_mb()
        ctx.values["ok_ratio"] = (ctx.attempted - ctx.failed) / ctx.attempted
    finally:
        ctx.stop_spark()


def report(ctx: Context) -> bool:
    """Print the human-readable lines, write the spans, print the JSON
    line; return whether the run is correct."""
    from perfbench.metrics import END_TO_END, PER_LAYER

    if ctx.trace:
        # a layer this workload never calls reads 0
        wanted = {name: (ctx.values.get(name, 0.0), unit) for name, unit in PER_LAYER.items()}
    else:
        wanted = {name: (ctx.values[name], spec[0]) for name, spec in END_TO_END.items() if name in ctx.values}
    missing = [] if ctx.trace else [n for n in END_TO_END if n not in ctx.values]
    for name, samples in ctx.samples.items():
        print(f"{name}: median {statistics.median(samples):.4f} s over n={len(samples)} "
              f"[{', '.join(f'{s:.4f}' for s in samples)}]")
    print(f"host: cpu_steal_pct={ctx.values.get('host.cpu_steal_pct', 0.0):.2f} "
          f"spin_noise_ratio={ctx.values.get('host.spin_noise_ratio', 1.0):.3f}")
    for problem in ctx.problems + [f"metric {n} not measured" for n in missing]:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    if ctx.spans:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{ctx.run_id}.json"), "w") as fh:
            json.dump({"run_id": ctx.run_id, "values": ctx.values, "spans": ctx.spans}, fh, indent=1)
    correct = ctx.failed == 0 and not ctx.problems and not missing
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in wanted.items()},
    }))
    return correct


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="input size; tiny is for the self-test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import spark_cassandra_collabfiltering_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    adopt_orphans()
    # a SIGTERM unwinds through the finally blocks, so nothing is left running
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        try:
            run_workload(ctx)
        except Exception:
            # the run is cut short: it counts as (at least) one failed operation
            ctx.problems.append(traceback.format_exc())
            ctx.attempted, ctx.failed = max(ctx.attempted, 1), max(ctx.failed, 1)
        return 0 if report(ctx) else 1
    finally:
        reap_children()
        shutil.rmtree(ctx.work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
