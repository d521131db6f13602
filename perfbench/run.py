"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload linkgraph --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The Spark session runs at
``local[<nproc>]``.  Set-up (session start and input build) is done
``SETUPS`` times, each from a stopped session, and its median reported as
``setup_s``; one warm-up pass on a small input follows; then passes run
until ``--seconds`` have passed.  Every pass's outputs are checked.  With
``--trace 0`` the last line of standard output holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of a traced run (the first
half of the time untraced, the second half traced, so the tracing overhead
is measured in one process).  A host fingerprint is printed on the line
before it.  Spans of traced runs are written to ``.bench_out/``.  The
command exits 1 if any check failed or any operation raised, and also when
the engine package cannot be imported.  Before it exits it shuts the Spark
JVM down and waits until every process it started (the JVM and the Python
workers the JVM forks) has ended.  See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import smatchpp_spark  # noqa: E402,F401  (fails fast outside a checkout)
from spans import COUNTERS, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DEFAULT_SEED = 1
SETUPS = 7
JVM_MEMORY = "2g"

# span name -> per-layer time metric name (median span wall over traced passes)
SPAN_TIME = {
    "engine.score_corpus": "engine.score_corpus.s",
    "sources.penman.parse": "sources.penman.parse_s",
    "operators.standardize.amr": "operators.standardize.amr_s",
    "operators.align.align": "operators.align.align_s",
    "functions.scores.aggregate": "functions.scores.aggregate_s",
    "operators.pagerank": "operators.pagerank.s",
    "operators.components": "operators.components.s",
    "operators.labelprop": "operators.labelprop.s",
    "operators.triangles": "operators.triangles.s",
    "operators.graphdiff": "operators.graphdiff.s",
    "operators.incremental.cc": "operators.incremental.cc_s",
    "operators.incremental.pagerank": "operators.incremental.pagerank_s",
    "commit.write": "commit.write_s",
}

# values a workload's passes record (medians over passes); a layer that a
# workload never calls reports 0
PASS_VALUES = {
    "sources.penman.triples_out": "count",
    "operators.standardize.triples_out": "count",
    "operators.align.pairs": "count",
    "operators.align.certified_ratio": "ratio",
    "operators.align.mean_vars": "count",
    "operators.pagerank.supersteps": "count",
    "operators.pagerank.step_ms_p50": "ms",
    "operators.components.supersteps": "count",
    "operators.labelprop.supersteps": "count",
    "operators.graphdiff.n_added": "count",
    "operators.incremental.cc_supersteps": "count",
    "operators.incremental.pagerank_supersteps": "count",
    "operators.incremental.pagerank_step_ms_p50": "ms",
    "commit.bytes_written": "bytes",
}


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and the
    Python workers it forks), sampled every ``period`` seconds."""

    def __init__(self, enabled: bool, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True) if enabled else None

    def __enter__(self):
        if self._thread is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self._thread is not None:
            self._stop.set()
            self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields["PPid"]), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    total, todo = 0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so that
    Python workers forked by the JVM are re-parented here (not to init) if
    the JVM ends before them, and ``stop_processes`` can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def stop_processes(grace: float = 30.0) -> None:
    """End the Spark JVM and wait for every child process to exit.

    ``SparkSession.stop`` leaves the gateway JVM running; it only exits on
    end-of-file on its standard input, which otherwise comes when this
    interpreter exits, so the JVM would outlive the command.  Closing that
    pipe here ends it now.  Whatever has not ended after ``grace`` seconds
    is killed; then every child is reaped.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the connection may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def host_fingerprint(spark, master: str, load_before, ticks_before) -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    jvm = spark.sparkContext._jvm
    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    return {
        "nproc": os.cpu_count(),
        "master": master,
        "loadavg_before": load_before,
        "loadavg_after": list(os.getloadavg()),
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": steal / total if total else 0.0,
        "git_commit": commit,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class Run:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.cpus = os.cpu_count() or 1
        self.master = f"local[{self.cpus}]"
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.get_spark_s: list[float] = []
        self.warmup_s = 0.0

    def session(self):
        from smatchpp_spark import get_spark

        return get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=self.master,
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.driver.memory": JVM_MEMORY,
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    "-Dio.netty.tryReflectionSetAccessible=true "
                    f"-Djava.io.tmpdir={self.work / 'tmp'}",
            },
        )

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    def record(self, checks) -> None:
        for op, ok, detail in checks:
            self.attempted += 1
            if not ok:
                self.fail(f"{op}: {detail}")

    def setup(self, wl, tracer) -> list:
        """``SETUPS`` timed set-ups (session start and input build), each
        from a stopped session, then one warm-up pass on a small input in the
        last session.  The first set-up also launches the JVM."""
        times = []
        for i in range(SETUPS):
            if self.spark is not None:
                wl.release()
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.session()
            self.get_spark_s.append(time.perf_counter() - t0)
            tracer.attach(self.spark)
            wl.attach(self.spark, tracer)
            wl.build()
            times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("session.warmup"):
            self.record(wl.warmup())
        self.warmup_s = time.perf_counter() - t0
        return times

    def passes(self, wl, tracer, seconds: float, walls: list, results: list) -> None:
        deadline = time.perf_counter() + seconds
        k = len(walls)
        while True:
            t0 = time.perf_counter()
            try:
                res = wl.run_pass(k)
                wall = time.perf_counter() - t0
                wl.check(res)
                if tracer.enabled:
                    wl.trace_layers(res)
            except Exception:  # a raising pass counts as a failed operation
                traceback.print_exc()
                self.attempted += 1
                self.fail(f"pass {k} raised")
                return
            walls.append(wall)
            results.append(res)
            self.record(res.checks)
            k += 1
            if time.perf_counter() >= deadline:
                return

    def execute(self) -> dict:
        args = self.args
        load_before, ticks_before = list(os.getloadavg()), cpu_ticks()
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](args.seed, self.work)
        print(f"inputs and references: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        # sampled in traced runs only: the sampler's /proc scans would
        # compete with the main thread in the runs that time passes
        rss = RssSampler(enabled=bool(args.trace))
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(f"{run_id}/setup", enabled=bool(args.trace))
        with rss:
            setup_times = self.setup(wl, tracer)
            tracer.enabled = False
            walls, results = [], []
            if args.trace:
                self.passes(wl, tracer, args.seconds / 2, walls, results)
                n_plain = len(walls)
                tracer.enabled, tracer.run_id = True, f"{run_id}/traced"
                self.passes(wl, tracer, args.seconds / 2, walls, results)
            else:
                self.passes(wl, tracer, args.seconds, walls, results)
                n_plain = len(walls)
        if not walls:
            raise RuntimeError("no pass completed")
        host = host_fingerprint(self.spark, self.master, load_before, ticks_before)
        self.spark.stop()
        self.spark = None
        print("host " + json.dumps(host, sort_keys=True))
        if args.trace:
            out = ROOT / ".bench_out"
            out.mkdir(exist_ok=True)
            tracer.dump(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))

        plain = walls[:n_plain] or walls
        pass_s = statistics.median(plain)
        print("setup walls: " + " ".join(f"{w:.3f}" for w in setup_times)
              + f"; warm-up: {self.warmup_s:.3f}; pass walls: "
              + " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
        if not args.trace:
            return {
                "setup_s": (statistics.median(setup_times), "s"),
                "pass_s": (pass_s, "s"),
                "edges_per_s": (statistics.median(r.edges_per_s for r in results), "edges/s"),
                "pairs_per_s": (wl.pairs_per_pass / pass_s, "pairs/s"),
            }
        return self.layer_metrics(tracer, results[n_plain:], walls[n_plain:], pass_s, rss)

    def layer_metrics(self, tracer, results, traced_walls, plain_pass_s, rss) -> dict:
        m: dict = {"peak_rss_mb": (rss.peak_kb / 1024.0, "MB")}
        by_name: dict[str, list] = {}
        for sp in tracer.spans:
            if sp.run_id == tracer.run_id:  # spans of the traced passes only
                by_name.setdefault(sp.name, []).append(sp)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        m["session.jvm_launch_s"] = (self.get_spark_s[0], "s")
        m["session.get_spark_s"] = (med(self.get_spark_s[1:]), "s")
        m["session.warmup_s"] = (self.warmup_s, "s")
        for span, metric in SPAN_TIME.items():
            m[metric] = (med([sp.wall_s for sp in by_name.get(span, [])]), "s")
        for span in SPAN_TIME:
            for c in COUNTERS:
                m[f"{span}.{c}"] = (med([sp.counters[c] for sp in by_name.get(span, [])]),
                                    "bytes" if c.endswith("_bytes") else "count")
        for key, unit in PASS_VALUES.items():
            m[key] = (med([r.layer[key] for r in results if key in r.layer]), unit)
        traced = med(traced_walls)
        m["trace.pass_s"] = (traced, "s")
        m["trace.overhead_s"] = (traced - plain_pass_s, "s")
        m["failed_ops_ratio"] = (len(self.failures) / max(1, self.attempted), "ratio")
        return m


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # every JVM (the launcher too) would otherwise keep a perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, _terminate)
    adopt_orphans()
    run = Run(args, work)
    try:
        metrics = run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if run.spark is not None:
                run.spark.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)
    correct = not run.failures
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
