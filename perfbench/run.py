"""Benchmark of the weblog pipeline on local[nproc] from one process.

    python3 perfbench/run.py --workload crawl_sinks --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
inputs under ``.perfbench/``, sets the session up several times, runs the
workload's warm-up jobs, then runs its job in a closed loop (one job at a
time) for ``--seconds`` of measured job time. Every job's outputs pass an
untimed gate before the next job starts; a job that raises or fails its
gate counts as failed. Every process the run starts has ended when it
exits.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a separate traced run, which cuts the job into layer prefixes and reads
Spark's own event log. Lines before it give sample counts and extra
figures for a reader.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")

#: crawl_resume is not in BENCHMARK.json (see perfbench/README.md) but runs
#: by hand with the same command
WORKLOAD_NAMES = ("crawl_sinks", "event_replay", "crawl_resume")
#: set-ups per run; setup_s is their median
SETUPS = 3
#: measured jobs a run takes at least, so its median is of three or more
MIN_JOBS = 3
#: a run stops measuring after this much wall time, whatever --seconds says
WALL_CAP_S = 100.0
#: how long the JVM and its Python workers get to exit before they are killed
EXIT_WAIT_S = 30.0
#: interleaved repetitions of every layer prefix in the traced run
TRACE_REPS = 3
DRIVER_MEMORY = "3g"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def prepare_env(cpus: int) -> None:
    """Pin the load to the machine and keep every file inside the checkout.
    Must run before pyspark starts the JVM."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{java_opts}' pyspark-shell"
    sys.path[:0] = [os.path.join(ROOT, "src"), HERE]


def descendants(pid: int) -> set[int]:
    """Every live process below `pid`, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # ended while we read
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    found: set[int] = set()
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in found:
                found.add(c)
                todo.append(c)
    return found


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Poll until every pid has ended or `timeout` passes; the survivors."""
    end = time.monotonic() + timeout
    while True:
        pids = {p for p in pids if alive(p)}
        if not pids or time.monotonic() >= end:
            return pids
        time.sleep(0.05)


def shutdown(spark) -> None:
    """Stop Spark, end the JVM that pyspark started and wait until it and
    every Python worker below it have exited. pyspark alone leaves the JVM
    to notice the closed pipe after this process has gone."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second one must not cut the wait short
    started = descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a half-stopped context; the JVM is ended below
            log(f"spark.stop() raised:\n{traceback.format_exc()}")
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started |= descendants(os.getpid())
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone; it is waited on below
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(EXIT_WAIT_S)
        except Exception:
            proc.kill()
            proc.wait()
    left = wait_gone(started, EXIT_WAIT_S)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        left = wait_gone(left, 5.0)
    if left:
        log(f"processes still running after SIGKILL: {sorted(left)}")


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # so the finally clauses stop Spark


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def describe(name: str, xs: list[float], unit: str) -> str:
    """Median with its sample count; a tail percentile only where at least
    ten samples lie beyond it."""
    s = f"{name}: median {median(xs):.4f} {unit} (n={len(xs)}"
    if len(xs) >= 100:
        s += f", p90 {statistics.quantiles(xs, n=10)[-1]:.4f}"
    else:
        s += "; " + " ".join(f"{x:.3f}" for x in xs)
    return s + ")"


class Bench:
    def __init__(self, args):
        self.args = args
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.setups: list[dict] = []
        self.gate_s: list[float] = []
        #: job outputs of this process only, removed when it ends
        self.work = os.path.join(WORK, "work", str(os.getpid()))

    def build(self):
        from weblog_pipeline.session import build_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", parallelism=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def inputs(self):
        """Generate or reuse the seeded inputs (not part of set-up)."""
        from inputs import SPECS, pages_input

        t0 = time.perf_counter()
        self.inp = pages_input(SPECS[self.args.workload], self.args.seed,
                               os.path.join(WORK, "cache"))
        self.gen_s = time.perf_counter() - t0

    def stage(self) -> None:
        """Inputs that need a Spark session to make (untimed)."""
        if self.args.workload == "event_replay":
            from inputs import staged_events

            _, s = staged_events(self.spark, self.inp)
            self.gen_s += s

    def workload(self):
        from workloads import WORKLOADS

        return WORKLOADS[self.args.workload](self.spark, self.args.seed, self.work, self.inp)

    def setup(self, n: int):
        """n set-ups, each build_session, the read of the cached inputs and
        an untimed warm-up job that starts a Python worker on every core.
        Returns the last set-up's workload."""
        w = None
        for k in range(n):
            build_s = self.build()
            if k == 0:
                self.stage()
            t0 = time.perf_counter()
            w = self.workload()
            w.open()
            t1 = time.perf_counter()
            self.spark.range(self.cpus, numPartitions=self.cpus).mapInArrow(
                lambda batches: batches, "id long").count()
            t2 = time.perf_counter()
            self.setups.append({"build_s": build_s, "read_s": t1 - t0, "warm_s": t2 - t1,
                                "setup_s": build_s + (t2 - t0)})
        return w

    def gated_job(self, w) -> tuple[dict | None, float, bool]:
        """(result, seconds, ok) of one job and its untimed output gate. A job
        that raises or fails its gate is not ok; the caller goes on."""
        t0 = time.perf_counter()
        try:
            res = w.job()
        except Exception:  # counted as failed; the loop goes on
            log(f"job raised:\n{traceback.format_exc()}")
            return None, time.perf_counter() - t0, False
        dt = time.perf_counter() - t0
        try:
            bad = w.gate(res)
        except Exception:
            bad = [traceback.format_exc()]
        self.gate_s.append(time.perf_counter() - t0 - dt)
        if bad:
            log("job failed its output gate:\n  " + "\n  ".join(bad))
        w.cleanup(res)
        return res, dt, not bad

    def measure(self, w, seconds: float) -> dict:
        """A closed loop of gated jobs until `seconds` of job time and at
        least MIN_JOBS jobs are measured, after the workload's `warm_jobs`
        gated jobs that are not measured: the first jobs of a process pay
        for JIT compilation of every plan they run."""
        warm = []
        failed = 0
        for _ in range(w.warm_jobs):
            _, dt, ok = self.gated_job(w)
            warm.append(dt)
            failed += not ok
        print(describe("warm-up jobs (not measured)", warm, "s"))
        attempted = len(warm)
        times: list[float] = []
        recovery: list[float] = []
        wall0 = time.perf_counter()
        while ((sum(times) < seconds or len(times) < MIN_JOBS)
               and time.perf_counter() - wall0 < WALL_CAP_S):
            attempted += 1
            res, dt, ok = self.gated_job(w)
            failed += not ok
            if res is not None:
                times.append(dt)
                if "recovery_s" in res:
                    recovery.append(res["recovery_s"])
        return {"times": times, "recovery": recovery, "attempted": attempted,
                "failed": failed}

    def run_untraced(self) -> dict:
        from tracing import RssSampler

        with RssSampler() as rss:
            w = self.setup(SETUPS)
            m = self.measure(w, self.args.seconds)
        job_s = median(m["times"])
        items = w.items()
        setup_s = median([s["setup_s"] for s in self.setups])
        print(describe("job_s", m["times"], "s"))
        print(describe("setup_s", [s["setup_s"] for s in self.setups], "s") + " "
              + "; ".join(f"build {s['build_s']:.3f} + read {s['read_s']:.3f} + warm-up "
                          f"{s['warm_s']:.3f}" for s in self.setups))
        print(f"peak_rss_mb: {rss.peak_kb / 1024.0:.1f} MB (process tree, not gated)")
        print(f"{w.unit}_per_s: {items / job_s if job_s else 0.0:.1f} 1/s "
              f"({items} {w.unit} per job)")
        if m["recovery"]:
            print(describe("recovery_s", m["recovery"], "s"))
        print(f"input generation: {self.gen_s:.3f} s (excluded from setup_s)")
        print(describe("output gate (not measured)", self.gate_s, "s"))
        print(f"error_rate: {m['failed']}/{m['attempted']}")
        return {
            "correct": m["failed"] == 0 and m["attempted"] > 0,
            "attempted": m["attempted"],
            "failed": m["failed"],
            "metrics": {
                "setup_s": {"value": setup_s, "unit": "s"},
                "job_s": {"value": job_s, "unit": "s"},
                "items_per_s": {"value": items / job_s if job_s else 0.0, "unit": "1/s"},
            },
        }

    def run_traced(self) -> dict:
        from layers import traced_run

        return traced_run(self)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "weblog_pipeline")):
        log(f"no program source at {os.path.join(ROOT, 'src')}: run from a full checkout")
        return 2
    signal.signal(signal.SIGTERM, on_sigterm)
    bench = Bench(args)
    prepare_env(bench.cpus)
    try:
        bench.inputs()
        out = bench.run_traced() if args.trace else bench.run_untraced()
    finally:
        shutdown(bench.spark)
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
