"""Spans kept in memory, Spark's own event log read back, and an RSS sampler.

A span is ``{name, start, end, parent, run}``. Every Spark job started
inside a span carries the span id as the local property
``perfbench.span``, so the event log's stages and tasks can be attributed
to the layer that caused them without instrumenting the program.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

#: Python-UDF SQL metrics, as the executed plan names them
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """In-memory span recorder; `spans` is written out by the caller."""

    def __init__(self, spark, run: str):
        self.spark = spark
        self.run = run
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sid = f"{name}#{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run, "start": time.time(), "end": None}
        self.spans.append(rec)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(SPAN_PROP)
        sc.setLocalProperty(SPAN_PROP, sid)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            sc.setLocalProperty(SPAN_PROP, prev)


class StageStats:
    """Per-span totals of the task metrics and SQL metrics in one event log."""

    def __init__(self):
        self.t = defaultdict(float)
        self.reduce_task_ms: list[float] = []
        self.jobs = 0
        self.n_reps = 1
        self.plans: list[dict] = []

    def exchanges(self) -> int:
        return sum(_count_nodes(p, lambda n: n == "Exchange") for p in self.plans)

    def python_nodes(self) -> int:
        return sum(_count_nodes(p, lambda n: "Python" in n or "ArrowEval" in n
                                or "MapInArrow" in n) for p in self.plans)

    def task_skew(self) -> float:
        xs = self.reduce_task_ms
        if len(xs) < 2:
            return 0.0
        med = statistics.median(xs)
        return max(xs) / med if med > 0 else 0.0


def _count_nodes(plan: dict, pred) -> int:
    n = 1 if pred(plan.get("nodeName", "")) else 0
    return n + sum(_count_nodes(c, pred) for c in plan.get("children", []))


def read_event_log(log_dir: str) -> dict[str, StageStats]:
    """Totals per span id from every (uncompressed, single-file) event log
    in log_dir."""
    files = sorted(glob.glob(os.path.join(log_dir, "local-*")))
    out: dict[str, StageStats] = defaultdict(StageStats)
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    sid = (e.get("Properties") or {}).get(SPAN_PROP)
                    if sid:
                        out[sid].jobs += 1
                        for st in e["Stage IDs"]:
                            stage_span[st] = sid
                        xid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                        if xid is not None:
                            exec_span[int(xid)] = sid
                elif ev == "SparkListenerTaskEnd":
                    sid = stage_span.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    s = out[sid]
                    info = e["Task Info"]
                    t = s.t
                    run_ms = m["Executor Run Time"]
                    t["tasks"] += 1
                    t["run_ms"] += run_ms
                    t["cpu_ns"] += m["Executor CPU Time"]
                    t["gc_ms"] += m["JVM GC Time"]
                    dur = info["Finish Time"] - info["Launch Time"]
                    t["sched_delay_ms"] += max(
                        0, dur - run_ms - m["Executor Deserialize Time"]
                        - m["Result Serialization Time"] - info.get("Getting Result Time", 0)
                    )
                    t["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    sw = m["Shuffle Write Metrics"]
                    t["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                    t["input_records"] += m["Input Metrics"]["Records Read"]
                    t["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    if m["Shuffle Read Metrics"]["Total Records Read"] > 0:
                        s.reduce_task_ms.append(run_ms)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in (PY_RUN, PY_SENT, PY_RETURNED):
                            t[acc["Name"]] += float(acc.get("Update") or 0)
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    exec_plan[int(e["executionId"])] = e["sparkPlanInfo"]
    for xid, plan in exec_plan.items():
        sid = exec_span.get(xid)
        if sid is not None:
            out[sid].plans.append(plan)
    return out


def merge(stats: list[StageStats]) -> StageStats:
    m = StageStats()
    for s in stats:
        for k, v in s.t.items():
            m.t[k] += v
        m.reduce_task_ms += s.reduce_task_ms
        m.jobs += s.jobs
        m.plans += s.plans
    return m


def process_tree() -> list[list[str]]:
    """/proc/<pid>/stat fields (after the command name) of this process and
    all its descendants: the JVM and the Python workers."""
    root = os.getpid()
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    tree = []
    for pid, fields in stats.items():
        p = pid
        while p and p != root:
            p = int(stats[p][1]) if p in stats else 0
        if p == root:
            tree.append(fields)
    return tree


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc by one thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        return sum(int(f[21]) for f in process_tree()) * page_kb

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.sample())
            self._stop.wait(self.interval)
