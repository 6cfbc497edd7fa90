"""The traced run: layer prefixes timed under spans, Spark's event log read
back, per-layer metrics and the conservation laws between them.

The untraced half of the run times the workload's job as the timed runs
do. The event log is then switched on for a fresh SparkContext by setting
``spark.eventLog.*`` as JVM system properties from the benchmark's side
(uncompressed: this Python has no ``zstandard``), so the program's own
session code is untouched. Each layer prefix (scan, +parse, +enrich,
+route, +aggregate, full job) runs TRACE_REPS times, interleaved; a
layer's self time is its prefix's median minus the previous prefix's.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections import defaultdict

from run import TRACE_REPS, WORK, describe, log, median
from tracing import PY_RETURNED, PY_RUN, PY_SENT, StageStats, Tracer, merge, read_event_log

#: the sinks any workload routes to; a workload reports 0 for the others
ALL_SINKS = ("sink_errors", "sink_db", "sink_retries", "sink_auth", "sink_cache",
             "sink_http", "sink_default")

#: per-layer metric -> unit; the traced run reports every one of them
PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "session.worker_warm_s": "s",
    "scan.self_s": "s",
    "scan.bytes": "bytes",
    "scan.rows_per_page": "ratio",
    "parse.self_s": "s",
    "parse.python_s": "s",
    "parse.arrow_in_bytes": "bytes",
    "parse.arrow_out_bytes": "bytes",
    "parse.us_per_page": "us",
    "parse.pages": "count",
    "parse.events": "count",
    "parse.quarantined": "count",
    "parse.passes": "count",
    "enrich.self_s": "s",
    "enrich.records": "count",
    "route.self_s": "s",
    **{f"route.records.{s}": "count" for s in ALL_SINKS},
    "route.filtered": "count",
    "aggregate.self_s": "s",
    "aggregate.exchanges": "count",
    "aggregate.shuffle_bytes": "bytes",
    "aggregate.spill_bytes": "bytes",
    "aggregate.task_skew": "ratio",
    "write.self_s": "s",
    "write.jobs": "count",
    "write.files": "count",
    "write.bytes_per_record": "bytes",
    "lineage.self_s": "s",
    "lineage.plan_s": "s",
    "lineage.ledger_write_s": "s",
    "lineage.chunk_s": "s",
    "lineage.chunks_run": "count",
    "lineage.chunks_skipped": "count",
    "lineage.redo_ratio": "ratio",
    "lineage.dup_rows": "count",
    "lineage.missing_rows": "count",
    "spark.cpu_util": "ratio",
    "spark.slot_idle_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "trace.untraced_job_s": "s",
    "trace.traced_job_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.layer_sum_ratio": "ratio",
}

UNTRACED_JOBS = 3


def enable_event_log(spark, log_dir: str) -> None:
    """Event log on for every SparkContext created after this call."""
    os.makedirs(log_dir, exist_ok=True)
    system = spark._jvm.java.lang.System  # noqa: SLF001
    for k, v in (
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", "file://" + log_dir),
        ("spark.eventLog.compress", "false"),
        ("spark.eventLog.rolling.enabled", "false"),
    ):
        system.setProperty(k, v)


def per_rep(stats: dict[str, StageStats], spans: list[dict], name: str) -> StageStats:
    """The layer's stage totals, averaged over its repetitions."""
    ids = [s["id"] for s in spans if s["name"] == name]
    m = merge([stats[i] for i in ids if i in stats])
    m.n_reps = max(1, len(ids))
    for k in m.t:
        m.t[k] /= m.n_reps
    m.jobs /= m.n_reps
    return m


def traced_run(b) -> dict:
    args = b.args
    w = b.setup(1)
    session_build = b.setups[0]["build_s"]
    worker_warm = b.setups[0]["warm_s"]
    # the workload's warm-up jobs, not measured, so the untraced jobs are
    # about as warm as the traced ones that follow them
    attempted = failed = 0
    for _ in range(w.warm_jobs):
        _, _, ok = b.gated_job(w)
        attempted += 1
        failed += not ok
    untraced = []
    for _ in range(UNTRACED_JOBS):
        _, dt, ok = b.gated_job(w)
        attempted += 1
        failed += not ok
        untraced.append(dt)

    run_id = f"{args.workload}-s{args.seed}"
    log_dir = os.path.join(WORK, "eventlog", run_id)
    shutil.rmtree(log_dir, ignore_errors=True)
    enable_event_log(b.spark, log_dir)
    b.build()
    w = b.workload()
    w.open()
    _, _, ok = b.gated_job(w)  # warm the new context
    attempted += 1
    failed += not ok
    tracer = Tracer(b.spark, run_id)
    obs: dict = {}
    steps = w.prefixes(obs)
    times: dict[str, list[float]] = defaultdict(list)
    files_written = 0
    for _ in range(TRACE_REPS):
        for layer, fn in steps:
            with tracer.span(layer) as sp:
                fn()
            times[layer].append(sp["end"] - sp["start"])
        attempted += 1
        full = obs["full"]
        files_written = files_under_result(full)
        bad = w.gate(full)
        if bad:
            failed += 1
            log("traced job failed its output gate:\n  " + "\n  ".join(bad))
        lineage = w.lineage_metrics(full) if hasattr(w, "lineage_metrics") else {}
        w.cleanup(full)
    b.spark.stop()
    b.spark = None  # the event log is complete once the context stops
    stats = read_event_log(log_dir)

    layers = [layer for layer, _ in steps]
    med = {layer: median(times[layer]) for layer in layers}
    self_s = {}
    prev = 0.0
    for layer in layers:
        self_s[layer] = med[layer] - prev
        prev = med[layer]
    st = {layer: per_rep(stats, tracer.spans, layer) for layer in layers}
    last = layers[-1]
    job_traced = med[last]
    job_untraced = median(untraced)
    full = st[last]
    wall = job_traced
    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "session.build_s": session_build,
        "session.worker_warm_s": worker_warm,
        "spark.cpu_util": full.t["cpu_ns"] / 1e9 / (wall * b.cpus) if wall else 0.0,
        "spark.slot_idle_s": wall * b.cpus - full.t["run_ms"] / 1e3,
        "spark.gc_s": full.t["gc_ms"] / 1e3,
        "spark.tasks": full.t["tasks"],
        "spark.scheduler_delay_s": full.t["sched_delay_ms"] / 1e3,
        "trace.untraced_job_s": job_untraced,
        "trace.traced_job_s": job_traced,
        "trace.overhead_ratio": job_traced / job_untraced if job_untraced else 0.0,
        "trace.layer_sum_ratio": sum(self_s.values()) / job_untraced if job_untraced else 0.0,
    })
    laws: list[str] = []
    fill_pipeline_metrics(m, w, st, self_s, obs, files_written, lineage, laws)
    if laws:
        failed += 1
        log("conservation laws violated:\n  " + "\n  ".join(laws))

    for layer in layers:
        print(describe(f"prefix {layer}", times[layer], "s")
              + " reps " + " ".join(f"{t:.3f}" for t in times[layer]))
    print(f"self times: " + ", ".join(f"{k} {v:.3f}" for k, v in self_s.items()))
    print(f"untraced job_s {job_untraced:.3f}, traced {job_traced:.3f}, "
          f"overhead {m['trace.overhead_ratio']:.3f}x, layer sum / job_s "
          f"{m['trace.layer_sum_ratio']:.3f}")
    out_dir = os.path.join(WORK, "trace")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump({"spans": tracer.spans, "prefix_times": times, "metrics": m,
                   "laws_violated": laws}, fh, indent=1)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in m.items()},
    }


def files_under_result(res: dict) -> int:
    """Data files the job wrote."""
    d = res.get("out") or res.get("dir")
    return len(glob.glob(os.path.join(d, "**", "part-*"), recursive=True)) if d else 0


def fill_pipeline_metrics(m, w, st, self_s, obs, files_written, lineage, laws) -> None:
    exp = w.expect
    pages = exp["pages"]
    parse_obs = obs["parse"]
    route_obs = obs["route"]
    routed = sum(route_obs.values())
    filtered = obs.get("filtered", 0)
    full = st[list(st)[-1]]
    records = exp["records"]
    for layer in ("scan", "parse", "enrich", "route", "aggregate", "write", "lineage"):
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    # on-disk size of the input: the event log's input bytes miss what the
    # vectorized parquet reader reads
    m["scan.bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(w.scan_path) for f in files if f.endswith(".parquet")
    )
    m["scan.rows_per_page"] = full.t["input_records"] / w.items()
    if "parse" in st:
        p = st["parse"]
        m["parse.python_s"] = p.t[PY_RUN] / 1e3
        m["parse.arrow_in_bytes"] = p.t[PY_SENT]
        m["parse.arrow_out_bytes"] = p.t[PY_RETURNED]
        m["parse.us_per_page"] = self_s["parse"] / pages * 1e6
        m["parse.passes"] = full.python_nodes() / full.n_reps
    m["parse.pages"] = parse_obs["pages"]
    m["parse.events"] = parse_obs["events"]
    m["parse.quarantined"] = parse_obs["quarantined"]
    m["enrich.records"] = routed
    for s, n in route_obs.items():
        m[f"route.records.{s}"] = n
    m["route.filtered"] = filtered
    agg, before = st.get("aggregate"), st["route"]
    if agg is not None:
        m["aggregate.exchanges"] = (agg.exchanges() - before.exchanges()) / agg.n_reps
        m["aggregate.shuffle_bytes"] = (
            agg.t["shuffle_write_bytes"] - before.t["shuffle_write_bytes"])
        m["aggregate.spill_bytes"] = agg.t["spill_bytes"] - before.t["spill_bytes"]
        m["aggregate.task_skew"] = agg.task_skew()
    wr = st.get("write")
    if wr is not None:
        m["write.jobs"] = wr.jobs
        m["write.files"] = files_written
        m["write.bytes_per_record"] = wr.t["output_bytes"] / max(1, records)
    m.update(lineage)

    # conservation laws between the layers' own counts
    written = obs["full"].get("records")
    if written is None:
        written = records - m["lineage.missing_rows"] + m["lineage.dup_rows"]
    if w.name != "event_replay":
        if parse_obs["pages"] != pages:
            laws.append(f"parse.pages {parse_obs['pages']} != pages in {pages}")
        if parse_obs["quarantined"] != exp["corrupt"]:
            laws.append(f"parse.quarantined {parse_obs['quarantined']} != planted "
                        f"{exp['corrupt']}")
    if not (routed == written == parse_obs["events"] - filtered):
        laws.append(f"sum route.records {routed}, records written {written}, "
                    f"parse.events - route.filtered {parse_obs['events'] - filtered} differ")
