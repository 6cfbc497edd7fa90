"""The benchmark's workloads: one timed job each, an output gate, and the
layer prefixes the traced run cuts the job into.

Every workload calls only the program's public functions. A gate returns
a list of mismatches; an empty list means the job's outputs are correct.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

from pyspark.sql import Observation
from pyspark.sql import functions as F

from weblog_pipeline import lineage, oracle
from weblog_pipeline.aggregate import domain_counts, sink_counts
from weblog_pipeline.config import DEFAULT_SINK
from weblog_pipeline.enrich import enrich_events
from weblog_pipeline.lineage import LineageStore, list_units, run_resumable
from weblog_pipeline.parse import event_rows, parse_events
from weblog_pipeline.pipeline import build_pipeline, run_to_sinks
from weblog_pipeline.route import with_sink
from weblog_pipeline.tableio import TableIO

from inputs import OBSERVED_TS_US, SPECS, Inputs, staged_events

#: urls per job checked row for row against oracle.process_page
ORACLE_SAMPLE = 12


def field_totals() -> list:
    """Totals over the enriched fields of every record (inputs.field_totals
    computes the expected ones)."""
    return [
        F.sum("severity_number").alias("severity_number"),
        F.sum(F.length("body")).alias("body"),
        F.sum(F.size("attributes")).alias("attributes"),
        F.sum(F.size("resource_attributes")).alias("resource_attributes"),
    ]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sink_names(spec) -> list[str]:
    return list(dict.fromkeys([r.sink for r in spec.routes] + [DEFAULT_SINK]))


def _compare(what: str, got, want, bad: list[str]) -> None:
    if got != want:
        bad.append(f"{what}: got {got!r:.300} want {want!r:.300}")


def check_counts(per_sink: dict, per_sd: list, expect: dict, bad: list[str]) -> None:
    _compare("per-sink counts", dict(sorted(per_sink.items())), expect["per_sink"], bad)
    _compare("per-(sink, domain) counts", sorted(map(list, per_sd)),
             expect["per_sink_domain"], bad)


def rollup(logs) -> tuple[dict, list]:
    """Per-sink and per-(sink, domain) counts of a logs frame, recounted
    from what was written (not from the program's own counters)."""
    rows = (
        logs.groupBy("sink", F.try_parse_url("url", F.lit("HOST")).alias("d"))
        .count()
        .collect()
    )
    per_sink: Counter = Counter()
    for r in rows:
        per_sink[r["sink"]] += r["count"]
    return dict(per_sink), [[r["sink"], r["d"], r["count"]] for r in rows]


def sample_indices(seed: int, spec) -> list[int]:
    step = max(1, spec.pages // ORACLE_SAMPLE)
    return [(seed * 7919 + k * step) % spec.pages for k in range(ORACLE_SAMPLE)]


def oracle_check(logs, spec, seed: int, bad: list[str]) -> None:
    """Routed rows of sampled pages equal oracle.process_page row for row."""
    want = []
    urls = []
    for i in sample_indices(seed, spec):
        page, corrupt = spec.page_fn(seed, i)
        urls.append(page.url)
        if corrupt:
            continue  # quarantined: any row for its url fails the check
        _, recs = oracle.process_page(spec.cfg, page.url, page.html, OBSERVED_TS_US,
                                      spec.routes)
        want += [
            (r.url, r.ts_ns, r.event_name, r.observed_ts_us, r.severity_number,
             r.severity_text, r.body, sorted(r.attributes.items()),
             sorted(r.resource_attributes.items()), r.trace_id, r.span_id, r.sink)
            for r in recs
        ]
    rows = (
        logs.where(F.col("url").isin(urls))
        .select("url", "ts_ns", "event_name", F.unix_micros("observed_ts").alias("obs"),
                "severity_number", "severity_text", "body", "attributes",
                "resource_attributes", "trace_id", "span_id", "sink")
        .collect()
    )
    got = [
        (r.url, r.ts_ns, r.event_name, r.obs, r.severity_number, r.severity_text, r.body,
         sorted(r.attributes.items()), sorted(r.resource_attributes.items()),
         r.trace_id, r.span_id, r.sink)
        for r in rows
    ]
    _compare(f"oracle rows of {len(urls)} sampled pages", sorted(got), sorted(want), bad)


class Workload:
    name = ""
    unit = "pages"  # what items_per_s counts
    #: gated jobs run before any is measured, the JIT-cold first one
    #: included: until the JVM has compiled the plan's hot code, each job
    #: is faster than the one before it
    warm_jobs = 2

    def __init__(self, spark, seed: int, work: str, inputs: Inputs):
        self.spark = spark
        self.seed = seed
        self.work = os.path.join(work, self.name)
        self.inputs = inputs
        self.expect = inputs.expect
        self.spec = SPECS.get(self.name)
        self.jobs = 0

    # -- set-up: the read of the cached inputs ----------------------------
    def open(self) -> None:
        self.scan_path = self.inputs.path
        self.webpages = self.spark.read.parquet(self.scan_path)

    def items(self) -> int:
        return self.expect["pages"]

    def job_dir(self) -> str:
        self.jobs += 1
        d = os.path.join(self.work, f"job{self.jobs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def cleanup(self, res: dict) -> None:
        if res.get("dir"):
            shutil.rmtree(res["dir"], ignore_errors=True)


# -- crawl_sinks: the production CLI path (main.py) ---------------------------


class CrawlSinks(Workload):
    name = "crawl_sinks"

    def job(self) -> dict:
        out = self.job_dir()
        result = build_pipeline(self.webpages, self.spec.cfg, observed_ts_us=OBSERVED_TS_US)
        counts = run_to_sinks(self.spark, result, TableIO(self.spark, out), write_texts=True)
        return {"dir": out, "counts": counts, "records": result.metrics["records"]}

    def gate(self, res: dict) -> list[str]:
        bad: list[str] = []
        exp = self.expect
        _compare("observed per-sink counts", dict(sorted(res["counts"].items())),
                 exp["per_sink"], bad)
        logs = self.spark.read.parquet(os.path.join(res["dir"], "log_records"))
        check_counts(*rollup(logs), exp, bad)
        texts = self.spark.read.parquet(os.path.join(res["dir"], "page_texts"))
        row = texts.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("parse_error").alias("q"),
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.sha2(F.concat_ws("\x00", "url",
                                           F.coalesce("page_text", F.lit("\x01"))), 256),
                        1, 15),
                    16, 10,
                ).cast("long")
            ).alias("x"),
        ).first()
        _compare("page rows", row["n"], exp["pages"], bad)
        _compare("quarantined pages", row["q"], exp["corrupt"], bad)
        _compare("page-text digest", row["x"], exp["text_xor"], bad)
        oracle_check(logs, self.spec, self.seed, bad)
        return bad

    def prefixes(self, obs: dict) -> list:
        """(layer, action) pairs; each action runs the job cut after its layer."""
        cfg = self.spec.cfg
        scanned = self.webpages.where(F.col("html").isNotNull())
        return layer_prefixes(self, scanned, cfg, obs, full=self.job)


def name_filter(events, cfg, obs: dict | None = None):
    """build_pipeline's include_event_names filter; with `obs`, the rows it
    drops are counted into obs["filtered"] as an Observation."""
    if not cfg.include_event_names:
        if obs is not None:
            obs["filtered"] = 0
        return events
    keep = F.col("event_name").isin(list(cfg.include_event_names))
    if obs is not None:
        o = Observation("filtered")
        events = events.observe(o, F.count_if(~keep).alias("n"))
        obs["filtered_obs"] = o
    return events.where(keep)


def take_filtered(obs: dict) -> None:
    """Read the filter's Observation once the action that carried it ran."""
    o = obs.pop("filtered_obs", None)
    if o is not None:
        obs["filtered"] = o.get["n"]


def layer_prefixes(w: Workload, scanned, cfg, obs: dict, full=None) -> list:
    """scan, +parse, +enrich, +route, +aggregate (the per-sink counts that
    ride the write), each to a noop sink; then `full`, the whole job."""
    names = sink_names(w.spec)

    def scan():
        noop(scanned.select("url", "warc_ts", "html", "lang"))

    def parse():
        o = Observation("parse")
        parsed = parse_events(scanned).observe(
            o,
            F.count_if(F.col("event_idx") <= 0).alias("pages"),
            F.count_if(F.col("event_idx") >= 0).alias("events"),
            F.count("parse_error").alias("quarantined"),
        )
        noop(parsed)
        obs["parse"] = o.get

    def events(o=None):
        return enrich_events(name_filter(event_rows(parse_events(scanned)), cfg, o),
                             cfg, OBSERVED_TS_US)

    def enrich():
        noop(events())

    def route():
        o = Observation("route")
        noop(with_sink(events(obs), w.spec.routes).observe(
            o, *[F.count_if(F.col("sink") == s).alias(s) for s in names]))
        obs["route"] = o.get
        take_filtered(obs)

    def aggregate():
        o = Observation("aggregate")
        noop(with_sink(events(), w.spec.routes).observe(
            o, F.count(F.lit(1)).alias("records"),
            *[F.count_if(F.col("sink") == s).alias(s) for s in names]))

    def write():
        obs["full"] = full()

    steps = [("scan", scan), ("parse", parse), ("enrich", enrich), ("route", route),
             ("aggregate", aggregate)]
    return steps + [("write", write)] if full else steps


# -- event_replay: enrich -> route -> aggregate over staged span events ------


class EventReplay(Workload):
    name = "event_replay"
    unit = "records"
    #: its jobs are short, so JIT compilation is a large share of each; on
    #: the 4-core host of BASELINE.md wall time per job fell from 8.2 s on
    #: the first to 2.2 s on the second and ~1.6-1.75 s on the fifth to
    #: ninth, then ~1.45 s; more warm-up would not fit a run's budget
    warm_jobs = 4

    def open(self) -> None:
        self.scan_path, _ = staged_events(self.spark, self.inputs)
        self.events = self.spark.read.parquet(self.scan_path)
        self.oracle_checked = False

    def items(self) -> int:
        return self.expect["events_parsed"]

    def logs(self, obs: dict | None = None):
        cfg = self.spec.cfg
        ev = name_filter(self.events, cfg, obs)
        return with_sink(enrich_events(ev, cfg, OBSERVED_TS_US), self.spec.routes)

    def job(self) -> dict:
        """Both aggregates, and field totals riding the first as an
        Observation: without a consumer of the enriched columns, Catalyst
        prunes enrich down to the sink and url columns the counts need."""
        logs = self.logs()
        o = Observation("fields")
        per_sink = {r["sink"]: r["records"]
                    for r in sink_counts(logs.observe(o, *field_totals())).collect()}
        per_sd = [[r["sink"], r["domain"], r["records"]]
                  for r in domain_counts(logs).collect()]
        return {"per_sink": per_sink, "per_sd": per_sd, "fields": o.get,
                "records": sum(per_sink.values())}

    def gate(self, res: dict) -> list[str]:
        """The job's outputs are its collected counts and field totals. The
        routed rows it counted are not an output, so their oracle check
        re-runs the same plan: once per set-up, not after every job."""
        bad: list[str] = []
        check_counts(res["per_sink"], res["per_sd"], self.expect, bad)
        _compare("enriched field totals", res["fields"], self.expect["field_totals"], bad)
        if not self.oracle_checked:
            oracle_check(self.logs(), self.spec, self.seed, bad)
            self.oracle_checked = True
        return bad

    def prefixes(self, obs: dict) -> list:
        cfg = self.spec.cfg
        names = sink_names(self.spec)

        def scan():
            noop(self.events)

        def enrich():
            noop(enrich_events(name_filter(self.events, cfg), cfg, OBSERVED_TS_US))

        def route():
            o = Observation("route")
            noop(self.logs(obs).observe(
                o, *[F.count_if(F.col("sink") == s).alias(s) for s in names]))
            obs["route"] = o.get
            take_filtered(obs)

        def aggregate():
            obs["full"] = self.job()

        obs["parse"] = {"pages": self.expect["pages"],
                        "events": self.expect["events_parsed"], "quarantined": 0}
        return [("scan", scan), ("enrich", enrich), ("route", route),
                ("aggregate", aggregate)]


# -- crawl_resume: lineage.run_resumable with one injected crash --------------

#: input files per chunk and the chunk whose write is made to fail
UNIT_BATCH = 4
CRASH_CHUNK = 1
CRASH_TAG = "perfbench injected crash"


class TimedLedger(LineageStore):
    """LineageStore whose ledger reads and writes are timed as calls."""

    def __init__(self, spark, path):
        super().__init__(spark, path)
        self.t = Counter()

    def _timed(self, key, fn, *a):
        t0 = time.perf_counter()
        try:
            return fn(*a)
        finally:
            self.t[key] += time.perf_counter() - t0

    def completed_units(self, run_id):
        return self._timed("plan_s", super().completed_units, run_id)

    def manifest(self, run_id):
        return self._timed("plan_s", super().manifest, run_id)

    def record(self, rows):
        return self._timed("ledger_write_s", super().record, rows)


class CrashingBuild:
    """build_logs wrapper: the write of chunk CRASH_CHUNK fails mid-job on
    the first attempt (a task raises once some of its rows are out)."""

    def __init__(self, cfg, crash_at: int | None):
        self.cfg = cfg
        self.crash_at = crash_at
        self.calls = 0
        self.fired = False

    def __call__(self, webpages):
        logs = build_pipeline(webpages, self.cfg, observed_ts_us=OBSERVED_TS_US).logs
        call = self.calls
        self.calls += 1
        if call != self.crash_at:
            return logs
        self.fired = True
        return logs.withColumn(
            "sink",
            F.when(F.crc32("url") % 3 == 0, F.raise_error(F.lit(CRASH_TAG)))
            .otherwise(F.col("sink")),
        )


class CrawlResume(Workload):
    name = "crawl_resume"
    warm_jobs = 1  # an ~11 s job: a run by hand stays short

    def job(self) -> dict:
        d = self.job_dir()
        out = os.path.join(d, "out")
        ledger = TimedLedger(self.spark, os.path.join(d, "ledger"))
        run_id = f"r{self.jobs}"
        crash = CrashingBuild(self.spec.cfg, CRASH_CHUNK)
        list_units_s = [0.0]

        def timed_list_units(*a):
            t0 = time.perf_counter()
            try:
                return list_units(*a)
            finally:
                list_units_s[0] += time.perf_counter() - t0

        lineage.list_units = timed_list_units
        try:
            try:
                run_resumable(self.spark, self.inputs.path, out, run_id, crash, ledger,
                              unit_batch=UNIT_BATCH)
                raise RuntimeError("the injected crash did not fire")
            except Exception as exc:  # the expected, injected failure
                if not crash.fired or CRASH_TAG not in str(exc):
                    raise
            t0 = time.perf_counter()
            summary = run_resumable(self.spark, self.inputs.path, out, run_id,
                                    CrashingBuild(self.spec.cfg, None), ledger,
                                    unit_batch=UNIT_BATCH)
            recovery_s = time.perf_counter() - t0
        finally:
            lineage.list_units = list_units
        return {"dir": d, "out": out, "run_id": run_id, "summary": summary,
                "recovery_s": recovery_s, "ledger": ledger, "list_units_s": list_units_s[0],
                "attempts": crash.calls + summary["chunks_total"] - summary["chunks_skipped"]}

    def lineage_metrics(self, res: dict) -> dict:
        led = res["ledger"]
        durations = [
            r["duration_ms"] / 1e3
            for r in self.spark.read.parquet(led.path)
            .where(F.col("status") == "chunk_done").select("duration_ms").collect()
        ]
        dup, missing = self.lineage_rows(res)
        s = res["summary"]
        return {
            "lineage.plan_s": led.t["plan_s"] + res["list_units_s"],
            "lineage.ledger_write_s": led.t["ledger_write_s"],
            "lineage.chunk_s": statistics.median(durations) if durations else 0.0,
            "lineage.chunks_run": len(durations),
            "lineage.chunks_skipped": s["chunks_skipped"],
            "lineage.redo_ratio": res["attempts"] / s["chunks_total"],
            "lineage.dup_rows": dup,
            "lineage.missing_rows": missing,
        }

    def output(self, res: dict):
        return self.spark.read.option("basePath", res["out"]).parquet(
            os.path.join(res["out"], f"run={res['run_id']}", "*"))

    def lineage_rows(self, res: dict) -> tuple[int, int]:
        """(duplicate rows, missing rows) of the resumed output."""
        row = self.output(res).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("url", "ts_ns", "event_name").alias("k"),
        ).first()
        return row["n"] - row["k"], self.expect["records"] - row["k"]

    def gate(self, res: dict) -> list[str]:
        bad: list[str] = []
        logs = self.output(res)
        check_counts(*rollup(logs), self.expect, bad)
        dup, missing = self.lineage_rows(res)
        _compare("lineage dup_rows", dup, 0, bad)
        _compare("lineage missing_rows", missing, 0, bad)
        _compare("chunks skipped on resume", res["summary"]["chunks_skipped"], CRASH_CHUNK,
                 bad)
        oracle_check(logs, self.spec, self.seed, bad)
        return bad

    def prefixes(self, obs: dict) -> list:
        scanned = self.webpages.where(F.col("html").isNotNull())
        steps = layer_prefixes(self, scanned, self.spec.cfg, obs)

        def write():
            d = os.path.join(self.work, "one_pass")
            shutil.rmtree(d, ignore_errors=True)
            logs = build_pipeline(self.webpages, self.spec.cfg,
                                  observed_ts_us=OBSERVED_TS_US).logs
            logs.write.mode("overwrite").partitionBy("sink").parquet(d)
            shutil.rmtree(d, ignore_errors=True)

        def resumable():
            obs["full"] = self.job()

        return steps + [("write", write), ("lineage", resumable)]


WORKLOADS = {w.name: w for w in (CrawlSinks, EventReplay, CrawlResume)}
