"""Seeded benchmark inputs, cached as parquet, with their expected outputs.

Every page is a pure function of (seed, index), so the expected per-sink
and per-(sink, domain) counts, the page-text digest and any single page's
html can be re-derived on the driver without reading what the program
wrote. Pages are written with pyarrow (no Spark job), in the
``webpages`` schema the program reads.

A cache entry is keyed by workload, seed, size and a digest of the
generator sources; the staged span events of ``event_replay`` are also
keyed by the digest of ``parse.EVENT_SCHEMA``, so a parse change never
reuses a stale stage.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import multiprocessing
import os
import shutil
import time
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

from weblog_pipeline import generate, markers, oracle
from weblog_pipeline.config import (
    DEFAULT_ROUTES,
    AttributeMappings,
    PipelineConfig,
    SinkRoute,
    route_event,
)
from weblog_pipeline.generate import EVENT_TEMPLATES, Page
from weblog_pipeline.markers import render_marker

#: index stride between seeds: seed s generates page indices from
#: (s mod SEEDS) * SEED_STRIDE on; the bound keeps generate.gen_page's
#: ts_ns (37 s per index) inside int64
SEED_STRIDE = 20_011
SEEDS = 9_000
#: job-level observed timestamp handed to the pipeline (deterministic)
OBSERVED_TS_US = 1_760_000_000_000_000

CORRUPT_MARKER = (
    f"<!--otel span_ctx={generate.TRACE_ID}/{generate.SPAN_ID}/test-span/Server"
    " ts=1 name=corrupt attrs={bad} span_attrs={} res_attrs={}-->"
)

# -- sizes ------------------------------------------------------------------

CRAWL_PAGES = 16_000
CRAWL_FILES = 8
REPLAY_PAGES = 1_500
REPLAY_FILES = 8
RESUME_PAGES = 800
RESUME_FILES = 8


def _h(*parts) -> bytes:
    return hashlib.md5("/".join(map(str, parts)).encode()).digest()


def _u(*parts) -> float:
    """Deterministic uniform in (0, 1] from the parts."""
    return (int.from_bytes(_h(*parts)[:6], "big") + 1) / float(1 << 48)


def page_index(seed: int, i: int) -> int:
    return (seed % SEEDS) * SEED_STRIDE + i


def planted_corrupt(seed: int, i: int) -> bool:
    """About 1 % of pages carry one undecodable marker."""
    return _h("corrupt", seed, i)[0] % 100 == 0


def _with_corrupt(html: bytes) -> bytes:
    return html.replace(b"</body>", CORRUPT_MARKER.encode() + b"</body>")


def text_key(url: str, text: str | None) -> int:
    """Per-page digest term; XOR-folded over pages (order-free)."""
    s = url + "\x00" + (text if text is not None else "\x01")
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:15], 16)


def host_of(url: str) -> str:
    return url.split("/", 3)[2]


# -- crawl_sinks: the generate.gen_page shape --------------------------------


def crawl_page(seed: int, i: int) -> tuple[Page, bool]:
    p = generate.gen_page(page_index(seed, i))
    bad = planted_corrupt(seed, i)
    if bad:
        p.html = _with_corrupt(p.html)
    return p, bad


def crawl_events(seed: int, i: int) -> list[str]:
    """Event names of crawl page i, in order (empty when quarantined)."""
    if planted_corrupt(seed, i):
        return []
    g = page_index(seed, i)
    return [
        EVENT_TEMPLATES[generate.template_index(g, j)][0]
        for j in range(generate.n_events_of(g))
    ]


# -- event_replay: event-dense pages, Zipf names, one hot domain -------------

REPLAY_NAMES: tuple[str, ...] = tuple(
    f"{prefix}{k}{suffix}"
    for k in range(25)
    for prefix, suffix in (
        ("svc.op.", ".ok"),
        ("db.query.", ""),
        ("backend.db.write.", ".done"),
        ("auth.login.", ""),
        ("cache.lookup.", ".miss"),
        ("http.request.", ".error"),
        ("job.step.", ".exception"),
        ("retry.", ""),
    )
)
#: cumulative Zipf(1.1) weights over REPLAY_NAMES
_REPLAY_CUM = list(
    itertools.accumulate(1.0 / (k + 1) ** 1.1 for k in range(len(REPLAY_NAMES)))
)
HOT_DOMAIN = "hot.example.com"
_SEV_TEXTS = ("INFO", "warn", "Error", "debug2", "fatal", "bogus", "WARNING3")

REPLAY_ROUTES: tuple[SinkRoute, ...] = (
    SinkRoute("sink_errors", "contains_any", ("error", "exception")),
    SinkRoute("sink_db", "prefix_any", ("backend.db.", "db.")),
    SinkRoute("sink_retries", "equals_any", ("retry.0", "retry.1", "retry.2")),
    SinkRoute("sink_auth", "prefix_any", ("auth.",)),
    SinkRoute("sink_cache", "contains_any", ("cache.",)),
    SinkRoute("sink_http", "equals_any", ("svc.op.0.ok", "svc.op.1.ok")),
)
REPLAY_CONFIG = PipelineConfig(
    # every name but the *.miss family of cache lookups above index 4
    include_event_names=tuple(
        n for n in REPLAY_NAMES
        if not (n.startswith("cache.lookup.") and int(n.split(".")[2]) > 4)
    ),
    include_span_context=True,
    log_attributes_from=("event.attributes", "span.attributes", "resource.attributes"),
    severity_by_event_name=tuple(
        sorted(
            {
                "exception": "error",
                "error": "error",
                "retry": "warn",
                "auth": "info",
                "db.query": "debug",
                "backend.db": "info2",
                "cache": "trace",
                "http.request": "info3",
                "svc.op.1": "warn2",
            }.items()
        )
    ),
    add_level=True,
    severity_attribute="log.level",
    attribute_mappings=AttributeMappings(
        body="event.body",
        severity_number="event.severity_number",
        severity_text="event.severity_text",
        event_name="event.name",
    ),
)


def replay_n_events(seed: int, i: int) -> int:
    return 16 + _h("n", seed, i)[0] % 64


def replay_domain(seed: int, i: int) -> str:
    if _h("dom", seed, i)[1] % 100 < 75:
        return HOT_DOMAIN
    return generate.domain_of(page_index(seed, i))


def replay_name(seed: int, i: int, j: int) -> str:
    r = _u("name", seed, i, j) * _REPLAY_CUM[-1]
    return REPLAY_NAMES[min(bisect.bisect_left(_REPLAY_CUM, r), len(REPLAY_NAMES) - 1)]


def _json(d: dict) -> str:
    return json.dumps(d, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _replay_attrs(seed: int, i: int, j: int, name: str) -> dict:
    """Unique per-event attributes feeding every severity source."""
    h = _h("ev", seed, i, j)
    attrs: dict = {"req.id": f"{seed}-{i}-{j}", "n": (i * 31 + j) % 100_003}
    if h[0] % 3 == 0:
        attrs["event.body"] = f"handled {name} #{i}.{j}"
    if h[1] % 5 == 0:
        attrs["event.severity_number"] = h[2] % 30 - 2
    if h[3] % 4 == 0:
        attrs["event.severity_text"] = _SEV_TEXTS[h[4] % len(_SEV_TEXTS)]
    if h[5] % 3 == 0:
        attrs["log.level"] = _SEV_TEXTS[h[6] % len(_SEV_TEXTS)]
    if h[7] % 7 == 0:
        attrs["level"] = "custom"
    return attrs


def replay_page(seed: int, i: int) -> tuple[Page, bool]:
    """One span per eight events, markers written directly in the grammar
    markers.render_marker emits (rendering through it would triple the
    generation time)."""
    g = page_index(seed, i)
    url = f"https://{replay_domain(seed, i)}/p/{g}"
    trace_id = _h("trace", seed, i).hex()
    res = _json({"service.name": f"svc{i % 11}", "host.id": i % 7})
    span_attrs = [_json({"http.url": url, "http.method": m}) for m in ("GET", "POST")]
    parts = ["<html><body>"]
    for j in range(replay_n_events(seed, i)):
        name = replay_name(seed, i, j)
        parts.append(
            f"<!--otel span_ctx={trace_id}/{_h('span', seed, i, j // 8).hex()[:16]}"
            f"/span{j // 8}/{('Server', 'Client', 'Internal')[j % 3]}"
            f" ts={generate.BASE_TS_NS + i * 1_000_000_000 + j * 1_000} name={name}"
            f" attrs={_json(_replay_attrs(seed, i, j, name))}"
            f" span_attrs={span_attrs[j % 2]} res_attrs={res}-->"
        )
    text = f"replay page {g}"
    parts.append(f"<p>{text}</p></body></html>")
    html = "".join(parts).encode()
    return Page(url, generate.BASE_TS_NS // 1000 + i, html, text, "en"), False


def replay_events(seed: int, i: int) -> list[str]:
    return [replay_name(seed, i, j) for j in range(replay_n_events(seed, i))]


# -- crawl_resume: text-heavy, event-sparse pages -----------------------------

_CORPUS = " ".join(
    f"{w}{k % 13}" if k % 17 else "café"
    for k, w in enumerate(
        ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor incididunt ut labore et dolore magna aliqua " * 900).split()
    )
)


def resume_page(seed: int, i: int) -> tuple[Page, bool]:
    g = page_index(seed, i)
    url = f"https://{generate.domain_of(g)}/doc/{g}"
    # heavy-tailed size: Pareto(1.5) over a 9 KB floor, capped at 160 KB
    size = min(int(9_000 / _u("size", seed, i) ** (1 / 1.5)), 160_000)
    paras = []
    off = int(_u("off", seed, i) * (len(_CORPUS) - 4_000))
    while sum(map(len, paras)) < size:
        n = 1_000 + (off % 2_500)
        paras.append(_CORPUS[off : off + n].strip() or "x")
        off = (off * 7 + 13) % (len(_CORPUS) - 4_000)
    text = "\n".join(paras)
    html_parts = [f"<html><head><title>doc {g}</title></head><body>"]
    if _h("m", seed, i)[0] % 2:
        html_parts.append(render_marker(generate.event_for(g, 0)))
    html_parts += [f"<p>{p}</p>" for p in paras]
    html_parts.append("</body></html>")
    html = "".join(html_parts).encode("utf-8")
    bad = planted_corrupt(seed, i)
    if bad:
        html = _with_corrupt(html)
    return Page(url, generate.BASE_TS_NS // 1000 + i * 1_000, html, text, "en"), bad


def resume_events(seed: int, i: int) -> list[str]:
    if planted_corrupt(seed, i) or not _h("m", seed, i)[0] % 2:
        return []
    return [EVENT_TEMPLATES[generate.template_index(page_index(seed, i), 0)][0]]


# -- the table of workload inputs ---------------------------------------------


@dataclass(frozen=True)
class InputSpec:
    name: str
    pages: int
    files: int
    page_fn: object  # (seed, i) -> (Page, corrupt)
    events_fn: object  # (seed, i) -> event names surviving parse
    cfg: PipelineConfig
    routes: tuple[SinkRoute, ...]
    #: also total the enriched fields of every record with oracle.process_page
    field_totals: bool = False


SPECS = {
    "crawl_sinks": InputSpec(
        "crawl_sinks", CRAWL_PAGES, CRAWL_FILES, crawl_page, crawl_events,
        PipelineConfig(add_level=True), DEFAULT_ROUTES,
    ),
    "event_replay": InputSpec(
        "event_replay", REPLAY_PAGES, REPLAY_FILES, replay_page, replay_events,
        REPLAY_CONFIG, REPLAY_ROUTES, field_totals=True,
    ),
    "crawl_resume": InputSpec(
        "crawl_resume", RESUME_PAGES, RESUME_FILES, resume_page, resume_events,
        PipelineConfig(add_level=True), DEFAULT_ROUTES,
    ),
}


def field_totals(records) -> Counter:
    """Totals over enriched fields, twin of workloads.field_totals."""
    c: Counter = Counter()
    for r in records:
        c["severity_number"] += r.severity_number
        c["body"] += len(r.body)
        c["attributes"] += len(r.attributes)
        c["resource_attributes"] += len(r.resource_attributes)
    return c


def generator_digest() -> str:
    """Digest of every source file that decides what the inputs are."""
    h = hashlib.sha256()
    for mod in (generate, markers):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    with open(__file__, "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def _write_file(name: str, seed: int, path: str, f: int) -> dict:
    """Generate file `f` of the workload's pages and return its share of
    the expected outputs, derived from the generator's index functions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = SPECS[name]
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    include = set(spec.cfg.include_event_names)
    part = {"corrupt": 0, "events_parsed": 0, "text_xor": 0, "fields": Counter(),
            "per_sink": Counter(), "per_sd": Counter()}
    cols: dict[str, list] = {k: [] for k in schema.names}
    for i in range(spec.pages * f // spec.files, spec.pages * (f + 1) // spec.files):
        page, bad = spec.page_fn(seed, i)
        cols["url"].append(page.url)
        cols["warc_ts"].append(page.warc_ts_us)
        cols["html"].append(page.html)
        cols["text"].append(page.text)
        cols["lang"].append(page.lang)
        part["corrupt"] += bad
        part["text_xor"] ^= text_key(page.url, None if bad else page.text)
        names = spec.events_fn(seed, i)
        part["events_parsed"] += len(names)
        host = host_of(page.url)
        for name in names:
            if include and name not in include:
                continue
            sink = route_event(name, spec.routes)
            part["per_sink"][sink] += 1
            part["per_sd"][(sink, host)] += 1
        if spec.field_totals:
            _, recs = oracle.process_page(spec.cfg, page.url, page.html,
                                          OBSERVED_TS_US, spec.routes)
            part["fields"].update(field_totals(recs))
    pq.write_table(
        pa.table(cols, schema=schema), os.path.join(path, f"part-{f:05d}.parquet")
    )
    return part


def _write_pages(spec: InputSpec, seed: int, path: str) -> dict:
    """Generate the pages into `spec.files` parquet files and return the
    expected outputs. The files are generated by a pool of forked
    processes, one per core at most, that has ended before this returns;
    it runs before the JVM starts, so nothing it does is measured."""
    os.makedirs(path, exist_ok=True)
    workers = min(spec.files, os.cpu_count() or 1)
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("fork")) as ex:
        parts = list(ex.map(_write_file, itertools.repeat(spec.name),
                            itertools.repeat(seed), itertools.repeat(path),
                            range(spec.files)))
    total = {"corrupt": 0, "events_parsed": 0, "text_xor": 0, "fields": Counter(),
             "per_sink": Counter(), "per_sd": Counter()}
    for part in parts:
        for k in ("corrupt", "events_parsed"):
            total[k] += part[k]
        total["text_xor"] ^= part["text_xor"]
        for k in ("fields", "per_sink", "per_sd"):
            total[k].update(part[k])
    return {
        "pages": spec.pages,
        "corrupt": total["corrupt"],
        "events_parsed": total["events_parsed"],
        "records": sum(total["per_sink"].values()),
        "per_sink": dict(sorted(total["per_sink"].items())),
        "per_sink_domain": sorted([s, d, n] for (s, d), n in total["per_sd"].items()),
        "text_xor": total["text_xor"],
        "field_totals": dict(total["fields"]),
    }


@dataclass
class Inputs:
    path: str  # parquet directory of the generated pages
    expect: dict


def pages_input(spec: InputSpec, seed: int, cache_root: str) -> Inputs:
    """The seeded page table for `spec`, generated once per cache key."""
    key = f"{spec.name}-s{seed}-n{spec.pages}x{spec.files}-g{generator_digest()}"
    root = os.path.join(cache_root, key)
    done = os.path.join(root, "expect.json")
    if os.path.exists(done):
        with open(done) as fh:
            return Inputs(os.path.join(root, "pages"), json.load(fh))
    shutil.rmtree(root, ignore_errors=True)
    expect = _write_pages(spec, seed, os.path.join(root, "pages"))
    with open(done + ".tmp", "w") as fh:
        json.dump(expect, fh)
    os.replace(done + ".tmp", done)
    return Inputs(os.path.join(root, "pages"), expect)


def event_schema_digest() -> str:
    from weblog_pipeline.parse import EVENT_SCHEMA

    return hashlib.sha256(EVENT_SCHEMA.json().encode()).hexdigest()[:12]


def staged_events(spark, pages: Inputs) -> tuple[str, float]:
    """Parse the replay pages once with ``parse_events`` and stage the real
    span-event rows as parquet. Returns (path, seconds spent staging)."""
    from weblog_pipeline.parse import event_rows, parse_events

    path = os.path.join(
        os.path.dirname(pages.path), f"events-e{event_schema_digest()}"
    )
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, 0.0
    t0 = time.perf_counter()
    event_rows(parse_events(spark.read.parquet(pages.path))).write.mode(
        "overwrite"
    ).parquet(path)
    return path, time.perf_counter() - t0
