"""The two workloads, the traced per-layer ledger, and one benchmark run.

One Spark driver process, one job at a time: every call below is a closed
loop with a single client. Sessions run on local[nproc].
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from multi_format_document_extractor_spark import api, oracle
from multi_format_document_extractor_spark.functions import textstats as T
from multi_format_document_extractor_spark.operators.extract import (
    enrich_extracted,
    extract_pages,
)
from multi_format_document_extractor_spark.plans import QUERIES
from multi_format_document_extractor_spark.session import (
    get_spark,
    make_pyfiles_zip,
)
from multi_format_document_extractor_spark.sinks import Warehouse
from multi_format_document_extractor_spark.sources.pages import (
    PAGES_DDL,
    format_col,
    read_pages,
)

from . import checks, inputs
from .metrics import FORMATS, PLAN_QUERIES, TEXTSTATS
from .tracing import (
    CoreClock,
    RssSampler,
    Tracer,
    find_event_log,
    read_event_log,
    self_times,
)

RUN_DATE = "2026-07-01"
N_PAGES = 3000  # extract_uniform: three 1000-row row groups
N_HYBRID = 100  # score_hybrid: a stratified slice of that corpus ...
SLICE_FROM = 1000  # ... drawn from its first rows (the generator is prefix-stable)
# Calls before the timed window. Per-call time still fell by about 20%
# over the five timed calls that followed two warm-up calls.
WARMUP_CALLS = 3
N_DOCS, N_VECS = 400, 150  # the plans ledger's documents / embeddings


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(df: DataFrame, cols: list[str]) -> list[dict]:
    return df.select(*cols).toArrow().to_pylist()


def _expected(corpus_dir: str) -> dict[str, tuple[bytes, int]]:
    t = pq.read_table(os.path.join(corpus_dir, "expected.parquet"))
    return {
        r["url"]: (r["text_expected"], r["n_blocks"]) for r in t.to_pylist()
    }


class Bench:
    """State of one run: directories, the Spark session, the tracer."""

    def __init__(self, work: str, seed: int, trace: bool) -> None:
        self.seed = seed
        self.cache = os.path.join(work, "cache")
        self.tmp = os.path.join(work, "tmp", str(os.getpid()))
        self.events = os.path.join(self.tmp, "events")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.events, exist_ok=True)
        self.trace_path = os.path.join(work, "trace", f"{os.getpid()}.jsonl")
        self.tracer = Tracer(f"{os.getpid()}-{seed}", enabled=trace)
        cpus = os.sched_getaffinity(0)
        self.cores = len(cpus)
        self.clock = CoreClock(cpus)
        self.spark = None
        self._n = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        return os.path.join(self.tmp, f"{prefix}{self._n}")

    @contextmanager
    def phase(self, name: str):
        """A span, plus the Spark job description the event log groups by."""
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobDescription(name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            if sc is not None:
                sc.setJobDescription(None)

    # -- session -------------------------------------------------------------

    def start_session(self, event_log: bool = False) -> tuple[float, float]:
        """Start a session: get_spark, then the first UDF stage, which
        spawns every Python worker and imports the package in it. The
        first start in a process is cold: get_spark launches the JVM and
        builds the pyfiles zip. A later start stops the session and reuses
        both. Returns the available seconds of the two parts."""
        if self.spark is not None:
            with self.tracer.span("session.stop"):
                self.spark.stop()
        conf = {}
        if event_log:
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
            }
        t0 = self.seconds()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench", cores=self.cores, extra_conf=conf
            )
        t1 = self.seconds()
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = self.seconds()
        with self.tracer.span("session.first_udf"):
            _noop(extract_pages(self._tiny_pages()))
        return t1 - t0, self.seconds() - t2

    def seconds(self) -> float:
        """Available seconds: wall time minus the time the host stole,
        averaged over the cores (``CoreClock`` / cores)."""
        return self.clock() / self.cores

    def _tiny_pages(self) -> DataFrame:
        ts = datetime(2026, 7, 1, tzinfo=timezone.utc)
        html = b"<html><body><p>" + b"setup page text " * 8 + b"</p></body></html>"
        rows = [
            (f"https://setup.example/p{i}", ts, html, "", "en")
            for i in range(2 * self.cores)
        ]
        return self.spark.createDataFrame(rows, PAGES_DDL).repartition(
            self.cores
        )

    def close(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- ledger helpers --------------------------------------------------------

    def timed(self, name: str, fn) -> float:
        """One ledger pass, as a span; returns its seconds."""
        with self.phase(name):
            fn()
        return self.tracer.durations(name)[-1]


# -- workloads ---------------------------------------------------------------


class ExtractUniform:
    """The production path (``scripts/run_job.py``): the seed's corpus, in
    generator order, through ``Warehouse.run`` into a fresh root."""

    name = "extract_uniform"
    n_pages = N_PAGES

    def prepare(self, b: Bench) -> None:
        self.dir = inputs.page_corpus(b.cache, self.n_pages, b.seed)
        self.pages = os.path.join(self.dir, "pages.parquet")
        self.roots: list[str] = []

    def call(self, b: Bench) -> None:
        root = b.fresh_dir("wh")
        Warehouse(root).run(b.spark, read_pages(b.spark, self.pages))
        self.roots.append(root)

    def warm(self, b: Bench) -> None:
        for _ in range(WARMUP_CALLS):
            self.call(b)

    def check(self, b: Bench, misses: list[str]) -> tuple[int, int]:
        exp = _expected(self.dir)
        checked = bad = 0
        for root in self.roots:
            rows = _rows(
                Warehouse(root).read_extracted(b.spark),
                ["url", "text_out", "n_blocks"],
            )
            c, m = checks.check_extracted(rows, exp, misses)
            checked, bad = checked + c, bad + m
        return checked, bad


class ScoreHybrid:
    """A slice of the same corpus through ``api.process_table(mode="hybrid")``
    to the noop sink: scoring columns and the relaxed second pass."""

    name = "score_hybrid"
    n_pages = N_HYBRID

    def prepare(self, b: Bench) -> None:
        self.dir = inputs.page_corpus(
            b.cache, SLICE_FROM, b.seed, f"slice{self.n_pages}"
        )
        self.pages = os.path.join(self.dir, "pages.parquet")

    def call(self, b: Bench) -> None:
        _noop(_process_table(b, self.pages, "hybrid"))

    def warm(self, b: Bench) -> None:
        """Warm-up calls. The first one's collected output is what
        ``check`` verifies (timed calls write to the noop sink)."""
        self.out = _rows(
            _process_table(b, self.pages, "hybrid"),
            ["url", "mode", "text_out", "n_blocks"],
        )
        for _ in range(WARMUP_CALLS - 1):
            self.call(b)

    def check(self, b: Bench, misses: list[str]) -> tuple[int, int]:
        t = pq.read_table(self.pages, columns=["url", "html"]).to_pylist()
        payloads = {r["url"]: r["html"] for r in t}
        return checks.check_hybrid(
            self.out, _expected(self.dir), payloads, misses
        )


WORKLOADS = {w.name: w for w in (ExtractUniform, ScoreHybrid)}


def _process_table(b: Bench, pages: str, mode: str) -> DataFrame:
    return api.process_table(
        read_pages(b.spark, pages), mode=mode, run_date=RUN_DATE
    )


# -- the per-layer ledger ------------------------------------------------------
#
# A traced run of either workload runs the same ledger, in the same order,
# on the same seed's inputs, after its own timed calls: one pass per
# measurement, to the noop sink unless stated.


def ledger_inputs(b: Bench) -> dict[str, str]:
    def pages(n: int, layout: str) -> str:
        d = inputs.page_corpus(b.cache, n, b.seed, layout)
        return os.path.join(d, "pages.parquet")

    return {
        "uniform": pages(N_PAGES, "uniform"),
        "clustered": pages(N_PAGES, "clustered"),
        "slice": pages(SLICE_FROM, f"slice{N_HYBRID}"),
        "docs": inputs.doc_tables(b.cache, N_DOCS, N_VECS, b.seed),
    }


def ledger(b: Bench, m: dict, dirs: dict[str, str]) -> None:
    # One untimed pass through the layers only one workload's own calls
    # warm (the sink on score_hybrid; scoring and routing on
    # extract_uniform), so every timed pass starts warm on both.
    with b.phase("ledger.warm"):
        root = b.fresh_dir("warm-wh")
        Warehouse(root).run(b.spark, read_pages(b.spark, dirs["slice"]))
        _noop(_process_table(b, dirs["slice"], "hybrid"))
    page_ledger(b, dirs["uniform"], m)
    m["extract.clustered_s"] = b.timed(
        "extract.clustered",
        lambda: _noop(extract_pages(read_pages(b.spark, dirs["clustered"]))),
    )
    scoring_ledger(b, dirs["slice"], m)
    routing_ledger(b, dirs["slice"], m)
    for q in PLAN_QUERIES:  # cold: no pass before this one runs them
        m[f"plans.{q}_s"] = b.timed(
            f"plans.{q}", lambda: _noop(QUERIES[q](b.spark, dirs["docs"]))
        )


def page_ledger(b: Bench, pages: str, m: dict) -> None:
    """Differential passes over the workload's pages: scan, +sniff,
    +Arrow identity, +extract (each to the noop sink), then the sink."""
    spark = b.spark

    def identity(batches):
        yield from batches

    scan = b.timed("sources.scan", lambda: _noop(read_pages(spark, pages)))
    sniff = b.timed(
        "sources.sniff",
        lambda: _noop(
            read_pages(spark, pages).select(
                "*", format_col(F.col("html")).alias("format")
            )
        ),
    )
    ident = b.timed(
        "extract.identity",
        lambda: _noop(
            read_pages(spark, pages)
            .select("url", "warc_ts", "html", "lang")
            .mapInPandas(
                identity, "url string, warc_ts timestamp, html binary, lang string"
            )
        ),
    )
    ext = b.timed(
        "extract.extract_pages",
        lambda: _noop(extract_pages(read_pages(spark, pages))),
    )
    m["sources.scan_s"] = scan
    m["sources.input_mb"] = os.path.getsize(pages) / 2**20
    m["sources.sniff_s"] = sniff - scan
    m["extract.arrow_s"] = ident - scan
    m["extract.udf_s"] = ext - ident
    single = oracle_ledger(b, pages, m)
    m["extract.speedup_vs_oracle"] = single / ext
    roots: list[str] = []

    def sink() -> None:
        roots.append(b.fresh_dir("ledger-wh"))
        Warehouse(roots[-1]).run(spark, read_pages(spark, pages))

    wh = b.timed("sinks.Warehouse.run", sink)
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(roots[-1], "runs"))
        for f in fs
        if f.endswith(".parquet")
    ]
    m["sinks.write_s"] = wh - ext
    m["sinks.data_files"] = len(files)
    m["sinks.stored_bytes_per_input_byte"] = sum(
        os.path.getsize(f) for f in files
    ) / os.path.getsize(pages)
    with b.phase("sinks.read_extracted"):
        ok = _rows(Warehouse(roots[-1]).read_extracted(spark), ["ok"])
    m["extract.ok_ratio"] = sum(1 for r in ok if r["ok"]) / len(ok)


def oracle_ledger(b: Bench, pages: str, m: dict) -> float:
    """Single-thread ``oracle.extract`` over every row, by format, plus the
    stage splits inside html, pdf and image. Returns the total seconds."""
    payloads = pq.read_table(pages, columns=["html"]).column("html").to_pylist()
    ns: dict[str, int] = {}
    nbytes: dict[str, int] = {}
    pdf = {"text": [0, 0], "scanned": [0, 0]}  # [ns, bytes]
    html_rows, image_rows = [], []
    clock = time.perf_counter_ns
    with b.tracer.span("oracle.extract"):
        for p in payloads:
            t0 = clock()
            fmt = oracle.extract(p).format
            dt = clock() - t0
            size = len(p) if p is not None else 0
            ns[fmt] = ns.get(fmt, 0) + dt
            nbytes[fmt] = nbytes.get(fmt, 0) + size
            if fmt == "html":
                html_rows.append(p)
            elif fmt == "image":
                image_rows.append(p)
            elif fmt == "pdf":
                # image XObject dict visible in the raw bytes; pdfs whose
                # objects sit in compressed object streams join neither
                if b"/Subtype /Image" in p:
                    kind = "scanned"
                elif b"/ObjStm" not in p:
                    kind = "text"
                else:
                    continue
                pdf[kind][0] += dt
                pdf[kind][1] += size
    with b.tracer.span("oracle.decode_web"):
        t0 = clock()
        for p in html_rows:
            oracle.decode_web(p)
        decode_ns = clock() - t0
    decoders = {
        "png": oracle.png_decode_gray8,
        "gif": oracle.gif_decode_gray,
        "jpeg": oracle.jpeg_decode_gray8,
    }
    with b.tracer.span("oracle.image_decode"):
        t0 = clock()
        for p in image_rows:
            try:
                decoders[oracle.image_subtype(p)](p)
            except Exception:  # noqa: BLE001 — corrupt rasters are data here too
                pass
        image_ns = clock() - t0

    def ms_per_mb(t_ns: int, size: int) -> float:
        return t_ns / 1e6 / (size / 2**20) if size else 0.0

    total = sum(ns.values())
    for f in FORMATS:
        m[f"oracle.{f}.ms_per_mb"] = ms_per_mb(ns.get(f, 0), nbytes.get(f, 0))
        m[f"oracle.{f}.share"] = ns.get(f, 0) / total
    html_b = nbytes.get("html", 0)
    m["oracle.html.decode_web_ms_per_mb"] = ms_per_mb(decode_ns, html_b)
    m["oracle.html.blocks_ms_per_mb"] = ms_per_mb(ns.get("html", 0) - decode_ns, html_b)
    m["oracle.pdf.text_ms_per_mb"] = ms_per_mb(*pdf["text"])
    m["oracle.pdf.scanned_ms_per_mb"] = ms_per_mb(*pdf["scanned"])
    img_b = nbytes.get("image", 0)
    m["oracle.image.decode_ms_per_mb"] = ms_per_mb(image_ns, img_b)
    m["oracle.image.classify_ms_per_mb"] = ms_per_mb(ns.get("image", 0) - image_ns, img_b)
    return total / 1e9


def scoring_ledger(b: Bench, pages: str, m: dict) -> None:
    """Each scoring column alone over a checkpointed extraction, minus a
    passthrough of the same rows."""
    with b.phase("extract.checkpoint"):
        ext = extract_pages(read_pages(b.spark, pages)).localCheckpoint()
    t = F.col("text_out")
    text_only = b.timed("textstats.passthrough", lambda: _noop(ext.select(t)))
    all_cols = b.timed("api.passthrough", lambda: _noop(ext))
    for name in TEXTSTATS:
        fn = getattr(T, name)
        s = b.timed(f"textstats.{name}", lambda: _noop(ext.select(fn(t))))
        m[f"textstats.{name}_s"] = s - text_only
    enrich = b.timed(
        "textstats.enrich_extracted", lambda: _noop(enrich_extracted(ext))
    )
    score = b.timed(
        "api.score_extracted",
        lambda: _noop(api.score_extracted(ext, run_date=RUN_DATE)),
    )
    m["textstats.enrich_s"] = enrich - all_cols
    m["api.score_s"] = score - all_cols
    m["api.validate_confidence_s"] = score - enrich


def routing_ledger(b: Bench, pages: str, m: dict) -> None:
    """``process_table`` hybrid − rule_based over the same rows; the
    escalated share is counted by an observation on the hybrid output."""
    seen: list[Observation] = []

    def hybrid() -> None:
        seen.append(Observation(f"routing{len(seen)}"))
        df = _process_table(b, pages, "hybrid").observe(
            seen[-1],
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("mode") == "escalated").cast("long")).alias("escalated"),
        )
        _noop(df)

    hyb = b.timed("api.process_table.hybrid", hybrid)
    rule = b.timed(
        "api.process_table.rule_based",
        lambda: _noop(_process_table(b, pages, "rule_based")),
    )
    got = seen[-1].get
    m["routing.escalated_ratio"] = got["escalated"] / got["rows"]
    m["routing.second_pass_s"] = hyb - rule


def _event_metrics(b: Bench, m: dict) -> None:
    """Task, shuffle and job figures from the traced session's event log,
    grouped by the job description each ledger pass set."""
    stats = read_event_log(find_event_log(b.events))

    def tasks(desc: str) -> tuple[float, float]:
        ts = stats[desc].task_s
        return statistics.median(ts), max(ts)

    med, top = tasks("extract.extract_pages")
    m["extract.task_median_s"] = med
    m["extract.task_max_s"] = top
    m["extract.straggler_ratio"] = top / med
    med, top = tasks("extract.clustered")
    m["extract.clustered_task_max_s"] = top
    m["extract.clustered_straggler_ratio"] = top / med
    m["sinks.shuffle_mb"] = stats["sinks.Warehouse.run"].shuffle_mb
    plans = [stats[f"plans.{q}"] for q in PLAN_QUERIES if f"plans.{q}" in stats]
    m["plans.shuffle_mb"] = sum(st.shuffle_mb for st in plans)
    m["plans.jobs"] = sum(st.jobs for st in plans)


# -- one run -------------------------------------------------------------------


@dataclass
class Calls:
    """Wall seconds and available core-seconds of each call that completed."""

    wall: list[float] = field(default_factory=list)
    core: list[float] = field(default_factory=list)
    failed: int = 0


def _timed_loop(b: Bench, wl, seconds: float, label: str) -> Calls:
    """Closed loop: start calls until ``seconds`` have passed; the call in
    flight finishes."""
    calls = Calls()
    end = time.perf_counter() + seconds
    while True:
        t0, c0 = time.perf_counter(), b.clock()
        try:
            with b.phase(label):
                wl.call(b)
            calls.wall.append(time.perf_counter() - t0)
            calls.core.append(b.clock() - c0)
        except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            calls.failed += 1
        if time.perf_counter() >= end:
            return calls


def _report_misses(pages: str, misses: list[str], limit: int = 10) -> None:
    """Name each mismatched url on stderr, with what the single-node
    extractor makes of its payload, so a failed check says which input
    and which format it failed on."""
    urls = list(dict.fromkeys(misses))
    if not urls:
        return
    print(
        f"perfbench: {len(misses)} mismatched rows, {len(urls)} distinct urls",
        file=sys.stderr,
    )
    t = pq.read_table(pages, columns=["url", "html"]).to_pylist()
    payloads = {r["url"]: r["html"] for r in t}
    for url in urls[:limit]:
        p = payloads.get(url)
        ref = oracle.extract(p)
        print(
            f"perfbench: mismatch {url} bytes={len(p or b'')} "
            f"format={ref.format} encoding={ref.encoding} ok={ref.ok}",
            file=sys.stderr,
        )


def _per(n: int, seconds: list[float]) -> float:
    return n / statistics.median(seconds) if seconds else 0.0


def run(work: str, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = WORKLOADS[workload]()
    b = Bench(work, seed, trace)
    sampler = RssSampler()
    try:
        with sampler, b.tracer.span("run"):
            # Inputs first: no session start overlaps their generation.
            with b.tracer.span("inputs"):
                inputs.prune(b.cache)
                wl.prepare(b)
                if trace:
                    dirs = ledger_inputs(b)
            setup = b.start_session()  # cold
            with b.tracer.span("warmup"):
                wl.warm(b)
            # A traced run gives a third of the window each to untraced and
            # traced calls, to leave its ledger room within the run time
            # limit.
            window = seconds / 3 if trace else seconds
            calls = _timed_loop(b, wl, window, "e2e")
            if trace:
                with b.tracer.span("session.restart_traced"):
                    b.start_session(event_log=True)
                traced = _timed_loop(b, wl, window, "e2e.traced")
            with b.tracer.span("checks"):
                misses: list[str] = []
                checked, mismatched = wl.check(b, misses)
                _report_misses(wl.pages, misses)
            if trace:
                m: dict[str, float] = {}
                with b.tracer.span("ledger"):
                    ledger(b, m, dirs)
            with b.tracer.span("session.close"):
                b.close()
        runs = [calls, traced] if trace else [calls]
        failed = sum(c.failed for c in runs)
        attempted = sum(len(c.wall) for c in runs) + failed
        result = {
            "attempted": attempted,
            "failed": failed,
            "mismatch_ratio": mismatched / checked if checked else 1.0,
            "failed_ratio": failed / attempted,
            "docs_per_s": _per(wl.n_pages, calls.wall),
            "calls_s": calls.wall,
            "calls_core_s": calls.core,
            "setup_s": sum(setup),
        }
        if trace:
            b.tracer.write(b.trace_path)
            _event_metrics(b, m)
            m["session.get_spark_s"], m["session.first_udf_s"] = setup
            m["session.pyfiles_zip_kb"] = os.path.getsize(make_pyfiles_zip()) / 1024
            m["trace.overhead_ratio"] = (
                statistics.median(traced.core) / statistics.median(calls.core) - 1.0
            )
            root_span = b.tracer.spans[0]
            m["trace.accounted_ratio"] = (
                1.0 - self_times(b.tracer.spans)[0] / root_span.duration
            )
            result["metrics"] = m
        else:
            result["metrics"] = {
                "docs_per_core_s": _per(wl.n_pages, calls.core),
                "setup_s": sum(setup),
                "worker_rss_peak_mb": sampler.peak_mb,
            }
        return result
    finally:
        b.close()
        shutil.rmtree(b.tmp, ignore_errors=True)
