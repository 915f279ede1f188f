"""Composed pipeline API — the one-call surface over the full lifecycle.

Reference analog: the MCP/agent/webapp front-ends all wire the same chain
(mcp_server/tools.py:45-97, agent/orchestrator.py:68-150, webapp/app.py):
detect format → parse → normalize → score confidence → validate → route →
store. Here that chain is ``process_table`` (in-session) and
``run_pipeline`` (resumable, warehouse-backed), per SURVEY.md §3.1.

Layering at scale: extraction is the one Arrow/Python stage; everything
this module adds on top — enrichment, confidence, validation, routing —
is pure native Column arithmetic that folds into the post-UDF codegen
span. Hybrid escalation is decided inside that one stage, by a set lookup
whose set the native confidence expression computes (``escalation_table``).
``run_pipeline`` persists only the extraction output (the expensive part)
through the Warehouse snapshot protocol; scores are re-derived on
read because recomputing codegen columns is cheaper than storing them.
"""

from __future__ import annotations

import datetime
import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import confidence as C
from .functions import validate as V
from .functions.rounding import rnd
from .operators.extract import enrich_extracted, escalation_key, extract_pages
from .operators.routing import ESCALATION_THRESHOLD
from .session import per_gateway
from .sinks import Warehouse

# Per-format source confidence — the analog of the reference's per-parser
# base confidence (src/parsers/*: each parser reports how trustworthy its
# extraction channel is). Error-path formats carry zero.
SOURCE_CONFIDENCE = {
    "text": 0.95,
    "csv": 0.95,  # structured table parse, deterministic (CSVParser analog)
    "html": 0.90,
    "zip": 0.85,
    "pdf": 0.80,
    "pbm": 0.75,  # pixel-decoded content (the OCR channel analog)
    "image": 0.0,
    "unknown": 0.0,
}


def _source_conf_col() -> Column:
    """Per-format channel confidence, gated on the channel actually having
    produced content — an empty or failed extraction earns no source trust
    (the reference's parsers only report confidence on successful parses)."""
    m = F.create_map(
        *[x for kv in SOURCE_CONFIDENCE.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    base = F.coalesce(F.element_at(m, F.col("format")), F.lit(0.0))
    return F.when(F.col("ok") & (F.length("text_out") > 0), base).otherwise(0.0)


@per_gateway
def _scoring_columns() -> tuple[
    Column, Column, tuple[Column, ...], tuple[Column, ...]
]:
    """(errors, is_valid, (completeness, source_conf, confidence),
    (bucket, action)) — each tuple one projection of ``score_extracted``."""
    errors = V.collect_errors(
        V.rule(F.col("ok"), "extract_failed"),
        V.rule(
            ~F.col("ok") | (F.length("text_out") > 0), "empty_extraction"
        ),
        V.rule(~F.coalesce(F.col("truncated"), F.lit(False)), "truncated_payload"),
        V.rule(F.col("warc_ts").isNotNull(), "missing_timestamp"),
    )
    is_valid = F.size(F.col("errors")) == 0
    completeness = C.completeness_score(
        [
            F.col("ok"),
            F.length("text_out") > 0,
            F.col("n_blocks") > 0,
            F.col("lang").isNotNull(),
            F.col("warc_ts").isNotNull(),
            F.col("format") != "unknown",
        ],
        multi_item_bonus=F.col("n_blocks") >= 2,
    )
    conf = C.composite_confidence(
        completeness,
        _source_conf_col(),
        C.validation_penalty(F.size("errors")),
    )
    scored = (
        rnd(completeness, 4).alias("completeness"),
        _source_conf_col().alias("source_conf"),
        conf.alias("confidence"),
    )
    bucket = C.confidence_bucket(F.col("confidence"))
    routed = (
        bucket.alias("bucket"),
        F.when(bucket == "HIGH", "APPROVE")
        .when(bucket == "MEDIUM", "REVIEW")
        .otherwise("MANUAL_REVIEW")
        .alias("action"),
    )
    return errors, is_valid, scored, routed


def score_extracted(extracted: DataFrame, run_date: str | None = None) -> DataFrame:
    """normalize → score → validate → route, all native columns.

    Input: the extraction schema (operators/extract.EXTRACT_DDL). Adds
    enrichment (lang_guess, quality, token counts, content_key), the
    validation error array + is_valid, the composite confidence
    (completeness 0.4 / source 0.4 / validation 0.2 —
    src/processors/confidence_scorer.py:41-150), the HIGH/MEDIUM/LOW
    bucket, and the APPROVE/REVIEW/MANUAL_REVIEW action
    (confidence_scorer.py:117-150). ``run_date`` is the run-level literal
    that replaces the reference's datetime.now() fallback (F7) — it lands
    in a ``run_date`` column for lineage, never in any computed value.
    The Column trees are built once per JVM gateway
    (``session.per_gateway``), not per call."""
    errors, is_valid, scored, routed = _scoring_columns()
    out = (
        enrich_extracted(extracted)
        .withColumn("errors", errors)
        .withColumn("is_valid", is_valid)
        .select("*", *scored)
        .select("*", *routed)
    )
    if run_date is not None:
        out = out.withColumn("run_date", F.lit(run_date))
    return out


@per_gateway
def _escalation_tables() -> dict[float, frozenset]:
    """threshold → ``escalation_table`` result, per JVM gateway."""
    return {}


def escalation_table(
    spark: SparkSession, threshold: float = ESCALATION_THRESHOLD
) -> frozenset:
    """Every ``extract.escalation_key`` whose rows score ``confidence <
    threshold``. ``confidence`` reads only the key's inputs, so one literal
    row per key (at most 2⁷ × 8) run through the native scoring projection
    decides escalation for every row that key covers — from the one
    definition in ``_scoring_columns``, with no Python copy of its
    arithmetic. Built on the first call per (gateway, threshold)."""
    tables = _escalation_tables()
    if threshold not in tables:
        rows = itertools.product(
            SOURCE_CONFIDENCE,
            (False, True),
            (b"", b"x"),
            (0, 1, 2),
            (None, "und"),
            (None, datetime.datetime(1970, 1, 1)),
            (False, True),
        )
        keys = spark.createDataFrame(
            list(rows),
            "format string, ok boolean, text_out binary, n_blocks int, "
            "lang string, warc_ts timestamp, truncated boolean",
        )
        errors, _, scored, _ = _scoring_columns()
        low = (
            keys.withColumn("errors", errors)
            .select("*", *scored)
            .where(F.col("confidence") < threshold)
        )
        tables[threshold] = frozenset(
            escalation_key(
                r.format,
                r.ok,
                r.text_out,
                r.n_blocks,
                r.lang is not None,
                r.warc_ts is not None,
                r.truncated,
            )
            for r in low.collect()
        )
    return tables[threshold]


def process_table(
    pages: DataFrame,
    mode: str = "rule_based",
    run_date: str | None = None,
    salt_partitions: int | None = None,
    max_bytes: int | None = None,
    threshold: float = ESCALATION_THRESHOLD,
) -> DataFrame:
    """One call: sniff → extract → enrich → score → validate → route.

    ``mode`` mirrors the reference's pipeline modes (src/pipeline.py vs
    src/hybrid_pipeline.py:308-360):

    - ``"rule_based"``: one deterministic pass over everything.
    - ``"hybrid"``: documents that would score below ``threshold`` are
      RE-EXTRACTED with the "relaxed" recovery profile (oracle.PROFILES) —
      a real second extractor, not just a score bump — and scored on that
      result; they carry ``mode='escalated'``. The decision is made per
      row inside the one extraction UDF, by looking the row's
      ``escalation_key`` up in ``escalation_table``, so the relaxed pass
      reads the payload already in hand and costs Python time only on the
      rows that escalate: one scan, one MapInPandas, one scoring
      projection, no shuffle, join or union (pinned in
      tests/test_plans.py). Rows sharing a url are decided independently.

    Returns the scored table; the last column, ``mode``, records the path
    per row.
    """
    if mode == "rule_based":
        escalate = None
    elif mode == "hybrid":
        escalate = escalation_table(pages.sparkSession, threshold)
    else:
        raise ValueError(f"unknown mode: {mode!r}")
    out = score_extracted(
        extract_pages(
            pages,
            salt_partitions=salt_partitions,
            max_bytes=max_bytes,
            escalate=escalate,
        ),
        run_date=run_date,
    )
    if escalate is None:
        return out.withColumn("mode", F.lit("rule_based"))
    return out.select(*(c for c in out.columns if c != "mode"), "mode")


def process_incremental(
    pages: DataFrame,
    prev_extracted: DataFrame,
    salt_partitions: int | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Incremental re-extraction across crawl snapshots (the warehouse
    day-resume of SURVEY §2 J4 generalized to row-level drift): run the
    expensive UDF ONLY over pages that are new (url absent from the
    previous run) or re-crawled (``warc_ts`` advanced past the previously
    extracted row's — the crawl-snapshot change signal; the fixed input
    schema carries no content hash, and hashing ``html`` natively would
    read the payload for every row, which is exactly the work being
    avoided). Unchanged urls reuse their previous extraction rows
    verbatim; urls that left the corpus drop out.

    Scale shape: two equi-joins on url (at 100 TB both tables are bucketed
    by url, so the joins are co-located and shuffle-free) and ONE
    mapInPandas stage whose input is the delta slice only — re-crawl rates
    are single-digit percent per snapshot, so the expensive stage touches
    ~1% of the corpus instead of 100%. Returns the extraction schema
    (EXTRACT_DDL); feed through ``score_extracted`` as usual.

    ``prev_extracted`` is referenced TWICE below (anti-join key + reuse
    leg) and Spark SQL does not share subplans: pass a materialized
    source (warehouse read, parquet, cache/localCheckpoint), never a
    lazy plan containing the extraction UDF, or that UDF executes twice.
    """
    prev_key = prev_extracted.select(
        "url", F.col("warc_ts").alias("_prev_ts")
    )
    annotated = pages.join(prev_key, "url", "left_outer")
    todo = annotated.where(
        F.col("_prev_ts").isNull() | (F.col("warc_ts") > F.col("_prev_ts"))
    ).select(*pages.columns)
    fresh = extract_pages(
        todo, salt_partitions=salt_partitions, max_bytes=max_bytes
    )
    still = pages.select("url", F.col("warc_ts").alias("_new_ts"))
    reused = (
        prev_extracted.join(still, "url")
        .where(F.col("warc_ts") >= F.col("_new_ts"))
        .drop("_new_ts")
    )
    return fresh.unionByName(reused)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse_root: str,
    run_id: str | None = None,
    run_date: str | None = None,
    salt_partitions: int | None = None,
) -> tuple[dict, DataFrame]:
    """The resumable deployment shape: extraction runs (once) through the
    Warehouse snapshot protocol — pending → extract → partitioned append →
    lineage → commit — then scoring/validation/routing are derived natively
    from the committed table. Returns (commit record, scored DataFrame).
    Killed and rerun, extraction resumes from the last commit; the scored
    view is always consistent with exactly the committed snapshots."""
    wh = Warehouse(warehouse_root)
    record = wh.run(spark, pages, run_id=run_id, salt_partitions=salt_partitions)
    return record, score_extracted(wh.read_extracted(spark), run_date=run_date)

