"""End-to-end tests for the composed pipeline API (api.process_table /
run_pipeline): the one-call lifecycle sniff → extract → enrich → score →
validate → route (→ warehouse)."""

from __future__ import annotations

import datetime
import itertools

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from multi_format_document_extractor_spark import api
from multi_format_document_extractor_spark.operators.extract import (
    EXTRACT_DDL,
    escalation_key,
)
from multi_format_document_extractor_spark.sources.pages import read_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_process_table_rule_based_end_to_end(spark, corpus_dir, corpus_rows):
    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    out = api.process_table(pages, run_date="2026-08-17").cache()
    try:
        rows = {r["url"]: r for r in out.collect()}
        assert len(rows) == len(corpus_rows)
        for row in corpus_rows:
            g = rows[row.url]
            # extraction is still the byte-identity contract
            assert bytes(g["text_out"]) == row.text_expected, row.url
            assert g["mode"] == "rule_based"
            assert 0.0 <= g["confidence"] <= 1.0
            assert g["bucket"] in ("HIGH", "MEDIUM", "LOW")
            assert g["action"] in ("APPROVE", "REVIEW", "MANUAL_REVIEW")
            assert g["run_date"] == "2026-08-17"
            if row.format == "unknown":
                assert "extract_failed" in g["errors"]
                assert g["action"] == "MANUAL_REVIEW"
        # bucket ↔ action mapping is consistent everywhere
        assert (
            out.where(
                (
                    (F.col("bucket") == "HIGH") & (F.col("action") != "APPROVE")
                )
                | ((F.col("bucket") == "MEDIUM") & (F.col("action") != "REVIEW"))
                | ((F.col("bucket") == "LOW") & (F.col("action") != "MANUAL_REVIEW"))
            ).count()
            == 0
        )
    finally:
        out.unpersist()


def test_scoring_is_native_single_udf_stage(spark, corpus_dir):
    """The whole scored plan keeps exactly one MapInPandas and no extra
    shuffle or Python eval — scoring must fold into the post-UDF codegen."""
    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    p = _plan(api.process_table(pages))
    assert p.count("MapInPandas") == 1
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hybrid_mode_recovers_low_confidence_docs(spark):
    """A page whose content blocks are short (below the default
    MIN_CONTENT_CHARS) extracts empty under the default profile but is
    recovered by the relaxed escalation pass."""
    short = "<html><body>" + "".join(
        f"<p>short block {i} here</p>" for i in range(6)
    ) + "</body></html>"
    rich = "<html><body><p>" + "solid content word " * 40 + "</p></body></html>"
    rows = [
        ("u-short", datetime.datetime(2026, 7, 1), short.encode(), None, "en"),
        ("u-rich", datetime.datetime(2026, 7, 1), rich.encode(), None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r["url"]: r for r in api.process_table(pages, mode="hybrid").collect()}
    assert out["u-rich"]["mode"] == "rule_based"
    assert len(bytes(out["u-rich"]["text_out"])) > 0
    # the short-block page escalated and the relaxed profile recovered text
    assert out["u-short"]["mode"] == "escalated"
    assert b"short block" in bytes(out["u-short"]["text_out"])
    spark.catalog.clearCache()


def test_hybrid_mode_decides_per_row_on_duplicate_urls(spark):
    """Two rows on one url, one escalating and one not: each row is decided
    on its own, so exactly two rows come out, one per path."""
    short = "<html><body>" + "".join(
        f"<p>short block {i} here</p>" for i in range(6)
    ) + "</body></html>"
    rich = "<html><body><p>" + "solid content word " * 40 + "</p></body></html>"
    ts = datetime.datetime(2026, 7, 1)
    pages = spark.createDataFrame(
        [("u-dup", ts, short.encode(), None, "en"),
         ("u-dup", ts, rich.encode(), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = api.process_table(pages, mode="hybrid").collect()
    assert sorted(r["mode"] for r in out) == ["escalated", "rule_based"]


# Every escalation key, with n_blocks beyond the clamp and a few non-empty
# texts, so a row's membership in the table can be checked against its
# own native confidence.
_KEY_COLS = ("format", "ok", "text_out", "n_blocks", "lang", "warc_ts", "truncated")
_TEXTS = (b"x", b"the plain words of a page", "caf\u00e9 \u4e2d\u6587".encode())


def _every_key_row(spark):
    rows = [
        (f"u{i}", ts, lang, fmt, text, n, ok, None, 0, 0, trunc, None)
        for i, (fmt, ok, text, n, lang, ts, trunc) in enumerate(
            itertools.product(
                api.SOURCE_CONFIDENCE,
                (False, True),
                (b"", *_TEXTS),
                (0, 1, 2, 5),
                (None, "en"),
                (None, datetime.datetime(2026, 7, 1)),
                (False, True),
            )
        )
    ]
    return spark.createDataFrame(rows, EXTRACT_DDL)


@pytest.mark.parametrize("threshold", [0.7, 0.5, 0.9])
def test_escalation_table_matches_native_confidence(spark, threshold):
    table = api.escalation_table(spark, threshold)
    rows = api.score_extracted(_every_key_row(spark)).collect()
    low = 0
    for r in rows:
        key = escalation_key(
            r.format, r.ok, r.text_out, r.n_blocks,
            r.lang is not None, r.warc_ts is not None, r.truncated,
        )
        assert (key in table) == (r.confidence < threshold), (key, r.confidence)
        low += r.confidence < threshold
    assert 0 < low < len(rows)  # the table splits the domain
    assert api.escalation_table(spark, threshold) is table  # built once


def test_escalation_table_domain_covers_every_extracted_format(corpus_rows):
    """``escalation_table`` keys only the SOURCE_CONFIDENCE formats; a
    format ``oracle.extract`` could return outside them would never
    escalate."""
    from multi_format_document_extractor_spark import oracle

    # the magic table's formats plus the verdicts of sniff_format's probes
    # (markup, CSV shape, text) and its fallback
    probes = {
        oracle.FORMAT_HTML,
        oracle.FORMAT_CSV,
        oracle.FORMAT_TEXT,
        oracle.FORMAT_UNKNOWN,
    }
    formats = {m.format for m in oracle.MAGIC_FORMATS} | probes
    assert formats == set(api.SOURCE_CONFIDENCE)
    assert {oracle.extract(r.html).format for r in corpus_rows} <= formats


def test_confidence_reads_exactly_the_escalation_key_columns(spark):
    """The scoring projection resolves over the key's columns alone, and
    fails without any one of them: a new input to ``confidence`` fails
    here instead of silently mis-escalating."""
    errors, _, scored, _ = api._scoring_columns()
    keys = _every_key_row(spark).select(*_KEY_COLS)

    def resolve(df):
        return df.withColumn("errors", errors).select("*", *scored).schema

    resolve(keys)
    for c in _KEY_COLS:
        with pytest.raises(AnalysisException):
            resolve(keys.drop(c))


def test_run_pipeline_is_resumable(spark, corpus_dir, tmp_path):
    """run_pipeline = Warehouse extraction + derived scoring; a second call
    extracts nothing new and the scored view is unchanged."""
    pages = read_pages(spark, corpus_dir + "/pages.parquet").limit(200)
    rec1, scored1 = api.run_pipeline(
        spark, pages, str(tmp_path / "wh"), run_id="r1", run_date="2026-08-17"
    )
    n1 = scored1.count()
    assert rec1["n_docs"] == n1 > 0
    rec2, scored2 = api.run_pipeline(
        spark, pages, str(tmp_path / "wh"), run_id="r2", run_date="2026-08-17"
    )
    assert rec2["n_docs"] == 0  # nothing pending on resume
    assert scored2.count() == n1
    assert "confidence" in scored2.columns and "action" in scored2.columns


def test_process_incremental_reuses_and_reextracts(spark, corpus_dir, tmp_path):
    """The UDF must run ONLY over the delta slice: previous rows are
    poisoned with a marker text, so any unchanged url still showing the
    marker proves reuse (not re-extraction), and any changed/added url
    showing real text proves the delta actually re-extracted."""
    from multi_format_document_extractor_spark.operators.extract import (
        extract_pages,
    )

    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    prev_path = str(tmp_path / "prev_extracted")
    extract_pages(pages).write.parquet(prev_path)
    prev = spark.read.parquet(prev_path).withColumn(
        "text_out", F.lit(b"PREV")
    )

    changed = F.col("url").rlike("0$")
    dropped = F.col("url").rlike("7$")
    base_b = pages.where(~dropped).select(
        "url",
        F.when(changed, F.col("warc_ts") + F.expr("INTERVAL 1 DAYS"))
        .otherwise(F.col("warc_ts"))
        .alias("warc_ts"),
        "html",
        "text",
        "lang",
    )
    added = pages.where(F.col("url").rlike("3$")).select(
        F.concat(F.col("url"), F.lit("-new")).alias("url"),
        "warc_ts",
        "html",
        "text",
        "lang",
    )
    pages_b = base_b.unionByName(added)

    out = api.process_incremental(pages_b, prev)
    assert _plan(out).count("MapInPandas") == 1  # delta slice only

    rows = {r["url"]: r for r in out.collect()}
    assert set(rows) == {
        r["url"] for r in pages_b.select("url").collect()
    }  # dropped urls gone, added urls present, no duplicates
    for u, r in rows.items():
        if u.endswith("-new") or u.endswith("0"):
            assert bytes(r["text_out"]) != b"PREV", u  # re-extracted
        else:
            assert bytes(r["text_out"]) == b"PREV", u  # reused verbatim


def test_per_gateway_memo_rebuilds_only_for_a_new_gateway(monkeypatch):
    """The scoring Column trees are reused while the JVM gateway lives
    (a session restart keeps it) and rebuilt for a new one, whose JVM the
    old py4j handles do not reach."""
    from pyspark import SparkContext

    from multi_format_document_extractor_spark.session import per_gateway

    builds: list[object] = []

    @per_gateway
    def build() -> object:
        builds.append(SparkContext._gateway)
        return len(builds)

    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build() == build() == 1
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build() == build() == 2
    assert builds[0] is not builds[1]
