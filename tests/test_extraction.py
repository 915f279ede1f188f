"""T1: the distributed Spark extraction is byte-identical to the single-node
oracle per url (north rule), and the plan has the right shape."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from multi_format_document_extractor_spark.operators.extract import extract_pages
from multi_format_document_extractor_spark.sources.pages import read_pages


def test_spark_extraction_byte_identical(spark, corpus_dir, corpus_rows):
    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    out = extract_pages(pages)
    got = {r["url"]: r for r in out.collect()}
    assert len(got) == len(corpus_rows)
    for row in corpus_rows:
        g = got[row.url]
        assert g["format"] == row.format, row.url
        assert bytes(g["text_out"]) == row.text_expected, row.url
        assert g["checksum"] == zlib.crc32(row.text_expected)
        if row.format not in ("unknown", "image"):
            assert g["ok"], row.url
        if row.format == "image":
            if row.text_expected:
                # readable PNG/GIF/JPEG rasters decode for real (ok rows;
                # bytes already matched above)
                assert g["ok"], row.url
            else:
                # noise images are error rows: every raster decoder
                # surfaces its own decode error
                assert not g["ok"] and g["error"], row.url


def test_extraction_matches_expected_table_via_join(spark, corpus_dir):
    """Distributed self-check: anti-join style — zero mismatching urls."""
    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    expected = spark.read.parquet(corpus_dir + "/expected.parquet").withColumnRenamed(
        "format", "format_exp"
    )
    out = extract_pages(pages)
    mism = (
        out.join(expected, "url")
        .where(
            (F.col("format") != F.col("format_exp"))
            | (F.col("text_out") != F.col("text_expected"))
        )
        .count()
    )
    assert mism == 0


def test_size_cap_truncates_only_oversized(spark, corpus_dir):
    """max_bytes bounds atomic-row task time: oversized payloads are cut at
    the cap and flagged; everything below the cap stays byte-identical."""
    cap = 100_000
    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    out = extract_pages(pages, max_bytes=cap).cache()
    try:
        n_over = pages.where(F.length("html") > cap).count()
        assert n_over > 0  # the fixture's 2% oversized docs exist
        flagged = out.where(F.col("truncated")).count()
        assert flagged == n_over
        # non-truncated rows keep the byte-identity contract
        expected = spark.read.parquet(corpus_dir + "/expected.parquet")
        mism = (
            out.where(~F.col("truncated"))
            .join(expected, "url")
            .where(F.col("text_out") != F.col("text_expected"))
            .count()
        )
        assert mism == 0
        # truncated rows still extract deterministically (errors are data)
        assert out.where(F.col("truncated") & F.col("text_out").isNull()).count() == 0
    finally:
        out.unpersist()


def test_encoding_fallback_chain_byte_identity(spark):
    """Non-utf8 pages decode via the reference's fallback chain
    (utf-8 → latin-1 → cp1252, strict; latin-1 is total so the chain ends
    there) instead of silently replacing bytes with U+FFFD. The Spark path
    and the oracle agree byte-for-byte, and the pick is recorded in the
    ``encoding`` column."""
    from multi_format_document_extractor_spark import oracle

    filler = "plain filler words about density and layout " * 8
    html_l1 = (
        f"<html><body><p>café au lait résumé {filler}</p></body></html>"
    ).encode("latin-1")
    # 0x80 is € in cp1252 but U+0080 in latin-1; the reference's chain hits
    # latin-1 first, so U+0080 is the contract (cp1252 is unreachable)
    txt_cp = b"price \x80 99\nsecond line caf\xe9\n"
    txt_utf8 = "café utf-8 line\n".encode("utf-8")
    rows = [
        ("enc://html-latin1", html_l1),
        ("enc://text-cp1252ish", txt_cp),
        ("enc://text-utf8", txt_utf8),
    ]
    import datetime

    pages = spark.createDataFrame(
        [
            (u, datetime.datetime(2025, 1, 1), p, None, "en")
            for u, p in rows
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {r["url"]: r for r in extract_pages(pages).collect()}
    for url, payload in rows:
        o = oracle.extract(payload)
        g = got[url]
        assert bytes(g["text_out"]) == o.text, url
        assert g["encoding"] == o.encoding, url
    assert got["enc://html-latin1"]["encoding"] == "latin-1"
    assert got["enc://text-cp1252ish"]["encoding"] == "latin-1"
    assert got["enc://text-utf8"]["encoding"] == "utf-8"
    # recovered text, not mojibake: é survived the latin-1 decode
    assert "café".encode("utf-8") in bytes(got["enc://html-latin1"]["text_out"])
    assert "�".encode("utf-8") not in bytes(
        got["enc://text-cp1252ish"]["text_out"]
    )
