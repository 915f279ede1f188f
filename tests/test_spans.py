"""Block provenance spans: the span side of the text/spans contract.

Invariants pinned here: span exactness on a crafted page, ordering /
non-overlap / bounds over the whole corpus, and kept-span counts equal
to extraction's n_blocks per url (spans and text can never disagree
about what was kept).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from multi_format_document_extractor_spark import oracle
from multi_format_document_extractor_spark.operators.extract import (
    extract_pages,
    extract_spans,
)
from multi_format_document_extractor_spark.sources.pages import read_pages


def test_spans_exact_on_crafted_page():
    html = (
        b"<html><body><nav>skip this nav</nav>\n"
        b"<p>This is the first real paragraph with enough characters to "
        b"be kept as main content.</p>\n<p>short</p>\n"
        b"<div>Another substantial content block that also has plenty of "
        b"characters to clear the threshold.</div>\n"
        b"<footer>copyright</footer></body></html>"
    )
    spans, enc = oracle.html_block_spans(html)
    assert enc == "utf-8"
    data, _ = oracle.decode_chain(html)
    kept = [sp for sp in spans if sp[3]]
    assert len(kept) == 2
    # each kept span's slice contains exactly that block's text
    for i, s, e, _, n in kept:
        slice_txt = " ".join(data[s:e].split())
        assert len(slice_txt) == n
    assert data[kept[0][1] : kept[0][2]].startswith("This is the first")
    assert data[kept[1][1] : kept[1][2]].startswith("Another substantial")
    # spans are ordered and non-overlapping
    exts = [(s, e) for _, s, e, _, _ in spans if s >= 0]
    assert exts == sorted(exts)
    assert all(a[1] <= b[0] for a, b in zip(exts, exts[1:]))


def test_spans_agree_with_extraction_corpus_wide(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    spans = extract_spans(pages)
    ext = extract_pages(pages).where(F.col("format") == "html").select(
        "url", "n_blocks"
    )
    agg = spans.groupBy("url").agg(
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.min("src_start").alias("min_s"),
        F.max("src_end").alias("max_e"),
        F.count("*").alias("n_spans"),
    )
    j = agg.join(ext, "url").collect()
    assert len(j) > 0
    bad = [r["url"] for r in j if r["n_kept"] != r["n_blocks"]]
    assert not bad, f"kept-span count != n_blocks for {bad[:5]}"
    # per-url span ordering/bounds: validated on a sample natively
    rows = spans.where(F.col("src_start") >= 0).collect()
    by_url: dict = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for url, rs in by_url.items():
        rs.sort(key=lambda r: r["block_idx"])
        exts = [(r["src_start"], r["src_end"]) for r in rs]
        assert all(s <= e for s, e in exts), url
        assert all(a[1] <= b[0] for a, b in zip(exts, exts[1:])), url


def test_pdf_boxes_rebuild_extraction_bytes(spark, corpus_dir):
    """The reading-order join of pdf layout boxes must reproduce
    extract_pdf's output BYTES for every corpus pdf — geometry and text
    are one artifact."""
    from multi_format_document_extractor_spark.operators.extract import (
        extract_pdf_boxes,
    )

    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    boxes = extract_pdf_boxes(pages).collect()
    exp = {
        r["url"]: bytes(r["text_out"])
        for r in extract_pages(pages).where(F.col("format") == "pdf").collect()
        if r["ok"]
    }
    by_url: dict = {}
    for r in boxes:
        by_url.setdefault(r["url"], []).append(r)
    assert set(by_url) == set(exp)
    for url, rs in by_url.items():
        pages_d: dict = {}
        for r in sorted(rs, key=lambda r: (r["page_idx"], r["box_order"])):
            pages_d.setdefault(r["page_idx"], []).append(r["text"])
        rebuilt = "\n\n".join(
            "\n".join(pages_d[p]) for p in sorted(pages_d)
        ).encode("utf-8")
        assert rebuilt == exp[url], url
