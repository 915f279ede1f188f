"""The one expensive Arrow-UDF stage: per-format main-content extraction.

Reference analog: the ``BaseParser.parse()`` dispatch loop
(src/pipeline.py:47-54,96-101), which processes one document per Python
call. Here a single ``mapInPandas`` stage consumes Arrow batches of pages
and runs the same extraction functions as the single-node oracle
(oracle.py) — Spark output is byte-identical to the oracle by construction,
verified per-url by tests/test_extraction.py.

Scale design (north rule):
- **No per-row Python dispatch**: one UDF invocation per Arrow batch; the
  per-document loop lives inside the vectorized batch.
- **One balancing option**, ``salt_partitions``:
  (a) *Split-based balance* (the default, ``salt_partitions=None``): the
  scan's byte-ranged file splits (``spark.sql.files.maxPartitionBytes``)
  already hand every task ~equal input bytes regardless of which host's
  pages land where — zero shuffle. At 100 TB, shuffling raw payloads for
  balance means moving the whole corpus through the network; the scan
  split does it for free. Residual risks: single rows larger than a split
  are atomic (``max_bytes`` caps what one row costs inside the UDF), and
  compute skew — bytes are not cost; the decoders measure a ~52× per-byte
  spread across formats (BENCH.md §"Per-format compute cost"), which
  matters only where a layout packs the costly formats into whole splits.
  (b) **Salted repartition** on ``pmod(xxhash64(url), S)``
  (``salt_partitions=S``) is for input clustered by host or by format: it
  breaks that layout *by construction* before the UDF — AQE only sees
  skew after a stage has straggled, and it cannot split a UDF stage's
  input rows. It costs a full-payload shuffle, so it pays only when the
  layout is adversarially clustered or per-doc cost dwarfs per-byte
  shuffle cost (heavy parsers, ML models). The evidence for keeping the
  split plan as the default is perfbench's ``extract.clustered_*`` rows
  (perfbench/METRICS.md): they time it on the same rows sorted by format,
  and its straggler ratio there stays near 1.1-1.2 on a 4-CPU box. The
  salted bucket bound is tested in
  tests/test_warehouse.py::test_salt_bounds_partition_bytes.
- **Column pruning**: only (url, warc_ts, html, lang) enter the UDF; the
  noisy ``text`` column is never shipped through Arrow.
- **Small Arrow batches** (session.py) bound batch bytes when rows carry
  multi-MB payloads.
- ``text_out`` stays **BINARY** end-to-end — no pandas string coercion can
  perturb bytes (SURVEY.md §7 hard-parts).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..oracle import extract
from ..session import per_gateway
from ..sources.pages import format_col

if TYPE_CHECKING:
    import pandas as pd

EXTRACT_DDL = (
    "url string, warc_ts timestamp, lang string, format string, "
    "text_out binary, n_blocks int, ok boolean, error string, "
    "in_bytes long, checksum long, truncated boolean, encoding string"
)

DEFAULT_SALT_BUCKETS = 4096  # >> max executor count; cheap modulo key


def escalation_key(
    fmt: str,
    ok: bool,
    text: bytes,
    n_blocks: int,
    has_lang: bool,
    has_ts: bool,
    truncated: bool,
) -> tuple:
    """The inputs ``api._scoring_columns`` reads from one extracted row,
    with ``text_out`` reduced to non-emptiness and ``n_blocks`` clamped to
    0 / 1 / ≥2 — all that ``confidence`` can see of it. ``api`` keys its
    escalation table with this same function."""
    return (fmt, ok, len(text) > 0, min(n_blocks, 2), has_lang, has_ts, truncated)


def _make_extract_batches(max_bytes: int | None, escalate: frozenset | None):
    def _extract_batches(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads, truncated = [], []
            for p in pdf["html"]:
                if max_bytes is not None and p is not None and len(p) > max_bytes:
                    payloads.append(bytes(p[:max_bytes]))
                    truncated.append(True)
                else:
                    payloads.append(p)
                    truncated.append(False)
            results = [extract(p) for p in payloads]
            out = pdf[["url", "warc_ts", "lang"]].copy()
            if escalate is not None:
                up = [
                    escalation_key(r.format, r.ok, r.text, r.n_blocks, lg, ts, t)
                    in escalate
                    for r, lg, ts, t in zip(
                        results,
                        out["lang"].notna().tolist(),
                        out["warc_ts"].notna().tolist(),
                        truncated,
                    )
                ]
                results = [
                    extract(p, "relaxed") if u else r
                    for p, r, u in zip(payloads, results, up)
                ]
            out["format"] = [r.format for r in results]
            out["text_out"] = [r.text for r in results]
            out["n_blocks"] = [r.n_blocks for r in results]
            out["ok"] = [r.ok for r in results]
            out["error"] = [r.error for r in results]
            out["in_bytes"] = [
                len(p) if p is not None else 0 for p in pdf["html"]
            ]
            out["checksum"] = [zlib.crc32(r.text) for r in results]
            out["truncated"] = truncated
            out["encoding"] = [r.encoding for r in results]
            if escalate is not None:
                out["mode"] = ["escalated" if u else "rule_based" for u in up]
            yield out

    return _extract_batches


def salt_key(url_col: Column, buckets: int = DEFAULT_SALT_BUCKETS) -> Column:
    """Skew-breaking shuffle key: uniform over url hash, independent of host."""
    return F.pmod(F.xxhash64(url_col), F.lit(buckets))


def extract_pages(
    pages: DataFrame,
    salt_partitions: int | None = None,
    only_formats: list[str] | None = None,
    max_bytes: int | None = None,
    escalate: frozenset | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted table.

    ``only_formats`` pre-filters on the *native* sniff column so the filter
    pushes down ahead of the UDF (reference's early rejection,
    src/pipeline.py:88-90, as predicate pushdown).

    ``max_bytes`` caps per-document payload size INSIDE the UDF: a single
    multi-GB page is atomic to any partitioning scheme (neither scan splits
    nor salting can divide one row), so at 100 TB the cap is what bounds
    worst-case task time. Truncation is recorded as data in the
    ``truncated`` column (and thus in warehouse lineage), never silent;
    default None = byte-identity contract intact.

    ``escalate``: the hybrid pipeline's escalation table
    (``api.escalation_table``). A row whose ``escalation_key`` is in it is
    re-extracted in the same batch with the "relaxed" recovery profile
    (oracle.PROFILES) from the payload already in hand, and the output
    gains a ``mode`` column ('escalated' | 'rule_based'). Default None:
    every row under the "default" profile, the byte-identity contract.
    """
    df = pages.select("url", "warc_ts", "html", "lang")
    if only_formats is not None:
        df = df.where(format_col(F.col("html")).isin(only_formats))
    if salt_partitions:
        df = df.repartition(salt_partitions, salt_key(F.col("url")))
    schema = EXTRACT_DDL if escalate is None else EXTRACT_DDL + ", mode string"
    return df.mapInPandas(_make_extract_batches(max_bytes, escalate), schema=schema)


SPANS_DDL = (
    "url string, block_idx int, src_start int, src_end int, "
    "kept boolean, n_chars int, encoding string"
)


def extract_spans(pages: DataFrame, profile: str = "default") -> DataFrame:
    """Per-block PROVENANCE spans for html pages: one row per scanner
    block with its [src_start, src_end) extent in the decoded document
    and the ``kept`` verdict of the same ``classify_block`` rule
    extraction applies — the span side of the north rule's text/spans
    contract (where in the page each extracted block came from; feeds
    audits, highlighting, and raw-page diffing). Html only by
    definition: span coordinates are DOM extents of the decoded page;
    other formats have no such geometry. Separate opt-in stage so the
    byte-identity extraction path stays untouched; same batch shape,
    zero shuffle, and the native html pre-filter pushes into the scan
    exactly like ``only_formats``. Kept-span counts are pinned
    equal to ``extract_pages``'s ``n_blocks`` per url in
    tests/test_spans.py."""
    from ..oracle import html_block_spans

    df = pages.select("url", "html").where(
        format_col(F.col("html")) == "html"
    )

    def _batches(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cols = [
            "url",
            "block_idx",
            "src_start",
            "src_end",
            "kept",
            "n_chars",
            "encoding",
        ]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                spans, enc = html_block_spans(bytes(payload), profile)
                for i, s, e, kept, n in spans:
                    rows.append(
                        {
                            "url": url,
                            "block_idx": i,
                            "src_start": s,
                            "src_end": e,
                            "kept": kept,
                            "n_chars": n,
                            "encoding": enc,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(_batches, SPANS_DDL)


BOXES_DDL = (
    "url string, page_idx int, x double, y double, col int, "
    "box_order int, text string"
)


def extract_pdf_boxes(pages: DataFrame) -> DataFrame:
    """Layout-box provenance for pdf pages: one row per text op with its
    (page, x, y) geometry, layout column, and reading-order index — the
    pdf counterpart of ``extract_spans`` (extract_pdf is DEFINED as the
    reading-order join of these boxes, oracle.pdf_layout_boxes, so the
    geometry can never drift from the extracted text; the join identity
    is pinned per url in tests/test_spans.py). Native pdf pre-filter
    pushes below the UDF; zero shuffle."""
    from ..oracle import pdf_layout_boxes

    df = pages.select("url", "html").where(
        format_col(F.col("html")) == "pdf"
    )

    def _batches(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cols = ["url", "page_idx", "x", "y", "col", "box_order", "text"]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                for pg, x, y, c, o, t in pdf_layout_boxes(bytes(payload)):
                    rows.append(
                        {
                            "url": url,
                            "page_idx": pg,
                            "x": x,
                            "y": y,
                            "col": c,
                            "box_order": o,
                            "text": t,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(_batches, BOXES_DDL)


_MARKER_WORDS = "_marker_words"


@per_gateway
def _enrich_columns() -> tuple[Column, tuple[Column, ...]]:
    from ..functions import textstats as T

    t = F.col("text_out")
    words = F.col(_MARKER_WORDS)
    return T.marker_words(t).alias(_MARKER_WORDS), (
        T.lang_of_marker_words(words).alias("lang_guess"),
        T.quality_score(t, T.marker_count(words, T.STOPWORDS)).alias("quality"),
        T.token_count_ws(t).alias("n_tokens_ws"),
        T.token_count_bpe(t).alias("n_tokens_bpe"),
        T.fingerprint64(t).alias("content_key"),
    )


def enrich_extracted(extracted: DataFrame) -> DataFrame:
    """Training-pipeline enrichment over ``text_out`` — language guess,
    quality score, token counts, content fingerprint — as PURE NATIVE
    columns on top of the one UDF stage. The whole enrichment folds into
    the same whole-stage-codegen span as the post-UDF projection: zero
    additional Python, zero additional shuffles (asserted in
    tests/test_plans.py). This is the designed layering: pay the Arrow
    boundary once, then stay JVM-side for everything derivable from the
    extracted text.

    The marker words (one regex scan) get their own projection, which the
    language and stopword counts read and which is dropped afterwards:
    their ``filter``s are opaque to subexpression elimination, so inlined
    they would rescan the text once per count. The Column trees are built
    once per JVM gateway (``session.per_gateway``)."""
    words, cols = _enrich_columns()
    return extracted.select("*", words).select("*", *cols).drop(_MARKER_WORDS)

