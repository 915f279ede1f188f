"""The one expensive Arrow-UDF stage: per-format main-content extraction.

Reference analog: the ``BaseParser.parse()`` dispatch loop
(src/pipeline.py:47-54,96-101), which processes one document per Python
call. Here that call is the per-row function of ``map_rows``, the
package's one per-row Python stage: a single ``mapInPandas`` that consumes
Arrow batches of pages and runs the same extraction functions as the
single-node oracle (oracle.py) — Spark output is byte-identical to the
oracle by construction, verified per-url by tests/test_extraction.py.
Every other per-row Python stage (WARC shard expansion, the provenance
stages below, the multimodal walks, the registry's payload generators) is
a ``map_rows`` call too (tests/test_plans.py).

Scale design (north rule):
- **No per-row Python dispatch**: one UDF invocation per Arrow batch; the
  per-document loop lives inside the vectorized batch (``map_rows``).
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

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..oracle import extract, sniff_format
from ..session import per_gateway

if TYPE_CHECKING:
    import pandas as pd

EXTRACT_DDL = (
    "url string, warc_ts timestamp, lang string, format string, "
    "text_out binary, n_blocks int, ok boolean, error string, "
    "in_bytes long, checksum long, truncated boolean, encoding string"
)

SALT_BUCKETS = 4096  # >> max executor count; cheap modulo key


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


def _extract_row(max_bytes: int | None, escalate: frozenset | None):
    """The per-row function of ``extract_pages``'s stage: (url, warc_ts,
    html, lang) → one ``EXTRACT_DDL`` tuple, plus ``mode`` when
    ``escalate`` is set."""
    import pandas as pd

    def rows_of(url, warc_ts, html, lang):
        in_bytes = len(html) if html is not None else 0
        truncated = max_bytes is not None and in_bytes > max_bytes
        payload = html[:max_bytes] if truncated else html
        r = extract(payload)
        mode = ()
        if escalate is not None:
            has_lang, has_ts = pd.notna(lang), pd.notna(warc_ts)
            key = escalation_key(
                r.format, r.ok, r.text, r.n_blocks, has_lang, has_ts, truncated
            )
            up = key in escalate
            if up:
                r = extract(payload, "relaxed")
            mode = ("escalated" if up else "rule_based",)
        out = (url, warc_ts, lang, r.format, r.text, r.n_blocks, r.ok, r.error)
        return [(*out, in_bytes, r.checksum, truncated, r.encoding, *mode)]

    return rows_of


def salt_key(url_col: Column) -> Column:
    """Skew-breaking shuffle key: uniform over url hash, independent of host."""
    return F.pmod(F.xxhash64(url_col), F.lit(SALT_BUCKETS))


def extract_pages(
    pages: DataFrame,
    salt_partitions: int | None = None,
    max_bytes: int | None = None,
    escalate: frozenset | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted table.

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
    cols = ["url", "warc_ts", "html", "lang"]
    df = pages.select(*cols)
    if salt_partitions:
        df = df.repartition(salt_partitions, salt_key(F.col("url")))
    ddl = EXTRACT_DDL if escalate is None else EXTRACT_DDL + ", mode string"
    return map_rows(df, cols, _extract_row(max_bytes, escalate), ddl)


def map_rows(df: DataFrame, cols: list[str], rows_of, ddl: str) -> DataFrame:
    """The one per-row Python stage: a zero-shuffle ``mapInPandas`` over
    ``df``'s ``cols`` that calls ``rows_of(*row)`` once per input row and
    emits the zero or more tuples it returns, in ``ddl`` column order.
    ``rows_of`` sees Python scalars (``Series.tolist()``), never numpy
    ones: ``random.Random(numpy.int64(5))`` raises, for one."""
    schema = StructType.fromDDL(ddl)  # parsed once, here, not again by Spark
    names = schema.fieldNames()

    def _batches(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = [
                out
                for row in zip(*(pdf[c].tolist() for c in cols))
                for out in rows_of(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(_batches, schema)


SPANS_DDL = (
    "url string, block_idx int, src_start int, src_end int, "
    "kept boolean, n_chars int, encoding string"
)


def extract_spans(pages: DataFrame) -> DataFrame:
    """Per-block PROVENANCE spans for html pages: one row per scanner
    block with its [src_start, src_end) extent in the decoded document
    and the ``kept`` verdict of the same ``classify_block`` rule
    extraction applies — the span side of the north rule's text/spans
    contract (where in the page each extracted block came from; feeds
    audits, highlighting, and raw-page diffing). Html only by
    definition: span coordinates are DOM extents of the decoded page;
    other formats have no such geometry. Separate opt-in stage so the
    byte-identity extraction path stays untouched; same batch shape,
    zero shuffle, and non-html pages are skipped inside the batch by
    ``sniff_format``. Kept-span counts are pinned
    equal to ``extract_pages``'s ``n_blocks`` per url in
    tests/test_spans.py."""
    from ..oracle import html_block_spans

    def rows_of(url, payload):
        if sniff_format(payload) != "html":
            return []
        spans, enc = html_block_spans(payload)
        return [(url, *span, enc) for span in spans]

    return map_rows(pages, ["url", "html"], rows_of, SPANS_DDL)


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
    is pinned per url in tests/test_spans.py). Non-pdf pages are skipped
    inside the batch by ``sniff_format``; zero shuffle."""
    from ..oracle import pdf_layout_boxes

    def rows_of(url, payload):
        if sniff_format(payload) != "pdf":
            return []
        return [(url, *box) for box in pdf_layout_boxes(payload)]

    return map_rows(pages, ["url", "html"], rows_of, BOXES_DDL)


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

