"""Pages source: parquet scan + native magic-byte format sniff.

Reference analog: extension-based ``get_file_type`` (src/config.py:32-67).
Here the sniff is a pure Catalyst expression over the first bytes of the
``html BINARY`` column — no UDF, so it folds into whole-stage codegen and
filters on ``format`` push down ahead of the expensive extraction UDF.

The magic part is folded from ``oracle.MAGIC_FORMATS``, the rows
``oracle.sniff_format`` reads; the BOM, markup and CSV probes mirror the
oracle's and must stay in lockstep with it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def format_col(html: Column) -> Column:
    """Magic-byte format classification as a native expression: one
    ``when`` per ``oracle.MAGIC_FORMATS`` row, in table order, then the
    probes.

    latin-1 decode never fails, so the head probe is total. The leading-
    whitespace set is EXACTLY the oracle's ``lstrip(" \\t\\r\\n")``
    (oracle.py sniff_format) — Spark's one-arg ltrim strips only 0x20 and
    would diverge on tab/newline-prefixed HTML (caught by
    tests/test_properties.py). The CSV shape probe mirrors
    ``oracle._csv_sniff`` exactly: first CSV_PROBE_BYTES bytes, '\\n'
    split, trailing-'\\r' strip, line 1 has ≥2 commas, line 2 exists
    non-empty with the same comma count.
    """
    head = F.regexp_replace(
        F.decode(F.substring(html, 1, 16), "ISO-8859-1"), "^[ \t\r\n]+", ""
    )
    # BOM'd payloads (utf-8 / utf-16le / utf-16be) probe their head bytes
    # for markup in that encoding — html if the first non-whitespace char
    # is '<', else text (skipping the byte-oriented CSV probe). The probe
    # is the ORACLE'S OWN byte-level pattern over a latin-1 view (never a
    # strict charset decode, which Spark 4 aborts on malformed bytes):
    # same window sizes (16 bytes after a utf-8 BOM, 32 after a utf-16
    # one), same pattern strings — imported, not copied.
    from ..oracle import MAGIC_FORMATS, U8_HEAD_PAT, U16BE_HEAD_PAT, U16LE_HEAD_PAT

    head_u8bom = F.decode(F.substring(html, 4, 16), "ISO-8859-1")
    head_u16 = F.decode(F.substring(html, 3, 32), "ISO-8859-1")
    bom2 = F.substring(html, 1, 2)
    window = F.decode(F.substring(html, 1, 4096), "ISO-8859-1")
    parts = F.split(window, "\n")
    l1 = F.regexp_replace(F.get(parts, 0), "\r$", "")
    # get(parts, 1) is NULL (never an ANSI error) when there is no second
    # line; every comparison below is then NULL → the `when` does not fire
    # (== oracle returning False)
    l2 = F.regexp_replace(F.get(parts, 1), "\r$", "")
    c1 = F.size(F.split(l1, ",")) - F.lit(1)
    c2 = F.size(F.split(l2, ",")) - F.lit(1)
    is_csv = (c1 >= 2) & (l2 != "") & (c2 == c1)
    verdict = F.when(html.isNull() | (F.length(html) == 0), F.lit("unknown"))
    for m in MAGIC_FORMATS:  # format rows carry no guard: prefix only
        verdict = verdict.when(
            F.substring(html, 1, len(m.prefix)) == F.lit(m.prefix), F.lit(m.format)
        )
    return (
        verdict.when(
            F.substring(html, 1, 3) == F.lit(b"\xef\xbb\xbf"),
            F.when(head_u8bom.rlike(U8_HEAD_PAT), F.lit("html")).otherwise(
                F.lit("text")
            ),
        )
        .when(
            bom2 == F.lit(b"\xff\xfe"),
            F.when(head_u16.rlike(U16LE_HEAD_PAT), F.lit("html")).otherwise(
                F.lit("text")
            ),
        )
        .when(
            bom2 == F.lit(b"\xfe\xff"),
            F.when(head_u16.rlike(U16BE_HEAD_PAT), F.lit("html")).otherwise(
                F.lit("text")
            ),
        )
        .when(head.startswith("<"), F.lit("html"))
        .when(is_csv, F.lit("csv"))
        .otherwise(F.lit("text"))
    )


def with_format(df: DataFrame) -> DataFrame:
    return df.withColumn("format", format_col(F.col("html")))


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan a pages table (parquet dir or file) with the fixed input schema
    (never infer — BASELINE.json input_hint is the contract)."""
    return spark.read.schema(PAGES_DDL).parquet(path)
