"""Pages source: the parquet scan of the fixed pages schema.

Reference analog: extension-based ``get_file_type`` (src/config.py:32-67).
Here the format comes from the payload bytes: ``oracle.sniff_format`` is
the one definition of the sniff, and the extraction UDF runs it inside
its Arrow batch, so ``format`` is an output column of ``extract_pages``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle import sniff_format

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def format_col(html: Column) -> Column:
    """``oracle.sniff_format`` as an Arrow UDF column. The engine never
    calls it (the extraction UDF sniffs each payload in its batch); it is
    kept for the benchmark's ``sources.sniff_s`` row, which imports it."""
    return F.udf(sniff_format, "string", useArrow=True)(html)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan a pages table (parquet dir or file) with the fixed input schema
    (never infer — BASELINE.json input_hint is the contract)."""
    return spark.read.schema(PAGES_DDL).parquet(path)
