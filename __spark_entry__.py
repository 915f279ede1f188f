"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (see multi_format_document_extractor_spark/plans/queries.py).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from multi_format_document_extractor_spark.plans.queries import (  # noqa: E402
    ORACLES,
    QUERIES,
)


def _prepare(spark: SparkSession) -> None:
    """Session prep: UTC (oracle parity), package shipped to executors,
    small Arrow batches for binary-heavy rows."""
    from multi_format_document_extractor_spark.session import make_pyfiles_zip

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.sparkContext.addPyFile(make_pyfiles_zip())
    except Exception:
        pass  # already added in this context


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents(sf0.001) as payloads → full extraction pipeline
    (sniff → mapInPandas extract → confidence-style stats)."""
    _prepare(spark)
    from multi_format_document_extractor_spark.operators.extract import (
        extract_pages,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2026-07-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    out = extract_pages(pages)
    return out.select(
        "url",
        "format",
        "n_blocks",
        "ok",
        "checksum",
        F.length("text_out").alias("out_bytes"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
