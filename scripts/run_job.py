#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north rule).

Cluster launch:

    python -c "from multi_format_document_extractor_spark.session import \\
               make_pyfiles_zip; print(make_pyfiles_zip())"   # build zip
    # prints /tmp/multi_format_document_extractor_spark-<digest>-pyfiles.zip,
    # <digest> a hash of the package sources
    spark-submit --py-files /tmp/multi_format_document_extractor_spark-<digest>-pyfiles.zip \\
        scripts/run_job.py --input s3://crawl/pages --warehouse s3://out/wh \\
        [--run-id RID] [--no-seal-days]

Local smoke (what the sandbox CI runs):

    spark-submit --master 'local[8]' --py-files <zip> scripts/run_job.py \\
        --input /tmp/corpus/pages.parquet --warehouse /tmp/wh

The job is a thin composition of library pieces — read pages, resume-filter
against the warehouse, extract, append + lineage + snapshot commit — so a
killed run restarts idempotently (see sinks.Warehouse). All cluster sizing
(master, executor count/memory) comes from spark-submit; the session here
only sets the engine's semantic configs, ``session.ENGINE_CONF`` (AQE, UTC,
Arrow batch bounds, split sizes) — the same ones ``get_spark`` sets.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--input", required=True,
        help="pages table path (parquet) or WARC shard dir (--input-format warc)",
    )
    ap.add_argument(
        "--input-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="parquet = columnar pages table (default); warc = a directory "
        "of .warc/.warc.gz shards (Common Crawl's container) ingested via "
        "sources/warc.read_warc — the once-per-crawl landing job",
    )
    ap.add_argument("--warehouse", required=True, help="warehouse root dir")
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--no-seal-days",
        action="store_true",
        help="input is a partial slice of some day; disable day sealing",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help="after the run commits, rewrite all visible runs into one "
        "compacted snapshot (small-file maintenance; crash-safe)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from multi_format_document_extractor_spark.session import (
        ENGINE_CONF,
        make_pyfiles_zip,
    )
    from multi_format_document_extractor_spark.sinks import Warehouse
    from multi_format_document_extractor_spark.sources.pages import read_pages

    # getOrCreate may return a session someone else owns (a test harness,
    # a notebook embedding this entry): only stop what this job created.
    # getActiveSession is thread-local, so ALSO probe the process-global
    # context — getOrCreate falls back to it from any thread.
    from pyspark import SparkContext

    pre_existing = (
        SparkSession.getActiveSession() is not None
        or SparkContext._active_spark_context is not None
    )
    spark = (
        SparkSession.builder.appName("mfde-extract")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )
    try:
        # Belt-and-braces when launched without --py-files (local smoke).
        spark.sparkContext.addPyFile(make_pyfiles_zip())
    except Exception:
        pass

    if args.input_format == "warc":
        from multi_format_document_extractor_spark.sources.warc import (
            read_warc,
        )

        pages = read_warc(spark, args.input)
    else:
        pages = read_pages(spark, args.input)
    wh = Warehouse(args.warehouse)
    record = wh.run(
        spark, pages, run_id=args.run_id, seal_days=not args.no_seal_days
    )
    print(json.dumps(record))
    if args.compact:
        crec = wh.compact(spark)
        if crec is not None:
            print(json.dumps(crec))
    if not pre_existing:
        spark.stop()


if __name__ == "__main__":
    main()
