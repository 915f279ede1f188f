"""SparkSession factory tuned for the extraction workload.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing + skew-join splitting for straggler pages.
- Record- AND byte-bounded Arrow batches: pages carry multi-MB ``html
  BINARY`` payloads; the byte bound keeps worst-case batch memory fixed
  while the record cap keeps per-batch overhead amortized.
- UTC session TZ so timestamp semantics match the DuckDB oracle.
- shuffle.partitions sized to cores locally; on a real cluster this is set
  per-job (or left to AQE's coalescing from a higher initial number).
"""

from __future__ import annotations

import functools
import os
import tempfile
import zipfile
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")

# Arrow batches are bounded BOTH ways: 512 records (≈+12% extraction
# throughput vs 128 — fewer per-batch Python/Arrow round-trips) AND 32 MB
# (spark.sql.execution.arrow.maxBytesPerBatch), so a run of multi-MB pages
# can never assemble a multi-GB batch. The byte bound is what makes the
# higher record cap safe at 100 TB.
ARROW_MAX_RECORDS_PER_BATCH = 512
ARROW_MAX_BYTES_PER_BATCH = 32 * 1024 * 1024


_PYFILES_BUILT: set[str] = set()  # zips already built by this process


def make_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip this package for shipping to executors (spark-submit --py-files).

    Called automatically by get_spark so Python workers can unpickle the
    extraction UDF regardless of the driver's cwd; pass the returned path to
    ``spark-submit --py-files`` for cluster launches (north rule).

    Built once per process: callers invoke this per-query (the driver's
    correctness pass runs ~70 queries), and the sources cannot change under
    a running driver.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    if out_path is None:
        out_path = os.path.join(tempfile.gettempdir(), f"{pkg_name}-pyfiles.zip")
    if out_path in _PYFILES_BUILT and os.path.exists(out_path):
        return out_path
    with zipfile.ZipFile(out_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    _PYFILES_BUILT.add(out_path)
    return out_path


def get_spark(
    app_name: str = "multi_format_document_extractor_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores`` may be an int (local[N]) or "*" — on a real cluster pass
    ``None`` and launch via spark-submit with master/executors configured
    externally; every config here is master-agnostic.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Partition dir values (day=yyyy-MM-dd) stay strings on read-back;
        # inference would retype them DATE and break fixed-schema reads.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Binary-payload scans: smaller splits give the extraction UDF stage
        # its parallelism without a shuffle (split-based balance; see
        # operators/extract.py).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to Python workers so UDFs unpickle anywhere —
    # the local-mode equivalent of spark-submit --py-files.
    spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark


def per_gateway(build: Callable[[], T]) -> Callable[[], T]:
    """Memoize a zero-argument Column builder per live JVM gateway.

    Every ``F.*`` call is a py4j round trip, so rebuilding a large Column
    tree per query costs driver time on every call. Columns are unresolved
    expressions that any session on the same JVM can reuse (a session
    restart keeps the gateway); a new gateway means a new JVM, whose
    objects the old py4j handles do not reach, so it rebuilds.
    """
    # [gateway, value]; two threads racing on a miss both build, and
    # either result is equivalent, so no lock.
    cache: list = [None, None]

    @functools.wraps(build)
    def get() -> T:
        gw = SparkContext._gateway
        if cache[1] is None or cache[0] is not gw:
            cache[:] = [gw, build()]
        return cache[1]

    return get
