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
import hashlib
import os
import tempfile
import zipfile
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")

# The semantic configs every engine session carries, whoever builds it
# (get_spark here, scripts/run_job.py under spark-submit). Cluster sizing —
# master, executors, memory, shuffle partitions — stays with the launcher.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batches are bounded BOTH ways: 512 records (≈+12% extraction
    # throughput vs 128 — fewer per-batch Python/Arrow round-trips) AND
    # 32 MB, so a run of multi-MB pages can never assemble a multi-GB
    # batch. The byte bound is what makes the higher record cap safe at
    # 100 TB.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
    # Partition dir values (day=yyyy-MM-dd) stay strings on read-back;
    # inference would retype them DATE and break fixed-schema reads.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # Binary-payload scans: smaller splits give the extraction UDF stage
    # its parallelism without a shuffle (split-based balance; see
    # operators/extract.py).
    "spark.sql.files.maxPartitionBytes": "16m",
}


_PYFILES_BUILT: dict[str | None, str] = {}  # out_path → zip built by this process


def _package_sources(pkg_dir: str) -> list[tuple[str, bytes]]:
    """(archive name, bytes) of every ``.py`` file under ``pkg_dir``, sorted
    by archive name; archive names start with the package's name."""
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    sources.append((rel, fh.read()))
    return sorted(sources)


def _pyfiles_zip_path(pkg_name: str, sources: list[tuple[str, bytes]]) -> str:
    """``<tempdir>/<pkg_name>-<digest>-pyfiles.zip``, the digest taken over
    every source's archive name and bytes: drivers whose sources differ
    never write the same file, and drivers whose sources agree share it."""
    h = hashlib.sha256()
    for name, data in sources:
        h.update(b"%d:%s%d:" % (len(name), name.encode(), len(data)))
        h.update(data)
    return os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{h.hexdigest()[:16]}-pyfiles.zip"
    )


def make_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip this package for shipping to executors (spark-submit --py-files).

    Called automatically by get_spark so Python workers can unpickle the
    extraction UDF regardless of the driver's cwd; pass the returned path to
    ``spark-submit --py-files`` for cluster launches (north rule). The
    default path is named by a digest of the sources (see
    ``_pyfiles_zip_path``); every entry carries a fixed timestamp, so the
    zip's bytes depend on the sources alone. The zip is written under a
    temporary name and renamed into place, so no reader sees a partial file.

    Built once per process: callers invoke this per-query (the driver's
    correctness pass runs ~70 queries), and the sources cannot change under
    a running driver.
    """
    built = _PYFILES_BUILT.get(out_path)
    if built is not None and os.path.exists(built):
        return built
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = _package_sources(pkg_dir)
    path = out_path or _pyfiles_zip_path(os.path.basename(pkg_dir), sources)
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, data in sources:
            zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data)
    os.replace(tmp, path)
    _PYFILES_BUILT[out_path] = path
    return path


def get_spark(
    app_name: str = "multi_format_document_extractor_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with ``ENGINE_CONF``, plus the
    master, shuffle partitions, UI and driver memory of a local run;
    ``extra_conf`` overrides any of them.

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

    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(map={**ENGINE_CONF, **(extra_conf or {})})
        .getOrCreate()
    )
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
