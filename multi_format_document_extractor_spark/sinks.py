"""Warehouse sink: partitioned append + per-partition lineage + idempotent
resume.

Reference analog: the one-JSON-file-per-document sink (src/pipeline.py:230-243,
src/hybrid_pipeline.py:668-693) plus its embedded metrics sidecar
(src/hybrid_pipeline.py:679-688). The reference has no resume at all — rerunning
``main.py`` reprocesses every document (main.py:70-72); the north rule demands
idempotent restart, which is genuinely new here (SURVEY.md §2.3 J4, §2.9).

Design — an Iceberg-snapshot protocol over plain parquet (the sandbox has no
iceberg-spark-runtime jar; on a real cluster swap ``Warehouse`` for
``df.writeTo("cat.db.extracted").append()`` with hidden partitioning
``days(warc_ts)``, write order ``format``, and this module's semantics map
1:1):

    <root>/runs/run_id=<id>/day=<yyyy-MM-dd>/*.parquet   data, sorted by format
    <root>/lineage/run_id=<id>/lineage.parquet           metrics
    <root>/commits/<seq>-<id>.json                       snapshot

Each task writes one file per day it holds, its rows sorted (day, format):
``format`` is an in-file column stored in runs, so parquet RLE-encodes it
and a ``format = 'pdf'`` filter is pushed to the scan and skips row groups
by their min/max stats. A ``format=`` directory level would instead split
every task's output into one small file per (day, format).

A run is VISIBLE iff its commit marker exists; the marker is written last via
atomic rename, so a killed run leaves invisible orphan files and the next run
reprocesses its rows (exactly-once append, Iceberg's snapshot commit in
miniature). Lineage is computed by reading BACK the durably written files —
doc/byte counts and checksums describe what is actually on disk, not what the
job intended to write. That read-back is one Spark job whose days × formats
result rows the driver writes with pyarrow (hidden temp name, then rename).

Scale notes (10^12 docs, 1000 executors):
- The resume anti-join's build side (committed urls) is far too big to
  broadcast at full scale. ``pending()`` therefore prunes complete days first:
  each commit records the set of ``warc_ts`` days it fully drained, so only
  frontier-day urls enter the shuffled anti-join — the parquet analog of
  pruning by Iceberg snapshot high-watermark (SURVEY.md §4.4). Day pruning is
  a partition-pruning filter Catalyst pushes into the scan.
- Downstream readers prune on the two predicates every report uses
  (S9/A11): ``day`` by directory, ``format`` by row-group statistics of the
  sorted in-file column. The file count grows with tasks × days, not
  tasks × days × formats.
- Single writer assumed (the driver's restart semantics); concurrent commits
  would need Iceberg's optimistic snapshot CAS, not this module.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from .operators.extract import EXTRACT_DDL, extract_pages

RESULT_DDL = EXTRACT_DDL + ", day string"

LINEAGE_DDL = (
    "run_id string, day string, format string, doc_count long, "
    "byte_count long, checksum long, committed_at double"
)

# read_extracted's column order: run_id, day and format come last, so
# scored outputs and registry hashes do not depend on which of them the
# layout keeps in the files and which in directory names.
_READ_COLUMNS = (
    "url", "warc_ts", "lang", "text_out", "n_blocks", "ok", "error",
    "in_bytes", "checksum", "truncated", "encoding", "run_id", "day",
    "format",
)


def _day(col):
    return F.date_format(col, "yyyy-MM-dd")


def _day_sorted(df: DataFrame) -> DataFrame:
    """The write layout: each task's rows sorted (day, format). The
    ``partitionBy("day")`` writer needs its input ordered by day, which
    this sort already gives, so it adds no sort of its own and writes one
    file per day per task with ``format`` in runs."""
    return df.sortWithinPartitions("day", "format")


class Warehouse:
    """Parquet warehouse with snapshot-commit visibility and resume."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.runs_dir = os.path.join(root, "runs")
        self.lineage_dir = os.path.join(root, "lineage")
        self.commits_dir = os.path.join(root, "commits")
        os.makedirs(self.commits_dir, exist_ok=True)

    # -- snapshot state ----------------------------------------------------

    def _read_checkpoint(self) -> dict | None:
        """The retention checkpoint written by ``expire`` (None if the
        warehouse has never expired anything): a single synthetic commit
        summarizing the whole expired log prefix — visible data runs at
        the horizon, accumulated sealed days — swapped in atomically via
        ``expired.json`` rename."""
        try:
            with open(os.path.join(self.root, "expired.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _markers(self) -> list[tuple[int, str]]:
        """(seq, file name) of every commit marker, in seq order — by the
        parsed integer, since ``:06d`` names stop sorting past 999,999."""
        out: list[tuple[int, str]] = []
        for name in os.listdir(self.commits_dir):
            if not name.endswith(".json"):
                continue
            try:
                out.append((int(name.split("-", 1)[0]), name))
            except ValueError:
                continue
        return sorted(out)

    def commits(self) -> list[dict]:
        """Committed snapshots in commit order (data runs and
        compactions, behind the retention checkpoint if there is one).
        The checkpoint REPLACES every marker at or before its seq —
        visibility resolves from the checkpoint alone, so ``expire``'s
        marker/file garbage collection can lag (or crash and re-run)
        without readers ever seeing a half-expired log."""
        ckpt = self._read_checkpoint()
        out: list[dict] = [ckpt] if ckpt else []
        for _, name in self._markers():
            with open(os.path.join(self.commits_dir, name)) as f:
                rec = json.load(f)
            if ckpt is not None and rec["seq"] <= ckpt["seq"]:
                continue  # superseded by the checkpoint; GC may lag
            out.append(rec)
        return out

    @staticmethod
    def _next_seq(commits: list[dict]) -> int:
        # last seq + 1, not len(commits): after ``expire`` the list starts
        # with one checkpoint standing for the whole expired prefix
        return commits[-1]["seq"] + 1 if commits else 0

    @staticmethod
    def _data_run_ids(commits: list[dict]) -> list[str]:
        # runs replaced by a later compaction commit are superseded —
        # readers must skip them; a retention checkpoint contributes the
        # runs visible at its horizon (later compactions can still
        # replace them)
        replaced: set[str] = set()
        for c in commits:
            replaced.update(c.get("replaces", []))
        out: list[str] = []
        for c in commits:
            if c.get("kind") == "checkpoint":
                out.extend(
                    r for r in c.get("base_runs", []) if r not in replaced
                )
            elif c["run_id"] not in replaced:
                out.append(c["run_id"])
        return out

    def committed_run_ids(self) -> list[str]:
        return self._data_run_ids(self.commits())

    @staticmethod
    def _complete_days(commits: list[dict]) -> set[str]:
        days: set[str] = set()
        for c in commits:
            days.update(c.get("complete_days", []))
        return days

    def complete_days(self) -> set[str]:
        """Days fully drained by some committed run (the high-watermark set).

        Valid under append-by-crawl-day arrival (Common-Crawl semantics): a
        day's rows only grow while it is the frontier; a committed run that
        processed ALL pending rows of a day seals it. A run that does not
        seal (``run(seal_days=False)`` over a partial slice) adds no day.
        """
        return self._complete_days(self.commits())

    # -- readers -----------------------------------------------------------

    def read_extracted(
        self, spark: SparkSession, _commits: list[dict] | None = None
    ) -> DataFrame:
        """Union of all committed runs (invisible orphans excluded)."""
        ids = self._data_run_ids(
            self.commits() if _commits is None else _commits
        )
        if not ids:
            empty = spark.createDataFrame([], RESULT_DDL + ", run_id string")
            return empty.select(*_READ_COLUMNS)
        paths = [os.path.join(self.runs_dir, f"run_id={i}") for i in ids]
        return (
            spark.read.option("basePath", self.runs_dir)
            .schema(RESULT_DDL + ", run_id string")
            .parquet(*paths)
            .select(*_READ_COLUMNS)
        )

    def read_at(self, spark: SparkSession, seq: int) -> DataFrame:
        """Snapshot time travel (Iceberg ``VERSION AS OF`` in miniature):
        the table exactly as a reader saw it right after commit ``seq``.
        Visibility resolves from the commit-log PREFIX alone — a later
        compaction's ``replaces`` list cannot retroactively rewrite
        history, and replaced run files stay on disk until ``expire``
        deletes them — so audits, reproductions, and incremental consumers
        re-read any historical snapshot inside the retention horizon
        deterministically. Raises on an unknown ``seq``: silently reading
        the nearest prefix would mask a caller bug. A seq behind the
        retention horizon (``expire``) raises an EXPIRED error naming the
        horizon — distinguishable from a seq that never existed."""
        all_commits = self.commits()
        commits = [c for c in all_commits if c["seq"] <= seq]
        if not commits or commits[-1]["seq"] != seq:
            first = all_commits[0] if all_commits else None
            if (
                first is not None
                and first.get("kind") == "checkpoint"
                and seq < first["seq"]
            ):
                raise ValueError(
                    f"snapshot seq {seq} has been EXPIRED: retention "
                    f"horizon is seq {first['seq']} "
                    f"(Warehouse.expire removed older snapshots)"
                )
            known = [c["seq"] for c in all_commits]
            raise ValueError(f"unknown snapshot seq {seq}; have {known}")
        return self.read_extracted(spark, _commits=commits)

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        ids = self.committed_run_ids()
        if not ids:
            return spark.createDataFrame([], LINEAGE_DDL)
        paths = [os.path.join(self.lineage_dir, f"run_id={i}") for i in ids]
        return spark.read.schema(LINEAGE_DDL).parquet(*paths)

    # -- resume ------------------------------------------------------------

    def pending(self, pages: DataFrame) -> DataFrame:
        """Input rows not yet in any committed run, as a whole-table
        restart sees them: sealed days drop with a pushdown-able filter
        before the url anti-join, so the join's build side is only the
        frontier (SURVEY.md §4.4). The anti-join itself is the
        always-correct path — ``run(seal_days=False)`` prunes no day and
        keeps it alone, so LATE rows for days already sealed still land.
        """
        commits = self.commits()
        return self._pending(pages, commits, self._complete_days(commits))

    def _pending(
        self, pages: DataFrame, commits: list[dict], prune: set[str]
    ) -> DataFrame:
        """``pending`` over pre-listed snapshot state (one job reads the
        commit markers once), skipping the ``prune`` days."""
        if not commits:
            return pages
        sealed = sorted(d for d in prune if d is not None)
        if sealed:
            pages = pages.where(
                F.col("warc_ts").isNull()
                | ~_day(F.col("warc_ts")).isin(sealed)
            )
        committed = self.read_extracted(
            pages.sparkSession, _commits=commits
        ).select("url")
        return pages.join(committed, "url", "left_anti")

    # -- commit protocol (shared by run / compact) ---------------------------

    def _append(
        self, spark: SparkSession, df: DataFrame, run_id: str
    ) -> list[dict]:
        """The one write path of ``run`` and ``compact``: ``df`` (laid out
        by ``_day_sorted``) goes to the run's day directories, then its
        lineage is derived from the files."""
        data_path = os.path.join(self.runs_dir, f"run_id={run_id}")
        df.write.partitionBy("day").mode("errorifexists").parquet(data_path)
        return self._write_lineage(spark, run_id)

    def _write_lineage(self, spark: SparkSession, run_id: str) -> list[dict]:
        """Read BACK the durably written run files and derive + persist the
        per-(day, format) lineage rows — counts and checksums describe what
        is actually on disk, not what the job intended to write. ONE
        derivation shared by ``run`` and ``compact``: the compaction
        invariant (compacted lineage checksums EQUAL summed pre-compaction
        checksums) holds only while both paths use identical arithmetic.
        Explicit schema: a zero-pending run writes no files and inference
        would fail on the empty directory.

        One Spark job aggregates and collects the days × formats rows; the
        driver sorts them by (day, format), nulls first, and writes them
        with pyarrow under a hidden name (Spark lists no file starting with
        ``.``) before renaming it into place. The lineage directory must
        not exist yet."""
        data_path = os.path.join(self.runs_dir, f"run_id={run_id}")
        written = (
            spark.read.option("basePath", data_path)
            .schema(RESULT_DDL)
            .parquet(data_path)
        )
        groups = (
            written.groupBy("day", "format")
            .agg(
                F.count("*").alias("doc_count"),
                F.sum("in_bytes").alias("byte_count"),
                # Σ crc32 mod 2^32: per-row values are ≤ 2^32, so a plain
                # BIGINT sum wraps silently near ~2^31 rows per group (real
                # at 10^12-doc scale). Decimal accumulation is exact to
                # 10^38, then reduced mod 2^32 — order-insensitive,
                # duplicate-sensitive, bounded.
                F.pmod(
                    F.sum(F.col("checksum").cast("decimal(28,0)")),
                    F.lit(4294967296),
                )
                .cast("long")
                .alias("checksum"),
            )
            .collect()
        )
        committed_at = time.time()
        rows = [
            {"run_id": run_id, **g.asDict(), "committed_at": committed_at}
            for g in sorted(
                groups,
                key=lambda g: (
                    g["day"] is not None,
                    g["day"] or "",
                    g["format"] is not None,
                    g["format"] or "",
                ),
            )
        ]
        table = pa.Table.from_pylist(
            rows, schema=to_arrow_schema(DataType.fromDDL(LINEAGE_DDL))
        )
        lineage_path = os.path.join(self.lineage_dir, f"run_id={run_id}")
        os.makedirs(lineage_path)
        tmp = os.path.join(lineage_path, ".lineage.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(lineage_path, "lineage.parquet"))
        return rows

    def _commit_marker(self, record: dict) -> dict:
        """Write the snapshot marker LAST via atomic rename — the run
        becomes visible exactly here (a crash before this leaves invisible
        orphan files, never a partial snapshot)."""
        marker = os.path.join(
            self.commits_dir, f"{record['seq']:06d}-{record['run_id']}.json"
        )
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.rename(tmp, marker)
        return record

    # -- compaction ----------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        run_id: str | None = None,
        fail_before_commit: bool = False,
    ) -> dict | None:
        """Small-file compaction (Iceberg ``rewrite_data_files`` in
        miniature): rewrite every visible data run into ONE compacted run —
        repartitioned on day and sorted by format, so each day collapses to
        one file — and commit a ``kind='compact'``
        snapshot whose ``replaces`` list supersedes the rewritten runs.
        Readers resolve visibility from the commit log alone, so the swap
        is atomic at the marker rename, exactly like an append; a crash
        before the marker leaves the compacted files as invisible orphans
        and every old run still visible (no data-loss window).

        Operationally necessary at 10¹² docs: every restart or partial
        slice adds a run directory, and the resume union's file listing
        (plus downstream scan planning) degrades linearly with run count;
        compaction restores O(days) files. Content-preserving by
        construction — the rewrite is a pure re-layout, and the lineage
        read-back re-derives per-(day, format) doc/byte/checksum rows that
        must EQUAL the pre-compaction aggregates (Σ crc32 mod 2³² is
        order-insensitive and duplicate-sensitive — the test invariant).
        Sealed-day state carries through untouched. Returns the commit
        record, or None when ≤1 data run is visible (nothing to compact).
        Single writer assumed, like ``run``."""
        commits = self.commits()
        ids = self._data_run_ids(commits)
        if len(ids) <= 1:
            return None
        run_id = run_id or f"compact_{uuid.uuid4().hex[:12]}"
        df = self.read_extracted(spark, _commits=commits).drop("run_id")
        lrows = self._append(spark, _day_sorted(df.repartition("day")), run_id)
        record = {
            "run_id": run_id,
            "kind": "compact",
            "replaces": ids,
            "seq": self._next_seq(commits),
            "n_docs": int(sum(r["doc_count"] for r in lrows)),
            "n_bytes": int(sum(r["byte_count"] for r in lrows)),
            # re-layout only: sealed days carry through unchanged
            "complete_days": sorted(self._complete_days(commits)),
            "committed_at": time.time(),
        }
        if fail_before_commit:
            return record
        return self._commit_marker(record)

    # -- retention -----------------------------------------------------------

    def expire(
        self, keep_last: int = 8, fail_before_gc: bool = False
    ) -> dict | None:
        """Snapshot retention (Iceberg ``expire_snapshots`` analog,
        round-3 VERDICT "Next round" #5): keep the last ``keep_last``
        snapshots readable and expire everything older. Without this the
        commit log and compaction-superseded run files grow without
        bound — every restart adds a run, every compaction strands its
        inputs on disk forever.

        Mechanics, crash-safe in two phases:
        1. ATOMIC WATERMARK SWAP — write a single ``checkpoint`` record
           to ``<root>/expired.json`` (tmp + rename) summarizing the
           expired log prefix: the data runs visible at the horizon
           (``base_runs`` — still needed by every retained snapshot),
           the accumulated sealed days, and the ``expired_runs`` whose
           files no retained snapshot can see (runs superseded by a
           compaction WITHIN the expired prefix). From this instant
           ``commits()`` resolves visibility from the checkpoint; the
           physical cleanup below is pure garbage collection.
        2. GC — delete the superseded commit markers and the
           ``expired_runs`` data/lineage directories. Idempotent: a
           crash here leaves only unreachable files, and a re-run (or
           the next expire) collects them. ``fail_before_gc`` injects
           that crash for the tests.

        Guarantees: ``read_at`` for every RETAINED seq is byte-identical
        to before; an expired seq raises the EXPIRED error; resume
        (``pending``) and sealed-day pruning are unaffected (the
        checkpoint carries the day sets forward). Returns the checkpoint
        record, or None when nothing is old enough to expire."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        commits = self.commits()
        if len(commits) <= keep_last:
            return None
        prefix = commits[:-keep_last]
        horizon = prefix[-1]["seq"]
        base_runs = self._data_run_ids(prefix)
        prefix_runs: set[str] = set()
        for c in prefix:
            if c.get("kind") == "checkpoint":
                prefix_runs.update(c.get("base_runs", []))
            else:
                prefix_runs.add(c["run_id"])
        record = {
            "run_id": f"ckpt_{uuid.uuid4().hex[:12]}",
            "kind": "checkpoint",
            "seq": horizon,
            "base_runs": base_runs,
            "expired_runs": sorted(prefix_runs - set(base_runs)),
            "complete_days": sorted(self._complete_days(prefix)),
            "committed_at": time.time(),
        }
        path = os.path.join(self.root, "expired.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.rename(tmp, path)  # <- the expire happens exactly here
        if fail_before_gc:
            return record
        self._gc_expired(record)
        return record

    def _gc_expired(self, ckpt: dict) -> None:
        """Physical cleanup behind the checkpoint watermark — safe to
        re-run any time (e.g. after a crash between swap and GC)."""
        import shutil

        for seq, name in self._markers():
            if seq <= ckpt["seq"]:
                os.remove(os.path.join(self.commits_dir, name))
        for rid in ckpt.get("expired_runs", []):
            shutil.rmtree(
                os.path.join(self.runs_dir, f"run_id={rid}"),
                ignore_errors=True,
            )
            shutil.rmtree(
                os.path.join(self.lineage_dir, f"run_id={rid}"),
                ignore_errors=True,
            )

    # -- the job -----------------------------------------------------------

    @staticmethod
    def _to_write(todo: DataFrame) -> DataFrame:
        """The frame ``run`` hands to the writer: the pending rows
        extracted, with their ``day``, in the ``_day_sorted`` layout."""
        extracted = extract_pages(todo)
        return _day_sorted(extracted.withColumn("day", _day(F.col("warc_ts"))))

    def run(
        self,
        spark: SparkSession,
        pages: DataFrame,
        run_id: str | None = None,
        fail_before_commit: bool = False,
        seal_days: bool = True,
    ) -> dict:
        """One resumable extraction job: pending → extract → append → commit.

        ``seal_days``: after commit, mark every day this run wrote as fully
        drained, enabling day-pruned resume. Only valid when ``pages`` holds
        ALL rows of each day it contains (the normal restart pattern — the
        job re-reads the whole input table). Pass False when feeding a
        partial slice of a day (e.g. a late drop or sampled sub-corpus);
        the anti-join then remains the sole — always correct — dedup
        mechanism. Pruning follows sealing: a run that seals skips every
        sealed day before the anti-join; one that does not skips none, so
        its LATE rows for a sealed day still land.

        ``fail_before_commit`` aborts after the data write but before the
        snapshot marker — the crash injection used by the resume tests (T3).
        Returns the commit record (or the would-be record on injected crash).
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        commits = self.commits()  # one snapshot listing per job
        prune = self._complete_days(commits) if seal_days else set()
        todo = self._pending(pages, commits, prune)
        lrows = self._append(spark, self._to_write(todo), run_id)
        # Every day this run touched was fully drained (run processes ALL
        # pending rows), so all of them seal — plus days sealed previously.
        record = {
            "run_id": run_id,
            "seq": self._next_seq(commits),
            "n_docs": int(sum(r["doc_count"] for r in lrows)),
            "n_bytes": int(sum(r["byte_count"] for r in lrows)),
            "complete_days": sorted(
                (
                    {r["day"] for r in lrows if r["day"] is not None}
                    if seal_days
                    else set()
                )
                | self._complete_days(commits)
            ),
            "committed_at": time.time(),
        }
        if fail_before_commit:
            return record
        return self._commit_marker(record)
