"""Structured Streaming ingestion path.

The reference is strictly batch (SURVEY.md §2.9); the engine adds a
streaming variant of the batch windowed aggregation so a Common-Crawl-style
feed can be processed incrementally. Semantics are identical to the batch
``F.window`` form — the streaming query is verified against the same DuckDB
``time_bucket`` oracle as the batch one.

At cluster scale this would read a Kafka/file source with a watermark and
write Iceberg via foreachBatch (exactly-once through the same idempotent
append used by the batch sink); here the file source replays the driver's
events parquet in one availableNow pass.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Batch form: 5-minute tumbling-window counts per event type."""
    return (
        events.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )


def _stage_dir(sf_dir: str) -> str:
    """The file stream source requires a directory basePath; stage the
    events parquet file into a per-sf temp dir (idempotent)."""
    import hashlib
    import shutil
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"mfde_stream_events_{tag}")
    dst = os.path.join(d, "events.parquet")
    if not os.path.exists(dst):
        os.makedirs(d, exist_ok=True)
        shutil.copy(src, dst)
    return d


SESSION_GAP_US = 1_800_000_000  # 30 min, same as the batch sessionize oracle

_SESS_STATE = (
    "last_t long, cur_n long, max_n long, n_sessions long, n_events long, "
    "ooo long"
)
_SESS_OUT = (
    "user_id long, n_sessions long, n_events long, max_session_events long, "
    "out_of_order_events long"
)


def _sessionize_group(key, pdfs, state):
    """applyInPandasWithState update fn: classic 30-min-gap sessionization as
    incremental state. Within a micro-batch events are sorted by (ts,
    event_id); ACROSS batches correctness requires event-time-ordered
    arrival (see streaming_sessionize). Events arriving behind the state's
    high-water ts are counted in ``out_of_order_events`` — nonzero means
    the session counts for this user are unreliable and the user needs a
    batch recompute. Emits the running summary each invocation; the reader
    keeps the last emission."""
    import pandas as pd  # noqa: F401 (worker-side)

    if state.exists:
        last_t, cur_n, max_n, n_sessions, n_events, ooo = state.get
    else:
        last_t, cur_n, max_n, n_sessions, n_events, ooo = (None, 0, 0, 0, 0, 0)

    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for t in (pdf["ts"].astype("int64") // 1000).tolist():  # ns → us
            if last_t is not None and t < last_t:
                ooo += 1
            if last_t is None or t - last_t > SESSION_GAP_US:
                n_sessions += 1
                cur_n = 0
            cur_n += 1
            n_events += 1
            max_n = max(max_n, cur_n)
            last_t = max(t, last_t) if last_t is not None else t
    state.update((last_t, cur_n, max_n, n_sessions, n_events, ooo))
    yield __import__("pandas").DataFrame(
        {
            "user_id": [key[0]],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
            "max_session_events": [max_n],
            "out_of_order_events": [ooo],
        }
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (the engine's extension point for operators
    Structured Streaming lacks natively). Drained with availableNow; result
    values are identical to the batch gaps-and-islands form and are checked
    against the same DuckDB oracle.

    PRECONDITION for multi-batch runs: per-user event time must be
    non-decreasing ACROSS micro-batches (Spark's file source orders batches
    by file discovery time, not event time — a later-arriving file with
    earlier events violates this). The state keeps only the session
    high-water mark, so cross-batch late events cannot be re-sessionized;
    they are instead COUNTED per user in ``out_of_order_events``: nonzero
    means that user's session counts need a batch recompute
    (``plans/queries.sessionize``). The single-availableNow-drain form used
    here satisfies the precondition trivially."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    name = f"sess_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(EVENTS_DDL).parquet(_stage_dir(sf_dir))
    sessions = (
        stream.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=_SESS_OUT,
            stateStructType=_SESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    query = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # Update mode appends one summary row per (user, micro-batch); keep each
    # user's final (max n_events) emission.
    out = spark.table(name)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.desc("n_sessions")
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: collapse repeated (user, event_type) events
    inside a 5-minute bucket to their first occurrence — the streaming form
    of exact dedup (operators/dedup.exact_dedup_groups is the batch corpus
    form). ``dropDuplicates`` under a watermark bounds the dedup state at
    unbounded scale: keys older than 30 minutes behind the max event time
    are evicted, so state is O(keys-per-lateness-window), never O(stream).
    A duplicate arriving later than the watermark would re-emit (the
    standard streaming-dedup contract — the warehouse anti-join is the
    backstop, sinks.Warehouse.pending). The availableNow drain here is
    single-batch, so the result equals the exact DISTINCT set and is
    hash-checked against the DuckDB oracle."""
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(EVENTS_DDL).parquet(_stage_dir(sf_dir))
    dd = (
        stream.withWatermark("ts", "30 minutes")
        .select(
            "user_id",
            "event_type",
            F.window("ts", "5 minutes").alias("w"),
        )
        .dropDuplicates(["user_id", "event_type", "w"])
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            "event_type",
        )
    )
    query = (
        dd.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_event_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form: readStream over the events parquet → tumbling-window
    aggregation → in-memory sink, drained synchronously (availableNow).
    Returns the final result as a batch DataFrame."""
    name = f"evt_win_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(EVENTS_DDL).parquet(_stage_dir(sf_dir))
    agg = windowed_event_counts(stream)
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def streaming_extract(
    spark: SparkSession,
    pages_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Continuous-crawl ingestion: file-stream over a growing pages
    directory → per-micro-batch extraction committed through the idempotent
    Warehouse (one batch = one resumable run; SURVEY.md §2.9).

    Exactly-once is layered: the checkpoint makes the SOURCE
    exactly-once (each file enters one micro-batch, replayed after a
    crash), and the warehouse anti-join makes the SINK idempotent (a
    replayed batch re-extracts nothing already committed) — same
    guarantee the batch job has, extended to an unbounded input. A real
    deployment swaps the file source for Kafka and keeps everything else.

    A micro-batch is a partial slice of its days, so it never seals a
    day and never prunes one: each batch commits as
    ``Warehouse.run(seal_days=False)``, and the resume anti-join against
    every committed url is the dedup. A late row for a day a batch run
    sealed therefore still lands.

    Drains with availableNow (processes what exists, then stops — the
    restart-friendly trigger) and returns the commit records.
    """
    from ..sinks import Warehouse
    from ..sources.pages import PAGES_DDL

    wh = Warehouse(warehouse_dir)
    records: list[dict] = []

    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pages_dir)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The run id gets a fresh per-attempt suffix: a crash-replayed batch
        # must NOT collide with its dead attempt's uncommitted data dir
        # (uncommitted runs are invisible to readers; the anti-join dedups
        # any rows the dead attempt DID commit).
        records.append(
            wh.run(
                batch_df.sparkSession,
                batch_df,
                run_id=f"stream_{batch_id:08d}_{uuid.uuid4().hex[:6]}",
                seal_days=False,
            )
        )

    query = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return records
