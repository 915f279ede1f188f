"""Stateful streaming sessionize: events that arrive behind a user's
session high-water mark in a later micro-batch are counted, not silently
mis-sessionized."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F


def test_sessionize_flags_out_of_order_cross_batch_events(spark, tmp_path):
    """Cross-batch event-time regressions can't be re-sessionized by the
    incremental state; they must be COUNTED so the affected users are
    identifiable for batch recompute."""
    import datetime as dt

    import pyarrow as pa

    from multi_format_document_extractor_spark.streaming.ingest import (
        EVENTS_DDL,
        _SESS_OUT,
        _SESS_STATE,
        _sessionize_group,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    tz = dt.timezone.utc
    stage = tmp_path / "events"
    stage.mkdir()

    def _events_file(path, rows):
        t = pa.Table.from_pydict(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": ["view"] * len(rows),
                "value": [1.0] * len(rows),
                "props": [None] * len(rows),
            },
            schema=pa.schema(
                [
                    ("event_id", pa.int64()),
                    ("ts", pa.timestamp("us", tz="UTC")),
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("value", pa.float64()),
                    ("props", pa.string()),
                ]
            ),
        )
        pq.write_table(t, str(path))

    t0 = dt.datetime(2026, 7, 1, 12, 0, tzinfo=tz)

    # file a: events at t0, t0+1min; file b (discovered later): an event 2h
    # BEFORE the state's high water. maxFilesPerTrigger=1 makes one drain
    # process them as two micro-batches with in-query state carry-over.
    _events_file(
        stage / "a.parquet",
        [(1, t0, 7), (2, t0 + dt.timedelta(minutes=1), 7)],
    )
    _events_file(
        stage / "b.parquet", [(3, t0 - dt.timedelta(hours=2), 7)]
    )
    now = dt.datetime.now().timestamp()
    os.utime(stage / "a.parquet", (now - 100, now - 100))
    os.utime(stage / "b.parquet", (now, now))

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    q = (
        stream.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=_SESS_OUT,
            stateStructType=_SESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_ooo")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = (
        spark.table("sess_ooo").orderBy(F.desc("n_events")).limit(1).collect()[0]
    )
    assert last["n_events"] == 3
    assert last["out_of_order_events"] == 1
