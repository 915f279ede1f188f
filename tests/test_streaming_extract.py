"""Streaming extraction: file-stream source → foreachBatch → idempotent
warehouse commit. Exactly-once layering: checkpoint (source) + anti-join
(sink)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from multi_format_document_extractor_spark.corpus import write_corpus
from multi_format_document_extractor_spark.streaming.ingest import (
    streaming_extract,
)


def _split_corpus(tmp_path, n=120):
    """One deterministic corpus split into two arrival files with disjoint
    urls — simulates two crawl drops landing in the watched directory."""
    src = str(tmp_path / "gen")
    write_corpus(src, n, seed=11)
    t = pq.read_table(os.path.join(src, "pages.parquet"))
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    half = n // 2
    pq.write_table(t.slice(0, half), str(incoming / "drop_a.parquet"))
    return str(incoming), t, half


def test_streaming_extract_incremental_no_duplicates(spark, tmp_path):
    incoming, t, half = _split_corpus(tmp_path)
    wh_dir = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    # drop A only
    recs = streaming_extract(spark, incoming, wh_dir, ckpt)
    assert sum(r["n_docs"] for r in recs) == half

    # drop B arrives; same checkpoint → only the new file is processed
    pq.write_table(
        t.slice(half), os.path.join(incoming, "drop_b.parquet")
    )
    recs2 = streaming_extract(spark, incoming, wh_dir, ckpt)
    assert sum(r["n_docs"] for r in recs2) == t.num_rows - half

    # third drain with nothing new → zero extracted rows
    recs3 = streaming_extract(spark, incoming, wh_dir, ckpt)
    assert sum(r["n_docs"] for r in recs3) == 0

    from multi_format_document_extractor_spark.sinks import Warehouse

    out = Warehouse(wh_dir).read_extracted(spark)
    assert out.count() == t.num_rows
    assert out.select("url").distinct().count() == t.num_rows


def test_streaming_extract_replay_is_idempotent(spark, tmp_path):
    """A lost checkpoint (worst-case replay: every file reprocessed) must
    not duplicate warehouse rows — the anti-join absorbs the replay."""
    incoming, t, half = _split_corpus(tmp_path)
    wh_dir = str(tmp_path / "wh")

    streaming_extract(spark, incoming, wh_dir, str(tmp_path / "ckpt1"))
    # fresh checkpoint: the source replays drop_a from scratch
    recs = streaming_extract(spark, incoming, wh_dir, str(tmp_path / "ckpt2"))
    assert sum(r["n_docs"] for r in recs) == 0  # all urls already committed

    from multi_format_document_extractor_spark.sinks import Warehouse

    out = Warehouse(wh_dir).read_extracted(spark)
    assert out.count() == half
    assert out.select("url").distinct().count() == half


def _page_file(path, rows):
    """rows: list of (url, warc_ts datetime, payload bytes)."""
    import pyarrow as pa

    from multi_format_document_extractor_spark.corpus import PAGES_SCHEMA

    t = pa.Table.from_pydict(
        {
            "url": [r[0] for r in rows],
            "warc_ts": [r[1] for r in rows],
            "html": [r[2] for r in rows],
            "text": [None] * len(rows),
            "lang": ["en"] * len(rows),
        },
        schema=PAGES_SCHEMA,
    )
    pq.write_table(t, str(path))


def test_streaming_multi_microbatch_one_drain(spark, tmp_path):
    """maxFilesPerTrigger=1 with two files present → one drain, two
    sequential commits; later batches must anti-join the earlier batch of
    the SAME drain (overlapping urls across files)."""
    import datetime as dt

    ts = dt.datetime(2026, 7, 1, tzinfo=dt.timezone.utc)
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _page_file(
        incoming / "a.parquet",
        [(f"s://u{i}", ts, b"plain text payload") for i in range(10)],
    )
    # file b repeats u5..u9 and adds u10..u14
    _page_file(
        incoming / "b.parquet",
        [(f"s://u{i}", ts, b"plain text payload") for i in range(5, 15)],
    )
    recs = streaming_extract(
        spark,
        str(incoming),
        str(tmp_path / "wh"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert len(recs) == 2
    assert sorted(r["seq"] for r in recs) == [0, 1]
    assert sum(r["n_docs"] for r in recs) == 15  # dupes absorbed

    from multi_format_document_extractor_spark.sinks import Warehouse

    out = Warehouse(str(tmp_path / "wh")).read_extracted(spark)
    assert out.count() == 15
    assert out.select("url").distinct().count() == 15


def test_late_rows_for_batch_sealed_day_still_land(spark, tmp_path):
    """A batch run seals its days; a later streaming drop carries a NEW url
    on a sealed day. Day pruning must not silently drop it: a micro-batch
    commits as run(seal_days=False), which prunes no day, so the anti-join
    alone decides."""
    import datetime as dt

    from multi_format_document_extractor_spark.sinks import Warehouse
    from multi_format_document_extractor_spark.sources.pages import read_pages

    gen = str(tmp_path / "gen")
    write_corpus(gen, 50, seed=13)
    pages_50 = read_pages(spark, gen + "/pages.parquet")

    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(wh_dir)
    wh.run(spark, pages_50, run_id="batch1")  # seal_days=True default
    sealed = wh.complete_days()
    assert sealed, "batch run should seal its days"

    day = dt.datetime.fromisoformat(min(sealed)).replace(
        tzinfo=dt.timezone.utc
    )
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _page_file(
        incoming / "late.parquet", [("s://late-arrival", day, b"late text")]
    )
    recs = streaming_extract(
        spark, str(incoming), wh_dir, str(tmp_path / "ckpt")
    )
    assert sum(r["n_docs"] for r in recs) == 1
    urls = {r.url for r in wh.read_extracted(spark).select("url").collect()}
    assert "s://late-arrival" in urls


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
