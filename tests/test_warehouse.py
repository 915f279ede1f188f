"""T3 (idempotent resume) for the warehouse sink.

T3: a run killed after its data write but before its snapshot marker must be
invisible; the next run reprocesses its rows; the final table equals a
single-shot run exactly (no duplicate urls, byte-identical text); late rows
for a sealed day land through an unsealed run.
"""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from multi_format_document_extractor_spark.sinks import Warehouse
from multi_format_document_extractor_spark.sources.pages import read_pages


@pytest.fixture()
def pages(spark, corpus_dir):
    return read_pages(spark, corpus_dir + "/pages.parquet")


def _collect_texts(df):
    return {
        r["url"]: (bytes(r["text_out"]) if r["text_out"] is not None else None)
        for r in df.select("url", "text_out").collect()
    }


def test_resume_after_partial_commit(spark, pages, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    n_total = pages.count()

    # Run 1 commits only the first warc day (a partial crawl).
    first_day = pages.select(
        F.min(F.date_format("warc_ts", "yyyy-MM-dd")).alias("d")
    ).collect()[0]["d"]
    part = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") == first_day)
    rec1 = wh.run(spark, part, run_id="run1")
    assert rec1["n_docs"] == part.count()
    assert rec1["complete_days"] == [first_day]

    # Run 2 sees the full input; pending excludes run 1's rows.
    n_pending = wh.pending(pages).count()
    assert n_pending == n_total - rec1["n_docs"]
    rec2 = wh.run(spark, pages, run_id="run2")
    assert rec2["n_docs"] == n_pending

    # No duplicates; every input url exactly once.
    out = wh.read_extracted(spark)
    assert out.count() == n_total
    assert out.select("url").distinct().count() == n_total

    # Run 3 is a no-op (idempotence).
    assert wh.pending(pages).count() == 0
    rec3 = wh.run(spark, pages, run_id="run3")
    assert rec3["n_docs"] == 0


def test_killed_run_is_invisible_and_reprocessed(spark, pages, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    sub = pages.limit(200).cache()
    n = sub.count()

    # Crash injection: data + lineage written, marker never placed.
    wh.run(spark, sub, run_id="dead", fail_before_commit=True)
    assert wh.committed_run_ids() == []
    assert wh.read_extracted(spark).count() == 0
    assert wh.pending(sub).count() == n  # nothing considered done

    # The retry processes everything; the orphan files stay invisible.
    rec = wh.run(spark, sub, run_id="retry")
    assert rec["n_docs"] == n
    out = wh.read_extracted(spark)
    assert out.count() == n
    assert out.select("url").distinct().count() == n
    assert set(out.select("run_id").distinct().toPandas()["run_id"]) == {"retry"}


def test_resumed_equals_single_shot(spark, pages, tmp_path):
    """Final table of crash+resume == one clean run, byte-for-byte."""
    wh_a = Warehouse(str(tmp_path / "a"))
    half = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    # The half-corpus slice cuts through days, so it must not seal them.
    wh_a.run(spark, half, run_id="r1", seal_days=False)
    wh_a.run(spark, pages, run_id="r2")

    wh_b = Warehouse(str(tmp_path / "b"))
    wh_b.run(spark, pages, run_id="clean")

    a = _collect_texts(wh_a.read_extracted(spark))
    b = _collect_texts(wh_b.read_extracted(spark))
    assert a == b


def test_lineage_accounts_for_every_byte(spark, pages, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.run(spark, pages, run_id="r1")
    out = wh.read_extracted(spark)
    lin = wh.read_lineage(spark)

    # Per-group checksums are Σ crc32 mod 2^32 (overflow-proof combiner);
    # compare group-wise, not as a grand total (mod is not sum-distributive).
    got = {
        (r["day"], r["format"]): (r["doc_count"], r["byte_count"], r["checksum"])
        for r in lin.collect()
    }
    want = {
        (r["day"], r["format"]): (r["docs"], r["bytes"], r["ck"])
        for r in out.groupBy("day", "format")
        .agg(
            F.count("*").alias("docs"),
            F.sum("in_bytes").alias("bytes"),
            F.pmod(
                F.sum(F.col("checksum").cast("decimal(28,0)")),
                F.lit(4294967296),
            )
            .cast("long")
            .alias("ck"),
        )
        .collect()
    }
    assert got == want

    # Lineage checksum equals a recomputed crc32 over the extracted bytes.
    by_group: dict = {}
    for r in out.select("day", "format", "text_out").collect():
        k = (r["day"], r["format"])
        by_group[k] = by_group.get(k, 0) + (
            zlib.crc32(bytes(r["text_out"])) if r["text_out"] is not None else 0
        )
    assert {k: v[2] for k, v in got.items()} == {
        k: v % (1 << 32) for k, v in by_group.items()
    }

    # Partition pruning surface: lineage covers ≥2 days and ≥2 formats.
    assert lin.select("day").distinct().count() >= 2
    assert lin.select("format").distinct().count() >= 2


def test_unsealed_run_lands_late_rows_on_sealed_day(spark, tmp_path):
    """A sealing run seals its days; a later ``run(seal_days=False)`` over
    the same pages plus a NEW url on a sealed day must not drop it: an
    unsealed run prunes no day, so the anti-join alone decides."""
    import datetime as dt

    from multi_format_document_extractor_spark.corpus import write_corpus
    from multi_format_document_extractor_spark.sources.pages import PAGES_DDL

    gen = str(tmp_path / "gen")
    write_corpus(gen, 50, seed=13)
    pages_50 = read_pages(spark, gen + "/pages.parquet")

    wh = Warehouse(str(tmp_path / "wh"))
    wh.run(spark, pages_50, run_id="batch1")
    sealed = wh.complete_days()
    assert sealed, "a sealing run should seal its days"

    day = dt.datetime.fromisoformat(min(sealed)).replace(tzinfo=dt.timezone.utc)
    late = spark.createDataFrame(
        [("s://late-arrival", day, b"late text", None, "en")], PAGES_DDL
    )
    rec = wh.run(
        spark, pages_50.unionByName(late), run_id="late", seal_days=False
    )
    assert rec["n_docs"] == 1
    urls = {r.url for r in wh.read_extracted(spark).select("url").collect()}
    assert "s://late-arrival" in urls


def test_compaction_preserves_content_and_lineage(spark, pages, tmp_path):
    """T3 extension: compaction rewrites N runs into one, byte-identically,
    with per-(day, format) lineage checksums EQUAL pre/post, run count and
    file count reduced, sealed days carried through, and resume still a
    no-op afterwards."""
    import os

    wh = Warehouse(str(tmp_path / "wh"))
    first_day = pages.select(
        F.min(F.date_format("warc_ts", "yyyy-MM-dd")).alias("d")
    ).collect()[0]["d"]
    part = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") == first_day)
    wh.run(spark, part, run_id="run1")
    wh.run(spark, pages, run_id="run2")
    before_texts = _collect_texts(wh.read_extracted(spark))
    before_lineage = {
        (r["day"], r["format"]): (r["doc_count"], r["byte_count"],
                                  r["checksum"])
        for r in wh.read_lineage(spark).collect()
    }
    sealed_before = wh.complete_days()

    def n_files(run_ids):
        total = 0
        for rid in run_ids:
            for root, _dirs, files in os.walk(
                os.path.join(wh.runs_dir, f"run_id={rid}")
            ):
                total += sum(f.endswith(".parquet") for f in files)
        return total

    files_before = n_files(["run1", "run2"])
    rec = wh.compact(spark, run_id="c1")
    assert rec is not None and rec["replaces"] == ["run1", "run2"]

    # visibility: only the compacted run remains a data run
    assert wh.committed_run_ids() == ["c1"]
    after_texts = _collect_texts(wh.read_extracted(spark))
    assert after_texts == before_texts  # byte-identical content
    # lineage re-derived from the rewritten files must aggregate equal:
    # run1/run2 may split a (day, format) cell, so compare cell sums
    after_lineage = {
        (r["day"], r["format"]): (r["doc_count"], r["byte_count"],
                                  r["checksum"])
        for r in wh.read_lineage(spark).collect()
    }
    agg = {}
    for (d, f), (n, b, c) in before_lineage.items():
        n0, b0, c0 = agg.get((d, f), (0, 0, 0))
        agg[(d, f)] = (n0 + n, b0 + b, (c0 + c) % 4294967296)
    assert after_lineage == agg
    # layout actually compacted: one file per day
    assert n_files(["c1"]) == len({d for d, _ in after_lineage}) <= files_before
    # sealing and resume survive the rewrite
    assert wh.complete_days() == sealed_before
    assert wh.pending(pages).count() == 0
    # idempotent: nothing left to compact
    assert wh.compact(spark) is None


def test_compaction_crash_leaves_old_runs_visible(spark, pages, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    half = pages.where(F.crc32(F.col("url")) % 2 == 0)
    wh.run(spark, half, run_id="run1", seal_days=False)
    wh.run(spark, pages, run_id="run2", seal_days=False)
    before = _collect_texts(wh.read_extracted(spark))
    rec = wh.compact(spark, run_id="c1", fail_before_commit=True)
    assert rec is not None  # data written…
    # …but no marker: both original runs stay visible, content unchanged
    assert wh.committed_run_ids() == ["run1", "run2"]
    assert _collect_texts(wh.read_extracted(spark)) == before
    # a retried compaction under a fresh id commits cleanly
    rec2 = wh.compact(spark, run_id="c2")
    assert rec2 is not None and wh.committed_run_ids() == ["c2"]
    assert _collect_texts(wh.read_extracted(spark)) == before


def test_time_travel_read_at_every_snapshot(spark, pages, tmp_path):
    """T3 extension: read_at(seq) reproduces the table exactly as it stood
    after each commit — including PRE-compaction snapshots, which a later
    compaction's replaces list must not retroactively rewrite — and
    rejects unknown seqs."""
    import pytest as _pytest

    wh = Warehouse(str(tmp_path / "wh"))
    first_day = pages.select(
        F.min(F.date_format("warc_ts", "yyyy-MM-dd")).alias("d")
    ).collect()[0]["d"]
    part = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") == first_day)
    wh.run(spark, part, run_id="run1")
    snap0 = _collect_texts(wh.read_extracted(spark))
    wh.run(spark, pages, run_id="run2")
    snap1 = _collect_texts(wh.read_extracted(spark))
    wh.compact(spark, run_id="c1")

    assert _collect_texts(wh.read_at(spark, 0)) == snap0
    assert _collect_texts(wh.read_at(spark, 1)) == snap1
    # the compaction snapshot equals the pre-compaction table AND the
    # current head
    assert _collect_texts(wh.read_at(spark, 2)) == snap1
    assert _collect_texts(wh.read_extracted(spark)) == snap1
    # history grows monotonically
    assert len(snap0) < len(snap1)
    with _pytest.raises(ValueError, match="unknown snapshot"):
        wh.read_at(spark, 99)


def test_expire_retention(spark, pages, tmp_path):
    """Retention (expire): old snapshots raise the EXPIRED error, every
    retained snapshot stays byte-identical, resume stays exact, sealed-day
    state carries through the checkpoint, and compaction-superseded run
    files behind the horizon are physically deleted."""
    import os

    import pytest as _pytest

    wh = Warehouse(str(tmp_path / "wh"))
    days = sorted(
        r["d"]
        for r in pages.select(
            F.date_format("warc_ts", "yyyy-MM-dd").alias("d")
        )
        .where(F.col("d").isNotNull())
        .distinct()
        .collect()
    )
    # seq 0..2: one run per day slice; seq 3: compaction replaces them
    for i, d in enumerate(days[:3]):
        part = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") <= d)
        wh.run(spark, part, run_id=f"run{i}")
    snaps = {
        s: _collect_texts(wh.read_at(spark, s)) for s in range(3)
    }
    wh.compact(spark, run_id="c1")
    snaps[3] = _collect_texts(wh.read_at(spark, 3))
    # seq 4: one more append after the compaction
    wh.run(spark, pages, run_id="run4")
    snaps[4] = _collect_texts(wh.read_at(spark, 4))
    sealed_before = wh.complete_days()

    rec = wh.expire(keep_last=2)  # keep seqs 3, 4; horizon = seq 2
    assert rec is not None and rec["seq"] == 2
    # the horizon snapshot still NEEDS run0..run2 (seq-2 visibility), so
    # nothing is deletable yet — retention never deletes what a retained
    # snapshot (or the horizon itself) can see
    assert rec["expired_runs"] == [] and set(rec["base_runs"]) == {
        "run0",
        "run1",
        "run2",
    }
    for rid in ("run0", "run1", "run2", "c1"):
        assert os.path.exists(
            os.path.join(wh.runs_dir, f"run_id={rid}")
        ), rid

    # horizon + retained snapshots byte-identical; older raise BY NAME
    assert _collect_texts(wh.read_at(spark, 2)) == snaps[2]
    assert _collect_texts(wh.read_at(spark, 3)) == snaps[3]
    assert _collect_texts(wh.read_at(spark, 4)) == snaps[4]
    assert _collect_texts(wh.read_extracted(spark)) == snaps[4]
    for s in range(2):
        with _pytest.raises(ValueError, match="EXPIRED"):
            wh.read_at(spark, s)
    with _pytest.raises(ValueError, match="unknown snapshot"):
        wh.read_at(spark, 99)

    # sealed-day state carried through the checkpoint; resume still exact
    assert wh.complete_days() == sealed_before
    assert wh.pending(pages).count() == 0
    rec5 = wh.run(spark, pages, run_id="run5")
    assert rec5["n_docs"] == 0
    assert rec5["seq"] == 5  # last seq + 1, not the checkpointed length

    # second expire crosses the compaction: horizon becomes seq 3 (c1),
    # so run0..run2 — superseded by c1 INSIDE the expired prefix — are
    # now invisible to every remaining snapshot and their files delete
    rec2 = wh.expire(keep_last=2)  # commits now: ckpt(2), c1(3), 4, 5
    assert rec2 is not None and rec2["seq"] == 3
    assert set(rec2["expired_runs"]) == {"run0", "run1", "run2"}
    for rid in ("run0", "run1", "run2"):
        assert not os.path.exists(
            os.path.join(wh.runs_dir, f"run_id={rid}")
        ), rid
    assert os.path.exists(os.path.join(wh.runs_dir, "run_id=c1"))
    assert "run5" in wh.committed_run_ids()
    assert _collect_texts(wh.read_at(spark, 3)) == snaps[3]
    assert _collect_texts(wh.read_extracted(spark)) == snaps[4]
    with _pytest.raises(ValueError, match="EXPIRED"):
        wh.read_at(spark, 2)


def test_expire_crash_before_gc_is_invisible_and_rerunnable(
    spark, pages, tmp_path
):
    """The watermark swap is the expire: a crash before GC must leave
    readers already consistent (checkpoint wins over leftover markers),
    and the next expire/GC collects the garbage."""
    import os

    wh = Warehouse(str(tmp_path / "wh"))
    first_day = pages.select(
        F.min(F.date_format("warc_ts", "yyyy-MM-dd")).alias("d")
    ).collect()[0]["d"]
    part = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") == first_day)
    wh.run(spark, part, run_id="run1")
    wh.run(spark, pages, run_id="run2")
    wh.compact(spark, run_id="c1")
    wh.run(spark, pages, run_id="run3")
    head = _collect_texts(wh.read_extracted(spark))

    rec = wh.expire(keep_last=2, fail_before_gc=True)
    # markers at/behind the horizon still on disk, but commits() resolves
    # from the checkpoint: no duplicate visibility, head unchanged
    leftover = [
        n
        for n in os.listdir(wh.commits_dir)
        if n.endswith(".json") and int(n.split("-", 1)[0]) <= rec["seq"]
    ]
    assert leftover, "crash injection should leave stale markers"
    seqs = [c["seq"] for c in wh.commits()]
    assert seqs == sorted(set(seqs)), seqs  # no duplicate seq entries
    assert _collect_texts(wh.read_extracted(spark)) == head
    assert wh.pending(pages).count() == 0

    # GC re-run collects the garbage; state unchanged
    wh._gc_expired(rec)
    leftover2 = [
        n
        for n in os.listdir(wh.commits_dir)
        if n.endswith(".json") and int(n.split("-", 1)[0]) <= rec["seq"]
    ]
    assert not leftover2
    assert _collect_texts(wh.read_extracted(spark)) == head


def test_run_files_hold_one_day_sorted_by_format(spark, pages, tmp_path):
    """Layout: each data file sits in one day directory, and its in-file
    ``format`` column never decreases (the sorted run parquet RLE-encodes
    and row-group stats prune on)."""
    import os

    import pyarrow.parquet as pq

    wh = Warehouse(str(tmp_path / "wh"))
    wh.run(spark, pages, run_id="r1")
    base = os.path.join(wh.runs_dir, "run_id=r1")
    files = [
        os.path.relpath(os.path.join(d, f), base)
        for d, _dirs, fs in os.walk(base)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    days = set()
    for rel in files:
        parts = rel.split(os.sep)
        assert len(parts) == 2 and parts[0].startswith("day="), rel
        days.add(parts[0])
        t = pq.read_table(os.path.join(base, rel))
        assert "day" not in t.column_names
        fmts = t.column("format").to_pylist()
        assert None not in fmts and fmts == sorted(fmts), rel
    assert len(days) >= 2
    # at most one file per day per write task
    tasks = {(p.split(os.sep)[0], os.path.basename(p).split("-")[1])
             for p in files}
    assert len(files) == len(tasks)


def test_read_extracted_column_order(spark, pages, tmp_path):
    order = [
        "url", "warc_ts", "lang", "text_out", "n_blocks", "ok", "error",
        "in_bytes", "checksum", "truncated", "encoding", "run_id", "day",
        "format",
    ]
    wh = Warehouse(str(tmp_path / "wh"))
    assert wh.read_extracted(spark).columns == order  # empty warehouse
    wh.run(spark, pages.limit(50), run_id="r1", seal_days=False)
    assert wh.read_extracted(spark).columns == order


def test_lineage_file_is_sorted_typed_and_ignores_hidden_temps(
    spark, pages, tmp_path, monkeypatch
):
    """Lineage is one pyarrow file per run: rows sorted by (day, format),
    typed as LINEAGE_DDL even when the run wrote nothing, and a hidden
    temp file left beside it (a crash between write and rename) is never
    read."""
    import os
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql.types import DataType

    from multi_format_document_extractor_spark.sinks import LINEAGE_DDL

    wh = Warehouse(str(tmp_path / "wh"))
    wh.run(spark, pages, run_id="r1")
    rec = wh.run(spark, pages, run_id="r2")  # nothing pending
    assert rec["n_docs"] == 0

    ddl = DataType.fromDDL(LINEAGE_DDL)
    want_types = [(f.name, f.dataType) for f in ddl.fields]
    d1 = os.path.join(wh.lineage_dir, "run_id=r1")
    d2 = os.path.join(wh.lineage_dir, "run_id=r2")
    assert os.listdir(d1) == ["lineage.parquet"]
    empty = spark.read.parquet(d2)
    assert empty.count() == 0
    assert [(f.name, f.dataType) for f in empty.schema.fields] == want_types
    typed = spark.read.parquet(d1)
    assert [(f.name, f.dataType) for f in typed.schema.fields] == want_types

    keys = [(r["day"], r["format"]) for r in typed.collect()]
    assert len(keys) >= 2
    assert keys == sorted(keys, key=lambda k: (k[0] is not None, k))

    before = sorted(map(tuple, wh.read_lineage(spark).collect()))
    assert len(before) == len(keys)
    # the lineage directory of a run id is written once, never merged into
    with pytest.raises(FileExistsError):
        wh._write_lineage(spark, "r1")

    # a crash between the write and the rename leaves a hidden temp with
    # every row in it, and readers see none of them
    shutil.move(d1, str(tmp_path / "r1-lineage"))

    def crash(src, dst):
        raise OSError("killed before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="killed"):
            wh._write_lineage(spark, "r1")
    (temp,) = os.listdir(d1)
    assert temp.startswith(".")
    assert pq.read_table(os.path.join(d1, temp)).num_rows == len(keys)
    assert wh.read_lineage(spark).count() == 0
    shutil.rmtree(d1)
    shutil.move(str(tmp_path / "r1-lineage"), d1)
    assert sorted(map(tuple, wh.read_lineage(spark).collect())) == before
