"""WARC container ingestion: roundtrip fidelity, gzip members, truncation
robustness, and end-to-end byte-identity through the extraction UDF."""

from __future__ import annotations

import gzip

from multi_format_document_extractor_spark.corpus import (
    gen_rows,
    write_warc,
)
from multi_format_document_extractor_spark.operators.extract import (
    extract_pages,
)
from multi_format_document_extractor_spark.sources.warc import (
    parse_warc,
    read_warc,
)


def _expected_map(rows):
    return {
        r.url: r for r in rows if r.html is not None
    }  # null-payload rows are not written (no response → no record)


def test_warc_roundtrip_plain(spark, tmp_path):
    d = str(tmp_path / "w")
    rows = write_warc(d, 120, seed=11, shard_docs=40)
    exp = _expected_map(rows)
    got = {r["url"]: r for r in read_warc(spark, d).collect()}
    assert set(got) == set(exp)
    for url, r in got.items():
        e = exp[url]
        assert bytes(r["html"]) == e.html
        assert r["warc_ts"].replace(tzinfo=None) == e.warc_ts.replace(
            tzinfo=None
        )
        assert r["lang"] == e.lang


def test_warc_roundtrip_gzip_members(spark, tmp_path):
    d = str(tmp_path / "wgz")
    rows = write_warc(d, 90, seed=12, shard_docs=30, gzip_records=True)
    exp = _expected_map(rows)
    got = {r["url"]: r for r in read_warc(spark, d).collect()}
    assert set(got) == set(exp)
    assert all(
        bytes(got[u]["html"]) == exp[u].html for u in exp
    )


def test_warc_writer_is_deterministic(tmp_path):
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_warc(d1, 50, seed=13, gzip_records=True)
    write_warc(d2, 50, seed=13, gzip_records=True)
    import os

    for name in sorted(os.listdir(d1)):
        with open(os.path.join(d1, name), "rb") as f1, open(
            os.path.join(d2, name), "rb"
        ) as f2:
            assert f1.read() == f2.read(), name


def test_parse_warc_truncated_tail_keeps_valid_prefix(tmp_path):
    d = str(tmp_path / "t")
    rows = write_warc(d, 30, seed=14, shard_docs=30)
    import os

    path = os.path.join(d, sorted(os.listdir(d))[0])
    with open(path, "rb") as f:
        blob = f.read()
    n_full = len(parse_warc(blob))
    assert n_full == len(_expected_map(rows))
    # chop mid-way through the last record's body
    cut = parse_warc(blob[: len(blob) - 10])
    assert len(cut) == n_full - 1
    # pure garbage parses to nothing, no exception
    assert parse_warc(b"\x00\x01garbage" * 100) == []
    # corrupt Content-Length stops at the valid prefix
    bad = blob.replace(b"Content-Length", b"Content-Length-X", 1)
    assert len(parse_warc(bad)) <= n_full


def test_warc_to_extraction_byte_identity(spark, tmp_path):
    """The full crawl-container path: WARC shards → read_warc →
    extract_pages must produce the SAME bytes as the golden expectations
    — ingestion format must not perturb extraction."""
    d = str(tmp_path / "e")
    rows = write_warc(d, 150, seed=15, shard_docs=50, gzip_records=True)
    exp = {r.url: r.text_expected for r in rows if r.html is not None}
    out = extract_pages(read_warc(spark, d)).collect()
    assert {r["url"] for r in out} == set(exp)
    bad = [
        r["url"]
        for r in out
        if bytes(r["text_out"] or b"") != exp[r["url"]]
    ]
    assert not bad, bad[:5]


def test_parse_warc_payload_embedding_fake_header():
    """A payload that CONTAINS a WARC header must not split its record:
    the parser advances by Content-Length, never by delimiter search
    inside a valid record."""
    from datetime import datetime, timezone

    from multi_format_document_extractor_spark.corpus import (
        PageRow,
        _warc_record,
    )

    evil = (
        b"before WARC/1.0\r\nWARC-Type: response\r\n"
        b"Content-Length: 5\r\n\r\nHHHHH after"
    )

    def row(u, payload, lang):
        return PageRow(
            url=u,
            warc_ts=datetime(2024, 1, 2, tzinfo=timezone.utc),
            html=payload,
            text="",
            lang=lang,
            format="text",
            text_expected=b"",
            n_blocks=0,
        )

    blob = _warc_record(row("https://x.example/a", evil, "en")) + _warc_record(
        row("https://x.example/b", b"second", "de")
    )
    out = parse_warc(blob)
    assert [(o[0], o[2]) for o in out] == [
        ("https://x.example/a", evil),
        ("https://x.example/b", b"second"),
    ]


def test_parse_warc_never_raises_on_fuzz():
    """parse_warc is total: arbitrary bytes (including gzip-magic
    prefixes, partial headers, binary noise) parse to a list, never an
    exception — errors-as-data at the container layer."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=4096))
    def _run(blob):
        out = parse_warc(blob)
        assert isinstance(out, list)

    _run()
    # targeted nasties beyond random noise
    for blob in [
        b"\x1f\x8b" + b"\x00" * 50,                      # bad gzip
        b"WARC/1.0\r\n" * 200,                            # headers only
        b"WARC/1.0\r\nContent-Length: 999999999\r\n\r\n",  # huge clen
        b"WARC/1.0\r\nContent-Length: -5\r\n\r\nxxxx",     # negative clen
        b"WARC/1.0\r\nContent-Length: foo\r\n\r\nxxxx",    # non-numeric
    ]:
        assert isinstance(parse_warc(blob), list)


def test_parse_warc_gzip_valid_prefix_kept(tmp_path):
    """A corrupt gzip member mid-shard keeps the records of the valid
    members before it (per-member resync, not all-or-nothing)."""
    import gzip as _gzip

    d = str(tmp_path / "g")
    rows = write_warc(d, 60, seed=16, shard_docs=60, gzip_records=True)
    import os

    path = os.path.join(d, sorted(os.listdir(d))[0])
    with open(path, "rb") as f:
        blob = f.read()
    n_full = len(parse_warc(blob))
    assert n_full == len([r for r in rows if r.html is not None])
    # append a corrupt member then a valid one: parse stops at corruption
    good_tail = _gzip.compress(b"WARC/1.0\r\n", mtime=0)
    broken = blob + b"\x1f\x8b" + b"\x00" * 30 + good_tail
    assert len(parse_warc(broken)) == n_full


def test_parse_warc_negative_content_length_terminates():
    """A large negative Content-Length must not send the scan cursor
    backwards (bytes.find clamps negative starts to 0 → infinite loop);
    the record is malformed and parsing stops at the valid prefix."""
    evil = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"Content-Length: -1000\r\n\r\n" + b"x" * 50
    )
    assert parse_warc(evil) == []
    # valid record before it still parses
    from datetime import datetime, timezone

    from multi_format_document_extractor_spark.corpus import (
        PageRow,
        _warc_record,
    )

    good = _warc_record(
        PageRow(
            url="https://x.example/ok",
            warc_ts=datetime(2024, 1, 2, tzinfo=timezone.utc),
            html=b"payload",
            text="",
            lang="en",
            format="text",
            text_expected=b"",
            n_blocks=0,
        )
    )
    out = parse_warc(good + evil)
    assert [o[0] for o in out] == ["https://x.example/ok"]


def test_run_job_ingests_warc_landing_zone(spark, tmp_path):
    """The spark-submit entry runs end-to-end from a WARC landing zone:
    ingest → extract → warehouse append with snapshot commit, and a
    second invocation resumes to a no-op (idempotent restart from the
    crawl container)."""
    import sys

    from conftest import REPO

    sys.path.insert(0, str(REPO / "scripts"))
    import run_job

    zone = str(tmp_path / "zone")
    wh = str(tmp_path / "wh")
    rows = write_warc(zone, 60, seed=19, shard_docs=30, gzip_records=True)
    n_expected = len([r for r in rows if r.html is not None])

    run_job.main(["--input", zone, "--input-format", "warc",
                  "--warehouse", wh, "--run-id", "r1"])
    from multi_format_document_extractor_spark.sinks import Warehouse

    w = Warehouse(wh)
    assert w.read_extracted(spark).count() == n_expected
    # resume: nothing pending, second run appends zero rows
    run_job.main(["--input", zone, "--input-format", "warc",
                  "--warehouse", wh, "--run-id", "r2"])
    assert w.read_extracted(spark).count() == n_expected


def test_parse_warc_truncated_single_member_keeps_prefix(tmp_path):
    """A shard gzipped as ONE member (valid WARC layout) that was cut off
    mid-download must still yield its complete records — the partial
    decompressed prefix is kept and only the torn tail record drops."""
    import gzip as _gzip
    import os

    d = str(tmp_path / "m")
    rows = write_warc(d, 30, seed=24, shard_docs=30)  # plain shard
    path = os.path.join(d, sorted(os.listdir(d))[0])
    with open(path, "rb") as f:
        plain = f.read()
    full = parse_warc(_gzip.compress(plain, mtime=0))
    n_full = len(_expected_map(rows))
    assert len(full) == n_full
    whole = _gzip.compress(plain, mtime=0)
    # HOW MANY records a cut drops is layout luck (where record
    # boundaries land in the compressed stream — corpus-version
    # dependent); the parser property is that EVERY cut keeps an intact,
    # in-order leading prefix and loses only the torn tail
    for frac in (0.5, 0.75, 0.9):
        cut = parse_warc(whole[: int(len(whole) * frac)])
        assert 0 < len(cut) < n_full, (frac, len(cut))
        assert [r[0] for r in cut] == [r[0] for r in full[: len(cut)]]
        # kept records are bit-intact, not just present
        for got, want in zip(cut, full):
            assert got == want
