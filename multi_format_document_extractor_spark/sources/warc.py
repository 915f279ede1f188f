"""WARC container source: Common Crawl's on-disk format → the pages table.

The engine's batch contract is an Iceberg/parquet table of pages
(BASELINE.json input_hint), but the upstream artifact a crawl actually
produces is WARC — concatenated ``WARC/1.0`` records, usually with each
record its own gzip member (``.warc.gz``). ``read_warc`` turns a directory
of WARC shards into the exact ``(url, warc_ts, html, text, lang)`` schema
``read_pages`` yields, so everything downstream (sniff → extract → score →
warehouse) runs unchanged from the raw crawl container.

Scale shape: the FILE is the parallelism unit — Spark's ``binaryFile``
source gives one row per shard, and record splitting is sequential within
a shard by necessity (gzip members must be walked in order; this is how
every WARC toolchain parallelizes, including Common Crawl's own). No
shuffle anywhere: shard → records is a ``map_rows`` flat-map (the package's
one per-row Python stage, operators/extract.py), and the output flows
straight into the extraction UDF's scan. The one-mapInPandas
invariant of PLANS.md §1 applies to the EXTRACTION path — a container
source necessarily adds its own decode stage upstream, exactly as a
parquet scan adds its (JVM-side) decode; at 100 TB you run read_warc →
warehouse append ONCE per crawl and all downstream jobs read the columnar
table.

Record-level semantics: only ``WARC-Type: response`` records yield rows
(request/metadata/warcinfo records are skipped, like every CC consumer);
the HTTP envelope is stripped to the raw payload bytes; a malformed or
truncated tail ends the shard's parse — valid prefix records are kept,
errors-as-data never exceptions. Reference analog: the reference walks a
directory of loose files (src/pipeline.py:207-215); WARC is what that
directory becomes at crawl scale.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import map_rows
from .pages import PAGES_DDL  # one schema contract shared with read_pages

_GZ_MAGIC = b"\x1f\x8b"


def parse_warc(blob: bytes) -> list[tuple[str, datetime, bytes, str]]:
    """Parse one WARC shard (plain or per-record-gzip) into
    ``(url, warc_ts, payload, lang)`` tuples. Pure function — the same
    code runs inside the Spark UDF and in single-process tests, the
    repo's oracle/operator lockstep pattern."""
    if blob[:2] == _GZ_MAGIC:
        # Walk gzip members one by one, keeping the valid PREFIX: a
        # corrupt/truncated member ends the shard's parse instead of
        # throwing away its good records (or crashing the UDF — found by
        # the fuzz test: gzip.decompress raises on bad members). Members
        # are fed in bounded chunks from a memoryview so the walk is
        # O(shard_bytes) total — handing each decompressobj the whole
        # remaining tail would copy it into unused_data per member,
        # O(members × shard_bytes) on a 1 GB/50k-record CC shard.
        parts: list[bytes] = []
        mv = memoryview(blob)
        off, n_blob = 0, len(blob)
        chunk_sz = 1 << 16
        while off < n_blob and blob[off : off + 2] == _GZ_MAGIC:
            d = zlib.decompressobj(31)  # 31 = gzip wrapper
            fed = 0
            ok = True
            try:
                while not d.eof and off + fed < n_blob:
                    piece = mv[off + fed : off + fed + chunk_sz]
                    parts.append(d.decompress(piece))
                    fed += len(piece)
            except zlib.error:
                ok = False
            if not ok or not d.eof:
                # KEEP the partial output: a truncated single-member
                # shard (partial download of a whole-file-gzip WARC)
                # still holds its complete records — the record-level
                # scan below drops only the torn tail. Discarding it
                # would zero out a 99%-intact shard.
                break
            off += fed - len(d.unused_data)
        blob = b"".join(parts)
    out: list[tuple[str, datetime, bytes, str]] = []
    i = 0
    n = len(blob)
    while i < n:
        start = blob.find(b"WARC/1.0\r\n", i)
        if start < 0:
            break
        head_end = blob.find(b"\r\n\r\n", start)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in blob[start + 10 : head_end].split(b"\r\n"):
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            break  # malformed record: stop at the valid prefix
        if clen < 0:
            # negative length would send the scan cursor BACKWARDS
            # (bytes.find clamps negative starts to 0 → infinite loop on
            # one malicious record — found by review); malformed: stop
            break
        body_start = head_end + 4
        body_end = body_start + clen
        if body_end > n:
            break  # truncated tail
        i = body_end  # next scan resumes after this record's block
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        date = headers.get("warc-date", "")
        try:
            ts = datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ").replace(
                tzinfo=timezone.utc
            )
        except ValueError:
            continue
        if not url:
            continue
        body = blob[body_start:body_end]
        # strip the HTTP envelope: payload begins after its header block
        lang = "und"
        payload = body
        http_end = body.find(b"\r\n\r\n")
        if body[:5] == b"HTTP/" and http_end >= 0:
            for line in body[:http_end].split(b"\r\n"):
                k, _, v = line.partition(b":")
                if _ and k.strip().lower() == b"x-crawl-lang":
                    lang = v.strip().decode("ascii", "replace")
            payload = body[http_end + 4 :]
        out.append((url, ts, payload, lang))
    return out


def _shard_rows(blob: bytes) -> list[tuple]:
    """One WARC shard blob → its pages rows (shared by the batch and
    streaming readers)."""
    return [
        (url, ts, payload, "", lang)
        for url, ts, payload, lang in parse_warc(bytes(blob))
    ]


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory (or glob) of ``.warc`` / ``.warc.gz`` shards into
    the pages schema. One ``binaryFile`` row per shard → one flat-map —
    shards process in parallel, records within a shard sequentially (the
    gzip-member constraint every WARC consumer shares)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
    )
    return map_rows(files, ["content"], _shard_rows, PAGES_DDL)


_BINARYFILE_DDL = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """Structured-Streaming variant: a LANDING-ZONE tail — each new WARC
    shard dropped into the directory becomes one micro-batch unit, parsed
    by the same flat-map as the batch reader. The file source tracks seen
    files in the checkpoint, so with a checkpointed sink each shard is
    ingested exactly once across restarts — this is how a crawler's
    rolling output feeds the warehouse continuously instead of by nightly
    batch. The binaryFile stream needs its schema pinned explicitly
    (streaming sources cannot infer); shards remain the parallelism unit
    and record-splitting stays sequential per shard, identical to batch."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_DDL)
        .option("pathGlobFilter", "*.warc*")
        .load(path)
    )
    return map_rows(files, ["content"], _shard_rows, PAGES_DDL)
