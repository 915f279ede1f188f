"""Multimodal plumbing: schemas, Arrow batch shapes, exploded row counts,
and determinism across runs. Image decode (PNG/GIF/JPEG), bilinear resize,
WAV audio features, and animated-GIF frame sampling are REAL stdlib paths;
mp4/webm video and no-stdlib-codec containers stay on the deterministic
stubs."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from multi_format_document_extractor_spark.multimodal import (
    extract_features,
    media_metadata,
    resize_images,
    sample_frames,
)
from multi_format_document_extractor_spark.multimodal.media import (
    decode_image_stub,
)


def _payloads(spark, n=40):
    rows = [(i, hashlib.sha256(str(i).encode()).digest() * 3) for i in range(n)]
    rows.append((n, None))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_media_metadata_schema_and_determinism(spark):
    df = _payloads(spark)
    out = media_metadata(df)
    assert [f.name for f in out.schema] == [
        "doc_id", "media_type", "n_bytes", "digest", "width", "height",
        "duration_ms",
    ]
    a = {r.doc_id: (r.digest, r.width, r.height) for r in out.collect()}
    b = {r.doc_id: (r.digest, r.width, r.height) for r in out.collect()}
    assert a == b  # deterministic across executions
    assert a[40] == ("", 0, 0)  # null payload → typed zero row, no exception


def test_resize_binary_roundtrip(spark):
    out = resize_images(_payloads(spark), 224, 224).collect()
    by_id = {r.doc_id: r for r in out}
    # binary column survives Arrow as bytes; output differs per payload
    p0, p1 = bytes(by_id[0].payload), bytes(by_id[1].payload)
    assert isinstance(p0, bytes) and len(p0) == 32 and p0 != p1
    assert by_id[40].payload is None
    assert all(r.width == 224 and r.height == 224 for r in out)


def test_sample_frames_exploded_counts(spark):
    df = _payloads(spark, 30)
    out = sample_frames(df, every_ms=500, max_frames=8)
    rows = out.collect()
    # exact expected fan-out from the deterministic fake duration
    expected = 0
    for i in range(30):
        p = hashlib.sha256(str(i).encode()).digest() * 3
        expected += 1 + hashlib.sha256(p).digest()[2] % 8
    assert len(rows) == expected  # null-payload row contributes nothing
    one = [r for r in rows if r.doc_id == 0]
    assert [r.frame_idx for r in sorted(one, key=lambda r: r.frame_idx)] == list(
        range(len(one))
    )
    assert all(r.ts_ms == r.frame_idx * 500 for r in one)


def test_registry_frames_query_cardinality(spark):
    """The multimodal_frames registry query's fan-out over the real
    documents table matches the deterministic fake's per-payload frame
    count (moved here from the query path — round-1 VERDICT #5)."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    out = entry_mod.queries()["multimodal_frames"](spark, sf)
    docs = (
        spark.read.parquet(sf + "/documents.parquet")
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
        .where(F.col("doc_id") < 200)
    )
    expected = sum(
        1 + hashlib.sha256(bytes(r.payload)).digest()[2] % 8
        for r in docs.collect()
        if r.payload is not None
    )
    assert out.count() == expected


def test_features_feed_similarity_ops(spark):
    """The fake featurizer's output is directly consumable by the ANN
    operators — same array<float> shape as the embeddings table."""
    from multi_format_document_extractor_spark.operators import similarity

    feats = extract_features(_payloads(spark, 20), dim=8).where(
        F.col("embedding").isNotNull()
    )
    vecs = feats.select(
        F.col("doc_id").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = vecs.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = similarity.brute_force_topk(vecs, q, k=5).collect()
    assert len(top) == 5
    assert top[0].vec_id == 0 and abs(top[0].score - 1.0) < 1e-6


def test_stub_matches_plain_python(spark):
    out = media_metadata(_payloads(spark, 5)).collect()
    for r in out:
        if r.doc_id == 5:  # the null-payload row
            continue
        p = hashlib.sha256(str(r.doc_id).encode()).digest() * 3
        assert (r.width, r.height) == decode_image_stub(p)


# ---------------------------------------------------------------------------
# REAL resize: fixed-point bilinear over the stdlib-decoded rasters
# ---------------------------------------------------------------------------


def test_resample_bilinear_invariants():
    from multi_format_document_extractor_spark.multimodal.media import (
        resample_gray8,
    )

    # constant regions are exact under the integer weights (Σw = 65536)
    flat = bytearray([77] * (9 * 7))
    for ow, oh in ((3, 2), (9, 7), (20, 15)):
        assert set(resample_gray8(flat, 9, 7, ow, oh)) == {77}
    # identity geometry reproduces the buffer byte-for-byte
    grad = bytearray((x * 11 + y * 3) % 256 for y in range(7) for x in range(9))
    assert resample_gray8(grad, 9, 7, 9, 7) == grad
    # a 2x2 checkerboard upscaled 4x: corners keep their source values
    # (half-pixel centers clamp at the edge), midline blends toward mid-gray
    cb = bytearray([0, 255, 255, 0])
    up = resample_gray8(cb, 2, 2, 8, 8)
    assert up[0] == 0 and up[7] == 255 and up[56] == 255 and up[63] == 0
    mid = up[3 * 8 + 3 : 3 * 8 + 5]
    assert all(60 < v < 200 for v in mid)
    # value range is always preserved (no fixed-point overflow)
    assert all(0 <= v <= 255 for v in up)
    import pytest

    with pytest.raises(ValueError):
        resample_gray8(flat, 9, 7, 0, 5)


def test_resize_image_real_all_containers():
    """Every decodable container resizes for REAL: decode → bilinear →
    PNG re-encode; background stays exactly 0xFF (constant-region
    exactness), ink survives, geometry is the target's."""
    from multi_format_document_extractor_spark.multimodal.media import (
        resize_image,
    )
    from multi_format_document_extractor_spark.oracle import (
        png_decode_gray8,
        render_gif,
        render_jpeg,
        render_png,
    )

    for payload in (
        render_png(["HELLO SPARK"]),
        render_gif(["HELLO SPARK"]),
        render_jpeg(["HELLO SPARK"]),
    ):
        out = resize_image(payload, 132, 32)
        w, h, px = png_decode_gray8(out)
        assert (w, h) == (132, 32)
        # background survives (JPEG quant=1 is within 1 LSB of 0xFF) and
        # so does ink — glyphs render from (0,0), so corners may be ink
        assert max(px) >= 254
        assert min(px) < 100
    # determinism across calls
    p = render_png(["AB"])
    assert resize_image(p, 50, 20) == resize_image(p, 50, 20)


def test_resize_images_mixed_containers(spark):
    from multi_format_document_extractor_spark.multimodal.media import (
        _resize_stub,
    )
    from multi_format_document_extractor_spark.oracle import (
        png_decode_gray8,
        render_jpeg,
        render_png,
    )

    png, jpg = render_png(["REAL PATH"]), render_jpeg(["REAL TOO"])
    opaque = hashlib.sha256(b"x").digest() * 3
    corrupt = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8
    df = spark.createDataFrame(
        [(0, png), (1, jpg), (2, opaque), (3, corrupt), (4, None)],
        "doc_id long, payload binary",
    )
    by_id = {r.doc_id: r for r in resize_images(df, 64, 24).collect()}
    for i in (0, 1):  # real containers → real PNG output at target dims
        w, h, _ = png_decode_gray8(bytes(by_id[i].payload))
        assert (w, h) == (64, 24)
    assert bytes(by_id[2].payload) == _resize_stub(opaque, 64, 24)
    assert by_id[3].payload is None  # corrupt container → error-as-data
    assert by_id[4].payload is None


# ---------------------------------------------------------------------------
# REAL audio: stdlib WAV parse + integer-exact PCM features
# ---------------------------------------------------------------------------


def test_wav_features_exact():
    import math

    from multi_format_document_extractor_spark.multimodal.media import (
        render_wav,
        wav_features,
    )

    samples = [0, 1000, -1000, 2000, -2000, 30000, -30000, 0]
    wav = render_wav(samples, sample_rate=8000)
    rate, ch, width, n_frames, dur, peak, rms = wav_features(wav)
    assert (rate, ch, width, n_frames) == (8000, 1, 2, 8)
    assert dur == 8 * 1000 // 8000
    assert peak == 30000
    assert rms == math.isqrt(sum(s * s for s in samples) // len(samples))
    # stereo: frames = samples // channels, features span both channels
    st = render_wav(samples, sample_rate=44100, channels=2)
    rate2, ch2, _, nf2, dur2, peak2, _ = wav_features(st)
    assert (rate2, ch2, nf2) == (44100, 2, 4)
    assert dur2 == 4 * 1000 // 44100 and peak2 == 30000
    # 8-bit unsigned path: values centered at 128
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(1000)
        wf.writeframes(bytes([128, 255, 0, 128]))
    rate3, _, width3, _, _, peak3, rms3 = wav_features(buf.getvalue())
    assert (rate3, width3, peak3) == (1000, 1, 128)
    assert rms3 == math.isqrt((0 + 127 * 127 + 128 * 128 + 0) // 4)
    # corrupt / non-WAV payloads raise (error-as-data upstream)
    import pytest

    for bad in (b"ID3\x04garbage", wav[:20], b"RIFF1234WAVE"):
        with pytest.raises(Exception):
            wav_features(bad)


def test_audio_metadata_spark(spark):
    from multi_format_document_extractor_spark.multimodal import (
        audio_metadata,
    )
    from multi_format_document_extractor_spark.multimodal.media import (
        render_wav,
        wav_features,
    )

    wav = render_wav(list(range(-500, 500, 10)), sample_rate=16000)
    df = spark.createDataFrame(
        [(0, wav), (1, b"ID3\x04not-a-wav"), (2, None)],
        "doc_id long, payload binary",
    )
    out = audio_metadata(df)
    assert [f.name for f in out.schema] == [
        "doc_id", "media_type", "n_bytes", "sample_rate", "channels",
        "sample_width", "n_frames", "duration_ms", "peak", "rms",
    ]
    by_id = {r.doc_id: r for r in out.collect()}
    rate, ch, width, nf, dur, peak, rms = wav_features(wav)
    got = by_id[0]
    assert (
        got.media_type, got.sample_rate, got.channels, got.sample_width,
        got.n_frames, got.duration_ms, got.peak, got.rms,
    ) == ("audio/wav", rate, ch, width, nf, dur, peak, rms)
    assert by_id[1].sample_rate is None and by_id[1].n_bytes == 13
    assert by_id[2].media_type == "unknown" and by_id[2].rms is None


def test_sniff_media_riff_forms():
    from multi_format_document_extractor_spark.multimodal.media import (
        render_wav,
        sniff_media,
    )

    assert sniff_media(render_wav([0, 1], 8000)) == "audio/wav"
    assert sniff_media(b"RIFF\x00\x00\x00\x00AVI LIST") == "video/avi"
    assert sniff_media(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "image/webp"
    assert sniff_media(b"RIFF\x00\x00\x00\x00????") == "application/octet-stream"
    assert sniff_media(b"RIFF") == "application/octet-stream"


# ---------------------------------------------------------------------------
# REAL animated-GIF frame sampling: GCE timeline + compositing
# ---------------------------------------------------------------------------


def test_gif_decode_frames_timeline_and_compositing():
    import pytest

    from multi_format_document_extractor_spark.oracle import (
        gif_decode_frames,
        render_gif,
        render_gif_animated,
    )

    # three full-screen frames with distinct delays
    gif = render_gif_animated(
        [["AAA"], ["BBB"], ["CCC"]], delays_ms=[100, 250, 50]
    )
    w, h, frames = gif_decode_frames(gif)
    assert (w, h) == (18, 8) and len(frames) == 3
    assert [d for d, _ in frames] == [100, 250, 50]
    # frames differ (different glyphs), same geometry
    assert frames[0][1] != frames[1][1] != frames[2][1]
    assert all(len(px) == w * h for _, px in frames)
    # a single-frame render_gif file decodes as a 1-frame animation
    w1, h1, single = gif_decode_frames(render_gif(["SOLO"]))
    assert len(single) == 1 and single[0][0] == 0
    # partial frames composite onto the running canvas: frame 2's rect is
    # its own bbox, so pixels right of it keep frame 1's content
    wide = render_gif_animated(
        [["WIDE FIRST"], ["X"]], delays_ms=[100, 100], partial_after_first=True
    )
    w2, h2, comp = gif_decode_frames(wide)
    assert len(comp) == 2
    # column beyond "X"'s 6px rect is unchanged from frame 1
    tail0 = [comp[0][1][y * w2 + x] for y in range(h2) for x in range(12, w2)]
    tail1 = [comp[1][1][y * w2 + x] for y in range(h2) for x in range(12, w2)]
    assert tail0 == tail1
    # but the X region did change
    head0 = [comp[0][1][y * w2 + x] for y in range(h2) for x in range(6)]
    head1 = [comp[1][1][y * w2 + x] for y in range(h2) for x in range(6)]
    assert head0 != head1
    # max_frames bounds the decode
    assert len(gif_decode_frames(gif, max_frames=2)[2]) == 2
    # corrupt payloads raise (error-as-data upstream)
    with pytest.raises(Exception):
        gif_decode_frames(b"GIF89a" + bytes(30))


def test_sample_frames_real_gif(spark):
    from multi_format_document_extractor_spark.multimodal.media import (
        sample_frames_real,
    )
    from multi_format_document_extractor_spark.oracle import (
        png_decode_gray8,
        render_gif_animated,
    )

    gif = render_gif_animated(
        [["ONE"], ["TWO"], ["SIX"]], delays_ms=[500, 500, 500]
    )
    # plain-python semantics: ticks at 0/400/800/1200, visible frame tracks
    # the timeline (starts 0/500/1000), total 1500ms
    out = sample_frames_real(gif, every_ms=400, max_frames=8)
    assert [ts for ts, _ in out] == [0, 400, 800, 1200]
    f0 = png_decode_gray8(out[0][1])
    assert f0[:2] == (18, 8)
    assert out[0][1] == out[1][1]  # both ticks inside frame 0's window
    assert out[2][1] != out[0][1]  # tick 800 sees frame 1
    # Spark path: GIF rows take the real path, opaque rows keep the fake
    opaque = hashlib.sha256(b"v").digest() * 3
    df = spark.createDataFrame(
        [(0, gif), (1, opaque), (2, b"GIF89a" + bytes(30)), (3, None)],
        "doc_id long, payload binary",
    )
    rows = sample_frames(df, every_ms=400, max_frames=8).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.doc_id, []).append(r)
    assert len(by_id[0]) == 4
    assert bytes(by_id[0][0].frame_payload)[:8] == b"\x89PNG\r\n\x1a\n"
    assert len(by_id[1]) == 1 + hashlib.sha256(opaque).digest()[2] % 8
    assert 2 not in by_id  # corrupt GIF → zero rows, no exception
    assert 3 not in by_id


def test_synth_wav_roundtrip_edges(spark):
    """Null text and no-printable-chars docs yield no row; a normal doc's
    features equal a hand computation through the REAL render+parse."""
    import math

    from multi_format_document_extractor_spark.multimodal import (
        synth_wav_roundtrip,
    )

    df = spark.createDataFrame(
        [
            (1, "Hello"),
            (2, None),
            (3, "\n\t\x1b"),  # nothing printable → no samples → no row
            (4, "O"),  # single 'O' sample = 0 → peak 0, rms 0
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in synth_wav_roundtrip(df).collect()}
    assert set(rows) == {1, 4}
    samples = [(ord(c) - 79) * 256 for c in "Hello"]
    assert rows[1]["n_frames"] == 5
    assert rows[1]["duration_ms"] == 5 * 1000 // 8000
    assert rows[1]["peak"] == max(abs(s) for s in samples)
    assert rows[1]["rms"] == math.isqrt(sum(s * s for s in samples) // 5)
    assert (rows[4]["peak"], rows[4]["rms"]) == (0, 0)


# ---------------------------------------------------------------------------
# ISO-BMFF (mp4) metadata box-walk: hand-built minimal fixtures
# ---------------------------------------------------------------------------


def _box(typ: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + typ + body


def _mp4_fixture(
    w: int = 640, h: int = 360, timescale: int = 1000, duration: int = 5400,
    v1: bool = False,
) -> bytes:
    if v1:
        mvhd = (
            bytes([1, 0, 0, 0]) + bytes(16)
            + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big")
            + bytes(80)
        )
        tkhd = (
            bytes([1, 0, 0, 0]) + bytes(16)
            + (1).to_bytes(4, "big") + bytes(4)
            + duration.to_bytes(8, "big") + bytes(8) + bytes(8) + bytes(36)
            + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
        )
    else:
        mvhd = (
            bytes(4) + bytes(8)
            + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
            + bytes(80)
        )
        tkhd = (
            bytes(4) + bytes(8)
            + (1).to_bytes(4, "big") + bytes(4)
            + duration.to_bytes(4, "big") + bytes(8) + bytes(8) + bytes(36)
            + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
        )
    moov = _box(b"moov", _box(b"mvhd", mvhd) + _box(b"trak", _box(b"tkhd", tkhd)))
    return (
        _box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
        + moov
        + _box(b"mdat", b"\x00" * 32)
    )


def test_mp4_metadata_box_walk():
    from multi_format_document_extractor_spark.multimodal.media import (
        mp4_metadata,
        sniff_media,
    )

    p = _mp4_fixture()
    assert sniff_media(p) == "video/mp4"
    assert mp4_metadata(p) == (640, 360, 5400)
    # version-1 (64-bit) mvhd/tkhd layout
    p1 = _mp4_fixture(w=1280, h=720, timescale=90000, duration=90000 * 7, v1=True)
    assert mp4_metadata(p1) == (1280, 720, 7000)
    # largesize (size==1 + 64-bit length) moov wrapper still walks:
    # rewrite the fixture's moov header to the 16-byte largesize form
    body = _mp4_fixture()
    moov_at = body.find(b"moov") - 4
    moov_size = int.from_bytes(body[moov_at : moov_at + 4], "big")
    large = (
        body[:moov_at]
        + (1).to_bytes(4, "big")
        + b"moov"
        + (moov_size + 8).to_bytes(8, "big")
        + body[moov_at + 8 : moov_at + moov_size]
        + body[moov_at + moov_size :]
    )
    assert mp4_metadata(large) == (640, 360, 5400)
    # v1 mvhd SHORTER than its fixed layout: skipped, never read at v0
    # offsets (which would report timestamp bytes as a real duration)
    from multi_format_document_extractor_spark.multimodal.media import _box as mbox

    short_v1 = mbox(b"ftyp", b"isom") + mbox(
        b"moov", mbox(b"mvhd", b"\x01" + bytes(23))
    )
    assert mp4_metadata(short_v1) == (0, 0, 0)
    # empty tkhd box (no version byte): degrade, not IndexError
    empty_tkhd = mbox(b"ftyp", b"isom") + mbox(
        b"moov", mbox(b"trak", mbox(b"tkhd", b""))
    )
    assert mp4_metadata(empty_tkhd) == (0, 0, 0)
    # not ISO-BMFF → None; truncated box tree → degrades to zero fields
    assert mp4_metadata(b"\x89PNG\r\n\x1a\nxxxx") is None
    trunc = p[: moov_at + 20]
    got = mp4_metadata(trunc)
    assert got is None or got == (0, 0, 0)


def test_mp4_rows_through_media_metadata(spark):
    from multi_format_document_extractor_spark.multimodal import media_metadata

    rows = [
        (0, _mp4_fixture()),
        (1, _mp4_fixture(w=320, h=240, timescale=600, duration=1200)),
        (2, b"\x00\x00\x00\x0cftypisom"),  # ftyp only, no moov
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    by_id = {r.doc_id: r for r in media_metadata(df).collect()}
    assert by_id[0].media_type == "video/mp4"
    assert (by_id[0].width, by_id[0].height, by_id[0].duration_ms) == (640, 360, 5400)
    assert (by_id[1].width, by_id[1].height, by_id[1].duration_ms) == (320, 240, 2000)
    assert (by_id[2].width, by_id[2].height, by_id[2].duration_ms) == (0, 0, 0)


def test_gif_frames_registry_timeline(spark):
    """gif_frames samples the REAL GCE timeline: a doc with k frames x
    400 ms yields 1 + (400k - 1) // 500 rows at ts = 0, 500, ..."""
    import __spark_entry__ as entry_mod
    from collections import Counter

    rows = entry_mod.queries()["gif_frames"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    per_doc = Counter(r.doc_id for r in rows)
    assert per_doc  # non-empty
    for doc_id, cnt in per_doc.items():
        k = 2 + doc_id % 3
        assert cnt == 1 + (400 * k - 1) // 500, (doc_id, cnt)
    for r in rows:
        assert r.ts_ms == r.frame_idx * 500
        assert r.frame_bytes > 0  # real PNG frame payloads, not digests


# ---------------------------------------------------------------------------
# Round 5: REAL container walks — WebP/TIFF geometry, mp3 frame chain,
# Ogg page walk — and their writer halves.
# ---------------------------------------------------------------------------


def test_webp_dims_all_chunk_forms():
    from multi_format_document_extractor_spark.multimodal.media import (
        render_webp,
        sniff_media,
        webp_dims,
    )

    for variant in ("vp8l", "vp8", "vp8x"):
        p = render_webp(307, 211, variant, body=b"\xaa" * 9)
        assert sniff_media(p) == "image/webp"
        assert webp_dims(p) == (307, 211), variant
    # 14-bit extremes survive the packed layouts
    assert webp_dims(render_webp(16384, 1, "vp8l")) == (16384, 1)
    assert webp_dims(render_webp(1, 16384, "vp8l")) == (1, 16384)
    # odd-sized chunk before the geometry chunk: even-alignment padding
    # must be skipped, not mis-walked
    from multi_format_document_extractor_spark.multimodal.media import _riff_webp

    vp8l = render_webp(50, 60, "vp8l")[12:]  # the inner chunk alone
    odd = _riff_webp(b"XMP ", b"\x01\x02\x03")[:12]  # RIFF hdr w/ XMP len
    prefixed = (
        b"RIFF"
        + (4 + 8 + 4 + len(vp8l)).to_bytes(4, "little")
        + b"WEBP"
        + b"XMP "
        + (3).to_bytes(4, "little")
        + b"\x01\x02\x03\x00"  # pad byte
        + vp8l
    )
    assert webp_dims(prefixed) == (50, 60)
    # malformed: truncated chunk body, interframe VP8, non-WebP RIFF
    assert webp_dims(b"RIFF\x20\x00\x00\x00WEBPVP8L\xff\xff\xff\xff\x2f") is None
    bad_vp8 = render_webp(10, 10, "vp8")
    bad_vp8 = bad_vp8.replace(b"\x9d\x01\x2a", b"\x00\x00\x00")
    assert webp_dims(bad_vp8) is None
    assert webp_dims(b"RIFF\x04\x00\x00\x00WAVE") is None


def test_tiff_dims_both_byte_orders():
    from multi_format_document_extractor_spark.multimodal.media import (
        render_tiff,
        sniff_media,
        tiff_dims,
    )

    for be in (False, True):
        p = render_tiff(123, 45, big_endian=be)
        assert sniff_media(p) == "image/tiff"
        assert tiff_dims(p) == (123, 45)
    # a LONG-typed ImageLength and SHORT-typed ImageWidth both parse
    # (render_tiff writes exactly that mix); IFD offset past the buffer
    # and a missing tag both degrade to None instead of raising
    assert tiff_dims(b"II*\x00\xff\xff\xff\xff") is None
    assert tiff_dims(b"MM\x00*\x00\x00\x00\x08\x00\x00\x00\x00\x00\x00") is None
    assert tiff_dims(b"not a tiff") is None


def test_mp3_frame_walk():
    from multi_format_document_extractor_spark.multimodal.media import (
        mp3_metadata,
        render_mp3,
        sniff_media,
    )

    # all three MPEG-1 sample rates, mono + stereo, with/without ID3v2
    for sr in (44100, 48000, 32000):
        for ch in (1, 2):
            p = render_mp3(9, 128, sr, ch, id3=ch == 1)
            assert sniff_media(p) == "audio/mpeg"
            rate, c, nf, samples, dur = mp3_metadata(p)
            assert (rate, c, nf, samples) == (sr, ch, 9, 9 * 1152)
            assert dur == 9 * 1152 * 1000 // sr
    # a truncated final frame carries no decodable audio: not counted
    p = render_mp3(3)
    rate, _c, nf, _s, _d = mp3_metadata(p[:-1])
    assert nf == 2
    # ID3 tag with no frames / random bytes: error-as-data raise
    import hashlib

    import pytest

    with pytest.raises(ValueError):
        mp3_metadata(b"ID3\x04\x00\x00\x00\x00\x00\x04junk")
    with pytest.raises(ValueError):
        mp3_metadata(hashlib.sha256(b"x").digest() * 4)
    # reserved header index values never sniff as audio
    assert sniff_media(b"\xff\xfb\xf0\x00") == "application/octet-stream"  # br=15
    assert sniff_media(b"\xff\xeb\x90\x00") == "application/octet-stream"  # ver=01


def test_ogg_page_walk():
    from multi_format_document_extractor_spark.multimodal.media import (
        _ogg_crc,
        ogg_metadata,
        render_ogg,
        sniff_media,
    )

    # the RFC 3533 CRC parameterization (poly 0x04C11DB7, init 0, no
    # reflection, no final xor) — published check value
    assert _ogg_crc(b"123456789") == 0x89A1897F
    p = render_ogg(44100 * 3 + 7, 44100, 2, "vorbis")
    assert sniff_media(p) == "audio/ogg"
    assert ogg_metadata(p) == ("vorbis", 44100, 2, (44100 * 3 + 7) * 1000 // 44100)
    # Opus granules tick at 48 kHz and lead with the 312-sample pre-skip
    p = render_ogg(48000 * 2 + 312, 48000, 1, "opus")
    assert ogg_metadata(p) == ("opus", 48000, 1, 2000)
    # truncated page chain keeps the fields already walked
    full = render_ogg(44100, 44100, 2, "vorbis")
    codec, rate, ch, dur = ogg_metadata(full[:60])
    assert (codec, rate, ch, dur) == ("vorbis", 44100, 2, 0)
    import pytest

    with pytest.raises(ValueError):
        ogg_metadata(b"OggS\x00\x00" + b"\x00" * 40)  # no ident header
    with pytest.raises(ValueError):
        ogg_metadata(b"not ogg")


def test_media_metadata_new_containers_spark(spark):
    from multi_format_document_extractor_spark.multimodal import media_metadata
    from multi_format_document_extractor_spark.multimodal.media import (
        render_mp3,
        render_ogg,
        render_tiff,
        render_webp,
    )

    rows = [
        (0, render_webp(320, 240, "vp8x")),
        (1, render_tiff(64, 32, big_endian=True)),
        (2, render_mp3(10)),
        (3, render_ogg(88200, 44100, 2, "vorbis")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    by_id = {r.doc_id: r for r in media_metadata(df).collect()}
    assert (by_id[0].media_type, by_id[0].width, by_id[0].height) == (
        "image/webp", 320, 240,
    )
    assert (by_id[1].media_type, by_id[1].width, by_id[1].height) == (
        "image/tiff", 64, 32,
    )
    assert (by_id[2].media_type, by_id[2].duration_ms) == (
        "audio/mpeg", 10 * 1152 * 1000 // 44100,
    )
    assert (by_id[3].media_type, by_id[3].duration_ms) == ("audio/ogg", 2000)


def test_audio_metadata_mp3_ogg_spark(spark):
    from multi_format_document_extractor_spark.multimodal import audio_metadata
    from multi_format_document_extractor_spark.multimodal.media import (
        render_mp3,
        render_ogg,
    )

    rows = [
        (0, render_mp3(6, 128, 48000, 1)),
        (1, render_ogg(24000, 48000, 2, "opus")),
        (2, b"ID3\x04not-audio"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    by_id = {r.doc_id: r for r in audio_metadata(df).collect()}
    assert (
        by_id[0].media_type, by_id[0].sample_rate, by_id[0].channels,
        by_id[0].n_frames, by_id[0].duration_ms,
    ) == ("audio/mpeg", 48000, 1, 6 * 1152, 6 * 1152 * 1000 // 48000)
    # PCM features stay null: container walk, not entropy decode
    assert by_id[0].peak is None and by_id[0].sample_width is None
    assert (
        by_id[1].media_type, by_id[1].sample_rate, by_id[1].channels,
        by_id[1].duration_ms,
    ) == ("audio/ogg", 48000, 2, (24000 - 312) * 1000 // 48000)
    assert by_id[2].sample_rate is None and by_id[2].media_type == "audio/mpeg"


def test_bmp_dims_and_weak_magic():
    from multi_format_document_extractor_spark.multimodal.media import (
        bmp_dims,
        decode_image_stub,
        render_bmp,
        sniff_media,
        _meta_of,
    )

    for td in (False, True):  # bottom-up and top-down (negative height)
        p = render_bmp(123, 45, top_down=td)
        assert sniff_media(p) == "image/bmp"
        assert bmp_dims(p) == (123, 45)
    # "BM" is a weak 2-byte magic: text starting with it must NOT be
    # claimed — sniff declines and media_metadata keeps the digest stub
    txt = b"BM plain text that happens to start with BM, a sentence."
    assert bmp_dims(txt) is None
    assert sniff_media(txt) == "application/octet-stream"
    assert _meta_of(txt) == (*decode_image_stub(txt), 0)
    # BITMAPCOREHEADER (12-byte DIB) is declined by design
    core = b"BM" + bytes(12) + (12).to_bytes(4, "little") + bytes(8)
    assert bmp_dims(core) is None


def test_meta_follows_sniff_verdict():
    """media_metadata's dims come from the reader for the type sniff_media
    reports: an ISO-BMFF payload whose first box size happens to spell
    "BM" sniffs as video/mp4 and must get BMFF metadata (zeros here: the
    size now overruns the payload), never the digest stub of the weak
    BMP magic."""
    from multi_format_document_extractor_spark.multimodal.media import (
        decode_image_stub,
        mp4_metadata,
        render_mp4,
        sniff_media,
        _meta_of,
    )

    p = b"BM" + render_mp4(320, 240, 5000)[2:]
    assert sniff_media(p) == "video/mp4"
    assert mp4_metadata(p) is None
    assert _meta_of(p) == (0, 0, 0)
    assert _meta_of(p)[:2] != decode_image_stub(p)


def test_flac_streaminfo_walk():
    import pytest

    from multi_format_document_extractor_spark.multimodal.media import (
        flac_metadata,
        render_flac,
        sniff_media,
        _meta_of,
    )

    p = render_flac(44100 * 3 + 7, 44100, 2, 16)
    assert sniff_media(p) == "audio/flac"
    assert flac_metadata(p) == (
        44100, 2, 16, 44100 * 3 + 7, (44100 * 3 + 7) * 1000 // 44100,
    )
    assert _meta_of(p) == (0, 0, (44100 * 3 + 7) * 1000 // 44100)
    # 96k/24-bit exercises the full 20/5-bit field widths
    assert flac_metadata(render_flac(192000, 96000, 1, 24)) == (
        96000, 1, 24, 192000, 2000,
    )
    with pytest.raises(ValueError):
        flac_metadata(b"fLaC\x80\x00\x05short")
    with pytest.raises(ValueError):
        flac_metadata(b"not flac")


def test_webm_ebml_walk():
    import pytest

    from multi_format_document_extractor_spark.multimodal.media import (
        render_webm,
        sniff_media,
        webm_metadata,
        _meta_of,
    )

    p = render_webm(1280, 720, 5400)
    assert sniff_media(p) == "video/webm"
    assert webm_metadata(p) == (1280, 720, 5400)
    assert _meta_of(p) == (1280, 720, 5400)
    # float64 Duration is integer-exact well past day-scale timelines
    assert webm_metadata(render_webm(100, 100, 86_400_000))[2] == 86_400_000
    # truncated EBML tree degrades to walked-so-far, never raises
    w, h, d = webm_metadata(p[: len(p) // 2])
    assert isinstance(w, int) and isinstance(d, int)
    with pytest.raises(ValueError):
        webm_metadata(b"not ebml")


def test_avi_hdrl_walk():
    from multi_format_document_extractor_spark.multimodal.media import (
        avi_metadata,
        render_avi,
        sniff_media,
        _meta_of,
    )

    p = render_avi(640, 480, 250, 40_000)  # 25 fps x 10 s
    assert sniff_media(p) == "video/avi"
    assert avi_metadata(p) == (640, 480, 10_000)
    assert _meta_of(p) == (640, 480, 10_000)
    # AVI form with no avih: None at the parser, zeros at the metadata op
    assert avi_metadata(b"RIFF\x04\x00\x00\x00AVI ") is None
    assert _meta_of(b"RIFF\x04\x00\x00\x00AVI ") == (0, 0, 0)
    assert avi_metadata(b"RIFF\x00\x00\x00\x00WAVE") is None


# ---------------------------------------------------------------------------
# Totality fuzz: every container walk must be total on arbitrary bytes —
# None/zero-field degrade or a documented ValueError, never any other
# exception (the walks run inside the error-as-data mapInPandas stages).
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_raw = st.binary(max_size=512)
_structured = st.one_of(
    _raw,
    # magic-prefixed noise drives the walks past their first gate
    st.tuples(
        st.sampled_from(
            [
                b"RIFF\x20\x00\x00\x00WEBP", b"RIFF\x20\x00\x00\x00AVI ",
                b"II*\x00", b"MM\x00*", b"BM", b"fLaC", b"OggS", b"ID3",
                b"\x1a\x45\xdf\xa3", b"\xff\xfb", b"\x00\x00\x00\x18ftyp",
            ]
        ),
        _raw,
    ).map(lambda t: t[0] + t[1]),
)


@settings(max_examples=300, deadline=None)
@given(_structured)
def test_container_walks_are_total(payload):
    from multi_format_document_extractor_spark.multimodal.media import (
        _meta_of,
        avi_metadata,
        bmp_dims,
        flac_metadata,
        mp3_metadata,
        mp4_metadata,
        ogg_metadata,
        sniff_media,
        tiff_dims,
        webm_metadata,
        webp_dims,
    )

    for fn in (webp_dims, tiff_dims, bmp_dims, avi_metadata, mp4_metadata):
        r = fn(payload)
        assert r is None or isinstance(r, tuple)
    for fn in (mp3_metadata, ogg_metadata, flac_metadata, webm_metadata):
        try:
            r = fn(payload)
            assert isinstance(r, tuple)
        except ValueError:
            pass  # the documented reject
    assert isinstance(sniff_media(payload), str)
    meta = _meta_of(payload)  # the Spark-facing entry: NEVER raises
    assert isinstance(meta, tuple) and len(meta) == 3


def test_crafted_deep_nesting_is_bounded():
    """Adversarial deeply-nested master elements must not blow the
    recursion limit: 50k nested EBML TrackEntry / AVI LIST frames."""
    from multi_format_document_extractor_spark.multimodal.media import (
        avi_metadata,
        webm_metadata,
    )

    deep = b"\x1a\x45\xdf\xa3\x82hi" + b"\xae\xff" * 50_000
    w, h, d = webm_metadata(deep)  # depth-capped walk, no RecursionError
    assert (w, h, d) == (0, 0, 0)
    lists = b"LIST" + (10**9).to_bytes(4, "little") + b"hdrl"
    avi = b"RIFF" + (10**9).to_bytes(4, "little") + b"AVI " + lists * 20_000
    assert avi_metadata(avi) is None


def test_exif_and_id3_tag_walks():
    import pytest

    from multi_format_document_extractor_spark.multimodal.media import (
        exif_meta,
        id3_tags,
        mp3_metadata,
        render_exif_jpeg,
        render_id3v2,
        render_mp3,
        sniff_media,
    )

    p = render_exif_jpeg("CAM1", "MODEL X100", "2026:01:05 12:30:00")
    assert sniff_media(p) == "image/jpeg"
    assert exif_meta(p) == {
        "make": "CAM1", "model": "MODEL X100", "shot_at": "2026:01:05 12:30:00",
    }
    # inline (≤4-byte) ASCII values take the other IFD value path
    assert exif_meta(render_exif_jpeg("abc", "m", "d")) == {
        "make": "abc", "model": "m", "shot_at": "d",
    }
    assert exif_meta(b"\xff\xd8\xff\xd9") == {}
    assert exif_meta(b"not jpeg") == {}
    frames = {"TIT2": "My Title", "TPE1": "Artist Nämé", "TALB": "Album 9"}
    for ver in (3, 4):  # both frame-size dialects + text encodings
        tagged = render_id3v2(frames, version=ver) + render_mp3(3)
        assert id3_tags(tagged) == frames, ver
        # the tag must not break the frame-chain walk underneath
        assert mp3_metadata(tagged)[2] == 3
    assert id3_tags(b"ID3\x04\x00\x00\x00\x00\x00\x00") == {}
    with pytest.raises(ValueError):
        render_id3v2({}, version=2)


def test_id3_tags_skip_extended_header():
    """Flag 0x40 puts an extended header before the first frame: its v2.4
    size is syncsafe and counts itself, its v2.3 size is plain and does
    not. The frame walk must start after it."""
    from multi_format_document_extractor_spark.multimodal.media import (
        _syncsafe_bytes,
        id3_tags,
        render_id3v2,
    )

    frames = {"TIT2": "Title", "TPE1": "Artist"}
    exts = {
        4: _syncsafe_bytes(6) + b"\x01\x00",  # size, 1 flag byte, flags
        3: (6).to_bytes(4, "big") + b"\x00\x00" + bytes(4),  # + padding size
    }
    for ver, ext in exts.items():
        body = ext + render_id3v2(frames, version=ver)[10:]
        tag = b"ID3" + bytes([ver, 0, 0x40]) + _syncsafe_bytes(len(body)) + body
        assert id3_tags(tag) == frames, ver
        assert id3_tags(tag[:12]) == {}  # flag set, extended header cut off


def test_ogg_ident_from_bos_page_and_granule_per_serial():
    """A multiplexed Ogg file: the audio geometry comes from the BOS page
    that carries an identification header, never from a later page whose
    body merely looks like one, and the duration counts only that logical
    stream's granules."""
    from multi_format_document_extractor_spark.multimodal.media import (
        _ogg_page,
        ogg_metadata,
    )

    fake_ident = b"\x01vorbis" + bytes(4) + b"\x01" + (8000).to_bytes(4, "little")
    vorbis = (
        b"\x01vorbis" + bytes(4) + b"\x02" + (44100).to_bytes(4, "little")
        + bytes(12) + b"\xb8\x01"
    )
    p = (
        _ogg_page(9, 0, 0, b"\x80theora" + bytes(34), bos=True)
        + _ogg_page(9, 1, 0, fake_ident)
        + _ogg_page(5, 0, 0, vorbis, bos=True)
        + _ogg_page(9, 2, 10**9, b"\x00", eos=True)
        + _ogg_page(5, 1, 88200, b"\x00", eos=True)
    )
    assert ogg_metadata(p) == ("vorbis", 44100, 2, 2000)


def test_media_tags_spark(spark):
    from multi_format_document_extractor_spark.multimodal import media_tags
    from multi_format_document_extractor_spark.multimodal.media import (
        render_exif_jpeg,
        render_id3v2,
        render_mp3,
    )

    rows = [
        (0, render_id3v2({"TIT2": "T0", "TPE1": "A0"}) + render_mp3(2)),
        (1, render_exif_jpeg("CAMX", "MX", "2026:02:01 00:00:00")),
        (2, b"\xff\xd8\xff\xd9"),  # JPEG, no Exif: all-null tag columns
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    by_id = {r.doc_id: r for r in media_tags(df).collect()}
    assert (by_id[0].media_type, by_id[0].title, by_id[0].artist, by_id[0].album) == (
        "audio/mpeg", "T0", "A0", None,
    )
    assert (by_id[1].make, by_id[1].model, by_id[1].shot_at) == (
        "CAMX", "MX", "2026:02:01 00:00:00",
    )
    assert by_id[2].make is None and by_id[2].media_type == "image/jpeg"
    assert by_id[3].title is None and by_id[3].media_type == "unknown"


def test_png_text_chunks_roundtrip():
    from multi_format_document_extractor_spark.multimodal.media import (
        add_png_text,
        media_tags,
        png_text_chunks,
    )
    from multi_format_document_extractor_spark.oracle import (
        png_decode_gray8,
        render_png,
    )

    png = render_png(["HELLO"])
    tagged = add_png_text(png, {"Title": "T1", "Author": "A1"})
    assert png_text_chunks(tagged) == {"Title": "T1", "Author": "A1"}
    # the inserted chunks are CRC-correct and the image still decodes
    # pixel-identically — tEXt rides a REAL PNG, not a husk
    assert png_decode_gray8(tagged)[:2] == png_decode_gray8(png)[:2]
    assert bytes(png_decode_gray8(tagged)[2]) == bytes(png_decode_gray8(png)[2])
    assert png_text_chunks(png) == {}
    assert png_text_chunks(b"\x89PNG\r\n\x1a\n\xff\xff\xff\xff") == {}


def test_hostile_field_values_degrade_not_overflow(spark):
    """Crafted-but-parseable containers whose FIELDS are hostile (huge
    dims, inf durations, 63-bit granules) must degrade per error-as-data
    — previously they rode through Python unbounded and crashed the
    whole mapInPandas batch at Arrow int32/int64 conversion."""
    import struct

    from multi_format_document_extractor_spark.multimodal import (
        audio_metadata,
        media_metadata,
    )
    from multi_format_document_extractor_spark.multimodal.media import (
        _MS_CAP,
        _ebml_el,
        avi_metadata,
        mp4_metadata,
        ogg_metadata,
        render_avi,
        webm_metadata,
        _ogg_page,
    )

    # webm: 8-byte PixelWidth and Duration 1e300 / nan
    hostile_webm = (
        b"\x1a\x45\xdf\xa3\x82hi"
        + _ebml_el(
            0x18538067,
            _ebml_el(0x1549A966, _ebml_el(0x4489, struct.pack(">d", 1e300)))
            + _ebml_el(
                0x1654AE6B,
                _ebml_el(
                    0xAE,
                    _ebml_el(0xE0, _ebml_el(0xB0, (2**63 - 1).to_bytes(8, "big"))),
                ),
            ),
        )
    )
    w, h, d = webm_metadata(hostile_webm)
    assert w == 0 and d == _MS_CAP
    nan_webm = hostile_webm.replace(struct.pack(">d", 1e300), struct.pack(">d", float("nan")))
    assert webm_metadata(nan_webm)[2] == 0
    # avi: 32-bit dims
    hostile_avi = bytearray(render_avi(640, 480, 250))
    i = bytes(hostile_avi).find(b"avih") + 8 + 32
    hostile_avi[i : i + 4] = b"\xff\xff\xff\xff"
    assert avi_metadata(bytes(hostile_avi)) is None
    # mp4: v1 64-bit tick count with timescale 1
    from multi_format_document_extractor_spark.multimodal.media import _box

    mvhd = b"\x01" + bytes(19) + (1).to_bytes(4, "big") + (2**63).to_bytes(8, "big") + bytes(80)
    hostile_mp4 = _box(b"ftyp", b"isom") + _box(b"moov", _box(b"mvhd", mvhd))
    assert mp4_metadata(hostile_mp4)[2] == _MS_CAP
    # ogg: 62-bit granule at rate 1... vorbis ident with rate 1
    ident = (b"\x01vorbis" + bytes(4) + bytes([1]) + (1).to_bytes(4, "little")
             + bytes(12) + bytes([0xB8]) + b"\x01")
    hostile_ogg = _ogg_page(1, 0, 0, ident, bos=True) + _ogg_page(1, 1, 2**62, b"\x00", eos=True)
    assert ogg_metadata(hostile_ogg)[3] == _MS_CAP
    # and the REAL crash surface: all of them through one Spark batch
    rows = [(0, hostile_webm), (1, bytes(hostile_avi)), (2, hostile_mp4)]
    by_id = {
        r.doc_id: r
        for r in media_metadata(
            spark.createDataFrame(rows, "doc_id long, payload binary")
        ).collect()
    }
    assert by_id[0].width == 0 and by_id[0].duration_ms == _MS_CAP
    assert (by_id[1].width, by_id[1].height) == (0, 0)
    assert by_id[2].duration_ms == _MS_CAP
    arows = audio_metadata(
        spark.createDataFrame([(0, hostile_ogg)], "doc_id long, payload binary")
    ).collect()
    assert arows[0].duration_ms == _MS_CAP


def test_registry_variant_selectors_not_degenerate():
    """The roundtrip queries' variant selectors must actually vary within
    their residue class — a selector correlated with the class modulus
    silently drops a container form from the oracle sweep (caught in the
    round-5 review: doc_id %% 2 is constant on a %% 8 class)."""
    ids = range(250)
    # media_dims: TIFF endianness and BMP row order both alternate
    assert {(i // 8) % 2 for i in ids if i % 8 == 3} == {0, 1}
    assert {(i // 8) % 2 for i in ids if i % 8 == 5} == {0, 1}
    # audio_container_meta: FLAC hits all three sample rates
    assert {(i // 6) % 3 for i in ids if i % 6 == 5} == {0, 1, 2}
    # ...and both channel counts on every branch
    for cls in (0, 1):
        assert {1 + (i // 2) % 2 for i in ids if i % 2 == cls} == {1, 2}


def test_hostile_rate_and_tiff_dims_degrade():
    """Follow-up to the overflow class: TIFF 32-bit LONG dims, Ogg/WAV
    4-byte sample rates, and oversized EBML TimestampScale elements must
    degrade (None / ValueError / field skip), not overflow the int32
    columns or raise OverflowError."""
    import pytest

    from multi_format_document_extractor_spark.multimodal.media import (
        _ebml_el,
        _ogg_page,
        ogg_metadata,
        tiff_dims,
        webm_metadata,
    )

    bo = "little"
    e1 = (
        (256).to_bytes(2, bo) + (4).to_bytes(2, bo)
        + (1).to_bytes(4, bo) + (0xFFFFFFFF).to_bytes(4, bo)
    )
    e2 = (
        (257).to_bytes(2, bo) + (3).to_bytes(2, bo)
        + (1).to_bytes(4, bo) + (1).to_bytes(2, bo) + b"\x00\x00"
    )
    tiff = (
        b"II*\x00" + (8).to_bytes(4, bo) + (2).to_bytes(2, bo)
        + e1 + e2 + bytes(4)
    )
    assert tiff_dims(tiff) is None
    ident = (
        b"\x01vorbis" + bytes(4) + bytes([2]) + b"\xff\xff\xff\xff"
        + bytes(12) + bytes([0xB8]) + b"\x01"
    )
    hostile = _ogg_page(1, 0, 0, ident, bos=True) + _ogg_page(1, 1, 9, b"\x00", eos=True)
    with pytest.raises(ValueError):
        ogg_metadata(hostile)
    # 150-byte TimestampScale: skipped at field level, dims survive
    p = b"\x1a\x45\xdf\xa3\x82hi" + _ebml_el(
        0x18538067,
        _ebml_el(0x1549A966, _ebml_el(0x2AD7B1, b"\xff" * 150))
        + _ebml_el(
            0x1654AE6B,
            _ebml_el(0xAE, _ebml_el(0xE0, _ebml_el(0xB0, (640).to_bytes(2, "big")))),
        ),
    )
    assert webm_metadata(p) == (640, 0, 0)
