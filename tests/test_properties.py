"""Property-based tests (hypothesis) for the single-node oracle — the
module that defines the engine's byte-identity contract — plus a seeded
randomized Spark⇄oracle agreement sweep.

The oracle must be TOTAL (any bytes → Extracted, never an exception — the
reference turns parse errors into data, src/pipeline.py:171-180) and
DETERMINISTIC (same payload → same bytes, the precondition for distributed
byte-identity)."""

from __future__ import annotations

import random
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from multi_format_document_extractor_spark.oracle import (
    FORMAT_HTML,
    FORMAT_CSV,
    FORMAT_IMAGE,
    FORMAT_PBM,
    FORMAT_PDF,
    FORMAT_TEXT,
    FORMAT_UNKNOWN,
    FORMAT_ZIP,
    WHATWG_LABELS,
    _DETECT_MIN_LETTERS,
    _ISO2022_SIGS,
    _SB_CANDIDATES,
    extract,
    sniff_format,
)

any_bytes = st.binary(min_size=0, max_size=4096)

# decode_web's closed answer space: WHATWG canonical names (declaration
# won), '<canonical>+detected' for the statistical/signature candidates,
# and the chain picks. Anything else is a bug.
_DECODE_ANSWERS = (
    {name for name, _codec in WHATWG_LABELS.values()}
    | {"utf-8", "latin-1"}
    | {"iso-2022-jp+detected"}
    | {name + "+detected" for name, _c, _f, _b in _SB_CANDIDATES}
    | {n + "+detected" for n in ("shift_jis", "euc-kr", "gbk", "big5")}
)


@settings(max_examples=300, deadline=None)
@given(any_bytes)
def test_extract_is_total_and_deterministic(payload):
    a = extract(payload)
    b = extract(payload)
    assert isinstance(a.text, bytes)
    assert (a.format, a.text, a.n_blocks, a.ok, a.error, a.encoding) == (
        b.format,
        b.text,
        b.n_blocks,
        b.ok,
        b.error,
        b.encoding,
    )
    assert a.checksum == zlib.crc32(a.text)
    # encoding: html/text/csv record decode_web's pick — any member of
    # its closed answer space (a declaration the payload happens to
    # carry, a statistical '<name>+detected' claim when the evidence
    # floor is met, or a chain pick); formats that never reach the
    # decoder record None. When the payload carries no declaration, no
    # iso-2022 signature, and too few high bytes to clear the detector's
    # evidence floor, the answer must be exactly the chain's.
    if a.format in (FORMAT_HTML, FORMAT_TEXT, FORMAT_CSV) and a.ok:
        assert a.encoding in _DECODE_ANSWERS, a.encoding
        undeclared = (
            not payload.startswith((b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff"))
            and b"<meta" not in payload[:1024].lower()
            and not any(sig in payload for sig in _ISO2022_SIGS)
        )
        n_high = sum(b > 127 for b in payload)
        if undeclared and n_high < _DETECT_MIN_LETTERS:
            try:
                payload.decode("utf-8")
                assert a.encoding == "utf-8"
            except UnicodeDecodeError:
                assert a.encoding == "latin-1"
    else:
        assert a.encoding is None
    assert a.format in (
        FORMAT_HTML,
        FORMAT_PDF,
        FORMAT_TEXT,
        FORMAT_CSV,
        FORMAT_PBM,
        FORMAT_ZIP,
        FORMAT_IMAGE,
        FORMAT_UNKNOWN,
    )
    if payload:
        assert a.format != FORMAT_UNKNOWN
    else:
        assert a.format == FORMAT_UNKNOWN and not a.ok


def _model_sniff(payload: bytes | None) -> str:
    """Independent restatement of the sniff spec (NOT the implementation):
    magic prefixes first, then a 16-byte probe whose leading whitespace is
    exactly ``" \\t\\r\\n"`` (NOT Python's default lstrip set — 0xA0 NBSP and
    Unicode spaces must fall through to text), then the structural CSV
    probe: within the first 4096 bytes, line 1 (split on LF, one trailing
    CR stripped) has ≥2 commas and line 2 is present, non-empty, with the
    same comma count."""
    if not payload:
        return FORMAT_UNKNOWN
    if payload.startswith(b"%PDF-"):
        return FORMAT_PDF
    if payload.startswith(b"PK\x03\x04"):
        return FORMAT_ZIP
    if payload.startswith((b"\x89PNG", b"\xff\xd8\xff", b"GIF8")):
        return FORMAT_IMAGE
    if payload[:2] == b"P4" and payload[2:3] in (b" ", b"\t", b"\r", b"\n"):
        return FORMAT_PBM
    # BOM family: html iff the first non-whitespace CHARACTER in the BOM's
    # encoding is '<' within the probe window (16 bytes after a utf-8 BOM,
    # 32 bytes / 16 code units after a utf-16 one); never CSV.
    if payload[:3] == b"\xef\xbb\xbf":
        i = 3
        while i < min(len(payload), 19) and payload[i : i + 1] in (
            b" ", b"\t", b"\r", b"\n",
        ):
            i += 1
        return (
            FORMAT_HTML
            if i < 19 and payload[i : i + 1] == b"<"
            else FORMAT_TEXT
        )
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        le = payload[:2] == b"\xff\xfe"
        for off in range(2, 34, 2):
            u = payload[off : off + 2]
            ws = tuple(
                (c + b"\x00" if le else b"\x00" + c)
                for c in (b" ", b"\t", b"\r", b"\n")
            )
            lt = b"<\x00" if le else b"\x00<"
            if u in ws:
                continue
            return FORMAT_HTML if u == lt else FORMAT_TEXT
        return FORMAT_TEXT
    if payload[:16].decode("ISO-8859-1").lstrip(" \t\r\n").startswith("<"):
        return FORMAT_HTML
    lines = payload[:4096].decode("ISO-8859-1").split("\n")
    if len(lines) >= 2:
        first, second = (
            l[:-1] if l.endswith("\r") else l for l in lines[:2]
        )
        if (
            first.count(",") >= 2
            and second != ""
            and second.count(",") == first.count(",")
        ):
            return FORMAT_CSV
    return FORMAT_TEXT


@settings(max_examples=300, deadline=None)
@given(any_bytes)
def test_sniff_matches_magic_bytes(payload):
    assert sniff_format(payload) == _model_sniff(payload)


# Prefixes that historically diverged between sniff models; exercised both
# bare and ahead of every magic class.
_SNIFF_EDGE_PREFIXES = [
    b"", b"\xa0", b" " * 20, b" \t\r\n", b"\x85", b"\x0b",
    b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff",  # BOMs ahead of every body
]
_SNIFF_BODIES = [
    b"",
    b"<html>",
    b"%PDF-1.4",
    b"PK\x03\x04x",
    b"\x89PNG\r\n",
    b"words",
    b"a,b,c\n1,2,3",
    b"a,b,c\r\n1,2,3\r\n",
    b"a,b,c\n1,2",  # inconsistent column count → text
    b"a,b,c\n",  # no second line content → text
    b"a,b\nc,d",  # only 1 comma → text
    b"P4\n6 8\n" + b"\x00" * 8,  # P4 bitmap magic
    b"P4x",  # P4 without whitespace → text
    "<html>".encode("utf-16-le"),  # 16-bit markup (BOM prefix → html)
    "<html>".encode("utf-16-be"),
    " \t<p>".encode("utf-16-le"),
    "plain".encode("utf-16-le"),
    b"<\x00",  # lone utf-16le '<' unit
    b"<",  # half a unit
    ("  " * 20 + "<p>").encode("utf-16-le"),  # ws past the 16-unit window
]


def test_sniff_regressions():
    # 0xA0 (latin-1 NBSP) is NOT leading whitespace → text, not html
    assert sniff_format(b"\xa0<") == FORMAT_TEXT
    # probe is 16 bytes: whitespace may push "<" past the probe → text
    assert sniff_format(b" " * 20 + b"<html>") == FORMAT_TEXT
    assert sniff_format(b" \t\r\n<html>") == FORMAT_HTML
    # magic classes beat the whitespace probe
    assert sniff_format(b"PK\x03\x04whatever") == FORMAT_ZIP
    assert sniff_format(b"\x89PNG\r\n\x1a\n...") == FORMAT_IMAGE
    assert sniff_format(b"\xff\xd8\xff\xe0JFIF") == FORMAT_IMAGE
    assert sniff_format(b"GIF89a......") == FORMAT_IMAGE
    for pre in _SNIFF_EDGE_PREFIXES:
        for body in _SNIFF_BODIES:
            p = pre + body
            assert sniff_format(p) == _model_sniff(p), p


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2000))
def test_text_passthrough_properties(s):
    payload = s.encode("utf-8")
    if not payload or payload.startswith(b"%PDF-"):
        return
    r = extract(payload)
    if r.format != FORMAT_TEXT:
        return
    out = r.text.decode("utf-8", errors="replace")
    # no leading/trailing blank lines, no trailing spaces on any line
    assert out == out.strip("\n")
    assert all(ln == ln.rstrip() for ln in out.split("\n"))
    # idempotence: re-extracting the extracted text is a fixed point
    r2 = extract(r.text)
    if r2.format == FORMAT_TEXT:
        assert r2.text == r.text


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
        ),
        max_size=8,
    )
)
def test_html_extraction_total_on_tag_soup(parts):
    soup = "<html><body>" + "<div>".join(parts)  # unbalanced by design
    r = extract(soup.encode("utf-8"))
    assert r.format == FORMAT_HTML
    assert r.ok and isinstance(r.text, bytes)


def test_spark_sniff_agrees_with_oracle_on_random_payloads(spark):
    """One Spark job over 400 seeded adversarial payloads, null and empty
    ones included: the ``format`` column of ``extract_pages``, sniffed
    after the payload crossed the Arrow boundary, must equal the
    oracle's sniff of the same bytes."""
    from multi_format_document_extractor_spark.operators.extract import (
        extract_pages,
    )

    rng = random.Random(1234)
    payloads = []
    for i in range(400):
        kind = rng.randrange(8)
        if kind == 0:
            p = bytes(rng.getrandbits(8) for _ in range(rng.randrange(64)))
        elif kind == 1:
            p = b"%PDF-" + bytes(rng.getrandbits(8) for _ in range(32))
        elif kind == 2:
            p = b" \t\n" * rng.randrange(4) + b"<html><body>x</body>"
        elif kind == 3:
            p = ("word " * rng.randrange(20)).encode()
        elif kind == 4:
            p = b"\xff\xfe" + bytes(rng.getrandbits(8) for _ in range(16))
        elif kind == 5:
            p = b"PK\x03\x04" + bytes(rng.getrandbits(8) for _ in range(16))
        elif kind == 6:
            magic = rng.choice([b"\x89PNG\r\n", b"\xff\xd8\xff\xe0", b"GIF89a"])
            p = magic + bytes(rng.getrandbits(8) for _ in range(16))
        else:
            p = b""
        payloads.append((f"u{i}", p if p or rng.random() < 0.5 else None))

    df = spark.createDataFrame(
        [(u, None, p, None, None) for u, p in payloads],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {r["url"]: r["format"] for r in extract_pages(df).collect()}
    for url, p in payloads:
        assert got[url] == sniff_format(p), (url, p)


def test_magic_table_parity():
    """Every unguarded ``oracle.MAGIC`` row claims its prefix alone and
    its prefix plus junk, and the image rows' verdicts agree across
    ``sniff_format``, ``sniff_media`` and ``image_subtype``."""
    from multi_format_document_extractor_spark import oracle
    from multi_format_document_extractor_spark.multimodal.media import sniff_media

    junk = b"\x00junk\xff\x85" * 6
    for m in oracle.MAGIC_FORMATS:
        assert sniff_format(m.prefix) == sniff_format(m.prefix + junk) == m.format
    for m in oracle.MAGIC_MEDIA:
        if m.guard is None:
            assert sniff_media(m.prefix) == sniff_media(m.prefix + junk) == m.media
    images = [m for m in oracle.MAGIC if m.format == FORMAT_IMAGE]
    assert sorted(m.media for m in images) == ["image/gif", "image/jpeg", "image/png"]
    for m in images:
        for p in (m.prefix, m.prefix + junk):
            assert sniff_format(p) == FORMAT_IMAGE
            assert sniff_media(p) == m.media
            assert oracle.image_subtype(p) == m.media.removeprefix("image/")


def _magic_literals(path) -> list[str]:
    """``line: literal`` for each bytes literal in ``path`` that starts with
    the prefix (3 bytes or more) of a format row of ``oracle.MAGIC``."""
    import ast

    from multi_format_document_extractor_spark import oracle

    prefixes = [m.prefix for m in oracle.MAGIC_FORMATS if len(m.prefix) >= 3]
    return [
        f"{node.lineno}: {node.value[:12]!r}"
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, bytes)
        and node.value.startswith(tuple(prefixes))
    ]


def test_no_format_magic_is_copied_outside_the_table():
    """``oracle.py`` owns the format signatures; any other module reads its
    constants. ``corpus.py`` is exempt: its fixture writers emit real
    file signatures."""
    from pathlib import Path

    from multi_format_document_extractor_spark import oracle

    package = Path(oracle.__file__).resolve().parent
    assert _magic_literals(package / "oracle.py")  # the guard sees literals
    copies = {
        str(p.relative_to(package)): found
        for p in sorted(package.rglob("*.py"))
        if p.name not in ("oracle.py", "corpus.py")
        and (found := _magic_literals(p))
    }
    assert copies == {}
