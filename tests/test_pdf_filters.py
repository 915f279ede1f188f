"""Round-4 PDF filter chain: the five standard stream filters (ISO 32000
§7.4), chained filter arrays, /DecodeParms predictors, hex-string and
octal-escape operands. The decoders (oracle.py) and encoders (corpus.py)
are independent implementations validated against each other by roundtrip
plus hand-derived vectors — the same two-implementation discipline as the
golden corpus (FIXTURES.md §2)."""

from __future__ import annotations

import random
import zlib

import pytest

from multi_format_document_extractor_spark import oracle
from multi_format_document_extractor_spark.corpus import (
    _ascii85_encode,
    _asciihex_encode,
    _build_pdf,
    _lzw_encode,
    _runlength_encode,
)

# --------------------------------------------------------------------------
# LZW
# --------------------------------------------------------------------------


def test_lzw_hand_vector():
    # "AAA" by hand: encoder emits CLEAR(256), 'A'(65), 258 (the just-
    # added "AA" phrase), EOD(257), all at 9 bits:
    #   100000000 001000001 100000010 100000001  (36 bits)
    # = 10000000 00010000 01100000 01010000 0001+0000pad
    # = 80 10 60 50 10
    vec = bytes([0x80, 0x10, 0x60, 0x50, 0x10])
    assert _lzw_encode(b"AAA") == vec
    assert oracle._lzw_decode(vec) == b"AAA"


def test_lzw_roundtrip_widths_and_reset():
    rng = random.Random(11)
    # small alphabets force phrase growth (width bumps at table sizes
    # 511/1023/2047); 120k of 2-symbol data forces a 4093-entry table
    # reset mid-stream
    for size, alpha in [(0, 2), (1, 2), (600, 4), (3000, 16), (9000, 256),
                        (120_000, 2)]:
        data = bytes(rng.randrange(alpha) for _ in range(size))
        assert oracle._lzw_decode(_lzw_encode(data)) == data
    # highly compressible data exercises deep phrases + reset
    data = b"the quick brown fox jumps " * 8000
    assert oracle._lzw_decode(_lzw_encode(data)) == data


def test_lzw_early_change_is_the_default():
    # EarlyChange=0 reads the same stream differently once the table
    # crosses a width boundary — the default must be 1 (ISO 32000
    # Table 8 note); below the boundary both agree
    data = bytes(random.Random(3).randrange(4) for _ in range(200))
    enc = _lzw_encode(data)
    assert oracle._lzw_decode(enc, early_change=1) == data


def test_lzw_malformed_raises():
    with pytest.raises(ValueError):
        # 9-bit codes 256 (CLEAR) then 300: the first data code after a
        # CLEAR cannot be a phrase code
        oracle._lzw_decode(bytes([0x80, 0x4B, 0x00]))
    with pytest.raises(ValueError):
        # codes 256, 65, 400: 400 is beyond the 259-entry table
        oracle._lzw_decode(bytes([0x80, 0x10, 0x72, 0x00]))


# --------------------------------------------------------------------------
# ASCIIHex / ASCII85 / RunLength
# --------------------------------------------------------------------------


def test_asciihex_vectors():
    assert oracle._asciihex_decode(b"48 65 6c 6C 6f>") == b"Hello"
    assert oracle._asciihex_decode(b"7>") == b"p"  # odd digit pads with 0
    assert oracle._asciihex_decode(b"4142") == b"AB"  # EOD optional
    assert oracle._asciihex_decode(b"41\n42\t43>tail ignored") == b"ABC"
    with pytest.raises(ValueError):
        oracle._asciihex_decode(b"4g>")
    rt = b"\x00\xff binary \x80"
    assert oracle._asciihex_decode(_asciihex_encode(rt)) == rt


def test_ascii85_vectors():
    assert oracle._ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    rt = b"\x00\x00\x00\x00 ascii85 \xff\xfe"
    assert oracle._ascii85_decode(_ascii85_encode(rt)) == rt
    # whitespace inside the body is ignored
    enc = _ascii85_encode(b"hello world")
    spaced = b" ".join(enc[i : i + 3] for i in range(0, len(enc), 3))
    assert oracle._ascii85_decode(spaced) == b"hello world"


def test_runlength_vectors_and_roundtrip():
    assert oracle._runlength_decode(b"\x02abc\xfbx\x80") == b"abc" + b"x" * 6
    assert oracle._runlength_decode(b"\x80trailing junk") == b""
    with pytest.raises(ValueError):
        oracle._runlength_decode(b"\x05ab")  # literal run truncated
    with pytest.raises(ValueError):
        oracle._runlength_decode(b"\xfb")  # repeat run missing its byte
    rng = random.Random(17)
    for size in (0, 1, 2, 127, 128, 129, 500, 4000):
        data = bytes(rng.choice([0, 0, 0, 1, 2]) for _ in range(size))
        assert oracle._runlength_decode(_runlength_encode(data)) == data
    long_run = bytes([7]) * 1000  # > 128, split across repeat runs
    assert oracle._runlength_decode(_runlength_encode(long_run)) == long_run


# --------------------------------------------------------------------------
# Predictors
# --------------------------------------------------------------------------


def _png_predict(rows: list[bytes], ftype: int, bpp: int = 1) -> bytes:
    """Forward-apply one PNG filter type to every row (test-side encoder;
    the left taps sit ``bpp`` bytes back)."""
    out = bytearray()
    prev = bytes(len(rows[0]))
    for r in rows:
        out.append(ftype)
        for x in range(len(r)):
            a = r[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                v = r[x]
            elif ftype == 1:
                v = r[x] - a
            elif ftype == 2:
                v = r[x] - b
            elif ftype == 3:
                v = r[x] - (a + b) // 2
            else:
                v = r[x] - oracle._paeth(a, b, c)
            out.append(v & 0xFF)
        prev = r
    return bytes(out)


def test_png_predictor_all_filters():
    rows = [bytes([1, 2, 3, 4]), bytes([9, 8, 7, 6]), bytes([5, 5, 5, 5])]
    want = b"".join(rows)
    for ftype in range(5):
        enc = _png_predict(rows, ftype)
        # any predictor number 10-15 takes the per-row-tag path
        assert oracle._unpredict(enc, 12, 1, 8, 4) == want
    # three colors: the a/c taps sit one pixel (3 bytes) back
    rgb = [bytes(range(k, k + 60, 5)) for k in (3, 200, 17)]
    for ftype in range(5):
        enc = _png_predict(rgb, ftype, bpp=3)
        assert oracle._unpredict(enc, 15, 3, 8, 4) == b"".join(rgb)
        # decoding the same rows at one byte per pixel reads other taps
        if ftype in (1, 3, 4):
            assert oracle._unpredict(enc, 15, 1, 8, 12) != b"".join(rgb)
    with pytest.raises(ValueError):
        oracle._unpredict(b"\x09\x00\x00\x00\x00", 12, 1, 8, 4)  # bad tag
    with pytest.raises(ValueError):
        oracle._unpredict(b"\x00\x00", 12, 1, 8, 4)  # not whole rows
    with pytest.raises(ValueError):
        oracle._unpredict(b"\x00\x00", 12, 0, 8, 4)  # zero-byte rows


def test_tiff_predictor():
    # deltas 1,1,1,1 per row accumulate left-to-right
    assert oracle._unpredict(bytes([1, 1, 1, 1]), 2, 1, 8, 4) == bytes(
        [1, 2, 3, 4]
    )
    with pytest.raises(ValueError):
        oracle._unpredict(b"\x00", 7, 1, 8, 1)  # unknown predictor
    with pytest.raises(ValueError):
        oracle._unpredict(b"\x00", 2, 1, 4, 2)  # sub-byte components


# --------------------------------------------------------------------------
# /Filter + /DecodeParms parsing and the chain driver
# --------------------------------------------------------------------------


def test_filter_and_parms_parsing():
    assert oracle._pdf_filters(b"<</Filter /FlateDecode>>") == [b"FlateDecode"]
    assert oracle._pdf_filters(b"<</Filter[/ASCII85Decode /LZWDecode]>>") == [
        b"ASCII85Decode",
        b"LZWDecode",
    ]
    assert oracle._pdf_filters(b"<</Length 4>>") == []
    p = oracle._pdf_decode_parms(
        b"<</DecodeParms<</Predictor 12 /Columns 7>> /Filter/FlateDecode>>",
        1,
    )
    assert p == [{b"Predictor": 12, b"Columns": 7}]
    p = oracle._pdf_decode_parms(
        b"<</Filter[/A85 /Fl]/DecodeParms[null <</Predictor 2 /Columns 4>>]>>",
        2,
    )
    assert p == [{}, {b"Predictor": 2, b"Columns": 4}]
    assert oracle._pdf_decode_parms(b"<</DecodeParms null>>", 1) == [{}]


def test_decode_stream_chain_and_unknown_filter():
    raw = b"BT (x) Tj ET"
    data = _ascii85_encode(zlib.compress(raw))
    head = b"<< /Filter [/ASCII85Decode /FlateDecode] >>"
    assert oracle._pdf_decode_stream(head, data) == raw
    with pytest.raises(ValueError, match="DCTDecode"):
        oracle._pdf_decode_stream(b"<< /Filter /DCTDecode >>", b"\xff\xd8")
    # abbreviated names (inline-image style) accepted
    assert (
        oracle._pdf_decode_stream(b"<</Filter/AHx>>", b"4142>") == b"AB"
    )


# --------------------------------------------------------------------------
# String operands: hex strings, octal escapes, continuations
# --------------------------------------------------------------------------


def test_hex_string_operands():
    spans = oracle._pdf_text_spans(b"BT 1 0 0 1 50 700 Tm <48656c6c6f> Tj ET")
    assert spans == [(50.0, 700.0, "Hello")]
    # hex halves inside TJ arrays concatenate like literal halves; a
    # marked-content dict (<< >>) nearby must not be mistaken for one
    spans = oracle._pdf_text_spans(
        b"/P <</MCID 0>> BDC BT 1 0 0 1 50 700 Tm "
        b"[<4865> -20 (llo)] TJ ET"
    )
    assert spans == [(50.0, 700.0, "Hello")]
    # whitespace inside + odd final digit
    spans = oracle._pdf_text_spans(b"BT 1 0 0 1 0 0 Tm <41 42 5> Tj ET")
    assert spans[0][2] == "ABP"


def test_literal_string_escapes():
    f = oracle._unescape_pdf_string
    assert f(rb"a\(b\)c\\d") == "a(b)c\\d"  # legacy set unchanged
    assert f(rb"\101\102\7x") == "AB\x07x"  # 3- and 1-digit octal
    assert f(rb"tab\there") == "tab\there"
    assert f(b"a\\\nb") == "ab"  # backslash-EOL continuation
    assert f(b"a\\\r\nb") == "ab"
    assert f(rb"\q") == "q"  # unknown escape: backslash dropped
    assert f(rb"\\slash") == "\\slash"  # corpus edge case, unchanged


# --------------------------------------------------------------------------
# End-to-end through _build_pdf: every filter × container mode
# --------------------------------------------------------------------------

_STREAM = (
    b"BT /F1 12 Tf\n"
    b"1 0 0 1 50 720 Tm (hello world) Tj\n"
    b"0 -16 Td <414243> Tj\n"
    b"0 -16 Td (sp\\040ace) Tj\n"
    b"ET"
)
_WANT = b"hello world\nABC\nsp ace"


@pytest.mark.parametrize(
    "filt", [None, "flate", "lzw", "a85", "ahx", "rl", "a85+flate"]
)
def test_every_filter_extracts_identically(filt):
    for objstm in (False, True):
        for pred in (False, True) if objstm else (False,):
            p = _build_pdf(
                [_STREAM],
                stream_filter=filt,
                objstm=objstm,
                xref_predictor=pred,
            )
            t, n = oracle.extract_pdf(p)
            assert (t, n) == (_WANT, 1), (filt, objstm, pred)


def test_predictor_xref_stream_is_load_bearing():
    """The predictor-packed xref must actually be decoded through
    _unpredict: corrupting the /DecodeParms Columns makes the offsets
    wrong, and the parser must fall back to the linear scan (not crash,
    not emit garbage)."""
    p = _build_pdf([_STREAM], objstm=True, xref_predictor=True)
    assert b"/Predictor 12" in p
    t, n = oracle.extract_pdf(p)
    assert (t, n) == (_WANT, 1)
    broken = p.replace(b"/Predictor 12 /Columns 7", b"/Predictor 12 /Columns 6")
    t2, _ = oracle.extract_pdf(broken)  # falls back to the object scan
    assert t2 == _WANT


# --------------------------------------------------------------------------
# ToUnicode CMap / CID (Identity-H) fonts
# --------------------------------------------------------------------------


def test_parse_tounicode_all_three_syntaxes():
    cmap = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\n"
        b"2 beginbfchar\n<0101> <0048>\n<0102> <0065>\nendbfchar\n"
        b"1 beginbfrange\n<0110> <0112> <006C>\nendbfrange\n"
        b"1 beginbfrange\n<0120> <0122> [<0041> <00420043> <0044>]\n"
        b"endbfrange\nendcmap"
    )
    nbytes, m = oracle._parse_tounicode(cmap)
    assert nbytes == 2
    assert m[0x0101] == "H" and m[0x0102] == "e"
    # scalar bfrange increments the destination
    assert (m[0x0110], m[0x0111], m[0x0112]) == ("l", "m", "n")
    # array bfrange maps positionally; multi-unit UTF-16 destinations work
    assert (m[0x0120], m[0x0121], m[0x0122]) == ("A", "BC", "D")
    with pytest.raises(ValueError):  # hostile range span
        oracle._parse_tounicode(
            b"1 beginbfrange\n<0000> <FFFF0000> <0041>\nendbfrange"
        )


def test_decode_show_cid_semantics():
    font = oracle._PdfFont(2, {0x0101: "H", 0x0102: "i"})
    assert oracle._decode_show(bytes.fromhex("01010102"), font) == "Hi"
    assert oracle._decode_show(bytes.fromhex("0101FF"), font) == "H�"
    assert oracle._decode_show(bytes.fromhex("9999"), font) == "�"
    assert oracle._decode_show(b"plain", None) == "plain"


def _cid_page():
    """(stream, cmap, expected-text) with non-identity codes, so raw
    decoding provably fails without the CMap."""
    import random as _random

    from multi_format_document_extractor_spark.corpus import _tounicode_cmap

    text = "hello cid world"
    charmap: dict[str, int] = {}
    codes = "".join(
        f"{charmap.setdefault(ch, 0x0100 + len(charmap)):04x}" for ch in text
    )
    stream = (
        b"BT /F2 12 Tf\n1 0 0 1 50 720 Tm <" + codes.encode() + b"> Tj\n"
        b"/F1 12 Tf 0 -16 Td (plain line) Tj\nET"
    )
    return stream, _tounicode_cmap(charmap, _random.Random(1)), text


def test_cid_font_end_to_end_and_font_switching():
    stream, cmap, text = _cid_page()
    for filt in (None, "flate", "lzw"):
        for objstm in (False, True):
            for ind_res in (False, True):
                p = _build_pdf(
                    [stream],
                    cid_font=("F2", cmap),
                    stream_filter=filt,
                    objstm=objstm,
                    indirect_resources=ind_res,
                )
                t, n = oracle.extract_pdf(p)
                assert t == f"{text}\nplain line".encode(), (
                    filt,
                    objstm,
                    ind_res,
                )
    # the CMap is load-bearing: without fonts the codes are garbage
    raw = oracle._pdf_text_spans(stream)
    assert raw[0][2] != text


def test_corrupt_cmap_falls_back_to_raw_reading():
    stream, cmap, text = _cid_page()
    p = _build_pdf([stream], cid_font=("F2", cmap), stream_filter="flate")
    # corrupt the CMap stream's Flate body: that font silently reads raw
    # (wrong text, right failure mode — no exception, page survives)
    import re as _re

    m = _re.search(rb"/ToUnicode \d+ 0 R", p)
    assert m is not None
    cm_head = p.find(b"begincmap") if b"begincmap" in p else -1
    # flate-compressed cmap: find its stream via the font object's ref
    num = int(m.group(0).split()[1])
    om = _re.search(rb"(?m)^%d 0 obj" % num, p)
    s0 = p.index(b"stream\n", om.start()) + len(b"stream\n")
    broken = p[:s0] + b"\x00\x00\x00\x00" + p[s0 + 4 :]
    t, n = oracle.extract_pdf(broken)
    assert n == 1 and b"plain line" in t and text.encode() not in t


# --------------------------------------------------------------------------
# TJ word-space kerns (PDF_WORD_KERN)
# --------------------------------------------------------------------------


def test_tj_word_kern_inserts_space_small_kern_does_not():
    # wide gap = word space; narrow gap = sub-glyph kern (concatenate)
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 50 720 Tm"
        b" [(hello) -200 (world)] TJ\n"
        b"0 -16 Td [(con) -60 (catenated)] TJ\n"
        b"0 -16 Td [(at) -150 (threshold)] TJ ET"
    )
    p = _build_pdf([stream], flate=True)
    t, n = oracle.extract_pdf(p)
    assert t == b"hello world\nconcatenated\nat threshold"


def test_tj_word_kern_through_cid_font():
    from multi_format_document_extractor_spark.corpus import _tounicode_cmap

    text = "cid word gap"
    charmap: dict[str, int] = {}

    def codes(s: str) -> str:
        return "".join(
            f"{charmap.setdefault(ch, 0x0100 + len(charmap)):04x}" for ch in s
        )

    left, right = codes("cid"), codes("word gap")
    stream = (
        b"BT /F2 12 Tf 1 0 0 1 50 720 Tm [<" + left.encode() + b"> -300 <"
        + right.encode() + b">] TJ ET"
    )
    p = _build_pdf(
        [stream],
        cid_font=("F2", _tounicode_cmap(charmap, random.Random(2))),
    )
    t, n = oracle.extract_pdf(p)
    assert t == text.encode()
