"""M0: the single-node extractor honors the generator's golden expectations
(two independent implementations of the contract — FIXTURES.md §1-2)."""

from __future__ import annotations

import zlib

import pytest

from multi_format_document_extractor_spark import oracle


def test_sniff_format():
    assert oracle.sniff_format(None) == "unknown"
    assert oracle.sniff_format(b"") == "unknown"
    assert oracle.sniff_format(b"%PDF-1.4\n...") == "pdf"
    assert oracle.sniff_format(b"<!DOCTYPE html><html>") == "html"
    assert oracle.sniff_format(b"  \n\t<html><body>") == "html"
    assert oracle.sniff_format(b"plain words here") == "text"
    assert oracle.sniff_format(b"\xff\xfe binary-ish") == "text"


def test_classify_block_rules():
    # density must win over length: long but link-heavy block is boilerplate
    assert not oracle.classify_block(text_chars=2000, link_chars=1500, n_tags=40)
    # short block is boilerplate even with zero links
    assert not oracle.classify_block(text_chars=10, link_chars=0, n_tags=0)
    # tag soup (low text density) is boilerplate
    assert not oracle.classify_block(text_chars=100, link_chars=0, n_tags=30)
    # real content
    assert oracle.classify_block(text_chars=300, link_chars=10, n_tags=2)


def test_html_edge_cases():
    # empty body
    t, n, _ = oracle.extract_html(b"<html><head><title>x</title></head><body></body></html>")
    assert t == b"" and n == 0
    # single content paragraph with nested inline tags
    words = "alpha beta gamma delta " * 10
    page = f"<html><body><p>{words[:50]}<b>bold</b> {words[50:]}</p></body></html>"
    t, n, _ = oracle.extract_html(page.encode())
    assert n == 1 and b"bold" in t


def test_pdf_two_column_reading_order():
    from multi_format_document_extractor_spark.corpus import _build_pdf

    # Real op semantics: Tm sets the absolute line origin, Td moves
    # RELATIVE to the current one — mixed here across column hops.
    stream = (
        b"BT /F1 12 Tf\n"
        b"1 0 0 1 320 720 Tm (right top) Tj\n"
        b"-270 0 Td (left top) Tj\n"
        b"0 -16 Td (left bottom) Tj\n"
        b"1 0 0 1 320 704 Tm (right bottom) Tj\n"
        b"ET"
    )
    payload = _build_pdf([stream])
    t, n_pages = oracle.extract_pdf(payload)
    assert n_pages == 1
    assert t == b"left top\nleft bottom\nright top\nright bottom"


def test_pdf_real_text_op_vocabulary():
    """The round-4 state machine: TD sets leading and moves, ' advances
    a line before showing, TJ concatenates across kerns (sub-glyph
    spacing — never a word break), consecutive shows with no move
    continue the same line, and unknown operators' operands (Tc/Tw/Tz)
    must not corrupt the next operator's."""
    from multi_format_document_extractor_spark.corpus import _build_pdf

    stream = (
        b"BT /F1 12 Tf 0.2 Tc 100 Tz\n"
        b"50 720 Td [(Hel) -30 (lo)] TJ ( world) Tj\n"
        b"0 -16 TD (second) Tj\n"
        b"(third) '\n"
        b'0.5 1.5 (fourth) "\n'
        b"ET"
    )
    t, n_pages = oracle.extract_pdf(_build_pdf([stream]))
    assert n_pages == 1
    assert t == b"Hello world\nsecond\nthird\nfourth"
    # geometry: the '/" lines really advanced by the TD leading
    boxes = oracle.pdf_layout_boxes(_build_pdf([stream]))
    ys = [y for _pg, _x, y, _c, _o, _t in boxes]
    assert ys == [720.0, 704.0, 688.0, 672.0]


def test_pdf_full_affine_text_matrix():
    """v11: Tm's scale/rotation components are honored — Td/TD/T*/'
    translate in TEXT space through the line matrix (ISO 32000 §9.4.2),
    so scaled and rotated typography lands on the right device origins
    (a translation-only reader shears scaled pages)."""
    from multi_format_document_extractor_spark.corpus import _build_pdf
    from multi_format_document_extractor_spark.oracle import _pdf_text_spans

    # 2x scale: text-space deltas double in device space
    s = b"BT /F1 12 Tf 2 0 0 2 100 350 Tm (A) Tj 10 -8 Td (B) Tj ET"
    assert _pdf_text_spans(s) == [(100.0, 350.0, "A"), (120.0, 334.0, "B")]
    # 90-degree rotation: Td(tx,ty) -> (e - ty, f + tx)
    s = b"BT 0 1 -1 0 200 100 Tm (R) Tj 5 7 Td (S) Tj ET"
    assert _pdf_text_spans(s) == [(200.0, 100.0, "R"), (193.0, 105.0, "S")]
    # half-scale TD-leading + ' chain: leading moves through the matrix
    s = (
        b"BT 0.5 0 0 0.5 0 0 Tm 100 1440 Td (L1) Tj "
        b"0 -32 TD (L2) Tj (L3) ' ET"
    )
    assert _pdf_text_spans(s) == [
        (50.0, 720.0, "L1"),
        (50.0, 704.0, "L2"),
        (50.0, 688.0, "L3"),
    ]
    # BT resets the matrix: a scale must not leak into the next block
    s = b"BT 2 0 0 2 0 0 Tm 10 10 Td (P) Tj ET BT 30 40 Td (Q) Tj ET"
    assert _pdf_text_spans(s) == [(20.0, 20.0, "P"), (30.0, 40.0, "Q")]
    # end-to-end: a scaled two-line page reads top-down through the
    # container walk and layout-box join
    stream = (
        b"BT /F1 12 Tf 2 0 0 2 25 360 Tm (first line here) Tj\n"
        b"0 -8 Td (second line here) Tj ET"
    )
    t, n_pages = oracle.extract_pdf(_build_pdf([stream]))
    assert n_pages == 1 and t == b"first line here\nsecond line here"
    boxes = oracle.pdf_layout_boxes(_build_pdf([stream]))
    assert [(x, y) for _pg, x, y, _c, _o, _t in boxes] == [
        (25.0, 360.0),
        (25.0, 344.0),
    ]


def test_pdf_flate_xref_container_features():
    """The v4 real-subset container features (VERDICT r3 #1): Flate
    streams inflate, indirect /Length resolves, and a PERMUTED physical
    object layout still reads in /Kids page order via the xref walk —
    under every feature combination."""
    import random

    from multi_format_document_extractor_spark.corpus import _build_pdf

    s1 = b"BT /F1 12 Tf\n50 720 Td (PAGE ONE) Tj\nET"
    s2 = b"BT /F1 12 Tf\n50 720 Td (PAGE TWO) Tj\nET"
    for flate in (False, True):
        for ind in (False, True):
            for seed in (None, 3, 99):
                perm = random.Random(seed) if seed else None
                p = _build_pdf(
                    [s1, s2], flate=flate, indirect_length=ind, permute=perm
                )
                t, n_pages = oracle.extract_pdf(p)
                assert n_pages == 2, (flate, ind, seed)
                assert t == b"PAGE ONE\n\nPAGE TWO", (flate, ind, seed, t)


def test_pdf_permuted_layout_differs_from_file_order():
    """The structure walk must be LOAD-BEARING: on a permuted layout the
    raw stream scan (file order) yields the wrong page order, so a green
    corpus proves the walk ran."""
    import random

    from multi_format_document_extractor_spark.corpus import _build_pdf

    s1 = b"BT /F1 12 Tf\n50 720 Td (PAGE ONE) Tj\nET"
    s2 = b"BT /F1 12 Tf\n50 720 Td (PAGE TWO) Tj\nET"
    for seed in range(20):
        p = _build_pdf([s1, s2], permute=random.Random(seed))
        file_order_texts = [
            t
            for _x, _y, t in oracle._pdf_text_spans(
                b"\n".join(oracle._STREAM_RE.findall(p))
            )
        ]
        if file_order_texts and file_order_texts[0] == "PAGE TWO":
            break
    else:
        raise AssertionError("no permutation flipped the file order")
    t, _ = oracle.extract_pdf(p)
    assert t == b"PAGE ONE\n\nPAGE TWO"


def test_pdf_length_honored_over_embedded_markers():
    """Stream DATA containing fake endstream/endobj runs must not end
    the stream early — /Length decides (the binary-content hazard Flate
    introduces, constructed here explicitly)."""
    data = b"BT /F1 12 Tf\n50 720 Td (before) Tj\nET\n" \
           b"% endstream endobj decoys inside data\n" \
           b"BT /F1 12 Tf\n50 700 Td (after) Tj\nET"
    # hand-assemble one page whose stream carries the decoy bytes
    obj4 = (
        b"<< /Length " + str(len(data)).encode() + b" >>\nstream\n"
        + data + b"\nendstream"
    )
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n" + obj4 + b"\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n"
    )
    t, n_pages = oracle.extract_pdf(body)
    assert n_pages == 1
    assert t == b"before\nafter"


def test_pdf_corrupt_flate_is_error_row():
    """A well-formed stream object whose Flate payload is corrupt must
    surface as an error row, never a crash or silent empty text."""
    from multi_format_document_extractor_spark.corpus import _build_pdf

    p = _build_pdf([b"BT 50 720 Td (x) Tj ET"], flate=True)
    bad = p.replace(b"stream\n", b"stream\n\xff\xfe\xfd", 1)
    r = oracle.extract(bad)
    assert r.format == "pdf" and not r.ok and r.error


def test_pdf_stale_xref_falls_back_to_scan():
    """Offsets that no longer land on their object headers (an edited
    file whose xref was not rewritten) must fall back to the linear
    rebuild scan and still extract."""
    from multi_format_document_extractor_spark.corpus import _build_pdf

    p = _build_pdf([b"BT /F1 12 Tf\n50 720 Td (RECOVERED) Tj\nET"])
    stale = p.replace(b"%PDF-1.4\n", b"%PDF-1.4\n% padding comment\n")
    assert oracle._pdf_xref_objects(stale) is None  # offsets now stale
    t, n_pages = oracle.extract_pdf(stale)
    assert n_pages == 1 and t == b"RECOVERED"


def _many_objects_pdf(n_objs: int, with_xref: bool) -> bytes:
    """One text page plus ``n_objs`` small stream-less dictionaries, with a
    valid xref table or none (the rebuild-scan path)."""
    content = b"BT /F1 12 Tf\n50 720 Td (MANY OBJECTS) Tj\nET"
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << /Font"
        b" << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >>"
        b" >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        *(b"<< /Type /Annot /N %d >>" % i for i in range(n_objs)),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(bodies, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    if with_xref:
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(bodies) + 1)
        out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
        out += b"trailer\n<< /Size %d /Root 1 0 R >>\n" % (len(bodies) + 1)
        out += b"startxref\n%d\n" % xref
    return bytes(out + b"%%EOF\n")


@pytest.mark.parametrize("with_xref", [True, False])
def test_pdf_object_walk_is_linear_in_object_count(with_xref):
    """4× the objects must cost well under the 16× a quadratic walk gives
    (an object without a stream once searched the whole rest of the
    payload for a ``stream`` keyword); best-of-3 absorbs host noise."""
    import time

    def best_of_3(payload: bytes) -> tuple[float, bytes]:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            r = oracle.extract(payload)
            times.append(time.perf_counter() - t0)
        assert r.ok and r.format == "pdf"
        return min(times), r.text

    small = _many_objects_pdf(10_000, with_xref)
    large = _many_objects_pdf(40_000, with_xref)
    assert (oracle._pdf_xref_objects(large) is not None) == with_xref
    t_small, text_small = best_of_3(small)
    t_large, text_large = best_of_3(large)
    assert text_small == text_large == b"MANY OBJECTS"
    assert t_large < 8 * t_small, (t_small, t_large)


# ---------------------------------------------------------------------------
# Linear cost per format family: no row may hold a worker for minutes
# ---------------------------------------------------------------------------

_SENT = "the river keeps moving past the old mill while people walk along its bank"
_CAPS = " ".join(["HELLO WORLD"] * 6)  # FONT5X7 covers A-Z and space


def _html_tags(n: int) -> bytes:
    words = _SENT.split()
    para = " ".join(f"<b>{w}</b>" if i % 3 == 0 else w for i, w in enumerate(words))
    return f"<html><body>{f'<p>{para}</p>' * n}</body></html>".encode()


def _html_entities(n: int) -> bytes:
    body = "caf&eacute; &amp; cr&#232;me br&ucirc;l&#xE9;e " * n
    return f"<html><body><p>{body}</p></body></html>".encode()


def _html_nesting(n: int) -> bytes:
    return (
        f"<html><body>{'<div>' * n}<p>{_SENT}</p>{'</div>' * n}</body></html>"
    ).encode()


def _order(i: int) -> list[str]:
    return [f"ORD-{100 + i % 900}", "acme_corp", str(1 + i % 40), "12.50"]


_ORDER_HEADER = ["order_id", "client", "qty", "unit_price"]


def _csv_rows(n: int) -> bytes:
    lines = [_ORDER_HEADER] + [_order(i) for i in range(n)]
    return "".join(",".join(cells) + "\n" for cells in lines).encode()


def _docx_paragraphs(n: int) -> bytes:
    from multi_format_document_extractor_spark.corpus import _W_XMLNS, _zip_bytes

    para = f"<w:p><w:r><w:t>{_SENT}</w:t></w:r></w:p>"
    body = f"<w:body>{para * n}</w:body>"
    doc = f'<w:document xmlns:w="{_W_XMLNS}">{body}</w:document>'
    return _zip_bytes(
        [("[Content_Types].xml", "<Types/>"), ("word/document.xml", doc)]
    )


def _xlsx_rows(n: int) -> bytes:
    from multi_format_document_extractor_spark.corpus import _X_XMLNS, _zip_bytes

    rows = "".join(
        f'<row r="{i + 1}"><c t="s"><v>0</v></c><c><v>{i}</v></c>'
        '<c t="inlineStr"><is><t>mill</t></is></c></row>'
        for i in range(n)
    )
    sheets = '<sheets><sheet name="S" sheetId="1"/></sheets>'
    return _zip_bytes(
        [
            ("xl/workbook.xml", f'<workbook xmlns="{_X_XMLNS}">{sheets}</workbook>'),
            (
                "xl/sharedStrings.xml",
                f'<sst xmlns="{_X_XMLNS}"><si><t>river</t></si></sst>',
            ),
            (
                "xl/worksheets/sheet1.xml",
                f'<worksheet xmlns="{_X_XMLNS}">'
                f"<sheetData>{rows}</sheetData></worksheet>",
            ),
        ]
    )


def _pdf_content_ops(n: int) -> bytes:
    from multi_format_document_extractor_spark.corpus import _build_pdf

    ops = "".join(f"1 0 0 1 50 {720 - 14 * i} Tm (line {i}) Tj\n" for i in range(n))
    return _build_pdf([f"BT /F1 12 Tf\n{ops}ET".encode()])


def _lines(n: int, line: str) -> str:
    return "\n".join([line] * n)


# family → (payload of size n, n at 1×, expected text at size n)
LINEAR_FAMILIES = {
    "html_tags": (_html_tags, 400, lambda n: "\n\n".join([_SENT] * n)),
    "html_entities": (
        _html_entities, 2000, lambda n: ("café & crème brûlée " * n).strip()
    ),
    "html_nesting": (_html_nesting, 4000, lambda n: _SENT),
    "csv": (
        _csv_rows,
        10_000,
        lambda n: "\n".join(
            " | ".join(c) for c in [_ORDER_HEADER] + [_order(i) for i in range(n)]
        ),
    ),
    "docx": (_docx_paragraphs, 3000, lambda n: _lines(n, _SENT)),
    "xlsx": (
        _xlsx_rows,
        1000,
        lambda n: "\n".join(["## S"] + [f"river | {i} | mill" for i in range(n)]),
    ),
    "pdf_content_ops": (
        _pdf_content_ops, 500, lambda n: "\n".join(f"line {i}" for i in range(n))
    ),
    "gif": (lambda n: oracle.render_gif([_CAPS] * n), 40, lambda n: _lines(n, _CAPS)),
    "png": (
        lambda n: oracle.render_png([_CAPS] * n, filter_types=[1, 2, 3, 4]),
        16,
        lambda n: _lines(n, _CAPS),
    ),
}


@pytest.mark.parametrize("family", sorted(LINEAR_FAMILIES))
def test_extract_cost_is_linear_per_family(family):
    """4× the size must cost under 8× the time of 1× (a quadratic walk
    gives 16×), with the text the generator expects at both sizes. The
    two sizes run interleaved and each keeps its best of 3, which absorbs
    host noise; there is no wall-clock timeout in the data path, so this
    is what keeps one row from holding a worker for minutes."""
    import time

    build, n, expected = LINEAR_FAMILIES[family]
    payloads = {k: build(k) for k in (n, 4 * n)}
    best = dict.fromkeys(payloads, float("inf"))
    for _ in range(3):
        for k, payload in payloads.items():
            t0 = time.perf_counter()
            r = oracle.extract(payload)
            best[k] = min(best[k], time.perf_counter() - t0)
            assert r.ok and r.text == expected(k).encode(), (family, k)
    assert best[4 * n] < 8 * best[n], (family, best)


def test_pdf_escapes():
    from multi_format_document_extractor_spark.corpus import _build_pdf, _pdf_escape

    s = "parens (x) and \\backslash"
    stream = f"BT /F1 12 Tf\n50 720 Td ({_pdf_escape(s)}) Tj\nET".encode()
    t, _ = oracle.extract_pdf(_build_pdf([stream]))
    assert t.decode() == s


def test_corpus_golden_byte_identity(corpus_rows):
    for r in corpus_rows:
        e = oracle.extract(r.html)
        assert e.format == r.format, r.url
        assert e.text == r.text_expected, r.url
        assert e.checksum == zlib.crc32(r.text_expected)


def test_error_path_is_data():
    e = oracle.extract(None)
    assert not e.ok and e.format == "unknown" and e.text == b""


def test_docx_paragraphs_and_tables():
    from multi_format_document_extractor_spark.corpus import _W_XMLNS, _zip_bytes

    doc = (
        f'<w:document xmlns:w="{_W_XMLNS}"><w:body>'
        "<w:p/>"  # leading empty paragraph: trimmed
        "<w:p><w:r><w:t xml:space=\"preserve\">hello </w:t></w:r>"
        "<w:r><w:t>split run</w:t></w:r></w:p>"
        "<w:p/>"  # interior empty: kept as blank line
        "<w:p><w:r><w:t>second   para</w:t></w:r></w:p>"
        "<w:tbl>"
        "<w:tr><w:tc><w:p><w:r><w:t>a</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>b</w:t></w:r></w:p></w:tc></w:tr>"
        "<w:tr><w:tc><w:p><w:r><w:t>c</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>d</w:t></w:r></w:p></w:tc></w:tr>"
        "</w:tbl>"
        "</w:body></w:document>"
    )
    payload = _zip_bytes([("word/document.xml", doc)])
    e = oracle.extract(payload)
    assert e.format == "zip" and e.ok
    assert e.text == b"hello split run\n\nsecond para\n\na | b\nc | d"
    assert e.n_blocks == 2 + 2  # two non-empty paragraphs + two table rows


def test_xlsx_shared_inline_and_numeric_cells():
    from multi_format_document_extractor_spark.corpus import _X_XMLNS, _zip_bytes

    members = [
        (
            "xl/workbook.xml",
            f'<workbook xmlns="{_X_XMLNS}"><sheets>'
            '<sheet name="Order_Info" sheetId="1"/>'
            '<sheet name="Notes" sheetId="2"/></sheets></workbook>',
        ),
        (
            "xl/sharedStrings.xml",
            f'<sst xmlns="{_X_XMLNS}"><si><t>alpha</t></si>'
            "<si><t>beta</t></si></sst>",
        ),
        (
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{_X_XMLNS}"><sheetData>'
            '<row r="1"><c t="s"><v>1</v></c><c><v>12.50</v></c></row>'
            '<row r="2"><c t="inlineStr"><is><t>inline</t></is></c>'
            '<c t="s"><v>0</v></c></row>'
            "</sheetData></worksheet>",
        ),
        (
            "xl/worksheets/sheet2.xml",
            f'<worksheet xmlns="{_X_XMLNS}"><sheetData>'
            '<row r="1"><c><v>7</v></c></row></sheetData></worksheet>',
        ),
    ]
    e = oracle.extract(_zip_bytes(members))
    assert e.format == "zip" and e.ok
    assert e.text == (
        b"## Order_Info\nbeta | 12.50\ninline | alpha\n\n## Notes\n7"
    )
    assert e.n_blocks == 3


def test_xlsx_sheets_resolve_via_rels_not_position():
    """Real Excel numbering: after a delete, workbook order and member
    numbers diverge — resolution must follow workbook.xml.rels r:id."""
    from multi_format_document_extractor_spark.corpus import _X_XMLNS, _zip_bytes

    r_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    members = [
        (
            "xl/workbook.xml",
            f'<workbook xmlns="{_X_XMLNS}" xmlns:r="{r_ns}"><sheets>'
            '<sheet name="A" sheetId="1" r:id="rId1"/>'
            '<sheet name="C" sheetId="3" r:id="rId2"/></sheets></workbook>',
        ),
        (
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{r_ns}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{r_ns}/worksheet" Target="worksheets/sheet3.xml"/>'
            "</Relationships>",
        ),
        (
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{_X_XMLNS}"><sheetData>'
            '<row r="1"><c t="inlineStr"><is><t>alpha</t></is></c></row>'
            "</sheetData></worksheet>",
        ),
        (
            "xl/worksheets/sheet3.xml",
            f'<worksheet xmlns="{_X_XMLNS}"><sheetData>'
            '<row r="1"><c t="inlineStr"><is><t>gamma</t></is></c></row>'
            "</sheetData></worksheet>",
        ),
    ]
    e = oracle.extract(_zip_bytes(members))
    assert e.ok and e.text == b"## A\nalpha\n\n## C\ngamma"
    # a listed sheet whose member is MISSING is an error row, never silence
    e2 = oracle.extract(_zip_bytes(members[:3]))
    assert not e2.ok and "worksheet member" in e2.error


def test_unsupported_zip_and_corrupt_zip_are_error_rows():
    from multi_format_document_extractor_spark.corpus import _zip_bytes

    plain = oracle.extract(_zip_bytes([("readme.txt", "hi")]))
    assert plain.format == "zip" and not plain.ok
    assert "unsupported zip container" in plain.error
    corrupt = oracle.extract(b"PK\x03\x04" + b"\x00" * 40)
    assert corrupt.format == "zip" and not corrupt.ok and corrupt.text == b""


def test_corrupt_images_are_decode_error_rows():
    # png/gif/jpeg: ALL real decode paths (v4/v5/v6) — garbage after the
    # magic is a decode error row, never an exception or silent passthrough
    for garbage in (
        b"\x89PNG\r\n\x1a\n\x01\x02\x03",
        b"GIF89a" + bytes(40),
        b"\xff\xd8\xff\xe0\x01\x02\x03",
    ):
        e = oracle.extract(garbage)
        assert e.format == "image" and not e.ok and e.text == b""
        assert "media path" not in (e.error or "")  # went through a decoder


def test_gif_roundtrip_all_variants():
    """Real GIF codec (v5, retires the GIF half of S8): render → decode is
    byte-identical across interlace × extension variants, and the payloads
    are spec-shaped (header/LSD/CT/descriptor/LZW/trailer)."""
    lines = ["HELLO WORLD", "SECOND LINE X", "ABC"]
    for interlace in (False, True):
        for ext in (False, True):
            g = oracle.render_gif(lines, interlace=interlace, with_extension=ext)
            assert g[:6] == b"GIF89a" and g[-1:] == b"\x3b"
            t, n = oracle.extract_gif(g)
            assert t == "\n".join(lines).encode() and n == 3
            e = oracle.extract(g)
            assert e.ok and e.format == "image" and e.text == t
    # width growth / sub-block chains / single-glyph edge
    for edge in (["A"], ["Z" * 40], ["THE QUICK BROWN FOX JUMPS"]):
        g = oracle.render_gif(edge, interlace=True, with_extension=True)
        assert oracle.extract_gif(g)[0] == "\n".join(edge).encode()


def test_gif_spec_sample_and_truncation_fuzz():
    """The canonical 1×1 spec GIF decodes (bit order is the GIF spec's,
    not a private dialect), and every truncation of a real payload is an
    error ROW, never an exception."""
    sample = bytes.fromhex(
        "474946383961010001008000"
        "00ffffff000000"
        "2c000000000100010000"
        "0202440100"
        "3b"
    )
    w, h, lum = oracle.gif_decode_gray(sample)
    assert (w, h, lum[0]) == (1, 1, 255)
    g = oracle.render_gif(["HELLO"], with_extension=True)
    for cut in range(len(g)):
        e = oracle.extract(g[:cut])
        assert isinstance(e.ok, bool)  # never an exception
        if cut >= 4:  # enough bytes for the image magic to win the sniff
            # a complete image missing only the 0x3B trailer still decodes
            assert e.format == "image" and (e.ok == (cut >= len(g) - 1))
    # animation-style second frame / offset frame is a named error
    offset = bytearray(oracle.render_gif(["HI"]))
    di = offset.index(b"\x2c")
    offset[di + 1] = 1  # left = 1
    e = oracle.extract(bytes(offset))
    assert not e.ok and "partial/offset" in e.error


def test_gif_gray_is_the_first_frame():
    """The single-image and multi-frame GIF readers agree: the first
    composited frame is the single-image decode, for every render_gif
    text × interlace × extension variant."""
    texts = (
        ["HELLO WORLD", "SECOND LINE X", "ABC"],
        ["A"],
        ["THE QUICK BROWN FOX JUMPS"],
    )
    for lines in texts:
        for interlace in (False, True):
            for ext in (False, True):
                g = oracle.render_gif(
                    lines, interlace=interlace, with_extension=ext
                )
                w, h, lum = oracle.gif_decode_gray(g)
                fw, fh, frames = oracle.gif_decode_frames(g)
                assert (fw, fh, len(frames)) == (w, h, 1)
                assert frames[0] == (0, lum), (lines, interlace, ext)


def test_gif_frames_disposal_and_transparency():
    """Graphic Control Extension semantics the writers never emit:
    disposal 2 restores a frame's rect to the background before the next
    frame, and a transparent index leaves the canvas underneath."""
    gif = oracle.render_gif_animated(
        [["WIDE FIRST"], ["X"]], partial_after_first=True
    )
    gce = [i for i in range(len(gif)) if gif.startswith(b"\x21\xf9\x04", i)]
    assert len(gce) == 2
    w, h, frames = oracle.gif_decode_frames(gif)
    f0, f1 = (px for _delay, px in frames)
    x_rect = {y * w + x for y in range(h) for x in range(6)}

    def patched(frame: int, packed: int) -> bytes:
        g = bytearray(gif)
        g[gce[frame] + 3] = packed  # transparent index byte stays 0 (white)
        return bytes(g)

    def pixels(g: bytes) -> list[bytearray]:
        return [px for _delay, px in oracle.gif_decode_frames(g)[2]]

    # disposal 2 on frame 0: outside X's rect, frame 1 shows background
    d0, d1 = pixels(patched(0, 0x08))
    assert d0 == f0
    assert all(d1[i] == 255 for i in range(w * h) if i not in x_rect)
    assert all(d1[i] == f1[i] for i in x_rect)
    # transparent white on frame 1: only its ink lands on frame 0
    t0, t1 = pixels(patched(1, 0x01))
    assert t0 == f0
    assert t1 == bytearray(
        min(f0[i], f1[i]) if i in x_rect else f0[i] for i in range(w * h)
    )
    # disposal 3 is refused by name; the single-image reader ignores it
    with pytest.raises(ValueError, match="disposal 3"):
        oracle.gif_decode_frames(patched(0, 0x0C))
    assert oracle.gif_decode_gray(patched(0, 0x0C))[2] == f0


def test_csv_sniff_and_extract():
    """Structural CSV probe + normalization: stripped cells joined ' | ',
    n_blocks = data rows, CRLF and latin-1 payloads handled via the
    encoding chain."""
    doc = b"order_id,client,qty\r\nORD-1, acme ,3\r\n ORD-2,globex,7\r\n"
    assert oracle.sniff_format(doc) == "csv"
    t, n, enc = oracle.extract_csv(doc)
    assert t == b"order_id | client | qty\nORD-1 | acme | 3\nORD-2 | globex | 7"
    assert n == 2 and enc == "utf-8"
    # latin-1 payload: recovered text, not U+FFFD
    l1 = "id,client,total\n1,café,9\n".encode("latin-1")
    t2, n2, enc2 = oracle.extract_csv(l1)
    assert enc2 == "latin-1" and "café".encode("utf-8") in t2 and n2 == 1
    # full dispatch routes csv + records the encoding
    r = oracle.extract(l1)
    assert r.format == "csv" and r.ok and r.encoding == "latin-1"
    # non-table text with commas but inconsistent counts stays text
    assert oracle.sniff_format(b"one, two, three\njust one, comma\n") == "text"
    # single line is never csv
    assert oracle.sniff_format(b"a,b,c") == "text"


def test_pbm_render_decode_roundtrip():
    """The pixel→text path: render with FONT5X7, decode by glyph-cell
    classification — byte-identical text back, garbage → error row."""
    from multi_format_document_extractor_spark.oracle import (
        FONT5X7,
        _GLYPH_REV,
        extract_pbm,
        render_pbm,
    )

    assert len(_GLYPH_REV) == len(FONT5X7)  # glyphs pairwise distinct
    lines = ["HELLO WORLD", "SPARK SCAN", "A"]
    t, n = extract_pbm(render_pbm(lines))
    assert t == b"HELLO WORLD\nSPARK SCAN\nA" and n == 3
    r = oracle.extract(render_pbm(["DENSITY LAYOUT"]))
    assert r.format == "pbm" and r.ok and r.encoding is None
    assert r.text == b"DENSITY LAYOUT" and r.n_blocks == 1
    # truncated raster / malformed header are error rows, never exceptions
    bad = oracle.extract(b"P4\n100 100\n\x00\x01")
    assert bad.format == "pbm" and not bad.ok and "PBM" in bad.error
    bad2 = oracle.extract(b"P4\nxx\n")
    assert bad2.format == "pbm" and not bad2.ok
    # a truncated PNG is an error row through the real decoder (v4)
    assert not oracle.extract(b"\x89PNG\r\n\x1a\nxxxx").ok


def test_png_render_decode_roundtrip_and_errors():
    """The v4 PNG codec: real chunk/inflate/unfilter decode under every
    scanline filter type, CRC validation, unsupported-mode rejection —
    all error-as-data, and a rendered payload any standard reader could
    decode round-trips byte-identically."""
    from multi_format_document_extractor_spark.oracle import (
        extract_png,
        png_decode_gray8,
        render_png,
    )

    lines = ["QUICK BROWN FOX", "JUMPS OVER"]
    for fts in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 2, 3]):
        p = render_png(lines, fts)
        t, n = extract_png(p)
        assert t == b"QUICK BROWN FOX\nJUMPS OVER" and n == 2, fts
    # v10 color containers: truecolor / palette / gray+alpha / RGBA all
    # reduce to the same readable luma page — the alpha ones through a
    # TRANSPARENT background only real compositing reads as paper
    for ct in (2, 3, 4, 6):
        for fts in ([0], [1, 2, 3, 4]):
            p = render_png(lines, fts, color_type=ct)
            t, n = extract_png(p)
            assert t == b"QUICK BROWN FOX\nJUMPS OVER" and n == 2, (ct, fts)
    # v13: Adam7 interlace (per-pass sub-image filtering) and 16-bit
    # depth (MSB reduction) read the same page in every combination
    for ct in (0, 2, 3, 4, 6):
        for il in (False, True):
            for d in (8, 16) if ct != 3 else (8,):
                p = render_png(lines, [4, 2], color_type=ct,
                               interlace=il, depth=d)
                t, n = extract_png(p)
                assert t == b"QUICK BROWN FOX\nJUMPS OVER", (ct, il, d)
    # Adam7 pixel-exactness incl. tiny geometries with EMPTY passes
    from multi_format_document_extractor_spark.oracle import _png_encode

    for (w0, h0) in ((1, 1), (2, 2), (5, 3), (7, 9), (8, 8)):
        px = bytearray(((x * 37 + y * 11) % 256)
                       for y in range(h0) for x in range(w0))
        p = _png_encode(px, w0, h0, 0, None, [2, 4], interlace=True)
        w2, h2, out = png_decode_gray8(p)
        assert (w2, h2) == (w0, h0) and bytes(out) == bytes(px), (w0, h0)
    # v14 sub-byte depths: 1/2/4-bit gray (fax) and palette (icon)
    # read the same page, plain and interlaced
    for ct in (0, 3):
        for d in (1, 2, 4):
            for il in (False, True):
                p = render_png(lines, [1, 2, 3, 4], color_type=ct,
                               interlace=il, depth=d)
                t, n = extract_png(p)
                assert t == b"QUICK BROWN FOX\nJUMPS OVER", (ct, d, il)
    # spec sample scaling: 2-bit gray 0/1/2/3 → 0/85/170/255 exactly
    p = _png_encode(bytearray([0, 1, 2, 3]), 4, 1, 0, None, [0], depth=2)
    assert list(png_decode_gray8(p)[2]) == [0, 85, 170, 255]
    # a sub-byte depth the spec does not define is a named error
    for d in (3, 5):
        with pytest.raises(ValueError, match=f"^sub-byte depth {d} invalid"):
            _png_encode(bytearray(4), 4, 1, 0, None, [0], depth=d)
    # so is any depth above 8 other than 16: no IHDR may claim a depth
    # the sample bytes do not have
    with pytest.raises(ValueError, match="^multi-byte depth 12 invalid"):
        render_png(lines, [0], depth=12)
    for d in (9, 15, 17, 32):
        with pytest.raises(ValueError, match=f"^multi-byte depth {d} invalid"):
            _png_encode(bytearray(8), 4, 1, 0, None, [0], depth=d)
    # v15 tRNS transparency: DARK paper keyed (gray/RGB) or zero-alpha
    # (palette) reads the page ONLY through the chunk
    for ct in (0, 2, 3):
        for il in (False, True):
            p = render_png(lines, [1, 3], color_type=ct, interlace=il,
                           keyed=True)
            t, n = extract_png(p)
            assert t == b"QUICK BROWN FOX\nJUMPS OVER", (ct, il)
    # the same dark paper WITHOUT tRNS is solid ink — the chunk is
    # load-bearing, not decorative
    w0, h0 = 8, 2
    dark = _png_encode(bytearray([0x20] * (w0 * h0)), w0, h0, 0)
    assert all(v == 0x20 for v in png_decode_gray8(dark)[2])
    # 16-bit color key compares at FULL precision: 0x2020 transparent,
    # 0x20FF kept
    pix16 = bytearray([0x20, 0x20, 0x20, 0xFF, 0x00, 0x00])
    p = _png_encode(pix16, 3, 1, 0, None, [0], depth=16, trns=b"\x20\x20")
    assert list(png_decode_gray8(p)[2]) == [255, 0x20, 0]
    # full dispatch: format 'image', ok, no encoding column
    r = oracle.extract(render_png(["DENSITY LAYOUT"], [3, 4]))
    assert r.format == "image" and r.ok and r.encoding is None
    assert r.text == b"DENSITY LAYOUT" and r.n_blocks == 1
    # corrupt CRC → error row naming the chunk
    p = bytearray(render_png(["A"]))
    p[-5] ^= 0xFF  # flip a byte of IEND's CRC
    e = oracle.extract(bytes(p))
    assert not e.ok and "CRC" in e.error
    # flipped IDAT byte → CRC catches it (content integrity, not just tail)
    p = bytearray(render_png(["AB"]))
    idat_at = bytes(p).find(b"IDAT")
    p[idat_at + 6] ^= 0x01
    assert not oracle.extract(bytes(p)).ok
    # unsupported color mode rejected by name, not garbage output
    import zlib as _z

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (_z.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr_4bit_rgb = (
        (2).to_bytes(4, "big") + (2).to_bytes(4, "big")
        + bytes([4, 2, 0, 0, 0])  # sub-byte TRUECOLOR: illegal per spec
    )
    shallow = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_4bit_rgb)
        + chunk(b"IDAT", _z.compress(b"\x00" * 4)) + chunk(b"IEND", b"")
    )
    e = oracle.extract(shallow)
    assert not e.ok and "unsupported PNG" in e.error
    # 16-bit PALETTE is illegal per spec and stays rejected
    ihdr_p16 = (
        (2).to_bytes(4, "big") + (2).to_bytes(4, "big")
        + bytes([16, 3, 0, 0, 0])
    )
    p16 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_p16)
        + chunk(b"PLTE", b"\xff\xff\xff")
        + chunk(b"IDAT", _z.compress(b"\x00" * 10)) + chunk(b"IEND", b"")
    )
    e = oracle.extract(p16)
    assert not e.ok and "unsupported PNG" in e.error
    # a truncated Adam7 stream (one pass short) is an error ROW
    full = render_png(["AB"], [0], interlace=True)
    idat_at = full.find(b"IDAT")
    idat_len = int.from_bytes(full[idat_at - 4 : idat_at], "big")
    raw = _z.decompress(full[idat_at + 4 : idat_at + 4 + idat_len])
    cut = (
        full[: idat_at - 4]
        + chunk(b"IDAT", _z.compress(raw[: len(raw) - 4]))
        + chunk(b"IEND", b"")
    )
    e = oracle.extract(cut)
    assert not e.ok
    # palette file with an out-of-range index → error row, not garbage
    ihdr_pal = (
        (2).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + bytes([8, 3, 0, 0, 0])
    )
    pal = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_pal)
        + chunk(b"PLTE", b"\xff\xff\xff")
        + chunk(b"IDAT", _z.compress(b"\x00\x00\x05")) + chunk(b"IEND", b"")
    )
    e = oracle.extract(pal)
    assert not e.ok and "palette index" in e.error
    # geometry bound: a claimed 1-terapixel image is rejected up front
    ihdr_huge = (
        (10 ** 6).to_bytes(4, "big") + (10 ** 6).to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])
    )
    huge = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_huge)
        + chunk(b"IDAT", _z.compress(b"")) + chunk(b"IEND", b"")
    )
    e = oracle.extract(huge)
    assert not e.ok and "decode bound" in e.error
    # decoder accepts geometry checks before touching pixel data
    with __import__("pytest").raises(ValueError):
        png_decode_gray8(b"\x89PNG\r\n\x1a\n")


def test_jpeg_render_decode_roundtrip_and_errors():
    """The v6 JPEG codec (retires the last image half of S8): baseline
    grayscale encode → segment/Huffman/IDCT decode recovers the text
    byte-identically; gray-ramp pixel roundtrip is within 1 LSB of the
    quant=1 contract; unsupported shapes are named error rows; every
    truncation of a real payload is an error ROW, never an exception."""
    from multi_format_document_extractor_spark.oracle import (
        extract_jpeg,
        jpeg_decode_gray8,
        jpeg_dims,
        jpeg_encode,
        render_jpeg,
    )

    lines = ["QUICK BROWN FOX", "JUMPS OVER", "A"]
    j = render_jpeg(lines)
    assert j[:3] == b"\xff\xd8\xff" and j[-2:] == b"\xff\xd9"
    t, n = extract_jpeg(j)
    assert t == b"QUICK BROWN FOX\nJUMPS OVER\nA" and n == 3
    # full dispatch: format 'image', ok, no encoding column
    r = oracle.extract(render_jpeg(["DENSITY LAYOUT"]))
    assert r.format == "image" and r.ok and r.encoding is None
    assert r.text == b"DENSITY LAYOUT" and r.n_blocks == 1
    # near-lossless pixel contract on non-glyph content (gradients hit
    # every AC path: runs, ZRL, EOB, byte stuffing)
    w, h = 21, 13
    img = [[(x * 7 + y * 11) % 256 for x in range(w)] for y in range(h)]
    data = jpeg_encode(img, w, h, False, (1, 1), 0, False)
    w2, h2, pix = jpeg_decode_gray8(data)
    assert (w2, h2) == (w, h) == jpeg_dims(data)
    assert max(
        abs(pix[y * w + x] - img[y][x]) for y in range(h) for x in range(w)
    ) <= 1
    # v10 color containers: YCbCr at every supported sampling, with and
    # without restart intervals, reads the same text through the Y plane
    for hv in ((1, 1), (2, 1), (2, 2)):
        for rst in (0, 1, 3):
            c = render_jpeg(lines, color=True, hv=hv, restart_mcus=rst)
            t, n = extract_jpeg(c)
            assert t == b"QUICK BROWN FOX\nJUMPS OVER\nA" and n == 3, (hv, rst)
            assert jpeg_dims(c) == jpeg_dims(j)
    # an out-of-sequence RST marker is a named error, not silence
    c = bytearray(render_jpeg(lines, color=True, restart_mcus=1))
    rst_at = bytes(c).find(b"\xff\xd0")
    assert rst_at > 0
    c[rst_at + 1] = 0xD5  # breaks the D0-D7 cycle
    e = oracle.extract(bytes(c))
    assert not e.ok and "RST marker out of sequence" in e.error
    # progressive (SOF2, v12): the full successive-approximation script
    # round-trips the same text, and final pixels are IDENTICAL to the
    # baseline encoder's (same coefficients reconstructed scan by scan)
    for color in (False, True):
        pj = render_jpeg(lines, color=color, progressive=True)
        t, n = extract_jpeg(pj)
        assert t == b"QUICK BROWN FOX\nJUMPS OVER\nA" and n == 3, color
        assert jpeg_dims(pj) == jpeg_dims(j)
    assert bytes(jpeg_decode_gray8(render_jpeg(lines, progressive=True))[2]) == \
        bytes(jpeg_decode_gray8(j)[2])
    # a baseline file stamped SOF2 parses as progressive and is rejected
    # for its now-illegal full-band DC scan — a named error row
    body = bytearray(j)
    sof_at = bytes(body).find(b"\xff\xc0")
    body[sof_at + 1] = 0xC2
    e = oracle.extract(bytes(body))
    assert not e.ok and "DC scan must have Se=0" in e.error
    # unsupported shapes are named: extended-sequential SOF1,
    # 2-component SOF0, sampling factors above 2
    body = bytearray(j)
    body[sof_at + 1] = 0xC1
    e = oracle.extract(bytes(body))
    assert not e.ok and "SOF 0xC1" in e.error
    body = bytearray(j)
    body[sof_at + 9] = 2  # component count byte of SOF0
    e = oracle.extract(bytes(body))
    assert not e.ok and "2 components" in e.error
    body = bytearray(render_jpeg(lines, color=True))
    sof_at = bytes(body).find(b"\xff\xc0")
    body[sof_at + 11] = 0x41  # luma sampling 4x1
    e = oracle.extract(bytes(body))
    assert not e.ok and "sampling factor 4x1" in e.error
    # jpeg_dims still reads geometry from the refused progressive file
    prog = bytearray(j)
    prog[sof_at + 1] = 0xC2
    assert jpeg_dims(bytes(prog)) == jpeg_dims(j)
    # truncation fuzz: error rows all the way down
    for cut in range(0, len(j), 7):
        e = oracle.extract(j[:cut])
        assert isinstance(e.ok, bool)
        if cut >= 3:
            assert e.format == "image" and not e.ok
    # a flipped entropy byte never escapes as an exception
    for flip_at in range(len(j) - 40, len(j) - 2):
        bad = bytearray(j)
        bad[flip_at] ^= 0x55
        e = oracle.extract(bytes(bad))
        assert isinstance(e.ok, bool)


def _jpeg_header_spans(j: bytes) -> list[tuple[int, int, int]]:
    """(marker, start, end) of each encoder-written header segment, up
    to and including SOS."""
    spans, pos = [], 2
    while True:
        marker = j[pos + 1]
        end = pos + 2 + int.from_bytes(j[pos + 2 : pos + 4], "big")
        spans.append((marker, pos, end))
        if marker == 0xDA:
            return spans
        pos = end


def test_jpeg_frame_type_contracts():
    """Each frame type keeps its own contract inside the one decoder:
    SOF0 needs its tables before the scan, needs every frame component
    in its one scan, and decodes without EOI; SOF2 needs EOI."""
    lines = ["QUICK BROWN FOX", "JUMPS OVER", "A"]
    text = b"QUICK BROWN FOX\nJUMPS OVER\nA"
    for color in (False, True):
        j = oracle.render_jpeg(lines, color=color)
        spans = _jpeg_header_spans(j)
        no_dht = j[:2] + b"".join(j[a:b] for m, a, b in spans if m != 0xC4)
        no_dht += j[spans[-1][2] :]
        with pytest.raises(ValueError, match="started before SOF/DQT/DHT$"):
            oracle.jpeg_decode_gray8(no_dht)
        # a complete baseline scan missing only its EOI still decodes
        assert j[-2:] == b"\xff\xd9"
        assert oracle.extract_jpeg(j[:-2]) == (text, 3)
        assert oracle.jpeg_decode_gray8(j[:-2]) == oracle.jpeg_decode_gray8(j)
        prog = oracle.render_jpeg(lines, color=color, progressive=True)
        assert oracle.extract_jpeg(prog) == (text, 3)
        with pytest.raises(
            ValueError, match=r"^truncated progressive JPEG \(no EOI\)$"
        ):
            oracle.jpeg_decode_gray8(prog[:-2])
    # a color baseline whose SOS names only the luma component
    c = oracle.render_jpeg(lines, color=True)
    _m, a, b = _jpeg_header_spans(c)[-1]
    sos = c[a + 4 : b]
    ns = sos[0]
    assert ns == 3
    one = bytes([1]) + sos[1:3] + sos[1 + 2 * ns :]
    seg = b"\xff\xda" + (len(one) + 2).to_bytes(2, "big") + one
    bad = c[:a] + seg + c[b:]
    with pytest.raises(ValueError, match=r"single-scan baseline\)$"):
        oracle.jpeg_decode_gray8(bad)


def test_jpeg_short_sof_and_sos_bodies_are_named_truncations():
    """A SOF whose length field says 3 and a SOS whose length field says
    2 are named truncations for the geometry reader and the decoder,
    never a (0, 0) geometry or a bare IndexError."""
    for color in (False, True):
        j = oracle.render_jpeg(["AB"], color=color)
        spans = {m: (a, b) for m, a, b in _jpeg_header_spans(j)}
        sof = spans[0xC0][0]
        short_sof = j[: sof + 2] + b"\x00\x03" + j[sof + 4 :]
        for fn in (oracle.jpeg_dims, oracle.jpeg_decode_gray8):
            with pytest.raises(ValueError, match=r"^truncated JPEG SOF$"):
                fn(short_sof)
        sos = spans[0xDA][0]
        short_sos = j[: sos + 2] + b"\x00\x02" + j[sos + 4 :]
        with pytest.raises(ValueError, match=r"^truncated JPEG SOS$"):
            oracle.jpeg_decode_gray8(short_sos)
        for p in (short_sof, short_sos):
            e = oracle.extract(p)
            assert e.format == "image" and not e.ok and "truncated JPEG" in e.error


def test_pdf15_objstm_xref_stream_container():
    """PDF 1.5 container (round 4b): the page tree packs into a
    Flate-compressed /Type /ObjStm and the cross-reference is a binary
    /Type /XRef stream with /W-packed type-1/type-2 rows — under every
    flate/indirect/permutation combination the structure walk must
    produce document page order, and the xref-STREAM path (not the scan
    fallback) must be the one that resolves it."""
    import random

    from multi_format_document_extractor_spark import oracle
    from multi_format_document_extractor_spark.corpus import _build_pdf

    s1 = b"BT /F1 12 Tf\n50 720 Td (PAGE ONE) Tj\nET"
    s2 = b"BT /F1 12 Tf\n50 720 Td (PAGE TWO) Tj\nET"
    for flate in (False, True):
        for ind in (False, True):
            for seed in (None, 3, 99):
                perm = random.Random(seed) if seed else None
                p = _build_pdf(
                    [s1, s2],
                    flate=flate,
                    indirect_length=ind,
                    permute=perm,
                    objstm=True,
                )
                assert oracle._pdf_xref_objects(p) is not None, (
                    flate, ind, seed,
                )
                t, n_pages = oracle.extract_pdf(p)
                assert n_pages == 2, (flate, ind, seed)
                assert t == b"PAGE ONE\n\nPAGE TWO", (flate, ind, seed, t)


def test_pdf15_scan_fallback_expands_objstm():
    """A 1.5 file whose startxref pointer is destroyed must still read in
    page order: the linear rebuild scan finds the ObjStm object itself
    and expands it, so the /Kids walk keeps working."""
    import random

    from multi_format_document_extractor_spark import oracle
    from multi_format_document_extractor_spark.corpus import _build_pdf

    s1 = b"BT /F1 12 Tf\n50 720 Td (PAGE ONE) Tj\nET"
    s2 = b"BT /F1 12 Tf\n50 720 Td (PAGE TWO) Tj\nET"
    for seed in range(8):
        p = _build_pdf(
            [s1, s2], flate=True, permute=random.Random(seed), objstm=True
        )
        bad = p.replace(b"startxref", b"% gone\nstartxre_", 1)
        assert oracle._pdf_xref_objects(bad) is None
        t, n_pages = oracle.extract_pdf(bad)
        assert n_pages == 2 and t == b"PAGE ONE\n\nPAGE TWO", seed


def test_pdf15_corrupt_objstm_never_raises():
    """A 1.5 file whose ObjStm bytes are corrupt must stay error-as-data
    at worst (extract() returns a row, never an exception)."""
    import re as re_
    import random

    from multi_format_document_extractor_spark import oracle
    from multi_format_document_extractor_spark.corpus import _build_pdf

    p = _build_pdf(
        [b"BT 50 720 Td (x) Tj ET"], permute=random.Random(5), objstm=True
    )
    mz = re_.search(rb"/Type /ObjStm[^>]*>>\nstream\n", p)
    bad = p[: mz.end()] + b"\xff\xfe" + p[mz.end() + 2 :]
    r = oracle.extract(bad)
    assert r.format == "pdf"  # row produced, no crash
