"""WHATWG-style encoding sniff (oracle.sniff_encoding / decode_web).

The real web declares its encoding three ways — BOM, <meta charset>,
<meta http-equiv="content-type"> — and lies about it often. These tests
pin the authority order (BOM > meta prescan > reference fallback chain),
the spec's label-resolution quirks (latin-1 family → windows-1252,
meta-declared utf-16 → utf-8), the strict-decode-with-fallback behavior
on mislabeled pages, and the corpus v17 end-to-end roundtrip.
"""

from __future__ import annotations

import codecs

from multi_format_document_extractor_spark import corpus
from multi_format_document_extractor_spark.oracle import (
    META_PRESCAN_BYTES,
    WHATWG_ENCODINGS,
    WHATWG_LABELS,
    decode_web,
    extract,
    lookup_whatwg,
    sniff_encoding,
)


def test_label_table_resolvable_and_consistent():
    # every python codec in the table must exist in this stdlib
    for name, (codec, labels) in WHATWG_ENCODINGS.items():
        codecs.lookup(codec)
        assert labels, name
        for label in labels:
            assert WHATWG_LABELS[label] == (name, codec)
    # spec trim (ASCII whitespace incl. form feed) + case-insensitivity
    assert lookup_whatwg("  UTF-8\t\n") == ("utf-8", "utf-8")
    assert lookup_whatwg("\x0cShift_JIS ") == ("shift_jis", "cp932")
    # the latin-1/ascii family resolves to windows-1252 (spec rule)
    for label in ("latin1", "iso-8859-1", "ascii", "us-ascii", "l1"):
        assert lookup_whatwg(label) == ("windows-1252", "cp1252")
    # unknown / replacement-family labels are unsupported → None
    for label in ("utf-7", "x-user-defined", "iso-2022-kr", "hz-gb-2312", ""):
        assert lookup_whatwg(label) is None


def test_bom_beats_meta():
    doc = '<meta charset="koi8-r"><p>Дом и мир</p>'
    p = b"\xff\xfe" + doc.encode("utf-16-le")
    assert sniff_encoding(p) == ("utf-16le", "utf-16")
    text, enc = decode_web(p)
    assert enc == "utf-16le" and "Дом и мир" in text
    assert not text.startswith("﻿")  # BOM stripped, not leaked
    p = b"\xfe\xff" + doc.encode("utf-16-be")
    assert decode_web(p)[1] == "utf-16be"
    p = b"\xef\xbb\xbf" + doc.encode("utf-8")
    text, enc = decode_web(p)
    assert enc == "utf-8" and not text.startswith("﻿")


def test_meta_declaration_shapes():
    body = "<p>Привет мир сегодня</p>"
    for meta in (
        '<meta charset="windows-1251">',
        "<meta charset=windows-1251>",
        "<meta charset='windows-1251'/>",
        '<META CHARSET="Windows-1251">',
        '<meta http-equiv="Content-Type" '
        'content="text/html; charset=windows-1251">',
        "<meta http-equiv=content-type content='text/html;charset=windows-1251'>",
    ):
        p = f"<html><head>{meta}</head><body>{body}</body></html>".encode(
            "cp1251"
        )
        assert sniff_encoding(p) == ("windows-1251", "cp1251"), meta
        text, enc = decode_web(p)
        assert enc == "windows-1251" and "Привет" in text, meta


def test_charset_inside_other_meta_content_is_not_a_declaration():
    p = b'<meta name="description" content="set charset=koi8-r like this">'
    assert sniff_encoding(p) is None
    # ...but a later REAL declaration still wins
    p2 = p + b'<meta charset="greek">'
    assert sniff_encoding(p2) == ("iso-8859-7", "iso8859-7")


def test_unknown_label_skipped_not_fatal():
    p = b'<meta charset="utf-7"><meta charset="gb2312">x'
    assert sniff_encoding(p) == ("gbk", "gbk")
    assert sniff_encoding(b'<meta charset="klingon">') is None


def test_meta_declared_utf16_is_read_as_utf8():
    # spec: byte content contradicting a 16-bit declaration → utf-8
    for label in ("utf-16", "utf-16le", "utf-16be"):
        p = f'<meta charset="{label}"><p>résumé</p>'.encode("utf-8")
        assert sniff_encoding(p) == ("utf-8", "utf-8")
        text, enc = decode_web(p)
        assert enc == "utf-8" and "résumé" in text


def test_prescan_window_is_1024_bytes():
    pad = b"<!-- " + b"x" * META_PRESCAN_BYTES + b" -->"
    late = pad + '<meta charset="windows-1251">'.encode()
    assert sniff_encoding(late) is None  # declaration beyond the window
    early = b'<meta charset="windows-1251">' + pad
    assert sniff_encoding(early) == ("windows-1251", "cp1251")


def test_mislabeled_page_falls_back_to_chain():
    # declares utf-8, is latin-1 → strict utf-8 fails → chain → latin-1
    p = '<meta charset="utf-8"><p>café</p>'.encode("latin-1")
    text, enc = decode_web(p)
    assert enc == "latin-1" and "café" in text
    # declares shift_jis, is valid utf-8 that is NOT valid cp932
    bad = '<meta charset="shift_jis"><p>\udcff</p>'  # unencodable in cp932
    p2 = '<meta charset="shift_jis"><p>текст</p>'.encode("utf-8")
    text2, enc2 = decode_web(p2)
    # cp932 decode of this utf-8 either fails (→ chain picks utf-8) or
    # cannot be asserted mojibake-free; the contract is: never raise
    assert enc2 in ("utf-8", "shift_jis")
    del bad
    # BOM'd but truncated/odd utf-16 → strict decode fails → chain, no raise
    p3 = b"\xff\xfe<\x00p\x00>"
    odd = p3 + b"\xff"
    decode_web(odd)


def test_charset_vocabs_encode_in_their_codec():
    # every corpus vocab word must round-trip in its declared codec (the
    # generator assumes it; big5's traditional list especially)
    for name, vocab in corpus._CHARSET_VOCABS.items():
        codec = WHATWG_ENCODINGS[name][0]
        for w in vocab:
            assert w.encode(codec).decode(codec) == w, (name, w)


def test_extract_end_to_end_per_charset():
    cases = {
        "windows-1251": ("windows-1251", "слово москва время жизнь"),
        "shift_jis": ("x-sjis", "日本 東京 言葉 時間 情報 内容"),
        "gbk": ("GB2312", "中国 北京 时间 技术 信息 内容"),
        "euc-kr": ("korean", "한국 서울 시간 기술 정보 내용"),
        "iso-8859-7": ("greek", "αθήνα λέξη χρόνος κόσμος ζωή"),
        "windows-1252": ("latin1", "café naïve résumé déjà façade"),
        # v18: the stateful escape-coded JIS framing + euc-jp + the
        # all-Unicode gb superset + traditional-Chinese big5
        "iso-2022-jp": ("csiso2022jp", "日本 東京 言葉 時間 情報 内容"),
        "euc-jp": ("x-euc-jp", "日本 東京 言葉 時間 情報 内容"),
        "gb18030": ("gb18030", "中国 北京 时间 技术 信息 内容"),
        "big5": ("cn-big5", "台灣 時間 世界 技術 資訊 內容"),
    }
    for canonical, (label, words) in cases.items():
        content = (words + " ") * 8
        doc = (
            f'<html><head><meta charset="{label}"></head>'
            f"<body><p>{content.strip()}</p></body></html>"
        )
        codec = WHATWG_ENCODINGS[canonical][0]
        got = extract(doc.encode(codec))
        assert got.format == "html" and got.ok, canonical
        assert got.encoding == canonical
        assert got.text.decode("utf-8") == content.strip(), canonical


def test_utf16_text_payload_extracts():
    body = "первая строка\nвторая строка"
    got = extract(b"\xff\xfe" + body.encode("utf-16-le"))
    assert got.format == "text" and got.ok and got.encoding == "utf-16le"
    assert got.text.decode("utf-8") == body
    got = extract(b"\xfe\xff" + body.encode("utf-16-be"))
    assert got.encoding == "utf-16be"
    assert got.text.decode("utf-8") == body


def test_corpus_v17_charset_pages_roundtrip():
    rows = corpus.gen_rows(2500, seed=99)
    seen: set[str] = set()
    for r in rows:
        if r.format != "html":
            continue
        got = extract(r.html)
        assert got.ok and got.text == r.text_expected, r.url
        if got.encoding and got.encoding != "utf-8":
            seen.add(got.encoding)
    # the charset mix must actually be exercised, not just generatable
    assert {
        "windows-1251", "shift_jis", "gbk", "iso-8859-7",
        "iso-2022-jp", "big5",  # v18: escape-coded JIS + traditional zh
    } <= seen, seen
    assert any(e.startswith("utf-16") for e in seen), seen


def test_native_charset_columns_lockstep(spark):
    """The native census columns (webtext.charset_label +
    whatwg_canonical) must agree with the spec lookup — and, on every
    non-utf-16 label, with the full UDF prescan (sniff_encoding) — over
    the declaration shapes they document (quoted charset / quoted
    http-equiv, random case, spec whitespace padding, unknown labels)."""
    import random

    from pyspark.sql import functions as F

    from multi_format_document_extractor_spark.functions import webtext as W

    rng = random.Random(5)
    labels = list(WHATWG_LABELS) + ["klingon", "x-user-defined", "utf-7"]
    rows = []
    for i, lbl in enumerate(labels):
        cased = "".join(c.upper() if rng.random() < 0.5 else c for c in lbl)
        padded = f" {cased}\t" if i % 5 == 0 else cased
        if i % 3 == 0:
            head = (
                '<html><head><title>t</title><meta http-equiv="Content-Type"'
                f' content="text/html; charset={padded}"></head>'
            )
        else:
            head = (
                f'<html><head><title>t</title><meta charset="{padded}">'
                "</head>"
            )
        rows.append((padded, head))
    df = spark.createDataFrame(rows, "padded string, html string")
    lblcol = W.charset_label(F.col("html"))
    got = df.select(
        "padded", "html", W.whatwg_canonical(lblcol).alias("canon")
    ).collect()
    assert len(got) == len(labels)
    for r in got:
        hit = lookup_whatwg(r["padded"])
        if hit is None:
            assert r["canon"] is None, r["padded"]
            continue
        name = hit[0]
        assert r["canon"] == name, r["padded"]
        if name not in ("utf-16le", "utf-16be"):
            # full prescan agrees (utf-16 declarations are remapped to
            # utf-8 there by spec rule; the census reports the DECLARED
            # name — that divergence is the documented boundary)
            assert sniff_encoding(r["html"].encode())[0] == name, r["padded"]


# ---------------------------------------------------------------------------
# Hypothesis fuzz: the sniff/decode layer sits in front of EVERY text
# payload; it must be total (never raise) and only ever answer from the
# label table, no matter what bytes the crawl throws at it.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_VALID_ANSWERS = {(n, c) for n, (c, _ls) in WHATWG_ENCODINGS.items()} | {
    ("utf-8", "utf-8-sig"),
    ("utf-16le", "utf-16"),
    ("utf-16be", "utf-16"),
}


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=256))
def test_decode_web_total_on_raw_bytes(payload):
    text, enc = decode_web(payload)
    assert isinstance(text, str) and isinstance(enc, str)
    hit = sniff_encoding(payload)
    assert hit is None or hit in _VALID_ANSWERS


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(sorted(WHATWG_LABELS)),
    st.binary(max_size=48),
    st.binary(max_size=48),
)
def test_injected_declaration_never_derails(label, pre, post):
    """A real declaration spliced between arbitrary byte noise: the sniff
    must stay total and in-table; when the noise contains no earlier BOM
    or declaration, the injected label itself must win."""
    p = pre + f'<meta charset="{label}">'.encode() + post
    hit = sniff_encoding(p)
    assert hit is None or hit in _VALID_ANSWERS
    decode_web(p)  # total
    if not any(p.startswith(b) for b in (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff")) \
            and b"<meta" not in pre and b"charset" not in pre:
        expected = lookup_whatwg(label)
        if expected[0] in ("utf-16le", "utf-16be"):
            expected = ("utf-8", "utf-8")
        assert hit == expected, (label, pre)


# ---------------------------------------------------------------------------
# Statistical detection for UNDECLARED legacy pages (corpus v19)
# ---------------------------------------------------------------------------

from multi_format_document_extractor_spark.oracle import (  # noqa: E402
    detect_encoding,
)


def _undeclared_page(codec: str, words: str, reps: int = 6) -> bytes:
    nav = "".join(f'<a href="/c{i}">home search data</a> ' for i in range(6))
    body = (words + " ") * reps
    return (
        f"<html><head><title>page title here</title></head><body>"
        f"<nav>{nav}</nav><p>{body.strip()}</p>"
        f"<footer>about contact terms privacy</footer></body></html>"
    ).encode(codec)


def test_detect_encoding_per_script():
    cases = {
        "windows-1251": ("cp1251", "москва слово город время человек жизнь работа система вопрос ответ"),
        "koi8-r": ("koi8-r", "россия язык страница сервер сеть файл данные таблица запрос фильтр"),
        "iso-8859-7": ("iso8859-7", "αθήνα λέξη χρόνος κόσμος τεχνολογία πληροφορία κείμενο άρθρο ζωή"),
        "shift_jis": ("cp932", "日本 の 東京 です 言葉 を 時間 と 世界 これ 技術 する 情報 ます"),
        "euc-kr": ("cp949", "한국 서울 시간 세계 기술 정보 문서 기사 내용 검색 사용 필요 이것 하다"),
        "gbk": ("gbk", "中国 北京 时间 世界 技术 信息 文档 文章 内容 搜索 使用 需要"),
        "big5": ("big5hkscs", "台灣 時間 世界 技術 資訊 文件 文章 內容 搜尋 使用 需要 系統"),
        # unicameral scripts (v20): caseless-coherence branch
        "windows-1256": ("cp1256", "السلام عليكم مدينة كتاب ماء سماء يوم خبر مقال بحث نظام"),
        "windows-1255": ("cp1255", "שלום עולם עיר ספר מים שמים יום חדשות מאמר חיפוש מערכת"),
        "windows-874": ("cp874", "กรุงเทพ เมือง หนังสือ น้ำ ฟ้า วัน ข่าว บทความ ค้นหา ระบบ"),
    }
    for name, (codec, words) in cases.items():
        p = _undeclared_page(codec, words)
        assert detect_encoding(p) == (name, codec), name
        text, enc = decode_web(p)
        assert enc == name + "+detected", name
        assert words.split()[0] in text, name


def test_detect_encoding_big5_trail_letters_not_counted_as_ascii():
    # Undeclared single-paragraph Big5 page whose han chars often have an
    # ASCII-letter trail byte (台 = \xa5x). Counted as ASCII letters,
    # those trail bytes put it under the 0.25 dominance floor and the
    # page decoded as latin-1.
    import numpy as np

    words = "台灣 時間 世界 技術 資訊 文件 文章 內容 搜尋 使用 需要 系統"
    p = _undeclared_page("big5hkscs", words, reps=2)
    arr = np.frombuffer(p, dtype=np.uint8)
    n_high = int((arr > 127).sum())
    n_alpha = int(
        (((arr >= 0x41) & (arr <= 0x5A)) | ((arr >= 0x61) & (arr <= 0x7A))).sum()
    )
    assert n_high / (n_high + n_alpha) < 0.25  # under the floor as counted before
    assert detect_encoding(p) == ("big5", "big5hkscs")
    text, enc = decode_web(p)
    assert enc == "big5+detected" and words in text
    got = extract(p)
    assert got.ok and got.encoding == "big5+detected" and words.encode() in got.text


def test_detect_encoding_latin_negatives():
    # accented-Latin text must NEVER be claimed, even artificially dense —
    # the chain's latin-1 pick is correct for it and fixtures rely on it
    for codec, words in (
        ("latin-1", "café naïve résumé déjà façade et la vie en rose"),
        ("latin-1", "für schöne grüße über die straße der äöü"),
        ("cp1252", "‘curly’ “quotes” – dashes — and €uro"),
    ):
        p = _undeclared_page(codec, words, reps=25)
        assert detect_encoding(p) is None, words
    # pure ASCII and valid utf-8 never reach the detector via decode_web
    assert detect_encoding(b"<html>hello world</html>" * 30) is None
    assert decode_web("<p>привет мир</p>".encode("utf-8"))[1] == "utf-8"


def test_iso2022_signature_detection():
    p = _undeclared_page("iso2022_jp", "日本 の 東京 です 言葉 を 時間")
    assert b"\x1b$B" in p
    text, enc = decode_web(p)
    assert enc == "iso-2022-jp+detected" and "日本" in text


def test_declaration_beats_detection():
    # a declared label wins even when statistics would also fire
    words = "москва слово город время человек жизнь работа система"
    doc = (
        '<html><head><meta charset="windows-1251"></head><body><p>'
        + (words + " ") * 6
        + "</p></body></html>"
    ).encode("cp1251")
    assert decode_web(doc)[1] == "windows-1251"  # no '+detected'


def test_corpus_v19_undeclared_pages_roundtrip():
    rows = corpus.gen_rows(3000, seed=101)
    seen: set[str] = set()
    for r in rows:
        if r.format != "html":
            continue
        got = extract(r.html)
        assert got.ok and got.text == r.text_expected, r.url
        if got.encoding and got.encoding.endswith("+detected"):
            seen.add(got.encoding.removesuffix("+detected"))
    assert {"windows-1251", "iso-2022-jp"} <= seen, seen
    assert len(seen) >= 5, seen
    # v20: at least one unicameral script must appear detected
    assert seen & {"windows-1256", "windows-1255", "windows-874"}, seen
