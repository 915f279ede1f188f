"""Differential tests: the fast one-pass scanner (_scan_blocks, production)
vs the html.parser-based reference (_blocks_ref) — plus pinned behavior for
the two documented divergence classes and linear-runtime guards.

Equivalence domain (exact match required): the corpus generator's HTML at
any seed, and structured markup fuzzing over terminated constructs —
nested/unbalanced tags, quoted attrs containing '>' and '<', bare attrs,
self-closing, comments, CDATA, DOCTYPE, PIs, entities, stray '<'.

Documented divergences (oracle.py module comment):
1. markup whose closing delimiter never appears → scanner consumes
   silently (browser semantics), reference re-emits fragments as text.
2. unquoted '<' inside a candidate tag's attr region → scanner ends the
   tag candidate (recovers inner markup), reference swallows it.
"""

from __future__ import annotations

import random
import time
from html.parser import HTMLParser

from multi_format_document_extractor_spark.oracle import (
    _BLOCK_TAGS,
    _DROP_TAGS,
    _VOID_TAGS,
    _Block,
    _scan_blocks,
    extract,
)


class _BlockParser(HTMLParser):
    """Segment an HTML document into text blocks with per-block stats."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self._cur = _Block()
        self._drop_depth = 0
        self._link_depth = 0

    def updatepos(self, i: int, j: int) -> int:
        # line/column tracking feeds only HTMLParser error positions, which
        # this parser never reads; skipping it removes ~7% of parse time.
        return j

    def _flush(self) -> None:
        if self._cur.text_parts or self._cur.n_tags:
            self.blocks.append(self._cur)
        self._cur = _Block()

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self._link_depth += 1
            self._cur.n_tags += 1
        elif tag not in _VOID_TAGS:
            self._cur.n_tags += 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._drop_depth or tag in _DROP_TAGS:
            return
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self._link_depth = max(0, self._link_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        self._cur.text_parts.append(data)
        if self._link_depth:
            # same whitespace-collapsed length as _Block.text (see there for
            # the split/join ≡ \s+-sub equivalence)
            self._cur.link_chars += len(" ".join(data.split()))

    def close(self) -> None:
        super().close()
        self._flush()


def _blocks_ref(data: str) -> list[_Block]:
    """html.parser-based reference block segmentation (the differential
    baseline for _scan_blocks)."""
    parser = _BlockParser()
    parser.feed(data)
    parser.close()
    return parser.blocks


def sig(blocks):
    return [(b.text(), b.link_chars, b.n_tags) for b in blocks]


def same(d: str) -> bool:
    return sig(_scan_blocks(d)) == sig(_blocks_ref(d))


def test_corpus_html_equivalence_multi_seed():
    from multi_format_document_extractor_spark.corpus import gen_rows

    n = mismatches = 0
    for seed in (5, 42, 7, 99):
        for r in gen_rows(600, seed=seed):
            if r.format != "html" or not r.html:
                continue
            n += 1
            if not same(r.html.decode("utf-8", errors="replace")):
                mismatches += 1
    assert n > 1000 and mismatches == 0, (n, mismatches)


_WORDS = "alpha beta gamma x1 22 -- & && &amp; &lt; &#65; &#x41; <3".split()
_TAGS = "p div span li a b em h2 td nav script style footer br img unknown".split()
_ATTRS = [
    "", " class='x'", ' href="a>b"', " data-x=1", " foo",
    ' a="un < quoted"', " x='y' /", ' q="<p>inside</p>"',
]


def _rand_doc(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randrange(40)):
        k = rng.random()
        if k < 0.35:
            parts.append(
                " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(6)))
            )
        elif k < 0.6:
            parts.append(f"<{rng.choice(_TAGS)}{rng.choice(_ATTRS)}>")
        elif k < 0.8:
            parts.append(f"</{rng.choice(_TAGS)}>")
        elif k < 0.86:
            parts.append(f"<!-- {rng.choice(_WORDS)} -->")
        elif k < 0.9:
            parts.append("<![CDATA[ x > y ]]>")
        elif k < 0.94:
            parts.append("<!DOCTYPE html>")
        elif k < 0.97:
            parts.append("<? pi >")
        else:
            parts.append("< notag")
    return "".join(parts)


def test_structured_soup_equivalence():
    rng = random.Random(20260817)
    bad = [d for d in (_rand_doc(rng) for _ in range(4000)) if not same(d)]
    assert not bad, bad[:3]


def test_targeted_equivalence_cases():
    for d in [
        "<p>hello &amp; goodbye</p>",
        "<p>caf&eacute; &#233; &#xE9;</p>",
        '<a href="x>y">link text</a> outside',
        "<div class='c'><p>a</p><p>b</p></div>",
        "<script>var x = '<p>not a tag</p>';</script><p>real</p>",
        "<style>p { color: red; }</style><p>visible</p>",
        "<script>unterminated to eof",
        # constructs STARTING inside a script must not desync the scan
        # (legacy comment-hiding idiom; round-2 code-review finding)
        '<script>x="<!--"</script><div>mid block</div><!-- c --><p>end</p>',
        "<style>/* <p> */</style><p>after style</p>",
        '<script>if (a<b) x("</div>");</script><div>real</div>',
        "<SCRIPT>UPPER</SCRIPT><P>text</P>",
        "x <3 y < z <p>block</p>",
        "<br/><hr /><img src='x'/>",
        "<p/>self closing block<div/>",
        "<!-- c1 --><p>t</p><!-- c2 -->",
        "<!-- tricky -- ><p>in comment?</p> -->after",
        "<![CDATA[ <p>hidden</p> ]]>shown",
        "<!DOCTYPE html><?php echo '<p>'; ?><p>x</p>",
        "a<b<p>block</p>",  # '<' in tag NAME (no space): both parse 'b<p'
        "<nav><script>s</script><p>dropped</p></nav><p>kept</p>",
        "<p>one<p>two<p>three",  # unclosed block tags
        "</p>stray close</div>",
        "<em>nested <b>inline</b> tags</em> done",
        "text &unknown; entity &#; bad",
        "< notag <p>x</p>",
    ]:
        assert same(d), (d, sig(_scan_blocks(d)), sig(_blocks_ref(d)))


def test_divergence_class_1_unterminated_pinned():
    """Closing delimiter never appears → scanner consumes silently."""
    assert sig(_scan_blocks("before<!-- never closed")) == [("before", 0, 0)]
    assert sig(_scan_blocks("a<![CDATA[ x")) == [("a", 0, 0)]
    assert sig(_scan_blocks("a<?pi")) == [("a", 0, 0)]
    assert sig(_scan_blocks("a</di")) == [("a", 0, 0)]
    # unclosed comment swallows the REST (browser semantics)
    assert sig(_scan_blocks("a<!-- x <p>gone</p>")) == [("a", 0, 0)]


def test_divergence_class_2_lt_in_attrs_pinned():
    """Unquoted '<' in an attr region ends the tag candidate; inner markup
    is recovered as its own construct."""
    out = sig(_scan_blocks("a<b gamma</nav>"))
    assert out == [("a<b gamma", 0, 0)]
    out = sig(_scan_blocks("x<b attr <p>recovered</p>"))
    # '<p' recovered as a real block tag (reference would swallow it)
    assert out == [("x<b attr", 0, 0), ("recovered", 0, 0)]


def test_scanner_linear_on_adversarial_payloads():
    """'<'-dense garbage must scan in linear-ish time (the whole point of
    atomic bounded spans + '<'-terminated unquoted runs)."""
    cases = [
        "<a" * 500_000,
        "<a " * 333_333,
        '<a "y' * 100_000,
        "</a" * 200_000,
        "<?" * 100_000,
        "<!--" + "z" * 1_000_000,
        "<a href=\"" + "y" * 1_000_000,
    ]
    for d in cases:
        t0 = time.time()
        _scan_blocks(d)
        assert time.time() - t0 < 5.0, (len(d), d[:20])


def test_burnin_large_sweep():
    """Opt-in burn-in (MFDE_BURNIN=1): 8 extra corpus seeds + 60k
    structured soups + 30k raw-byte totality probes. Run before releases;
    too slow for every CI pass."""
    import os

    if not os.environ.get("MFDE_BURNIN"):
        import pytest

        pytest.skip("set MFDE_BURNIN=1 for the large sweep")
    from multi_format_document_extractor_spark.corpus import gen_rows

    for seed in range(200, 208):
        for r in gen_rows(700, seed=seed):
            if r.format == "html" and r.html:
                assert same(r.html.decode("utf-8", errors="replace"))
    rng = random.Random(777)
    for _ in range(60000):
        assert same(_rand_doc(rng))
    rng2 = random.Random(999)
    for _ in range(30000):
        p = bytes(rng2.getrandbits(8) for _ in range(rng2.randrange(0, 300)))
        a, b = extract(p), extract(p)
        assert (a.format, a.text, a.n_blocks, a.ok) == (
            b.format, b.text, b.n_blocks, b.ok,
        )


def test_extract_uses_fast_scanner_and_matches_corpus():
    """End-to-end: extract() over corpus html equals the golden text."""
    from multi_format_document_extractor_spark.corpus import gen_rows

    for r in gen_rows(400, seed=31):
        if r.format != "html":
            continue
        e = extract(r.html)
        assert e.text == r.text_expected, r.url
