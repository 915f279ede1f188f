"""Byte guard on the raster writers: sha256 digests of every writer's
output over its parameter matrix, plus one digest over a corpus slice.

The corpora, perfbench's cached inputs and the registry fixtures are all
built from these bytes, so a writer refactor must leave every digest
where it is. perfbench caches its inputs under ``corpus.CORPUS_VERSION``
alone: a writer change that alters corpus bytes without bumping that
version would silently reuse stale cached inputs, which the corpus
digest below catches.
"""

from __future__ import annotations

import hashlib
import random

from multi_format_document_extractor_spark import corpus, oracle
from multi_format_document_extractor_spark.multimodal import media

LINES = ["QUICK BROWN FOX", "JUMPS OVER", "A"]

EXPECTED = {
    "render_jpeg": (
        "7beb2bb078a8514abc28c3a6ba9d9f6a"
        "8b5056ab8ba07764f1c31b480f7eb055"
    ),
    "render_png": (
        "6ca6815ddc84b43d232a7019bc9da4ec"
        "855bc955eafeb3725e29e394b9ba7fab"
    ),
    "render_gif": (
        "05c89a48be41ec7f35ed026de8b9f256"
        "42464cd17697c41c8b4d847c2f2eba6f"
    ),
    "render_gif_animated": (
        "c8c70417c0addee6f8e1de09c6ab738a"
        "f85494d1df3c7862e67ffa78c98cc1d6"
    ),
    "png_encode_gray8": (
        "be12e76e3d389005624c7d7b65e734b4"
        "c96b65fe90dccceba57acabe689dabdb"
    ),
    "add_png_text": (
        "a18eef24b67126575fba48bc1ef704a0"
        "3aaa3fe228d16fb843ad98ceb61f76cd"
    ),
    "render_exif_jpeg": (
        "3fb99239c15a0fa1e9a2ca987d492a81"
        "8a50da97e75a7d8135cb322cac457c0b"
    ),
}
CORPUS_DIGEST = (
    "5c7bcb879abf2e40955794cfe06fa983"
    "64c37ecc310f357bd6e0884985f07a7b"
)


def _digest(outputs) -> str:
    """One sha256 over length-prefixed outputs; an exception counts as
    its type name and message."""
    h = hashlib.sha256()
    for out in outputs:
        if isinstance(out, Exception):
            out = f"{type(out).__name__}: {out}".encode()
        h.update(len(out).to_bytes(8, "big") + out)
    return h.hexdigest()


def _call(fn, *args):
    try:
        return fn(*args)
    except ValueError as e:
        return e


def _random_gray(rng: random.Random, w: int, h: int) -> bytearray:
    return bytearray(rng.randrange(256) for _ in range(w * h))


def _outputs():
    rng = random.Random(811)
    yield "render_jpeg", [
        oracle.render_jpeg(LINES, color, (hs, vs), restart, progressive)
        for color in (False, True)
        for hs in (1, 2)
        for vs in (1, 2)
        for restart in range(4)
        for progressive in (False, True)
    ]
    yield "render_png", [
        _call(oracle.render_png, ["AB"], fts, ctype, interlace, depth, keyed)
        for ctype in (0, 2, 3, 4, 5, 6)
        for depth in (1, 2, 4, 8, 16)
        for interlace in (False, True)
        for keyed in (False, True)
        for fts in (None, [0, 1, 2, 3, 4], [4, 2])
    ] + [_call(oracle.render_png, ["AB"], [9])]
    yield "render_gif", [
        oracle.render_gif(LINES, interlace, ext)
        for interlace in (False, True)
        for ext in (False, True)
    ]
    frames = [["AB"], ["QUICK BROWN"], ["A", "B C"]]
    yield "render_gif_animated", [
        _call(oracle.render_gif_animated, fl, delays, partial)
        for fl in (frames[:1], frames, [])
        for delays in (None, [5, 120, 2560][: len(fl)], [100])
        for partial in (False, True)
    ]
    yield "png_encode_gray8", [
        oracle.png_encode_gray8(_random_gray(rng, w, h), w, h)
        for w, h in ((1, 1), (7, 3), (33, 17))
    ]
    png = oracle.render_png(["AB"])
    yield "add_png_text", [
        media.add_png_text(png, kv)
        for kv in ({}, {"Title": "T1"}, {"Title": "T\xe9", "Author": "A1"})
    ]
    yield "render_exif_jpeg", [
        media.render_exif_jpeg(make, model, "2026:01:05 12:30:00")
        for make, model in (("CAM1", "MODEL X100"), ("abc", "m"), ("", ""))
    ]


def test_writer_outputs_are_byte_stable():
    got = {name: _digest(outs) for name, outs in _outputs()}
    changed = {k: v for k, v in got.items() if v != EXPECTED[k]}
    assert not changed, f"writer bytes changed: {changed}"


def test_corpus_payloads_are_byte_stable():
    got = _digest(
        row.html or b"" for row in corpus.gen_rows(400, seed=811)
    )
    assert got == CORPUS_DIGEST, (
        f"corpus payload bytes changed ({got}): if this is intended, bump "
        "corpus.CORPUS_VERSION so perfbench stops reusing cached inputs, "
        "then update CORPUS_DIGEST"
    )
