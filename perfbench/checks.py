"""Output checks, run after the timed window. Each returns
``(checked, mismatched)``; the run's mismatch ratio is their quotient.
Each also appends the url of every mismatched row to ``misses`` when one
is given, so a run can name them."""

from __future__ import annotations

from multi_format_document_extractor_spark import oracle


def _key(text: bytes | None, n_blocks: int | None) -> tuple[bytes, int]:
    return (bytes(text) if text is not None else b"", int(n_blocks or 0))


def check_extracted(
    rows: list[dict],
    expected: dict[str, tuple[bytes, int]],
    misses: list[str] | None = None,
) -> tuple[int, int]:
    """Per-url ``text_out`` bytes and ``n_blocks`` against the corpus's
    expected values. A missing, duplicated or unknown url is a mismatch."""
    seen: dict[str, int] = {}
    bad: list[str] = []
    for r in rows:
        url = r["url"]
        seen[url] = seen.get(url, 0) + 1
        exp = expected.get(url)
        if exp is None or _key(r["text_out"], r["n_blocks"]) != exp:
            bad.append(url)
    bad += [u for u in expected if seen.get(u, 0) != 1]
    if misses is not None:
        misses += bad
    return max(len(rows), len(expected)), len(bad)


def check_hybrid(
    rows: list[dict],
    expected: dict[str, tuple[bytes, int]],
    payloads: dict[str, bytes | None],
    misses: list[str] | None = None,
) -> tuple[int, int]:
    """``rule_based`` rows against the corpus's expected values; escalated
    rows against the single-node extractor's relaxed profile."""
    bad: list[str] = []
    seen: set[str] = set()
    for r in rows:
        url = r["url"]
        if url in seen or url not in expected:
            bad.append(url)
            continue
        seen.add(url)
        if r["mode"] == "escalated":
            ref = oracle.extract(payloads[url], "relaxed")
            want = _key(ref.text, ref.n_blocks)
        else:
            want = expected[url]
        if _key(r["text_out"], r["n_blocks"]) != want:
            bad.append(url)
    bad += sorted(set(expected) - seen)
    if misses is not None:
        misses += bad
    return max(len(rows), len(expected)), len(bad)
