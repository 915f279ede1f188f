r"""Text-analysis columns for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

All native Catalyst expressions (regex scans, rational arithmetic, md5
hashing, and the higher-order ``filter``/``transform`` that count marker
words) so every one is DuckDB-oracle-checkable. These extend the
reference's text heuristics (first-lines scans, keyword predicates —
SURVEY.md §2.5 W5, §2.2 P6) to corpus scale.

Marker counting scans each text ONCE: ``marker_words`` extracts every
whole-word occurrence of any ``LANG_MARKERS``/``STOPWORDS`` word with one
prefix-factored regex, and each list's count is the number of those words
that fall in the list. That equals ``marker_hits`` per list exactly.
Java's ``(?i)`` without UNICODE_CASE folds ASCII only, so a match is ASCII
letters, which ``lower()`` maps exactly; and a match of ``\b(w1|…)\b``
has a ``\b`` at each end and only letters between, so it is a whole word
run — the union's matches are those of every list at once. (Lowering the
text first would not be equal: Unicode lowering maps e.g. U+212A KELVIN
SIGN to ``k``.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rounding import rnd

# Marker words per language for the n-gram-free heuristic language ID.
# ASCII-only function words by design: \b word-boundary semantics around
# non-ASCII letters differ between regex engines (Spark/RE2-style vs
# DuckDB), and the oracle SQL is generated from this table — diacritic
# markers would break cross-engine exactness. Ten high-frequency function
# words per language; overlaps across languages (en "in" / de "in") are
# fine, the argmax decides. Accuracy on the labeled fixture slice is
# measured in tests/test_textstats.py and recorded in COVERAGE.md.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "that", "is", "was", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "auf"),
    "fr": ("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"),
    "es": ("el", "los", "las", "es", "que", "y", "por", "con", "para", "como"),
    "pt": ("o", "os", "um", "uma", "para", "com", "mais", "foi", "dos", "pelo"),
    "it": ("il", "gli", "che", "di", "per", "con", "una", "sono", "del", "anche"),
    "nl": ("het", "een", "van", "voor", "niet", "zijn", "met", "ook", "maar", "dat"),
    "sv": ("och", "att", "det", "som", "av", "den", "till", "med", "var", "har"),
    "id": ("yang", "dan", "untuk", "dengan", "tidak", "dari", "ini", "itu", "pada", "adalah"),
    "tl": ("ang", "ng", "mga", "sa", "na", "ay", "ito", "kung", "hindi", "naman"),
    "tr": ("ve", "bir", "bu", "ile", "olarak", "daha", "gibi", "sonra", "ancak", "kadar"),
    "pl": ("nie", "jest", "jak", "ale", "czy", "tego", "przez", "oraz", "tylko", "jego"),
}

BPE_ISH_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def words(col: Column) -> Column:
    """Whitespace tokens of a trimmed string (empty string → empty array)."""
    return F.split(F.trim(col), r"\s+")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.trim(col) == "", 0).otherwise(F.size(words(col)))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + single punctuation."""
    return F.regexp_count(col, F.lit(BPE_ISH_TOKEN_RE))


def marker_hits(col: Column, markers: tuple[str, ...]) -> Column:
    """Count of whole-word marker occurrences (case-insensitive) — the
    definition ``marker_count`` over ``marker_words`` reproduces."""
    pat = r"(?i)\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(col, F.lit(pat))


def _prefix_factored(words: set[str]) -> str:
    """Alternation of ``words`` factored by shared prefix (a regex trie),
    so the matcher tests each leading letter once, not once per word."""
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}

    def emit(node: dict) -> str:
        alts = [ch + emit(sub) for ch, sub in sorted(node.items()) if ch]
        if not alts:
            return ""
        if len(alts) == 1 and "" not in node:
            return alts[0]
        return "(?:" + "|".join(alts) + ")" + ("?" if "" in node else "")

    return emit(trie)


MARKER_WORDS_RE = r"(?i)\b" + _prefix_factored(
    {w for mk in (*LANG_MARKERS.values(), STOPWORDS) for w in mk}
) + r"\b"


def marker_words(col: Column) -> Column:
    """Lowercased whole-word occurrences of every LANG_MARKERS/STOPWORDS
    word, in text order — one regex scan (null for null text)."""
    found = F.regexp_extract_all(col, F.lit(MARKER_WORDS_RE), 0)
    return F.transform(found, F.lower)


def marker_count(marker_words_col: Column, markers: tuple[str, ...]) -> Column:
    """``marker_hits(col, markers)`` from ``marker_words(col)``: the number
    of extracted words that are in ``markers``."""
    return F.array_size(F.filter(marker_words_col, lambda w: w.isin(*markers)))


def lang_of_marker_words(marker_words_col: Column) -> Column:
    """``lang_id`` from ``marker_words(col)``: the max of one
    (count, reverse code rank, code) struct per language plus
    (0, top rank, 'und'), so the highest count wins, ties go to the lowest
    code, and 'und' wins only when every count is 0 (or null)."""
    codes = sorted(LANG_MARKERS)
    top = len(codes)

    def entry(n: Column, rank: int, code: str) -> Column:
        return F.struct(
            n.alias("n"), F.lit(rank).alias("rank"), F.lit(code).alias("code")
        )

    ranked = [
        entry(marker_count(marker_words_col, LANG_MARKERS[c]), top - i, c)
        for i, c in enumerate(codes)
    ]
    return F.array_max(F.array(*ranked, entry(F.lit(0), top + 1, "und")))["code"]


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax of marker-word hits with a
    deterministic tiebreak (language code ascending); 'und' when no
    marker of any language appears. ``filter`` is not looked into by
    subexpression elimination, so the marker words are bound once as a
    lambda argument rather than rescanned by every language's count."""
    return F.transform(F.array(marker_words(col)), lang_of_marker_words)[0]


def stopword_ratio(col: Column, hits: Column | None = None) -> Column:
    n = token_count_ws(col)
    if hits is None:
        hits = marker_hits(col, STOPWORDS)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    n = token_count_ws(col)
    chars = F.length(F.regexp_replace(F.trim(col), r"\s+", ""))
    return F.when(n > 0, chars.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    punct = F.regexp_count(col, F.lit(r"[^\w\s]"))
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column, stop_hits: Column | None = None) -> Column:
    """Composite document-quality heuristic in [0,1]: length saturation,
    stopword presence, word-length sanity, low punctuation noise.
    Weights sum to 1; every term is rational arithmetic. ``stop_hits``
    is the stopword count when the caller already has it
    (``marker_count(words, STOPWORDS)``); by default ``col`` is scanned."""
    length_term = F.least(F.length(col).cast("double") / 1000.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(col, stop_hits) * 4.0, F.lit(1.0))
    mwl = mean_word_len(col)
    wordlen_term = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.0)
    punct_term = F.greatest(F.lit(0.0), 1.0 - punct_ratio(col) * 4.0)
    return rnd(
        0.3 * length_term + 0.3 * stop_term + 0.2 * wordlen_term + 0.2 * punct_term, 4
    )


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace,
    fully stripped. Collapse BEFORE trim: Spark/DuckDB ``trim`` strips only
    spaces, so a trailing tab/newline would otherwise survive as a trailing
    space and split identical contents into different fingerprints."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 hex of the normalized text (portable across
    engines, unlike xxhash64/crc32)."""
    return F.md5(normalized_text(col).cast("binary"))


def fingerprint64(col: Column) -> Column:
    """First 8 md5 hex chars as a BIGINT — a compact join/bucket key."""
    return F.conv(F.substring(fingerprint(col), 1, 8), 16, 10).cast("bigint")
