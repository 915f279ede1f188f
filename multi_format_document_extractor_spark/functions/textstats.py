r"""Text-analysis columns for large-scale training-data pipelines:
word counts, stopword and marker hits, language ID, quality scoring,
token counting, fingerprinting.

This module is the one home of each text statistic in both engines. Each
Spark Column definition has its DuckDB mirror right next to it: a
``*_sql`` generator that takes a SQL expression string (the text) and
returns the same statistic as a SQL expression, built from the same
constants (``STOPWORDS``, ``LANG_MARKERS``, ``BPE_ISH_TOKEN_RE``,
``PUNCT_RE``, the ``QUALITY_*`` weights). Registry oracles and operators
call these and never restate a definition; ``tests/test_textstats.py``
checks each pair for equal values and that no copy appears elsewhere in
the package. Generated SQL writes ``\s``; the registry rewrites it to
the explicit class of Java's ``\s`` before DuckDB runs it.

All native Catalyst expressions (regex scans, rational arithmetic, md5
hashing, and the higher-order ``filter``/``transform`` that count marker
words). These extend the reference's text heuristics (first-lines scans,
keyword predicates — SURVEY.md §2.5 W5, §2.2 P6) to corpus scale.

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

from .rounding import rnd, rnd_sql

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
PUNCT_RE = r"[^\w\s]"
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def let_sql(bindings: dict[str, str], body: str) -> str:
    """``body`` with each name bound once to its SQL expression, read as
    ``v.<name>``: DuckDB evaluates a repeated subexpression once per
    occurrence, so a statistic used in several terms is bound instead."""
    fields = ", ".join(f"'{k}': {e}" for k, e in bindings.items())
    return f"list_transform([{{{fields}}}], v -> {body})[1]"


def words(col: Column) -> Column:
    """Whitespace tokens of a space-trimmed string (blank text → [''])."""
    return F.split(F.trim(col), r"\s+")


def words_sql(x: str) -> str:
    return f"string_split_regex(trim({x}), '\\s+')"


def token_count_ws(col: Column) -> Column:
    """Whitespace token count (0 for blank text)."""
    return F.when(F.trim(col) == "", 0).otherwise(F.size(words(col)))


def token_count_ws_sql(x: str) -> str:
    return f"(CASE WHEN trim({x}) = '' THEN 0 ELSE len({words_sql(x)}) END)"


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + single punctuation."""
    return F.regexp_count(col, F.lit(BPE_ISH_TOKEN_RE))


def token_count_bpe_sql(x: str) -> str:
    return f"len(regexp_extract_all({x}, '{BPE_ISH_TOKEN_RE}'))"


def _marker_re(markers: tuple[str, ...]) -> str:
    return r"(?i)\b(" + "|".join(markers) + r")\b"


def marker_hits(col: Column, markers: tuple[str, ...]) -> Column:
    """Count of whole-word marker occurrences (case-insensitive) — the
    definition ``marker_count`` over ``marker_words`` reproduces."""
    return F.regexp_count(col, F.lit(_marker_re(markers)))


def marker_hits_sql(x: str, markers: tuple[str, ...]) -> str:
    return f"len(regexp_extract_all({x}, '{_marker_re(markers)}'))"


def nonws_len(col: Column) -> Column:
    """Characters left after removing every whitespace run."""
    return F.length(F.regexp_replace(F.trim(col), r"\s+", ""))


def nonws_len_sql(x: str) -> str:
    return f"length(regexp_replace(trim({x}), '\\s+', '', 'g'))"


def punct_count(col: Column) -> Column:
    """Characters that are neither word characters nor whitespace."""
    return F.regexp_count(col, F.lit(PUNCT_RE))


def punct_count_sql(x: str) -> str:
    return f"len(regexp_extract_all({x}, '{PUNCT_RE}'))"


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


def lang_id_sql(x: str) -> str:
    """The first maximal count in code order wins, as in ``lang_id``."""
    codes = sorted(LANG_MARKERS)
    hits = ", ".join(marker_hits_sql(x, LANG_MARKERS[c]) for c in codes)
    names = ", ".join(f"'{c}'" for c in codes)
    return let_sql(
        {"s": f"[{hits}]"},
        f"CASE WHEN list_max(v.s) > 0"
        f" THEN [{names}][list_position(v.s, list_max(v.s))] ELSE 'und' END",
    )


def stopword_ratio(col: Column, hits: Column | None = None) -> Column:
    n = token_count_ws(col)
    if hits is None:
        hits = marker_hits(col, STOPWORDS)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    n = token_count_ws(col)
    chars = nonws_len(col)
    return F.when(n > 0, chars.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    punct = punct_count(col)
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(
        F.lit(0.0)
    )


# quality_score's term weights (length, stopwords, word length,
# punctuation; they sum to 1), the length in chars at which the length
# term saturates, the gain on the stopword and punctuation ratios, and the
# sane band of mean word length.
QUALITY_WEIGHTS = (0.3, 0.3, 0.2, 0.2)
QUALITY_FULL_LEN = 1000.0
QUALITY_RATIO_GAIN = 4.0
QUALITY_WORD_LEN = (3.0, 10.0)


def quality_score(col: Column, stop_hits: Column | None = None) -> Column:
    """Composite document-quality heuristic in [0,1]: length saturation,
    stopword presence, word-length sanity, low punctuation noise.
    Every term is rational arithmetic. ``stop_hits`` is the stopword count
    when the caller already has it (``marker_count(words, STOPWORDS)``);
    by default ``col`` is scanned."""
    w_len, w_stop, w_wl, w_punct = QUALITY_WEIGHTS
    lo, hi = QUALITY_WORD_LEN
    gain = QUALITY_RATIO_GAIN
    length_term = F.least(F.length(col).cast("double") / QUALITY_FULL_LEN, F.lit(1.0))
    stop_term = F.least(stopword_ratio(col, stop_hits) * gain, F.lit(1.0))
    mwl = mean_word_len(col)
    wordlen_term = F.when((mwl >= lo) & (mwl <= hi), 1.0).otherwise(0.0)
    punct_term = F.greatest(F.lit(0.0), 1.0 - punct_ratio(col) * gain)
    return rnd(
        w_len * length_term
        + w_stop * stop_term
        + w_wl * wordlen_term
        + w_punct * punct_term,
        4,
    )


def quality_score_sql(x: str) -> str:
    w_len, w_stop, w_wl, w_punct = QUALITY_WEIGHTS
    lo, hi = QUALITY_WORD_LEN
    gain = QUALITY_RATIO_GAIN

    def ratio(num: str, den: str) -> str:
        return f"(CASE WHEN v.{den} > 0 THEN v.{num} / (1.0 * v.{den}) ELSE 0.0 END)"

    mwl = ratio("nonws", "n")
    terms = (
        f"{w_len} * least(v.total / {QUALITY_FULL_LEN}, 1.0)",
        f"{w_stop} * least({ratio('stop', 'n')} * {gain}, 1.0)",
        f"{w_wl} * (CASE WHEN {mwl} >= {lo} AND {mwl} <= {hi} THEN 1.0 ELSE 0.0 END)",
        f"{w_punct} * greatest(0.0, 1.0 - {ratio('punct', 'total')} * {gain})",
    )
    counts = {
        "n": token_count_ws_sql(x),
        "stop": marker_hits_sql(x, STOPWORDS),
        "nonws": nonws_len_sql(x),
        "punct": punct_count_sql(x),
        "total": f"length({x})",
    }
    return let_sql(counts, rnd_sql(" + ".join(terms), 4))


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace,
    fully stripped. Collapse BEFORE trim: Spark/DuckDB ``trim`` strips only
    spaces, so a trailing tab/newline would otherwise survive as a trailing
    space and split identical contents into different fingerprints."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def normalized_text_sql(x: str) -> str:
    return f"trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 hex of the normalized text (portable across
    engines, unlike xxhash64/crc32)."""
    return F.md5(normalized_text(col).cast("binary"))


def fingerprint_sql(x: str) -> str:
    return f"md5({normalized_text_sql(x)})"


def fingerprint64(col: Column) -> Column:
    """First 8 md5 hex chars as a BIGINT — a compact join/bucket key."""
    return F.conv(F.substring(fingerprint(col), 1, 8), 16, 10).cast("bigint")


def fingerprint64_sql(x: str) -> str:
    return f"('0x' || substr({fingerprint_sql(x)}, 1, 8))::BIGINT"
