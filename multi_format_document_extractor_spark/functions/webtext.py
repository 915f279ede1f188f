"""Web-corpus hygiene columns: PII scrubbing, Gopher-style repetition
rules, and URL canonicalization.

These are the filters every large-scale web-text training pipeline runs
between extraction and dedup (C4 / Gopher / RefinedWeb lineage), missing
from the reference (its corpus is 5 office documents —
``src/pipeline.py:207-215`` — so it never needed them). All native
Catalyst expressions — regexes and higher-order array functions only, no
Python, no shuffle — so each is DuckDB-oracle-checkable and rides inside
whole-stage codegen at 100 TB.

Cross-engine regex discipline: every pattern below is valid and
equivalently interpreted in both Java regex (Spark) and RE2-ish (DuckDB) —
character classes, bounded repetition, ``\\b``, and ``(?i)`` only; no
backreferences, no lookaround.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rounding import rnd
from .textstats import words

# --- PII patterns (scrub order matters: email first — its local part can
# contain digits/dots that the looser patterns would otherwise bite into;
# the replacement tokens contain no digits, so later passes can't re-match
# inside an earlier redaction).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{7,15}"

_PII = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
)


def scrub_pii(col: Column) -> Column:
    """Redact emails → IPv4s → phones with typed tokens, in that order."""
    out = col
    for _, pat, token in _PII:
        out = F.regexp_replace(out, pat, token)
    return out


def chunk_lines(wordarr: Column, width: int = 8) -> Column:
    """Derive pseudo-lines from a word array: consecutive ``width``-word
    chunks rejoined with single spaces. The repetition rules below are
    line-based (Gopher §A.2.1); extractor output that lost its newlines
    (single-line soup) still gets a deterministic line structure this way,
    and real multi-line text can pass ``split(text, '\\n')`` instead."""
    n_lines = F.ceil(F.size(wordarr) / float(width)).cast("int")
    return F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.array_join(
            F.slice(wordarr, (i - 1) * width + 1, width), " "
        ),
    )


def dup_line_fraction(lines: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line
    (Gopher: drop if > 0.30)."""
    n = F.size(lines)
    return F.when(
        n > 0,
        (n - F.size(F.array_distinct(lines))).cast("double") / n.cast("double"),
    ).otherwise(F.lit(0.0))


def _char_sum(arr: Column) -> Column:
    return F.aggregate(
        F.transform(arr, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dup_line_char_fraction(lines: Column) -> Column:
    """Fraction of characters sitting in repeated line occurrences
    (Gopher: drop if > 0.20). Computed algebraically as
    (total − Σ distinct lens) / total — identical to Σ over distinct lines
    of (count−1)·len, but LINEAR: the naive per-distinct
    ``filter(lines, x == d)`` count is quadratic, and Spark performs no
    CSE inside higher-order-function lambdas, so the naive form
    re-evaluates the whole array per element."""
    dup_chars = _char_sum(lines) - _char_sum(F.array_distinct(lines))
    total = _char_sum(lines)
    return F.when(
        total > 0, dup_chars.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))


def bigrams_of(wordarr: Column) -> Column:
    """Adjacent word pairs joined with one space (empty when < 2 words)."""
    n = F.size(wordarr)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(wordarr, i), F.element_at(wordarr, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_gram_run(grams: Column) -> Column:
    """``struct(best int, best_gram string)``: the deterministic mode —
    max occurrence count and the lexicographically-first gram achieving
    it — via ONE linear fold over the SORTED gram array (equal grams are
    adjacent after sorting, so the mode is the longest run; the strict
    ``>`` update makes ties resolve to the earliest, i.e. smallest, gram).

    Deliberately NOT the naive ``distinct × filter-count`` scan: Spark
    performs no CSE inside higher-order-function lambdas, so that form
    re-evaluates the full gram array per distinct element (effectively
    cubic once the argmax filter nests it again) — measured as a
    multi-minute hang at 5k docs. Callers should MATERIALIZE this struct
    as a column before extracting fields; each field reference otherwise
    re-runs the whole fold."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("best_gram"),
    )

    def merge(acc, x):
        run_new = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1)
        )
        better = run_new > acc["best"]
        return F.struct(
            x.alias("prev"),
            run_new.alias("run"),
            F.when(better, run_new).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    return F.aggregate(
        F.array_sort(grams),
        init,
        merge,
        lambda acc: F.struct(
            acc["best"].alias("best"), acc["best_gram"].alias("best_gram")
        ),
    )


def top_bigram_char_fraction(text: Column, wordarr: Column) -> Column:
    """Fraction of text characters covered by the most frequent word
    bigram: count·len(bigram)/len(text) (Gopher: drop if > 0.20).
    Convenience wrapper evaluating the ``top_gram_run`` fold inline (3
    field references → 3 linear folds); hot paths should materialize the
    struct once instead (see ``plans/queries_web.repetition_filter``)."""
    g = top_gram_run(bigrams_of(wordarr))
    return F.when(
        (F.length(text) > 0) & (g["best"] > 0),
        (g["best"] * F.length(g["best_gram"])).cast("double")
        / F.length(text).cast("double"),
    ).otherwise(F.lit(0.0))


def symbol_word_ratio(text: Column, wordarr: Column) -> Column:
    """Hash/ellipsis symbols per word (Gopher: drop if > 0.10)."""
    syms = F.regexp_count(text, F.lit(r"#|\.\.\."))
    n = F.size(wordarr)
    return F.when(
        n > 0, syms.cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


# --- C4-style line rules --------------------------------------------------

# Published C4 heuristics (Raffel et al. 2020 §2.2): a retained line must
# end in terminal punctuation, carry at least 5 words, and not mention the
# browser-boilerplate markers. Patterns are Java-regex/RE2 common subset.
C4_TERMINAL_RE = r'[.!?"]$'
C4_BLOCK_RE = r"javascript|cookie|lorem ipsum"
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3


def c4_keep_line(line: Column) -> Column:
    """The per-line C4 keep predicate (pure codegen; usable directly or as
    an ``F.filter`` lambda over a split-lines array)."""
    n_words = F.size(words(line))
    return (
        (n_words >= C4_MIN_LINE_WORDS)
        & line.rlike(C4_TERMINAL_RE)
        & ~F.lower(line).rlike(C4_BLOCK_RE)
    )


# --- C4 bad-words page gate -------------------------------------------------

# C4 (Raffel et al. 2020 §2.2) drops any page containing a word from the
# "bad words" blocklist (the published pipeline uses the LDNOOBW list; UT1
# is the common alternative). The tiny list here is a deterministic
# PLACEHOLDER — swapping in the real ~2k-entry list is a constant change;
# the engineered part is the shape: ONE word-boundary alternation regex
# compiled once (not |list| per-row passes), counted per page, page dropped
# on any hit. \b is the ASCII word boundary in both Java regex (Spark) and
# RE2 (DuckDB), so the two engines count identically.
BADWORDS = ("nsfw", "obscene", "expletive", "slur", "smut")
BADWORD_RE = r"\b(" + "|".join(BADWORDS) + r")\b"


# --- URL canonicalization -------------------------------------------------

_TRACKING_RE = r"(utm_[A-Za-z]+|gclid|fbclid)=[^&#]*&?"


def canonical_url(col: Column) -> Column:
    """Crawl-grade URL canonicalization: drop scheme, leading ``www.``,
    fragments, and tracking params (utm_*/gclid/fbclid), then tidy dangling
    ``?``/``&`` and a trailing slash. Pure sequential regex passes so the
    DuckDB mirror (same patterns, 'g' flag) is byte-identical."""
    u = F.regexp_replace(col, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, _TRACKING_RE, "")
    u = F.regexp_replace(u, r"[?&]$", "")
    u = F.regexp_replace(u, r"/$", "")
    return u


def host_of(canon: Column) -> Column:
    """Host part of a canonicalized URL (everything before the first
    ``/``, ``?`` or ``#``). regexp_extract instead of parse_url so the
    oracle side is the identical expression."""
    return F.regexp_extract(canon, r"^([^/?#]+)", 1)


def canonical_url_sql(expr: str) -> str:
    """DuckDB mirror of ``canonical_url`` (same passes, same order)."""
    u = f"regexp_replace({expr}, '^https?://', '', 'g')"
    u = f"regexp_replace({u}, '^www\\.', '', 'g')"
    u = f"regexp_replace({u}, '#.*$', '', 'g')"
    u = f"regexp_replace({u}, '{_TRACKING_RE}', '', 'g')"
    u = f"regexp_replace({u}, '[?&]$', '', 'g')"
    u = f"regexp_replace({u}, '/$', '', 'g')"
    return u


# --- Block classification (relational form of the extractor's rule) --------


def classify_block_col(text_chars: Column, link_chars: Column, n_tags: Column) -> Column:
    """Native mirror of ``oracle.classify_block`` under the 'default'
    profile (the extraction contract's per-block rule, oracle.py — keep
    the two in lockstep): a block is main content iff it has ≥ 25 text
    chars (``MIN_CONTENT_CHARS``), link density ≤ 0.33
    (``LINK_DENSITY_MAX``) and text density (chars per tag) ≥ 8.0
    (``TEXT_DENSITY_MIN``). Pure codegen over integer block stats, so the
    same rule the mapInPandas extractor applies per block is available
    declaratively over block-feature tables."""
    return (
        (text_chars > 0)
        & (text_chars >= 25)
        & (link_chars / (F.lit(1.0) * text_chars) <= 0.33)
        & (text_chars / (F.lit(1.0) + n_tags) >= 8.0)
    )


# --- Outlink / crawl-policy extraction -------------------------------------

# Group-1 extraction patterns, Java-regex/RE2 common subset (no lookaround).
HREF_RE = r'href="([^"]+)"'
ROBOTS_META_RE = r'<meta name="robots" content="([^"]*)"'
CANONICAL_HREF_RE = r'<link rel="canonical" href="([^"]*)"'


def outlink_hosts(html: Column) -> Column:
    """Hosts of every outlink on a page: href extraction → URL
    canonicalization → host, as one nested HOF over the regex match array
    (pure codegen — the crawl-frontier/link-graph primitive)."""
    return F.transform(
        F.regexp_extract_all(html, F.lit(HREF_RE), 1),
        lambda u: host_of(canonical_url(u)),
    )


def robots_directives(html: Column) -> Column:
    """``struct(noindex, nofollow)`` from the page's robots meta tag
    (absent tag ⇒ both false — crawl-policy default is allow)."""
    content = F.regexp_extract(html, ROBOTS_META_RE, 1)
    return F.struct(
        content.rlike("noindex").alias("noindex"),
        content.rlike("nofollow").alias("nofollow"),
    )


TITLE_RE = r"(?i)<title>([^<]*)</title>"
# Attribute NAMES take a ["'] quote class (the known literal can't
# contain a quote); attribute VALUES need one pattern per quote style —
# a class would cut a double-quoted value at its first apostrophe, and
# RE2 has no backrefs to match the opening quote. All case-insensitive:
# real pages emit <META NAME="Description" ...> and single quotes alike.
META_DESC_RES = (
    r'(?i)<meta name=["\']description["\'] content="([^"]*)"',
    r"(?i)<meta name=[\"']description[\"'] content='([^']*)'",
    r'(?i)<meta content="([^"]*)" name=["\']description["\']',
    r"(?i)<meta content='([^']*)' name=[\"']description[\"']",
)
OG_TITLE_RES = (
    r'(?i)<meta property=["\']og:title["\'] content="([^"]*)"',
    r"(?i)<meta property=[\"']og:title[\"'] content='([^']*)'",
)
PUB_TIME_RE = (
    r'(?i)<meta property=["\']article:published_time["\'] '
    r'content=["\'](\d\d\d\d-\d\d-\d\d)'
)
HTML_LANG_RE = r'(?i)<html lang=["\']([A-Za-z-]*)["\']'


def _first_nonempty(html: Column, patterns) -> Column:
    out = F.regexp_extract(html, patterns[-1], 1)
    for p in reversed(patterns[:-1]):
        out = F.coalesce(
            F.nullif(F.regexp_extract(html, p, 1), F.lit("")), out
        )
    return out


def page_metadata(html: Column) -> Column:
    """``struct(title, meta_desc, og_title, pub_date, lang_attr)`` from a
    page head — the metadata side of extraction (search indexing,
    dated-corpus assembly, og-card joins) next to the main-content side.
    Everything is case-insensitive and accepts single- OR double-quoted
    attribute values (coalesced per-quote-style patterns), BOTH
    meta-description attribute orders (name-first and content-first —
    real pages emit either), OpenGraph title, ISO date prefix of
    article:published_time, and the html lang attribute. Absent fields
    extract as '' (regexp_extract's no-match value on both engines —
    same contract as robots_directives). Pure group-1 regex codegen:
    zero Exchange, Java-regex/RE2 common subset (no backrefs)."""
    return F.struct(
        F.trim(F.regexp_extract(html, TITLE_RE, 1)).alias("title"),
        _first_nonempty(html, META_DESC_RES).alias("meta_desc"),
        _first_nonempty(html, OG_TITLE_RES).alias("og_title"),
        F.regexp_extract(html, PUB_TIME_RE, 1).alias("pub_date"),
        F.regexp_extract(html, HTML_LANG_RE, 1).alias("lang_attr"),
    )


def gopher_keep(
    dup_line_frac: Column,
    dup_char_frac: Column,
    top_bigram_frac: Column,
    sym_ratio: Column,
) -> Column:
    """The composed Gopher repetition gate (published thresholds)."""
    return (
        (dup_line_frac <= 0.30)
        & (dup_char_frac <= 0.20)
        & (top_bigram_frac <= 0.20)
        & (sym_ratio <= 0.10)
    )


# --- HTML table extraction (the web analog of the reference's XLSX/DOCX
# table parse — src/parsers/excel_parser.py sheets, word_parser.py embedded
# tables — over the format web pages actually carry) ----------------------

TABLE_RE = r"(?is)<table[^>]*>(.*?)</table>"
TR_RE = r"(?is)<tr[^>]*>(.*?)</tr>"
TD_RE = r"(?is)<t[dh][^>]*>(.*?)</t[dh]>"
TAG_STRIP_RE = r"<[^>]+>"
# \s DIVERGES between engines: Java regex includes \x0B (vertical tab),
# RE2 does not — a cell containing \x0B would collapse on the Spark side
# only, breaking the oracle lockstep. Spell the class out explicitly so
# both engines agree byte-for-byte.
CELL_WS_RE = "[ \\t\\n\\f\\r\\x0B]+"


def table_bodies(html: Column) -> Column:
    """``array<string>`` of <table> inner bodies, document order.
    Dot-all + case-insensitive: real tables span lines and mix case."""
    return F.regexp_extract_all(html, F.lit(TABLE_RE), 1)


def table_rows(body: Column) -> Column:
    """``array<string>`` of <tr> inner bodies within one table body."""
    return F.regexp_extract_all(body, F.lit(TR_RE), 1)


def row_cells(row: Column) -> Column:
    """Cleaned cell texts of one <tr> body: every <td>/<th> inner text,
    inline markup stripped, whitespace runs collapsed to single spaces
    (HTML rendering semantics — a newline inside a cell is display
    whitespace, and engine trim() strips only 0x20, so collapsing first
    is what makes trim complete), then trimmed. Nested single tags
    (<b>, <span>) strip correctly; nested TABLES are out of scope (RE2
    cannot balance — the lockstep DuckDB oracle shares the exact same
    boundary)."""
    return F.transform(
        F.regexp_extract_all(row, F.lit(TD_RE), 1),
        lambda c: F.trim(
            F.regexp_replace(
                F.regexp_replace(c, TAG_STRIP_RE, ""), CELL_WS_RE, " "
            )
        ),
    )


# --- RSS / Atom feed parsing (frontier discovery channel #3, next to the
# outlink graph and sitemap.xml) ------------------------------------------

RSS_ITEM_RE = r"(?is)<item>(.*?)</item>"
ATOM_ENTRY_RE = r"(?is)<entry>(.*?)</entry>"
RSS_LINK_RE = r"(?i)<link>([^<]+)</link>"
ATOM_LINK_RE = r'(?i)<link href="([^"]+)"'
RSS_DATE_RE = r"(?i)<pubDate>(\d\d\d\d-\d\d-\d\d)"
ATOM_DATE_RE = r"(?i)<updated>(\d\d\d\d-\d\d-\d\d)"


def feed_entries(xml: Column) -> Column:
    """``array<struct<body,ch>>`` of feed entries, each tagged with its
    CONTAINER type at extraction — 'rss' for ``<item>`` bodies, 'atom'
    for ``<entry>`` bodies. The container, not a body re-sniff, decides
    the channel (ADVICE r3: an Atom entry whose nested content/summary
    markup contained an RSS-style ``<link>x</link>`` run was mislabeled
    rss, and that embedded link beat the real href). Parsing both
    notations in one scan still handles a mixed landing zone."""

    def tag(arr: Column, ch: str) -> Column:
        return F.transform(
            arr,
            lambda b: F.struct(b.alias("body"), F.lit(ch).alias("ch")),
        )

    return F.concat(
        tag(F.regexp_extract_all(xml, F.lit(RSS_ITEM_RE), 1), "rss"),
        tag(F.regexp_extract_all(xml, F.lit(ATOM_ENTRY_RE), 1), "atom"),
    )


def feed_link(entry: Column) -> Column:
    """Entry link, preferring the notation of the entry's CONTAINER —
    Atom ``<link href="url"/>`` for <entry> bodies, RSS
    ``<link>url</link>`` for <item> bodies — then falling back to the
    other notation (real feeds mix them, e.g. atom:link inside RSS).
    ``entry`` is a ``feed_entries`` struct."""
    body = entry["body"]
    return F.when(
        entry["ch"] == "atom",
        _first_nonempty(body, (ATOM_LINK_RE, RSS_LINK_RE)),
    ).otherwise(_first_nonempty(body, (RSS_LINK_RE, ATOM_LINK_RE)))


def feed_date(entry: Column) -> Column:
    """ISO date prefix, container-notation first (Atom ``<updated>`` for
    <entry>, RSS ``<pubDate>`` for <item>), '' when absent (same
    absent-contract as page_metadata)."""
    body = entry["body"]
    return F.when(
        entry["ch"] == "atom",
        _first_nonempty(body, (ATOM_DATE_RE, RSS_DATE_RE)),
    ).otherwise(_first_nonempty(body, (RSS_DATE_RE, ATOM_DATE_RE)))


def parse_feeds(feeds):
    """(host, xml) feed rows → one (host, loc, pub, channel) row per
    entry that carries a recognizable link. Entries with no link parse
    to loc='' and are DROPPED here — an empty-URL key would poison every
    downstream frontier join — so the filter ships with the parse and
    the registry query / tests drive the same code. ``pub`` is '' when
    the entry has no date (cast downstream); channel is the entry's
    CONTAINER type from ``feed_entries`` ('rss' <item> / 'atom'
    <entry>), never a body re-sniff."""
    entry = F.col("_entry")
    return (
        feeds.select(
            "host",
            F.explode(feed_entries(F.col("xml"))).alias("_entry"),
        )
        .select(
            "host",
            canonical_url(feed_link(entry)).alias("loc"),
            feed_date(entry).alias("pub"),
            entry["ch"].alias("channel"),
        )
        .where(F.col("loc") != "")
    )


# --- Readability (Flesch reading ease on rational counts) ----------------

SENTENCE_RE = r"[.!?]+"
SYLLABLE_RE = r"[aeiouyAEIOUY]+"


def readability_counts(text: Column, wordarr: Column) -> Column:
    """``struct(n_words, n_sentences, n_syllables)`` — the integer counts
    under Flesch reading ease. Syllables use the standard vowel-group
    proxy (each maximal [aeiouy]+ run ≈ one syllable); sentences are
    terminal-punctuation runs, floored at 1 so fragments still score.
    Pure regexp_count codegen."""
    return F.struct(
        F.size(wordarr).cast("int").alias("n_words"),
        F.greatest(
            F.regexp_count(text, F.lit(SENTENCE_RE)), F.lit(1)
        ).cast("int").alias("n_sentences"),
        F.regexp_count(text, F.lit(SYLLABLE_RE)).cast("int").alias(
            "n_syllables"
        ),
    )


def flesch_ease(counts: Column) -> Column:
    """206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    Engine-exact under the rounding contract: each term is one IEEE
    divide + multiply on identical integer-derived operands (the
    gopher-ratio determinism class), summed in fixed order. Callers
    guard n_words ≥ 1 (empty docs carry no readability)."""
    w = counts["n_words"].cast("double")
    return (
        F.lit(206.835)
        - F.lit(1.015) * (w / counts["n_sentences"].cast("double"))
        - F.lit(84.6) * (counts["n_syllables"].cast("double") / w)
    )


# ---------------------------------------------------------------------------
# WHATWG charset declarations — the native (codegen) face of
# oracle.sniff_encoding's label table. The UDF extraction path runs the
# full attribute-order-insensitive prescan (oracle.sniff_encoding); these
# columns handle the two DECLARATION-SHAPED forms real generators emit
# (quoted <meta charset> and the quoted http-equiv Content-Type form) so a
# charset census over a crawl is pure whole-stage codegen: regex extract →
# spec label normalization (ASCII-whitespace trim + lowercase) → one
# literal-map lookup. Unknown labels map to NULL (the chain-fallback
# bucket), exactly as the decoder falls back.
# ---------------------------------------------------------------------------

META_CHARSET_RE = r'<meta charset="([^"]*)"'
META_EQUIV_CHARSET_RE = (
    r'<meta http-equiv="Content-Type" content="text/html; charset=([^"]*)"'
)
# the spec's ASCII-whitespace label trim set (tab/LF/FF/CR/space)
LABEL_TRIM_HEAD_RE = r"^[\t\n\f\r ]+"
LABEL_TRIM_TAIL_RE = r"[\t\n\f\r ]+$"


def charset_label(html: Column) -> Column:
    """The declared charset label of a page head, spec-normalized
    (ASCII-whitespace trimmed, lowercased); '' when nothing is declared.
    A direct ``<meta charset>`` wins over the http-equiv form — the
    prescan's first-declaration-wins order for heads that carry both."""
    direct = F.regexp_extract(html, META_CHARSET_RE, 1)
    equiv = F.regexp_extract(html, META_EQUIV_CHARSET_RE, 1)
    raw = F.when(direct != F.lit(""), direct).otherwise(equiv)
    return F.lower(
        F.regexp_replace(
            F.regexp_replace(raw, LABEL_TRIM_HEAD_RE, ""),
            LABEL_TRIM_TAIL_RE,
            "",
        )
    )


def whatwg_canonical(label: Column) -> Column:
    """Canonical WHATWG encoding name for a spec-normalized label
    (``charset_label`` output), NULL for labels outside the table — a
    literal ``element_at(map, …)`` over oracle.WHATWG_LABELS, so the
    lookup is constant-folded codegen with zero Exchange and the one
    source of truth stays the oracle's table."""
    from ..oracle import WHATWG_LABELS

    pairs: list[Column] = []
    for lbl in sorted(WHATWG_LABELS):
        pairs.append(F.lit(lbl))
        pairs.append(F.lit(WHATWG_LABELS[lbl][0]))
    return F.element_at(F.create_map(*pairs), label)


# ---------------------------------------------------------------------------
# schema.org JSON-LD blocks — the structured-data side of page metadata
# (page_metadata reads the classic <meta>/<title> head; real publishers
# increasingly ship the same facts as a <script type="application/ld+json">
# island instead, and extruct/trafilatura-class extractors read both).
# Native: one regex lifts the island, get_json_object reads paths — the
# Jackson path parser is JVM codegen, so a metadata harvest over a crawl
# never leaves the scan stage.
# ---------------------------------------------------------------------------

# Attribute-tolerant + dot-all: real publishers pretty-print the JSON
# across lines and write the script tag with extra attributes, any
# attribute order, single/double/no quotes, and any case — all accepted.
# \x27 is the apostrophe, spelled as an escape so the pattern can be
# interpolated into a single-quoted DuckDB SQL literal unchanged (the
# oracle SQL and this constant must stay character-identical).
# The attribute name must be preceded by whitespace, a closing quote, or
# the HTML5 self-closing-flag '/' (<script/type=...> is valid markup) —
# \btype would also match inside data-type="..." or a src URL's ?type=
# query, lifting plain JS as a JSON-LD island (round-5 review findings).
JSONLD_SCRIPT_RE = (
    r'(?is)<script\b[^>]*[\s"\x27/]type\s*=\s*["\x27]?application/ld\+json'
    r'["\x27]?[^>]*>(.*?)</script\s*>'
)


def jsonld_block(html: Column) -> Column:
    """The first JSON-LD island's raw JSON text, NULL when the page has
    none. Non-greedy dot-all body match — multiline pretty-printed
    islands are lifted whole, and a second island or trailing markup
    never bleeds in; islands are matched verbatim (no comment/CDATA
    stripping — publishers emit bare JSON there)."""
    b = F.regexp_extract(html, JSONLD_SCRIPT_RE, 1)
    return F.when(b != F.lit(""), b)


def jsonld_field(block: Column, path: str) -> Column:
    """One JSON-path read from a JSON-LD island (NULL on absent path OR
    invalid JSON — get_json_object's error-as-null contract, which is
    exactly the census semantics: a truncated island contributes
    nothing). Bracket form for @-prefixed schema.org keys."""
    return F.get_json_object(block, path)


__all__ = [
    "EMAIL_RE",
    "IPV4_RE",
    "PHONE_RE",
    "scrub_pii",
    "chunk_lines",
    "dup_line_fraction",
    "dup_line_char_fraction",
    "bigrams_of",
    "top_gram_run",
    "top_bigram_char_fraction",
    "symbol_word_ratio",
    "canonical_url",
    "canonical_url_sql",
    "host_of",
    "gopher_keep",
    "C4_TERMINAL_RE",
    "C4_BLOCK_RE",
    "C4_MIN_LINE_WORDS",
    "C4_MIN_KEPT_LINES",
    "c4_keep_line",
    "classify_block_col",
    "HREF_RE",
    "ROBOTS_META_RE",
    "CANONICAL_HREF_RE",
    "outlink_hosts",
    "robots_directives",
    "TITLE_RE",
    "META_DESC_RES",
    "OG_TITLE_RES",
    "PUB_TIME_RE",
    "HTML_LANG_RE",
    "page_metadata",
    "TABLE_RE",
    "TR_RE",
    "TD_RE",
    "TAG_STRIP_RE",
    "table_bodies",
    "table_rows",
    "row_cells",
    "RSS_ITEM_RE",
    "ATOM_ENTRY_RE",
    "RSS_LINK_RE",
    "ATOM_LINK_RE",
    "RSS_DATE_RE",
    "ATOM_DATE_RE",
    "feed_entries",
    "feed_link",
    "feed_date",
    "parse_feeds",
    "SENTENCE_RE",
    "SYLLABLE_RE",
    "readability_counts",
    "flesch_ease",
    "META_CHARSET_RE",
    "META_EQUIV_CHARSET_RE",
    "LABEL_TRIM_HEAD_RE",
    "LABEL_TRIM_TAIL_RE",
    "charset_label",
    "whatwg_canonical",
    "JSONLD_SCRIPT_RE",
    "jsonld_block",
    "jsonld_field",
    "rnd",
]
