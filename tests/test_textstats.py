"""Measured accuracy of the heuristic language ID on a labeled fixture
slice (VERDICT round 1 #9): every language in LANG_MARKERS gets natural
sample sentences; the measured accuracy is recorded in COVERAGE.md."""

from __future__ import annotations

from pyspark.sql import functions as F

from multi_format_document_extractor_spark.functions import textstats as TS

# Two natural-text samples per language (ASCII-normalized, as a crawl
# pipeline would see after transliteration-free ASCII folding).
LABELED = {
    "en": [
        "the report was prepared for the committee and is based on data "
        "that was collected in the field with great care",
        "this is the first time that the results of the study were "
        "published in full for the public to read",
    ],
    "de": [
        "der bericht wurde von der kommission erstellt und ist nicht "
        "vollstaendig da ein teil der daten auf anfrage folgt",
        "das projekt ist mit einem neuen verfahren gestartet und die "
        "ergebnisse sind auf der webseite zu finden",
    ],
    "fr": [
        "le rapport est prepare pour la commission et les resultats sont "
        "publies dans une revue pour que tout le monde puisse lire",
        "la ville est connue pour ses musees et les visiteurs viennent "
        "des quatre coins du monde dans une ambiance calme",
    ],
    "es": [
        "el informe es para la comision y los resultados se publican para "
        "que todos los lectores puedan verlos como corresponde",
        "las ciudades del pais crecen con rapidez y por eso el gobierno "
        "prepara un plan para mejorar los servicios",
    ],
    "pt": [
        "o relatorio foi preparado para a comissao e os resultados foram "
        "publicados com um resumo para os leitores e pelo menos um anexo",
        "um novo plano foi lancado para melhorar os servicos e mais "
        "recursos foram alocados para as cidades dos estados",
    ],
    "it": [
        "il rapporto che la commissione ha preparato contiene una analisi "
        "dei dati e anche le conclusioni sono del gruppo di lavoro",
        "gli studenti sono arrivati con una guida per visitare il museo "
        "del centro e anche il parco che si trova vicino",
    ],
    "nl": [
        "het rapport is voor de commissie gemaakt en de resultaten zijn "
        "niet volledig maar een samenvatting is ook beschikbaar met data",
        "een nieuw plan is gestart voor de stad en dat is ook goed voor "
        "de bewoners die niet met de auto reizen maar met de fiets",
    ],
    "sv": [
        "rapporten har utarbetats av kommissionen och den har publicerats "
        "med en sammanfattning som att alla kan laesa till slut",
        "det var en lang dag och vi gick till staden med en karta som "
        "visade vaegen av den gamla delen till hamnen dar baten var",
    ],
    "id": [
        "laporan ini disiapkan untuk komisi dan hasilnya diterbitkan "
        "dengan ringkasan yang jelas dari data yang dikumpulkan pada "
        "tahun ini dan itu adalah hal yang baik",
        "kota ini tumbuh dengan cepat dan pemerintah menyiapkan rencana "
        "untuk layanan yang lebih baik dari sebelumnya pada masa ini",
    ],
    "tl": [
        "ang ulat ay inihanda para sa komite at ang mga resulta ay "
        "inilathala upang mabasa ng lahat kung hindi man ngayon",
        "ang mga lungsod sa bansa ay mabilis na lumalago kaya naman may "
        "plano ang pamahalaan para sa mga serbisyo na ito",
    ],
    "tr": [
        "rapor komisyon tarafindan hazirlandi ve sonuclar bir ozet ile "
        "birlikte yayimlandi ancak veriler daha sonra gelecek gibi",
        "sehir hizla buyuyor ve bu nedenle hukumet hizmetler icin yeni "
        "bir plan hazirladi daha iyi olarak kadar surecek",
    ],
    "pl": [
        "raport zostal przygotowany przez komisje ale wyniki nie sa "
        "pelne bo czesc danych jest dostepna tylko na wniosek oraz "
        "po zatwierdzeniu przez tego kierownika jak zwykle",
        "miasto szybko rosnie ale rzad przygotowal plan przez ktory "
        "uslugi beda lepsze oraz tansze dla jego mieszkancow czy firm",
    ],
}


def test_lang_id_accuracy_on_labeled_fixture(spark):
    rows = [
        (f"{code}-{i}", code, text)
        for code, texts in LABELED.items()
        for i, text in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "sid string, lang string, text string")
    got = {
        r["sid"]: r["pred"]
        for r in df.select(
            "sid", TS.lang_id(F.col("text")).alias("pred")
        ).collect()
    }
    correct = sum(
        1 for sid, pred in got.items() if pred == sid.split("-")[0]
    )
    acc = correct / len(got)
    # 24 labeled samples over 12 languages; record changes in COVERAGE.md
    assert acc == 1.0, {s: p for s, p in got.items() if p != s.split("-")[0]}


def test_lang_id_und_on_markerless_text(spark):
    df = spark.createDataFrame(
        [("x", "zzz qqq 12345 ---"), ("y", "")], "sid string, text string"
    )
    got = {r["sid"]: r["pred"] for r in df.select("sid", TS.lang_id(F.col("text")).alias("pred")).collect()}
    assert got == {"x": "und", "y": "und"}


def test_router_ladder_order_and_branches(spark):
    """The routing rule ladder fires in reference order (empty → noise →
    complex → simple → default) and every branch is reachable."""
    import pyspark.sql.functions as F

    from multi_format_document_extractor_spark.functions.router import (
        route_profile,
    )

    stops = "the a of to in is it and"
    cases = [
        (0, "", "manual"),
        (1, "!!! ??? %%% ###", "relaxed"),  # punct noise → low quality
        (2, " ".join([stops + " window table"] * 10), "layout"),  # 100 toks
        (3, "the cat sat on the mat", "fast"),
        (4, " ".join(["the alpha beta gamma"] * 10), "hybrid"),  # 40 toks
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id int, text string"
    )
    route, reason = route_profile(F.col("text"))
    got = {
        r["doc_id"]: (r["route"], r["reason"])
        for r in df.select(
            "doc_id", route.alias("route"), reason.alias("reason")
        ).collect()
    }
    for i, _, want in cases:
        assert got[i][0] == want, (i, got[i])
        assert got[i][1]  # every route carries a reason string


def test_date_contract_every_listed_shape_parses(spark):
    """The closed DATE_FORMATS contract (functions/normalize.py): every
    listed shape parses to the same date; an out-of-contract shape
    normalizes to NULL (error-as-data), never a wrong guess."""
    from pyspark.sql import functions as F

    from multi_format_document_extractor_spark.functions.normalize import (
        DATE_FORMATS,
        iso_date,
        normalize_date,
    )

    samples = [
        ("2024-03-27", "yyyy-MM-dd"),
        ("3/27/2024", "M/d/yyyy"),
        ("March 27, 2024", "MMMM d, yyyy"),
        ("Mar 27, 2024", "MMM d, yyyy"),
        ("27 Mar 2024", "d MMM yyyy"),
        ("3-27-24", "M-d-yy"),
        ("27.3.2024", "d.M.yyyy"),
    ]
    assert {f for _, f in samples} == set(DATE_FORMATS)
    df = spark.createDataFrame(
        [(s,) for s, _ in samples] + [("27/03/2024 oddball",), ("next tuesday",)],
        "raw string",
    )
    got = [
        r["d"]
        for r in df.select(iso_date(normalize_date(F.col("raw"))).alias("d"))
        .collect()
    ]
    assert got[: len(samples)] == ["2024-03-27"] * len(samples), got
    assert got[len(samples):] == [None, None]


# ---------------------------------------------------------------------------
# One-scan marker counting: marker_count(marker_words(t), L) == marker_hits(t, L)
# ---------------------------------------------------------------------------

from hypothesis import example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_LISTS = {f"lang_{c}": mk for c, mk in TS.LANG_MARKERS.items()}
_LISTS["stop"] = TS.STOPWORDS
_MARKERS = sorted({w for mk in _LISTS.values() for w in mk})


@st.composite
def _cased_marker(draw):
    w = draw(st.sampled_from(_MARKERS))
    flips = draw(st.lists(st.booleans(), min_size=len(w), max_size=len(w)))
    return "".join(c.upper() if f else c for c, f in zip(w, flips))


_PIECES = st.one_of(
    _cased_marker(),
    _cased_marker(),
    st.sampled_from(
        [
            " ", " ", "\t", "\n", "-", ".", "'", "_", "7", "42",
            # non-ASCII letters: dotted/dotless i, KELVIN SIGN, ligature ff
            "\u0130", "\u0131", "\u212a", "\ufb00", "é", "ß", "ж",
            "\uff54\uff48\uff45", "\uff21\uff4e\uff44",  # fullwidth the/And
            "\u0301", "\u0308",  # combining acute / diaeresis
            "x", "thee", "ands",
            "\u212aung", "\u212aadar",  # lower() would make markers kung/kadar
        ]
    ),
)
_TEXT = st.one_of(st.none(), st.lists(_PIECES, max_size=24).map("".join))


def _argmax_lang(counts: dict[str, int | None]) -> str:
    """lang_id's contract: highest count, lowest code on ties, 'und' when
    no marker of any language appears."""
    best = max((n or 0) for n in counts.values())
    if best <= 0:
        return "und"
    return min(c for c, n in counts.items() if n == best)


@settings(max_examples=25, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=30))
@example(
    [
        "The AND tHe \u212aung \u212aadar \u0130n \u0131s",
        "\uff54\uff48\uff45 the\u0301 und\u0308 the_ 1the and7 _a_",
    ]
)
def test_one_scan_counts_equal_marker_hits(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + ["", None])], "i int, t string"
    )
    t = F.col("t")
    words = TS.marker_words(t)
    cols = [TS.lang_id(t).alias("lang")]
    for name, mk in _LISTS.items():
        cols += [
            TS.marker_hits(t, mk).alias(f"{name}_hits"),
            TS.marker_count(words, mk).alias(f"{name}_count"),
        ]
    for r in df.select("i", "t", *cols).collect():
        for name in _LISTS:
            assert r[f"{name}_count"] == r[f"{name}_hits"], (r["t"], name)
        counts = {c: r[f"lang_{c}_hits"] for c in TS.LANG_MARKERS}
        assert r["lang"] == _argmax_lang(counts), (r["t"], counts)


def test_lang_id_tie_break_and_und_fallback(spark):
    cases = [
        ("tie", "der the", "de"),  # de 1 / en 1: lowest code wins
        ("tie_rev", "the der", "de"),
        ("shared", "que", "es"),  # es and fr both list "que"
        ("shared_upper", "PARA", "es"),  # es and pt both list "para"
        ("wins", "the the der", "en"),
        ("null", None, "und"),
        ("empty", "", "und"),
        ("fullwidth", "\uff54\uff48\uff45 \uff44\uff45\uff52", "und"),
        ("kelvin", "\u212aung", "und"),  # KELVIN SIGN is not ASCII k
        ("joined", "the_ 1der and2", "und"),
        ("combining", "the\u0301", "und"),
    ]
    df = spark.createDataFrame(
        [(k, t) for k, t, _ in cases], "k string, t string"
    )
    got = dict(df.select("k", TS.lang_id(F.col("t"))).collect())
    assert got == {k: want for k, _, want in cases}


def test_enrichment_matches_oracle_sql_on_extracted_pages(spark, corpus_dir):
    r"""lang_guess / quality of enrich_extracted over real extracted pages
    (corpus slice incl. the oversized html pages) against the registry's
    own lang_id / quality_score DuckDB oracles, row by row.

    lang_guess matches on every page. quality matches on every ASCII
    page; on non-ASCII pages the engines disagree in two known ways:
    Spark's ``length()`` of the BINARY ``text_out`` counts bytes where the
    oracle counts characters, and Java's ``\b`` treats non-ASCII letters
    as word characters where DuckDB's does not (``año`` holds the
    stopword ``a`` for DuckDB only)."""
    import duckdb
    import pyarrow as pa

    import __spark_entry__ as entry_mod
    from multi_format_document_extractor_spark.operators.extract import (
        enrich_extracted,
        extract_pages,
    )
    from multi_format_document_extractor_spark.sources.pages import read_pages

    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    got = (
        enrich_extracted(extract_pages(pages))
        .select("url", "text_out", "lang_guess", "quality")
        .toArrow()
        .to_pylist()
    )
    assert max(len(r["text_out"]) for r in got) > 500_000  # oversized pages in
    documents = pa.table(  # noqa: F841 — scanned by name in the SQL below
        {
            "doc_id": [r["url"] for r in got],
            "text": [r["text_out"].decode("utf-8") for r in got],
        }
    )
    con = duckdb.connect()
    oracle = entry_mod.oracle_sql()
    want_lang = dict(con.execute(oracle["lang_id"]).fetchall())
    want_quality = dict(con.execute(oracle["quality_score"]).fetchall())
    non_ascii = {r["url"] for r in got if not r["text_out"].isascii()}
    assert 0 < len(non_ascii) < len(got) / 2
    assert [r["url"] for r in got if r["lang_guess"] != want_lang[r["url"]]] == []
    assert [
        r["url"]
        for r in got
        if r["quality"] != want_quality[r["url"]] and r["url"] not in non_ascii
    ] == []


# ---------------------------------------------------------------------------
# Every *_sql generator equals its Column, value for value
# ---------------------------------------------------------------------------

from multi_format_document_extractor_spark.functions import router as RT  # noqa: E402

_ROUTE = RT.route_profile_sql("t")

# name -> (Column of the text column, SQL over the text expression ``t``)
_GENERATED = {
    "words": (TS.words, TS.words_sql("t")),
    "n_ws": (TS.token_count_ws, TS.token_count_ws_sql("t")),
    "n_bpe": (TS.token_count_bpe, TS.token_count_bpe_sql("t")),
    "stop_hits": (
        lambda c: TS.marker_hits(c, TS.STOPWORDS),
        TS.marker_hits_sql("t", TS.STOPWORDS),
    ),
    "en_hits": (
        lambda c: TS.marker_hits(c, TS.LANG_MARKERS["en"]),
        TS.marker_hits_sql("t", TS.LANG_MARKERS["en"]),
    ),
    "nonws": (TS.nonws_len, TS.nonws_len_sql("t")),
    "punct": (TS.punct_count, TS.punct_count_sql("t")),
    "quality": (TS.quality_score, TS.quality_score_sql("t")),
    "norm": (TS.normalized_text, TS.normalized_text_sql("t")),
    "fp": (TS.fingerprint, TS.fingerprint_sql("t")),
    "fp64": (TS.fingerprint64, TS.fingerprint64_sql("t")),
    "lang": (TS.lang_id, TS.lang_id_sql("t")),
    "route": (lambda c: RT.route_profile(c)[0], _ROUTE[0]),
    "reason": (lambda c: RT.route_profile(c)[1], _ROUTE[1]),
}

# whitespace edges: Spark's and DuckDB's trim strip only spaces, so a
# trailing newline or tab is a token boundary in both ("a b\n" is 3 tokens)
_WS_EDGES = ["", " ", "\n", " a ", "a b\n", "\ta\tb\t", "a\t\tb", "\x0b", "a\x0bb"]
_ASCII_PIECES = st.one_of(
    st.sampled_from(_MARKERS),
    st.sampled_from(
        [" ", "  ", "\t", "\n", "\r", "\x0b", "\f", "-", ".", ",", "!", "?",
         "'", "_", "#", "7", "42", "x", "Word", "THE", "supercalifragilistic"]
    ),
)
_ASCII_TEXT = st.lists(_ASCII_PIECES, max_size=40).map("".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(_ASCII_TEXT, max_size=20))
def test_sql_generators_equal_their_columns(spark, texts):
    """Each generator, run in DuckDB through the registry's ``\\s``
    rewrite, gives the value its Column gives in Spark, on ASCII text
    plus the whitespace edges and null."""
    import duckdb

    from multi_format_document_extractor_spark.plans.queries import _explicit_ws

    rows = list(enumerate(texts + _WS_EDGES + [None]))
    df = spark.createDataFrame(rows, "i int, t string")
    got = df.select(
        "i", *[col(F.col("t")).alias(n) for n, (col, _) in _GENERATED.items()]
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INT, t VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    sql = ", ".join(f"{s} AS {n}" for n, (_, s) in _GENERATED.items())
    want = con.execute(_explicit_ws(f"SELECT i, {sql} FROM d")).fetchall()
    want = {r[0]: r[1:] for r in want}
    for r in got:
        text = rows[r["i"]][1]
        for k, n in enumerate(_GENERATED):
            assert r[n] == want[r["i"]][k], (n, text, r[n], want[r["i"]][k])


# ---------------------------------------------------------------------------
# Guard: no copy of a textstats definition elsewhere in the package
# ---------------------------------------------------------------------------

import re  # noqa: E402
from pathlib import Path  # noqa: E402

_PACKAGE = Path(TS.__file__).resolve().parent.parent


def _weighted_sum_re(weights) -> str:
    term = r"(?<![\d.]){}\s*\*[\s\S]{{0,600}}?"
    return r"\+\s*".join(term.format(re.escape(repr(w))) for w in weights)


COPY_PATTERNS = {
    "stopword alternation": re.escape("|".join(TS.STOPWORDS)),
    "quality weight expression": _weighted_sum_re(TS.QUALITY_WEIGHTS),
    "empty-guarded word count": r"trim\(\w+\)\s*=\s*''\s*THEN\s+0\b",
    "trim-split on whitespace": r"split\(\s*(F\.)?trim\([^()]*(\([^()]*\))?[^()]*\),"
    r"\s*r[\"']\\s\+[\"']",
    "lower/collapse/trim normalization": r"trim\(\s*(F\.)?regexp_replace\("
    r"\s*(F\.)?lower\(",
}


def _copies(sources: dict[str, str]) -> list[str]:
    out = []
    for rel, src in sorted(sources.items()):
        for what, pat in COPY_PATTERNS.items():
            for m in re.finditer(pat, src):
                out.append(f"{rel}:{src.count(chr(10), 0, m.start()) + 1}: {what}")
    return out


def test_no_textstats_definition_is_copied_elsewhere():
    """Each text statistic has one definition: a Column and its ``*_sql``
    generator in ``functions/textstats.py``. A copy anywhere else in the
    package would let the two engines, or two call sites, drift apart."""
    sources = {
        str(p.relative_to(_PACKAGE)): p.read_text(encoding="utf-8")
        for p in sorted(_PACKAGE.rglob("*.py"))
        if p.name != "textstats.py"
    }
    assert _copies(sources) == []


def test_copy_guard_patterns_match_the_textstats_definitions():
    """The guard's patterns catch each definition as written in
    ``textstats`` (Spark and SQL forms), so a pasted copy cannot slip by."""
    import inspect

    src = {
        "spark": inspect.getsource(TS),
        "sql": " ".join(
            [
                TS.quality_score_sql("text"),
                TS.token_count_ws_sql("text"),
                TS.normalized_text_sql("text"),
            ]
        ),
    }
    found = {line.split(": ", 1)[1] for line in _copies(src)}
    assert found == set(COPY_PATTERNS), set(COPY_PATTERNS) - found
