"""Web-corpus hygiene operators (functions/webtext.py, plans/queries_web.py):
unit behavior on crafted inputs + the plan shapes that make them scale.
The cross-engine value checks live in tests/test_queries_oracle.py
(every registered web-hygiene query is oracle-backed)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from multi_format_document_extractor_spark.functions import textstats as TS
from multi_format_document_extractor_spark.functions import webtext as W

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _one(spark, text: str, cols: dict):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(
        *[c.alias(k) for k, c in cols.items()]
    ).collect()[0]


def test_scrub_pii_redacts_and_counts(spark):
    text = (
        "reach me at jane.doe+spam@mail.example.co or +4915771234567, "
        "server 192.168.0.1 backup 10.0.0.255; not-an-ip 1.2.3"
    )
    row = _one(
        spark,
        text,
        {
            "scrubbed": W.scrub_pii(F.col("text")),
            "n_email": F.regexp_count(F.col("text"), F.lit(W.EMAIL_RE)),
            "n_ip": F.regexp_count(F.col("text"), F.lit(W.IPV4_RE)),
        },
    )
    assert "<EMAIL>" in row["scrubbed"]
    assert "<PHONE>" in row["scrubbed"]
    assert row["scrubbed"].count("<IP>") == 2
    assert "jane.doe" not in row["scrubbed"]
    assert "192.168" not in row["scrubbed"]
    assert "1.2.3" in row["scrubbed"]  # 3-octet string is not an IPv4
    assert row["n_email"] == 1 and row["n_ip"] == 2


def test_scrub_pii_order_no_rematch(spark):
    # after email redaction, the phone pass must not bite into '<EMAIL>'
    row = _one(
        spark,
        "a+12345678b@x.io +12345678",
        {"scrubbed": W.scrub_pii(F.col("text"))},
    )
    assert row["scrubbed"] == "<EMAIL> <PHONE>"


def test_repetition_fractions_on_crafted_lines(spark):
    # 4 lines, 'dup dup' twice: dup-line fraction 1/4
    lines = ["dup dup", "dup dup", "uniq one", "uniq two"]
    df = spark.createDataFrame([(lines,)], "lines array<string>")
    row = df.select(
        W.dup_line_fraction(F.col("lines")).alias("dlf"),
        W.dup_line_char_fraction(F.col("lines")).alias("dcf"),
    ).collect()[0]
    assert abs(row["dlf"] - 0.25) < 1e-9
    # dup chars = (2-1)*7 = 7 of total 7+7+8+8 = 30
    assert abs(row["dcf"] - 7.0 / 30.0) < 1e-9


def test_top_bigram_fraction_spam_doc(spark):
    text = "buy now " * 10  # 'buy now' dominates
    wordarr = TS.words(F.col("text"))
    row = _one(
        spark,
        text.strip(),
        {"tbf": W.top_bigram_char_fraction(F.col("text"), wordarr)},
    )
    assert row["tbf"] > 0.20  # the Gopher gate would drop it


def test_canonical_url_variants_collapse(spark):
    variants = [
        "https://www.Example.com/a/b?utm_source=x&id=2#frag",
        "http://Example.com/a/b?id=2",
        "https://Example.com/a/b?id=2&utm_campaign=y",
    ]
    df = spark.createDataFrame([(v,) for v in variants], "url string")
    out = [
        r["c"]
        for r in df.select(W.canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert len(set(out)) == 1
    assert out[0] == "Example.com/a/b?id=2"


def test_canonical_url_bare_host_trailing_slash(spark):
    row = _one(
        spark,
        "https://www.a.io/",
        {"c": W.canonical_url(F.col("text")), "h": W.host_of(
            W.canonical_url(F.col("text"))
        )},
    )
    assert row["c"] == "a.io"
    assert row["h"] == "a.io"


def test_webtext_scan_queries_have_no_exchange(spark):
    """pii_scrub and repetition_filter must stay scan → project (pure
    codegen over the scan — the 100 TB shape); host_stats exactly one
    aggregation Exchange."""
    qs = entry_mod.queries()
    for name in ("pii_scrub", "repetition_filter"):
        p = plan(qs[name](spark, SF_DIR))
        assert "Exchange" not in p, (name, p)
        assert "Python" not in p and "MapInPandas" not in p, (name, p)
    # host_stats carries two exact count-distincts → Expand + the standard
    # two-phase distinct aggregation: at most 2 Exchanges, never more.
    p = plan(qs["host_stats"](spark, SF_DIR))
    assert 1 <= p.count("Exchange") <= 2, p


def test_snapshot_diff_classes(spark):
    """Every class appears and the partition sizes match the derivation
    arithmetic on the sf0.001 documents table."""
    df = entry_mod.queries()["snapshot_diff"](spark, SF_DIR)
    by = {r["change_type"]: r["n"] for r in
          df.groupBy("change_type").agg(F.count("*").alias("n")).collect()}
    assert set(by) == {"added", "removed", "changed", "unchanged"}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    n_removed = docs.where(F.col("doc_id") % 7 == 0).count()
    n_added = docs.where(F.col("doc_id") % 11 == 0).count()
    n_changed = docs.where(
        (F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 5 == 0)
    ).count()
    assert by["removed"] == n_removed
    assert by["added"] == n_added
    assert by["changed"] == n_changed
    assert by["unchanged"] == n - n_removed - n_changed


def test_url_dedup_collapses_both_variants(spark):
    df = entry_mod.queries()["url_dedup"](spark, SF_DIR)
    bad = df.where(F.col("n_variants") != 2).count()
    assert bad == 0


def test_c4_keep_line_rules(spark):
    rows = [
        ("short line.",),                      # <5 words
        ("this line has five words.",),        # keep
        ("no terminal punctuation here at all",),
        ("Please enable JavaScript to view this page.",),  # blocklist
        ("we use cookie tracking on this site.",),         # blocklist
        ('he said "hello there my old friend"',),          # ends in quote
    ]
    df = spark.createDataFrame(rows, "line string")
    out = [
        r["k"]
        for r in df.select(W.c4_keep_line(F.col("line")).alias("k")).collect()
    ]
    assert out == [False, True, False, False, False, True]


def test_c4_line_filter_plan_no_exchange(spark):
    p = plan(entry_mod.queries()["c4_line_filter"](spark, SF_DIR))
    assert "Exchange" not in p, p
    assert "Python" not in p and "MapInPandas" not in p, p


def test_paragraph_dedup_drops_later_occurrence(spark):
    from multi_format_document_extractor_spark.operators.dedup import (
        paragraph_dedup,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-chunk
    df = spark.createDataFrame(
        [
            (1, shared + " " + "iota kappa lamda mu nu xi omicron pi"),
            (2, shared),  # exact repeat of doc 1's first paragraph
            (3, "rho sigma tau upsilon phi chi psi omega"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, "text", "doc_id").collect()
    }
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_paras"] == 1 and out[2]["n_kept"] == 0
    assert out[2]["text_dedup"] == ""
    assert out[3]["n_kept"] == 1
    assert out[1]["text_dedup"].startswith(shared)


def test_paragraph_dedup_two_phase_agg_not_window(spark):
    """The min-per-paragraph must be a partial (map-side) aggregation, not
    a window: windows have no map-side combine, so a boilerplate-hot
    paragraph would pull its entire occurrence set onto one task."""
    p = plan(entry_mod.queries()["paragraph_dedup"](spark, SF_DIR))
    assert "partial_min" in p, p
    assert "Window" not in p, p


def test_host_quota_bound(spark):
    df = entry_mod.queries()["host_quota"](spark, SF_DIR).groupBy("host").agg(
        F.count("*").alias("n"), F.max("url_rank").alias("mx")
    )
    rows = df.collect()
    assert len(rows) == 37  # doc_id % 37 hosts
    assert all(r["n"] <= 5 and r["mx"] <= 5 for r in rows)


def test_strip_template_lines_crafted_hosts(spark):
    from multi_format_document_extractor_spark.operators.dedup import (
        strip_template_lines,
    )

    banner = "site nav home about contact login search help"  # 8 words
    rows = [
        (1, "a", banner + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, "a", banner + " iota kappa lamda mu nu xi omicron pi"),
        (3, "a", banner + " rho sigma tau upsilon phi chi psi omega"),
        (4, "b", banner),  # single-doc host: never stripped
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = {
        r["doc_id"]: r
        for r in strip_template_lines(df, "text", "host", "doc_id").collect()
    }
    for i in (1, 2, 3):
        assert out[i]["n_lines"] == 2 and out[i]["n_template"] == 1
        assert banner not in out[i]["text_clean"]
        assert out[i]["text_clean"] != ""
    assert out[4]["n_template"] == 0  # min_docs guard
    assert out[4]["text_clean"] == banner


def test_gopher_quality_gate_boundaries(spark):
    df = entry_mod.queries()["gopher_quality"](spark, SF_DIR)
    rows = df.collect()
    # gate must be exactly the conjunction of its published rules on the
    # rounded columns — recomputed independently here
    for r in rows:
        expect = (
            50 <= r["n_words"] <= 100000
            and 3.0 <= r["mean_word_len"] <= 10.0
            and r["stop_hits"] >= 2
            and r["alpha_frac"] >= 0.80
            and r["symbol_ratio"] <= 0.10
        )
        assert r["keep"] == expect, r
    # non-degenerate on the corpus: both outcomes occur
    assert {r["keep"] for r in rows} == {True, False}


def test_gopher_quality_plan_no_exchange(spark):
    p = plan(entry_mod.queries()["gopher_quality"](spark, SF_DIR))
    assert "Exchange" not in p, p
    assert "Python" not in p and "MapInPandas" not in p, p


def test_decontaminate_flags_exact_leak_set(spark):
    df = entry_mod.queries()["decontaminate"](spark, SF_DIR)
    got = {r["doc_id"]: r["n_shared"] for r in df.collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("n_chars") > 0
    )
    expected = {
        r["doc_id"]
        for r in docs.where(
            (F.col("doc_id") % 53 == 0) & (F.col("doc_id") % 97 != 0)
        ).collect()
    }
    # every planted leak is flagged; additional flags are legitimate
    # NATURAL soup 8-gram overlaps with the eval docs (corpus-dependent —
    # sf0.001 has some, sf0.01 has none)
    assert expected.issubset(set(got))
    # planted leaks carry ≥ the 3 pure-canary 8-grams
    assert all(got[d] >= 3 for d in expected)
    p = plan(df)
    assert "BroadcastHashJoin" in p, p  # eval gram set broadcasts
    assert "SortMergeJoin" not in p, p  # corpus never shuffled by gram


def test_lang_mismatch_matrix_totals(spark):
    df = entry_mod.queries()["lang_mismatch"](spark, SF_DIR)
    rows = df.collect()
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n  # a true partition of docs
    for r in rows:
        assert r["is_match"] == (r["lang"] == r["lang_pred"])


def test_outlink_hosts_extract_and_canonicalize(spark):
    row = _one(
        spark,
        '<a href="https://www.x.io/a?utm_source=f">1</a> '
        '<b>no link</b> <a href="http://y.net/b/#frag">2</a>',
        {"h": W.outlink_hosts(F.col("text"))},
    )
    assert row["h"] == ["x.io", "y.net"]


def test_robots_directives_absent_defaults_allow(spark):
    row = _one(
        spark,
        "<head><title>t</title></head>",
        {"r": W.robots_directives(F.col("text"))},
    )
    assert row["r"]["noindex"] is False and row["r"]["nofollow"] is False
    row = _one(
        spark,
        '<head><meta name="robots" content="noindex, nofollow"></head>',
        {"r": W.robots_directives(F.col("text"))},
    )
    assert row["r"]["noindex"] is True and row["r"]["nofollow"] is True


def test_robots_gate_classes(spark):
    df = entry_mod.queries()["robots_gate"](spark, SF_DIR)
    rows = {r["doc_id"]: r for r in df.collect()}
    for doc_id, r in rows.items():
        assert r["noindex"] == (doc_id % 4 == 0)
        assert r["nofollow"] == (doc_id % 4 == 0)
        # canonical mismatch only for the %6==0 class; the %6==3
        # self-variant link canonicalizes EQUAL and must not flag
        assert r["canonical_mismatch"] == (doc_id % 6 == 0)
        assert r["crawl_keep"] == (doc_id % 4 != 0 and doc_id % 6 != 0)
    p = plan(df)
    assert "Exchange" not in p, p


def test_outlink_graph_degree_conservation(spark):
    df = entry_mod.queries()["outlink_graph"](spark, SF_DIR)
    rows = df.collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    # 3 outlinks per page, all extracted and attributed
    assert sum(r["n_links"] for r in rows) == 3 * n_docs
    assert all(
        r["src_host"].endswith(".example.com")
        and r["dst_host"].endswith(".example.com")
        for r in rows
    )
    # executed AQE plans print Final + Initial sections — count the final
    p = plan(df).split("== Initial Plan ==")[0]
    assert p.count("Exchange hashpartitioning") == 1, p


def test_lm_doc_score_oov_plant_and_buckets(spark):
    df = entry_mod.queries()["lm_doc_score"](spark, SF_DIR)
    rows = {r["doc_id"]: r for r in df.collect()}
    for doc_id, r in rows.items():
        if doc_id % 9 == 0:
            # six unique-per-doc gibberish tokens → real OOV, gate drops
            assert r["oov_frac"] > 0.05, r
            assert r["keep"] is False
        else:
            assert r["oov_frac"] == 0.0, r
    # buckets non-degenerate on this corpus (verified at sf0.01/0.1 too)
    buckets = {r["bucket"] for r in rows.values()}
    assert buckets == {"head", "middle", "tail"}


def test_lm_doc_score_corpus_never_shuffled_by_word(spark):
    """The scoring side must join the model via broadcast: the corpus is
    shuffled ONLY by doc_id (one per-doc agg); the word-key exchanges
    belong to the (reference-slice-sized) model build."""
    p = plan(entry_mod.queries()["lm_doc_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("Exchange hashpartitioning(doc_id") == 1, p


def test_host_pagerank_hub_ranks_highest(spark):
    from multi_format_document_extractor_spark.operators.graph import (
        host_pagerank,
    )

    # star graph: everyone links to hub (weight 1); hub links back to a
    edges = spark.createDataFrame(
        [("a", "hub", 1), ("b", "hub", 1), ("c", "hub", 1), ("hub", "a", 1)],
        "src_host string, dst_host string, n_links bigint",
    )
    r = {x["host"]: x["rank"] for x in host_pagerank(edges).collect()}
    assert set(r) == {"a", "b", "c", "hub"}
    assert r["hub"] == max(r.values())
    assert r["a"] > r["b"] == r["c"]  # hub's backlink boosts a
    # no dangling hosts here → mass conserved (up to 6-dp rounding)
    assert abs(sum(r.values()) - 1.0) < 4 * 5e-7
    # deterministic: bit-identical on a rebuild
    r2 = {x["host"]: x["rank"] for x in host_pagerank(edges).collect()}
    assert r == r2


def test_token_budget_mix_group_budgets(spark):
    df = entry_mod.queries()["token_budget_mix"](spark, SF_DIR)
    rows = df.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        kept = [r for r in rs if r["kept"]]
        assert kept, lang
        # every kept doc started inside the budget
        assert all(r["cum_before"] < 6000 for r in kept)
        # the quota binds: either the group ran out of docs, or the kept
        # set crosses the budget (boundary doc included)
        total = sum(r["n_chars"] for r in kept)
        if len(kept) < len(rs):
            assert total >= 6000, (lang, total)
    # bucket-parallel shape: the ONLY corpus-scale exchanges are the
    # (group, bucket) window and the per-bucket totals agg; offsets join
    # back via broadcast (never a sort-merge of the corpus)
    p = plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_token_budget_sample_matches_serial_order(spark):
    """The two-level (bucket-parallel) cumsum must reproduce the exact
    serial scan in global (bucket, md5, id) order — including on a
    single-group corpus (the skew case the bucketing exists for)."""
    import hashlib

    from multi_format_document_extractor_spark.operators.training import (
        token_budget_sample,
    )

    rows = [(i, 10 + (i * 7) % 90) for i in range(200)]  # one group
    df = spark.createDataFrame(
        [(i, "en", t) for i, t in rows], "doc_id long, lang string, n int"
    )
    out = {
        r["doc_id"]: (r["cum_before"], r["kept"])
        for r in token_budget_sample(df, "lang", "doc_id", "n", 500).collect()
    }

    def md5(s):
        return hashlib.md5(str(s).encode()).hexdigest()

    def bucket(i):
        return int(md5(i)[:8], 16) % 16

    order = sorted(rows, key=lambda it: (bucket(it[0]), md5(it[0]), it[0]))
    cum = 0
    for i, t in order:
        assert out[i] == (cum, cum < 500), (i, out[i], cum)
        cum += t


def test_anchor_texts_cap_binds(spark):
    """At >64 distinct anchors for one host, the index keeps exactly the
    64 md5-first anchors while n_anchors still counts every occurrence."""
    import hashlib

    from multi_format_document_extractor_spark.plans.queries_web import (
        anchor_texts,
    )

    anchors = [f"anchor{i:03d}" for i in range(100)]
    html = "".join(
        f'<a href="https://big.example.com/p/1">{a}</a>' for a in anchors
    ) * 2  # every anchor occurs twice
    docs = spark.createDataFrame([(1, html)], "doc_id long, html string")
    # reuse the operator body on crafted rows via the same expressions
    m = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.col("html"), F.lit(r'<a href="[^"]+">[^<]*</a>'), 0
            )
        ).alias("a")
    )
    e = m.select(
        W.host_of(
            W.canonical_url(F.regexp_extract(F.col("a"), W.HREF_RE, 1))
        ).alias("dst_host"),
        F.regexp_extract(F.col("a"), r">([^<]*)<", 1).alias("anchor"),
    )
    occ = e.groupBy("dst_host", "anchor").agg(
        F.count("*").cast("bigint").alias("_n")
    )
    from pyspark.sql import Window as _Win

    w = _Win.partitionBy("dst_host").orderBy(
        F.md5(F.col("anchor")).asc(), F.col("anchor").asc()
    )
    row = (
        occ.withColumn("_rk", F.row_number().over(w))
        .groupBy("dst_host")
        .agg(
            F.sum("_n").cast("bigint").alias("n_anchors"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_rk") <= 64, F.col("anchor"))
                    )
                ),
                " | ",
            ).alias("anchors"),
        )
        .collect()[0]
    )
    assert row["n_anchors"] == 200
    kept = row["anchors"].split(" | ")
    want = sorted(
        sorted(anchors, key=lambda a: hashlib.md5(a.encode()).hexdigest())[:64]
    )
    assert kept == want


def test_classify_block_col_lockstep_with_oracle(spark):
    """The native block rule must agree with oracle.classify_block (the
    extraction contract) on a dense stat sweep, including every
    threshold boundary."""
    from multi_format_document_extractor_spark.oracle import classify_block

    stats = [
        (t, l, g)
        for t in (0, 1, 24, 25, 26, 33, 80, 200)
        for l in (0, 1, 8, 11, 26, 27, 80)
        for g in (0, 2, 3, 9, 10, 24)
        if l <= t or t == 0
    ]
    df = spark.createDataFrame(
        stats, "text_chars int, link_chars int, n_tags int"
    )
    got = [
        r["k"]
        for r in df.select(
            W.classify_block_col(
                F.col("text_chars"), F.col("link_chars"), F.col("n_tags")
            ).alias("k")
        ).collect()
    ]
    want = [classify_block(t, l, g) for t, l, g in stats]
    assert got == want


def test_block_classify_rescue_classes(spark):
    df = entry_mod.queries()["block_classify"](spark, SF_DIR)
    rows = df.collect()
    rescued = [r for r in rows if r["keep"] and not r["base_keep"]]
    dropped = [r for r in rows if not r["keep"]]
    kept = [r for r in rows if r["base_keep"]]
    assert rescued and dropped and kept  # all classes exercised
    # rescue only ever fires strictly between two content blocks
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["pos"]] = r
    for r in rescued:
        assert 1 < r["pos"] < 5
        assert by_doc[r["doc_id"]][r["pos"] - 1]["base_keep"]
        assert by_doc[r["doc_id"]][r["pos"] + 1]["base_keep"]
        assert r["text_chars"] >= 15
    p = plan(df).split("== Initial Plan ==")[0]
    assert p.count("Exchange hashpartitioning") == 1, p


def test_anchor_texts_pairing(spark):
    """href and its own anchor text must stay paired (the match-then-
    project shape); anchors aggregate sorted-distinct per target host."""
    df = entry_mod.queries()["anchor_texts"](spark, SF_DIR)
    rows = df.collect()
    assert rows
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_anchors"] for r in rows) == 3 * n_docs
    for r in rows:
        parts = r["anchors"].split(" | ")
        assert parts == sorted(set(parts))
        assert set(parts) <= {"a", "b", "c"}


def test_bloom_seen_one_sided_guarantee_and_probe_plan(spark):
    """Bloom contract: truly_seen ⇒ maybe_seen on EVERY row (a bloom
    filter has no false negatives, whatever the corpus), and false_pos
    is exactly maybe ∧ ¬truly. Plan: the one-row bit array broadcasts
    (BroadcastNestedLoopJoin); the probe side is never hash-exchanged —
    the only Exchanges belong to the ≤m-row build aggregation."""
    df = entry_mod.queries()["bloom_seen"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 500
    for r in rows:
        if r["truly_seen"]:
            assert r["maybe_seen"], r
        assert r["false_pos"] == (r["maybe_seen"] and not r["truly_seen"])
    p = plan(df)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "Exchange hashpartitioning" not in p, p


def test_page_metadata_crafted_heads(spark):
    """Unit contract on crafted heads: both meta-description attribute
    orders land in meta_desc; uppercase <TITLE> and padded whitespace
    resolve via (?i)+trim; absent fields extract as ''; the plan stays
    stageless (zero Exchange)."""
    m = W.page_metadata(F.col("h"))
    r = _one_meta(
        spark,
        '<html lang="de"><head><TITLE>  Hi There </TITLE>'
        '<meta content="alt order" name="description">'
        '<meta property="article:published_time" content="2025-12-31T08:00:00Z">'
        "</head>",
        m,
    )
    assert r["title"] == "Hi There"
    assert r["meta_desc"] == "alt order"
    assert r["pub_date"] == "2025-12-31"
    assert r["lang_attr"] == "de"
    assert r["og_title"] == ""
    r2 = _one_meta(
        spark,
        '<html><head><title>x</title>'
        '<meta name="description" content="normal order"></head>',
        m,
    )
    assert r2["meta_desc"] == "normal order"
    assert r2["lang_attr"] == "" and r2["pub_date"] == ""
    # real-page variance: uppercase tags, single-quoted values, and an
    # apostrophe INSIDE a double-quoted value (a quote class would cut it)
    r3 = _one_meta(
        spark,
        "<HTML LANG='en-GB'><head>"
        '<META NAME="Description" CONTENT="it\'s fine">'
        "<meta property='og:title' content='Single Quoted'></head>",
        m,
    )
    assert r3["lang_attr"] == "en-GB"
    assert r3["og_title"] == "Single Quoted"
    # (?i) covers attribute-NAME case too, so NAME=/CONTENT= still hit
    assert r3["meta_desc"] == "it's fine"
    r4 = _one_meta(
        spark,
        '<head><meta name=\'description\' content="it\'s fine"></head>',
        m,
    )
    assert r4["meta_desc"] == "it's fine"
    df = entry_mod.queries()["page_metadata"](spark, SF_DIR)
    assert "Exchange" not in plan(df)


def _one_meta(spark, html, mcol):
    df = spark.createDataFrame([(html,)], "h string")
    return df.select(mcol.alias("_m")).select("_m.*").collect()[0]


def test_html_table_extraction_crafted(spark):
    """Multi-line markup (exercises (?s)), mixed-case tags (exercises
    (?i)), inline tags stripped inside cells, empty + untrimmed cells,
    ragged row widths, and the declared nested-table boundary."""
    html = (
        "<p>x</p>\n<TABLE class='z'>\n"
        "<tr><TH>A</TH><th>B\nC</th></tr>\n"
        "<tr><td><b>bold</b> v</td>\n<td>  pad  </td><td></td></tr>\n"
        "</TABLE><table><tr><td>solo</td></tr></table>"
    )
    df = spark.createDataFrame([(html,)], "html string")
    tabs = df.select(
        F.posexplode(W.table_bodies(F.col("html"))).alias("ti", "body")
    )
    rows = tabs.select(
        "ti", F.posexplode(W.table_rows(F.col("body"))).alias("ri", "tr")
    ).select(
        "ti",
        "ri",
        F.col("tr").rlike("(?is)<th").alias("is_header"),
        W.row_cells(F.col("tr")).alias("cells"),
    )
    got = {(r["ti"], r["ri"]): r for r in rows.collect()}
    assert set(got) == {(0, 0), (0, 1), (1, 0)}, sorted(got)
    assert got[(0, 0)]["is_header"] and not got[(0, 1)]["is_header"]
    # whitespace collapses to HTML display semantics: "B\nC" renders "B C"
    assert got[(0, 0)]["cells"] == ["A", "B C"]
    # inline <b> stripped, whitespace trimmed, empty cell kept: ragged
    # widths (2 vs 3) surface as differing cell counts, never an error
    assert got[(0, 1)]["cells"] == ["bold v", "pad", ""]
    assert got[(1, 0)]["cells"] == ["solo"]


def test_feed_entry_parsing_crafted(spark):
    """RSS and Atom bodies in one scan; link/date fallbacks; canonical
    key matches the crawled-url canonicalization."""
    rss = (
        "<rss><channel><item><link>https://www.h.example/p/1?utm_x=9"
        "</link><pubDate>2024-03-05T10:00</pubDate></item>"
        "<item><link>https://h.example/p/2</link></item>"
        "</channel></rss>"
    )
    atom = (
        '<feed><entry><link href="https://h.example/a/3#frag"/>'
        "<updated>2024-04-01</updated></entry></feed>"
    )
    df = spark.createDataFrame([(rss,), (atom,)], "xml string")
    e = df.select(
        F.explode(W.feed_entries(F.col("xml"))).alias("entry")
    ).select(
        W.canonical_url(W.feed_link(F.col("entry"))).alias("loc"),
        W.feed_date(F.col("entry")).alias("pub"),
    )
    got = {r["loc"]: r["pub"] for r in e.collect()}
    assert got == {
        "h.example/p/1": "2024-03-05",
        "h.example/p/2": "",
        "h.example/a/3": "2024-04-01",
    }, got


def test_readability_counts_and_score(spark):
    """Hand-countable sentence/syllable/word arithmetic, the ≥1 sentence
    floor, and band thresholds on the rounded score."""
    text = "The cat sat. It was happy!? Then it ran"
    df = spark.createDataFrame([(text,)], "text string")
    r = df.select(
        W.readability_counts(F.col("text"), TS.words(F.col("text"))).alias(
            "c"
        )
    ).select("c.*").collect()[0]
    assert r["n_words"] == 9
    # '.' and '!?' are two terminal runs; the unterminated tail adds none
    assert r["n_sentences"] == 2
    # vowel groups: The=1 cat=1 sat=1 It=1 was=1 ha-ppy=2 Then=1 it=1 ran=1
    assert r["n_syllables"] == 10
    frag = spark.createDataFrame([("no terminal marks here",)], "text string")
    rf = frag.select(
        W.readability_counts(
            F.col("text"), TS.words(F.col("text"))
        ).alias("c")
    ).select("c.*").collect()[0]
    assert rf["n_sentences"] == 1  # floored, fragments still score
    bands = {
        r["doc_id"]: r["band"]
        for r in entry_mod.queries()["readability"](spark, SF_DIR)
        .limit(50)
        .collect()
    }
    assert bands  # bands computed on the rounded score; spot type check


def test_inverted_index_cap_binds_and_stats_stay_exact(spark):
    """A token in 30 docs keeps exact df/tf_total but only 8 postings,
    equal to the brute-force global md5-order head (the subbucket
    superset argument); a rare token keeps every posting. Drives the
    SAME operators/indexing.build_inverted_index the registry query
    ships (shared code, no copied expression to drift)."""
    import hashlib

    from multi_format_document_extractor_spark.operators.indexing import (
        build_inverted_index,
    )

    rows = [(i, "common common rare%d" % i if i < 2 else "common") for i in
            range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    tok = df.select(
        "doc_id", F.explode(TS.words(F.col("text"))).alias("token")
    )
    got = {r["token"]: r for r in build_inverted_index(tok).collect()}
    assert got["common"]["df"] == 30
    assert got["common"]["tf_total"] == 2 * 2 + 28 * 1
    want = [
        str(i)
        for i in sorted(
            range(30),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )[:8]
    ]
    assert got["common"]["postings"].split(",") == want
    assert got["rare0"]["df"] == 1 and got["rare0"]["postings"] == "0"


def test_feed_atom_entry_with_embedded_rss_link_keeps_href(spark):
    """An Atom <entry> whose nested summary markup contains an RSS-style
    <link>x</link> run must still classify as 'atom' and take the real
    href — the container tag decides, never a body re-sniff (ADVICE r3:
    the embedded link used to win and the frontier got the wrong URL)."""
    xml = (
        '<feed><entry><link href="https://h.example/real"/>'
        "<summary>see <link>https://evil.example/embedded</link></summary>"
        "<updated>2024-06-01</updated></entry></feed>"
    )
    df = spark.createDataFrame([("h", xml)], "host string, xml string")
    rows = W.parse_feeds(df).collect()
    assert len(rows) == 1
    assert rows[0]["loc"] == "h.example/real", rows[0]
    assert rows[0]["channel"] == "atom"
    assert rows[0]["pub"] == "2024-06-01"


def test_feed_parse_drops_linkless_entries(spark):
    """An entry with no recognizable link must NOT reach the frontier —
    an empty canonical loc would poison every downstream loc join."""
    xml = (
        "<rss><channel>"
        "<item><pubDate>2024-05-01</pubDate></item>"
        "<item><link>https://h.example/ok</link></item>"
        "</channel></rss>"
    )
    df = spark.createDataFrame([("h", xml)], "host string, xml string")
    # drives the SAME W.parse_feeds the registry query ships — the
    # linkless-drop filter lives inside it, so deleting the filter from
    # the shipped code fails this test
    locs = [r["loc"] for r in W.parse_feeds(df).collect()]
    assert locs == ["h.example/ok"], locs


def test_table_roundtrip_on_random_structures(spark):
    """Seeded-random table structures (0-3 tables × 1-4 rows × 1-5 cells,
    random tag case, attributes, inline tags, newlines, padding) render
    to HTML and must parse back to exactly the cleaned cell matrix —
    one Spark job over all docs (the batch property-test style of
    test_spark_sniff_agrees_with_oracle_on_random_payloads)."""
    import random
    import re as _re

    rng = random.Random(1234)
    letters = "abcd efgh "
    docs, want = [], {}
    for i in range(200):
        parts, exp = ["<p>head</p>"], []
        for t in range(rng.randint(0, 3)):
            tag = rng.choice(["table", "TABLE", "Table"])
            attr = rng.choice(["", " class='x'", ' id="t1"'])
            rows_html = []
            for r in range(rng.randint(1, 4)):
                cells_html, row_exp = [], []
                for c in range(rng.randint(1, 5)):
                    body = "".join(
                        rng.choice(letters) for _ in range(rng.randint(0, 9))
                    )
                    style = rng.choice(["plain", "b", "pad", "nl", "vt"])
                    if style == "b":
                        inner = f"<b>{body}</b>"
                    elif style == "pad":
                        inner = f"  {body}  "
                    elif style == "nl":
                        inner = f"{body}\n"
                    elif style == "vt":
                        # \x0B is in Java's \s but NOT RE2's — the
                        # explicit CELL_WS_RE class must collapse it on
                        # both engines identically
                        inner = f"{body}\x0Bz"
                    else:
                        inner = body
                    ctag = rng.choice(["td", "TD", "th"])
                    cells_html.append(f"<{ctag}>{inner}</{ctag}>")
                    row_exp.append(
                        _re.sub(
                            r"\s+", " ", _re.sub(r"<[^>]+>", "", inner)
                        ).strip()
                    )
                rows_html.append("<tr>" + "".join(cells_html) + "</tr>")
                exp.append((t + 1, r + 1, row_exp))
            parts.append(
                f"<{tag}{attr}>" + "\n".join(rows_html) + f"</{tag}>"
            )
            parts.append("between text")
        docs.append((i, "".join(parts)))
        want[i] = exp
    df = spark.createDataFrame(docs, "doc_id bigint, html string")
    tabs = df.select(
        "doc_id",
        F.posexplode(W.table_bodies(F.col("html"))).alias("ti", "body"),
    )
    rows = tabs.select(
        "doc_id",
        (F.col("ti") + 1).alias("t"),
        F.posexplode(W.table_rows(F.col("body"))).alias("ri", "tr"),
    ).select(
        "doc_id",
        "t",
        (F.col("ri") + 1).alias("r"),
        W.row_cells(F.col("tr")).alias("cells"),
    )
    got = {}
    for row in rows.collect():
        got.setdefault(row["doc_id"], []).append(
            (row["t"], row["r"], list(row["cells"]))
        )
    for i, exp in want.items():
        assert sorted(got.get(i, [])) == sorted(exp), (i, exp, got.get(i))


def test_readability_counts_match_python_reference(spark):
    """Random ASCII text: the three readability counts must equal a
    pure-Python re implementation of the same patterns (Java-regex /
    Python-re agreement on these simple classes is the lockstep
    contract the oracle relies on)."""
    import random
    import re as _re

    rng = random.Random(99)
    alpha = "abcdefgy AEIOU.!? ,;x "
    docs = []
    for i in range(300):
        docs.append(
            (i, "".join(rng.choice(alpha) for _ in range(rng.randint(1, 120))))
        )
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            W.readability_counts(
                F.col("text"), TS.words(F.col("text"))
            ).alias("c"),
        )
        .select("doc_id", "c.*")
        .collect()
    }
    for i, text in docs:
        toks = _re.split(r"\s+", text.strip())
        assert out[i]["n_words"] == len(toks), (i, text)
        assert out[i]["n_sentences"] == max(
            len(_re.findall(r"[.!?]+", text)), 1
        ), (i, text)
        assert out[i]["n_syllables"] == len(
            _re.findall(r"[aeiouyAEIOUY]+", text)
        ), (i, text)


def test_exact_value_quantiles_crafted(spark):
    """Hand-computable type-1 quantiles incl. the tie case, via the same
    operators/sampling.exact_value_quantiles the registry query ships."""
    from multi_format_document_extractor_spark.operators.sampling import (
        exact_value_quantiles,
    )

    rows = [("a", v) for v in range(1, 11)] + [
        ("b", 1),
        ("b", 1),
        ("b", 1),
        ("b", 7),
    ]
    df = spark.createDataFrame(rows, "lang string, n_chars bigint")
    got = {
        r["lang"]: r
        for r in exact_value_quantiles(df, "lang", "n_chars").collect()
    }
    # lang a: 1..10 -> ceil(.5*10)=5 -> 5; ceil(.9*10)=9 -> 9; ceil(9.9)=10
    assert (got["a"]["p50"], got["a"]["p90"], got["a"]["p99"]) == (5, 9, 10)
    # lang b: [1,1,1,7] -> p50 at cum>=2 -> 1; p90 at cum>=ceil(3.6)=4 -> 7
    assert (got["b"]["p50"], got["b"]["p90"], got["b"]["p99"]) == (1, 7, 7)
    assert got["a"]["n_docs"] == 10 and got["b"]["n_docs"] == 4
    # NULL values are excluded, not counted below every real value
    withnull = spark.createDataFrame(
        [("c", None)] * 4 + [("c", v) for v in range(1, 7)],
        "lang string, n_chars bigint",
    )
    gn = exact_value_quantiles(withnull, "lang", "n_chars").collect()[0]
    assert gn["n_docs"] == 6 and gn["p50"] == 3, gn


def test_mixed_lang_detects_planted_bilingual_docs(spark):
    """Every 7th doc carries the planted German tail: those docs (when
    their base chunks lang-id as a real language) must flag mixed with
    de among the langs; unplanted docs must never flag."""
    import __spark_entry__ as em

    rows = em.queries()["mixed_lang"](spark, SF_DIR).collect()
    assert rows
    mixed = [r for r in rows if r["mixed"]]
    assert mixed, "planted bilingual docs must surface"
    for r in rows:
        assert 0.0 < r["top_frac"] <= 1.0, r
        if r["mixed"]:
            assert r["doc_id"] % 7 == 0 and r["n_langs"] >= 2, r
        if r["doc_id"] % 7 != 0:
            assert not r["mixed"], r


def test_oracle_ws_rewrite_aligns_duckdb_with_java(spark):
    """The import-time \\s/\\S rewrite must leave no bare shorthand in
    any oracle (outside the divergence-free [\\s\\S] idiom), and the
    explicit class must make DuckDB tokenize \\x0B exactly like Spark's
    Java \\s does."""
    import duckdb

    from multi_format_document_extractor_spark.plans.queries import ORACLES

    for n, s in ORACLES.items():
        masked = s.replace("[\\s\\S]", "")
        assert "\\s" not in masked, n
        assert "\\S" not in masked, n
    row = (
        spark.createDataFrame([("a\x0Bb",)], "t string")
        .select(F.split(F.trim("t"), r"\s+").alias("w"))
        .collect()[0]
    )
    assert list(row["w"]) == ["a", "b"]  # Java \s eats vertical tab
    got = duckdb.sql(
        "select string_split_regex('a' || chr(11) || 'b',"
        " '[ \\t\\n\\f\\r\\x0B]+') as w"
    ).fetchone()[0]
    assert list(got) == ["a", "b"]  # explicit class makes RE2 agree


def test_index_merge_equals_global_head(spark):
    """merge(build(A), build(B)) must reproduce the global md5-order
    posting head over A∪B even when both sides' heads interleave, and
    df/tf_total must add exactly."""
    import hashlib

    from multi_format_document_extractor_spark.operators.indexing import (
        build_inverted_index,
        merge_inverted_indexes,
    )

    rows = [(i, "shared only%d" % i) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    tok = df.select(
        "doc_id", F.explode(TS.words(F.col("text"))).alias("token")
    )
    a = build_inverted_index(tok.where(F.col("doc_id") % 2 == 0))
    b = build_inverted_index(tok.where(F.col("doc_id") % 2 == 1))
    got = {
        r["token"]: r for r in merge_inverted_indexes(a, b).collect()
    }
    assert got["shared"]["df"] == 40 and got["shared"]["tf_total"] == 40
    want = [
        str(i)
        for i in sorted(
            range(40),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )[:8]
    ]
    assert got["shared"]["postings"].split(",") == want
    assert got["only3"]["df"] == 1 and got["only3"]["postings"] == "3"


def test_index_merge_cap_violation_fails_loudly(spark):
    """Merging with a cap larger than an input's recorded build cap must
    raise (ADVICE r3: previously it silently emitted a plausible-but-wrong
    longer head), while merging at or below the build cap stays fine, and
    the recorded cap survives a parquet round-trip."""
    import pytest as _pytest

    from multi_format_document_extractor_spark.operators.indexing import (
        build_inverted_index,
        merge_inverted_indexes,
    )

    rows = [(i, "tok") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, token string")
    a = build_inverted_index(df.where(F.col("doc_id") % 2 == 0), cap=4)
    b = build_inverted_index(df.where(F.col("doc_id") % 2 == 1), cap=4)
    assert "build_cap" in a.columns
    ok = merge_inverted_indexes(a, b, cap=4).collect()
    assert ok[0]["build_cap"] == 4
    with _pytest.raises(Exception, match="exceeds.*build cap"):
        merge_inverted_indexes(a, b, cap=6).collect()
    # stored/reloaded index still carries — and still enforces — its cap
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        a.write.mode("overwrite").parquet(tmp + "/ix")
        a2 = spark.read.parquet(tmp + "/ix")
        with _pytest.raises(Exception, match="exceeds.*build cap"):
            merge_inverted_indexes(a2, b, cap=6).collect()


def test_index_merge_empty_postings_row_is_inert(spark):
    """An index row with postings='' (stats-only) must not smuggle a
    NULL-doc entry into the merged head."""
    from multi_format_document_extractor_spark.operators.indexing import (
        merge_inverted_indexes,
    )

    a = spark.createDataFrame(
        [("t", 3, 5, "")],
        "token string, df bigint, tf_total bigint, postings string",
    )
    b = spark.createDataFrame(
        [("t", 2, 2, "7,9")],
        "token string, df bigint, tf_total bigint, postings string",
    )
    r = merge_inverted_indexes(a, b).collect()[0]
    assert r["df"] == 5 and r["tf_total"] == 7
    assert set(r["postings"].split(",")) == {"7", "9"}, r


def test_explicit_ws_rewriter_state_machine():
    """Direct crafted-SQL cases for the \\s rewriter: escaped quotes
    inside strings (and inside classes) keep state; a literal backslash
    before a closing quote does not desync the tracker; positionally
    literal dashes pass while range-forming dashes fail loudly."""
    import pytest as _pytest

    from multi_format_document_extractor_spark.plans.queries import (
        _WS_CHARS,
        _explicit_ws,
    )

    # plain rewrite in/out of strings
    assert _explicit_ws("x '\\s+' y") == f"x '[{_WS_CHARS}]+' y"
    assert _explicit_ws("w[i:j] '\\s'") == f"w[i:j] '[{_WS_CHARS}]'"
    # '' escape inside a class: class state must survive the quote pair
    assert (
        _explicit_ws("'[^''\\s]+'") == f"'[^''{_WS_CHARS}]+'"
    )
    # literal backslash before the closing quote: tracker stays in sync,
    # the NEXT string still gets rewritten
    assert (
        _explicit_ws("a('\\', '/') '\\s'")
        == f"a('\\', '/') '[{_WS_CHARS}]'"
    )
    # positionally literal dashes are fine
    assert _explicit_ws("'[-\\s]'") == f"'[-{_WS_CHARS}]'"
    assert _explicit_ws("'[^-\\s]'") == f"'[^-{_WS_CHARS}]'"
    assert _explicit_ws("'[\\s-]'") == f"'[{_WS_CHARS}-]'"
    # a range-forming dash fails loudly instead of silently mutating
    with _pytest.raises(AssertionError):
        _explicit_ws("'[a-\\s]'")
    with _pytest.raises(AssertionError):
        _explicit_ws("'[\\s-z]'")
    # the any-char idiom is untouched; \S outside classes expands
    assert _explicit_ws("'[\\s\\S]*'") == "'[\\s\\S]*'"
    assert _explicit_ws("'\\S+'") == f"'[^{_WS_CHARS}]+'"
