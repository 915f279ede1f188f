#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is end-to-end extraction throughput (docs/sec) over a
deterministic synthetic Common-Crawl-style corpus (BASELINE.json north rule),
reported alongside per-query wall times for the registry's representative
operators. Timing uses the noop sink so the full plan executes without a
collect bottleneck on the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "60000"))
SEED = 42

# Representative registry queries (one per operator family; the full 80-query
# matrix is exercised by the driver's correctness pass, not the bench).
BENCH_QUERIES = [
    "doc_router",          # feature-based profile routing (codegen CASE)
    "order_rollup",        # canonical hash agg (A2)
    "total_reconcile",     # join + reconcile (F25)
    "validation_rules",    # rules-as-data (P*)
    "confidence_score",    # scoring arithmetic (A4-A6)
    "fusion_weighted",     # ensemble fusion (A9)
    "sessionize",          # gaps-and-islands window (W4)
    "dedup_exact",         # hash dedup
    "minhash_lsh",         # MinHash+LSH near-dup (8×4 banded)
    "jaccard_pairs",       # capped candidate join + Jaccard verify
    "simhash_neardup",     # 64-bit simhash + banded Hamming join
    "ann_topk",            # brute-force cosine top-k
    "pq_adc_topk",         # product-quantized ADC top-k (compressed path)
    "embed_neardup",       # sign-LSH bucketed cosine pairs
    "semdedup",            # semantic dedup (IVF cells + within-cell cosine)
    "dsir_select",         # DSIR importance weights (hashed n-gram LLR)
    "bloom_seen",          # bloom seen-set probe (broadcast bit array)
    "quality_score",       # text quality
    "repetition_filter",   # Gopher repetition gate (HOF codegen)
    "url_dedup",           # canonical-URL dedup (explode + hash agg)
    "paragraph_dedup",     # corpus-level span dedup (2-phase min-agg)
    "substring_dedup",     # ExactSubstr stride-1 span dedup (hashed wins)
    "template_lines",      # site-template strip (cross-doc boilerplate)
    "lm_doc_score",        # CCNet-style LM quality buckets (bcast model)
    "outlink_graph",       # href extract → host link graph
    "token_counts",        # tokenization stats
    "bpe_pair_counts",     # BPE merge-step pair table (vocab-phase agg)
    "bpe_train_batched",   # batch-greedy merge loop (1 collect/round)
    "bpe_encode",          # trained merges applied over the vocab
    "window_agg",          # tumbling window (batch)
    "doc_chunks",          # overlapping fixed-token chunking (stageless)
    "batch_assembly",      # length-bucketed inference batching
    "page_metadata",       # head metadata extraction (stageless)
    "jsonld_meta",         # JSON-LD island harvest (stageless path reads)
    "charset_census",      # WHATWG label table as literal map (no join)
    "cluster_split",       # leakage-free split (components + md5 CASE)
    "training_corpus",     # quality gate → dedup keepers → split
    "pack_sequences",      # fixed-token sequence packing
    "neardup_components",  # connected components (iterative)
    "inverted_index",      # capped posting lists (skew-split window)
    "asof_state",          # as-of join (union-window, no join node)
    "media_dims",          # WebP/TIFF/mp4 container-geometry roundtrip (r5)
    "audio_container_meta",  # mp3/Ogg container-metadata roundtrip (r5)
    "media_tags",          # ID3v2/EXIF provenance-tag harvest (r5)
]


def _corpus(n: int, seed: int) -> str:
    import tempfile

    from multi_format_document_extractor_spark.corpus import (
        CORPUS_VERSION,
        write_corpus,
    )

    d = os.path.join(
        tempfile.gettempdir(), f"mfde_bench_corpus_v{CORPUS_VERSION}_{n}_{seed}"
    )
    if not os.path.exists(os.path.join(d, "pages.parquet")):
        write_corpus(d, n, seed)
    return d


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(make_df, reps: int = 2) -> float:
    """Best-of-N wall time of BUILD + EXECUTE. ``make_df`` is a thunk:
    construction must be inside the timed window because iterative
    operators (connected components) run their driver loop eagerly at
    build time — timing only the final write would measure a cached
    no-op. The box this runs on is shared (the round driver schedules its
    own jobs concurrently); a single sample can absorb a foreign CPU burst
    and misreport a query as 10× slower than steady state. Min-of-N
    bounds that noise while keeping the bench under ~2 min."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        _run(make_df())
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    from multi_format_document_extractor_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    corpus_dir = _corpus(N_DOCS, SEED)  # generated outside the timed section

    from multi_format_document_extractor_spark.operators.extract import (
        extract_pages,
    )
    from multi_format_document_extractor_spark.sources.pages import read_pages

    times: dict[str, float] = {}

    # -- headline: full extraction pipeline over the synthetic corpus --------
    # Warm-up measures steady state, not one-time-per-executor costs (Python
    # worker spawn + package import — amortized to noise on a real cluster):
    # a wide UDF stage touches every worker and imports the package in each.
    pages = read_pages(spark, corpus_dir + "/pages.parquet")
    _run(extract_pages(pages.limit(512)))
    # Headline gets best-of-3 (the shared host's contention windows can
    # poison any single sample 3-10×; see BENCH.md protocol).
    extract_sec = _timed(lambda: extract_pages(pages), reps=3)
    times["extract_pages"] = round(extract_sec, 3)
    docs_per_sec = N_DOCS / extract_sec

    # -- registry queries at the driver's sf dir -----------------------------
    from multi_format_document_extractor_spark.plans.queries import QUERIES

    for name in BENCH_QUERIES:
        times[name] = round(
            _timed(lambda q=QUERIES[name]: q(spark, SF_DIR)), 3
        )

    total = round(sum(times.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "bench_total_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "extract_docs": N_DOCS,
                "extract_docs_per_sec": round(docs_per_sec, 1),
                "cpus": int(CPUS),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
