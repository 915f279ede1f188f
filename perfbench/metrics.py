"""Every metric the benchmark prints, with its unit and direction.

End-to-end metrics are printed by untraced runs (``--trace 0``), per-layer
metrics by traced runs (``--trace 1``). Every traced run runs the same
ledger on the same seed's inputs; METRICS.md says how each is measured.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name → (unit, which direction is better)
END_TO_END = {
    "docs_per_core_s": ("1/core_s", "higher"),
    "setup_s": ("s", "lower"),
    "worker_rss_peak_mb": ("MB", "lower"),
}

HIGHER_IS_BETTER = {
    "extract.speedup_vs_oracle",
    "extract.ok_ratio",
    "trace.accounted_ratio",
}

FORMATS = ("html", "pdf", "image", "zip", "csv", "text", "pbm")

# The hygiene queries of the plans registry the ledger runs, in this order.
PLAN_QUERIES = (
    "minhash_lsh",
    "jaccard_pairs",
    "simhash_neardup",
    "neardup_components",
    "cluster_split",
    "semdedup",
    "template_lines",
    "substring_dedup",
    "inverted_index",
)

TEXTSTATS = (
    "lang_id",
    "quality_score",
    "token_count_bpe",
    "token_count_ws",
    "fingerprint64",
)

PER_LAYER_UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.pyfiles_zip_kb": "KB",
    "session.first_udf_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "sources.sniff_s": "s",
    "extract.arrow_s": "s",
    "extract.udf_s": "s",
    "extract.speedup_vs_oracle": "ratio",
    "extract.task_median_s": "s",
    "extract.task_max_s": "s",
    "extract.straggler_ratio": "ratio",
    "extract.ok_ratio": "ratio",
    "extract.clustered_s": "s",
    "extract.clustered_task_max_s": "s",
    "extract.clustered_straggler_ratio": "ratio",
    **{f"oracle.{f}.ms_per_mb": "ms/MB" for f in FORMATS},
    **{f"oracle.{f}.share": "ratio" for f in FORMATS},
    "oracle.html.decode_web_ms_per_mb": "ms/MB",
    "oracle.html.blocks_ms_per_mb": "ms/MB",
    "oracle.pdf.text_ms_per_mb": "ms/MB",
    "oracle.pdf.scanned_ms_per_mb": "ms/MB",
    "oracle.image.decode_ms_per_mb": "ms/MB",
    "oracle.image.classify_ms_per_mb": "ms/MB",
    **{f"textstats.{f}_s": "s" for f in TEXTSTATS},
    "textstats.enrich_s": "s",
    "api.score_s": "s",
    "api.validate_confidence_s": "s",
    "routing.escalated_ratio": "ratio",
    "routing.second_pass_s": "s",
    "sinks.write_s": "s",
    "sinks.data_files": "count",
    "sinks.stored_bytes_per_input_byte": "ratio",
    "sinks.shuffle_mb": "MB",
    **{f"plans.{q}_s": "s" for q in PLAN_QUERIES},
    "plans.shuffle_mb": "MB",
    "plans.jobs": "count",
    "trace.overhead_ratio": "ratio",
    "trace.accounted_ratio": "ratio",
}

PER_LAYER = {
    name: (unit, "higher" if name in HIGHER_IS_BETTER else "lower")
    for name, unit in PER_LAYER_UNITS.items()
}
