"""Feature-based extraction-profile routing.

Reference analog: ``src/ai_models/model_router.py:398-468`` — an ORDERED
rule ladder over document characteristics that picks the processing model
(handwriting → TrOCR, noise → Donut, complex layout + tables → LayoutLMv3,
simple dense → Donut, default → hybrid), with thresholds in a config dict
(model_router.py:262-271). The reference scores those characteristics with
a CNN over the page image; this engine keeps the same DECISION STRUCTURE
but computes the axes from native text features — token count as the
size/complexity axis, the composite quality score as the density/noise
axis — so routing is a pure whole-stage-codegen CASE: zero Python, zero
shuffle, evaluated inside the scan projection. At 100 TB that means the
router adds no stage at all; the reference's version costs a CNN forward
pass per document.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import textstats as TS

ROUTE_MANUAL = "manual"  # empty document: no extractor applies
ROUTE_RELAXED = "relaxed"  # noisy: recovery profile (reference: OCR-free)
ROUTE_LAYOUT = "layout"  # long structured: layout model (LayoutLMv3 analog)
ROUTE_FAST = "fast"  # short dense: cheap single pass (simple-doc rule)
ROUTE_HYBRID = "hybrid"  # uncertain: hybrid coverage (reference default)

# Thresholds — the routing_config analog. Calibrated so every branch is
# reachable on the synthetic corpus (distribution probed at sf0.01).
QUALITY_NOISE_MAX = 0.5
QUALITY_CLEAN_MIN = 0.6
TOKENS_COMPLEX_MIN = 80
TOKENS_SIMPLE_MAX = 25

REASONS = {
    ROUTE_MANUAL: "empty document",
    ROUTE_RELAXED: "low quality: recovery profile",
    ROUTE_LAYOUT: "long structured document",
    ROUTE_FAST: "short dense document",
    ROUTE_HYBRID: "uncertain: hybrid coverage",
}


def route_profile(text: Column) -> tuple[Column, Column]:
    """(route, reason) columns from the ordered rule ladder. Rule order is
    the contract (mirrors the reference's elif chain): empty → noise →
    complex → simple → default. ``route_profile_sql`` below is the
    DuckDB mirror that the ``doc_router`` registry oracle runs."""
    n_tokens = TS.token_count_ws(text)
    quality = TS.quality_score(text)
    route = (
        F.when(n_tokens == 0, F.lit(ROUTE_MANUAL))
        .when(quality < QUALITY_NOISE_MAX, F.lit(ROUTE_RELAXED))
        .when(
            (n_tokens >= TOKENS_COMPLEX_MIN) & (quality >= QUALITY_CLEAN_MIN),
            F.lit(ROUTE_LAYOUT),
        )
        .when(n_tokens <= TOKENS_SIMPLE_MAX, F.lit(ROUTE_FAST))
        .otherwise(F.lit(ROUTE_HYBRID))
    )
    reason_map = F.create_map(
        *[x for kv in REASONS.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    return route, F.element_at(reason_map, route)


def route_profile_sql(text: str) -> tuple[str, str]:
    """(route, reason) SQL expressions: ``route_profile``'s ladder over
    ``token_count_ws_sql`` and ``quality_score_sql``."""
    route = TS.let_sql(
        {"n": TS.token_count_ws_sql(text), "q": TS.quality_score_sql(text)},
        f"CASE WHEN v.n = 0 THEN '{ROUTE_MANUAL}'"
        f" WHEN v.q < {QUALITY_NOISE_MAX} THEN '{ROUTE_RELAXED}'"
        f" WHEN v.n >= {TOKENS_COMPLEX_MIN}"
        f" AND v.q >= {QUALITY_CLEAN_MIN} THEN '{ROUTE_LAYOUT}'"
        f" WHEN v.n <= {TOKENS_SIMPLE_MAX} THEN '{ROUTE_FAST}'"
        f" ELSE '{ROUTE_HYBRID}' END",
    )
    reason = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in REASONS.items())
    return route, TS.let_sql({"r": route}, f"CASE v.r {reason} END")
