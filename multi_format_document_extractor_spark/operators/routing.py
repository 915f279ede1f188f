"""Hybrid routing: the escalation threshold and the two-pass job strategy
(SURVEY.md §3.2).

The reference routes per document: rule-based first, escalate to the AI
path when confidence < 0.7 (src/hybrid_pipeline.py:308-360). The engine's
own hybrid mode (``api.process_table(mode="hybrid")``) branches per row
inside the one extraction UDF: ``confidence`` reads only a handful of
extraction outputs, so the set of their values that escalate is computed
once natively (``api.escalation_table``) and the branch in the hot loop is
one set lookup per row. The relaxed pass then re-reads a payload the UDF
already holds, costs Python time only on the rows that escalate, and needs
no second scan, join or union.

``two_pass_escalation`` remains for expensive passes that cannot run inside
that UDF (a different stage, model or service): the cheap pass runs over
everything, then only the low-confidence slice goes through the expensive
pass, and the two are unioned (job-level cost-based routing, which Catalyst
cannot infer on its own). The ``routing_two_pass`` registry query uses it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ESCALATION_THRESHOLD = 0.7  # src/hybrid_pipeline.py:350-353


def two_pass_escalation(
    df: DataFrame,
    cheap: Callable[[DataFrame], DataFrame],
    expensive: Callable[[DataFrame], DataFrame],
    conf_col: str = "confidence",
    threshold: float = ESCALATION_THRESHOLD,
) -> DataFrame:
    """Pass 1: ``cheap`` over everything → confidence. Pass 2: ``expensive``
    re-processes only rows with confidence < threshold. Adds a ``mode``
    column ('rule_based' | 'escalated') mirroring the reference's
    ExtractionMetrics.mode (src/hybrid_pipeline.py:40-51).

    Pass 1 is localCheckpointed before the two branches read it: both
    the kept and the escalated branch reference pass1, and without a
    materialization boundary Spark re-executes the full cheap
    lineage — at corpus scale, the whole scan + Arrow + Python extraction
    — once per branch (round-1 VERDICT #4). localCheckpoint (rather than
    persist) both truncates the plan AND leaves cleanup to the
    ContextCleaner when the result is dropped — no caller-visible cache
    handle to leak. The in-session boundary stands in for SURVEY §3.2's
    job-level strategy; a multi-job deployment would write pass 1 to the
    warehouse and read it back (sinks.Warehouse), which also survives
    executor loss."""
    pass1 = cheap(df).localCheckpoint()
    kept = pass1.where(F.col(conf_col) >= threshold).withColumn(
        "mode", F.lit("rule_based")
    )
    escalated = expensive(pass1.where(F.col(conf_col) < threshold)).withColumn(
        "mode", F.lit("escalated")
    )
    return kept.unionByName(escalated, allowMissingColumns=True)
