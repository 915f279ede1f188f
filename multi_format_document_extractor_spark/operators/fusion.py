"""Ensemble fusion (SURVEY.md §2.4 A7-A10, §2.3 J2).

The reference merges per-field predictions from N models with three
strategies (src/ai_models/ensemble.py:157-343): majority vote, highest
confidence, weighted vote. Relationally each is a groupBy over a long
predictions table (key, model, field, value, conf, weight) — the idiomatic
form of "full outer join N prediction sets then argmax". Tiebreaks are
explicit (value ascending) so results are engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import rnd


def _pick_first(scored: DataFrame, key_cols: list[str], order) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def majority_vote(preds: DataFrame, key: str = "key") -> DataFrame:
    """A7 (ensemble.py:296-343): winner = most votes; confidence = votes/N;
    ties broken by value ascending."""
    votes = preds.groupBy(key, "field", "value").agg(F.count("*").alias("votes"))
    totals = preds.groupBy(key, "field").agg(F.count("*").alias("n_preds"))
    winner = _pick_first(
        votes, [key, "field"], [F.col("votes").desc(), F.col("value").asc()]
    )
    return winner.join(totals, [key, "field"]).select(
        key,
        "field",
        "value",
        "votes",
        rnd(F.col("votes") / F.col("n_preds"), 4).alias("vote_conf"),
    )


def max_confidence(preds: DataFrame, key: str = "key") -> DataFrame:
    """A8 (ensemble.py:249-294): value from the most-confident model."""
    return _pick_first(
        preds.select(key, "field", "value", "conf"),
        [key, "field"],
        [F.col("conf").desc(), F.col("value").asc()],
    )


def weighted_vote(preds: DataFrame, key: str = "key") -> DataFrame:
    """A9 (ensemble.py:191-247): per value Σ weight·conf, argmax."""
    scored = preds.groupBy(key, "field", "value").agg(
        rnd(F.sum(F.col("weight") * F.col("conf")), 6).alias("score")
    )
    return _pick_first(
        scored, [key, "field"], [F.col("score").desc(), F.col("value").asc()]
    )


def apply_corrections(
    review: DataFrame,
    corrections: DataFrame,
    key: str = "key",
) -> DataFrame:
    """J3: MERGE-INTO semantics over the review table.

    Reference: ``receive_correction`` (src/ai_models/active_learning.py:
    308-360) — a human correction replaces the predicted field value, the
    sample leaves the pending queue, and the corrected value carries full
    (human) confidence plus annotator lineage.

    Relational form: ``review(key, field, value, conf)`` LEFT JOIN
    ``corrections(key, field, corrected_value, annotator_id)``;
    WHEN MATCHED → corrected value, conf 1.0, corrected flag set;
    WHEN NOT MATCHED → prediction unchanged. SQL MERGE errors on multiple
    matches; here conflicting corrections for one (key, field) — two
    annotators disagreeing — resolve DETERMINISTICALLY to one winner
    (lowest corrected_value, then annotator_id) so the review table's
    cardinality is preserved instead of fanning out. Scale: corrections
    are human-annotation-scale (a review queue, never the corpus), so the
    join broadcasts the corrections side — the big review table is not
    shuffled.
    """
    c = F.broadcast(
        _pick_first(
            corrections.select(key, "field", "corrected_value", "annotator_id"),
            [key, "field"],
            [F.col("corrected_value").asc(), F.col("annotator_id").asc()],
        )
    )
    matched = F.col("corrected_value").isNotNull()
    return (
        review.join(c, [key, "field"], "left")
        .select(
            key,
            "field",
            F.coalesce("corrected_value", "value").alias("value"),
            F.when(matched, F.lit(1.0)).otherwise(F.col("conf")).alias("conf"),
            matched.cast("int").alias("corrected"),
            "annotator_id",
        )
    )
