"""Uncertainty-driven sample selection + calibration (SURVEY.md §2.5 W1-W3,
§2.8 F27-F29, §2.4 A13-A15).

The reference's active-learning scorer (src/ai_models/active_learning.py:
96-143) ranks samples by least-confidence / margin / entropy and takes a
budget; its calibrator computes a 10-bin Expected Calibration Error
(src/ai_models/confidence.py:461-488). All native columns; the rational
variants (margin, least-confidence, Gini impurity, ECE) are
oracle-checkable; entropy (transcendental ln) is checked rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import rnd


def least_confidence(probs: Column) -> Column:
    """F27: 1 − max(p) (active_learning.py:96-98)."""
    return 1.0 - F.array_max(probs)


def margin(probs: Column) -> Column:
    """F28/W2: 1 − (p₁ − p₂) over the sorted probabilities
    (active_learning.py:100-104)."""
    s = F.sort_array(probs, asc=False)
    return 1.0 - (F.element_at(s, 1) - F.element_at(s, 2))


def entropy(probs: Column) -> Column:
    """F28: −Σ p·ln(p+1e-10) / ln(n), normalized
    (active_learning.py:106-111)."""
    raw = F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc - p * F.log(p + 1e-10)
    )
    return raw / F.log(F.size(probs).cast("double"))


def gini_impurity(probs: Column) -> Column:
    """Rational uncertainty proxy: 1 − Σ p² (oracle-checkable, unlike
    entropy's transcendental ln)."""
    return 1.0 - F.aggregate(probs, F.lit(0.0), lambda acc, p: acc + p * p)


def combined_uncertainty(probs: Column) -> Column:
    """F29: 0.4·least_conf + 0.3·margin + 0.3·gini
    (active_learning.py:113-118 uses entropy as the third term; the engine
    substitutes Gini so the full score stays engine-exact)."""
    return rnd(
        0.4 * least_confidence(probs) + 0.3 * margin(probs) + 0.3 * gini_impurity(probs),
        6,
    )


def top_k_uncertain(df: DataFrame, score_col: str, id_col: str, k: int) -> DataFrame:
    """W1/O1: global budget selection with deterministic tiebreak
    (active_learning.py:120-143). orderBy+limit compiles to
    TakeOrderedAndProject — no full sort at scale."""
    return df.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)


def stratified_top_k(
    df: DataFrame, score_col: str, id_col: str, stratum_col: str, k: int
) -> DataFrame:
    """W1 per-stratum variant / W3 rank-per-group
    (active_learning.py:179-191)."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ece_bins(df: DataFrame, conf_col: str, correct_col: str) -> DataFrame:
    """A15 (confidence.py:461-488): 10 equal-width confidence bins →
    (bin, n, avg_conf, avg_acc). The reliability diagram is this table."""
    binned = df.withColumn(
        "bin", F.least(F.floor(F.col(conf_col) * 10), F.lit(9)).cast("int")
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        rnd(F.avg(F.col(conf_col)), 6).alias("avg_conf"),
        rnd(F.avg(F.col(correct_col).cast("double")), 6).alias("avg_acc"),
    )


def ece(df: DataFrame, conf_col: str, correct_col: str) -> DataFrame:
    """Scalar ECE: Σ (nᵢ/N)·|accᵢ − confᵢ| over the bins. N is derived from
    the bins aggregate itself (Σnᵢ) — no separate count() job."""
    bins = ece_bins(df, conf_col, correct_col)
    return bins.agg(
        rnd(
            F.sum(F.col("n") * F.abs(F.col("avg_acc") - F.col("avg_conf")))
            / F.sum("n"),
            6,
        ).alias("ece")
    )


def exact_value_quantiles(
    df: DataFrame,
    by_col: str,
    value_col: str,
) -> DataFrame:
    """EXACT per-group quantiles of an integer-domain column via the
    value-histogram cumsum — the skew-proof exact alternative to
    approx_percentile (whose error bound is engine-specific and thus
    never oracle-checkable). Shape: groupBy (group, value) with map-side
    combine collapses the corpus to distinct-value rows (bounded by the
    VALUE DOMAIN, not the corpus), the cumulative window runs over those
    tiny rows only, and each quantile is the smallest value whose
    cumulative count reaches ceil(q·n) (type-1 / lower inclusive-rank —
    deterministic under ties by construction). A naive per-group rank
    window would sort corpus-cardinality rows on |groups| tasks.
    Output: (by_col, n_docs, p50, p90, p99). NULL values are excluded up
    front — quantiles are defined over present values only (an ascending
    Spark window sorts NULLS FIRST while DuckDB defaults NULLS LAST, so
    letting NULLs in would both inflate low quantiles and diverge from
    any SQL oracle)."""
    from pyspark.sql import Window

    h = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(by_col, value_col)
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wcum = (
        Window.partitionBy(by_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(by_col)
    cum = h.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )

    def pick(q: float):
        return (
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col(value_col),
                )
            )
            .cast("bigint")
            .alias(f"p{int(round(q * 100))}")
        )

    return cum.groupBy(by_col).agg(
        F.max("n").cast("bigint").alias("n_docs"),
        *[pick(q) for q in (0.5, 0.9, 0.99)],
    )
