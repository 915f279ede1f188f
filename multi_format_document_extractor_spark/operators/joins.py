"""Temporal joins Spark lacks natively (engine extension).

``asof_join`` attaches to every left row the most recent right-side row
at-or-before its timestamp, per key — the classic point-in-time lookup
(event → latest account state, trade → last quote, page fetch → crawl
policy in force at fetch time). Spark has no ASOF JOIN operator; the
naive encodings are a range join (``l.ts >= r.ts`` non-equi condition →
BroadcastNestedLoop / O(n·m) per key) or a per-key ``max`` subquery +
re-join (two shuffles + a join). This implementation is the union-window
trick: tag both sides, union them, and run ONE window over (key, ts) —
``last(value, ignorenulls=True)`` carries the latest state forward into
each event row. Cost: a single hash Exchange on the key over the slim
tagged projection, no join node at all; at 10^12 rows this is the only
shape that survives (the range join never finishes, and AQE cannot save
a non-equi condition).

Determinism: ties at equal (key, ts) order the STATE row first (the
at-or-before contract is inclusive, matching DuckDB's
``ASOF JOIN ... ON l.ts >= r.ts`` exactly — the oracle for the registry
demo), and callers must hand in a right side unique per (key, ts) so
"latest" is well-defined (pre-aggregate otherwise, as the registry query
does).

Skew: the window partitions by the join key — one pathological key
serializes, the sessionize class. For keyed telemetry that is the
semantic unit and is acceptable; a keyless/global as-of would need range
partitioning on ts instead.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "_is_state"
_STS = "_state_ts"
_STATE = "_state"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    by_cols: Sequence[str] = ("user_id",),
    value_cols: Sequence[str] = ("state_value",),
) -> DataFrame:
    """For each ``left`` row, the latest ``right`` row with
    ``right.ts <= left.ts`` on the same ``by_cols`` key (inclusive ties).

    Returns all ``left`` columns plus ``value_cols`` (NULL when no state
    precedes the row) and ``state_ts`` (the matched state's
    timestamp, NULL likewise). ``right`` must be unique per
    (by, ts) — pre-aggregate if it is not.

    NULL handling matches ASOF semantics exactly: each state row rides
    the union as ONE non-null struct of (ts, values), so a state whose
    VALUE is NULL still wins as the latest state (its NULL value is
    returned — ``last(ignorenulls)`` per column would instead resurrect
    an older state's value under the newer state's timestamp, a chimera
    no single state row contains); states with a NULL timestamp are
    dropped up front (``l.ts >= NULL`` never matches), and a left row
    with NULL ts matches nothing (NULLS FIRST puts it before every
    state)."""
    by = list(by_cols)
    vals = list(value_cols)
    # internal scaffolding names must not collide with caller columns —
    # a left frame already carrying e.g. ``_carried`` would silently
    # produce ambiguous/duplicate columns instead of an error (ADVICE r3)
    reserved = {_TAG, _STS, _STATE, "_carried"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"asof_join reserves internal column names {sorted(reserved)}; "
            f"rename the colliding input columns: {sorted(clash)}"
        )
    state_struct = F.struct(
        F.col(ts_col).alias(_STS),
        *[F.col(v).alias(v) for v in vals],
    )
    r_tag = right.where(F.col(ts_col).isNotNull()).select(
        *[F.col(c) for c in by],
        F.col(ts_col),
        F.lit(1).alias(_TAG),
        state_struct.alias(_STATE),
    )
    struct_type = r_tag.schema[_STATE].dataType
    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(0).alias(_TAG),
        F.lit(None).cast(struct_type).alias(_STATE),
    )
    # align schemas: left columns absent on the right become NULL
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(
                c, F.lit(None).cast(left.schema[c].dataType)
            )
    u = l_tag.unionByName(r_tag.select(*l_tag.columns))
    # state rows sort BEFORE event rows at equal ts (desc on the tag), so
    # a state stamped exactly at the event time is visible to it
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(ts_col).asc(), F.col(_TAG).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *[F.col(c) for c in left.columns],
        F.col(_TAG),
        F.last(F.col(_STATE), ignorenulls=True).over(w).alias("_carried"),
    )
    return (
        carried.where(F.col(_TAG) == 0)
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col("_carried")[v].alias(v) for v in vals],
            F.col("_carried")[_STS].alias("state_ts"),
        )
    )


__all__ = ["asof_join"]
