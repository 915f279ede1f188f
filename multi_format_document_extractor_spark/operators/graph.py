"""Host-graph analytics over extracted outlinks (engine extension).

The reference ends at per-document extraction; a crawl pipeline also ranks
what to crawl/keep next. ``host_pagerank`` runs a fixed-iteration PageRank
over the (src_host, dst_host, n_links) edge table that
``functions/webtext.outlink_hosts`` produces — the standard
crawl-prioritization / domain-authority signal (OPIC/Common-Crawl-style
host ranking).

Determinism across engines (the same trick as
``operators/similarity.quantize_vec``): floating-point SUMS are the only
order-dependent step in PageRank, so each edge contribution is quantized
to a multiple of 1/2²⁰ BEFORE the per-host sum — sums of bounded binary
fractions are exactly representable, so ANY summation order (Spark's
partial-aggregation tree, DuckDB's serial loop) yields the bit-identical
total. Every other step is a single-op IEEE chain on identical operands
(multiply, divide, add), which is deterministic by construction. The
DuckDB oracle unrolls the same iterations as chained CTEs and matches on
the value hash.

Scale notes: the HOST graph is ~10⁶× smaller than the page corpus (the
expensive part — edge extraction — is the one-Exchange ``outlink_graph``
aggregation). Iteration state is graph-sized: ranks broadcast into the
edge join; per-iteration shuffle is one groupBy(dst) over edge
contributions, map-side combined. Edges are localCheckpoint-materialized
once so the iterative plan does not re-derive them per round (same
bounded-lineage treatment as ``operators/dedup.connected_components``).
Dangling hosts (no outlinks) simply leak their mass — the standard
simplified formulation; ranks stay a sub-stochastic fixed point, which is
fine for ORDERING hosts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import rnd

_Q = 1048576.0  # 2^20 — binary quantum for order-independent sums


def _q20(c: Column) -> Column:
    """Quantize to a multiple of 1/2²⁰ (exactly-representable binary
    fraction → any-order summation is exact)."""
    return F.floor(c * _Q + 0.5) / _Q


def host_pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over a (src_host, dst_host, n_links) host edge
    list, ``n_iter`` fixed Jacobi iterations from the uniform start:
    r₀ = 1/N,
    rₖ₊₁(h) = (1−d)/N + d·Σ_{s→h} q₂₀(rₖ(s)·w(s,h)/out(s)).

    Returns (host, rank) with rank rounded to 6 dp (the rounding
    contract). Runs two graph-sized driver actions (the host count and
    the edge checkpoint) — legitimate for an iterative operator, same
    class as connected_components' convergence scalars."""
    e = edges.select(
        F.col("src_host").alias("_src"),
        F.col("dst_host").alias("_dst"),
        F.col("n_links").cast("bigint").alias("_w"),
    ).localCheckpoint(eager=True)
    hosts = (
        e.select(F.col("_src").alias("host"))
        .unionAll(e.select(F.col("_dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = hosts.count()
    if n == 0:
        raise ValueError("host_pagerank: empty edge set")
    ow = e.groupBy("_src").agg(F.sum("_w").cast("bigint").alias("_ow"))
    base = (1.0 - damping) / float(n)
    ranks = hosts.select("host", (F.lit(1.0) / float(n)).alias("rank"))
    for _ in range(n_iter):
        # no broadcast hint on the |hosts|-sized rank/out-weight tables:
        # at 10^8+ hosts a forced broadcast is a multi-GB ship per
        # iteration (the drop_near_dups class) — AQE picks a broadcast
        # only when the runtime size is genuinely small, else a plain
        # shuffle join on _src co-locates all three per-host tables
        contrib = (
            e.join(ranks.withColumnRenamed("host", "_src"), "_src")
            .join(ow, "_src")
            .select(
                F.col("_dst").alias("host"),
                _q20(
                    F.col("rank") * F.col("_w") / F.col("_ow")
                ).alias("_c"),
            )
        )
        sums = contrib.groupBy("host").agg(F.sum("_c").alias("_s"))
        ranks = hosts.join(sums, "host", "left").select(
            "host",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("host", rnd(F.col("rank"), 6).alias("rank"))
