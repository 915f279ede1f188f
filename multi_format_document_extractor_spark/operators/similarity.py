"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the correctness baseline; a sign-bit LSH
bucketed variant as the scale path (candidate generation shrinks the
pairwise space from O(n·m) to per-bucket). Dot products run as native
``F.aggregate`` folds (JVM-side higher-order functions — no Python).

Scale notes: at 100 TB the brute-force path broadcast-joins a small query
set against the corpus (one scan, no shuffle); the LSH path shuffles once
on the bucket key (hot buckets capped BEFORE the self-join — see
``lsh_ann_pairs``); the IVF path inlines the K centroids as a literal
array and folds per row (``F.aggregate`` argmax — zero row explosion,
zero Exchange), then searches only the query's cell — candidate count
drops by ~K with one equi-join on the cell id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import rnd


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right fold (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    """SQL mirror of ``dot`` over two 64-element list expressions, summed
    left to right like the fold."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query over (vec_id, embedding) vectors and
    (query_id, query_vec) queries: broadcast the (small) query set against
    the corpus — a single scan with no shuffle of the big side; the top-k is
    a per-query window (TakeOrdered under AQE). Deterministic tiebreak on id."""
    joined = vectors.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col("query_id"),
        F.col("vec_id"),
        rnd(cosine(F.col("embedding"), F.col("query_vec")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_dims(n_bits: int, dim: int = 64) -> tuple[int, ...]:
    """Evenly spread 1-indexed probe dimensions for ``sign_lsh_bucket``.
    ``n_bits`` is the scale dial: 2^n_bits buckets, so the within-bucket
    self-join cost is O(n²/2^n_bits) — size it to the corpus (e.g. 20
    bits ⇒ ~10⁶ buckets keeps 10⁹ vectors at ~10³/bucket)."""
    if not 1 <= n_bits <= dim:
        raise ValueError(f"n_bits must be in [1, {dim}], got {n_bits}")
    return tuple(1 + (i * dim) // n_bits for i in range(n_bits))


def sign_lsh_bucket(vec: Column, dims: tuple[int, ...] = lsh_dims(8)) -> Column:
    """Coordinate-sign LSH: one bit per probed dimension (1-indexed).
    Deterministic, engine-portable; a production variant would use seeded
    random hyperplanes (same plan shape, literal hyperplanes inlined).
    Bucket-count dial: pass ``dims=lsh_dims(n_bits, dim)``; capped at 31
    bits because the bucket key is a 32-bit int (2³¹ buckets already puts
    10¹² vectors at ~500/bucket — beyond that, band multiple 31-bit keys
    like MinHash rather than widening one key)."""
    if len(dims) > 31:
        raise ValueError(
            f"sign_lsh_bucket supports at most 31 probe bits (int bucket "
            f"key), got {len(dims)}"
        )
    bucket = F.lit(0)
    for i, d in enumerate(dims):
        bucket = bucket + F.when(
            F.element_at(vec, d) >= 0, F.lit(1 << i)
        ).otherwise(0)
    return bucket.cast("int")


def sign_lsh_bucket_sql(col: str) -> str:
    """SQL mirror of ``sign_lsh_bucket`` at its default ``lsh_dims(8)``."""
    return (
        "("
        + " + ".join(
            f"CASE WHEN CAST({col}[{d}] AS DOUBLE) >= 0 THEN {1 << i} ELSE 0 END"
            for i, d in enumerate(lsh_dims(8))
        )
        + ")"
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_best: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_best`` nearest centroids by
    dot-product rank (IVF coarse quantizer; n_best=1 is the storage
    assignment, n_best=nprobe is the query-side probe set). ``centroids``
    is (cell, cv).

    Map-side only, by construction: the K centroids are collected to the
    driver (a K-row action — the literal-inlining analog of a broadcast,
    and the same cost class) and inlined as one literal
    ``array<struct<cell,cv>>``; each corpus row folds over that array with
    ``F.transform`` + ``array_sort`` (pure codegen). No crossJoin row
    explosion, no ``Window.partitionBy(id)``, and therefore NO Exchange of
    the corpus — the round-2 version's K×n explode + per-id window forced
    an ``Exchange hashpartitioning(vec_id)`` that would shuffle K× the
    corpus (each row carrying the full vector) at 10¹² docs. Absence of
    that Exchange is pinned in tests/test_plans.py.

    The tiebreak (score desc, cell asc) matches the previous window
    ordering, so assignment stays reproducible across engines. Output:
    vectors + ``cell`` (one row per kept cell; nprobe>1 explodes the
    probe slice map-side — a Generate node, still no Exchange)."""
    cents = sorted(
        centroids.select("cell", "cv").collect(),
        key=lambda r: r["cell"],
    )
    if not cents:
        raise ValueError("ivf_assign: empty centroid set")
    lit_cents = F.array(
        *[
            F.struct(
                F.lit(int(r["cell"])).alias("cell"),
                F.array(*[F.lit(float(x)) for x in r["cv"]]).alias("cv"),
            )
            for r in cents
        ]
    )
    # score desc == neg-score asc; struct comparison falls through to the
    # cell id on ties, matching the old window's deterministic tiebreak
    ranked = F.array_sort(
        F.transform(
            lit_cents,
            lambda c: F.struct(
                (-dot(F.col(vec_col), c["cv"])).alias("_neg"),
                c["cell"].alias("cell"),
            ),
        )
    )
    probe = F.transform(
        F.slice(ranked, 1, n_best), lambda s: s["cell"]
    )
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(probe).alias("cell"),
    )


def quantize_vec(vec: Column) -> Column:
    """Snap every coordinate to a multiple of 1/1024. This is what makes
    distributed k-means EXACTLY reproducible: sums of doubles are
    order-dependent in general (each add can round), but sums of
    fixed-point values k/1024 with |k| bounded stay exactly
    representable, so ANY summation order — Spark's partial aggregation
    tree, DuckDB's serial loop — yields the bit-identical total, and
    avg = exact_sum / n is then a single deterministic IEEE division.
    The quantization error (≤ 2⁻¹¹ per coordinate) is far below any
    embedding model's noise floor. Uses the repo's portable rounding
    contract (floor(x·s + 0.5)/s — functions/rounding.py) with the
    power-of-two s = 1024, because ONLY a binary scale makes the quantized
    values exactly representable (k/1000 is not a binary fraction)."""
    return F.transform(vec, lambda x: F.floor(x * 1024.0 + 0.5) / F.lit(1024.0))


def kmeans_centroids(
    vectors: DataFrame,
    init_centroids: DataFrame,
    n_iter: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Lloyd's k-means refinement of an IVF coarse quantizer, Spark-shaped:

    - **Assignment is map-side** (``ivf_assign``'s literal-centroid fold —
      zero Exchange of the corpus, the round-2 fix applied to training
      too).
    - **Update is one partial aggregation**: ``groupBy(cell)`` with one
      ``avg`` per dimension — map-side combine reduces each partition to
      ≤K rows before the (tiny) shuffle; no row explosion, no vector-wide
      shuffle. At 10¹² vectors each iteration moves K×dim doubles per
      partition, nothing else.
    - **Deterministic across engines**: inputs must be quantized
      (``quantize_vec``) so per-cell sums are exact in any order; empty
      cells keep their previous centroid. Centroid coordinates are
      re-quantized after each update so the next iteration's dot products
      are exact too.

    Returns (cell, cv) like the input. ``init_centroids`` seeds determine
    everything — no RNG anywhere (reference analog: the deterministic
    document-characteristics clustering the model router's config implies,
    done as data instead of a learned network)."""
    cents = init_centroids.select(
        F.col("cell"), quantize_vec(F.col("cv")).alias("cv")
    )
    for _ in range(n_iter):
        assigned = ivf_assign(vectors, cents, n_best=1)
        means = assigned.groupBy("cell").agg(
            *[
                F.avg(F.element_at(F.col("embedding"), d)).alias(f"m{d}")
                for d in range(1, dim + 1)
            ]
        )
        new = means.select(
            "cell",
            quantize_vec(
                F.array(*[F.col(f"m{d}") for d in range(1, dim + 1)])
            ).alias("cv"),
        )
        # empty cells fall back to their previous centroid (deterministic)
        prev = cents.select("cell", F.col("cv").alias("_prev"))
        cents = (
            prev.join(new, "cell", "left")
            .select("cell", F.coalesce(F.col("cv"), F.col("_prev")).alias("cv"))
        )
    return cents


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: score cosine only inside the query's
    ``nprobe`` nearest centroid cells. Same output shape as
    brute_force_topk; recall < 1.0 by construction — the exactness
    baseline quantifies it, and recall rises monotonically with nprobe
    (each probe adds a disjoint candidate cell; candidates stay unique
    because every corpus vector lives in exactly one cell). Candidate
    cost scales as nprobe/K of the corpus — the standard IVF
    recall-vs-cost dial."""
    cand = ivf_assign(vectors, centroids)
    qcells = ivf_assign(
        queries,
        centroids,
        id_col="query_id",
        vec_col="query_vec",
        n_best=nprobe,
    )
    joined = cand.join(
        F.broadcast(qcells.select("query_id", "cell", F.col("query_vec"))),
        "cell",
    )
    scored = joined.select(
        F.col("query_id"),
        F.col("vec_id"),
        rnd(cosine(F.col("embedding"), F.col("query_vec")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def semdedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    max_cell: int | None = None,
) -> DataFrame:
    """Semantic deduplication over embeddings (SemDeDup, Abbas et al.
    2023, arXiv:2303.09540): cluster the corpus with a coarse quantizer,
    compare cosines only WITHIN each cluster, and among any pair above
    ``threshold`` keep the member FARTHEST from its cluster centroid —
    the paper's keep-the-atypical policy (near-dup groups collapse to
    their least-redundant representative, which preserves diversity
    better than keep-first).

    Deterministic parallel reading of the paper's sequential scan: a row
    x is dropped iff some same-cell partner y has rnd(cos(x,y),4) ≥
    threshold and y is strictly farther from the centroid (rounded
    centroid-sim, ties to the smaller id). Exactly one member of an
    isolated dup pair survives; chains collapse toward the farthest
    member. Every comparison happens on contract-rounded values, so the
    DuckDB oracle agrees bit-for-bit.

    Scale shape: assignment is the map-side literal-centroid fold
    (``ivf_assign`` — zero Exchange), centroid-sim adds one broadcast
    join against the K-row centroid set, and the corpus is exchanged
    EXACTLY ONCE — an explicit ``repartition(cell)`` whose shuffle
    stage is shared by the hot-cell cap aggregation and both sides of
    the within-cell self-join (AQE exchange reuse). The kept verdict is
    folded INTO the pair aggregation instead of a join-back: the self-
    join keeps self-pairs, so every surviving row appears in the pair
    stream and ``kept = ¬ any(dropping partner)`` is one groupBy on
    (cell, id) that the cell partitioning already satisfies — no
    corpus-scale verdict Exchange at all (a join-back would re-shuffle
    the corpus by id: requireAllClusterKeysForCoPartition defeats
    subset co-partitioning for joins, but plain ClusteredDistribution
    satisfaction still holds for aggregations). Pair count is O(n²/K),
    the paper's own cost model (they size K ~ n/10⁴; ``max_cell`` caps
    pathological cells exactly like ``lsh_ann_pairs``/
    ``candidate_pairs`` — but capped-out cells are NOT dropped: their
    rows skip the pairwise pass and come back ``kept=true``, a recall
    loss, never a data loss — a dedup verdict that silently deleted an
    entire hot cell from the corpus would be corruption, not capping).
    Single-corpus-Exchange shape pinned in
    tests/test_plans.py. Returns (id, cell, c_sim, kept) for the full
    input — the kept flag is the dedup verdict."""
    a = ivf_assign(vectors, centroids)
    withsim = (
        a.join(F.broadcast(centroids.select("cell", "cv")), "cell")
        .select(
            F.col("vec_id"),
            F.col("embedding"),
            F.col("cell"),
            rnd(cosine(F.col("embedding"), F.col("cv")), 4).alias("c_sim"),
            # row norm computed ONCE and carried through the self-join:
            # the pair cosine then costs one dot fold instead of three
            # (norm(x) per pair is the identical IEEE value, so rounding
            # and the oracle are unaffected)
            norm(F.col("embedding")).alias("_nrm"),
        )
        # the ONE corpus shuffle; every consumer below reuses it
        .repartition(F.col("cell"))
    )
    skipped = None
    if max_cell is not None:
        counts = withsim.groupBy("cell").agg(F.count("*").alias("_n"))
        skipped = (
            withsim.join(
                counts.where(F.col("_n") > max_cell).select("cell"),
                "cell",
                "left_semi",
            )
            .select(
                F.col("vec_id"), "cell", "c_sim", F.lit(True).alias("kept")
            )
        )
        withsim = withsim.join(
            counts.where(F.col("_n") <= max_cell).select("cell"),
            "cell",
            "left_semi",
        )
    l = withsim.select(
        F.col("cell"),
        F.col("vec_id").alias("_xa"),
        F.col("embedding").alias("_va"),
        F.col("c_sim").alias("_ca"),
        F.col("_nrm").alias("_na"),
    )
    r = withsim.select(
        F.col("cell"),
        F.col("vec_id").alias("_xb"),
        F.col("embedding").alias("_vb"),
        F.col("c_sim").alias("_cb"),
        F.col("_nrm").alias("_nb"),
    )
    # pair cosine = one dot fold + the two carried norms (an unrolled
    # element_at chain was A/B-timed interleaved and LOST to the fold,
    # 7.7 s vs 4.5 s at sf0.1 — per-element array accessors cost more
    # than the fold's single zip_with pass despite codegen)
    pair_cos = dot(F.col("_va"), F.col("_vb")) / (
        F.col("_na") * F.col("_nb")
    )
    dropping = (
        (F.col("_xa") != F.col("_xb"))
        & (rnd(pair_cos, 4) >= threshold)
        & (
            (F.col("_cb") < F.col("_ca"))
            | ((F.col("_cb") == F.col("_ca")) & (F.col("_xb") < F.col("_xa")))
        )
    )
    # self-pairs (xa == xb, dropping=false) guarantee every surviving row
    # reaches the aggregation, so no join-back is needed for the verdict
    out = (
        l.join(r, "cell")
        .groupBy(
            F.col("cell"),
            F.col("_xa").alias("vec_id"),
            F.col("_ca").alias("c_sim"),
        )
        .agg((~F.max(dropping)).alias("kept"))
        .select(F.col("vec_id"), "cell", "c_sim", "kept")
    )
    if skipped is not None:
        out = out.unionByName(skipped.select("vec_id", "cell", "c_sim", "kept"))
    return out


# --- Product quantization (compressed ANN) ---------------------------------

PQ_M = 16  # subspaces
PQ_KSUB = 32  # centroids per subspace (5-bit codes)
PQ_DSUB = 4  # dims per subspace (PQ_M * PQ_DSUB = embedding dim 64)


def pq_codebook_val(i: int, j: int, p: int) -> float:
    """Deterministic placeholder codebook entry for subspace ``i``,
    centroid ``j``, coordinate ``p``: exact binary fractions in
    [-0.25, 0.25] (the synthetic embedding corpus's coordinate range),
    so the identical literal exists on both engines. A TRAINED codebook
    (per-subspace ``kmeans_centroids`` over ``F.slice``d subvectors, the
    same deterministic Lloyd machinery the IVF quantizer uses) drops in
    as data; every plan shape below is unchanged."""
    return (((j * (p + 2) + i) % 17) - 8) / 32.0


def pq_codebooks() -> list[list[list[float]]]:
    return [
        [[pq_codebook_val(i, j, p) for p in range(PQ_DSUB)] for j in range(PQ_KSUB)]
        for i in range(PQ_M)
    ]


def pq_code_table(
    vectors: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """(vec_id, code_key, recon, recon_err) via ONE Arrow-vectorized
    ``mapInPandas`` stage — the PQ encode/decode kernel.

    Why not native expressions: the M×ksub×dsub distance grid is ~10⁴
    scalar ops per row. Spelled as higher-order-function folds it runs
    interpreted (lambdas don't codegen) at ~ms/row; fully unrolled as
    literal expression trees it blows janino's 64 KB method cap in the
    fused whole-stage (Project feeds the downstream sort as locals, which
    codegen cannot split into sub-methods), and Spark silently drops the
    WHOLE stage to interpreted execution with an ERROR in every executor
    log — measured, not theorized. A batch numpy kernel over Arrow is the
    engine's prescribed shape for exactly this case (dense numeric math
    the built-ins can't express efficiently): one scan, no Exchange, no
    per-row Python dispatch.

    Cross-engine exactness is preserved op-for-op: numpy float64 IS
    IEEE-754 binary64, the squared-distance accumulation is an explicit
    left-associated loop matching the oracle SQL's ``+`` chain, argmin
    takes the FIRST minimum (== ``ORDER BY dist, j`` tiebreak), and
    recon_err applies the repo rounding contract (floor(x·10⁴+0.5)/10⁴)
    with the same single-op sequence. Hash-checked end-to-end by the
    ``pq_encode``/``pq_adc_topk`` oracles."""
    import numpy as np
    import pandas as pd

    cbn = np.asarray(codebooks or pq_codebooks(), dtype=np.float64)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "vec_id": pd.Series([], dtype="int64"),
                        "code_key": pd.Series([], dtype="object"),
                        "recon": pd.Series([], dtype="object"),
                        "recon_err": pd.Series([], dtype="float64"),
                    }
                )
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            codes = np.empty((n, PQ_M), dtype=np.int64)
            recon = np.empty((n, PQ_M * PQ_DSUB), dtype=np.float64)
            err = None
            rows = np.arange(n)
            for i in range(PQ_M):
                xs = x[:, i * PQ_DSUB : (i + 1) * PQ_DSUB]
                diff = xs[:, None, :] - cbn[i][None, :, :]
                sq = diff * diff
                # explicit left-associated accumulation — the oracle's
                # `(a1-b1)*(a1-b1) + (a2-b2)*(a2-b2) + ...` chain
                d = sq[:, :, 0]
                for p in range(1, PQ_DSUB):
                    d = d + sq[:, :, p]
                j = d.argmin(axis=1)  # first min == (dist, j) tiebreak
                codes[:, i] = j
                recon[:, i * PQ_DSUB : (i + 1) * PQ_DSUB] = cbn[i][j]
                best = d[rows, j]
                err = best if err is None else err + best
            rerr = np.floor(np.sqrt(err) * 10000.0 + 0.5) / 10000.0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "code_key": [
                        "-".join(str(int(c)) for c in row) for row in codes
                    ],
                    "recon": list(recon),
                    "recon_err": rerr,
                }
            )

    return vectors.select("vec_id", "embedding").mapInPandas(
        gen,
        schema=(
            "vec_id bigint, code_key string, "
            "recon array<double>, recon_err double"
        ),
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization encode: each vector compresses to M codes
    (here 16×5 bits vs 64×4-byte floats — a 25.6× storage cut;
    production m=8-16 / ksub=256 is the same shape at 8-16
    bytes/vector). Output:
    (vec_id, code_key, recon_err) where recon_err = ‖vec − decode(codes)‖ —
    the quantization-quality column a corpus owner monitors. Map-side
    only: one scan → one Arrow-vectorized stage (``pq_code_table``), no
    Exchange (plan-pinned). ``codebooks`` (M × ksub × dsub) injects a
    data-derived or trained codebook; default is the formula grid."""
    return pq_code_table(vectors, codebooks).select(
        "vec_id", "code_key", "recon_err"
    )


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the corpus side is
    scored through its RECONSTRUCTION (decode codes → centroid concat),
    the query side stays exact — the standard ADC trade (Jégou et al.,
    PAMI 2011). Composed here as encode→decode→cosine in one scan so
    the oracle can check it end-to-end; a production run stores the
    codes table (pq_encode output) and scans 25.6× fewer bytes — the
    decode projection and broadcast-query join are identical. Plan shape =
    ``brute_force_topk``: no corpus shuffle, one slim
    (query_id, vec_id, score) exchange into the per-query
    WindowGroupLimit."""
    coded = pq_code_table(vectors, codebooks).select("vec_id", "recon")
    joined = coded.crossJoin(F.broadcast(queries))
    qv = F.col("query_vec")
    # the fold's left-associated g=1..dim chain matches the oracle SQL's
    # spelled-out `recon[g]*qv[g] + ...` chains term for term (same
    # contract as ann_topk's cosine)
    score = cosine(F.col("recon"), qv)
    scored = joined.select(
        F.col("query_id"),
        F.col("vec_id"),
        rnd(score, 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def lsh_ann_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    dims: tuple[int, ...] = lsh_dims(8),
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate near-neighbor (a, b, score) pairs of (vec_id,
    embedding) vectors: bucket by sign-LSH, score cosine only within
    buckets. One shuffle on the bucket key.

    Two scale dials (both required at corpus scale — the round-2 fixed
    8-bit/256-bucket version was O(n²/256) within buckets, ~10¹⁶ candidate
    pairs at 10⁹ vectors):

    - ``dims`` sets the bucket count (2^len(dims) buckets; use
      ``lsh_dims(n_bits)`` sized so n/2^n_bits stays join-friendly).
    - ``max_bucket`` drops buckets holding more than that many vectors
      BEFORE the self-join — one degenerate bucket (zero vectors, a
      boilerplate embedding mass) would otherwise emit O(m²) rows. Dropped
      buckets lose recall for their members by design; exact-duplicate
      vectors inside them are still caught by exact dedup on the vector
      hash. Mirrors ``dedup.candidate_pairs(max_bucket=...)``."""
    b = vectors.select(
        F.col("vec_id"),
        F.col("embedding"),
        sign_lsh_bucket(F.col("embedding"), dims=dims).alias("bucket"),
    )
    if max_bucket is not None:
        ok = (
            b.groupBy("bucket")
            .agg(F.count("*").alias("_n"))
            .where((F.col("_n") > 1) & (F.col("_n") <= max_bucket))
            .select("bucket")
        )
        b = b.join(ok, "bucket", "left_semi")
    l = b.select(
        F.col("bucket"), F.col("vec_id").alias("a"), F.col("embedding").alias("va")
    )
    r = b.select(
        F.col("bucket"), F.col("vec_id").alias("b"), F.col("embedding").alias("vb")
    )
    return (
        l.join(r, "bucket")
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            rnd(cosine(F.col("va"), F.col("vb")), 4).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def pq_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Two-stage ANN: ADC over PQ codes produces a ``shortlist`` of
    candidates per query (cheap, compressed), then ONLY those candidates
    are re-scored with the exact cosine and the final top-k is taken —
    the standard production pattern (shortlist from the small codes
    table, exact re-rank as point-lookups into the float corpus). Lifts
    recall from the ADC ceiling (~0.5 at 16×32) to ~0.93 at
    shortlist=50 on the test corpus while touching only
    |queries|×shortlist raw vectors in stage 2. Plan shape: the
    shortlist is queries×k′ rows and BROADCASTS into the corpus scan
    (equi-join on id, no corpus shuffle); the only hash Exchanges are
    the two per-query windows — both over slim score rows."""
    cand = pq_adc_topk(
        vectors, queries, k=shortlist, codebooks=codebooks
    ).select("query_id", "vec_id")
    exact_in = vectors.join(F.broadcast(cand), "vec_id")
    joined = exact_in.join(
        F.broadcast(queries.select("query_id", "query_vec")),
        "query_id",
    )
    scored = joined.select(
        F.col("query_id"),
        F.col("vec_id"),
        rnd(cosine(F.col("embedding"), F.col("query_vec")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
