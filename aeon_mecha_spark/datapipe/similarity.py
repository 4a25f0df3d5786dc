"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — exact, the correctness oracle for
any ANN variant. Scale path: LSH (random-hyperplane) bucketing so only
same-bucket pairs are scored; at 100 TB an IVF-style coarse quantizer
(k-means centroid assignment + centroid-pruned search) slots into the
same two-stage shape.

All distance math is Catalyst expressions (functions/vector.py) — JVM
codegen, no Python per pair.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from aeon_mecha_spark.functions.text import tokens
from aeon_mecha_spark.functions.vector import cosine, dot, l2_distance, norm
from aeon_mecha_spark.util import spread, track_cached


def _at_least(vec: Column, n: int, what: str) -> Column:
    """``vec`` unchanged, or a raised error on a row whose vector has fewer
    than ``n`` elements. The literal-array folds below pair the vector
    with ``zip_with``, which NULL-pads the shorter side, so a short vector
    would otherwise give a silently NULL distance. A NULL vector passes."""
    return F.when(
        vec.isNotNull() & (F.size(vec) < n),
        F.raise_error(F.lit(f"{what}: vector has fewer than {n} elements")),
    ).otherwise(vec)


def brute_force_knn(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    metric: str = "cosine",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k: broadcast the query set, score every corpus row,
    row_number per query. Returns (query_id, neighbor_id, score, rank).
    Pass ``dim`` when the embedding width is known: the distance math
    unrolls into codegen'd element_at arithmetic (same fold order, same
    floats) instead of interpreted higher-order exprs.

    Plan shape at scale: corpus is the big fact (never shuffled — scored
    in place), queries broadcast; the only shuffle is the per-query top-k,
    which AQE keeps tiny because scores are pre-filtered per partition by
    the window. Excludes self-matches.
    """
    # norms are precomputed per ROW, not per pair: higher-order array
    # exprs are interpreted (not codegen'd), so hoisting them out of the
    # pair space cuts the dominant cost ~3x. The arithmetic — and hence
    # the float result — is identical to dot/(|q||c|) per pair.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col), dim).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col), dim).alias("_cn"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    if metric == "cosine":
        # zero-norm guard: 0/0 would be NaN, and Spark sorts NaN ABOVE
        # every number — a zero vector would otherwise top every ranking
        score = F.when(
            (F.col("_qn") > 0) & (F.col("_cn") > 0),
            dot(F.col("_qv"), F.col("_cv"), dim) / (F.col("_qn") * F.col("_cn")),
        )
    elif metric == "dot":
        score = dot(F.col("_qv"), F.col("_cv"), dim)
    else:
        raise ValueError(metric)
    scored = scored.select("query_id", "neighbor_id", score.alias("score"))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string over ``planes``.
    Deterministic planes are passed in (seeded offline) so results are
    reproducible and oracle-checkable.

    Width contract: ``vec_col`` entries must be exactly as wide as the
    planes — the unrolled codegen dot product reads only the first
    ``len(planes[0])`` elements, so a wider vector would silently score
    a prefix. A plan-embedded ``assert_true`` enforces this at runtime
    (fails the job on the first mismatched row; one integer comparison
    per row, negligible next to the unrolled dot)."""
    if len({len(p) for p in planes}) != 1:
        raise ValueError("all LSH planes must have the same width")
    dim = len(planes[0])
    bits = []
    for p in planes:
        arr = F.array(*[F.lit(float(v)) for v in p])
        # dim is the plane's own length — callers pass vectors of the
        # same width, so the unrolled (codegen) path is always safe here
        bits.append(
            F.when(dot(F.col(vec_col), arr, len(p)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        )
    width_ok = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        F.concat(
            F.lit(f"LSH width contract: vectors must have exactly {dim} "
                  "elements (plane width); got "),
            F.size(F.col(vec_col)).cast("string"),
        ),
    )
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        # width_ok is NULL whenever the assert passes, so coalesce is a
        # no-op on the bucket string; a mismatched row raises instead
        F.coalesce(width_ok.cast("string"), F.concat(*bits)).alias("bucket"),
    )


def lsh_knn(
    vectors: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: score only same-bucket pairs. Self-join on the
    bucket key — collision-bounded work, AQE splits skewed buckets.
    Vectors must be the same width as the planes (the gates slice them
    so); that width drives the unrolled codegen distance path."""
    dim = len(planes[0])
    b = hyperplane_lsh_buckets(vectors, planes, id_col, vec_col).withColumn(
        "_n", norm(F.col(vec_col), dim)
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col(f"a.{id_col}") != F.col(f"c.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("query_id"),
        F.col(f"c.{id_col}").alias("neighbor_id"),
        F.when(
            (F.col("a._n") > 0) & (F.col("c._n") > 0),
            dot(F.col(f"a.{vec_col}"), F.col(f"c.{vec_col}"), dim)
            / (F.col("a._n") * F.col("c._n")),
        ).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_train(
    vectors: DataFrame,
    k: int,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means for IVF centroid training.

    Init: the k vectors with the smallest md5(id) — deterministic,
    shuffle-independent (no RNG, so resumable/reproducible). Each
    iteration is one Spark job: assign (Catalyst argmin) + groupBy-mean
    per cell; only the k centroids ever reach the driver.
    """
    from aeon_mecha_spark.functions.hashing import md5_long

    seeds = (
        vectors.select(vec_col, md5_long(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("kmeans_train: input has no vectors")
    if len(seeds) < k:
        raise ValueError(f"kmeans_train: k={k} but only {len(seeds)} vectors available")
    dim = len(seeds[0][vec_col])
    centroids = [list(map(float, r[vec_col])) for r in seeds]
    vectors = vectors.persist()  # iters passes over the same lineage
    try:
        for _ in range(iters):
            # bulk past the codegen-friendly range: bit-identical output
            # (same fold order, same tie rule), O(1) plan size — at
            # k=256 the per-column variant interpreted-evals AND bloats
            # every retained plan string (round-13 capstone lesson)
            assigned = (
                ivf_assign_bulk if len(centroids) > 32 else ivf_assign
            )(vectors, centroids, id_col, vec_col)
            means = (
                assigned.groupBy("cell")
                .agg(
                    *[
                        F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"m{i}")
                        for i in range(dim)
                    ]
                )
                .collect()
            )
            by_cell = {r["cell"]: [float(r[f"m{i}"]) for i in range(dim)] for r in means}
            centroids = [by_cell.get(i, centroids[i]) for i in range(len(centroids))]
    finally:
        vectors.unpersist()
    return centroids


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    (argmin L2) — the partitioning step of an IVF index. Centroids come
    from an offline k-means (deterministic input here); assignment is a
    pure Catalyst expression chain."""
    from aeon_mecha_spark.functions.vector import l2_distance

    n = len(centroids)
    # materialize each distance ONCE as a column — a chained when() would
    # nest every previous distance expression inside the next condition,
    # duplicating the (interpreted) array math exponentially
    dist_cols = []
    for i, c in enumerate(centroids):
        arr = F.array(*[F.lit(float(v)) for v in c])
        dist_cols.append(l2_distance(F.col(vec_col), arr, len(c)).alias(f"_d{i}"))
    withd = vectors.select(F.col(id_col), F.col(vec_col), *dist_cols)
    # argmin = array_min over (distance, cell) structs: lexicographic
    # struct ordering is first-wins on equal distance, identical to the
    # pairwise-comparison CASE chain this replaces — but the expression
    # is O(k), not O(k²). The chain blew past the 64 KB codegen method
    # limit around k≈32, dropping the whole assignment stage to
    # interpreted eval (~10× slower at k=32; measured on 8× probe data).
    amin = F.array_min(
        F.array(
            *[F.struct(F.col(f"_d{i}").alias("d"), F.lit(i).alias("c")) for i in range(n)]
        )
    )
    return withd.select(
        F.col(id_col), F.col(vec_col), amin["c"].cast("int").alias("cell")
    )


def ivf_probe_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Multi-probe coarse quantization: each vector's ``nprobe`` nearest
    cells as ``(id, vec, probe, cell)`` rows, probe 0 = the primary
    assignment (identical argmin + tie semantics to :func:`ivf_assign`:
    struct sort on (distance, cell) is first-wins on equal distance).
    One map-only pass — distances materialize once, a struct array sort
    over k entries picks the probe list, posexplode emits it."""
    n = len(centroids)
    if not 1 <= nprobe <= n:
        raise ValueError(f"nprobe={nprobe} out of range 1..{n}")
    dist_cols = [
        l2_distance(
            F.col(vec_col), F.array(*[F.lit(float(v)) for v in c]), len(c)
        ).alias(f"_d{i}")
        for i, c in enumerate(centroids)
    ]
    withd = vectors.select(F.col(id_col), F.col(vec_col), *dist_cols)
    arr = F.array(
        *[F.struct(F.col(f"_d{i}").alias("d"), F.lit(i).alias("c")) for i in range(n)]
    )
    probes = F.slice(F.array_sort(arr), 1, nprobe)
    return withd.select(
        F.col(id_col), F.col(vec_col), F.posexplode(probes).alias("probe", "_pc")
    ).select(
        id_col,
        vec_col,
        F.col("probe").cast("int").alias("probe"),
        F.col("_pc.c").cast("int").alias("cell"),
    )


def ivf_knn(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: score only pairs sharing a probed
    cell. ``nprobe=1`` is the classic same-cell search; ``nprobe>1``
    probes each query's nprobe nearest cells (recall rises, work scales
    ~linearly with nprobe — the standard IVF recall/latency knob).
    Corpus membership is always the PRIMARY cell, so each (query,
    neighbor) pair appears at most once and needs no dedup. At 100 TB
    the cell id becomes the table's partition column so a query touches
    one partition per probed cell — the same two-stage shape as a real
    IVF index."""
    # persist the assignment: it feeds BOTH sides of the cell self-join
    # and the k-way interpreted distance argmin is the dominant per-row
    # cost — without this the whole quantizer runs twice
    dim = len(centroids[0])
    if nprobe == 1:
        assigned = ivf_assign(vectors, centroids, id_col, vec_col).withColumn(
            "_n", norm(F.col(vec_col), dim)
        ).persist()
        a, c = assigned.alias("a"), assigned.alias("c")
    else:
        multi = ivf_probe_assign(
            vectors, centroids, id_col, vec_col, nprobe
        ).withColumn("_n", norm(F.col(vec_col), dim)).persist()
        assigned = multi
        a = multi.alias("a")
        c = multi.filter(F.col("probe") == 0).alias("c")
    pairs = a.join(
        c,
        (F.col("a.cell") == F.col("c.cell")) & (F.col(f"a.{id_col}") != F.col(f"c.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("query_id"),
        F.col(f"c.{id_col}").alias("neighbor_id"),
        F.when(
            (F.col("a._n") > 0) & (F.col("c._n") > 0),
            dot(F.col(f"a.{vec_col}"), F.col(f"c.{vec_col}"), dim)
            / (F.col("a._n") * F.col("c._n")),
        ).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    out = pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    # the persisted assignment rides along for explicit release once
    # the caller has consumed the result (util.release_cached)
    return track_cached(out, assigned)


def embedding_near_duplicates(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs above a threshold (ordered id_a < id_b).

    Exact all-pairs form — O(n²), the correctness ORACLE for the bucketed
    variant. The scale default is ``near_duplicates_lsh`` below: same
    output schema, but the pair space never materializes."""
    withn = vectors.withColumn("_n", norm(F.col(vec_col), dim))
    a, b = withn.alias("a"), withn.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.when(
                (F.col("a._n") > 0) & (F.col("b._n") > 0),
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"), dim)
                / (F.col("a._n") * F.col("b._n")),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def near_duplicates_lsh(
    vectors: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Scale-safe near-dup default: hyperplane-LSH bucket → same-bucket
    ordered pairs → cosine threshold.

    The self-join key is the bucket string, so the O(n²) pair space never
    materializes — work is collision-bounded per bucket and AQE splits
    skewed buckets. Same output schema as ``embedding_near_duplicates``
    (id_a < id_b, cos); that exact form is the oracle. Recall = the pairs
    whose sign bits agree on every plane; near-identical vectors (the
    near-dup regime) land in the same bucket with probability
    (1 − θ/π)^planes → 1 as cos → 1. Use more independent plane sets
    (union of bucketings) to raise recall at a fixed threshold.

    Width contract: vectors must be exactly ``len(planes[0])`` wide —
    the cosine here is computed over that width, and the bucketing step
    embeds a runtime ``assert_true`` that fails the job on any
    mismatched row (no silent prefix truncation).
    """
    dim = len(planes[0])
    b = hyperplane_lsh_buckets(vectors, planes, id_col, vec_col).withColumn(
        "_n", norm(F.col(vec_col), dim)
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.when(
                (F.col("a._n") > 0) & (F.col("b._n") > 0),
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"), dim)
                / (F.col("a._n") * F.col("b._n")),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup(
    vectors: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication, end to end: bucket the
    embeddings with hyperplane LSH, take same-bucket cosine pairs above
    ``threshold``, close them into duplicate clusters, and elect the
    minimum id of each cluster as its canonical representative.

    Output: one row per input vector — (id, canonical_id, is_dup) with
    ``is_dup`` = 1 for every non-canonical member of a duplicate cluster
    (the rows a curation pipeline drops). Vectors in no near-dup pair
    are their own canonical.

    Composition of scale-safe parts: ``near_duplicates_lsh`` (pair space
    never materializes) → ``dedup_clusters`` (O(component-diameter)
    min-label rounds) → one left join against the id universe. The only
    iterative state is the tiny (id, label) table.
    """
    from aeon_mecha_spark.datapipe.dedup import dedup_clusters

    pairs = near_duplicates_lsh(vectors, planes, id_col, vec_col, threshold)
    clusters = dedup_clusters(pairs.select("id_a", "id_b")).withColumnRenamed(
        "doc_id", id_col
    )
    return (
        vectors.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("canonical_id"),
        )
        .withColumn(
            "is_dup",
            F.when(F.col(id_col) != F.col("canonical_id"), 1).otherwise(0).cast("int"),
        )
    )


def group_centroids(
    emb: DataFrame,
    key_col: str = "label",
    vec_col: str = "embedding",
    dims: int = 8,
    scale: int = 6,
) -> DataFrame:
    """Per-group elementwise mean of the first ``dims`` vector components
    (cluster centroids / per-class prototypes).

    One hash-groupBy with map-side partials — each component sum runs in
    decimal(38, ``scale``) so partial aggregates combine exactly on any
    partitioning. The mean uses AVG semantics per component: divide by
    the count of NON-NULL components (ragged/short vectors and NaN/Inf
    components — both of which become NULL under the decimal cast — are
    excluded, matching ``kmeans_train``'s F.avg; a group with no valid
    component yields NULL). The decimal sum leaves decimal via the
    int-exact route (×10^scale → long → double, then IEEE divisions
    only), which is identically rounded in every engine — a direct
    decimal→double cast is not once the scaled integer passes 2^53.
    ``scale`` must be ≤ 6: Spark's decimal multiply clamps the result
    scale to min(scale, 6) when precision overflows 38, so larger scales
    would silently truncate the ×10^scale step. Validity bound: the
    int-exact route requires |component sum| · 10^scale < 2^63
    (|sum| < ~9.2e12 at scale=6). Beyond it, Spark's non-ANSI cast
    yields NULL for that component while an ANSI engine errors — for
    groups that large, lower ``scale`` (the sums need fewer fractional
    digits the bigger they get) or pre-aggregate per shard.

    The component extraction is a Catalyst element_at — no explode, so
    the shuffle carries dims partials per group, not dims rows per vector.
    """
    if scale > 6:
        raise ValueError(f"group_centroids: scale must be <= 6, got {scale}")
    arr = F.col(vec_col).cast("array<double>")
    aggs: list = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(dims):
        # try_element_at: NULL past the array end (ragged vectors) even
        # under ANSI mode — the DuckDB list-index semantics
        comp = F.try_element_at(arr, F.lit(i + 1)).cast(f"decimal(38,{scale})")
        scaled = (F.sum(comp) * F.lit(10**scale)).cast("long").cast("double")
        mean = scaled / F.lit(float(10**scale)) / F.count(comp).cast("double")
        aggs.append(mean.alias(f"c{i}"))
    return emb.groupBy(key_col).agg(*aggs)


def embedding_covariance(
    vectors: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    quant: int = 10**4,
) -> DataFrame:
    """Upper-triangle covariance matrix of an embedding column as a long
    table ``(i, j, n, s_i, s_j, s_ij, cov)`` for ``i ≤ j``.

    Scale design — the distributed outer-product reduce: a pure-SQL
    covariance needs either d² aggregate expressions or an
    (i, j)-explode self-join that multiplies the corpus by d² rows.
    Instead each Arrow batch computes its d×d partial ``Mᵀ M`` in one
    numpy matmul (mapInPandas, bounded memory), emitting d(d+1)/2
    partial rows per batch; the only shuffle is the tiny
    (partitions × d²)-row partial table reduced by one groupBy. At 100 TB
    the fact table never shuffles — this is the tree-reduce every
    distributed PCA/whitening/linear-probe fit starts with.

    Exactness: components are floor-quantized to ``q = floor(x·quant)``
    int64 first, so every moment is integer arithmetic — partial sums
    are order-independent and the DuckDB oracle reproduces them
    bit-for-bit; the covariance then leaves integers through IEEE-only
    arithmetic. Keep ``n·(quant·max|x|)² < 2^63`` (at quant=10⁴ and
    unit-norm embeddings that is n < ~10⁸ rows per run; shard and
    switch the moment sums to decimal(38,0) beyond). Rows with NULL or
    ragged vectors are excluded (n counts used rows).
    """
    arr = F.col(vec_col).cast("array<double>")
    qv = F.transform(arr, lambda x: F.floor(x * quant).cast("long"))
    base = (
        spread(vectors)
        .filter(F.col(vec_col).isNotNull() & (F.size(arr) == dims))
        .select(qv.alias("qv"))
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        iu, ju = np.triu_indices(dims)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype("int64")
            s = m.sum(axis=0)
            ss = m.T @ m
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "n": np.int64(len(m)),
                    "s_i": s[iu],
                    "s_j": s[ju],
                    "s_ij": ss[iu, ju],
                }
            )

    partials = base.mapInPandas(
        part, "i int, j int, n long, s_i long, s_j long, s_ij long"
    )
    tot = partials.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s_i").cast("long").alias("s_i"),
        F.sum("s_j").cast("long").alias("s_j"),
        F.sum("s_ij").cast("long").alias("s_ij"),
    )
    n = F.col("n").cast("double")
    cov = (
        F.col("s_ij").cast("double") / n
        - (F.col("s_i").cast("double") / n) * (F.col("s_j").cast("double") / n)
    ) / F.lit(float(quant) * float(quant))
    return tot.withColumn("cov", cov)


def pca_project(
    vectors: DataFrame,
    dims: int,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 10**4,
) -> DataFrame:
    """Project embeddings onto their top-k principal components:
    ``(id, pc0 … pc{k-1})``.

    Two passes, both cluster-scale-safe: (1) ``embedding_covariance``
    reduces the corpus to a d(d+1)/2-row matrix — the ONLY thing the
    driver ever collects; (2) numpy eigendecomposition of the tiny d×d
    matrix on the driver, and the k eigenvectors return to the cluster
    as literal coefficients in a pure-Catalyst projection (no UDF, no
    broadcast variable — the plan embeds ~d·k constants). Eigenvector
    sign is fixed deterministically (largest-|component| positive) so
    output is reproducible across runs and partitionings.

    Not SQL-oracle-expressible (eigendecomposition); verified by unit
    test against numpy PCA on the same data.
    """
    import numpy as np

    rows = embedding_covariance(vectors, dims, vec_col, quant=quant).collect()
    C = np.zeros((dims, dims))
    for r in rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    w, V = np.linalg.eigh(C)
    comps = V[:, np.argsort(w)[::-1][:k]].copy()
    for c in range(k):
        if comps[np.argmax(np.abs(comps[:, c])), c] < 0:
            comps[:, c] = -comps[:, c]
    return project_components(
        vectors, [[float(x) for x in comps[:, c]] for c in range(k)],
        vec_col=vec_col, id_col=id_col,
    )


def project_components(
    vectors: DataFrame,
    components: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project each vector onto literal component rows — the shared
    map-only tail of :func:`pca_project`: ``pc_c = Σ_i v[i]·comp[c][i]``
    folded strictly left-to-right so the IEEE double result is
    bit-identical in any engine that unrolls the same sum (the q110
    fixed-components oracle does exactly that). Pure Catalyst — the
    plan embeds the coefficients as constants; no UDF, no shuffle.

    ``components`` is ``[k][dims]`` (one row per output component).
    """
    arr = F.col(vec_col).cast("array<double>")
    cols = []
    for c, comp in enumerate(components):
        terms = [
            F.element_at(arr, i + 1) * F.lit(float(comp[i]))
            for i in range(len(comp))
        ]
        expr = terms[0]
        for t in terms[1:]:
            expr = expr + t
        cols.append(expr.alias(f"pc{c}"))
    return vectors.select(id_col, *cols)


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization (the int8 storage /
    ANN-memory-compression step): ``scale = max|x| / (2^(bits-1)-1)``,
    ``q = floor(x/scale + 0.5)`` (round-half-up — floor-based so every
    engine rounds ties identically; IEEE division keeps the quotient
    bit-identical cross-engine).

    Output is the exploded long form ``(id, i, q, scale)`` — portable
    for the oracle and joins; re-pack with collect_list(i, q) when
    storing. All-zero vectors get scale 0 and q 0. Map-only plan: no
    shuffle, column-pruned to the vector.
    """
    qmax = 2 ** (bits - 1) - 1
    arr = F.col(vec_col).cast("array<double>")
    scale = (F.array_max(F.transform(arr, lambda x: F.abs(x))) / qmax).alias("scale")
    base = spread(vectors).select(F.col(id_col), arr.alias("_v"), scale)
    q = F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
        F.floor(F.col("_x") / F.col("scale") + F.lit(0.5)).cast("int")
    )
    return (
        base.select(F.col(id_col), "scale", F.posexplode("_v").alias("i", "_x"))
        .select(id_col, F.col("i").cast("int").alias("i"), q.cast("int").alias("q"), "scale")
    )


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the d-dim space splits into ``m``
    contiguous subspaces of d/m dims and each gets its own k-means
    codebook — m·log2(k) bits per vector instead of 32·d, the memory
    layout every billion-scale ANN index (IVF-PQ) stores.

    Training reuses :func:`kmeans_train` per subspace (deterministic
    md5-seeded init, distributed Lloyd iterations; only k·m centroids
    ever reach the driver). d must divide evenly by m. Returns
    ``codebooks[sub][code] -> centroid`` for :func:`pq_assign`.
    """
    first = vectors.select(vec_col).first()
    if first is None:
        raise ValueError("pq_train: input has no vectors")
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    d_sub = dim // m
    books = []
    for s in range(m):
        sub = vectors.select(
            F.col(id_col), F.slice(F.col(vec_col), s * d_sub + 1, d_sub).alias(vec_col)
        )
        books.append(kmeans_train(sub, k, iters, id_col, vec_col))
    return books


def pq_assign(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its PQ code per subspace: ``(id, sub, code)`` —
    ``code`` = argmin-L2 codeword of that subspace's codebook (first-
    wins ties, same argmin as :func:`ivf_assign`).

    One union of m map-only Catalyst argmin branches over the SAME scan
    (no shuffle anywhere — codewords are literals, distances are
    materialized once per column); at 100 TB this is a single pass over
    the vectors producing m compact rows each.
    """
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    parts = []
    for s in range(m):
        sub = vectors.select(
            F.col(id_col), F.slice(F.col(vec_col), s * d_sub + 1, d_sub).alias(vec_col)
        )
        assigned = ivf_assign(sub, codebooks[s], id_col, vec_col)
        parts.append(
            assigned.select(
                F.col(id_col), F.lit(s).cast("int").alias("sub"),
                F.col("cell").cast("int").alias("code"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate kNN result against the exact one —
    the acceptance metric every ANN index (LSH/IVF/PQ) is tuned by.

    Inputs are any two result sets with (query, neighbor) rows (ranks/
    scores ignored; both sides' k is whatever they returned). Output:
    ``(query_id, n_exact, n_hit, recall)`` per query. Plan: one inner
    join on (query, neighbor) + one groupBy — at scale both sides are
    top-k tables (k rows per query), so the join key space is tiny
    relative to the corpus; no vector math re-runs.
    """
    ex = exact.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    ).dropDuplicates(["_q", "_n"])
    ap = approx.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    ).dropDuplicates(["_q", "_n"]).withColumn("_hit", F.lit(1))
    per = (
        ex.join(ap, ["_q", "_n"], "left")
        .groupBy("_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("_hit").cast("long").alias("n_hit"),
        )
    )
    return per.select(
        F.col("_q").alias(query_col),
        "n_exact",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_exact").cast("double")).alias("recall"),
    )


def rrf_fuse(
    rankings,
    id_cols,
    by=(),
    k: int = 60,
    limit: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N candidate
    lists: each item scores ``sum over lists of 1/(k + rank)``. The
    standard zero-tuning way to blend heterogeneous retrieval signals
    (BM25 + embedding kNN + recency ...) — only ranks matter, so the
    signals' score scales never need calibration.

    ``rankings`` is a sequence of ``(df, order_exprs)`` pairs; each df
    carries ``id_cols`` (+ ``by`` for per-query fusion) and is ranked by
    its own ``order_exprs`` (pass ``F.col(...).desc()`` as needed;
    ``id_cols`` are appended as the tie-break so ranks are total).
    Contributions are EXACT integer parts-per-billion
    ``10⁹ div (k + rank)`` — engine-independent, no float sums.

    Scale shape: candidate lists should be bounded (top-N per signal —
    RRF's own contract). With ``by=()`` pass ``limit`` to cut each list
    to its distributed TakeOrdered top-``limit`` FIRST, so the global
    rank window only ever sorts ``limit`` rows; with per-query ``by``
    the rank window is partitioned by query and needs no cut. The
    fused aggregate shuffles on (by, id) — never a cross product.

    Output: ``(*by, *id_cols, rrf_ppb, n_lists)``.
    """
    parts = []
    for df, order in rankings:
        order = list(order) + [F.col(c) for c in id_cols]
        d = df
        if limit is not None and not by:
            d = d.orderBy(*order).limit(limit)
        w = W.partitionBy(*by).orderBy(*order)
        parts.append(
            d.select(
                *by,
                *id_cols,
                F.row_number().over(w).alias("_rank"),
            ).select(
                *by,
                *id_cols,
                F.expr(f"1000000000L div ({int(k)} + _rank)").alias("_c"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(*by, *id_cols).agg(
        F.sum("_c").cast("long").alias("rrf_ppb"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )


def sparse_cosine_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 100,
    min_df: int = 2,
    min_cos2_ppm: int = 0,
) -> DataFrame:
    """All-pairs LEXICAL cosine similarity over sparse term-frequency
    vectors via an inverted-index self-join — the sparse complement of
    the dense-embedding ANN family (the "similar documents by shared
    vocabulary" primitive behind TF-IDF retrieval and near-dup triage).

    Dimension pruning is the scale lever (DIMSUM / Zadeh–Goel): terms
    with document frequency above ``max_df`` are dropped BEFORE the
    join, so no inverted list is longer than ``max_df`` and each term
    contributes at most ``max_df·(max_df−1)/2`` pairs — the quadratic
    all-pairs space never forms. Cosine is computed over the kept term
    space (both dot products and norms), a self-consistent semantic:
    pruned stopword-like terms carry no signal. ``min_df=2`` drops
    hapax terms that can never produce a pair.

    Exactness: term frequencies are integer token counts; the squared
    cosine is kept rational — ``cos2_ppm = (dot² · 10⁶) div (n_a·n_b)``
    with ``n = Σ tf²`` per doc — decimal(38,0), no sqrt, no float.

    Plan: one shuffle builds the (doc, term, tf) grain; document
    frequencies are a re-aggregation of it; the pruned index joins
    itself ON THE TERM KEY (never a cartesian); per-pair partial sums
    aggregate map-side; kept-term norms broadcast back onto the pair
    table when small (AQE decides). Skewed terms are already capped at
    ``max_df`` by construction.

    Output: ``(id_a, id_b, dot, cos2_ppm)`` with ``id_a < id_b``,
    filtered to ``cos2_ppm ≥ min_cos2_ppm``.
    """
    tf = (
        spread(docs)
        .select(F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    kept = tf.join(
        dfreq.filter((F.col("_df") <= int(max_df)) & (F.col("_df") >= int(min_df))),
        "term",
    )
    norms = kept.groupBy("_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("decimal(38,0)").alias("_n2")
    )
    a = kept.select(F.col("_id").alias("id_a"), "term", F.col("tf").alias("_tfa"))
    b = kept.select(F.col("_id").alias("id_b"), "term", F.col("tf").alias("_tfb"))
    pairs = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_tfa") * F.col("_tfb")).cast("decimal(38,0)").alias("_dot"))
    )
    scored = (
        pairs.join(norms.withColumnRenamed("_id", "id_a").withColumnRenamed("_n2", "_na"), "id_a")
        .join(norms.withColumnRenamed("_id", "id_b").withColumnRenamed("_n2", "_nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("_dot").cast("long").alias("dot"),
            F.expr("CAST((_dot * _dot * 1000000) div (_na * _nb) AS BIGINT)").alias(
                "cos2_ppm"
            ),
        )
    )
    return scored.filter(F.col("cos2_ppm") >= int(min_cos2_ppm))


def centroid_silhouette(
    emb: DataFrame,
    id_col: str = "vec_id",
    key_col: str = "label",
    vec_col: str = "embedding",
    dims: int = 4,
    scale: int = 6,
) -> DataFrame:
    """Centroid-based silhouette per cluster — the O(n·k) clustering
    quality score (the classical silhouette's O(n²) pairwise form is
    not a 100-TB plan; against-centroid is the standard scale
    substitute, e.g. BigQuery ML / Spark MLlib evaluators):

        per point: a = ‖x − c_own‖², b = min_other ‖x − c_other‖²,
        s = (b − a) / max(a, b) ∈ [−1, 1]

    reported per cluster as the integer-mean ``s_ppm`` and the
    fraction of negative-s (likely misassigned) points.

    Exactness: centroids come from ``group_centroids``' int-exact
    decimal route (engine-identically rounded doubles); each squared
    distance is a FIXED IEEE tree over ``dims`` literal components
    (§16 discipline); a and b floor-quantize to micro BEFORE the ratio,
    which is then one sign·abs integer division — so the per-point s
    and every downstream sum are exact integers.

    Plan: the k-row centroid table broadcast-crossJoins the points
    (k·n rows, k small by construction), one (id)-grain aggregate
    folds own/other distances, one key-grain aggregate summarizes.
    The fact table never self-joins. Output:
    ``(key…, n_points, mean_s_ppm, n_negative, neg_ppm)``.
    """
    cents = group_centroids(emb, key_col, vec_col, dims, scale)
    c_cols = [F.col(f"c{i}").alias(f"_c{i}") for i in range(dims)]
    cent = cents.select(F.col(key_col).alias("_ck"), *c_cols)
    arr = F.col(vec_col).cast("array<double>")
    pts = emb.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_k"),
        *[F.try_element_at(arr, F.lit(i + 1)).alias(f"_x{i}") for i in range(dims)],
    )
    j = pts.crossJoin(F.broadcast(cent))
    d2 = None
    for i in range(dims):
        term = (F.col(f"_x{i}") - F.col(f"_c{i}")) * (
            F.col(f"_x{i}") - F.col(f"_c{i}")
        )
        d2 = term if d2 is None else d2 + term
    j = j.withColumn(
        "_d2m", F.floor(d2 * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    per = j.groupBy("_id", "_k").agg(
        F.min(F.when(F.col("_ck") == F.col("_k"), F.col("_d2m"))).alias("_a"),
        F.min(F.when(F.col("_ck") != F.col("_k"), F.col("_d2m"))).alias("_b"),
    )
    s = per.withColumn(
        "_s",
        F.expr(
            "CAST(CASE WHEN _a IS NOT NULL AND _b IS NOT NULL "
            "AND greatest(_a, _b) > 0 THEN "
            "sign(_b - _a) * ((abs(CAST(_b AS DECIMAL(38,0)) - _a) * 1000000) "
            "div greatest(_a, _b)) END AS BIGINT)"
        ),
    ).filter(F.col("_s").isNotNull())
    g = s.groupBy(F.col("_k").alias(key_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("_s").cast("decimal(38,0)").alias("_ss"),
        F.sum(F.when(F.col("_s") < 0, 1).otherwise(0)).cast("long").alias("n_negative"),
    )
    return g.select(
        key_col,
        "n_points",
        F.expr(
            "CAST(sign(_ss) * (abs(_ss) div n_points) AS BIGINT)"
        ).alias("mean_s_ppm"),
        "n_negative",
        F.expr(
            "CAST((CAST(n_negative AS DECIMAL(38,0)) * 1000000) div n_points "
            "AS BIGINT)"
        ).alias("neg_ppm"),
    )


def ivf_pq_search(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    shortlist: int | None = None,
) -> DataFrame:
    """The composed production ANN shape — IVF-PQ search end-to-end in
    ONE plan (VERDICT r10 item 3): coarse probe routing → PQ
    asymmetric-distance (ADC) shortlist → exact re-rank of the short
    list. This is how a billion-scale index answers a query: the coarse
    quantizer prunes to ``nprobe`` cells, the PQ codes rank candidates
    WITHOUT touching raw vectors, and only ``shortlist`` (default 4k)
    survivors pay the full-dimension exact score.

    Layout at 100 TB: the corpus is stored partitioned by ``cell`` with
    only (id, pq codes) hot — a query touches nprobe partitions, the
    ADC stage reads m bytes/vector instead of 4·d, and the exact stage
    fetches raw vectors for 4k rows per query. Locally the same plan
    expresses as: one scan computing coarse distances + the per-vector
    ADC lookup table (m·k_cw literal L2² folds, materialized ONCE per
    vector before the explode — never per candidate pair), a cell
    equi-join for candidates, ``element_at(lut, code+1)`` sums for ADC,
    and two per-query rank windows.

    Exactness contract: every distance is the shared left-to-right IEEE
    fold (functions/vector.py), ADC sums subspace L2² terms
    left-associatively, tie-breaks are (adc, id) / (score desc, id) —
    all engine-reproducible, so the full composition hash-gates against
    a literal-codebook DuckDB oracle (q271).

    ``centroids`` quantize the LEADING ``len(centroids[0])`` dims (the
    q48/q113 convention); ``codebooks[sub][code]`` quantize the full
    vector in ``m`` contiguous subspaces (the q109 convention).
    """
    n_cells = len(centroids)
    dim_coarse = len(centroids[0])
    if not 1 <= nprobe <= n_cells:
        raise ValueError(f"nprobe={nprobe} out of range 1..{n_cells}")
    m = len(codebooks)
    k_cw = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    dim = m * d_sub
    short_n = int(shortlist) if shortlist is not None else 4 * k

    # r13 cut plan-build py4j round trips by rendering each column as
    # ONE SQL string; r14 cuts the ANALYSIS cost too. Spark analyzes the
    # whole logical plan eagerly on every chained DataFrame op, so the
    # unrolled per-element folds (k_cw·d_sub terms per LUT column) were
    # re-walked by every select/join stacked above them — profiled at
    # 1.9 s of driver time per plan build (py4j socket waits inside 11
    # selects; guide §7.3 "very large plans can spend minutes in
    # planning"). The same left-to-right IEEE fold now renders as
    # ``aggregate(zip_with(slice(vec), <literal array>, (a,b) ->
    # (a-b)*(a-b)), 0.0D, (acc,t) -> acc + t)`` — per-term ops and fold
    # order are IDENTICAL (zip_with evaluates each (a−b)² with the same
    # subtract/multiply; aggregate folds ((0.0+t₀)+t₁)+…), so every
    # distance/LUT/code value is bit-identical and the oracle hash is
    # unchanged, while the expression tree shrinks ~50× and analysis
    # cost with it.
    def _dlit(x: float) -> str:
        x = float(x)
        if not math.isfinite(x):
            # 'infD'/'nanD' are not valid SQL literals; a non-finite
            # codebook/centroid value is a corrupt model, not a query
            raise ValueError(f"ivf_pq_search: non-finite model value {x!r}")
        r = repr(x)
        return f"CAST('{r}' AS DOUBLE)" if ("e" in r or "E" in r) else r + "D"

    def _arr(vals: list[float]) -> str:
        return f"array({', '.join(_dlit(x) for x in vals)})"

    # column names are interpolated inside backticks: escape embedded
    # backticks the SQL way (doubling) so no name can break the string
    vq = vec_col.replace("`", "``")

    def _l2sq_fold(vec_sql: str, arr_sql: str) -> str:
        # left-to-right squared-L2 fold — the ((0.0+t1)+t2)… tree of
        # vector._unrolled_sum, sqrt-free (ADC ranks on squared
        # distance; monotone, and exact for the oracle)
        return (
            f"aggregate(zip_with({vec_sql}, {arr_sql}, "
            f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, t) -> acc + t)"
        )

    cv_sql = f"slice(`{vq}`, 1, {dim_coarse})"
    dist_cols = [
        F.expr(f"sqrt({_l2sq_fold(cv_sql, _arr(c))})").alias(f"_d{i}")
        for i, c in enumerate(centroids)
    ]

    def _sub_sql(s: int) -> str:
        return f"slice(`{vq}`, {s * d_sub + 1}, {d_sub})"

    def _cb_arr(s: int) -> str:
        return f"array({', '.join(_arr(cw) for cw in codebooks[s])})"

    lut_cols = [
        F.expr(
            f"transform({_cb_arr(s)}, cw -> {_l2sq_fold(_sub_sql(s), 'cw')})"
        ).alias(f"_lut{s}")
        for s in range(m)
    ]
    # the coarse + LUT math is the CPU-heavy per-row stage: spread a
    # single-file scan across the cluster before it (no-op at scale)
    vectors = vectors.withColumn(
        vec_col, _at_least(F.col(vec_col), max(dim, dim_coarse), "ivf_pq_search")
    )
    withd = spread(vectors).select(
        F.col(id_col), F.col(vec_col), *dist_cols, *lut_cols
    )
    arr = F.array(
        *[F.struct(F.col(f"_d{i}").alias("d"), F.lit(i).alias("c")) for i in range(n_cells)]
    )
    probes = F.slice(F.array_sort(arr), 1, nprobe)
    # one persisted assignment feeds the query side (all probes), the
    # corpus side (probe 0 = primary cell) and the corpus code pivot —
    # the vector scan and the coarse/LUT math run exactly once
    multi = withd.select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(f"_lut{s}") for s in range(m)],
        F.posexplode(probes).alias("probe", "_pc"),
    ).select(
        id_col,
        vec_col,
        *[f"_lut{s}" for s in range(m)],
        F.col("probe").cast("int").alias("probe"),
        F.col("_pc.c").cast("int").alias("cell"),
    ).persist()

    # corpus PQ codes from the SAME persisted frame (primary-cell rows
    # hold the full vector), pivoted to one row per vector
    primary = multi.filter(F.col("probe") == 0)

    def _sub_code(s: int) -> str:
        # same compact HOF rendering as the LUT above: per-codeword
        # sqrt(L2²) distances zip with their ordinals into (d, c)
        # structs, and array_min picks the (distance, code) minimum —
        # the identical tie-break-by-code struct ordering as before
        return (
            f"CAST(array_min(zip_with("
            f"transform({_cb_arr(s)}, cw -> sqrt({_l2sq_fold(_sub_sql(s), 'cw')})), "
            f"sequence(0, {k_cw - 1}), "
            f"(d, c) -> named_struct('d', d, 'c', c))).c AS INT)"
        )

    code_expr = [F.expr(_sub_code(s)).alias(f"_c{s}") for s in range(m)]
    corpus = primary.select(
        F.col(id_col).alias("_cid"), F.col("cell"), *code_expr
    )

    q = multi.select(
        F.col(id_col).alias("_qid"),
        F.col("cell"),
        *[F.col(f"_lut{s}") for s in range(m)],
    )
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(F.col(f"_lut{s}"), F.col(f"_c{s}") + 1)
    pairs = (
        q.join(corpus, "cell")
        .filter(F.col("_qid") != F.col("_cid"))
        .select("_qid", "_cid", adc.alias("_adc"))
    )
    ws = W.partitionBy("_qid").orderBy(F.col("_adc").asc(), F.col("_cid").asc())
    short = (
        pairs.withColumn("_r", F.row_number().over(ws))
        .filter(F.col("_r") <= short_n)
        .select("_qid", "_cid")
    )

    raw = vectors.select(F.col(id_col), F.col(vec_col))
    qa = raw.select(F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv"))
    ca = raw.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv2"))
    exact = short.join(qa, "_qid").join(ca, "_cid").select(
        F.col("_qid").alias("query_id"),
        F.col("_cid").alias("neighbor_id"),
        cosine(F.col("_qv"), F.col("_cv2"), dim if dim <= 32 else None).alias("score"),
    )
    wk = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    out = exact.withColumn("rank", F.row_number().over(wk)).filter(F.col("rank") <= k)
    return track_cached(out, multi)


def semdedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    coarse_dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    two_level_groups: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    cluster-then-cosine — the embedding-space counterpart of MinHash
    near-dup, and the step that removes *paraphrase* duplicates exact
    and fuzzy text dedup both miss.

    The paper's recipe, made deterministic: (1) assign every vector to
    its nearest coarse centroid (:func:`ivf_assign` on the first
    ``coarse_dims`` components — the IVF trick that bounds the pair
    space to within-cell, never corpus×corpus); (2) within each cell,
    a vector is a DUPLICATE iff some earlier vector (smaller id — the
    paper keeps one representative per ε-ball; ordinal choice replaces
    its random one) has full-vector cosine ≥ ``threshold``; (3)
    survivors carry their cell for audit. Output: ``(vec_id, cell,
    is_kept)`` for every input vector.

    Scale: the only corpus-wide shuffle is the cell equi-join; pair
    work is Σ|cell|² with cells sized by the centroid count — the
    production rule is centroids ∝ N (the ivf_pq_search capstone law).
    Cosines are pure Catalyst expression chains (unrolled when ``dim``
    is given), no UDFs anywhere.
    """
    from aeon_mecha_spark.functions.vector import cosine

    coarse = (
        vectors.select(
            F.col(id_col),
            F.slice(F.col(vec_col), 1, int(coarse_dims)).alias(vec_col),
        )
        if coarse_dims
        else vectors
    )
    # two_level_groups routes the coarse quantizer through the IMI-shape
    # tree (O(2√k)/row) — the production path once cells ∝ N makes the
    # flat argmin the dominant O(N·k) term (round-13 capstone, SCALE.md)
    assign = (
        ivf_assign(coarse, centroids, id_col, vec_col)
        if two_level_groups is None
        else ivf_assign_two_level(
            coarse, centroids, two_level_groups, id_col, vec_col
        )
    )
    cells = assign.select(id_col, "cell")
    assigned = vectors.join(cells, id_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "cell"
    )
    dup_ids = (
        assigned.alias("a")
        .join(
            assigned.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(
            cosine(F.col("a._v"), F.col("b._v"), dim) >= F.lit(float(threshold))
        )
        .select(F.col("b._id").alias("_dup"))
        .distinct()
    )
    return (
        assigned.join(dup_ids, assigned["_id"] == dup_ids["_dup"], "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            F.col("_dup").isNull().alias("is_kept"),
        )
    )


def diversity_prune(
    vectors: DataFrame,
    centroids: list[list[float]],
    keep_ppm: int,
    coarse_dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level_groups: int | None = None,
) -> DataFrame:
    """Diversity pruning (the second half of the D4 recipe, Tirumala
    et al. 2023 — SemDeDup removes ε-ball duplicates, this removes
    over-represented PROTOTYPICAL points): score each vector by its
    cosine to its own coarse centroid ("prototypicality", computed in
    the same coarse space the assignment lives in), then per cell keep
    the ``keep_ppm``-fraction LEAST prototypical vectors — the diverse
    tail — with at least one survivor per non-empty cell. The paper
    ranks by distance to the SSL-prototype centroid; the deterministic
    limit here uses the exact cosine with (cos asc, id) ordinal ties.

    Output: ``(id, cell, proto_ppm, is_kept)`` for every input vector
    (``proto_ppm`` = half-up integer ppm of the prototypicality, the
    audit column).

    Scale: assignment is map-side against broadcast centroids; the
    centroid table broadcast-joins back on ``cell``; the only
    corpus-wide shuffle is the per-cell window, and cells stay bounded
    under the production centroids ∝ N rule (the ivf_pq capstone law).
    """
    from pyspark.sql import Window as W

    from aeon_mecha_spark.functions.vector import cosine

    spark = vectors.sparkSession
    d = int(coarse_dims) if coarse_dims else len(centroids[0])
    coarse = vectors.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, d).alias("_v")
    )
    assign = (
        ivf_assign(coarse, centroids, id_col, "_v")
        if two_level_groups is None
        else ivf_assign_two_level(coarse, centroids, two_level_groups, id_col, "_v")
    )
    cells = assign.select(id_col, "cell")
    cdf = spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(centroids)],
        "cell int, _cv array<double>",
    )
    joined = coarse.join(cells, id_col).join(F.broadcast(cdf), "cell")
    proto = cosine(F.col("_v"), F.col("_cv"), d)
    wcell = W.partitionBy("cell")
    worder = wcell.orderBy(F.col("_proto").asc(), F.col(id_col).asc())
    scored = joined.select(id_col, "cell", proto.alias("_proto"))
    ranked = scored.select(
        id_col,
        "cell",
        F.expr("CAST(floor(_proto * 1000000.0 + 0.5) AS BIGINT)").alias(
            "proto_ppm"
        ),
        F.row_number().over(worder).alias("_rk"),
        F.count(F.lit(1)).over(wcell).alias("_cnt"),
    )
    keep_n = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"(_cnt * {int(keep_ppm)}) div 1000000"),
    )
    return ranked.select(
        id_col, "cell", "proto_ppm", (F.col("_rk") <= keep_n).alias("is_kept")
    )


def ivf_assign_bulk(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_assign` with an O(1)-size plan: the k centroids ride as ONE
    literal array-of-structs constant and the argmin is a runtime fold
    over it — the path for k beyond the codegen-friendly range.
    (`ivf_assign` materializes one distance column per centroid: past
    k≈32 the generated method blows janino's 64 KB limit and the stage
    drops to interpreted eval, and the O(k) plan STRING at k≈256 OOMed
    a 16 GB driver through the SQL UI's retained plan graphs — the
    round-13 semdedup capstone, SCALE.md.) Output is BIT-IDENTICAL to
    `ivf_assign`: the fold's ((0+t)+t)+… l2 chain is the same IEEE
    order as the unrolled sum, and array_min over (d, i) structs keeps
    the same first-wins tie rule."""
    cent = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.array(*[F.lit(float(v)) for v in c]).alias("c"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    # the leading dimensions, as the unrolled `ivf_assign` reads them:
    # zip_with would NULL-pad the centroid side of a longer vector
    dim = len(centroids[0])
    vec = F.slice(_at_least(F.col(vec_col), dim, "ivf_assign_bulk"), 1, dim)
    amin = F.array_min(
        F.transform(
            cent,
            lambda m: F.struct(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            vec, m["c"], lambda x, y: (x - y) * (x - y)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ).alias("d"),
                m["i"].alias("c"),
            ),
        )
    )
    return vectors.select(
        F.col(id_col), F.col(vec_col), amin["c"].cast("int").alias("cell")
    )


def build_two_level(
    centroids: list[list[float]], g: int | None = None
) -> tuple[list[list[float]], list[list[int]]]:
    """Group k centroids into ``g`` (default ⌈√k⌉) groups for the
    two-level quantizer: deterministic driver-side Lloyd over the
    centroid list itself (init = every ⌈k/g⌉-th centroid in list
    order, fixed 10 iterations, first-wins argmin, an emptied group
    keeps its previous mean). Returns ``(group_centroids, members)``
    with ``members[j]`` the sorted original centroid indices of group
    ``j``. The centroid list is k rows — this never touches the
    corpus."""
    import math

    import numpy as np

    c = np.asarray(centroids, dtype=float)
    k = len(c)
    if g is None:
        g = max(1, math.isqrt(k - 1) + 1)
    g = min(int(g), k)
    gc = c[:: max(1, -(-k // g))][:g].copy()
    g = len(gc)
    for _ in range(10):
        d = ((c[:, None, :] - gc[None, :, :]) ** 2).sum(-1)
        lab = d.argmin(1)  # numpy argmin is first-wins
        for j in range(g):
            sel = c[lab == j]
            if len(sel):
                gc[j] = sel.mean(0)
    d = ((c[:, None, :] - gc[None, :, :]) ** 2).sum(-1)
    lab = d.argmin(1)
    members = [sorted(int(i) for i in np.where(lab == j)[0]) for j in range(g)]
    return [list(map(float, v)) for v in gc], members


def ivf_assign_two_level(
    vectors: DataFrame,
    centroids: list[list[float]],
    g: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[list[list[float]], list[list[int]]] | None = None,
) -> DataFrame:
    """Two-level coarse quantizer (the FAISS-IMI shape): argmin over
    ⌈√k⌉ group centroids, then argmin over ONLY that group's members —
    per-row work O(2√k) instead of O(k), which is the term that turned
    the cells ∝ N capstone quadratic (SCALE.md round 13). Approximate
    by design (a vector near a group boundary may land in a
    second-best member cell — the standard IVF-tree trade) and fully
    deterministic: first-wins argmin at both levels, members probed in
    ascending original index. Output ``(id, vec, grp, cell)`` with
    ``cell`` the ORIGINAL centroid index."""
    gc, members = index if index is not None else build_two_level(centroids, g)
    lvl1 = ivf_assign_bulk(vectors, gc, id_col, vec_col).withColumnRenamed(
        "cell", "grp"
    )
    memb = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.array(*[F.lit(float(v)) for v in centroids[i]]).alias("c"),
                    )
                    for i in ms
                ]
            )
            for ms in members
        ]
    )
    amin = F.array_min(
        F.transform(
            F.element_at(memb, F.col("grp") + 1),
            lambda m: F.struct(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col), m["c"], lambda x, y: (x - y) * (x - y)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ).alias("d"),
                m["i"].alias("c"),
            ),
        )
    )
    return lvl1.select(
        F.col(id_col), F.col(vec_col), "grp", amin["c"].cast("int").alias("cell")
    )
