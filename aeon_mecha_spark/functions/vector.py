"""Vector math over ``array<float>`` columns — all JVM-side Catalyst
expressions (``aggregate``/``zip_with``), no Python UDFs in the hot path.

Used by the similarity-search and embedding-dedup operators (datapipe/).
At 100 TB the dot product runs inside whole-stage codegen per row pair;
the expensive part is pair generation, which the callers control
(broadcast for small query sets, LSH bucketing for big-big).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# Above this width the unrolled expression's fixed cost (optimizer walk
# + generated-code size, which grows per term and can push the stage out
# of JIT-friendly territory) exceeds what it saves per row: measured at
# sf0.1, an 8-dim unroll is ~2x faster end-to-end on a 1M-pair join while
# a 64-dim unroll is ~2x SLOWER than the interpreted fold on the same
# query. Callers always pass the true dim; this cap picks the path.
MAX_UNROLL_DIM = 32


def _unrolled_sum(terms: list[Column]) -> Column:
    # identical IEEE result to the aggregate() fold: ((0.0+t1)+t2)+…
    # (the explicit 0.0 seed also matches the fold's -0.0 handling)
    acc = F.lit(0.0)
    for t in terms:
        acc = acc + t
    return acc


def _same_size(a: Column, b: Column, what: str) -> Column:
    """``a`` unchanged, or a raised error on a row where ``a`` and ``b``
    are both non-NULL and differ in size. The generic folds pair them
    with ``zip_with``, which NULL-pads the shorter side, so a size
    mismatch would otherwise give a silently NULL result. A NULL vector
    passes (the fold then gives NULL, as before)."""
    return F.when(
        a.isNotNull() & b.isNotNull() & (F.size(a) != F.size(b)),
        F.raise_error(F.lit(f"{what}: vectors differ in size")),
    ).otherwise(a)


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Σ aᵢbᵢ, left-to-right summation order — bit-identical to DuckDB's
    list_dot_product for oracle checks.

    Generic path: zip_with + aggregate (higher-order functions, which
    Spark evaluates INTERPRETED — they never enter whole-stage codegen).
    When the caller knows the dimension, pass ``dim`` to unroll into
    plain element_at arithmetic: the same fold order, but compiled into
    the stage's generated Java — ~3-5× cheaper per pair, which is the
    difference that matters when a bucketed self-join scores millions of
    candidate pairs. A non-NULL pair of unequal sizes raises on the
    generic path; the unrolled path reads the first ``dim`` elements of
    each (a shorter vector fails ANSI ``element_at``)."""
    if dim is not None and dim <= MAX_UNROLL_DIM:
        return _unrolled_sum(
            [F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)]
        )
    return F.aggregate(
        F.zip_with(_same_size(a, b, "dot"), b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None and dim <= MAX_UNROLL_DIM:
        return F.sqrt(
            _unrolled_sum(
                [F.element_at(a, i + 1) * F.element_at(a, i + 1) for i in range(dim)]
            )
        )
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def l2_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    if dim is not None and dim <= MAX_UNROLL_DIM:
        return F.sqrt(
            _unrolled_sum(
                [
                    (F.element_at(a, i + 1) - F.element_at(b, i + 1))
                    * (F.element_at(a, i + 1) - F.element_at(b, i + 1))
                    for i in range(dim)
                ]
            )
        )
    return F.sqrt(
        F.aggregate(
            F.zip_with(_same_size(a, b, "l2_distance"), b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
