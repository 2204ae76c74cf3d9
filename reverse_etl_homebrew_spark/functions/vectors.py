"""Vector math over ``array<float>`` embedding columns in the JVM:
the finite-geometry scopes, the driver-side seed vector and dimension
probe, and the FLAT dimension-unrolled dot they fold with.

Why flat and not higher-order functions: stacking several
``F.aggregate``/``F.zip_with`` lambdas inside one projection was
observed to be NONDETERMINISTIC on Spark 4.1 local[N] (lambda-variable
state shared across identically-named lambda params); flat
element_at chains are plain codegen'd arithmetic — deterministic,
branch-free, and faster (no per-element function-call overhead).

Summation order is a strict left fold (t0 + t1 + ...), bit-identical
to DuckDB's ``list_sum(list_transform(...))`` over the same data —
which is what makes the similarity operators oracle-checkable.

Scoring (cosine, norms, buckets, centroid distances) is NOT spelled
here: it runs in the Arrow kernels of operators/vectorized.py, which
compute the same left folds with a plan size independent of the
dimension — a dim-unrolled fold in a hot projection crosses janino's
64 KB method limit and the stage silently runs interpreted.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

ColumnOrName = Union[Column, str]


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _sum_terms(terms: Sequence[Column]) -> Column:
    """Left-fold sum — fixed order for bit determinism. Zero terms
    (an empty vector table makes infer_dim 0) folds to literal 0.0 so
    the dot/bucket expressions stay well-formed and an empty input
    flows through to an empty output instead of a driver-side
    TypeError (r11 empty-input probe)."""
    if not terms:
        return F.lit(0.0)
    return reduce(lambda a, b: a + b, terms)


def finite_vector(col: ColumnOrName) -> Column:
    """True iff the vector is non-NULL and every component is a
    non-NULL finite float — the vector-tier scope of the non-finite
    poison class (r13 probe: NaN/Inf COMPONENTS, which the r11
    scalar arms never planted, split the engines — DuckDB's decimal
    cast raises on a NaN component where Spark's silently NULLs it
    out of a centroid sum, and NaN cosine scores rank differently
    under the two engines' NaN orderings). A vector with a corrupt
    component carries no usable geometry, so it is excluded from the
    vector universe at every operator boundary — the NULL-vector
    degrade contract extended to non-finite.

    This forall() form is exact but runs the lambda INTERPRETED per
    element — measured +11-47% on the hot similarity keys. Use it on
    COLD paths only (driver-side seed/centroid collection); the hot
    vector operators scope with their masking kernels' NULL outputs
    and the scorers' ``ok`` flags (operators/vectorized.py), and a
    JVM-only column path with ``finite_geometry`` below. The SQL twin
    of both is ``FINITE_VEC_SQL``.

    Length-0 vectors are OUT of scope (r14, advisor): ``F.forall``
    over an empty array is vacuously true, but an empty embedding
    carries no geometry and ``FINITE_VEC_SQL`` already requires
    ``len(c) > 0`` — the size leg makes the engine scope match the
    declared SQL twin exactly."""
    c = _c(col)
    return (
        c.isNotNull()
        & (F.size(c) > 0)
        & F.forall(
            c,
            lambda x: x.isNotNull()
            & ~F.isnan(x)
            & (F.abs(x) < F.lit(float("inf"))),
        )
    )


def finite_geometry(col: ColumnOrName, dim: int) -> Column:
    """The codegen finite scope, for a column path with no vector
    kernel (the per-dimension centroid key): the vector's self-dot
    over the table's ``dim`` is a finite double. Pure flat codegen —
    it never leaves whole-stage codegen. Equivalent to
    ``finite_vector`` on contract-conforming data (uniform ``dim``,
    the ingress rule): a NULL vector or NULL component NULLs the left
    fold (excluded), NaN/±Inf components make it non-finite
    (excluded), and a too-short vector hits an out-of-range
    element_at → NULL (excluded). The one deliberate difference:
    components BEYOND ``dim`` are invisible — out of contract by the
    dimension rule, refused loudly at every index boundary. SQL twin:
    ``FINITE_VEC_SQL`` (with an explicit NULL-component leg, because
    DuckDB's list_sum skips NULLs where the engine fold propagates
    them)."""
    d = dot(col, col, dim)
    return ~F.isnan(d) & (F.abs(d) < F.lit(float("inf")))


# The DuckDB twin of ``finite_vector`` lives in sqlfrags (the leaf
# oracle-fragment module); re-exported here so engine-side callers
# find scope + twin in one place.
from ..sqlfrags import FINITE_VEC_SQL  # noqa: E402


def infer_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Embedding dimensionality from the first NON-NULL row (fixed per
    table). NULL vectors carry no dimension and are skipped (r12 — the
    advisor's NULL-embedding crash class: ``size(NULL)`` is NULL and
    the int() cast threw); an all-NULL column infers 0 like an empty
    table."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return int(row["d"]) if row else 0


def query_vector(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
) -> "tuple[list, bool]":
    """The driver-side seed vector for similarity queries (the row
    whose id is 0) → ``(vector, found)``, with the r11 empty-input contract: when the
    seed row is absent (empty table, filtered-out id) the caller
    builds its NORMAL plan around the returned all-zeros stand-in
    (dimension inferred; 1 on a fully empty table) and fences the
    result with ``.where(F.lit(False))`` — a schema-correct EMPTY
    frame, matching the SQL oracle's empty-correlated-subquery
    semantics, instead of the NoneType crash the probe caught.

    A present seed row whose embedding is NULL is the same contract
    (r12, advisor finding): it carries no usable query vector, so it
    degrades to the stand-in with ``found=False`` — matching the SQL
    side, where a NULL embedding NULLs every score and the top-k over
    NULL scores is as empty as a missing seed — rather than crashing
    with an opaque ``TypeError: 'NoneType' is not iterable``.

    A seed with NULL or non-finite COMPONENTS (r13, the vector-tier
    non-finite class) is the same degrade: a NaN/Inf component makes
    every score NaN, which the two engines rank differently — the
    seed CTEs scope to ``FINITE_VEC_SQL``, and so does this. A
    LENGTH-0 (non-NULL) seed embedding is the same degrade too (r14,
    advisor: Python's ``all()`` over an empty list is vacuously true,
    but ``FINITE_VEC_SQL`` requires ``len(c) > 0`` — an empty seed
    carries no geometry and the oracle's seed CTE excludes it)."""
    import math

    row = df.filter(F.col(id_col) == 0).select(vec_col).first()
    if (
        row is not None
        and row[vec_col] is not None
        and len(row[vec_col]) > 0
        and all(x is not None and math.isfinite(x) for x in row[vec_col])
    ):
        return [float(x) for x in row[vec_col]], True
    return [0.0] * (infer_dim(df, vec_col) or 1), False


def dot(a: ColumnOrName, b: ColumnOrName, dim: int) -> Column:
    """Dot product of two array columns, unrolled over ``dim``."""
    ac, bc = _c(a), _c(b)
    return _sum_terms(
        [
            F.element_at(ac, F.lit(i + 1)).cast("double")
            * F.element_at(bc, F.lit(i + 1)).cast("double")
            for i in range(dim)
        ]
    )
