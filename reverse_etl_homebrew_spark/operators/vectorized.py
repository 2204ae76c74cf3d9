"""Arrow/pandas vectorized variants of the vector-math operators —
the high-dimensional scale path (SURVEY.md §2.10; SNIPPETS.md [1]-[3]
Arrow patterns).

The flat unrolled expressions in functions/vectors.py are ideal up to
a few hundred dimensions (pure codegen, bit-deterministic vs the
oracle). Past that, expression size grows linearly and JVM codegen
falls back to interpretation — so the engine provides numpy-backed
Pandas UDFs: one Arrow batch in, one matrix multiply out. ~10-100×
over row-at-a-time Python, and dimension-independent plan size.

Every vector kernel reads its batch through ``_vector_matrix`` (one
batch contract), and every oracle-exact sum is the one left fold,
``_fold``.

A kernel whose output a consumer filters on (a bucket ``IS NOT NULL``
/ probe ``isin``, an ``ok`` flag, ``dists IS NOT NULL``, an IVF cell)
is marked ``asNondeterministic()``. The kernels are deterministic in
FACT; without the mark PushDownPredicate substitutes the projected
alias into the consumer's filter and plans a SECOND ArrowEvalPython
below it, silently doubling every kernel evaluation (r14,
fixtures/ab_r14_ledger.py: measured 1.34× on incremental-knn — a
pandas-UDF output column is not a plan barrier for filter pushdown).
The mark's only effect is disabling those moves: the filter stays
ABOVE the projection and the kernel runs once
(tests/test_incremental_knn.py pins the node counts).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T


def _vector_matrix(
    vecs: "pd.Series", kernel: str, dim: "int | None" = None, masked: bool = False
):
    """Read one Arrow batch of vectors as an ``(n, width)`` float64
    matrix → ``(m, ok)`` — the batch contract of every vector kernel,
    so each kernel fails, masks and returns empty the same way:

    - an empty batch reads as a ``(0, width)`` matrix (width 1 when
      the kernel knows none), so the kernel's own arithmetic yields
      its empty result;
    - a ragged batch, a length-0 vector, or a width other than ``dim``
      (the planes', centroids', query's or other side's width) raises
      ``SchemaContractError`` naming the kernel — vector
      dimensionality is a table property (the ingress dimension
      rule), and numpy's raw errors name neither;
    - a NULL vector: a scoring kernel raises ``SchemaContractError``
      (the ANN tier's population contract — NULL vectors are filtered
      or repaired UPSTREAM, fixtures/null_robustness_probe.py); a
      ``masked`` kernel instead masks the row, as it does a row with
      a NULL/NaN/Inf component. Masked rows read as zeros and ``ok``
      is the boolean row mask the kernel emits NULL cells by (r13:
      the masking kernel's NULL output is the finite-geometry scope
      its consumers' ``IS NOT NULL`` / ``isin`` filters apply — an
      input-side fold filter measured 1.2-2.3× on the bucketed keys).
      ``ok`` is None when every row is usable: the fast path, with no
      copy beyond the read.

    Scoring kernels do NOT re-scan for non-finite components: the
    finite scope is enforced at the OPERATOR boundaries (the masking
    kernels' NULL outputs; the exact/topk paths' norm and fold
    filters), and a first-draft isfinite() backstop here ran on every
    pair batch and cost 10-20% on the heavy similarity keys for rows
    that provably cannot be poisoned. Direct kernel use with
    non-finite components yields NaN scores (numpy semantics), the
    documented garbage-in boundary."""
    import numpy as np

    from ..sources.catalog import SchemaContractError

    isnull = vecs.isna().to_numpy()
    nulls = bool(isnull.any())
    if nulls and not masked:
        raise SchemaContractError(
            f"NULL embedding reached the {kernel} kernel — the ANN "
            f"tier's population contract (non-NULL vectors) is "
            f"violated; filter or repair the batch upstream"
        )
    try:
        m = np.asarray((vecs[~isnull] if nulls else vecs).tolist(), dtype=np.float64)
    except ValueError as exc:
        raise SchemaContractError(
            f"ragged embedding batch reached the {kernel} kernel — "
            f"vector dimensionality is a table property (the ingress "
            f"dimension rule); fix the producer"
        ) from exc
    width = dim if dim is not None else (m.shape[1] if m.ndim == 2 else 1)
    if not len(m):
        m = m.reshape(0, width)
    if m.shape[1:] != (width,) or not width:
        want = f"{width}-dimensional" if width else "non-empty"
        raise SchemaContractError(
            f"embedding batch of shape {m.shape} reached the {kernel} "
            f"kernel, which expects {want} vectors; fix the producer"
        )
    if nulls:
        full = np.zeros((len(vecs), width))
        full[~isnull] = m
        m = full
    if not masked:
        return m, None
    ok = ~isnull & np.isfinite(m).all(axis=1)
    if ok.all():
        return m, None
    m[~ok] = 0.0
    return m, ok


def _fold(a, b):
    """Σᵢ ``a[..., i] * b[..., i]`` over the last axis as the
    SEQUENTIAL left fold (vectorized across rows, sequential across
    dims), so every double is bit-identical to the codegen flat fold
    in functions/vectors.dot and to DuckDB's list_sum — the Arrow
    speed path keeps the oracle exact. The fold starts from the first
    product, not from zeros: ``0.0 + -0.0`` is ``+0.0``."""
    acc = a[..., 0] * b[..., 0]
    for i in range(1, a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


def _cosine(dot, den) -> "pd.Series":
    """``dot / den`` as a double Series, NULL where ``den`` is not
    > 0 — the oracle's ``CASE WHEN na * nq > 0``."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        return pd.Series(np.where(den > 0, dot / den, np.nan))


def _cells(values, ok) -> "pd.Series":
    """One output cell per row of ``values``; rows ``ok`` masks out
    are NULL, built as an explicit object Series (r14, advisor:
    assigning None into a typed Series relies on a silent dtype
    upcast — a FutureWarning in pandas 2.x, a TypeError in 3.0)."""
    if ok is None:
        return pd.Series(list(values) if values.ndim > 1 else values)
    return pd.Series([v if k else None for v, k in zip(values, ok)], dtype=object)


def ivf_cell_pandas(centroids: Sequence[Sequence[float]]):
    """Scalar Pandas UDF: the nearest centroid (dot-product argmax, a
    BLAS ``m @ C.T``) of each vector; masked rows (NULL vector,
    NULL/NaN/Inf component) get a NULL cell."""
    import numpy as np

    C = np.asarray([list(c) for c in centroids], dtype=np.float64)  # (k, d)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m, ok = _vector_matrix(vecs, "ivf_assign", dim=C.shape[1], masked=True)
        return _cells((m @ C.T).argmax(axis=1).astype(np.int32), ok)

    return assign.asNondeterministic()


def ivf_assign_pandas(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid (dot-product argmax) — the partitioning step of an
    IVF-flat ANN index. Centroids are deterministic constants chosen
    by the caller (e.g. a prior k-means job or a hash-seeded sample).

    At query time, scoring is restricted to the probe centroids'
    inverted lists — the scan-reduction analog of LSH bucketing with
    better geometry for clustered data. Corrupt rows get a NULL cell,
    which the cell filter below excludes."""
    assign = ivf_cell_pandas(centroids)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        assign(F.col(vec_col)).alias("ivf_cell"),
    ).where(F.col("ivf_cell").isNotNull())


def pair_cosine_pandas():
    """Scalar Pandas UDF scoring CANDIDATE PAIRS: cosine of two vector
    columns given their precomputed norms, the dot as the exact left
    fold (``_fold``). Exists because a filter over a projected
    dim-unrolled dot re-evaluates the fold per reference (predicate +
    output) and blows the JIT method budget — the candidate-scoring
    stage of the LSH pair joins ran un-JIT'd (measured ~2 s per run
    on an 87k-pair stage that numpy does in milliseconds). Zero or
    invalid norms yield NULL, matching ``F.when(den > 0, ...)``."""
    import numpy as np

    @F.pandas_udf(T.DoubleType())
    def cos(v: pd.Series, bv: pd.Series, n: pd.Series, bn: pd.Series) -> pd.Series:
        A, _ = _vector_matrix(v, "pair_cosine")
        B, _ = _vector_matrix(bv, "pair_cosine", dim=A.shape[1])
        den = n.to_numpy(dtype=np.float64) * bn.to_numpy(dtype=np.float64)
        return _cosine(_fold(A, B), den)

    return cos


_SCORE_OK = T.StructType(
    [
        T.StructField("score", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def pair_cosine_flags_pandas():
    """Fused pair-cosine for the bucketer-less EXACT knn branch
    (r15 optimization round): computes BOTH vector norms inside the
    kernel and emits ``struct<score: double, ok: boolean>`` — ``ok``
    is the finite-geometry scope (both norms finite), evaluated where
    the vectors already are instead of as two per-side norm kernels
    plus scalar filters: one ArrowEvalPython node instead of three
    (guide §4.1: you control how many times you cross, cross once).

    Bit-identical to the unfused spelling: each norm is ``sqrt`` of
    the oracle's self-dot left fold (float32→float64 widening is
    exact, IEEE sqrt is correctly rounded), the score is
    ``acc / (l_nrm*r_nrm)`` with NULL when the denominator is not
    > 0, and ``ok`` is the per-side ``nrm IS NOT NULL AND nrm < inf``
    filter: a NaN-component fold is NaN, an Inf-component fold
    overflows to +Inf — both legs
    non-finite, both excluded (the r14 advisor contract), while
    legitimate zero-norm vectors stay (ok=true, score NULL — the
    oracle's CASE)."""
    import numpy as np

    @F.pandas_udf(_SCORE_OK)
    def cosf(v: pd.Series, bv: pd.Series) -> pd.DataFrame:
        A, _ = _vector_matrix(v, "pair_cosine_flags")
        B, _ = _vector_matrix(bv, "pair_cosine_flags", dim=A.shape[1])
        ln = np.sqrt(_fold(A, A))
        rn = np.sqrt(_fold(B, B))
        return pd.DataFrame(
            {
                "score": _cosine(_fold(A, B), ln * rn),
                "ok": pd.Series(np.isfinite(ln) & np.isfinite(rn)),
            }
        )

    return cosf.asNondeterministic()


def query_cosine_flags_pandas(query):
    """Fused literal-query cosine, the one scorer of ``topk_brute``
    (every literal-query top-k key): one Arrow pass emitting
    ``struct<score: double, ok: boolean>`` — the dot against the
    fixed query vector AND the row norm as the oracle's left folds
    (``_fold``, IEEE sqrt; bit-identical doubles), with ``ok`` the
    finite-geometry scope on the norm (NaN fold → NaN, Inf fold →
    +Inf, both excluded; finite zero-norm rows stay and score NULL —
    the oracle's CASE). No dim-unrolled expression tree enters the
    plan."""
    import numpy as np

    q = np.asarray([float(x) for x in query], dtype=np.float64)
    qn = float(np.sqrt(_fold(q, q)))

    @F.pandas_udf(_SCORE_OK)
    def qcos(v: pd.Series) -> pd.DataFrame:
        A, _ = _vector_matrix(v, "query_cosine_flags", dim=len(q))
        nrm = np.sqrt(_fold(A, A))
        return pd.DataFrame(
            {"score": _cosine(_fold(A, q), nrm * qn), "ok": pd.Series(np.isfinite(nrm))}
        )

    return qcos.asNondeterministic()


def centroid_dists_pandas(centroid_vectors):
    """Scalar Pandas UDF returning the RAW squared-L2 distance of a
    vector to each of K centroids as ``array<double>`` (centroid
    order = input order).

    Each distance is the ``(a_i - c_i)²`` left fold (``_fold``), so it
    is bit-identical to the flat codegen fold and to DuckDB's
    list_sum — rounding and argmin stay JVM-side on the tiny output
    array, keeping the oracle arithmetic entirely out of numpy's
    rounding semantics. Exists because K unrolled distance
    expressions in one projection (K·dim·2 terms) cost tens of
    seconds of janino compile per query (measured 28 s for K=8,
    dim=64 — plan-size disease, not data cost).

    Masked rows (NULL vector, NULL/NaN/Inf component) get a NULL
    distance list. The kmeans callers filter ``dists IS NOT NULL`` on
    this output; an input-side fold filter referenced across the
    iterate plan's three consumers re-inlined the 64-term fold
    everywhere and measured 7× (the janino/pushdown class)."""
    import numpy as np

    C = np.asarray([list(v) for v in centroid_vectors], dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def dists(vecs: pd.Series) -> pd.Series:
        A, ok = _vector_matrix(vecs, "centroid_dists", dim=C.shape[1], masked=True)
        M = np.stack([_fold(d, d) for d in (A - c for c in C)], axis=1)
        return _cells(M, ok)

    return dists.asNondeterministic()


def bucket_norm_pandas(planes_flat, planes_per_table: int, tables: int):
    """Fused LSH bucketer + per-vector L2 norm (r15 optimization
    round): one Arrow pass emitting ``struct<bs: array<long>, nrm:
    double>`` — all ``tables`` hash-table bucket ids of a vector, each
    tagged with ``t * 2**planes_per_table``, plus the norm double of
    the oracle's self-dot left fold (``_fold``, IEEE sqrt).

    Bucket bit order is the oracle's (first plane = MSB), and the
    SIGNS are bit-identical to the oracle's left-to-right sign fold at
    matmul speed
    (``hybrid_fold_signs``). This is the multi-table scale path: L×p
    flat sign-fold expressions in one projection blow past the JVM's
    generated-method JIT budget and run interpreted (measured 6×
    slower than the numpy kernel over the same planes), while the
    Arrow batch keeps plan size independent of L and p.

    Why the norm rides along: every bucketed vector path (knn_join,
    build_ann_index, incremental_knn, embedding_near_dup_pairs)
    projected the norm as a dim-unrolled codegen fold NEXT TO the
    bucketer kernel — the vectors cross the Python boundary for the
    buckets anyway, so the norm there is one extra vectorized fold
    over bytes already in cache, while the codegen spelling re-built
    a 64-term expression tree per side per query.

    Masked rows (NULL vector, NULL/NaN/Inf component) get NULL ``bs``
    AND NULL ``nrm`` — consumers' bucket filters exclude those rows
    before anything shuffles, and the NULL nrm can never reach a
    score."""
    import numpy as np

    P = np.asarray([list(p) for p in planes_flat], dtype=np.float64)  # (L*p, d)
    weights = (
        np.left_shift(
            np.int64(1), np.arange(planes_per_table - 1, -1, -1, dtype=np.int64)
        )
    )
    tags = np.arange(tables, dtype=np.int64) << planes_per_table
    ret = T.StructType(
        [
            T.StructField("bs", T.ArrayType(T.LongType())),
            T.StructField("nrm", T.DoubleType()),
        ]
    )

    @F.pandas_udf(ret)
    def bucket_norm(vecs: pd.Series) -> pd.DataFrame:
        m, ok = _vector_matrix(vecs, "bucket_norm", dim=P.shape[1], masked=True)
        signs = hybrid_fold_signs(m, P)
        bs = signs.reshape(len(m), tables, planes_per_table).astype(np.int64) @ weights
        return pd.DataFrame(
            {"bs": _cells(bs + tags, ok), "nrm": _cells(np.sqrt(_fold(m, m)), ok)}
        )

    return bucket_norm.asNondeterministic()


def hybrid_fold_signs(m, P):
    """The hybrid bucketer's sign kernel, factored out so the error
    bound is a property-testable invariant without a SparkSession
    (tests/test_property_scalars.py), the way ``_mg_merge_pairs`` pins
    the Misra-Gries retention guarantee.

    Returns the boolean sign matrix (projection >= 0) for rows ``m``
    (n x d) against planes ``P`` (q x d), GUARANTEED entry-for-entry
    equal to the sequential left fold ``((m[i,0]*P[j,0]) + m[i,1]*
    P[j,1]) + ...``: BLAS computes the projection in some arbitrary
    summation order, but any two orders of summing d products differ
    by at most ~2·d·u·Σ|mᵢPⱼᵢ| (standard floating-point summation
    error, u = 2⁻⁵³; 8·d·u used for margin) — so wherever |matmul
    projection| exceeds that bound its sign equals the fold's sign
    mathematically, and inside the bound the kernel RECOMPUTES the
    exact fold and lets its value decide."""
    import numpy as np

    m = np.ascontiguousarray(m, dtype=np.float64)
    proj = m @ P.T  # (n, q)
    # summation-order error bound: |any-order - fold| ≤ 8·d·u·Σ|terms|
    bound = (np.abs(m) @ np.abs(P.T)) * (8.0 * m.shape[1] * 2.0**-53)
    risky_rows = (np.abs(proj) <= bound).any(axis=1)
    if risky_rows.any():
        # exact per-dimension left fold for the rows holding risky
        # entries, VECTORIZED across those rows and all planes —
        # degenerate inputs (all-zero/padding embeddings make every
        # entry risky) must not fall onto a per-entry Python loop
        proj[risky_rows] = _fold(m[risky_rows, None, :], P)
    return proj >= 0


def _keyed_items(df: DataFrame, col: str, by: Sequence[str]) -> DataFrame:
    """The ``(*by, col)`` rows both sketch phases read: NULL items and
    NULL group keys are excluded by declared semantics."""
    keep = F.col(col).isNotNull()
    for c in by:
        keep &= F.col(c).isNotNull()
    return df.select(*by, col).filter(keep)


def misra_gries_candidates(
    df: DataFrame, col: str, k: int, by: Sequence[str] = ()
) -> DataFrame:
    """Phase 1 of distributed heavy hitters: one mergeable Misra-Gries
    summary of capacity ``k`` per (input partition, group) pair
    (mapInArrow), emitting at most ``k`` candidate items per pair. The
    group is the tuple of ``by`` values; at ``by=()`` every row has the
    key ``()``, so the summary is the global one.

    Counting is Arrow's C++ ``group_by([*by, col])`` on the buffered
    RecordBatches — no per-row Python and no Arrow→pandas
    materialization of the item strings; Python touches only the
    DISTINCT (group, item) pairs of each chunk — and each group's
    counts are merged by the mergeable-summaries rule
    (``_mg_merge_pairs``): when more than ``k`` items are held,
    subtract the (k+1)-th largest count from every item and drop the
    non-positive ones. Standard guarantee (Misra-Gries / PODS'12
    mergeable summaries): an item whose count in a (partition, group)
    slice exceeds (slice rows)/(k+1) always survives, so the union of
    per-partition candidates is a SUPERSET of every item with group
    count > n_g/k — pigeonhole: such an item must beat the threshold
    in at least one partition. Phase 2 (the exact masked recount,
    ``_masked_recount``) then makes the final answer exact and
    deterministic regardless of which extra candidates each
    partitioning produces.

    Scale shape: the shuffle after this operator carries at most
    (partitions x groups x k) candidate rows, NOT any group's
    vocabulary — the point of the sketch when the vocabulary itself is
    too large to hash-aggregate cheaply.

    The output ``(*by, col)`` takes its schema from the input columns,
    so non-string keys (the common bigint case) work without a cast —
    every yielded array is built with the EXPLICIT Arrow type of its
    column (inference from Python ints would always produce int64 and
    fail mapInArrow's declared-schema check for narrower int
    columns)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    names = [*by, col]
    types = [df.schema[c].dataType for c in names]
    arrow_types = [to_arrow_type(t) for t in types]

    # Arrow batches arrive at ~10k rows; counting per batch would run
    # the Python pair loop once per batch (measured ~1.1M iterations
    # over 6M grams at sf0.1). Buffering ~256k rows per C++ group_by
    # keeps the loop at distinct-pairs per CHUNK — a ~25× cut
    # (fixtures/ab_sketch_chunk.py) — and the mergeable-summaries
    # algebra is indifferent to the chunking (pre-counted chunks merge
    # the same as rows).
    chunk_rows = 1 << 18

    def summarize(batches):
        sums: dict = {}

        def flush(buf):
            counted = (
                pa.Table.from_batches(buf)
                .group_by(names)
                .aggregate([([], "count_all")])
            )
            per: dict = {}
            for *g, it, c in zip(
                *(counted.column(n).to_pylist() for n in [*names, "count_all"])
            ):
                per.setdefault(tuple(g), []).append((it, c))
            for g, pairs in per.items():
                _mg_merge_pairs(sums.setdefault(g, {}), pairs, k)

        buf, buffered = [], 0
        for batch in batches:
            buf.append(batch)
            buffered += batch.num_rows
            if buffered >= chunk_rows:
                flush(buf)
                buf, buffered = [], 0
        if buf:
            flush(buf)
        rows = [(*g, it) for g, cs in sums.items() for it in cs]
        # yield nothing for empty summaries (equal-counts compression
        # can drop every held item): an empty python list would
        # type-infer as null and fight the declared schema
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(v), type=t) for v, t in zip(zip(*rows), arrow_types)],
                names=names,
            )

    return _keyed_items(df, col, by).mapInArrow(
        summarize,
        schema=T.StructType([T.StructField(c, t) for c, t in zip(names, types)]),
    )


def _mg_merge_pairs(counts: dict, pairs, k: int) -> None:
    """Merge pre-counted (item, count) pairs into a Misra-Gries
    summary in place (mergeable-summaries compression: add the
    batch's counts, then if more than ``k`` items are held, subtract
    the (k+1)-th largest count and drop non-positive items). The
    Python loop touches only DISTINCT items per batch, never rows —
    counting itself happens upstream (Arrow group_by / pandas
    value_counts)."""
    import heapq

    for item, c in pairs:
        counts[item] = counts.get(item, 0) + int(c)
    if len(counts) > k:
        thr = heapq.nlargest(k + 1, counts.values())[-1]
        for i, c in list(counts.items()):
            if c - thr > 0:
                counts[i] = c - thr
            else:
                del counts[i]


def _masked_recount(
    df: DataFrame, col: str, sketch_k: int, by: Sequence[str] = ()
) -> DataFrame:
    """Phase 2, the second and last scan of the input: every row's
    item is mapped to itself if (group, item) is a sketch candidate
    and to NULL otherwise (left join against the broadcast candidate
    set), so ONE ``(*by, __k)`` hash aggregation yields each
    candidate's exact ``cnt`` AND, summed per group over its at most
    (partitions x sketch_k + 1) rows, the group's exact total n_g —
    no third scan for the totals."""
    cands = misra_gries_candidates(df, col, sketch_k, by).distinct()
    return (
        _keyed_items(df, col, by)
        .join(
            F.broadcast(cands.withColumn("__cand", F.lit(True))),
            [*by, col],
            "left",
        )
        .select(*by, F.when(F.col("__cand"), F.col(col)).alias("__k"))
        .groupBy(*by, "__k")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def topk_frequent_sketch(
    df: DataFrame, col: str, k: int, sketch_k: int, by: Sequence[str] = ()
) -> DataFrame:
    """Top-``k`` most frequent non-null items per group of ``by`` (the
    whole input at ``by=()``) via the two-phase Misra-Gries sketch +
    exact recount — the vocabulary-too-big path behind a plain
    ``GROUP BY item ORDER BY count`` top-k, and per group the
    per-language vocabulary heads a sharded training pipeline audits
    per shard. Output ``(*by, col, cnt)``.

    Two scans, as ``heavy_hitters_exact``: per-(partition, group)
    summaries of capacity ``sketch_k`` (candidates only — never the
    vocabulary shuffles), then ONE masked recount giving each
    candidate's exact count and each group's exact total n_g. Ranking
    and the exactness guard then run per group over the tiny candidate
    frame with a (count DESC, item ASC) total order — the global top-k
    therefore comes out in that order.

    Exactness regime per group: any non-candidate has true count
    <= n_g/(sketch_k+1) (mergeable-summaries retention bound), so the
    group's returned set IS its top-k whenever its k-th returned count
    exceeds n_g/(sketch_k+1). That check is embedded in the plan
    (CASE + raise_error over the result — lazy, one compare per
    returned row) and raises when ANY group leaves the provable regime,
    including the fewer-than-k-candidates case where a non-candidate
    could belong to the result. Sizing rule: pick sketch_k so the
    expected k-th count clears n_g/(sketch_k+1) with margin — counts
    are integers, so when the guard passes the result is exact and the
    oracle comparison is bit-for-bit."""
    from pyspark.sql import Window as W

    grouped = _masked_recount(df, col, sketch_k, by)
    item_type = df.schema[col].dataType
    msg = (
        "topk_frequent_sketch: data outside the provable regime for "
        f"sketch_k={sketch_k}, k={k}, by={list(by)} — a group's k-th "
        "count does not clear its n/(sketch_k+1); enlarge sketch_k"
    )
    # ``grouped`` is tiny (at most partitions x sketch_k candidates
    # plus one NULL mask bucket per group), so the ranking/guard
    # windows below run over small partitions — and the whole guard is
    # ONE lineage (the input is scanned exactly twice: sketch +
    # recount). The literal 1 partitions both shapes by one
    # expression; Catalyst drops the foldable key, so ``by=()`` plans
    # as one single-partition window. n_g and the candidate count come
    # from one window pass over the WHOLE group (null bucket included —
    # its cnt is part of n_g); candidates rank below-null-last so the
    # null bucket never holds a top-k rank.
    w1 = W.partitionBy(F.lit(1), *by)
    wrank = w1.orderBy(
        F.col("__k").isNull().asc(), F.col("cnt").desc(), F.col("__k").asc()
    )
    ranked = (
        grouped.withColumn("__n", F.sum("cnt").over(w1))
        .withColumn(
            "__cands",
            F.count(F.when(F.col("__k").isNotNull(), F.lit(1))).over(w1),
        )
        .withColumn("__rank", F.row_number().over(wrank))
        .withColumn(
            "__kth",
            F.max(
                F.when(
                    (F.col("__rank") == k) & F.col("__k").isNotNull(),
                    F.col("cnt"),
                )
            ).over(w1),
        )
    )
    # Row retention: each group's k best candidates — plus, when a
    # group's candidate set is EMPTY (aggressive compression on flat
    # data can empty every partition summary — observed, partition-
    # layout dependent), its NULL-mask bucket row, which then exists
    # by construction (every row of the group was masked to it) and
    # carries the guard that an empty group result would bypass.
    keep = ranked.filter(
        (F.col("__k").isNotNull() & (F.col("__rank") <= k))
        | (F.col("__k").isNull() & (F.col("__cands") == 0))
    )
    # Per-row guard: fires when a group has fewer than k candidates or
    # its k-th count does not clear the non-candidate ceiling. CASE is
    # lazy, so in-regime data pays k compares per group; the
    # projection is never reordered below its filter, so the
    # null-bucket sentinel raises if and only if it was kept.
    bad = (
        F.col("__k").isNull()
        | (F.col("__cands") < F.lit(k))
        | (F.col("__kth") * F.lit(sketch_k + 1) <= F.col("__n"))
    )
    return keep.select(
        *by,
        F.when(bad, F.raise_error(F.lit(msg)).cast(item_type))
        .otherwise(F.col("__k"))
        .alias(col),
        "cnt",
    )


def heavy_hitters_exact(df: DataFrame, col: str, k: int) -> DataFrame:
    """Exact heavy hitters (non-null items with count > n/k, n = the
    non-null row count) in exactly TWO scans of the input: the
    Misra-Gries candidate sketch per partition, then the masked
    recount (``_masked_recount``), whose at most (partitions x k + 1)
    rows carry the candidates' exact counts AND sum to the exact total
    n. The final threshold filter runs on that tiny aggregated frame.
    Output (item, cnt) is exact and partition-invariant by
    construction. NULL input items are excluded by declared semantics
    (filter first to include-as-a-key behavior if needed)."""
    grouped = _masked_recount(df, col, k)
    tot = grouped.agg(F.sum("cnt").alias("__n"))
    return (
        grouped.filter(F.col("__k").isNotNull())
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") > F.col("__n") / float(k))
        .select(F.col("__k").alias(col), "cnt")
    )
