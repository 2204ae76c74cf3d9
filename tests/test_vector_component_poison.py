"""Vector-COMPONENT poison gate (r13 — the r11 non-finite class's
missing arm): the scalar arms planted NaN/Inf in events.value and
orders.o_totalprice, but never INSIDE embedding vectors. First run
found the engines splitting exactly as the scalar class predicted:

- embedding-centroid hit the silent-vs-loud decimal split (DuckDB's
  CAST(NaN AS DECIMAL) raises; Spark's silently NULLs the component
  out of the class mean — a silent wrong answer);
- every similarity surface MISMATCHed: NaN cosine scores rank
  differently under the two engines' NaN orderings, and poisoned
  vectors polluted LSH buckets/candidates asymmetrically;
- array-ops diverged on the NULL-component lane (Spark array_min/max
  skip NULLs; the oracle's list_sort kept them).

Policy (the NULL-vector degrade contract extended): a vector with a
NULL or non-finite COMPONENT carries no usable geometry and is
excluded from the vector universe at every operator boundary —
``functions/vectors.finite_vector`` engine-side, ``FINITE_VEC_SQL``
oracle-side, two-sided like every poison class. The Arrow kernels
keep a LOUD backstop (SchemaContractError) for direct API use that
bypasses operator boundaries. Pure array SURFACES (array-ops,
explode) are not geometry — they pass the poison through, with
oracle expressions chosen to match Spark's array semantics exactly.

Three poison lanes planted per run: a NaN component (vec_id % 37),
an Infinity component (% 41), a NULL component (% 43).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import duckdb
import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import queries as Q
from reverse_etl_homebrew_spark.functions import vectors as VEC

from test_oracle_parity import _duck, _rowset

SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# every registered key that reads the embeddings table
KEYS = [
    # geometry tier — excluded-vector semantics
    "topk-similarity", "topk-similarity-pandas", "topk-similarity-lsh",
    "topk-similarity-ivf", "knn-join", "knn-join-tables", "knn-join-lsh",
    "similarity-join", "embedding-near-dup", "embedding-centroid",
    "kmeans-assign", "kmeans-iterate", "incremental-knn", "hybrid-rrf",
    "corpus-refresh-pipeline",
    # array surfaces — poison passes through, engines must agree on it
    "array-ops", "explode-posexplode", "multimodal-cols",
]


def _plant_poison(guard: str) -> str:
    """A copy of the sf0.001 tables with the three poison lanes planted
    in the embeddings rows that pass ``guard`` (a SQL predicate)."""
    out = tempfile.mkdtemp(prefix="sg-veccomp-")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "embeddings":
            con.execute(
                f"""
                COPY (
                  SELECT vec_id,
                         CASE
                           WHEN NOT ({guard}) THEN embedding
                           WHEN vec_id % 37 = 0 THEN list_transform(
                             embedding, (x, i) ->
                             CASE WHEN i = 1 THEN 'NaN'::FLOAT ELSE x END)
                           WHEN vec_id % 41 = 0 THEN list_transform(
                             embedding, (x, i) ->
                             CASE WHEN i = 2 THEN 'Infinity'::FLOAT ELSE x END)
                           WHEN vec_id % 43 = 0 THEN list_transform(
                             embedding, (x, i) ->
                             CASE WHEN i = 3 THEN NULL ELSE x END)
                           ELSE embedding
                         END AS embedding,
                         label
                  FROM read_parquet('{src}')
                ) TO '{dst}' (FORMAT PARQUET)
                """
            )
        else:
            shutil.copyfile(src, dst)
    con.close()
    return out


@pytest.fixture(scope="module")
def poisoned_dir():
    # vec_id 0 is in the NaN lane, so every seed-based key degrades
    # and is fenced EMPTY on both engines here
    return _plant_poison("TRUE")


@pytest.fixture(scope="module")
def duck(poisoned_dir):
    return _duck(poisoned_dir)


@pytest.fixture(scope="module")
def clean_seed_dir():
    # the same lanes with the seed (vec_id 0) left clean, so the
    # seed-based keys rank the poisoned universe instead of fencing
    return _plant_poison("vec_id > 0")


@pytest.fixture(scope="module")
def clean_seed_duck(clean_seed_dir):
    return _duck(clean_seed_dir)


@pytest.mark.parametrize("name", KEYS)
def test_component_poison_parity(spark, name, duck, poisoned_dir):
    sdf = Q.QUERIES[name](spark, poisoned_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(Q.ORACLE[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)


# every registered key that ranks against the vec_id-0 seed
SEED_KEYS = [
    "topk-similarity", "topk-similarity-pandas", "topk-similarity-lsh",
    "topk-similarity-ivf", "hybrid-rrf",
]


@pytest.mark.parametrize("name", SEED_KEYS)
def test_component_poison_parity_clean_seed(
    spark, name, clean_seed_dir, clean_seed_duck
):
    """The seed-based keys over a poisoned universe with a clean seed:
    the seed is found, the result is not fenced EMPTY, and it matches
    the oracle — no NaN-scored poisoned vector ranks into it."""
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    _, found = VEC.query_vector(load_table(spark, clean_seed_dir, "embeddings"))
    assert found
    sdf = Q.QUERIES[name](spark, clean_seed_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = clean_seed_duck.execute(Q.ORACLE[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    assert s_rows
    assert sorted(s_cols) == sorted(d_cols)
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)


def test_poison_is_nonvacuous(spark, poisoned_dir):
    """The poisoned universe must actually shrink: excluded vectors
    exist, and the geometry keys run on strictly fewer vectors."""
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    e = load_table(spark, poisoned_dir, "embeddings")
    n_total = e.count()
    n_finite = e.where(VEC.finite_vector(F.col("embedding"))).count()
    assert 0 < n_finite < n_total


def test_finite_vector_truth_table(spark):
    rows = [
        (1, [1.0, 2.0]),
        (2, [float("nan"), 1.0]),
        (3, [float("inf"), 1.0]),
        (4, [float("-inf"), 1.0]),
        (5, [None, 1.0]),
        (6, None),
        (7, []),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {
        r["id"]: r["ok"]
        for r in df.select(
            "id", VEC.finite_vector(F.col("v")).alias("ok")
        ).collect()
    }
    # r14 (advisor): the empty array is OUT — forall alone was
    # vacuously true on it, but it carries no geometry and the
    # declared SQL twin FINITE_VEC_SQL requires len(c) > 0
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False,
                   6: False, 7: False}
    # the hot-path geometry form agrees on every poison lane; a
    # RAGGED vector (shorter than the table dim, incl. empty) stays
    # LOUD — ANSI element_at raises out-of-range, exactly as every
    # pre-existing norm/dot call site already did (the per-row dim
    # contract; table-level dim drift is refused at index boundaries)
    uniform = df.where(F.col("id") != 7)
    geo = {
        r["id"]: bool(r["ok"])
        for r in uniform.select(
            "id",
            F.coalesce(
                VEC.finite_geometry(F.col("v"), 2), F.lit(False)
            ).alias("ok"),
        ).collect()
    }
    assert geo == {1: True, 2: False, 3: False, 4: False, 5: False,
                   6: False}
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX|out of bounds"):
        df.select(VEC.finite_geometry(F.col("v"), 2).alias("ok")).collect()


def test_finite_geometry_matches_sql_twin_on_poison(spark):
    """The engine predicate and FINITE_VEC_SQL must agree row-for-row
    on the poisoned table — the two-sidedness that makes every
    geometry oracle's scope exact."""
    import duckdb

    from reverse_etl_homebrew_spark.sqlfrags import FINITE_VEC_SQL

    rows = [
        (1, [1.0, 2.0]), (2, [float("nan"), 1.0]),
        (3, [float("inf"), 1.0]), (4, [None, 1.0]), (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    eng = {
        r["id"]: bool(r["ok"])
        for r in df.select(
            "id",
            F.coalesce(
                VEC.finite_geometry(F.col("v"), 2), F.lit(False)
            ).alias("ok"),
        ).collect()
    }
    con = duckdb.connect()
    lit = {
        1: "[1.0::DOUBLE, 2.0]", 2: "['NaN'::DOUBLE, 1.0]",
        3: "['Infinity'::DOUBLE, 1.0]", 4: "[NULL::DOUBLE, 1.0]",
        5: "NULL::DOUBLE[]",
    }
    for i, arr in lit.items():
        (ok,) = con.execute(
            f"SELECT coalesce({FINITE_VEC_SQL.format(c=arr)}, FALSE)"
        ).fetchone()
        assert bool(ok) == eng[i], i
    con.close()


def test_bucketer_masks_poison_to_null_bucket(spark):
    """The masking bucketer IS the finite-geometry scope for every
    bucketed operator: corrupt vectors (NaN/Inf/NULL component, whole
    NULL) get a NULL bucket — which no equi-join or isin() can match
    — while clean rows bucket normally. (A first-draft batch-wide
    loud kernel guard + input-side fold filters measured 1.2-2.3× on
    the hot similarity keys; the mask is an attribute barrier
    Catalyst cannot push back into a duplicated fold.)"""
    from reverse_etl_homebrew_spark.operators.similarity import (
        _deterministic_planes,
    )
    from reverse_etl_homebrew_spark.operators.vectorized import (
        bucket_norm_pandas,
    )

    hp = _deterministic_planes(4, 3)
    b = bucket_norm_pandas(hp, 4, tables=1)
    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [float("nan"), 1.0, 1.0]),
        (3, [float("inf"), 1.0, 1.0]),
        (4, [None, 1.0, 1.0]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {
        r["id"]: r["bk"]
        for r in df.select(
            "id", F.element_at(b(F.col("v")).getField("bs"), 1).alias("bk")
        ).collect()
    }
    assert got[1] is not None
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[5] is None


_NAN, _INF = float("nan"), float("inf")


def _lfold(a, b):
    # the oracle's sequential left fold, started from the first product
    acc = a[0] * b[0]
    for x, y in zip(a[1:], b[1:]):
        acc += x * y
    return acc


_Q = [1.0, -2.0, 2.0]
_C = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]


def _kernels():
    """name → (masking?, run(left, right) → one normalized cell per
    row, the expected cell of a clean row)."""
    import numpy as np
    import pandas as pd

    from reverse_etl_homebrew_spark.operators import vectorized as VZ
    from reverse_etl_homebrew_spark.operators.similarity import _deterministic_planes

    def cell(x):
        if x is None or (isinstance(x, float) and math.isnan(x)):
            return None
        if isinstance(x, np.ndarray):
            return [cell(v) for v in x.tolist()]
        return x.item() if isinstance(x, np.generic) else x

    def rows(out):
        if isinstance(out, pd.DataFrame):
            return [tuple(cell(v) for v in r) for r in out.itertuples(index=False)]
        return [cell(v) for v in out]

    def norm(v):
        return math.sqrt(_lfold(v, v))

    def norms(vecs):
        return pd.Series([_NAN if v is None or not len(v) else norm(v) for v in vecs])

    hp = _deterministic_planes(4, 3)
    qn = norm(_Q)
    ivf = VZ.ivf_cell_pandas(_C).func
    pc = VZ.pair_cosine_pandas().func
    pcf = VZ.pair_cosine_flags_pandas().func
    qcf = VZ.query_cosine_flags_pandas(_Q).func
    cd = VZ.centroid_dists_pandas(_C).func
    bn = VZ.bucket_norm_pandas(hp, 4, tables=1).func
    return {
        "ivf_assign": (
            True,
            lambda a, b: rows(ivf(a)),
            lambda v: max(range(len(_C)), key=lambda j: _lfold(v, _C[j])),
        ),
        "pair_cosine": (
            False,
            lambda a, b: rows(pc(a, b, norms(a), norms(b))),
            lambda v: _lfold(v, v) / (norm(v) * norm(v)),
        ),
        "pair_cosine_flags": (
            False,
            lambda a, b: rows(pcf(a, b)),
            lambda v: (_lfold(v, v) / (norm(v) * norm(v)), True),
        ),
        "query_cosine_flags": (
            False,
            lambda a, b: rows(qcf(a)),
            lambda v: (_lfold(v, _Q) / (norm(v) * qn), True),
        ),
        "centroid_dists": (
            True,
            lambda a, b: rows(cd(a)),
            lambda v: [
                _lfold([x - y for x, y in zip(v, c)], [x - y for x, y in zip(v, c)])
                for c in _C
            ],
        ),
        "bucket_norm": (
            True,
            lambda a, b: rows(bn(a)),
            lambda v: (
                [
                    sum(
                        (1 if _lfold(v, p) >= 0 else 0) << (len(hp) - 1 - i)
                        for i, p in enumerate(hp)
                    )
                ],
                norm(v),
            ),
        ),
    }


_KERNELS = [
    "ivf_assign", "pair_cosine", "pair_cosine_flags",
    "query_cosine_flags", "centroid_dists", "bucket_norm",
]
# case → (left batch, right batch for the pair kernels, per-row state):
# "raise" = SchemaContractError naming the kernel; per row, True =
# corrupt (masked to NULL, or for a scoring kernel numpy's NaN
# garbage-in), False = clean
_CASES = {
    "empty": ([], None, []),
    "all-null": ([None, None], None, [True, True]),
    "length-0": ([[]], None, "raise"),
    "ragged": ([[1.0, 2.0, 3.0], [1.0, 2.0]], None, "raise"),
    "nan-inf": (
        [[_NAN, 1.0, 1.0], [1.0, 2.0, 3.0], [_INF, 1.0, 1.0]],
        None,
        [True, False, True],
    ),
    "single-row": ([[1.0, 2.0, 3.0]], None, [False]),
}
_PAIR_CASES = {
    "narrow-left": ([[1.0, 2.0]], [[1.0, 2.0, 3.0]], "raise"),
    "narrow-right": ([[1.0, 2.0, 3.0]], [[1.0, 2.0]], "raise"),
}


@pytest.mark.parametrize(
    "kernel, case",
    [(k, c) for k in _KERNELS for c in _CASES]
    + [(k, c) for k in ("pair_cosine", "pair_cosine_flags") for c in _PAIR_CASES],
    ids=lambda x: x,
)
def test_kernel_batch_contract(kernel, case):
    """Every vector kernel on one Arrow batch, through the one batch
    contract: an empty batch is an empty result; a ragged batch, a
    length-0 vector, or a pair whose sides differ in width is a
    SchemaContractError naming the kernel; a NULL vector is that error
    for a scoring kernel and a masked NULL cell for a masking kernel,
    as is a NaN/Inf component; clean rows carry the oracle's
    left-fold doubles."""
    import numpy as np
    import pandas as pd

    from reverse_etl_homebrew_spark.sources.catalog import SchemaContractError

    left, right, state = {**_CASES, **_PAIR_CASES}[case]
    masking, run, want = _kernels()[kernel]

    def series(batch):
        return pd.Series(
            [None if v is None else np.asarray(v, dtype=np.float64) for v in batch],
            dtype=object,
        )

    a = series(left)
    b = a if right is None else series(right)
    if state == "raise" or (not masking and None in left):
        with pytest.raises(SchemaContractError, match=kernel):
            run(a, b)
        return
    got = run(a, b)
    assert len(got) == len(left)
    for v, corrupt, g in zip(left, state, got):
        if not corrupt:
            assert g == want(v), (v, g)
        elif masking:
            assert g is None or g == (None, None), (v, g)
        else:
            # scoring kernels do not rescan for non-finite components:
            # the score is NaN (NULL), and a flags kernel's ok is False
            assert g is None or g == (None, False), (v, g)


def test_exact_branch_norm_kernel_distinguishes_poison_from_zero(spark):
    """The exact knn branch's fused kernel (pair_cosine_flags_pandas)
    scores each pair with its fold-exact norms: poisoned vectors →
    ok=false (excluded), zero vectors → ok=true with a NULL score
    (kept — their pairs legitimately score NULL like the oracle's
    CASE)."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        pair_cosine_flags_pandas,
    )

    cosf = pair_cosine_flags_pandas()
    rows = [
        (1, [3.0, 4.0]),
        (2, [0.0, 0.0]),
        (3, [float("nan"), 1.0]),
        (4, [None, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {
        r["id"]: (r["f"]["ok"], r["f"]["score"])
        for r in df.select("id", cosf("v", "v").alias("f")).collect()
    }
    assert got[1] == (True, 1.0)
    assert got[2] == (True, None)
    assert got[3][0] is False and got[4][0] is False


def test_query_vector_degrades_on_nonfinite_seed(spark):
    schema = "vec_id int, embedding array<double>"
    df = spark.createDataFrame([(0, [float("nan"), 1.0]), (1, [1.0, 2.0])], schema)
    vec, found = VEC.query_vector(df)
    assert not found
    assert all(x == 0.0 for x in vec)
    finite = spark.createDataFrame([(0, [1.0, 2.0])], schema)
    vec1, found1 = VEC.query_vector(finite)
    assert found1 and math.isfinite(sum(vec1))
