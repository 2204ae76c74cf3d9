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


@pytest.fixture(scope="module")
def poisoned_dir():
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
def duck(poisoned_dir):
    return _duck(poisoned_dir)


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
    from reverse_etl_homebrew_spark.operators.dedup import (
        _deterministic_planes,
    )
    from reverse_etl_homebrew_spark.operators.vectorized import (
        table_buckets_pandas,
    )

    hp = _deterministic_planes(4, 3)
    b = table_buckets_pandas(hp, 4, tables=1)
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
            "id", F.element_at(b(F.col("v")), 1).alias("bk")
        ).collect()
    }
    assert got[1] is not None
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[5] is None


_NAN, _INF = float("nan"), float("inf")


@pytest.mark.parametrize(
    "batch, masked",
    [
        ([[1.0, 2.0, 3.0], [1.0, 2.0]], "ragged"),
        ([[]], "length-0"),
        ([None, None], [True, True]),
        ([[_NAN, 1.0, 1.0], [1.0, 2.0, 3.0], [_INF, 1.0, 1.0]], [True, False, True]),
        ([[1.0, 2.0, 3.0]], [False]),
        ([], []),
    ],
    ids=["ragged", "length-0", "all-null", "nan-inf", "single-row", "empty"],
)
def test_bucket_norm_kernel_batch_contract(batch, masked):
    """The fused bucket+norm kernel, called on one Arrow batch: a
    ragged batch or a length-0 vector is the SchemaContractError the
    scoring kernels raise; NULL and NaN/Inf rows are masked to a NULL
    bucket list and NULL norm; clean rows bucket and carry the norm."""
    import numpy as np
    import pandas as pd

    from reverse_etl_homebrew_spark.operators.dedup import _deterministic_planes
    from reverse_etl_homebrew_spark.operators.vectorized import bucket_norm_pandas
    from reverse_etl_homebrew_spark.sources.catalog import SchemaContractError

    kernel = bucket_norm_pandas(_deterministic_planes(4, 3), 4, tables=1).func
    vecs = pd.Series(
        [None if v is None else np.asarray(v, dtype=np.float64) for v in batch],
        dtype=object,
    )
    if isinstance(masked, str):
        with pytest.raises(SchemaContractError, match="bucket_norm"):
            kernel(vecs)
        return
    out = kernel(vecs)
    assert len(out) == len(batch)
    for v, dropped, bs, nrm in zip(batch, masked, out["bs"], out["nrm"]):
        if dropped:
            assert bs is None and (nrm is None or math.isnan(nrm))
        else:
            assert len(bs) == 1 and 0 <= bs[0] < 16
            assert nrm == math.sqrt(sum(x * x for x in v))


def test_exact_branch_norm_kernel_distinguishes_poison_from_zero(spark):
    """The exact knn branch's fold-exact norm kernel: poisoned
    vectors → NULL norm (excluded), zero vectors → 0.0 (kept — their
    pairs legitimately score NULL like the oracle's CASE)."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        norm_fold_pandas,
    )

    nrm = norm_fold_pandas()
    rows = [
        (1, [3.0, 4.0]),
        (2, [0.0, 0.0]),
        (3, [float("nan"), 1.0]),
        (4, [None, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {r["id"]: r["n"] for r in df.select("id", nrm("v").alias("n")).collect()}
    assert got[1] == 5.0
    assert got[2] == 0.0
    assert got[3] is None and got[4] is None


def test_query_vector_degrades_on_nonfinite_seed(spark):
    df = spark.createDataFrame(
        [(0, [float("nan"), 1.0]), (1, [1.0, 2.0])],
        "vec_id int, embedding array<double>",
    )
    vec, found = VEC.query_vector(df, vec_id=0)
    assert not found
    assert all(x == 0.0 for x in vec)
    vec1, found1 = VEC.query_vector(df, vec_id=1)
    assert found1 and math.isfinite(sum(vec1))
