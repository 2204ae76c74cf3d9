"""Pins for the two r12 advisor findings (ADVICE.md round 11).

1. ``content_dedup`` survivor election is now a TOTAL order: rows that
   tie on the id column (two NULL-id twins sharing a fingerprint)
   tie-break over every remaining column, so the survivor's non-key
   columns are deterministic and engine-agreed instead of
   partition-order dependent.

2. ``query_vector`` (and the centroid-seed collectors sharing its
   contract) treat a PRESENT seed row whose embedding is NULL exactly
   like a missing seed: zero-vector stand-in + ``found=False`` →
   fenced schema-correct empty result, matching the oracles' seed
   CTEs which now filter ``embedding IS NOT NULL`` — instead of the
   opaque ``TypeError: 'NoneType' is not iterable`` the advisor
   predicted.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import queries as Q
from reverse_etl_homebrew_spark.operators.dedup import content_dedup

from test_oracle_parity import _duck, _rowset

SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# ---------------------------------------------------------------------------
# 1. content_dedup total-order survivor election
# ---------------------------------------------------------------------------

_TWIN_ROWS = [
    # two NULL-id twins of the same normalized text, differing only in
    # the non-key columns — the advisor's exact nondeterminism case
    (None, "zz", "site-b", "The Same   Text!"),
    (None, "aa", "site-a", "the same text"),
    # a non-NULL twin of another fingerprint plus its NULL shadow:
    # NULLS LAST must still elect the identified row
    (7, "en", "site-c", "other doc"),
    (None, "de", "site-d", "Other Doc"),
    # a singleton
    (3, "fr", "site-e", "unique content"),
]


def _twin_df(spark, n_partitions: int):
    df = spark.createDataFrame(
        _TWIN_ROWS, "doc_id int, lang string, source string, text string"
    )
    return df.repartition(n_partitions)


def test_content_dedup_null_id_ties_are_deterministic(spark):
    """Survivor of two NULL-id twins is the total-order choice (lang
    'aa' < 'zz'), identical across partition layouts."""
    results = []
    for parts in (1, 3, 8):
        out = (
            content_dedup(_twin_df(spark, parts), "text", id_col="doc_id")
            .select("doc_id", "lang", "source")
            .collect()
        )
        results.append(sorted((r["lang"], r["source"]) for r in out))
    assert results[0] == results[1] == results[2]
    flat = dict(results[0])
    # NULL-id twins: 'aa' wins the tie-break; 'zz' is dropped
    assert "aa" in flat and "zz" not in flat
    # NULLS LAST: the identified row beats its NULL-id shadow
    assert "en" in flat and "de" not in flat


def test_exact_dedup_oracle_agrees_on_null_id_ties(spark, tmp_path):
    """The registered exact-dedup key and its SQL oracle elect the SAME
    survivor for NULL-id fingerprint twins (hash-level parity on the
    advisor's case, not just engine-side determinism)."""
    out = tempfile.mkdtemp(prefix="sg-tie-gate-")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "documents":
            con.execute(
                "CREATE TABLE twins (doc_id INT, lang VARCHAR, "
                "source VARCHAR, text VARCHAR)"
            )
            con.executemany(
                "INSERT INTO twins VALUES (?, ?, ?, ?)", _TWIN_ROWS
            )
            con.execute(
                f"""COPY (
                  SELECT doc_id, text, lang, source, length(text) AS n_chars
                  FROM twins
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        else:
            shutil.copyfile(src, dst)
    con.close()
    duck = _duck(out)
    sdf = Q.QUERIES["exact-dedup"](spark, out)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(Q.ORACLE["exact-dedup"])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)


# ---------------------------------------------------------------------------
# 2. NULL-embedding seed rows degrade like missing seeds
# ---------------------------------------------------------------------------

# the vector keys whose plans consume a driver-side seed (query vector
# at vec_id 0, k-means/IVF centroids at vec_id < 8)
SEED_KEYS = [
    "topk-similarity", "topk-similarity-lsh", "topk-similarity-pandas",
    "topk-similarity-ivf", "hybrid-rrf", "kmeans-assign", "kmeans-iterate",
]


@pytest.fixture(scope="module")
def null_seed_dir():
    """Copy of the testdata where every seed row (vec_id < 8, which
    covers the query seed vec_id = 0) has a NULL embedding."""
    out = tempfile.mkdtemp(prefix="sg-nullseed-")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "embeddings":
            con.execute(
                f"""COPY (
                  SELECT vec_id,
                         CASE WHEN vec_id < 8 THEN NULL ELSE embedding END
                           AS embedding,
                         label
                  FROM read_parquet('{src}')
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        else:
            shutil.copyfile(src, dst)
    con.close()
    return out


@pytest.fixture(scope="module")
def null_seed_duck(null_seed_dir):
    return _duck(null_seed_dir)


def test_query_vector_null_embedding_degrades(spark, null_seed_dir):
    from reverse_etl_homebrew_spark.functions.vectors import query_vector
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    emb = load_table(spark, null_seed_dir, "embeddings")
    vec, found = query_vector(emb)  # row EXISTS, embedding is NULL
    assert found is False
    assert all(v == 0.0 for v in vec)


@pytest.mark.parametrize("name", SEED_KEYS)
def test_null_embedding_seed_parity(spark, name, null_seed_duck, null_seed_dir):
    """No crash, and the two engines agree (seed CTEs filter NULL
    embeddings identically to the engine-side degrade)."""
    sdf = Q.QUERIES[name](spark, null_seed_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = null_seed_duck.execute(Q.ORACLE[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)


# ---------------------------------------------------------------------------
# 3. PARTIAL NULL: one NULL vector in the POPULATION, seeds healthy
#    (the r12 review's gap — the all-seeds-NULL fixture above never
#    exercises the Arrow kernels on the NULL row because the fences
#    prune the whole plan)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def partial_null_dir():
    """vec_id 3 has a NULL embedding; every other vector (including
    the query seed vec_id 0) is healthy."""
    out = tempfile.mkdtemp(prefix="sg-partialnull-")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "embeddings":
            con.execute(
                f"""COPY (
                  SELECT vec_id,
                         CASE WHEN vec_id = 3 THEN NULL ELSE embedding END
                           AS embedding,
                         label
                  FROM read_parquet('{src}')
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        else:
            shutil.copyfile(src, dst)
    con.close()
    return out


def test_codegen_population_paths_agree_on_partial_null(spark, partial_null_dir):
    """The flat-codegen scorer handles a NULL population row the SQL
    way on both engines: its score is NULL and it never ranks — true
    parity, no boundary needed."""
    sdf = Q.QUERIES["topk-similarity"](spark, partial_null_dir)
    s = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
    duck = _duck(partial_null_dir)
    cur = duck.execute(Q.ORACLE["topk-similarity"])
    d = _rowset([c[0] for c in cur.description], cur.fetchall())
    assert s == d


def test_arrow_kernels_exclude_partial_null_two_sided(spark, partial_null_dir):
    """SUPERSEDED CONTRACT (r13 vector-component poison class): the
    r12 pin had the centroid kernel REFUSE a NULL population vector
    loudly while the oracle kept running — loud-vs-running was itself
    an engine split. The r13 masking kernels close it two-sided: a
    NULL (or non-finite-component) vector masks to NULL kernel output
    and is EXCLUDED on both engines (the oracles' FINITE_VEC_SQL
    scope), so the key now runs to full parity on the partial-NULL
    population instead of raising. The original finding's substance —
    no opaque numpy ragged-array crash — still holds: the crash class
    is structurally impossible (NULL rows never reach np.asarray)."""
    sdf = Q.QUERIES["kmeans-assign"](spark, partial_null_dir)
    s = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
    duck = _duck(partial_null_dir)
    cur = duck.execute(Q.ORACLE["kmeans-assign"])
    d = _rowset([c[0] for c in cur.description], cur.fetchall())
    assert s == d
    # and the NULL-vector row is genuinely excluded, not mis-scored —
    # asserted on the COLLECTED rowsets (r14, advisor: the previous
    # form exhausted the cursor before iterating and carried an
    # always-true `or True`). _rowset sorts columns by name, so for
    # (vec_id, centroid_id, dist) output vec_id lands at index 2 of
    # each (centroid_id, dist, vec_id) tuple.
    cols_sorted = sorted(sdf.columns)
    vi = cols_sorted.index("vec_id")
    assert s, "fixture should still assign the healthy vectors"
    assert all(row[vi] != 3 for row in s), "NULL-vector row mis-scored by Spark"
    assert all(row[vi] != 3 for row in d), "NULL-vector row mis-scored by DuckDB"
