"""Pins for two of the r13 advisor findings (ADVICE.md round 12).

1. ``snapshot_diff`` digest injectivity: each fingerprint VALUE is
   md5-hashed before the sorted-set comma-join, so caller fingerprints
   containing ``','`` or equal to the literal ``'null'`` can no longer
   make DISTINCT version sets digest identically and misreport changed
   keys as unchanged.

2. ``exact_quantiles_twophase``'s phase-2 bound is documented as
   distribution-dependent (docstring) — and the adversarial shape the
   advisor described (a point mass plus range-stretching outliers
   packing the located bin) still returns EXACT answers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators.aggregates import (
    exact_quantiles_twophase,
)
from reverse_etl_homebrew_spark.operators.merge import snapshot_diff


# ---------------------------------------------------------------------------
# 1. snapshot_diff digest injectivity
# ---------------------------------------------------------------------------

def _diff_statuses(spark, old_rows, new_rows):
    old = spark.createDataFrame(old_rows, "doc_id long, v string")
    new = spark.createDataFrame(new_rows, "doc_id long, v string")
    out = snapshot_diff(old, new, "doc_id", F.col("v")).collect()
    return {r["doc_id"]: r["status"] for r in out}


def test_comma_bearing_fingerprints_cannot_alias_version_sets(spark):
    # the advisor's exact case: {'a,b'} vs {'a', 'b'} joined to the
    # same comma string before the fix — must now read as 'changed'
    st = _diff_statuses(
        spark,
        [(1, "a,b")],
        [(1, "a"), (1, "b")],
    )
    assert st == {1: "changed"}


def test_literal_null_fingerprint_is_not_the_null_sentinel(spark):
    # a VALUE equal to the string 'null' must compare different from
    # an actual NULL payload (which digests to the sentinel)
    st = _diff_statuses(
        spark,
        [(1, "null")],
        [(1, None)],
    )
    assert st == {1: "changed"}
    # and identical literal-'null' sets still compare unchanged
    st2 = _diff_statuses(spark, [(2, "null")], [(2, "null")])
    assert st2 == {}


def test_hex_fingerprints_unaffected(spark):
    # the normal md5-hex caller path: same set → unchanged, real
    # version change → changed (the pre-fix behavior, preserved)
    st = _diff_statuses(
        spark,
        [(1, "d41d8cd98f00b204e9800998ecf8427e"), (2, "aa"), (2, "bb")],
        [(1, "d41d8cd98f00b204e9800998ecf8427e"), (2, "bb"), (2, "aa"),
         (3, "cc")],
    )
    assert st == {3: "added"}


# ---------------------------------------------------------------------------
# 2. quantiles-twophase adversarial bin packing stays exact
# ---------------------------------------------------------------------------

def test_point_mass_plus_outlier_bin_packing_is_exact(spark):
    # 999 copies of 1.0 plus one outlier at 1e9: the outlier stretches
    # the range so every 1.0 lands in bin 0 — the advisor's
    # degraded-bound shape. Exactness must hold regardless.
    rows = [("g", 1.0)] * 999 + [("g", 1e9)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = exact_quantiles_twophase(df, "g", "v").collect()[0]
    # rank ceil(0.5*1000)=500 → 1.0; ceil(0.99*1000)=990 → 1.0
    assert out["p50"] == 1.0 and out["p90"] == 1.0 and out["p99"] == 1.0
    assert out["n"] == 1000


def test_distribution_caveat_documented():
    doc = exact_quantiles_twophase.__doc__
    assert "DISTRIBUTION-DEPENDENT" in doc
