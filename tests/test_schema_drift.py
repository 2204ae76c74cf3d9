"""Schema-drift regression gate (r12, sixth poison class — probe:
fixtures/schema_drift_probe.py). Pins the per-class policy taxonomy:

- PRESENCE drift: loud per-key (BOTH engines raise), invisible to
  keys that never read the column, TOLERATED via col_or_null alias
  chains at the sync-pipeline ingest (the reference's
  row.get("Patient Name") or row.get("Patient_Name") semantics).
- SAME-FAMILY type drift: tolerated; both engines read the same file
  and agree.
- CROSS-FAMILY type drift: refused at ingress (SchemaContractError)
  before Spark's silent string casts can split from DuckDB's binder
  errors.
- ADDITIVE drift: always invisible (column pruning).

Also pins the no-op claim that justified NOT re-facing every key that
merely passes through ``load_table``: on a canonical-schema source,
``col_or_null`` returns the bare column reference and the ingress
check adds zero plan nodes — the sync plans compile to the same
optimized plan as before.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import queries as Q
from reverse_etl_homebrew_spark.sources.catalog import (
    SchemaContractError,
    load_table,
)

from test_oracle_parity import _duck, _rowset

SF_DIR = "/root/testdata/sf0.001"

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "fixtures"))
from schema_drift_probe import build_drifted_dir  # noqa: E402


def _run(spark, name, sf_dir):
    sdf = Q.QUERIES[name](spark, sf_dir)
    return sdf.columns, _rowset(sdf.columns, [tuple(r) for r in sdf.collect()])


@pytest.fixture(scope="module")
def dirs():
    return {
        arm: build_drifted_dir(SF_DIR, arm)
        for arm in (
            "alias_customer", "alias_orders", "drop_documents_lang",
            "drop_customer_mktsegment", "widen_orders_custkey",
            "widen_customer_acctbal_decimal", "additive_documents",
        )
    }


# ---------------------------------------------------------------------------
# tolerance: alias-spelled sources sync IDENTICALLY (col_or_null live)
# ---------------------------------------------------------------------------

def test_alias_drift_patient_pipeline_identical(spark, dirs):
    clean = _run(spark, "patient-sync-pipeline", SF_DIR)
    drifted = _run(spark, "patient-sync-pipeline", dirs["alias_customer"])
    assert clean == drifted


def test_alias_drift_roi_pipeline_identical(spark, dirs):
    clean = _run(spark, "roi-sync-pipeline", SF_DIR)
    drifted = _run(spark, "roi-sync-pipeline", dirs["alias_orders"])
    assert clean == drifted


def test_dropped_descriptor_degrades_not_crashes(spark, dirs):
    """c_mktsegment dropped: the pipeline still syncs (segment is a
    NULL descriptor, outcome counts unchanged — segment never feeds
    the branch ladder)."""
    clean = _run(spark, "patient-sync-pipeline", SF_DIR)
    drifted = _run(spark, "patient-sync-pipeline", dirs["drop_customer_mktsegment"])
    assert clean == drifted


# ---------------------------------------------------------------------------
# loud agreement: presence drift at a reading key raises on BOTH engines
# ---------------------------------------------------------------------------

def test_dropped_column_raises_on_both_engines(spark, dirs):
    drifted = dirs["drop_documents_lang"]
    with pytest.raises(Exception) as se:
        Q.QUERIES["exact-dedup"](spark, drifted).collect()
    assert "lang" in str(se.value)
    duck = _duck(drifted)
    with pytest.raises(Exception) as de:
        duck.execute(Q.ORACLE["exact-dedup"]).fetchall()
    assert "lang" in str(de.value)


def test_dropped_column_invisible_to_non_readers(spark, dirs):
    """Column pruning makes the same drop invisible to a documents key
    that never reads lang."""
    clean = _run(spark, "repetition-metrics", SF_DIR)
    drifted = _run(spark, "repetition-metrics", dirs["drop_documents_lang"])
    assert clean == drifted


# ---------------------------------------------------------------------------
# cross-family type drift: refused at ingress
# ---------------------------------------------------------------------------

def test_cross_family_widening_is_contract_loud(spark, dirs):
    with pytest.raises(SchemaContractError) as e:
        load_table(spark, dirs["widen_orders_custkey"], "orders")
    assert "o_custkey" in str(e.value)
    # keys on other tables are untouched
    clean = _run(spark, "exact-dedup", SF_DIR)
    drifted = _run(spark, "exact-dedup", dirs["widen_orders_custkey"])
    assert clean == drifted


def test_same_family_widening_tolerated_and_engines_agree(spark, dirs):
    """double → decimal(12,2) on c_acctbal: tolerated at ingress, and
    the two engines agree on the drifted data (both read the same
    file)."""
    drifted = dirs["widen_customer_acctbal_decimal"]
    load_table(spark, drifted, "customer")  # no raise
    s_cols, s_set = _run(spark, "groupby-agg", drifted)
    duck = _duck(drifted)
    cur = duck.execute(Q.ORACLE["groupby-agg"])
    d_cols = [c[0] for c in cur.description]
    d_set = _rowset(d_cols, cur.fetchall())
    assert sorted(s_cols) == sorted(d_cols)
    assert s_set == d_set


# ---------------------------------------------------------------------------
# probe findings, each pinned (r12 first run: 4 findings, all fixed)
# ---------------------------------------------------------------------------

def test_protected_drop_never_leaks_renamed_columns(spark, dirs):
    """Probe finding #1: the denylist ``df.drop(protected)`` silently
    PASSED a protected column arriving under an alias spelling
    (o_orderpriority→orderpriority leaked its values into the
    payload). Now an allowlist projection: unknown spellings never
    flow out — under alias drift the key raises (loudly, on BOTH
    engines, since o_custkey is also re-spelled) instead of leaking."""
    drifted = dirs["alias_orders"]
    with pytest.raises(Exception):
        Q.QUERIES["protected-drop"](spark, drifted).collect()
    duck = _duck(drifted)
    with pytest.raises(Exception):
        duck.execute(Q.ORACLE["protected-drop"]).fetchall()
    # and on an ADDITIVE-drift source the unknown column stays out of
    # the payload by construction (deny-by-default)
    out = Q.QUERIES["protected-drop"](spark, dirs["additive_documents"])
    assert set(out.columns) == {"o_orderkey", "o_custkey", "o_orderdate"}


def test_roi_tier_tolerates_customer_alias(spark, dirs):
    """Probe finding #2: the roi pipeline's tier-0 balance filter read
    c_acctbal strictly and crashed on an alias-spelled customer export
    while its oracle kept running. Now the tier reads through the same
    col_or_null chain as the row builders."""
    clean = _run(spark, "roi-sync-pipeline", SF_DIR)
    drifted = _run(spark, "roi-sync-pipeline", dirs["alias_customer"])
    assert clean == drifted


def test_sqlite_staging_enforces_contract_and_casts_same_family(spark, dirs, tmp_path):
    """Probe findings #3/#4: the SQLite staging path read raw parquet
    around the ingress contract — a VARCHAR-widened measure staged
    silently into SQLite's TEXT>REAL comparison rules (silent split),
    and a same-family decimal widening crashed on an unsupported
    arrow type. Now: cross-family refused, same-family cast to the
    canonical arrow type through the correctly-rounded string parse."""
    import shutil as _sh

    varchar_dir = build_drifted_dir(SF_DIR, "widen_customer_acctbal_varchar")
    with pytest.raises(SchemaContractError):
        Q.QUERIES["sqlite-scan-pushdown"](spark, varchar_dir).collect()

    decimal_dir = dirs["widen_customer_acctbal_decimal"]
    s_cols, s_set = _run(spark, "sqlite-scan-pushdown", decimal_dir)
    duck = _duck(decimal_dir)
    cur = duck.execute(Q.ORACLE["sqlite-scan-pushdown"])
    d_cols = [c[0] for c in cur.description]
    assert sorted(s_cols) == sorted(d_cols)
    assert s_set == _rowset(d_cols, cur.fetchall())


def test_external_source_enforces_contract(spark, dirs):
    """Probe finding (uniformity): the DuckDB external source let a
    VARCHAR-widened key column through whenever no expression touched
    it. Every connector now enforces the same ingress contract."""
    with pytest.raises(SchemaContractError):
        Q.QUERIES["external-scan-pushdown"](
            spark, dirs["widen_orders_custkey"]
        ).collect()


# ---------------------------------------------------------------------------
# additive drift: invisible
# ---------------------------------------------------------------------------

def test_additive_columns_invisible(spark, dirs):
    for key in ("exact-dedup", "dup-span-rate"):
        clean = _run(spark, key, SF_DIR)
        drifted = _run(spark, key, dirs["additive_documents"])
        assert clean == drifted, key


# ---------------------------------------------------------------------------
# the no-op claim: canonical-schema plans are unchanged
# ---------------------------------------------------------------------------

def test_col_or_null_is_bare_column_when_canonical_present(spark):
    from reverse_etl_homebrew_spark.functions.scalars import col_or_null

    c = load_table(spark, SF_DIR, "customer")
    assert str(col_or_null(c, "c_name", "name", "patient_name")) == str(
        F.col("c_name")
    )


def test_sync_plans_have_no_coalesce_on_canonical_source(spark):
    """On a canonical-schema source the alias chains leave NO trace in
    the optimized plan — no coalesce over the tolerant columns, no
    null literals standing in for them."""
    from reverse_etl_homebrew_spark.plans.patients import patient_rows
    from reverse_etl_homebrew_spark.plans.rois import roi_rows

    for df in (
        patient_rows(load_table(spark, SF_DIR, "customer")),
        roi_rows(load_table(spark, SF_DIR, "orders")),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "coalesce(c_name" not in plan
        assert "coalesce(o_custkey" not in plan
        assert "patient_name" not in plan
        assert "patient_key" not in plan
