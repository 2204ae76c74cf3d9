"""Re-delivery regression gate (fixtures/redelivery_probe.py): the
r11 probe duplicated a deterministic slice of documents/events/orders
rows — exact at-least-once re-delivery, the third poison class after
NULL values (r10) and NULL keys (r11) — and found 5 keys silently
diverging:

- `ngram-jaccard` / `containment-dedup` / `containment-dedup-capped`:
  duplicate (id, g) gram rows doubled set sizes AND intersections,
  shifting every similarity score involving a re-delivered doc
  (2i/(2a+b−2i) ≠ i/(a+b−i)) while the oracles' DISTINCT gram CTEs
  stayed put. Fixed by collapsing re-deliveries (now a DISTINCT on
  the (id, g) relation in operators/dedup._pruned_grams and the
  uncapped containment query).
- `dup-span-rate`: per-row totals joined to id-merged dup counts
  emitted two rows per re-delivered doc with dup_rate 2.0 — an
  internally inconsistent answer, not just an oracle mismatch. Fixed
  by aggregating totals per identity (rides the join's existing
  shuffle).
- `roi-sync-pipeline`: the derived remote snapshot carried duplicate
  natural_key rows, fanning every matching ROI 2× through the left
  join and double-counting outcomes. Fixed: a snapshot is keyed —
  it deduplicates before any join (plans/rois.py).

This gate re-runs the affected keys (plus the family neighbors that
share the fixed code paths) against the same re-delivered data so the
class can't regress. The full-registry probe remains available as the
fixture script (155/155 OK at end of r11).
"""

from __future__ import annotations

import pytest

from reverse_etl_homebrew_spark import queries as Q

from test_oracle_parity import _rowset

SF_DIR = "/root/testdata/sf0.001"

KEYS = [
    # the five the probe caught
    "ngram-jaccard", "containment-dedup", "containment-dedup-capped",
    "dup-span-rate", "roi-sync-pipeline",
    # family neighbors sharing the fixed code paths (_pruned_grams /
    # span totals / snapshot joins) — consistent by the same fix
    "fuzzy-dedup", "fuzzy-dedup-clusters", "dedup-survivorship",
    "dup-span-detect", "incremental-dup-spans",
    "patient-sync-pipeline", "roi-patient-anti-join",
    # idempotency-adjacent keys that must stay naturally consistent
    "exact-dedup", "incremental-dedup", "merge-upsert",
    "incremental-agg-merge",
]


@pytest.fixture(scope="module")
def redelivered(tmp_path_factory):
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "fixtures")
    )
    from redelivery_probe import build_redelivered_dir

    return build_redelivered_dir(SF_DIR)


@pytest.fixture(scope="module")
def duck(redelivered):
    from test_oracle_parity import _duck

    return _duck(redelivered)


@pytest.mark.parametrize("name", KEYS)
def test_redelivered_parity(spark, name, duck, redelivered):
    sdf = Q.QUERIES[name](spark, redelivered)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(Q.ORACLE[name])
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)


def test_dup_span_rate_never_exceeds_one(spark, redelivered):
    """The probe's sharpest symptom: dup_rate 2.0. A rate is a share
    of a doc's own spans — by construction it can never exceed 1."""
    rows = Q.QUERIES["dup-span-rate"](spark, redelivered).collect()
    assert rows and all(r["dup_rate"] <= 1.0 for r in rows)


def test_contamination_flags_collapse_redelivered_train_rows(spark):
    """r12 composed-poison finding: the r11 (id, text) collapse landed
    in _pruned_grams but NOT in contamination_flags' train side — a
    re-delivered contaminated doc counted every shared gram twice.
    The single-arm probe missed it (no re-delivered doc in its small
    hit set); the composition caught it. Pinned directly: duplicated
    train rows must yield the same shared_grams as single rows."""
    from reverse_etl_homebrew_spark.operators.dedup import contamination_flags

    train_rows = [(1, "alpha beta gamma delta epsilon zeta eta theta iota")]
    bench_rows = [(100, "alpha beta gamma delta epsilon zeta eta theta")]
    schema = "doc_id int, text string"
    train_once = spark.createDataFrame(train_rows, schema)
    train_twice = spark.createDataFrame(train_rows * 2, schema)
    bench = spark.createDataFrame(bench_rows, schema)
    once = {(r["doc_id"], r["shared_grams"])
            for r in contamination_flags(train_once, bench).collect()}
    twice = {(r["doc_id"], r["shared_grams"])
             for r in contamination_flags(train_twice, bench).collect()}
    assert once == twice == {(1, 1)}
