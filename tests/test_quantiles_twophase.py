"""Operator-level gates for exact_quantiles_twophase: the two-phase
rank selection must return the TRUE order statistic (rank ceil(p*n),
1-indexed over the sorted finite values) for shapes that stress bin
boundaries — not merely agree with the oracle on one table."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators.aggregates import exact_quantiles_twophase


def _truth(vals, p):
    s = sorted(vals)
    return s[math.ceil(p * len(s)) - 1]


def _run(spark, rows):
    df = spark.createDataFrame(rows, "g string, v double")
    out = exact_quantiles_twophase(df, "g", "v")
    return {r["g"]: r for r in out.collect()}


def test_matches_sorted_rank_selection_on_awkward_shapes(spark):
    groups = {
        "dense_ties": [1.0] * 40 + [2.0] * 40 + [3.0] * 20,
        "skewed": [float(i) ** 3 for i in range(1, 101)],
        "tiny": [42.0],
        "two": [5.0, -5.0],
        "constant": [7.5] * 33,
        "negatives": [float(i) for i in range(-50, 51)],
    }
    rows = [(g, v) for g, vals in groups.items() for v in vals]
    got = _run(spark, rows)
    for g, vals in groups.items():
        for label, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            assert got[g][label] == _truth(vals, p), (g, label)
        assert got[g]["n"] == len(vals)


def test_tiny_bucket_count_still_exact(spark):
    """A far outlier packs every other value into one of the 4096
    bins, so phase 2 re-ranks one huge bin — slower, never wrong (the
    whole point of exact recount over located bins)."""
    vals = [float(i % 37) * 1.5 for i in range(500)] + [1e7]
    got = _run(spark, [("a", v) for v in vals])
    for label, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        assert got["a"][label] == _truth(vals, p)


def test_scope_is_finite_non_null(spark):
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None),
            ("a", float("nan")), ("a", float("inf"))]
    got = _run(spark, rows)
    assert got["a"]["n"] == 3
    assert got["a"]["p50"] == 2.0
    assert got["a"]["p99"] == 3.0


def test_randomized_ground_truth(spark):
    """Random groups x random value multisets (ties, negatives, huge
    magnitudes), checked against direct sorted-rank selection — one
    batched run, deterministic seed."""
    import random

    rng = random.Random(20260816)
    groups = {}
    for gi in range(25):
        n = rng.randint(1, 120)
        pool = [
            rng.choice([-1e9, -3.5, 0.0, 0.1, 7.0, 1e12])
            if rng.random() < 0.3
            else rng.uniform(-1000, 1000)
            for _ in range(n)
        ]
        groups[f"g{gi}"] = pool
    rows = [(g, v) for g, vals in groups.items() for v in vals]
    got = _run(spark, rows)
    for g, vals in groups.items():
        for label, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            assert got[g][label] == _truth(vals, p), (g, label)
        assert got[g]["n"] == len(vals)
