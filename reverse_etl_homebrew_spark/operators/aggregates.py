"""Aggregation operators (SURVEY.md §2.6).

Catalyst plans every groupBy here as partial (map-side) + final hash
aggregation automatically, so shuffled bytes are proportional to the
number of groups, not input rows — the property that keeps these
viable at 100 TB. Sums over monetary doubles are computed in
decimal(38,6): order-independent exact arithmetic, so results are
deterministic under any partitioning (and bit-comparable to any other
engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def finite_dec(col: Column, scale: int = 6) -> Column:
    """Exact-decimal INGRESS guard (r11 non-finite probe): a NaN or
    ±Infinity double cannot be represented in DECIMAL — DuckDB's CAST
    raises loudly, while Spark's non-ANSI cast silently NULLs the
    value, dropping the row from the exact sum. Exact-or-loud: raise
    on BOTH engines rather than silently disagree. The check is two
    cheap codegen predicates per row; NULL flows through untouched
    (NULL-in → NULL-out, the sum's identity)."""
    c = col if isinstance(col, Column) else F.col(col)
    guarded = F.when(
        F.isnan(c) | (F.abs(c) == F.lit(float("inf"))),
        F.raise_error(
            F.lit("exactmath: non-finite value in exact decimal aggregation")
        ),
    ).otherwise(c)
    return guarded.cast(f"decimal(38,{scale})")


def is_finite(col: Column) -> Column:
    """Finite-measurement predicate (non-NULL, not NaN, not ±Inf) —
    the domain of the statistical DETECTOR family (z-score, MAD,
    moving median): a detector's universe is finite measurements, so
    non-finite corruption is scoped out EXPLICITLY on both engines
    (oracles use DuckDB's isfinite). Accounting aggregations take the
    opposite policy — ``finite_dec`` raises — because silently
    dropping a corrupt amount from a sum is a wrong answer, while a
    detector excluding a non-measurement is its definition."""
    c = col if isinstance(col, Column) else F.col(col)
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))


def finite_dec_typed(col: Column, typ: str) -> Column:
    """``finite_dec`` for an explicit DECIMAL type string (e.g. the
    json-coerce ``decimal(18,2)`` money coercion) — same exact-or-loud
    non-finite contract."""
    c = col if isinstance(col, Column) else F.col(col)
    return (
        F.when(
            F.isnan(c) | (F.abs(c) == F.lit(float("inf"))),
            F.raise_error(
                F.lit("exactmath: non-finite value in exact decimal cast")
            ),
        )
        .otherwise(c)
        .cast(typ)
    )


def dec_sum(col: Column, alias: str) -> Column:
    """Order-independent exact sum of a double expression: the per-row
    double is rounded once to decimal(38,6) (deterministic — no
    representable double sits exactly on a half-ulp tie at this scale),
    then summed exactly. Output cast back to double. Non-finite input
    raises on both engines (``finite_dec``)."""
    return F.sum(finite_dec(col, 6)).cast("double").alias(alias)


def dec_avg(col: Column, alias: str) -> Column:
    """Exact-sum / exact-count average over decimal(38,6), emitted as
    double."""
    return (
        F.sum(finite_dec(col, 6)).cast("double")
        / F.count(col)
    ).alias(alias)


def ambiguity_count(df: DataFrame, key: str) -> DataFrame:
    """Matches per key — the set-oriented form of the reference's
    len(search_results) branch (main.py:700-704)."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("match_count"))


# quantile label → p, and the phase-1 histogram bins per group
_QUANTILES = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
_QUANTILE_BINS = 4096


def exact_quantiles_twophase(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Exact DISCRETE per-group quantiles (the value at rank
    ``ceil(p·n)``, one column per ``_QUANTILES`` label) with BOUNDED
    state — the 100 TB twin of the
    `quantiles` key. Spark's built-in ``percentile`` holds every
    group's full value multiset in one reducer's aggregation state;
    this computes the same order statistic in two bounded passes
    (the Misra-Gries candidates→exact-recount pattern lifted to rank
    selection):

    1. per-group (lo, hi, n) + a ``_QUANTILE_BINS``-bin histogram —
       both partial-aggregated map-side, shuffled state ≤ 4096 rows per
       group; a per-group cumulative over the ≤4096-bin vocabulary
       locates each target rank's bin and its prior count.
    2. only rows falling in a located bin (≈ n/4096 per target)
       re-aggregate by exact value; an in-bin cumulative picks the
       smallest value with prior + cum ≥ rank.

    Exactness: phase 2 selects from true data values, so the result
    is bit-identical to a global-sort rank selection under any
    partitioning (no interpolation, no sketch error). Rank arithmetic
    ``ceil(p·n)`` runs in IEEE double on both engines — identical by
    construction. Scope: non-NULL FINITE measurements (NaN/Inf have
    no rank position; the statistical-detector convention).

    Degenerate bins are safe: a single-valued group (hi == lo) maps
    every row to bin 0 and phase 2 scans the whole (one-value) group.

    Bounded-state caveat (r12 advisor): the phase-2 bound is
    DISTRIBUTION-DEPENDENT, not worst-case. Rows first collapse to
    per-distinct-value counts (map-side partial agg), so the (g, q)
    ranking window holds one row per DISTINCT value of the located
    bin — ≈ n/4096 under anything resembling uniform spread, but
    an adversarial group that packs most of its distinct values into
    one histogram bin (e.g. a heavy point mass plus far outliers
    stretching the range) degrades that window back toward the full
    per-group multiset the built-in ``percentile`` holds. The result
    stays exact either way; only the memory claim weakens. If that
    shape is expected, re-bin the located bin recursively (run this
    same operator on the bin's rows) — not done here by default
    because the extra pass costs every well-behaved caller for a
    pathology the histogram makes visible anyway (``c`` per bin is
    already computed; monitor it).
    """
    vals = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v")
    ).where(is_finite(F.col("v")))
    stats = vals.groupBy("g").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    # stats/located are O(#groups) rows — no explicit broadcast hint:
    # size-based planning (AQE) broadcasts them when groups are few
    # and falls back to a shuffle join when group_col is
    # high-cardinality, where a forced broadcast would OOM the driver
    binned = vals.join(stats, ["g"]).select(
        "g",
        "v",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / F.lit(float(_QUANTILE_BINS)))
                ),
                F.lit(_QUANTILE_BINS - 1),
            )
        )
        .cast("long")
        .alias("b"),
    )
    from pyspark.sql import Window as W

    hist = binned.groupBy("g", "b").agg(F.count(F.lit(1)).alias("c"))
    wb = W.partitionBy("g").orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    hist_cum = hist.withColumn("cc", F.sum("c").over(wb))
    # one (rank) target per (group, quantile label)
    targets = stats.select(
        "g",
        "n",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in _QUANTILES]),
                F.array(*[F.lit(float(p)) for p in _QUANTILES.values()]),
            )
        ).alias("q", "p"),
    ).select("g", "q", F.ceil(F.col("p") * F.col("n")).alias("r"))
    located = (
        hist_cum.join(targets, ["g"])
        .where((F.col("cc") >= F.col("r")) & (F.col("cc") - F.col("c") < F.col("r")))
        .select("g", "b", "q", "r", (F.col("cc") - F.col("c")).alias("prior"))
    )
    cand = binned.join(located, ["g", "b"])
    per_val = cand.groupBy("g", "q", "r", "prior", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = W.partitionBy("g", "q").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    picked = (
        per_val.withColumn("cum", F.sum("c").over(wv))
        .where(F.col("prior") + F.col("cum") >= F.col("r"))
        .groupBy("g", "q")
        .agg(F.min("v").alias("qv"))
    )
    wide = picked.groupBy("g").agg(
        *[F.max(F.when(F.col("q") == k, F.col("qv"))).alias(k) for k in _QUANTILES]
    )
    return wide.join(stats.select("g", "n"), ["g"]).select(
        F.col("g").alias(group_col), *_QUANTILES.keys(), F.col("n").cast("long").alias("n")
    )
