"""Property-based tests (hypothesis) for the trickiest scalar
semantics, checked against straightforward Python models of the
reference behavior (SURVEY.md §5.2). Inputs are generated, batched
into ONE DataFrame per property, and evaluated through the real
Column expressions."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from reverse_etl_homebrew_spark.functions import scalars as SC

SET = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _bool_model(s):
    """to_hubspot_bool string-branch model (main.py:121-131)."""
    if s is None:
        return None
    n = s.strip().lower()
    if not n:
        return None
    if n in {"true", "false"}:
        return n
    if n in {"1", "y", "yes", "t"}:
        return "true"
    if n in {"0", "n", "no", "f"}:
        return "false"
    return n


@SET
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.sampled_from(["true", "FALSE", "1", "0", "y", "N", "t", "f", "", " "]),
            st.text(
                alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs")),
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_bool_normalize_property(spark, values):
    schema = T.StructType([T.StructField("v", T.StringType(), True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    out = [r["o"] for r in df.select(SC.bool_normalize(F.col("v")).alias("o")).collect()]
    assert out == [_bool_model(v) for v in values]


def _ident_model(d):
    """format_identifier Decimal-branch model (main.py:208-212)."""
    if d is None:
        return None
    if d == d.to_integral_value():
        return str(int(d))
    return format(d.normalize(), "f").rstrip("0").rstrip(".")


@SET
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.decimals(
                min_value=Decimal("-999999999"),
                max_value=Decimal("999999999"),
                places=3,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_identifier_canon_property(spark, values):
    schema = T.StructType([T.StructField("v", T.DecimalType(18, 3), True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    out = [r["o"] for r in df.select(SC.identifier_canon(F.col("v")).alias("o")).collect()]
    assert out == [_ident_model(v) for v in values]


def _next_bday_model(d, today):
    """compute_next_birthday model (main.py:199-203) with the Feb-29
    raise→None edge."""
    if d is None:
        return None

    def safe_replace(year):
        try:
            return d.replace(year=year)
        except ValueError:
            return None

    nb = safe_replace(today.year)
    if nb is not None and nb < today:
        nb = safe_replace(today.year + 1)
    # reference: if this-year replace raised, except returns None
    if safe_replace(today.year) is None:
        return None
    return nb


@SET
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.dates(min_value=dt.date(1930, 1, 1), max_value=dt.date(2010, 12, 31)),
            # force the leap-day edge to appear often: Feb-29 DOBs must
            # go NULL when the target year is non-leap (reference
            # raise→except→None, main.py:200-202)
            st.sampled_from(
                [dt.date(1996, 2, 29), dt.date(2000, 2, 29), dt.date(2004, 2, 29)]
            ),
        ),
        min_size=1,
        max_size=30,
    ),
    st.one_of(
        st.dates(min_value=dt.date(2024, 1, 1), max_value=dt.date(2030, 12, 31)),
        # leap day itself as "today", and the day after in leap and
        # non-leap years (this-year-birthday-already-passed branch)
        st.sampled_from(
            [dt.date(2024, 2, 29), dt.date(2024, 3, 1), dt.date(2025, 3, 1)]
        ),
    ),
)
def test_next_birthday_property(spark, dobs, today):
    schema = T.StructType([T.StructField("v", T.DateType(), True)])
    df = spark.createDataFrame([(v,) for v in dobs], schema)
    out = [
        r["o"]
        for r in df.select(
            SC.next_birthday(F.col("v"), F.lit(today)).alias("o")
        ).collect()
    ]
    expected = [_next_bday_model(v, today) for v in dobs]
    assert out == expected


@SET
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.decimals(
                min_value=Decimal("-1e28"),
                max_value=Decimal("1e28"),
                places=9,
                allow_nan=False,
                allow_infinity=False,
            ),
            # exact powers of ten and near-integral values: the
            # integral-vs-fractional branch boundary (main.py:208-212)
            st.sampled_from(
                [
                    Decimal("0.000000001"),
                    Decimal("-0.000000001"),
                    Decimal("10000000000000000000.5"),
                    Decimal("123.000000000"),
                    Decimal("-0.5"),
                    Decimal("0"),
                ]
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_identifier_canon_wide_decimal_property(spark, values):
    """VERDICT r2 #8: edge widths — full decimal(38,9) range, the
    smallest representable fraction, and 20-digit integral parts.

    Model runs at 60-digit precision: the reference's literal
    ``Decimal.normalize()`` (main.py:212) uses the default 28-digit
    context, which silently ROUNDS >28-significant-digit values (and
    its rstrip('0') then corrupts the rounded integral string, e.g.
    1E+19 → '1'). That input region is unreachable in the reference
    (its values arrive as ≤17-sig-digit floats); the engine renders
    exactly — deliberately — rather than reproducing the artifact."""
    from decimal import localcontext

    def model(d):
        if d is None:
            return None
        if d == d.to_integral_value():
            return str(int(d))
        with localcontext() as ctx:
            ctx.prec = 60
            return format(d.normalize(), "f").rstrip("0").rstrip(".")

    schema = T.StructType([T.StructField("v", T.DecimalType(38, 9), True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    out = [r["o"] for r in df.select(SC.identifier_canon(F.col("v")).alias("o")).collect()]
    assert out == [model(v) for v in values]


def _epoch_utc_model(v):
    """clean_value naive→UTC policy (main.py:109)."""
    if v is None:
        return None
    return int(v.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def _eastern_edges(v, tz):
    """True when v falls in a DST gap/overlap hour, where engine
    disambiguation conventions may legitimately differ."""
    a = v.replace(tzinfo=tz, fold=0)
    b = v.replace(tzinfo=tz, fold=1)
    if a.utcoffset() != b.utcoffset():
        return True  # ambiguous (clocks fell back)
    # nonexistent (clocks sprang forward): round-trip changes wall time
    back = a.astimezone(dt.timezone.utc).astimezone(tz).replace(tzinfo=None)
    return back != v


@SET
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.datetimes(
                min_value=dt.datetime(1971, 1, 1),
                max_value=dt.datetime(2035, 12, 31),
            ),
            # DST boundary neighborhoods, US/Eastern (2nd Sun Mar /
            # 1st Sun Nov): exercise the transition weeks heavily
            st.datetimes(
                min_value=dt.datetime(2024, 3, 9),
                max_value=dt.datetime(2024, 3, 11),
            ),
            st.datetimes(
                min_value=dt.datetime(2024, 11, 2),
                max_value=dt.datetime(2024, 11, 4),
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_epoch_millis_policies_property(spark, values):
    """VERDICT r2 #8: the naive→UTC and naive→Eastern-wall-clock epoch
    policies vs the Python reference model (zoneinfo), excluding only
    instants inside a DST gap/overlap where disambiguation conventions
    (JVM vs zoneinfo fold) legitimately diverge."""
    from zoneinfo import ZoneInfo

    tz = ZoneInfo("America/New_York")
    schema = T.StructType([T.StructField("v", T.TimestampNTZType(), True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    got = df.select(
        SC.epoch_millis_utc(F.col("v")).alias("u"),
        SC.epoch_millis_eastern(F.col("v")).alias("e"),
    ).collect()
    for r, v in zip(got, values):
        assert r["u"] == _epoch_utc_model(v)
        if v is None:
            assert r["e"] is None
        elif not _eastern_edges(v, tz):
            exp = int(v.replace(tzinfo=tz).timestamp() * 1000)
            assert r["e"] == exp, f"eastern policy diverged for {v}"
        else:
            # gap/overlap: both conventions must still land within one
            # hour of each other (sanity, not bit-equality)
            exp = int(v.replace(tzinfo=tz).timestamp() * 1000)
            assert abs(r["e"] - exp) <= 3_600_000


@SET
@given(st.lists(st.one_of(st.none(), st.text(max_size=20)), min_size=1, max_size=30))
def test_email_normalize_property(spark, values):
    schema = T.StructType([T.StructField("v", T.StringType(), True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    out = [r["o"] for r in df.select(SC.email_normalize(F.col("v")).alias("o")).collect()]
    for got, v in zip(out, values):
        if v is None or not v.strip():
            assert got is None
        else:
            assert got == v.strip().lower()


# ---------------------------------------------------------------------------
# Misra-Gries summary retention guarantee (Spark-free: the batch-merge
# core used by operators/vectorized.misra_gries_candidates)
# ---------------------------------------------------------------------------


@given(
    stream=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=2000),
    k=st.integers(min_value=2, max_value=20),
    batch=st.integers(min_value=1, max_value=97),
)
@settings(max_examples=200, deadline=None)
def test_mg_summary_retains_every_heavy_item(stream, k, batch):
    """Mergeable-summaries guarantee: after merging a stream in
    arbitrary batch sizes, every item whose true count exceeds
    len(stream)/(k+1) must survive in the summary, and the summary
    never holds more than k items. (The heavy_hitters_exact operator
    relies on exactly this superset property; the exact recount does
    the rest.)"""
    import pandas as pd

    from reverse_etl_homebrew_spark.operators.vectorized import _mg_merge_pairs

    items = pd.Series([f"i{x}" for x in stream])
    counts: dict = {}
    for lo in range(0, len(items), batch):
        _mg_merge_pairs(counts, items.iloc[lo : lo + batch].value_counts().items(), k)
    assert len(counts) <= k
    true = items.value_counts()
    thr = len(items) / (k + 1)
    for item, c in true.items():
        if c > thr:
            assert item in counts, (
                f"heavy item {item} (count {c} > {thr:.2f}) evicted"
            )


# ---------------------------------------------------------------------------
# Hybrid LSH bucketer summation-order error bound (Spark-free: the
# sign kernel used by operators/vectorized.bucket_norm_pandas)
# ---------------------------------------------------------------------------


def _fold_sign(v, p):
    # the oracle's sequential left fold — exactly what whole-stage
    # codegen emits for the flat sign-fold expression
    acc = v[0] * p[0]
    for i in range(1, len(v)):
        acc += v[i] * p[i]
    return acc >= 0.0


_coord = st.floats(
    min_value=-1e12,
    max_value=1e12,
    allow_nan=False,
    allow_subnormal=False,
    width=64,
)


@given(data=st.data(), d=st.integers(min_value=1, max_value=24))
@settings(max_examples=150, deadline=None)
def test_hybrid_bucketer_signs_equal_left_fold(data, d):
    """The 8·d·u summation-order bound as an invariant: for ANY
    vectors and planes — including constructed catastrophic
    cancellation where the fold lands within one ulp of zero — the
    hybrid kernel's sign matrix is entry-for-entry the sequential
    left fold's sign. Pins the bound the way
    test_mg_summary_retains_every_heavy_item pins Misra-Gries."""
    import numpy as np

    from reverse_etl_homebrew_spark.operators.vectorized import (
        hybrid_fold_signs,
    )

    n = data.draw(st.integers(min_value=1, max_value=4))
    q = data.draw(st.integers(min_value=1, max_value=4))
    rows = [
        data.draw(st.lists(_coord, min_size=d, max_size=d)) for _ in range(n)
    ]
    planes = [
        data.draw(st.lists(_coord, min_size=d, max_size=d)) for _ in range(q)
    ]
    # adversarial append: a mirrored-cancellation vector (fold == ±eps
    # against the all-ones plane) plus the all-ones plane itself, so
    # every run exercises the inside-the-bound recompute path, not
    # just the wide-margin fast path
    base = data.draw(st.lists(_coord, min_size=d, max_size=d))
    cancel = list(base)
    for i in range(0, d - 1, 2):
        cancel[i + 1] = -cancel[i]
    if d % 2 == 1:
        cancel[-1] = data.draw(
            st.sampled_from([0.0, 5e-324, -5e-324, 1e-290, -1e-290])
        )
    rows.append(cancel)
    planes.append([1.0] * d)

    m = np.asarray(rows, dtype=np.float64)
    P = np.asarray(planes, dtype=np.float64)
    got = hybrid_fold_signs(m, P)
    for i in range(m.shape[0]):
        for j in range(P.shape[0]):
            want = _fold_sign(rows[i], planes[j])
            assert got[i, j] == want, (
                f"sign mismatch at ({i},{j}): vec={rows[i]} "
                f"plane={planes[j]}"
            )
