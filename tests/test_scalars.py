"""Table-driven unit tests for the scalar transform library against
the reference's observable semantics (SURVEY.md §5.2 item 3).

Expected values are hand-derived from the reference behavior
(/root/reference/main.py:93-221), not computed by importing it.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F, types as T

from reverse_etl_homebrew_spark.functions import scalars as SC


def _run(spark, col_fn, values, in_type=T.StringType()):
    schema = T.StructType([T.StructField("v", in_type, True)])
    df = spark.createDataFrame([(v,) for v in values], schema)
    return [r["out"] for r in df.select(col_fn(F.col("v")).alias("out")).collect()]


# to_hubspot_bool string branch, main.py:121-131
BOOL_CASES = [
    ("true", "true"),
    ("  True ", "true"),
    ("1", "true"),
    ("y", "true"),
    ("YES", "true"),
    ("t", "true"),
    ("false", "false"),
    ("0", "false"),
    ("n", "false"),
    ("No", "false"),
    ("f", "false"),
    ("", None),
    ("   ", None),
    (None, None),
    ("maybe", "maybe"),
    (" WeIrD ", "weird"),
]


def test_bool_normalize_strings(spark):
    vals = [c[0] for c in BOOL_CASES]
    out = _run(spark, SC.bool_normalize, vals)
    assert out == [c[1] for c in BOOL_CASES]


# format_identifier, main.py:205-221
IDENT_CASES = [
    ("123.0", "123"),
    ("123.450", "123.45"),
    ("0.500", "0.5"),
    ("1000", "1000"),
    ("  77  ", "77"),
    ("", None),
    (None, None),
]


def test_identifier_canon_strings(spark):
    vals = [c[0] for c in IDENT_CASES]
    out = _run(spark, SC.identifier_canon, vals)
    assert out == [c[1] for c in IDENT_CASES]


def test_identifier_canon_decimal(spark):
    from decimal import Decimal

    out = _run(
        spark,
        SC.identifier_canon,
        [Decimal("123.0"), Decimal("123.450"), None],
        T.DecimalType(18, 3),
    )
    assert out == ["123", "123.45", None]


def test_email_normalize(spark):
    out = _run(spark, SC.email_normalize, ["  A@B.COM ", "", "   ", None, "x@y.z"])
    assert out == ["a@b.com", None, None, None, "x@y.z"]


def test_phi_redact_is_sha256_prefix(spark):
    import hashlib

    out = _run(spark, SC.phi_redact, ["jane doe"])
    assert out == [hashlib.sha256(b"jane doe").hexdigest()[:8]]


def test_epoch_millis_policies(spark):
    naive = dt.datetime(2024, 6, 1, 12, 0, 0)
    utc_out = _run(spark, SC.epoch_millis_utc, [naive], T.TimestampNTZType())
    east_out = _run(spark, SC.epoch_millis_eastern, [naive], T.TimestampNTZType())
    # naive-as-UTC vs naive-as-Eastern differ by the EDT offset (-4h)
    assert east_out[0] - utc_out[0] == 4 * 3600 * 1000


def test_eastern_date_rolls_back_across_midnight(spark):
    # 03:00 UTC = 23:00 previous day Eastern (EDT)
    v = dt.datetime(2024, 6, 2, 3, 0, 0)
    out = _run(spark, SC.eastern_date, [v], T.TimestampNTZType())
    assert out == ["2024-06-01"]


def test_next_birthday_regular_and_leap(spark):
    today = F.to_date(F.lit("2026-08-13"))
    cases = [
        (dt.date(1990, 8, 14), dt.date(2026, 8, 14)),  # upcoming this year
        (dt.date(1990, 8, 12), dt.date(2027, 8, 12)),  # passed → next year
        (dt.date(1990, 8, 13), dt.date(2026, 8, 13)),  # today is the birthday
        (dt.date(1980, 2, 29), None),  # Feb-29 → invalid in 2026 → NULL (main.py:200-202)
        (None, None),
    ]
    df = spark.createDataFrame(
        [(c[0],) for c in cases],
        T.StructType([T.StructField("v", T.DateType(), True)]),
    )
    out = [
        r["out"]
        for r in df.select(SC.next_birthday(F.col("v"), today).alias("out")).collect()
    ]
    assert out == [c[1] for c in cases]


def test_truncate_and_json_payload(spark):
    df = spark.createDataFrame([Row(a=1, b="x")])
    out = df.select(
        SC.truncate(SC.json_payload("a", "b"), 9).alias("out")
    ).first()["out"]
    assert out == '{"a":1,"b'


def test_col_or_null_handles_missing_spellings(spark):
    df = spark.createDataFrame([Row(processing_status="Processed")])
    out = df.select(
        SC.col_or_null(df, "processing_status", "ProcessingStatus").alias("a"),
        SC.col_or_null(df, "NoSuchCol", "AlsoMissing").alias("b"),
    ).first()
    assert out["a"] == "Processed" and out["b"] is None


def test_eastern_date_agrees_with_oracle_across_dst_transitions(spark):
    """DST-transition arm (r12): the UTC→America/New_York calendar
    date must agree with DuckDB's IANA conversion AT the 2026
    transitions — spring-forward (2026-03-08 07:00 UTC), fall-back
    (2026-11-01 06:00 UTC, the repeated 01:xx hour), and the date
    boundaries on both transition nights, where an offset bug shifts
    the calendar date. Converting FROM UTC is never ambiguous, so
    exact agreement is required at every instant."""
    import datetime as dt

    import duckdb

    from reverse_etl_homebrew_spark.functions import scalars as SC

    instants = [
        # spring forward night: EST midnight boundary is 05:00 UTC
        dt.datetime(2026, 3, 8, 4, 59, 59),   # Mar 7 23:59:59 EST
        dt.datetime(2026, 3, 8, 5, 0, 0),     # Mar 8 00:00:00 EST
        dt.datetime(2026, 3, 8, 6, 59, 59),   # Mar 8 01:59:59 EST (last EST second)
        dt.datetime(2026, 3, 8, 7, 0, 0),     # Mar 8 03:00:00 EDT (skipped hour)
        dt.datetime(2026, 3, 8, 7, 30, 0),
        # fall back night: EDT midnight boundary is 04:00 UTC
        dt.datetime(2026, 11, 1, 3, 59, 59),  # Oct 31 23:59:59 EDT
        dt.datetime(2026, 11, 1, 4, 0, 0),    # Nov 1 00:00:00 EDT
        dt.datetime(2026, 11, 1, 5, 59, 59),  # Nov 1 01:59:59 EDT
        dt.datetime(2026, 11, 1, 6, 0, 0),    # Nov 1 01:00:00 EST (repeated hour)
        dt.datetime(2026, 11, 1, 6, 59, 59),
        dt.datetime(2026, 11, 1, 7, 0, 0),    # Nov 1 02:00:00 EST
    ]
    df = spark.createDataFrame([(i, ts) for i, ts in enumerate(instants)], "i long, ts timestamp")
    got = {
        r["i"]: r["d"]
        for r in df.select("i", SC.eastern_date(F.col("ts")).alias("d")).collect()
    }
    con = duckdb.connect()
    want = {}
    for i, ts in enumerate(instants):
        want[i] = con.execute(
            "SELECT strftime(timezone('America/New_York', timezone('UTC', "
            f"TIMESTAMP '{ts.isoformat(sep=' ')}')), '%Y-%m-%d')"
        ).fetchone()[0]
    assert got == want
