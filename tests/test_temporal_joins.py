"""asof_join edge semantics (operators/temporal_joins.py) against a
plain Python model of exact ASOF JOIN semantics (DuckDB's native form,
the oracle twin): NULL timestamps never match on either side, NULL
join keys never match (SQL equality is never true on NULL — but
Window.partitionBy groups NULL keys into ONE partition, so an
unfiltered NULL-key right row would hand its payload to NULL-key left
rows), and the MATCHED row's payload is returned verbatim — NULL
included. All three arms were real holes: the first two found by the
randomized property here, the NULL-key one by the round-11 advisor
(a NULL-key left row inherited a NULL-key right row's payload).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from reverse_etl_homebrew_spark.operators.temporal_joins import asof_join


def _model(left, right):
    """left: [(k, ts|None, tag)], right: [(k, ts|None, p|None)] with
    unique (k, ts); returns {tag: asof_p}."""
    out = {}
    for k, lts, tag in left:
        best = None
        if lts is not None and k is not None:
            for rk, rts, p in right:
                if rk is None or rk != k or rts is None:
                    continue
                if rts <= lts:
                    if best is None or rts > best[0]:
                        best = (rts, p)
        out[tag] = None if best is None else best[1]
    return out


def _run(spark, left, right):
    ldf = spark.createDataFrame(left, "k long, ts string, tag string")
    rdf = spark.createDataFrame(right, "k long, ts string, p string")
    got = asof_join(ldf, rdf, "k", "ts", "ts", ["p"]).collect()
    return {r["tag"]: r["asof_p"] for r in got}


def test_null_ts_right_row_never_matches(spark):
    left = [(1, "2020-01-05", "L1")]
    right = [(1, None, "NULL-TS-PAYLOAD")]
    assert _run(spark, left, right) == {"L1": None}


def test_matched_rows_null_payload_is_returned_not_skipped(spark):
    left = [(2, "2020-01-05", "L2")]
    right = [(2, "2020-01-01", "OLD"), (2, "2020-01-03", None)]
    assert _run(spark, left, right) == {"L2": None}


def test_null_ts_left_row_gets_null_payload(spark):
    left = [(3, None, "L3")]
    right = [(3, "2020-01-01", "P")]
    assert _run(spark, left, right) == {"L3": None}


def test_null_key_rows_never_match_each_other(spark):
    # SQL equality never matches NULL = NULL; Window.partitionBy
    # would group them together without the right-side key filter.
    left = [(None, "2020-01-05", "LN"), (5, "2020-01-05", "L5")]
    right = [(None, "2020-01-01", "NULL-KEY-PAYLOAD"), (5, "2020-01-01", "P")]
    assert _run(spark, left, right) == {"LN": None, "L5": "P"}


# keys 0-2 (or NULL), days 1-6 (or NULL), payload small token (or
# NULL); right side unique per (key, ts) by construction (dict-dedup)
KEYS = st.one_of(st.none(), st.integers(0, 2))
LEFTS = st.lists(
    st.tuples(
        KEYS,
        st.one_of(st.none(), st.integers(1, 6)),
    ),
    min_size=1,
    max_size=8,
)
RIGHTS = st.lists(
    st.tuples(
        KEYS,
        st.one_of(st.none(), st.integers(1, 6)),
        st.one_of(st.none(), st.integers(0, 9)),
    ),
    max_size=10,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(LEFTS, RIGHTS)
def test_asof_matches_model_on_random_streams(spark, lefts, rights):
    def day(d):
        return None if d is None else f"2020-01-{d:02d}"

    left = [(k, day(d), f"t{i}") for i, (k, d) in enumerate(lefts)]
    right_map = {}
    for k, d, p in rights:  # unique (k, ts): last writer wins
        right_map[(k, day(d))] = None if p is None else f"p{p}"
    right = [(k, ts, p) for (k, ts), p in right_map.items()]
    if not right:
        right = [(0, "2020-01-01", "seed")]  # createDataFrame needs rows

    assert _run(spark, left, right) == _model(left, right)
