"""Span-level exact duplicate detection (operators/dedup.py
``duplicate_spans`` / ``dup_span_rate``): Spark vs a pure-Python
brute-force reference on a planted corpus, plus the edge semantics the
operators promise (strict short-doc exclusion, within-doc repeats
counting for the rate but not for cross-doc detection, whitespace-form
insensitivity of the window text).
"""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators.dedup import (
    build_span_index,
    dup_span_rate,
    duplicate_spans,
    incremental_dup_spans,
    token_span_windows,
)

L = 8

# Planted corpus (doc_id, text):
# - 1 and 2 share the window "a b c d e f g h" (cross-doc dup)
# - 3 is one token short of a window (strict exclusion)
# - 4 repeats its own 8-token window WITHIN the doc (rate counts it,
#   detect must not: n_docs == 1)
# - 5 carries doc 1's window spelled with tabs/newlines — the window
#   TEXT is identical after tokenization, so it joins the cross-doc
#   group
DOCS = [
    (1, "a b c d e f g h i"),
    (2, "x a b c d e f g h y z"),
    (3, "one two three four five six seven"),
    (4, "p q r s t u v w Z p q r s t u v w"),
    (5, "a\tb c d\ne f g  h"),
    # 6: windows exist but none duplicated — must still get a rate row
    # (n_dup_spans = 0), pinning the left-join/coalesce arm
    (6, "k l m n o aa bb cc dd"),
]


def _windows(text: str) -> list[str]:
    toks = text.split()  # any whitespace, empties dropped — tokens() twin
    if len(toks) < L:
        return []
    return [" ".join(toks[i : i + L]) for i in range(len(toks) - L + 1)]


def _round6_half_away(fr: Fraction) -> float:
    units = (2 * fr.numerator * 10**6 + fr.denominator) // (2 * fr.denominator)
    return units / 1e6


def _brute():
    wins = [(i, w) for i, t in DOCS for w in _windows(t)]
    by_win_docs = {}
    by_win_count = Counter(w for _, w in wins)
    for i, w in wins:
        by_win_docs.setdefault(w, set()).add(i)
    detect = {
        w: (len(by_win_docs[w]), by_win_count[w])
        for w in by_win_count
        if len(by_win_docs[w]) > 1
    }
    rate = {}
    for i, _t in DOCS:
        mine = _windows(_t)
        if not mine:
            continue
        dup = sum(1 for w in mine if by_win_count[w] > 1)
        rate[i] = (
            len(mine),
            dup,
            _round6_half_away(Fraction(dup, len(mine))),
        )
    return detect, rate


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_short_doc_yields_no_windows(spark):
    wins = token_span_windows(_df(spark), "text", "doc_id", L)
    assert wins.where(F.col("doc_id") == 3).count() == 0


def test_duplicate_spans_matches_brute_force(spark):
    expected_detect, _ = _brute()
    got = {
        r["win"]: (r["n_docs"], r["n_spans"])
        for r in duplicate_spans(_df(spark), "text", "doc_id", L).collect()
    }
    assert got == expected_detect
    # the planted cross-doc window is present and the within-doc-only
    # repeat (doc 4) is NOT — the corpus actually exercises both arms
    assert "a b c d e f g h" in got and got["a b c d e f g h"][0] == 3
    assert all("p q r s t u v w" != w for w in got)


def test_dup_span_rate_matches_brute_force(spark):
    _, expected_rate = _brute()
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_rate"])
        for r in dup_span_rate(_df(spark), "text", "doc_id", L).collect()
    }
    assert got == expected_rate
    # doc 4's self-repeat counts toward ITS rate (both spans dup) even
    # though it never appears in cross-doc detection
    assert got[4][1] == 2
    # doc 3 (no windows) has no row rather than a 0/0 division
    assert 3 not in got
    # doc 6 has windows but zero duplicated ones — present with rate 0
    assert got[6] == (2, 0, 0.0)


def test_span_ops_partition_invariant(spark):
    base = _df(spark)
    for op in (duplicate_spans, dup_span_rate):
        a = sorted(map(tuple, op(base.repartition(1), "text", "doc_id", L).collect()))
        b = sorted(map(tuple, op(base.repartition(7), "text", "doc_id", L).collect()))
        assert a == b


# --- incremental span dedup: new batch vs accepted-corpus index ---
# Accepted corpus: docs 1/2/5 (they share "a b c d e f g h").
# New batch plants every arm:
# - 10 carries the accepted window                  -> cross-batch dup
# - 11 and 12 share "m1 m2 m3 m4 m5 m6 m7 m8",
#   absent from the corpus                          -> within-batch dup
# - 13 repeats its own window WITHIN one doc only   -> NOT flagged
#   (n_docs == 1, not in index — same standard as duplicate_spans)
# - 14 is all-fresh single-doc text                 -> NOT flagged
# - 15 is one token short of a window               -> no windows
ACCEPTED = [d for d in DOCS if d[0] in (1, 2, 5)]
BATCH = [
    (10, "zz a b c d e f g h qq"),
    (11, "m1 m2 m3 m4 m5 m6 m7 m8 tail1"),
    (12, "head m1 m2 m3 m4 m5 m6 m7 m8"),
    (13, "s1 s2 s3 s4 s5 s6 s7 s8 X s1 s2 s3 s4 s5 s6 s7 s8"),
    (14, "f1 f2 f3 f4 f5 f6 f7 f8 f9"),
    (15, "only seven tokens live in here now"),
]


def _brute_incremental():
    idx = {w for _, t in ACCEPTED for w in _windows(t)}
    wins = [(i, w) for i, t in BATCH for w in _windows(t)]
    by_docs, counts = {}, Counter(w for _, w in wins)
    for i, w in wins:
        by_docs.setdefault(w, set()).add(i)
    return {
        w: (len(by_docs[w]), counts[w], w in idx)
        for w in counts
        if w in idx or len(by_docs[w]) > 1
    }


def test_incremental_dup_spans_matches_brute_force(spark):
    batch = spark.createDataFrame(BATCH, "doc_id long, text string")
    accepted = spark.createDataFrame(ACCEPTED, "doc_id long, text string")
    idx = build_span_index(accepted, "text", "doc_id", L)
    got = {
        r["win"]: (r["n_docs"], r["n_spans"], r["in_index"])
        for r in incremental_dup_spans(batch, idx, "text", "doc_id", L).collect()
    }
    expected = _brute_incremental()
    assert got == expected
    # each planted arm actually fired
    assert got["a b c d e f g h"] == (1, 1, True)          # cross-batch
    assert got["m1 m2 m3 m4 m5 m6 m7 m8"] == (2, 2, False)  # within-batch
    assert all(not w.startswith("s1 ") for w in got)        # self-repeat only
    assert all(not w.startswith("f1 ") for w in got)        # fresh text


def test_incremental_dup_spans_partition_invariant(spark):
    batch = spark.createDataFrame(BATCH, "doc_id long, text string")
    idx = build_span_index(
        spark.createDataFrame(ACCEPTED, "doc_id long, text string"),
        "text",
        "doc_id",
        L,
    )
    a = sorted(
        map(
            tuple,
            incremental_dup_spans(
                batch.repartition(1), idx, "text", "doc_id", L
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            incremental_dup_spans(
                batch.repartition(7), idx.repartition(3), "text", "doc_id", L
            ).collect(),
        )
    )
    assert a == b


# --- property: random small-alphabet corpora vs the Python model ---
# A 4-symbol token alphabet at window length 3 makes duplicate windows
# genuinely common, exercising every arm (cross-doc groups, within-doc
# repeats, dup-free docs, short docs). ASCII-only tokens: Java's \s /
# split are ASCII while Python's are unicode-aware — a documented
# engine difference, not an operator property.
CORPORA = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=10),
    min_size=1,
    max_size=8,
)

PROP = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@PROP
@given(CORPORA)
def test_span_ops_match_model_on_random_corpora(spark, corpora):
    n = 3
    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]

    def wins_of(text):
        t = text.split()
        return (
            [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
            if len(t) >= n
            else []
        )

    all_wins = [(i, w) for i, txt in docs for w in wins_of(txt)]
    counts = Counter(w for _, w in all_wins)
    docs_of = {}
    for i, w in all_wins:
        docs_of.setdefault(w, set()).add(i)

    expected_detect = {
        w: (len(docs_of[w]), counts[w]) for w in counts if len(docs_of[w]) > 1
    }
    expected_rate = {}
    for i, txt in docs:
        mine = wins_of(txt)
        if mine:
            dup = sum(1 for w in mine if counts[w] > 1)
            expected_rate[i] = (
                len(mine),
                dup,
                _round6_half_away(Fraction(dup, len(mine))),
            )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got_detect = {
        r["win"]: (r["n_docs"], r["n_spans"])
        for r in duplicate_spans(df, "text", "doc_id", n).collect()
    }
    got_rate = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_rate"])
        for r in dup_span_rate(df, "text", "doc_id", n).collect()
    }
    assert got_detect == expected_detect
    assert got_rate == expected_rate
