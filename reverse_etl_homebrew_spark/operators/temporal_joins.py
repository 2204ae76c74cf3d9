"""Temporal join operators: as-of (nearest-preceding) and range
joins — not in the reference (SURVEY.md §2.5 notes their absence),
but first-class citizens of an event/feature pipeline at scale.

As-of join strategy: the classic union-merge — tag both streams, sort
within key by (ts, right-first), and carry the last-seen right payload
forward with a running ``last(ignorenulls)`` window. ONE shuffle on
the key, no per-row lookups, no range explosion; at 100 TB this is
the only shape that doesn't blow up (a naive theta join is O(L×R) per
key).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
) -> DataFrame:
    """For every left row, attach the payload of the latest right row
    with right_ts <= left_ts (inclusive) for the same key; NULLs when
    no right row precedes. Right side should be unique per (key, ts) —
    pre-aggregate upstream for deterministic results.

    Exact ASOF semantics (matches DuckDB's native ASOF JOIN, the
    oracle twin): a NULL timestamp OR a NULL join key never matches on
    EITHER side (SQL comparison with NULL is not true) — NULL-ts and
    NULL-key right rows are filtered out, NULL-ts left rows sort
    before every surviving right row and get NULL payloads, and a
    NULL-key left row lands in a partition with no right rows at all
    (Window.partitionBy groups NULL keys together, so an unfiltered
    NULL-key right row would otherwise hand its payload to NULL-key
    left rows — a divergence from SQL equality, which never matches
    NULL = NULL); and the MATCHED row's payload is
    returned verbatim, NULL included. The payloads therefore travel as
    ONE struct column (non-NULL for every right row), so the running
    ``last(ignorenulls)`` tracks row PRESENCE, never payload nullness
    — a per-column last() would skip a matched-but-NULL payload and
    resurrect an older row's value (found by the r10 randomized
    property, tests/test_temporal_joins.py).

    Implementation: union-merge with a running last-non-null window.
    """
    lcols = left.columns
    payload = F.struct(*[F.col(c) for c in payload_cols])
    p_type = right.select(payload.alias("__p")).schema["__p"].dataType
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.struct(*lcols).alias("__left"),
        F.lit(None).cast(p_type).alias("__p"),
    )
    r_tagged = right.where(
        F.col(right_ts).isNotNull() & F.col(key).isNotNull()
    ).select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        F.lit(None).cast(
            l_tagged.schema["__left"].dataType
        ).alias("__left"),
        payload.alias("__p"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right rows sort before left rows at equal ts ⇔ inclusive match
    w = (
        W.partitionBy("__k")
        .orderBy(F.col("__ts"), F.col("__is_right").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.select(
        "__is_right",
        "__left",
        F.last("__p", ignorenulls=True).over(w).alias("__v"),
    )
    out = carried.filter(F.col("__is_right") == 0).select(
        *[F.col(f"__left.{c}").alias(c) for c in lcols],
        *[F.col(f"__v.{c}").alias(f"asof_{c}") for c in payload_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_cond: Column,
    range_cond: Column,
) -> DataFrame:
    """Equi-key + time/range predicate join. The equi conjunct makes
    Catalyst plan a hash/sort-merge join on the key with the range as
    a residual filter — linear in matched key pairs, never a cross
    product. For key-less range joins, bucketize time upstream and
    join on the bucket."""
    return left.join(right, key_cond & range_cond)
