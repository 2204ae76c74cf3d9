"""Seventh poison class: event-time DISORDER in the streaming tier.

Every prior streaming test fed orderly (or merely re-delivered) data;
real feeds interleave producers, so events arrive out of event-time
order both within a micro-batch and across micro-batches. The
contract pinned here, per operator:

- IN-HORIZON disorder (late, but within the watermark delay) is
  ABSORBED: drained output is bit-identical to the batch twin over
  the same rows, no matter how arrival order scrambles.
- BEYOND-HORIZON lateness follows each operator's declared policy —
  dropped-with-loud-accounting for windowed aggs
  (numRowsDroppedByWatermark), dropped for stale-stamped
  re-deliveries (dedup stays exact), duplicate-emission for
  RE-STAMPED re-deliveries after state eviction (the documented
  at-least-once boundary of dropDuplicatesWithinWatermark).

The sessionizer case pins the r12 disorder FIX: the old running
(start, last) scan moved the session frontier backward on any
in-horizon late event, corrupting session_end and the event-time
timeout; the interval sweep absorbs disorder like the batch twin's
global sort.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

from pyspark.sql import functions as F, types as T

from reverse_etl_homebrew_spark.operators import windows as WIN
from reverse_etl_homebrew_spark.streaming.structured import (
    EVENTS_SCHEMA,
    read_events_stream,
    stream_dedup_within_watermark,
    stream_events_tumbling,
    stream_interval_join,
)

_EPOCH = dt.datetime(1970, 1, 1)


def _us(hour: float) -> int:
    """Event time as int64 MICROSECONDS on 2026-01-01 (past the
    streaming reader's unit-detection floor)."""
    t = dt.datetime(2026, 1, 1) + dt.timedelta(hours=hour)
    return int((t - _EPOCH).total_seconds() * 1_000_000)


def _land_one_file(df, target_dir: str, mtime_rank: int) -> None:
    """Write df as ONE flat parquet file inside target_dir (the file
    source does not recurse into write-job subdirectories) with an
    mtime that forces the file-source processing order."""
    tmp = f"{target_dir}__stage{mtime_rank}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = os.path.join(target_dir, f"{mtime_rank:03d}.parquet")
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    t = time.time() + mtime_rank
    os.utime(dst, (t, t))


def _write_events(spark, events_dir: str, rows, mtime_rank: int) -> None:
    """One parquet file of (event_id, ts_µs, user_id, event_type,
    value) rows."""
    df = spark.createDataFrame(
        [(i, ts, uid, et, val, None) for i, (ts, uid, et, val) in enumerate(rows)],
        EVENTS_SCHEMA,
    )
    _land_one_file(df, events_dir, mtime_rank)


def _batch_events(spark, rows):
    df = spark.createDataFrame(
        [(i, ts, uid, et, val, None) for i, (ts, uid, et, val) in enumerate(rows)],
        EVENTS_SCHEMA,
    )
    return df.withColumn("ts", F.timestamp_micros(F.col("ts")).cast("timestamp"))


def _tumbling_batch(spark, rows):
    return WIN.tumbling(
        _batch_events(spark, rows),
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        ],
    )


def _norm(rows):
    return sorted(
        (str(r["window_start"]), r["event_type"], r["n"], r["total_value"])
        for r in rows
    )


def test_tumbling_absorbs_in_horizon_disorder(spark, tmp_path):
    """Cross-batch disorder inside the watermark horizon: run 1 drains
    hours 10-11, run 2 delivers rows OLDER than run 1's frontier (but
    within the 2h delay) plus a fence that closes everything — the
    drained totals must equal the batch twin over all non-fence rows,
    including the late ones."""
    events_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(events_dir)

    run1 = [
        (_us(10.1), 1, "A", 1.0),
        (_us(10.5), 2, "A", 2.0),
        (_us(11.2), 3, "B", 4.0),
    ]
    # older than the 11.2 frontier, within the 2h horizon
    late = [(_us(10.3), 4, "A", 8.0), (_us(9.8), 5, "B", 16.0)]
    fence = [(_us(20.0), 9, "FENCE", 0.0)]

    _write_events(spark, events_dir, run1, 0)
    stream_events_tumbling(spark, events_dir, out, ckpt)
    _write_events(spark, events_dir, late + fence, 1)
    stream_events_tumbling(spark, events_dir, out, ckpt)

    got = [
        r
        for r in spark.read.parquet(out).collect()
        if r["event_type"] != "FENCE"
    ]
    want = _tumbling_batch(spark, run1 + late).collect()
    assert _norm(got) == _norm(want)


def test_tumbling_drops_beyond_horizon_rows_with_loud_accounting(spark, tmp_path):
    """Lateness past the watermark is DROPPED by policy — never
    double-counted into an already-emitted window — and the loss is
    visible in numRowsDroppedByWatermark, the windowed-agg analogue of
    the engine's exact-or-loud accounting rule."""
    events_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(events_dir)

    run1 = [
        (_us(10.1), 1, "A", 1.0),
        (_us(10.4), 2, "A", 2.0),
        (_us(20.0), 9, "FENCE", 0.0),  # watermark -> 18:00 after run 1
    ]
    beyond = [
        (_us(10.3), 4, "A", 100.0),
        (_us(10.2), 5, "A", 100.0),
        (_us(9.9), 6, "B", 100.0),
    ]
    _write_events(spark, events_dir, run1, 0)
    stream_events_tumbling(spark, events_dir, out, ckpt)
    _write_events(spark, events_dir, beyond, 1)
    q2 = stream_events_tumbling(spark, events_dir, out, ckpt)

    got = [
        r
        for r in spark.read.parquet(out).collect()
        if r["event_type"] != "FENCE"
    ]
    want = _tumbling_batch(spark, run1[:2]).collect()  # late rows never land
    assert _norm(got) == _norm(want)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q2.recentProgress
        for op in p["stateOperators"]
    )
    # the counter's unit is POST-partial-aggregation window rows, not
    # raw inputs: the two type-A lates share the 10:00 window and
    # merge map-side before the state store sees them, so 3 planted
    # rows surface as 2 dropped groups — (10:00,A) and (09:00,B).
    # Operators auditing loss at row granularity must count upstream.
    assert dropped == 2, f"drop accounting saw {dropped}"


def test_dedup_disorder_boundaries(spark, tmp_path):
    """dropDuplicatesWithinWatermark under disorder: a STALE-stamped
    re-delivery arriving beyond the watermark is filtered (dedup stays
    exact), while a RE-STAMPED re-delivery after its key's state was
    evicted is emitted again — the documented at-least-once boundary
    (duplicates are only absorbed while they land within the delay)."""
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    t = lambda hour: dt.datetime(2026, 1, 1) + dt.timedelta(hours=hour)

    def write(rows, rank):
        _land_one_file(spark.createDataFrame(rows, schema), in_dir, rank)

    write([(1, t(10.0), "first-1"), (3, t(10.0), "first-3")], 0)
    write([(999, t(20.0), "fence")], 1)  # watermark -> 19:00 (1h delay)
    # state eviction runs at batch END, so the batch that first SEES
    # the 19:00 watermark still holds key 3's expired state — a
    # spacer batch lets eviction land before the re-stamped arrival
    write([(998, t(20.1), "fence2")], 2)
    write([(1, t(10.0), "stale-redelivery"), (3, t(19.5), "restamped")], 3)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream_dedup_within_watermark(stream, ["k"], "ts", "1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r["payload"])
    assert by_key[1] == ["first-1"], by_key  # stale re-delivery filtered
    assert sorted(by_key[3]) == ["first-3", "restamped"], by_key  # boundary
    assert by_key[999] == ["fence"] and by_key[998] == ["fence2"]


def test_interval_join_pairs_across_disordered_batches(spark, tmp_path):
    """A right-side event arriving micro-batches AFTER its left
    partner (but within the watermark) must still pair: the join's
    state holds the left row until the right watermark passes the
    interval bound."""
    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(left_dir)
    os.makedirs(right_dir)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("kind", T.StringType()),
        ]
    )
    t = lambda hour: dt.datetime(2026, 1, 1) + dt.timedelta(hours=hour)

    def write(d, rows, rank):
        _land_one_file(spark.createDataFrame(rows, schema), d, rank)

    write(left_dir, [(7, t(10.0), "impression")], 0)
    write(right_dir, [(999, t(10.0), "noise")], 0)
    write(right_dir, [(7, t(10.5), "click")], 1)  # a later micro-batch

    lstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(left_dir)
    )
    rstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(right_dir)
    )
    joined = stream_interval_join(
        lstream, rstream, key="user_id", watermark="2 hours", within="1 hour"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    pairs = {(r["user_id"], r["kind"], r["kind_r"]) for r in rows}
    assert pairs == {(7, "impression", "click")}, pairs


def test_sessionize_absorbs_in_horizon_disorder(spark, tmp_path):
    """The r12 disorder fix, pinned: late in-horizon events landing
    inside (or within one gap before) the open session must merge the
    way the batch twin's global sort does — extending session_start
    backward, never moving the frontier (and thus session_end / the
    event-time timeout) backward. Pre-fix, `last = t` retreated on
    every late event, mis-closing this session at 10:01+gap."""
    from reverse_etl_homebrew_spark.streaming.stateful import streaming_sessionize

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    batch1 = [
        (_us(10.0), 1, "e", 1.0),
        (_us(10.0) + 300_000_000, 1, "e", 2.0),  # 10:05 — the frontier
    ]
    late = [
        (_us(10.0) + 60_000_000, 1, "e", 4.0),  # 10:01, in-span
        (_us(10.0) - 240_000_000, 1, "e", 8.0),  # 09:56, within one gap
        (_us(20.0), 999, "fence", 0.0),  # watermark -> times out user 1
    ]
    _write_events(spark, in_dir, batch1, 0)
    _write_events(spark, in_dir, late, 1)

    sessions = streaming_sessionize(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        gap_seconds=600.0,
    )
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = [r for r in spark.read.parquet(out).collect() if r["user_id"] == 1]
    assert len(rows) == 1, rows
    r = rows[0]
    # batch-twin truth: one merged session [09:56 .. 10:05], closing at
    # last + gap = 10:15, n=4, total=15
    assert str(r["session_start"]).endswith("09:56:00")
    assert str(r["session_end"]).endswith("10:15:00")
    assert r["n_events"] == 4
    assert abs(r["total_value"] - 15.0) < 1e-9

    batch = WIN.session(
        _batch_events(spark, batch1 + late[:2]),
        "ts",
        "10 minutes",
        keys=["user_id"],
    ).collect()
    b = [x for x in batch if x["user_id"] == 1][0]
    assert str(b["window_start"]) == str(r["session_start"])
    assert b["n"] == r["n_events"]


def test_sessionize_late_stray_closes_as_own_session(spark, tmp_path):
    """The documented eager-close boundary of the interval sweep: an
    in-horizon late event predating the OPEN session by more than a
    gap cannot rejoin its (already-emitted or never-seen) sibling —
    it closes as its own single-event session. Pinned so the boundary
    can neither silently widen (stray merged into the wrong session)
    nor narrow (stray dropped)."""
    from reverse_etl_homebrew_spark.streaming.stateful import streaming_sessionize

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(in_dir)

    # batch 1 opens a session at 12:00; batch 2's stray lands at 11:52
    # — 480 s before the open session's start, MORE than the 300 s gap
    # (so it cannot merge) but inside the 30 min watermark delay (so
    # it is not dropped as late)
    batch1 = [
        (_us(12.0), 1, "e", 1.0),
    ]
    late_stray = [
        (_us(12.0) - 480 * 1_000_000, 1, "e", 2.0),  # 11:52
    ]
    fence = [(_us(20.0), 999, "f", 0.0)]
    _write_events(spark, in_dir, batch1, 0)
    _write_events(spark, in_dir, late_stray + fence, 1)

    sessions = streaming_sessionize(
        read_events_stream(spark, in_dir, max_files_per_trigger=1),
        gap_seconds=300.0,
        watermark_delay="30 minutes",
    )
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = sorted(
        (
            (str(r["session_start"]), r["n_events"], r["total_value"])
            for r in spark.read.parquet(out).collect()
            if r["user_id"] == 1
        )
    )
    # two sessions: the 11:52 stray alone, and the 12:00 original
    assert rows == [
        ("2026-01-01 11:52:00", 1, 2.0),
        ("2026-01-01 12:00:00", 1, 1.0),
    ], rows


def test_running_totals_final_state_is_arrival_order_invariant(spark, tmp_path):
    """Running totals under disorder: INTERMEDIATE update rows
    legitimately depend on arrival order (they narrate the arrival
    sequence), but the FINAL per-key state must not — sums and counts
    commute. Drive the running totals over the same rows in two opposite
    file orders and require identical final (n, total) per user."""
    import uuid

    from reverse_etl_homebrew_spark.streaming.stateful import (
        streaming_running_totals,
    )

    rows = [
        (_us(10.0), 1, "e", 1.0),
        (_us(11.0), 1, "e", 2.0),
        (_us(9.0), 2, "e", 4.0),
        (_us(12.0), 2, "e", 8.0),
    ]

    def drain(order_label, file_a, file_b):
        d = str(tmp_path / f"in_{order_label}")
        os.makedirs(d)
        _write_events(spark, d, file_a, 0)
        _write_events(spark, d, file_b, 1)
        name = f"rt_disorder_{order_label}_{uuid.uuid4().hex[:8]}"
        q = (
            streaming_running_totals(
                read_events_stream(spark, d, max_files_per_trigger=1)
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{order_label}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        final = {}
        for r in spark.sql(
            f"SELECT user_id, n_events, total_value FROM {name}"
        ).collect():
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                final[r["user_id"]] = (r["n_events"], r["total_value"])
        return final

    fwd = drain("fwd", rows[:2], rows[2:])
    rev = drain("rev", rows[2:], rows[:2])
    assert fwd == rev == {1: (2, 3.0), 2: (2, 12.0)}


def test_interval_join_loses_beyond_horizon_pairs_with_accounting(spark, tmp_path):
    """The interval join's beyond-horizon face: a right event arriving
    after the watermark passed its interval bound is DROPPED — the
    pair is lost by declared policy, and the loss is visible in
    numRowsDroppedByWatermark rather than silent."""
    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    out = str(tmp_path / "out")
    os.makedirs(left_dir)
    os.makedirs(right_dir)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("kind", T.StringType()),
        ]
    )
    t = lambda hour: dt.datetime(2026, 1, 1) + dt.timedelta(hours=hour)

    def write(d, rows, rank):
        _land_one_file(spark.createDataFrame(rows, schema), d, rank)

    write(left_dir, [(7, t(10.0), "impression")], 0)
    write(right_dir, [(999, t(10.0), "noise")], 0)
    # fences advance BOTH watermarks far past 10:00 + within + delay
    write(left_dir, [(998, t(30.0), "fence_l")], 1)
    write(right_dir, [(997, t(30.0), "fence_r")], 1)
    # spacer batch so the advanced watermark is applied before the late row
    write(right_dir, [(996, t(30.1), "noise2")], 2)
    # the matching click arrives beyond the horizon
    write(right_dir, [(7, t(10.5), "late_click")], 3)

    lstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(left_dir)
    )
    rstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(right_dir)
    )
    joined = stream_interval_join(
        lstream, rstream, key="user_id", watermark="2 hours", within="1 hour"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    kinds = {(r["user_id"], r["kind"], r["kind_r"]) for r in spark.read.parquet(out).collect()}
    assert (7, "impression", "late_click") not in kinds
    assert not any(k[0] == 7 for k in kinds), kinds  # the pair is lost by policy
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped >= 1, "late right row vanished without accounting"
