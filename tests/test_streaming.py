"""Structured Streaming surface tests: the availableNow file-stream
pipeline must agree with the equivalent batch aggregation for
non-late data."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators import windows as WIN
from reverse_etl_homebrew_spark.sources.catalog import load_table
from reverse_etl_homebrew_spark.streaming.structured import stream_events_tumbling

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_matches_batch(spark, tmp_path):
    events_dir = str(tmp_path / "events_in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(events_dir)
    shutil.copy(os.path.join(SF, "events.parquet"), events_dir)

    stream_events_tumbling(spark, events_dir, out_dir, ckpt)

    streamed = spark.read.parquet(out_dir)
    batch = WIN.tumbling(
        load_table(spark, SF, "events"),
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        ],
    )

    s = sorted(
        (str(r["window_start"]), r["event_type"], r["n"], r["total_value"])
        for r in streamed.collect()
    )
    b = sorted(
        (str(r["window_start"]), r["event_type"], r["n"], r["total_value"])
        for r in batch.collect()
    )
    # with availableNow over a static file and a 2h watermark, every
    # window finalizes except those still inside the watermark horizon
    # of the max event time — compare the common (closed) prefix
    assert s, "stream produced no output"
    closed = [row for row in b if row in set(s)]
    assert s == sorted(closed)
    # at least the bulk of windows closed
    assert len(s) >= len(b) - 4


def test_stream_restart_is_incremental(spark, tmp_path):
    """Second availableNow run over the same checkpoint emits nothing
    new (exactly-once progress tracking)."""
    events_dir = str(tmp_path / "events_in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(events_dir)
    shutil.copy(os.path.join(SF, "events.parquet"), events_dir)

    stream_events_tumbling(spark, events_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0, "first run must emit rows (else the check is vacuous)"
    stream_events_tumbling(spark, events_dir, out_dir, ckpt)
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2


def test_stream_dedup_within_watermark(spark, tmp_path):
    """At-least-once feed with re-deliveries across micro-batches:
    streaming dedup must keep exactly the first arrival per key while
    re-deliveries land inside the watermark horizon, with state
    bounded by the delay (not by all keys ever seen)."""
    import datetime as dt

    from pyspark.sql import types as T

    from reverse_etl_homebrew_spark.streaming.structured import (
        stream_dedup_within_watermark,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(keys, minute_off, tag):
        return [
            (k, base + dt.timedelta(minutes=minute_off + (k % 3)), f"{tag}-{k}")
            for k in keys
        ]

    # batch 1: keys 0..49; batch 2: re-delivers 25..49 (dup) + new 50..74
    spark.createDataFrame(rows(range(50), 0, "first"), schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(
        rows(range(25, 75), 10, "redelivery"), schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    # one file per micro-batch (oldest first) so the re-delivery file
    # arrives in a LATER batch — proving dedup state carries across
    # micro-batches, not just within one
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    deduped = stream_dedup_within_watermark(stream, ["k"], "ts", "1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 75, f"expected 75 unique keys, got {len(got)}"
    assert {r["k"] for r in got} == set(range(75))
    # first arrival wins: keys 25..49 keep their 'first' payload
    by_key = {r["k"]: r["payload"] for r in got}
    assert all(by_key[k].startswith("first") for k in range(25, 50))


def test_stream_reader_event_time_unit_guard(spark, tmp_path):
    """Regression guard for the PySpark-4.1 streaming ns/µs reader bug:
    events read through read_events_stream must land in their true
    decade (year > 2000), not near the epoch. Fails if the
    _NANOS_FLOOR magnitude branch is removed or inverted."""
    import uuid

    from reverse_etl_homebrew_spark.streaming.structured import read_events_stream

    events_dir = str(tmp_path / "events_in")
    os.makedirs(events_dir)
    shutil.copy(os.path.join(SF, "events.parquet"), events_dir)
    name = f"unit_guard_{uuid.uuid4().hex[:8]}"
    q = (
        read_events_stream(spark, events_dir)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.sql(f"SELECT max(year(ts)) AS y, count(*) AS n FROM {name}").first()
    assert row["n"] > 0
    assert row["y"] is not None and row["y"] > 2000, (
        f"stream event times collapsed to {row['y']} — unit branch broken"
    )


def test_stream_reader_strict_units_fails_loudly(spark, tmp_path):
    """A batch containing a sub-floor event time (wrong unit / pre-1974)
    must fail the micro-batch with a named error, not silently produce
    near-epoch timestamps."""
    import uuid

    import pytest
    from pyspark.errors.exceptions.base import PySparkException

    from reverse_etl_homebrew_spark.streaming.structured import read_events_stream

    events_dir = str(tmp_path / "events_in")
    os.makedirs(events_dir)
    spark.createDataFrame(
        [(1, 12_345, 1, "click", 1.0, "{}")],
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(events_dir, mode="append")
    name = f"strict_{uuid.uuid4().hex[:8]}"
    q = (
        read_events_stream(spark, events_dir)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(PySparkException, match="unit-detection floor"):
        q.awaitTermination()


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join must produce exactly the
    batch interval-join pairs when no data is late (generous watermark
    so no state is reclaimed mid-drain)."""
    import uuid

    from reverse_etl_homebrew_spark.streaming.structured import (
        EVENTS_SCHEMA,
        read_events_stream,
        stream_interval_join,
    )

    raw = spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(SF, "events.parquet"))
    types = sorted(
        r["event_type"] for r in raw.select("event_type").distinct().collect()
    )[:2]
    ta, tb = types
    dir_a, dir_b = str(tmp_path / "a"), str(tmp_path / "b")
    raw.filter(F.col("event_type") == ta).write.parquet(dir_a)
    raw.filter(F.col("event_type") == tb).write.parquet(dir_b)

    joined = stream_interval_join(
        read_events_stream(spark, dir_a),
        read_events_stream(spark, dir_b),
        watermark="3650 days",
        within="30 minutes",
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["event_id"], r["event_id_r"])
        for r in spark.sql(f"SELECT event_id, event_id_r FROM {name}").collect()
    }

    ev = load_table(spark, SF, "events")
    ba = ev.filter(F.col("event_type") == ta)
    bb = ev.filter(F.col("event_type") == tb).select(
        *[F.col(c).alias(f"{c}_r") for c in ev.columns]
    )
    cond = (
        (ba["user_id"] == bb["user_id_r"])
        & (bb["ts_r"] >= ba["ts"])
        & (bb["ts_r"] <= ba["ts"] + F.expr("INTERVAL 30 minutes"))
    )
    expected = {
        (r["event_id"], r["event_id_r"])
        for r in ba.join(bb, cond, "inner").select("event_id", "event_id_r").collect()
    }
    assert len(expected) > 0, "empty batch join would make the test vacuous"
    assert streamed == expected


def test_running_totals_compat_matches_batch(spark, tmp_path):
    """The applyInPandasWithState running totals drain to the same
    per-user totals as the batch aggregation."""
    import uuid

    from reverse_etl_homebrew_spark.streaming.stateful import (
        streaming_running_totals,
    )
    from reverse_etl_homebrew_spark.streaming.structured import read_events_stream

    events_dir = str(tmp_path / "events_in")
    os.makedirs(events_dir)
    shutil.copy(os.path.join(SF, "events.parquet"), events_dir)
    name = f"rt_compat_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_running_totals(read_events_stream(spark, events_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        f"SELECT user_id, n_events, total_value FROM {name}"
    ).collect()
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])

    batch = {
        r["user_id"]: (r["n"], r["total"])
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, total) in batch.items():
        assert final[uid][0] == n, f"user {uid} count"
        assert abs(final[uid][1] - total) < 1e-6, f"user {uid} total"
