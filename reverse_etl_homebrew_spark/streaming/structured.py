"""Structured Streaming surface (SURVEY.md §2.8).

The reference's incremental model is batch micro-runs gated by a
ledger watermark; Structured Streaming with ``Trigger.AvailableNow``
is the idiomatic Spark expression of the same daily-micro-batch shape
(README.md:98): file source → event-time transforms → sink, with
checkpointed exactly-once progress instead of a hand-rolled ledger.

Provided pipelines:
- ``stream_events_tumbling``: watermarked tumbling-window counts over
  an events directory — late rows beyond the watermark are dropped,
  which the reference never needed (keyed upserts absorb late data);
  both policies are available to callers.
- ``stream_upsert_sync``: the reverse-ETL write plan as a
  ``foreachBatch`` stream — each micro-batch runs the same pure plan +
  isolated writer the batch path uses, giving at-least-once external
  writes deduplicated by natural-key idempotency.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.aggregates import finite_dec

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # raw nanos (nanosAsLong read)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


#: Column that receives the raw text of unparseable JSONL lines.
CORRUPT_COL = "_corrupt_record"

# PERMISSIVE mode + ``columnNameOfCorruptRecord`` captures each bad
# line without failing the scan (FAILFAST dies on line 1,
# DROPMALFORMED loses data silently). The parse is a ``from_json``
# expression over a text scan, not the JSON reader: the reader refuses
# a query that projects only the corrupt-record column, which is
# exactly what the DLQ leg is, and the text scan keeps the raw line.
_PARSE_OPTS = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}


def _with_corrupt_field(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


# Any int64 event time above this is nanoseconds: ns for dates after
# 1974-10 exceed it, while µs would have to encode year ~6700 to reach
# it. Below it, the value is already microseconds (µs for 1974..6700).
# The streaming parquet reader does not honor the session's
# legacy nanosAsLong conf the way the batch reader does — observed on
# PySpark 4.1.2: the same TIMESTAMP(NANOS) column arrives as raw ns in
# batch but µs in streaming — so the conversion must be unit-robust
# rather than assume one reader behavior.
_NANOS_FLOOR = 150_000_000_000_000_000

#: µs for 1974-10. A non-null int64 event time below this encodes a
#: pre-1974 date or a unit other than µs/ns — the magnitude branch
#: cannot classify it, so strict mode fails the batch loudly instead
#: of letting a wrong unit bleed into watermarks and window
#: assignment undetected.
_MICROS_FLOOR = 150_000_000_000_000


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    strict_units: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over events parquet files, normalized to the
    same timestamp semantics as the batch catalog loader.

    The int64 ``ts`` column is converted to a timestamp with a per-row
    magnitude branch (see ``_NANOS_FLOOR``): values in ns range are
    integer-divided to µs; values already in µs pass through. This is
    deterministic for any event date between 1974 and ~6700 and makes
    the stream agree with the batch path regardless of which unit the
    parquet reader delivers.

    ``strict_units`` (default on) raises in-task on any non-null value
    below the detection floor (``_MICROS_FLOOR``) — the micro-batch
    fails with a named error rather than silently producing
    near-epoch timestamps. Pass ``False`` only for corpora that
    genuinely contain pre-1974 event times in a known unit.

    ``max_files_per_trigger`` caps files per micro-batch (the
    disorder-probe harness and any deployment that wants bounded
    batch sizes) — same normalization either way, so tests exercising
    multi-batch arrival drive the REAL reader, not a fork of it.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA).option(
        "pathGlobFilter", "*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(events_dir)
    micros = F.when(
        F.col("ts") > F.lit(_NANOS_FLOOR), F.expr("ts div 1000")
    ).otherwise(F.col("ts"))
    if strict_units:
        micros = F.when(
            F.col("ts").isNotNull() & (F.col("ts") < F.lit(_MICROS_FLOOR)),
            F.raise_error(
                F.concat(
                    F.lit(
                        "event ts below unit-detection floor "
                        "(pre-1974 date or non-µs/ns unit): "
                    ),
                    F.col("ts").cast("string"),
                )
            ).cast("long"),
        ).otherwise(micros)
    return raw.withColumn("ts", F.timestamp_micros(micros).cast("timestamp"))


def stream_events_tumbling(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked tumbling counts, AvailableNow (drain-and-stop).
    State is bounded by the watermark horizon — at 100 TB/day the
    state store holds only ~watermark/window per-key windows.

    Returns the terminated StreamingQuery so callers can audit
    ``recentProgress`` — in particular
    ``stateOperators[].numRowsDroppedByWatermark``, the loud
    accounting for the beyond-horizon drop policy (r12 disorder
    probe): late rows past the watermark are DROPPED by design, and
    that count is the only place the loss is visible.

    Non-finite policy (r11, stream ≡ batch): the exact-decimal
    revenue sum RAISES on NaN/Inf amounts — same as the batch twin's
    accounting contract — so a corrupt-amount batch fails the
    streaming query loudly rather than silently dropping money from
    a total. Producers that cannot guarantee finite amounts must
    pre-filter (is_finite) or route to a DLQ upstream; contrast the
    NULL-ts policy, which DROPS rows, because an unstamped event has
    defined semantics (no window position) while a NaN amount does
    not."""
    ev = read_events_stream(spark, events_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(finite_dec(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_upsert_sync(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    batch_handler: Callable[[DataFrame, int], None],
) -> None:
    """foreachBatch bridge: every micro-batch DataFrame is handed to
    the same batch-side plan/writer machinery (streaming/incremental
    composition), keeping external side effects out of the streaming
    plan itself."""
    ev = read_events_stream(spark, events_dir)
    q = (
        ev.writeStream.foreachBatch(batch_handler)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup_within_watermark(
    stream: DataFrame,
    keys: list,
    event_time_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup: keep the first arrival per key, dropping
    re-deliveries that land within the watermark horizon — the
    streaming face of the corpus exact-dedup operator, and the right
    primitive for at-least-once upstream feeds (every re-delivered
    record would otherwise re-fire downstream writes).

    ``dropDuplicatesWithinWatermark`` bounds the dedup state store by
    the watermark delay (state for a key is reclaimed once the
    watermark passes its last-seen event time), so state is
    O(arrival rate × delay) — never O(all keys ever seen), which is
    what plain streaming dropDuplicates degrades to at corpus scale."""
    return stream.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_time: str = "ts",
    right_time: str = "ts",
    watermark: str = "2 hours",
    within: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream INNER interval join: pair each left
    event with same-key right events whose event time falls in
    [left_time, left_time + within] — the streaming twin of the batch
    range-join operator (e.g. impressions x clicks attribution in a
    training-data event pipeline).

    Scale contract (the reason both inputs must be watermarked and the
    join condition must bound BOTH event times): Spark keeps each
    side's rows in the state store only until the other side's
    watermark passes the interval bound, so state is
    O(arrival rate x (watermark + within)) per side — never unbounded.
    An un-watermarked stream-stream join is rejected by Spark in
    append mode precisely because its state could not be reclaimed.

    Right columns come back suffixed ``_r`` (a self-join of one events
    stream would otherwise collide on every column).
    """
    l = left.withWatermark(left_time, watermark).alias("l")
    r_renamed = right.select(
        [F.col(c).alias(f"{c}_r") for c in right.columns]
    )
    r = r_renamed.withWatermark(f"{right_time}_r", watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}_r"))
        & (F.col(f"r.{right_time}_r") >= F.col(f"l.{left_time}"))
        & (
            F.col(f"r.{right_time}_r")
            <= F.col(f"l.{left_time}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, "inner")


def stream_ingest_jsonl(
    spark: SparkSession,
    in_dir: str,
    schema: T.StructType,
    out_dir: str,
    dlq_dir: str,
    checkpoint_root: str,
) -> None:
    """Continuous JSONL file-drop ingest with corrupt-record DLQ
    routing: a malformed line is never dropped silently, it becomes a
    dead-letter row carrying the raw text (the API writer's DLQ
    pattern, sinks/control.py).

    Each availableNow run drains whatever files landed since the last
    checkpointed offset: good rows append to the parquet table, bad
    lines (unparseable or schema-mismatched) append to the DLQ table
    with their raw text and source file. Both legs use the parquet
    FILE SINK, whose ``_spark_metadata`` transaction log makes the
    append EXACTLY-once across restarts and retries — stronger than a
    ``foreachBatch`` append, which is only at-least-once on batch
    retry. The two legs read the text source independently (two thin
    scans of the same new files) so each has its own checkpoint and
    neither blocks the other's progress.

    Scale: the parse is the same codegen ``from_json`` expression the
    batch reader uses; state is only the file-source offset log. At
    100 TB/day this is the standing ingest job: new drops are
    discovered per trigger, and DLQ volume is observable as a table
    instead of a log grep."""
    full = _with_corrupt_field(schema)
    data_cols = [f.name for f in schema.fields]

    def parsed():
        txt = spark.readStream.text(in_dir)
        return txt.select(
            "value",
            F.input_file_name().alias("source"),
            F.from_json("value", full, _PARSE_OPTS).alias("rec"),
        )

    bad = F.col("rec").isNull() | F.col(f"rec.{CORRUPT_COL}").isNotNull()
    good = parsed().filter(~bad).select(
        *[F.col(f"rec.{c}").alias(c) for c in data_cols]
    )
    dlq = parsed().filter(bad).select(
        F.col("source"),
        F.col("value").alias("raw_record"),
        F.lit("parse_error").alias("reason"),
    )

    queries = [
        good.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_root + "/good")
        .trigger(availableNow=True)
        .start(),
        dlq.writeStream.format("parquet")
        .option("path", dlq_dir)
        .option("checkpointLocation", checkpoint_root + "/dlq")
        .trigger(availableNow=True)
        .start(),
    ]
    for q in queries:
        q.awaitTermination()
