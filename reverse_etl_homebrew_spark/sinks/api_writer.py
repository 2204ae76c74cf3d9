"""Partition-parallel external-API writer (SURVEY.md §2.9 `api-writer`).

The reference writes serially, one record at a time, inside the
transform loop (upsert_contacts main.py:667-729). The engine keeps the
*plan* (create vs update decision) a pure DataFrame and isolates the
side effect in a single ``foreachPartition`` action:

- plan rows carry (natural_key, hubspot_id?, outcome, properties-json);
- each partition gets its own transport (session reuse ≈ the
  reference's shared requests.Session, main.py:428-432);
- records are written in BATCH_SIZE chunks (main.py:51,670) with the
  exact retry contract: statuses {429,500,502,503,504} retried up to
  MAX_RETRIES with capped exponential backoff, then surfaced as
  failures (→ DLQ) with the synthetic 599 sentinel (main.py:434-457);
- results (created / updated / failed per key) come back through a
  spool directory, never through the lazy plan, and every outcome is
  flushed to the spool IMMEDIATELY after its API call returns — a
  mid-partition task failure leaves the already-fired calls on
  record for reconciliation instead of vanishing with the task.

Side-effect safety model (external writes cannot be transactional):
- a Spark task retry or speculative duplicate re-fires the
  partition's calls, so ``write_plan`` refuses to run with
  speculative execution enabled and payloads always carry the
  natural key — remote objects are addressed idempotently
  (upsert-by-natural-key) wherever the transport supports it;
- duplicate outcomes from a retried task appear as extra spool rows
  for the same natural_key; ``read_results`` collapses them
  deterministically, and the ID-map merge is last-writer-wins, so
  reruns converge (creates become updates).

Scale: parallelism = number of plan partitions; ``repartition(n)``
upstream controls the concurrent-connection budget against the
external API (each partition is one session, rate-limited by its own
backoff loop).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from .transport import (
    BATCH_SIZE,
    EXHAUSTED_STATUS,
    MAX_RETRIES,
    RETRY_STATUSES,
    Transport,
    compute_backoff,
)


def _chunks(it, size):
    buf = []
    for x in it:
        buf.append(x)
        if len(buf) >= size:
            yield buf
            buf = []
    if buf:
        yield buf


def _send_with_retry(
    transport: Transport,
    object_type: str,
    row,
    sleeper: Callable[[float], None],
):
    """One record through the create-or-update + retry ladder.
    Returns (op, status, object_id)."""
    props = json.loads(row["properties_json"]) if row["properties_json"] else {}
    props["natural_key"] = row["natural_key"]
    for attempt in range(1, MAX_RETRIES + 1):
        if row["hubspot_id"]:
            status = transport.update(object_type, row["hubspot_id"], props)
            op, oid = "update", row["hubspot_id"]
        else:
            status, oid = transport.create(object_type, props)
            op = "create"
        if status not in RETRY_STATUSES:
            return op, status, oid
        if attempt < MAX_RETRIES:
            sleeper(compute_backoff(attempt))
    return op, EXHAUSTED_STATUS, None


def _assert_no_speculation(conf_value: str | None) -> None:
    """spark.speculation is a static conf — checked once per write."""
    if str(conf_value or "false").lower() == "true":
        raise RuntimeError(
            "write_plan: disable spark.speculation for external-API write "
            "stages — speculative task duplicates double-fire API calls"
        )


def write_plan(
    plan: DataFrame,
    object_type: str,
    transport_factory: Callable[[], Transport],
    results_dir: str,
    sleeper: Callable[[float], None] = time.sleep,
) -> None:
    """Execute the write plan. ``plan`` must have columns
    (natural_key, hubspot_id nullable, properties_json). Outcomes are
    spooled as JSON lines under ``results_dir`` (one file per
    partition/attempt), keyed by natural_key for idempotent
    reconciliation. Each outcome is written and flushed as soon as its
    call completes (fsync at batch boundaries), so a task that dies
    mid-partition leaves a faithful record of what it already fired.

    Refuses to run under speculative execution: a speculative
    duplicate of a partition would double-fire non-idempotent creates
    with no failure anywhere to flag it."""
    _assert_no_speculation(
        plan.sparkSession.sparkContext.getConf().get("spark.speculation", "false")
    )
    os.makedirs(results_dir, exist_ok=True)
    cols = plan.select("natural_key", "hubspot_id", "properties_json")

    def handle_partition(rows: Iterable) -> None:
        import uuid as _uuid

        transport = transport_factory()
        out_path = os.path.join(results_dir, f"results-{_uuid.uuid4().hex}.jsonl")
        f = None
        try:
            for batch in _chunks(rows, BATCH_SIZE):
                for row in batch:
                    op, status, oid = _send_with_retry(
                        transport, object_type, row, sleeper
                    )
                    rec = {
                        "natural_key": row["natural_key"],
                        "op": op,
                        "status": status,
                        "hubspot_id": oid,
                        "ok": status in (200, 201),
                    }
                    if f is None:
                        f = open(out_path, "w")
                    # flush per record: the spool must trail the API
                    # call by as little as possible
                    f.write(json.dumps(rec) + "\n")
                    f.flush()
                # durability point per batch, not per record
                os.fsync(f.fileno())
        finally:
            if f is not None:
                os.fsync(f.fileno())
                f.close()

    cols.foreachPartition(handle_partition)


def read_results(spark, results_dir: str) -> DataFrame:
    """Writer outcomes as a DataFrame for ledger/idmap/DLQ updates.

    A retried task leaves a second spool file with overlapping keys;
    collapse to ONE row per natural_key deterministically (successful
    outcome preferred, then highest status / id) so run counters don't
    double-count double-fired records."""
    from pyspark.sql import Window as W, functions as F, types as T

    schema = T.StructType(
        [
            T.StructField("natural_key", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("status", T.LongType()),
            T.StructField("hubspot_id", T.StringType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )
    # a filter, not a glob path: the streaming-sink metadata probe takes
    # a glob path literally and logs a FileNotFoundException per read
    raw = (
        spark.read.schema(schema)
        .option("pathGlobFilter", "results-*.jsonl")
        .json(results_dir)
    )
    w = W.partitionBy("natural_key").orderBy(
        F.desc("ok"), F.desc("status"), F.desc_nulls_last("hubspot_id"), F.desc("op")
    )
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
