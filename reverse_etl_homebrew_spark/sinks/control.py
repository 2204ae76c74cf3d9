"""Control tables: run ledger, dead-letter queue, idempotency ID map.

Mirrors the reference's three BigQuery control tables
(ensure_control_tables, main.py:280-328; DDL main.py:286-325) as
parquet directories under a workdir. Semantics preserved:

- ledger-append (main.py:347-352): one summary row per run;
- watermark read (main.py:330-345): latest successful run per job
  type;
- dlq-append (main.py:391-402): payload/error truncation bounds;
- idmap-merge (main.py:354-371): keyed upsert, last writer wins.

On a lakehouse deployment these map 1:1 onto Delta/Iceberg tables
(`MERGE INTO` replaces the merge-rewrite); the interface stays the
same. The tables are tiny relative to facts — single-digit files,
broadcast on every join.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.merge import upsert_merge

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("started_at", T.TimestampNTZType()),
        T.StructField("finished_at", T.TimestampNTZType()),
        T.StructField("job_type", T.StringType()),
        T.StructField("high_watermark", T.TimestampNTZType()),
        T.StructField("read_count", T.LongType()),
        T.StructField("updated_count", T.LongType()),
        T.StructField("created_count", T.LongType()),
        T.StructField("skipped_count", T.LongType()),
        T.StructField("error_count", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)

DLQ_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("job_type", T.StringType()),
        T.StructField("natural_key", T.StringType()),
        T.StructField("hubspot_object_type", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("attempt", T.LongType()),
    ]
)

IDMAP_SCHEMA = T.StructType(
    [
        T.StructField("hubspot_object_type", T.StringType()),
        T.StructField("natural_key", T.StringType()),
        T.StructField("hubspot_id", T.StringType()),
        T.StructField("updated_at", T.TimestampNTZType()),
    ]
)

PAYLOAD_MAX = 90_000  # main.py:398
ERROR_MAX = 10_000  # main.py:399

class ControlTables:
    """Workdir-backed control tables with the reference's semantics."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        self.paths = {
            "run_ledger": os.path.join(workdir, "run_ledger"),
            "dlq": os.path.join(workdir, "dlq"),
            "id_map": os.path.join(workdir, "id_map"),
        }

    # -- ddl-ensure-tables (main.py:280-328) ------------------------------

    def ensure(self) -> None:
        """Idempotent creation: write an empty frame wherever no table
        exists yet (CREATE TABLE IF NOT EXISTS analog). Also recovers
        an ID map lost to a crash mid-swap (see merge_idmap): if the
        final dir is missing but its .bak survives, the last committed
        state is restored before anything reads it."""
        self._recover_idmap()
        for name, schema in (
            ("run_ledger", LEDGER_SCHEMA),
            ("dlq", DLQ_SCHEMA),
            ("id_map", IDMAP_SCHEMA),
        ):
            path = self.paths[name]
            if not os.path.exists(path):
                self._local_frame([], schema).write.mode("overwrite").parquet(path)

    def _recover_idmap(self) -> None:
        final = self.paths["id_map"]
        bak = final + ".bak"
        staging = final + ".staging"
        if not os.path.exists(final) and os.path.exists(bak):
            # crashed between moving final aside and promoting staging:
            # restore the last committed state (conservative — the
            # aborted merge simply re-applies on the next run, and the
            # merge is idempotent last-writer-wins)
            os.rename(bak, final)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        if os.path.exists(final):
            shutil.rmtree(bak, ignore_errors=True)

    def _local_frame(self, rows: list, schema: T.StructType) -> DataFrame:
        """Driver-side rows as a one-partition ``LocalTableScan``. A
        row list would become a Python RDD whose every task starts a
        Python worker; an empty pandas frame silently takes that same
        path, a pyarrow Table never does."""
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        return self.spark.createDataFrame(table, schema)

    def _read(self, name: str, schema: T.StructType) -> DataFrame:
        return self.spark.read.schema(schema).parquet(self.paths[name])

    def ledger(self) -> DataFrame:
        return self._read("run_ledger", LEDGER_SCHEMA)

    def dlq(self) -> DataFrame:
        return self._read("dlq", DLQ_SCHEMA)

    def idmap(self) -> DataFrame:
        return self._read("id_map", IDMAP_SCHEMA)

    # -- ledger-watermark-read (main.py:330-345) ---------------------------

    def read_high_watermark(self, job_type: str) -> Optional[dt.datetime]:
        row = (
            self.ledger()
            .filter(
                (F.col("job_type") == job_type)
                & (F.col("status") == "success")
                & F.col("high_watermark").isNotNull()
            )
            # (finished_at DESC, high_watermark DESC) is a TOTAL order
            # over the rows that can tie: two successes finishing at
            # the same instant (r14 duplicate-key/tie class) must
            # yield ONE deterministic watermark — the max among the
            # tied finishes, the monotone choice. finished_at alone
            # left the pick to partition merge order.
            .orderBy(F.desc("finished_at"), F.desc("high_watermark"))
            .limit(1)
            .select("high_watermark")
            .first()
        )
        return row["high_watermark"] if row else None

    # -- ledger-append (main.py:347-352) -----------------------------------

    def append_ledger_row(
        self,
        job_type: str,
        started_at: dt.datetime,
        high_watermark: Optional[dt.datetime],
        counts: dict,
        status: str,
    ) -> str:
        run_id = str(uuid.uuid4())
        row = {
            "run_id": run_id,
            "started_at": started_at,
            "finished_at": dt.datetime.utcnow(),
            "job_type": job_type,
            "high_watermark": high_watermark,
            "read_count": int(counts.get("read", 0)),
            "updated_count": int(counts.get("updated", 0)),
            "created_count": int(counts.get("created", 0)),
            "skipped_count": int(counts.get("skipped", 0)),
            "error_count": int(counts.get("errors", 0)),
            "status": status,
        }
        self._local_frame([row], LEDGER_SCHEMA).write.mode("append").parquet(
            self.paths["run_ledger"]
        )
        return run_id

    # -- dlq-append (main.py:391-402) --------------------------------------

    def append_dlq(self, df: DataFrame) -> None:
        """Append quarantine rows; enforces the payload/error clamps
        (main.py:398-399) regardless of caller discipline."""
        (
            df.select(
                F.coalesce(F.col("ts"), F.lit(dt.datetime.utcnow())).alias("ts"),
                "job_type",
                "natural_key",
                "hubspot_object_type",
                F.substring(F.col("payload"), 1, PAYLOAD_MAX).alias("payload"),
                F.substring(F.col("error"), 1, ERROR_MAX).alias("error"),
                F.col("attempt").cast("long").alias("attempt"),
            )
            .write.mode("append")
            .parquet(self.paths["dlq"])
        )

    # -- idmap-merge (main.py:354-371) -------------------------------------

    def merge_idmap(self, incoming: DataFrame) -> None:
        """Keyed upsert on (hubspot_object_type, natural_key), last
        writer wins — the reference's MERGE INTO (main.py:354-371:
        matched → update hubspot_id and updated_at; not matched →
        insert) as a full-outer-join/window rewrite (SURVEY.md
        §4.3(c)).

        Swap protocol (no window where the ID map does not exist on
        disk in SOME committed form): write staging → move final to
        .bak → promote staging → drop .bak. A crash at any point
        leaves either final, or .bak to be restored by
        ``_recover_idmap`` on the next startup — losing the map would
        cause wholesale re-creates, the exact failure it exists to
        prevent."""
        existing = self.idmap()
        merged = upsert_merge(
            existing,
            incoming.select(*[f.name for f in IDMAP_SCHEMA.fields]),
            keys=["hubspot_object_type", "natural_key"],
            order_col="updated_at",
        )
        final = self.paths["id_map"]
        staging = final + ".staging"
        bak = final + ".bak"
        merged.write.mode("overwrite").parquet(staging)
        import shutil

        shutil.rmtree(bak, ignore_errors=True)
        if os.path.exists(final):
            os.rename(final, bak)
        os.rename(staging, final)
        shutil.rmtree(bak, ignore_errors=True)
