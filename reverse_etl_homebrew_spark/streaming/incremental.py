"""Incremental sync runner — the engine's `run_job` spine
(reference main.py:800-860).

Watermark contract (SURVEY.md §2.8 `high-watermark`):
- read the latest *successful* watermark per job type (main.py:330-345);
- scan only rows with updated_at >= watermark (main.py:537-538);
- on success advance the watermark to the run's start instant
  (conservative, exactly like main.py:838's now_utc policy);
- on ANY failure: hold the watermark (main.py:842) but still write the
  ledger row (finally, main.py:844) — the next run re-reads the same
  delta, and idempotent keyed upserts make the re-run converge.

Side-effect ordering: the write plan is fully materialized as
DataFrame state BEFORE the foreachPartition action fires, and writer
outcomes come back through a results spool — retries can't double-fire
inside the lazy plan (SURVEY.md §7 hard-part (e)).

Spark actions per call, each for an answer the run does not hold yet:
1. ``ensure``: an empty table per missing control table (first run);
2. the watermark read, which the delta filter needs;
3. one parquet-footer read per source table the plan loads;
4. the pin: adaptive execution runs the plan's shuffle and broadcast
   stages when the lazy ``session.pin`` is defined;
5. the outcome count, which fills the pin and is the only pass over
   the plan: ``read``, ``skipped`` and the write and DLQ sizes;
6. the API writes, skipped when no row is a write;
7. one aggregate over the pinned spool: ``created``, ``updated`` and
   the failed writes;
8. the ID-map merge, only after a successful write;
9. the DLQ append, only when 5 or 7 counted a failure (the attempt
   join keeps one row per failure, so ``errors`` needs no count);
10. the ledger row, always.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..observability import collect_alerts
from ..operators.joins import dlq_attempt_join
from ..plans.patients import patient_sync_plan
from ..plans.rois import roi_sync_plan
from ..session import pin
from ..sinks.api_writer import read_results, write_plan
from ..sinks.control import ControlTables
from ..sinks.transport import Transport


PLAN_BUILDERS = {
    "patients": patient_sync_plan,
    "rois": roi_sync_plan,
}

#: outcome label → which ledger counter it feeds (main.py:846-856)
WRITE_OUTCOMES = {"create", "update", "adopt"}
SKIP_OUTCOMES = {"skip_processed", "skip_override"}
DLQ_OUTCOMES = {"dlq_unresolved", "dlq_ambiguous", "dlq_no_email"}


def run_sync(
    spark: SparkSession,
    job_type: str,
    sf_dir: str,
    workdir: str,
    transport_factory: Callable[[], Transport],
    updated_col: str = "updated_at",
    sleeper: Callable[[float], None] = time.sleep,
    fail_injector: Optional[Callable[[DataFrame], DataFrame]] = None,
    alert_sink=None,
) -> dict:
    """One incremental sync run; returns the reference's status dict
    shape {"status", "read", "created", "updated", "skipped",
    "errors"} (main.py:860)."""
    ctl = ControlTables(spark, workdir)
    ctl.ensure()
    started = dt.datetime.utcnow()
    watermark = ctl.read_high_watermark(job_type)

    counts = {"read": 0, "created": 0, "updated": 0, "skipped": 0, "errors": 0}
    status = "failed"
    object_type = "contact" if job_type == "patients" else "roi"
    results_dir = os.path.join(workdir, f"results-{job_type}-{started.timestamp()}")
    try:
        # feed the accumulated ID map back into the plan: previously
        # created objects resolve as updates on re-runs — the
        # idempotency guarantee (README.md:113-115)
        plan = PLAN_BUILDERS[job_type](spark, sf_dir, extra_idmap=ctl.idmap())
        if watermark is not None and updated_col in plan.columns:
            plan = plan.filter(F.col(updated_col) >= F.lit(watermark))
        if fail_injector is not None:
            plan = fail_injector(plan)

        # pin the outcome labels; the outcome count fills the pin
        plan = pin(plan)
        by_outcome = {
            r["outcome"]: r["n"]
            for r in plan.groupBy("outcome").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        counts["read"] = sum(by_outcome.values())
        counts["skipped"] = sum(v for k, v in by_outcome.items() if k in SKIP_OUTCOMES)
        has_payload = "properties_json" in plan.columns

        # ---- external writes (create/update/adopt branches) -------------
        failed_writes = 0
        if any(by_outcome.get(k) for k in WRITE_OUTCOMES):
            writes = plan.filter(F.col("outcome").isin(*WRITE_OUTCOMES)).select(
                "natural_key",
                F.col("hubspot_id"),
                F.col("properties_json")
                if has_payload
                else F.to_json(F.struct("natural_key")).alias("properties_json"),
            )
            write_plan(
                writes,
                object_type=object_type,
                transport_factory=transport_factory,
                results_dir=results_dir,
                sleeper=sleeper,
            )
            # one row per written key, pinned like the plan: the spool
            # is parsed once for the summary, the merge and the DLQ
            results = pin(read_results(spark, results_dir))
            agg = results.agg(
                F.sum(F.when(F.col("ok") & (F.col("op") == "create"), 1).otherwise(0)),
                F.sum(F.when(F.col("ok") & (F.col("op") == "update"), 1).otherwise(0)),
                F.sum(F.when(~F.col("ok"), 1).otherwise(0)),
            ).first()
            counts["created"], counts["updated"], failed_writes = (int(x or 0) for x in agg)

        # ---- idmap merge for successful writes (main.py:710/788) --------
        if counts["created"] + counts["updated"]:
            new_ids = results.filter(F.col("ok") & F.col("hubspot_id").isNotNull()).select(
                F.lit(object_type).alias("hubspot_object_type"),
                "natural_key",
                "hubspot_id",
                F.lit(started).alias("updated_at"),
            )
            ctl.merge_idmap(new_ids)

        # ---- DLQ: plan-quarantined rows + exhausted writes --------------
        # the attempt join keeps one row per failure, so the DLQ row
        # count is known without asking Spark
        n_dlq = sum(v for k, v in by_outcome.items() if k in DLQ_OUTCOMES) + failed_writes
        if n_dlq:
            failures = plan.filter(F.col("outcome").isin(*DLQ_OUTCOMES)).select(
                "natural_key",
                (F.col("properties_json") if has_payload else F.lit("{}")).alias("payload"),
                F.col("outcome").alias("error"),
            )
            if failed_writes:
                failures = failures.unionByName(
                    results.filter(~F.col("ok")).select(
                        "natural_key",
                        F.lit("{}").alias("payload"),
                        F.concat(
                            F.lit("write_failed_status_"), F.col("status").cast("string")
                        ).alias("error"),
                    )
                )
            failures = failures.select(
                F.lit(started).alias("ts"),
                F.lit(job_type).alias("job_type"),
                "natural_key",
                F.lit(object_type).alias("hubspot_object_type"),
                "payload",
                "error",
            )
            # attempt numbering against prior DLQ state (main.py:404-420)
            dlq_rows = dlq_attempt_join(failures, ctl.dlq())
            ctl.append_dlq(dlq_rows)
            if alert_sink is not None:
                # records crossing 5 attempts alert (main.py:714-727,
                # 748-773; README.md:78)
                collect_alerts(dlq_rows, alert_sink, threshold=5)
        counts["errors"] = n_dlq
        status = "success" if failed_writes == 0 else "partial"
    finally:
        # ledger is written even on failure; watermark advances only on
        # success (main.py:838-844)
        new_wm = started if status == "success" else watermark
        ctl.append_ledger_row(job_type, started, new_wm, counts, status)
        shutil.rmtree(results_dir, ignore_errors=True)
    return {"status": status, **counts}
