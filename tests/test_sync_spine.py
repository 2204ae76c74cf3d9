"""The ``run_sync`` spine asks Spark only for what it does not already
know: a bounded number of jobs per call, counters derived from answers
the run already holds, and control-table rows written as JVM-local
relations (no Python-worker tasks)."""

from __future__ import annotations

import datetime as dt
import os
import uuid

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.plans.patients import patient_sync_plan
from reverse_etl_homebrew_spark.sinks.control import (
    DLQ_SCHEMA,
    IDMAP_SCHEMA,
    LEDGER_SCHEMA,
    ControlTables,
)
from reverse_etl_homebrew_spark.sinks.transport import FakeHubSpot
from reverse_etl_homebrew_spark.streaming.incremental import run_sync

SF = "/root/testdata/sf0.001"

# sleeper/factories are lambdas: pickled by value for the executors
NO_SLEEP = lambda _s: None  # noqa: E731
# natural key '1' is a create in both plans; key '10' is a patient update
# (c_custkey % 5 == 0 is in the synthetic ID map)
EXHAUSTED = lambda: FakeHubSpot(fail_statuses={"1": [429] * 10, "10": [429] * 10})  # noqa: E731

#: Spark jobs one ``run_sync`` call fires on sf0.001 with exhausted
#: writes (every branch runs: writes, ID-map merge, DLQ, ledger). A
#: re-added count()/head() probe or a second load of a source table
#: pushes a call over its budget.
JOB_BUDGET = {
    ("full", "patients"): 20,
    ("full", "rois"): 21,
    ("rerun", "patients"): 18,
    ("rerun", "rois"): 22,
}


def _types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def _files(path):
    return sorted(n for n in os.listdir(path) if n.endswith(".parquet"))


def test_run_sync_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    workdir = str(tmp_path / "ctl")
    used = {}
    try:
        for phase in ("full", "rerun"):
            for job in ("patients", "rois"):
                group = f"sync-budget-{phase}-{job}-{uuid.uuid4().hex}"
                sc.setJobGroup(group, group)
                run_sync(spark, job, SF, workdir, EXHAUSTED, sleeper=NO_SLEEP)
                used[(phase, job)] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    over = {k: (n, JOB_BUDGET[k]) for k, n in used.items() if n > JOB_BUDGET[k]}
    assert not over, f"jobs per call over budget (used, budget): {over}"


def test_counters_match_what_was_written(spark, tmp_path):
    workdir = str(tmp_path / "ctl")
    ctl = ControlTables(spark, workdir)

    # only the create exhausts: an exhausted update would re-enter the
    # map as an update on the re-run
    r1 = run_sync(
        spark, "patients", SF, workdir,
        lambda: FakeHubSpot(fail_statuses={"1": [429] * 10}), sleeper=NO_SLEEP,
    )
    assert r1["status"] == "partial"
    assert r1["read"] == patient_sync_plan(spark, SF).count()
    # plan-quarantined rows and the exhausted write
    dlq = ctl.dlq()
    assert r1["errors"] == dlq.count()
    failed = {
        r["natural_key"]
        for r in dlq.filter(F.col("error") == "write_failed_status_599").collect()
    }
    assert failed == {"1"}
    assert dlq.filter(F.col("error").startswith("dlq_")).count() == r1["errors"] - 1
    # a fresh map holds exactly the successful writes
    assert ctl.idmap().count() == r1["created"] + r1["updated"]

    # the re-run succeeds: the exhausted create is the only new map row
    n_map, n_dlq = ctl.idmap().count(), ctl.dlq().count()
    r2 = run_sync(spark, "patients", SF, workdir, lambda: FakeHubSpot(), sleeper=NO_SLEEP)
    assert r2["status"] == "success"
    assert r2["created"] == 1
    assert ctl.idmap().count() - n_map == r2["created"]
    assert ctl.dlq().count() - n_dlq == r2["errors"]


def test_run_without_writes_skips_merge_and_keeps_ledger(spark, tmp_path):
    workdir = str(tmp_path / "ctl")
    ctl = ControlTables(spark, workdir)
    run_sync(spark, "patients", SF, workdir, lambda: FakeHubSpot(), sleeper=NO_SLEEP)
    map_files = _files(ctl.paths["id_map"])
    n_ledger, n_dlq = ctl.ledger().count(), ctl.dlq().count()

    def quarantine_only(plan):
        return plan.filter(F.col("outcome").startswith("dlq_"))

    r = run_sync(
        spark, "patients", SF, workdir, lambda: FakeHubSpot(),
        sleeper=NO_SLEEP, fail_injector=quarantine_only,
    )
    assert r["status"] == "success"
    assert r["created"] == r["updated"] == 0
    assert r["read"] == r["errors"] > 0
    # no merge: the ID map's files are untouched
    assert _files(ctl.paths["id_map"]) == map_files
    assert ctl.dlq().count() - n_dlq == r["errors"]
    ledger = ctl.ledger().orderBy(F.desc("finished_at")).collect()
    assert len(ledger) == n_ledger + 1
    assert (ledger[0]["read_count"], ledger[0]["error_count"]) == (r["read"], r["errors"])


def test_control_frames_are_local_relations(spark, tmp_path):
    ctl = ControlTables(spark, str(tmp_path / "ctl"))
    ctl.ensure()
    for name, schema in (
        ("run_ledger", LEDGER_SCHEMA),
        ("dlq", DLQ_SCHEMA),
        ("id_map", IDMAP_SCHEMA),
    ):
        written = spark.read.parquet(ctl.paths[name])
        assert _types(written.schema) == _types(schema)
        assert written.count() == 0

    started = dt.datetime(2026, 3, 4, 5, 6, 7, 891011)
    counts = {"read": 7, "created": 3, "updated": 2, "skipped": 1, "errors": 1}
    run_id = ctl.append_ledger_row("rois", started, None, counts, "partial")
    written = spark.read.parquet(ctl.paths["run_ledger"])
    assert _types(written.schema) == _types(LEDGER_SCHEMA)
    (row,) = written.collect()
    assert row["run_id"] == run_id
    assert row["started_at"] == started
    assert row["high_watermark"] is None
    assert (
        row["job_type"], row["read_count"], row["created_count"],
        row["updated_count"], row["skipped_count"], row["error_count"],
        row["status"],
    ) == ("rois", 7, 3, 2, 1, 1, "partial")

    # no Python RDD behind the frames, empty or not
    for rows in ([], [row.asDict()]):
        frame = ctl._local_frame(rows, LEDGER_SCHEMA)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
