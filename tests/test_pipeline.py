"""End-to-end pipeline tests (SURVEY.md §5.2 items 4-5): fake
transport, run counters, idempotency, watermark hold-on-failure,
retry/backoff."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.sinks.control import ControlTables
from reverse_etl_homebrew_spark.sinks.transport import (
    FakeHubSpot,
    compute_backoff,
)
from reverse_etl_homebrew_spark.streaming.incremental import run_sync

SF = "/root/testdata/sf0.001"


# note: sleeper/factory args must be lambdas (pickled by value) — a
# module-level function would be pickled by reference and executors
# cannot import the tests module
NO_SLEEP = lambda _s: None  # noqa: E731


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "ctl")


def test_backoff_schedule():
    # min(30, 0.5 * 2^(k-1)) — main.py:441
    assert [compute_backoff(k) for k in range(1, 9)] == [
        0.5, 1.0, 2.0, 4.0, 8.0, 16.0, 30.0, 30.0,
    ]


def test_patient_sync_counts_and_idempotency(spark, workdir):
    fake = FakeHubSpot()
    r1 = run_sync(spark, "patients", SF, workdir, lambda: FakeHubSpot(
        spool_dir=os.path.join(workdir, "spool")
    ), sleeper=NO_SLEEP)
    assert r1["status"] == "success"
    assert r1["read"] == 150
    # every outcome class realized (plans/patients.py synthetic state)
    assert r1["created"] > 0 and r1["updated"] > 0
    assert r1["errors"] > 0  # dlq_ambiguous + dlq_no_email

    ctl = ControlTables(spark, workdir)
    # idmap gained the created/adopted ids
    assert ctl.idmap().count() == r1["created"] + r1["updated"]

    # second run: every key written in run 1 now resolves via the
    # accumulated engine ID map → zero re-creates, all updates
    # (idempotent re-runs, README.md:113-115)
    r2 = run_sync(spark, "patients", SF, workdir, lambda: FakeHubSpot(), sleeper=NO_SLEEP)
    assert r2["status"] == "success"
    assert r2["created"] == 0
    assert r2["updated"] == r1["created"] + r1["updated"]
    assert r2["errors"] == r1["errors"]
    # DLQ attempt numbers advanced for repeating failures (main.py:404-420)
    att = ctl.dlq().groupBy("natural_key").agg(F.max("attempt").alias("m"))
    assert att.agg(F.max("m")).first()[0] == 2


def test_roi_sync_outcomes(spark, workdir):
    r = run_sync(spark, "rois", SF, workdir, lambda: FakeHubSpot(), sleeper=NO_SLEEP)
    assert r["status"] == "success"
    assert r["read"] == 1500
    assert r["skipped"] > 0  # processed + override branches
    assert r["created"] > 0 and r["updated"] > 0
    # no unresolved ROIs in this mapping (every o_custkey exists)
    assert r["errors"] == 0


def test_watermark_advances_on_success_and_holds_on_failure(spark, workdir):
    ctl = ControlTables(spark, workdir)
    r1 = run_sync(spark, "rois", SF, workdir, lambda: FakeHubSpot(), sleeper=NO_SLEEP)
    wm1 = ctl.read_high_watermark("rois")
    assert r1["status"] == "success" and wm1 is not None

    def explode_plan(plan):
        raise RuntimeError("injected failure")

    with pytest.raises(RuntimeError):
        run_sync(
            spark, "rois", SF, workdir, lambda: FakeHubSpot(),
            sleeper=NO_SLEEP, fail_injector=explode_plan,
        )
    # ledger has the failed row, watermark unchanged (main.py:838-844)
    assert ctl.read_high_watermark("rois") == wm1
    statuses = [r["status"] for r in ctl.ledger().select("status").collect()]
    assert "failed" in statuses

    # delta scan after success reads only rows >= wm1 → nothing new
    r3 = run_sync(spark, "rois", SF, workdir, lambda: FakeHubSpot(), sleeper=NO_SLEEP)
    assert r3["status"] == "success"
    assert r3["read"] < r1["read"]


def test_retry_exhaustion_routes_to_dlq(spark, workdir):
    # one key fails with 429 forever → 5 attempts → 599 → DLQ
    plan_key = "1"  # roi natural_key '1'

    def factory():
        return FakeHubSpot(fail_statuses={plan_key: [429] * 10})

    r = run_sync(spark, "rois", SF, workdir, factory, sleeper=NO_SLEEP)
    assert r["status"] == "partial"
    ctl = ControlTables(spark, workdir)
    dlq = ctl.dlq().filter(F.col("natural_key") == plan_key).collect()
    assert dlq and "599" in dlq[0]["error"]


def test_transient_retry_succeeds(spark, workdir):
    # two 503s then success → no DLQ, still counted as written
    def factory():
        return FakeHubSpot(fail_statuses={"2": [503, 503]})

    r = run_sync(spark, "rois", SF, workdir, factory, sleeper=NO_SLEEP)
    assert r["status"] == "success"
    assert r["errors"] == 0


def test_idmap_swap_crash_recovery(spark, workdir):
    """merge_idmap's swap protocol: a crash between moving final aside
    and promoting staging must be recoverable from .bak (ADVICE r1)."""
    import datetime as dt
    import os as _os
    import shutil

    ctl = ControlTables(spark, workdir)
    ctl.ensure()
    row = {
        "hubspot_object_type": "contact",
        "natural_key": "k1",
        "hubspot_id": "h1",
        "updated_at": dt.datetime(2026, 1, 1),
    }
    ctl.merge_idmap(spark.createDataFrame([row]))
    assert ctl.idmap().count() == 1

    # simulate the crash window: final moved to .bak, staging present,
    # final missing
    final = ctl.paths["id_map"]
    shutil.copytree(final, final + ".staging")
    _os.rename(final, final + ".bak")
    assert not _os.path.exists(final)

    ctl2 = ControlTables(spark, workdir)
    ctl2.ensure()
    assert _os.path.exists(final)
    assert not _os.path.exists(final + ".bak")
    assert not _os.path.exists(final + ".staging")
    assert ctl2.idmap().filter(F.col("natural_key") == "k1").count() == 1

    # the aborted merge re-applies cleanly afterward
    ctl2.merge_idmap(spark.createDataFrame([dict(row, hubspot_id="h2")]))
    got = ctl2.idmap().filter(F.col("natural_key") == "k1").collect()
    assert len(got) == 1


def test_write_plan_refuses_speculation():
    """spark.speculation is static, so the guard is tested as the pure
    check write_plan applies to the session's conf value."""
    from reverse_etl_homebrew_spark.sinks.api_writer import _assert_no_speculation

    _assert_no_speculation("false")
    _assert_no_speculation(None)
    with pytest.raises(RuntimeError, match="speculation"):
        _assert_no_speculation("true")


def test_write_plan_spools_incrementally(spark, workdir):
    """Every fired call must be on disk even if later records fail the
    task: spool rows == plan rows, written per record (ADVICE r1)."""
    import glob

    from reverse_etl_homebrew_spark.sinks.api_writer import read_results, write_plan

    plan = spark.createDataFrame(
        [(f"k{i}", None, "{}") for i in range(7)],
        "natural_key string, hubspot_id string, properties_json string",
    ).coalesce(1)
    write_plan(
        plan,
        "contact",
        lambda: FakeHubSpot(spool_dir=os.path.join(workdir, "spool")),
        os.path.join(workdir, "results"),
        sleeper=NO_SLEEP,
    )
    files = glob.glob(os.path.join(workdir, "results", "results-*.jsonl"))
    assert files
    res = read_results(spark, os.path.join(workdir, "results"))
    assert res.count() == 7
    assert res.filter(F.col("ok")).count() == 7


def test_read_results_collapses_retry_duplicates(spark, workdir):
    """A retried task's duplicate spool rows must not double-count."""
    import json as _json

    from reverse_etl_homebrew_spark.sinks.api_writer import read_results

    d = os.path.join(workdir, "results")
    os.makedirs(d)
    rec_fail = {"natural_key": "k1", "op": "create", "status": 599, "hubspot_id": None, "ok": False}
    rec_ok = {"natural_key": "k1", "op": "create", "status": 201, "hubspot_id": "h9", "ok": True}
    with open(os.path.join(d, "results-a.jsonl"), "w") as f:
        f.write(_json.dumps(rec_fail) + "\n")
    with open(os.path.join(d, "results-b.jsonl"), "w") as f:
        f.write(_json.dumps(rec_ok) + "\n")
    rows = read_results(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["ok"] is True and rows[0]["hubspot_id"] == "h9"
