"""``session.pin``: the engine's one materialization policy."""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import session

PKG = pathlib.Path(session.__file__).parent
PIN_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}


def test_local_pin_is_lazy_and_cuts_lineage(spark):
    """On a local master a lazy pin fires no job, and the pinned frame
    scans the checkpointed RDD instead of re-running its lineage."""
    sc = spark.sparkContext
    df = spark.range(100).withColumn("sq", F.col("id") * F.col("id"))
    group = f"pin-lazy-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        pinned = session.pin(df)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == 0
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan.strip().splitlines()[-1], plan
    assert pinned.agg(F.sum("sq")).first()[0] == sum(i * i for i in range(100))


def test_cluster_pin_requires_checkpoint_dir(spark, monkeypatch):
    """Off a local master the pin must be reliable: without a
    checkpoint dir it refuses to run rather than pinning blocks that
    die with their executor."""
    monkeypatch.setattr(session, "_pin_target", lambda s: ("spark://cluster:7077", None))
    with pytest.raises(ValueError, match="checkpoint dir"):
        session.pin(spark.range(3))


def test_pin_is_the_only_pin_site():
    """Every lineage cut or cache in the package goes through
    ``session.pin``, so the policy lives in one place."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == PKG:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "pin":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in PIN_CALLS
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, offenders
