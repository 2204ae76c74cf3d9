"""``scans.spread_for_fanout``: the one spread rule, decided from the
analyzed plan. A file scan with fewer splits than the session's
parallelism is round-robined; a shuffled, joined or pinned frame comes
back unchanged. Deciding fires no Spark job either way."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import session
from reverse_etl_homebrew_spark.operators.scans import spread_for_fanout


def _spread_counting_jobs(spark, df):
    sc = spark.sparkContext
    group = f"spread-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = spread_for_fanout(df)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, jobs


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_split_scan_is_spread(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    spark.range(200).select(
        "id", F.concat(F.lit("doc "), F.col("id")).alias("text")
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path).select("id", "text").filter(F.col("id") > 3)
    assert scan.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism

    out, jobs = _spread_counting_jobs(spark, scan)
    assert jobs == 0
    assert "RoundRobinPartitioning" in _plan(out)
    assert sorted(out.collect()) == sorted(scan.collect())


def test_shuffled_and_pinned_frames_are_unchanged(spark, tmp_path):
    path = str(tmp_path / "docs.parquet")
    spark.range(200).select(
        "id", (F.col("id") % 7).alias("grp")
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    frames = {
        "aggregate": scan.groupBy("grp").count(),
        "anti-join": scan.join(
            scan.where(F.col("id") < 5).select("id"), ["id"], "left_anti"
        ),
        "pin": session.pin(scan.select("id", "grp")),
    }
    for name, df in frames.items():
        out, jobs = _spread_counting_jobs(spark, df)
        assert jobs == 0, name
        assert out is df, name
