"""Physical data-layout strategies at 100 TB: bucketed co-located
joins (no shuffle exchange) and partition pruning (no full scan).
Local[N] proves the PLAN shapes; the same code is what a cluster
deployment runs against a real warehouse."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _explain(spark, df, mode="formatted"):
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """orders ⋈ lineitem bucketed by the join key on both sides →
    SortMergeJoin with ZERO Exchange: the co-location contract that
    turns the biggest fact-fact shuffle at 100 TB into a local merge."""
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    suffix = uuid.uuid4().hex[:8]
    to, tl = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / to))
        .saveAsTable(to)
    )
    (
        li.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / tl))
        .saveAsTable(tl)
    )
    try:
        joined = (
            spark.table(to)
            .join(spark.table(tl), "o_orderkey")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _explain(spark, joined)
        join_section = plan.split("HashAggregate")[0]
        assert "Exchange" not in join_section, "bucketed join still shuffles"
        # sanity: join actually produced rows
        assert joined.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {to}")
        spark.sql(f"DROP TABLE IF EXISTS {tl}")


def test_partition_pruning(spark, tmp_path):
    """Date-partitioned layout + partition filter → PartitionFilters
    populated and only matching partitions scanned."""
    o = load_table(spark, SF, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    o.write.partitionBy("order_year").mode("overwrite").parquet(path)

    scan = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    plan = _explain(spark, scan)
    assert "PartitionFilters: [isnotnull(order_year" in plan or "order_year" in plan.split(
        "PartitionFilters:"
    )[1].splitlines()[0]
    n_1997 = scan.count()
    assert n_1997 == o.filter(F.col("order_year") == 1997).count()
    # pruned scan reads strictly fewer files than the full table
    full = spark.read.parquet(path)
    assert n_1997 < full.count()


def test_ivm_merge_state_side_is_shuffle_free_when_bucketed(spark, tmp_path):
    """Pins the incremental-agg-merge co-partitioning claim
    (operators/merge.py merge_rollup_state): with the stored rollup
    state bucketed by the merge key, the full-outer merge join reads
    state IN PLACE — the only Exchanges in the plan belong to the
    delta side's partial aggregation. Measured as a DIFFERENTIAL:
    the same merge against un-bucketed state pays exactly two more
    Exchanges — the state side of the full-outer join AND the
    NULL-group branch's re-aggregate (r11: the NULL group merges via
    a separate union+agg branch, which also reads bucketed state
    pre-distributed on the key)."""
    from reverse_etl_homebrew_spark.operators.merge import (
        merge_rollup_state,
        rollup_partial,
    )

    o = load_table(spark, SF, "orders")
    cutoff = "1997-01-01 00:00:00"
    state = rollup_partial(
        o.filter(F.col("o_orderdate") < cutoff),
        "o_custkey", "o_totalprice", "o_orderdate",
    )
    suffix = uuid.uuid4().hex[:8]
    tb, tp = f"ivm_state_b_{suffix}", str(tmp_path / "ivm_state_plain")
    (
        state.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", str(tmp_path / tb))
        .saveAsTable(tb)
    )
    state.write.parquet(tp)

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # a fact-scale delta would never broadcast at 100 TB
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        def merged_plan(state_df):
            delta = rollup_partial(
                o.filter(F.col("o_orderdate") >= cutoff),
                "o_custkey", "o_totalprice", "o_orderdate",
            )
            m = merge_rollup_state(state_df, delta, "o_custkey")
            m.write.format("noop").mode("overwrite").save()
            return m._jdf.queryExecution().executedPlan().toString()

        bucketed = merged_plan(spark.table(tb))
        plain = merged_plan(spark.read.parquet(tp))

        assert "SortMergeJoin" in bucketed
        assert "Bucketed: true" in bucketed
        # the state side must NOT re-shuffle on the merge key: the
        # bucketed plan has exactly two less Exchanges than the plain
        # plan (join state side + NULL-group agg; the delta side's
        # shuffles are identical in both)
        n_b, n_p = bucketed.count("Exchange"), plain.count("Exchange")
        assert n_b == n_p - 2, (n_b, n_p)
        # and no Exchange consumes the bucketed scan: within the SMJ's
        # state branch the scan feeds a Sort, never a shuffle
        assert "hashpartitioning(o_custkey" not in bucketed.split(
            "SortMergeJoin"
        )[1].split(":- ")[0]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_bucketed_snapshot_diff_has_no_shuffle(spark, tmp_path):
    """snapshot_diff's production claim, pinned: with both snapshots
    bucketed by the diff key, the per-side digest aggregations ride
    the bucketed scans and the full-outer join co-locates — ZERO
    Exchange anywhere in the plan. (The digest groupBy needs
    distribution by key; the bucketed layout already provides it, so
    neither the aggregation nor the join moves a row.)"""
    from reverse_etl_homebrew_spark.operators.merge import snapshot_diff

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"snap_old_{suffix}", f"snap_new_{suffix}"
    for name, frame in (
        (ta, d),
        (tb, d.withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" r2")))
            .otherwise(F.col("text")),
        )),
    ):
        (
            frame.write.bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .option("path", str(tmp_path / name))
            .saveAsTable(name)
        )
    try:
        diff = snapshot_diff(
            spark.table(ta), spark.table(tb), "doc_id", F.md5("text")
        )
        plan = _explain(spark, diff)
        assert "Exchange" not in plan, "bucketed snapshot diff still shuffles"
        assert "Bucketed: true" in plan
        # sanity: the %7 revisions actually surface
        assert diff.filter(F.col("status") == "changed").count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
