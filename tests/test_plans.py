"""Physical-plan quality gates: the scale properties SURVEY.md §4.3
promises must be visible in `.explain` — predicate pushdown into the
parquet scan, column pruning, broadcast joins for dimension sides,
partial hash aggregation, TakeOrdered for top-k, and whole-stage
codegen on the relational hot paths. A regression here is a 10×-100×
problem at 100 TB even when results stay correct."""

from __future__ import annotations

import pytest

from reverse_etl_homebrew_spark import queries as Q

SF = "/root/testdata/sf0.001"


def explain(spark, df, mode: str = "formatted") -> str:
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_delta_scan_pushes_predicate(spark):
    plan = explain(spark, Q.QUERIES["delta-scan"](spark, SF))
    assert "GreaterThanOrEqual(o_orderdate" in plan, "watermark filter not pushed"


def test_projection_prunes_columns(spark):
    plan = explain(spark, Q.QUERIES["patient-projection"](spark, SF))
    # only the consumed customer columns are read
    assert "c_nationkey" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_protected_drop_never_scans_protected(spark):
    plan = explain(spark, Q.QUERIES["protected-drop"](spark, SF))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("o_orderstatus", "o_totalprice", "o_orderpriority"):
        assert col not in read_schema


def test_dimension_joins_broadcast(spark):
    plan = explain(spark, Q.QUERIES["idmap-join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_groupby_agg_is_partial_hash_agg_with_codegen(spark):
    plan = explain(spark, Q.QUERIES["groupby-agg"](spark, SF))
    assert plan.count("HashAggregate") >= 2, "no partial (map-side) aggregation"
    assert "partial_sum" in plan, "map-side combine missing"
    # codegen stage markers `*(n)` only materialize in the AQE final
    # plan — execute, then inspect
    df = Q.QUERIES["groupby-agg"](spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final, "relational hot path fell out of whole-stage codegen"


def test_topk_uses_take_ordered(spark):
    plan = explain(spark, Q.QUERIES["topk-sort"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # no global sort-exchange for a LIMIT query
    assert "Sort " not in plan or "TakeOrdered" in plan


def test_email_match_join_broadcasts_per_key_aggregate(spark):
    plan = explain(spark, Q.QUERIES["email-match-join"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_broadcast_gate_scales_with_build_side(spark):
    """Join build-side contract (VERDICT r1 #3): a data-proportional
    build side must NOT be pinned to broadcast — small sides broadcast
    (stats/AQE) and fact-sized sides fall back to sort-merge."""
    from pyspark.sql import functions as F

    from reverse_etl_homebrew_spark.operators import joins as J

    rows = spark.range(1000).select(
        F.concat(F.lit("u"), F.col("id")).alias("email")
    )
    big_snapshot = spark.range(5_000_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("email"),
        F.col("id").alias("hubspot_id"),
    )
    small_snapshot = big_snapshot.limit(500)

    # fact-sized snapshot (≈40 MB estimate) → no broadcast in the plan
    big_plan = explain(spark, J.email_match_join(rows, big_snapshot))
    assert "SortMergeJoin" in big_plan or "ShuffledHashJoin" in big_plan
    assert "BroadcastHashJoin" not in big_plan

    # small snapshot → planner may broadcast on its own
    small_plan = explain(spark, J.email_match_join(rows, small_snapshot))
    assert "BroadcastHashJoin" in small_plan

    # tiered cascade: every tier's join obeys the same gate
    facts = spark.range(1000).select(F.col("id").alias("k"))
    tier_src = spark.range(5_000_000).select(
        F.col("id").alias("ck"), (F.col("id") + 10).alias("cid")
    )
    tiered = explain(
        spark, J.tiered_match_join(facts, [(tier_src, "k", "ck", "cid")])
    )
    assert "BroadcastHashJoin" not in tiered


def test_repetition_metrics_is_shuffle_free(spark):
    """Per-doc repetition metrics are pure map-side projection — any
    Exchange in this plan is a regression (at 100 TB it must run at
    scan speed)."""
    plan = explain(spark, Q.QUERIES["repetition-metrics"](spark, SF))
    assert "Exchange" not in plan


def test_dup_span_window_lambda_never_retokenizes(spark):
    """The span-window transform must reference a PROJECTED token-array
    attribute: an inline split inside the window lambda re-tokenizes
    the document once per window — the r9 trigram-lm-score quadratic
    (19.6 s -> 0.35 s for the gram explode). Pin it in the optimized
    plan: no lambda that slices windows may also contain split()."""
    for key in ("dup-span-detect", "dup-span-rate"):
        plan = (
            Q.QUERIES[key](spark, SF)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        for line in plan.split("\n"):
            if "lambdafunction" in line and "slice(" in line:
                assert "split(" not in line, (
                    f"{key}: tokenize inlined into the window lambda"
                )


def test_dup_span_rate_denominator_is_map_side(spark):
    """dup-span-rate's totals side computes n_spans as size(tokens)-7
    arithmetically — the window explode feeds only the numerator. The
    optimized plan must contain a size(...)-based projection of
    n_spans, not a third Generate."""
    plan = (
        Q.QUERIES["dup-span-rate"](spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Generate explode") <= 2, "denominator re-explodes"
    assert any(
        "size(" in line and "AS __row_spans" in line for line in plan.split("\n")
    ), "map-side span total missing"


def test_incremental_dup_spans_plan_shape(spark):
    """The nightly span probe must (a) push the identity/split filters
    to both scans, (b) window-explode from a PROJECTED token array
    (the no-retokenize property, like the other span ops), and (c)
    join the batch's AGGREGATED window vocabulary against the distinct
    index — never the raw occurrence stream, and never a cartesian
    shape."""
    df = Q.QUERIES["incremental-dup-spans"](spark, SF)
    plan = explain(spark, df)
    assert "PushedFilters: [IsNotNull(doc_id)]" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.split("\n"):
        if "lambdafunction" in line and "slice(" in line:
            assert "split(" not in line, "tokenize inlined into window lambda"
    # the join input on the batch side is the (win -> counts) agg:
    # n_docs/n_spans must be computed BELOW the join in the optimized
    # plan (join of vocabulary-sized frames, not the window stream)
    join_pos = opt.find("Join")
    agg_pos = opt.find("count(1) AS n_spans")
    assert join_pos != -1 and agg_pos != -1 and agg_pos > join_pos


def test_decontaminate_is_equi_join_not_cross(spark):
    """Contamination check joins train grams to the benchmark gram set
    on the gram key — never a cartesian shape."""
    plan = explain(spark, Q.QUERIES["decontaminate"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_is_anti_join_on_fingerprints(spark):
    """The seen corpus must reach the join as a distinct fingerprint
    column (narrow build side), and the batch must anti-join it —
    never a cartesian shape or a full-corpus re-dedup."""
    plan = explain(spark, Q.QUERIES["incremental-dedup"](spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_and_anti_join_shapes(spark):
    semi = explain(spark, Q.QUERIES["semi-join"](spark, SF))
    anti = explain(spark, Q.QUERIES["roi-patient-anti-join"](spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """At 100 TB the application side of a selective fact⋈filtered-dim
    shuffle join exceeds the 10 GiB threshold and Spark injects a
    runtime Bloom filter (row-level semi-join pruning before the
    shuffle). Locally the scan is far below the threshold, so lower it
    to prove the engine's plans are bloom-compatible."""
    from pyspark.sql import functions as F

    scan_key = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    old_scan = spark.conf.get(scan_key)
    old_bcast = spark.conf.get(bcast_key)
    # NOTE: an explicit join-strategy hint suppresses InjectRuntimeFilter —
    # disable broadcast by conf to get an un-hinted shuffle join
    spark.conf.set(scan_key, "0")
    spark.conf.set(bcast_key, "-1")
    try:
        o = spark.read.parquet(f"{SF}/orders.parquet")
        c = spark.read.parquet(f"{SF}/customer.parquet").filter(
            F.col("c_acctbal") > 9000
        )
        j = o.join(c, o.o_custkey == c.c_custkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in opt.lower(), "runtime bloom filter not injected"
    finally:
        spark.conf.set(scan_key, old_scan)
        spark.conf.set(bcast_key, old_bcast)


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking is pure map-side row expansion — tokenize, explode an
    arithmetic start sequence, slice. Any Exchange here would mean the
    operator shuffles a corpus it only needs to stream."""
    plan = explain(spark, Q.QUERIES["chunk-documents"](spark, SF))
    assert "Exchange" not in plan


def test_decontaminate_bloom_prefilters_with_broadcast_semijoins(spark):
    """The Bloom twin must thin the train gram stream with TWO
    broadcast left-semi joins on the 8-byte hash positions BEFORE the
    exact gram join — that ordering is the whole point: non-candidate
    grams die map-side inside the scan stage."""
    import re

    plan = explain(spark, Q.QUERIES["decontaminate-bloom"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both position lanes BROADCAST (bounded at m longs regardless of
    # benchmark size) and sit UPSTREAM of the exact Inner join: in
    # formatted explain, node ids number children before parents, so
    # upstream means a smaller id than the Inner join's
    semi_ids = [
        int(x) for x in re.findall(r"BroadcastHashJoin LeftSemi \w+ \((\d+)\)", plan)
    ]
    inner_ids = [
        int(x) for x in re.findall(r"BroadcastHashJoin Inner \w+ \((\d+)\)", plan)
    ]
    assert len(semi_ids) == 2, f"expected two broadcast semi-join lanes: {semi_ids}"
    assert inner_ids, "exact gram join missing or not broadcast"
    assert max(semi_ids) < min(inner_ids), (
        f"prefilter lanes must run upstream of the exact join "
        f"(semi ids {semi_ids} vs inner ids {inner_ids})"
    )


def test_corpus_diff_joins_narrow_fingerprints(spark):
    """Snapshot diff must reduce each side to (key, fingerprint)
    before the full-outer join — the payload never reaches the join —
    and must scan only the two consumed columns."""
    plan = explain(spark, Q.QUERIES["corpus-diff"](spark, SF))
    assert "FullOuter" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("lang", "source", "n_chars"):
        assert col not in read_schema


def test_quantiles_twophase_never_holds_the_multiset(spark):
    """The two-phase form must not fall back to the built-in
    percentile aggregate (whose state is the group's full value
    multiset on one reducer) — its plan is hash aggregations over the
    bounded bin vocabulary plus broadcast joins for the located bins."""
    plan = explain(spark, Q.QUERIES["quantiles-twophase"](spark, SF))
    assert "percentile" not in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_refresh_composite_plan_shape(spark):
    """The r13 incremental composite: every join across its six
    stages must stay an equi/bucket-keyed join — never a cartesian or
    nested-loop fallback — and the vector stage must project the
    dim-length vector columns away before the ranking window (the
    knn_join lesson, inherited through incremental_knn)."""
    plan = explain(spark, Q.QUERIES["corpus-refresh-pipeline"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the subtractive stats fold must not reintroduce the built-in
    # percentile-style single-reducer state anywhere
    assert "percentile" not in plan.lower()


def test_prep_composite_plan_shape(spark):
    plan = explain(spark, Q.QUERIES["corpus-prep-pipeline"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
