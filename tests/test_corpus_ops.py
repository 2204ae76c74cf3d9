"""Semantic tests for the round-7 corpus-profiling operators
(queries_corpus.py). Value-level correctness against DuckDB is covered
by test_oracle_parity.py; these tests pin the semantic invariants and
the physical-plan properties the oracles can't see.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import queries as Q


def _run(spark, sf_dir, key):
    return Q.QUERIES[key](spark, sf_dir)


def test_ngram_topk_shape_and_tiebreak(spark, sf_dir):
    rows = _run(spark, sf_dir, "ngram-topk").collect()
    assert len(rows) == 50
    # emitted in (n DESC, bigram ASC) order with every bigram two tokens
    pairs = [(r["n"], r["bigram"]) for r in rows]
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))
    assert all(len(b.split(" ")) == 2 for _, b in pairs)


def test_vocab_stats_ttr_bounds(spark, sf_dir):
    rows = _run(spark, sf_dir, "vocab-stats").collect()
    assert rows
    for r in rows:
        assert 0 < r["vocab_size"] <= r["n_tokens"]
        assert 0.0 < r["type_token_ratio"] <= 1.0


def test_domain_stats_planted_recall(spark, sf_dir):
    rows = _run(spark, sf_dir, "domain-stats").collect()
    doms = {r["domain"] for r in rows}
    # every extracted domain is one of the two planted host families
    pat = re.compile(r"^(site[0-9]+\.example\.org|cdn[0-9]+\.example\.net)$")
    assert doms and all(pat.match(d) for d in doms)
    # planted every 5th doc with doc_id%97 / doc_id%13 hosts: both
    # families must appear
    assert any(d.startswith("site") for d in doms)
    assert any(d.startswith("cdn") for d in doms)


def test_embedding_centroid_dims(spark, sf_dir):
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    dim = len(
        load_table(spark, sf_dir, "embeddings").select("embedding").first()[0]
    )
    rows = _run(spark, sf_dir, "embedding-centroid").collect()
    assert rows
    # dim-exploded shape: every label carries exactly `dim` rows,
    # one per dimension 0..dim-1, all with the same positive n_vecs
    by_label: dict = {}
    for r in rows:
        assert r["n_vecs"] > 0
        by_label.setdefault(r["label"], []).append(r["dim"])
    for dims in by_label.values():
        assert sorted(dims) == list(range(dim))


def test_anomaly_zscore_all_outliers(spark, sf_dir):
    rows = _run(spark, sf_dir, "anomaly-zscore").collect()
    assert all(abs(r["z"]) > 3 for r in rows)


def test_scd2_history_intervals(spark, sf_dir):
    df = _run(spark, sf_dir, "scd2-history")
    rows = df.collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, hist in by_user.items():
        hist.sort(key=lambda r: r["valid_from"])
        # exactly one open (current) interval per user, and it is the last
        assert sum(1 for r in hist if r["is_current"]) == 1
        assert hist[-1]["is_current"] and hist[-1]["valid_to"] is None
        for a, b in zip(hist, hist[1:]):
            # intervals chain: each valid_to is the next valid_from
            assert a["valid_to"] == b["valid_from"]
            # consecutive intervals never carry the same tracked value
            assert a["event_type"] != b["event_type"]


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """The point of the bucketed layout: with broadcast off (as it
    would be for a fact-to-fact join at 100 TB), the join runs as a
    SortMergeJoin over co-located buckets with NO Exchange on either
    join input."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = _run(spark, sf_dir, "bucketed-join")
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert "hashpartitioning(l_orderkey" not in plan
        assert "hashpartitioning(o_orderkey" not in plan
        # the only shuffle is the small post-join re-agg on o_orderpriority
        assert plan.count("Exchange") <= 2
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_matches_plain_join(spark, sf_dir):
    from reverse_etl_homebrew_spark.queries_corpus import _ensure_bucketed
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    got = {
        r["o_orderpriority"]: (r["n_items"], r["revenue"])
        for r in _run(spark, sf_dir, "bucketed-join").collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    want = {
        r["o_orderpriority"]: (r["n_items"], r["revenue"])
        for r in li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev).cast("double"), 6).alias("revenue"),
        )
        .collect()
    }
    assert got == want
    # the bucketed tables are private to this Spark application: a
    # second engine process building the key at once writes and reads
    # its own copy, never a shared host-wide path
    app = spark.sparkContext.applicationId
    for table in _ensure_bucketed(spark, sf_dir):
        loc = next(
            r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            if r["col_name"] == "Location"
        )
        assert app in loc and "/tmp/graft_buckets/" not in loc, loc


def test_heavy_hitters_exact_and_partition_invariant(spark):
    """The Misra-Gries candidate sketch is partition-dependent (each
    partitioning's summaries may retain different extras), but the
    exact-recount phase must make the final answer identical under any
    partitioning — and equal to the brute-force groupBy."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    # planted skew: ids 0..6 hot (1000 each), 7000 cold singletons
    rows = [(f"hot_{i % 7}",) for i in range(7000)] + [
        (f"cold_{i}",) for i in range(7000)
    ]
    df = spark.createDataFrame(rows, "item string")
    k = 100

    brute = {
        (r["item"], r["cnt"])
        for r in df.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") > len(rows) / k)
        .collect()
    }
    assert len(brute) == 7  # the 7 hot items, 1000 > 14000/100

    for parts in (3, 32):
        got = {
            (r["item"], r["cnt"])
            for r in heavy_hitters_exact(df.repartition(parts), "item", k).collect()
        }
        assert got == brute, f"parts={parts}"
        # sketch bound: each partition emits at most k candidates
        n_cands = misra_gries_candidates(
            df.repartition(parts), "item", k
        ).count()
        assert n_cands <= parts * k


def test_heavy_hitters_null_policy_and_item_types(spark):
    """NULL items are excluded by declared semantics (they neither
    appear as a hitter nor inflate n), and non-string item columns
    work — the output schema is derived from the input column."""
    from reverse_etl_homebrew_spark.operators.vectorized import heavy_hitters_exact

    # 400 NULLs + 60 of item 7 + 20 of item 8 + 20 singletons: with
    # NULLs excluded n = 100 (threshold 10) and BOTH items are heavy;
    # if NULLs leaked into n (n = 500, threshold 50), item 8 (20)
    # would vanish — so the presence of item 8 pins the "NULLs don't
    # inflate n" half of the declared semantics, not just the counts.
    rows = (
        [(None,)] * 400
        + [(7,)] * 60
        + [(8,)] * 20
        + [(1000 + i,) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "item long").repartition(5)
    got = sorted(
        (r["item"], r["cnt"]) for r in heavy_hitters_exact(df, "item", 10).collect()
    )
    assert got == [(7, 60), (8, 20)]


def test_topk_frequent_sketch_matches_brute_force_under_compression(spark):
    """The two-phase top-k must equal the full-vocabulary groupBy
    top-k under any partitioning WHILE the sketch genuinely
    compresses (sketch_k far below the distinct-item count, so the
    mergeable-summaries decrement path runs)."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        misra_gries_candidates,
        topk_frequent_sketch,
    )

    # Zipf-ish: item i (1 <= i <= 40) appears 1200 // i times, plus
    # 3000 cold singletons — distinct = 3040, sketch_k = 128 << that
    rows = [(f"z_{i:02d}",) for i in range(1, 41) for _ in range(1200 // i)] + [
        (f"cold_{i}",) for i in range(3000)
    ]
    # n ≈ 8134, so n/(sketch_k+1) = n/129 = 63 < the 10th count (120):
    # inside the provable regime, while sketch_k = 128 << 3040 distinct
    df = spark.createDataFrame(rows, "item string")
    k, sketch_k = 10, 128

    brute = sorted(
        ((r["item"], r["cnt"]) for r in df.groupBy("item")
         .agg(F.count(F.lit(1)).cast("long").alias("cnt")).collect()),
        key=lambda t: (-t[1], t[0]),
    )[:k]

    for parts in (3, 32):
        part = df.repartition(parts)
        got = sorted(
            ((r["item"], r["cnt"])
             for r in topk_frequent_sketch(part, "item", k, sketch_k).collect()),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == brute, f"parts={parts}"
        # the sketch really compressed: candidates are far fewer than
        # the vocabulary, and bounded by partitions x sketch_k
        n_cands = misra_gries_candidates(part, "item", sketch_k).distinct().count()
        assert n_cands < 3040
        assert n_cands <= parts * sketch_k


def test_topk_frequent_sketch_strict_guard_raises_outside_regime(spark):
    """On a flat distribution the k-th count cannot clear
    n/(sketch_k+1): the guard must raise (never silently truncate
    the top-k)."""
    import pytest

    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    # 2000 items x 3 occurrences: perfectly flat, n = 6000,
    # n/(sketch_k+1) = 6000/17 = 352 >> 3
    rows = [(f"flat_{i:04d}",) for i in range(2000) for _ in range(3)]
    df = spark.createDataFrame(rows, "item string").repartition(8)

    with pytest.raises(Exception, match="provable regime"):
        topk_frequent_sketch(df, "item", 5, 16).collect()


def test_topk_frequent_sketch_fewer_candidates_than_k(spark):
    """When the candidate set is smaller than k a non-candidate could
    belong to the result, so strict raises; with a sketch wide enough
    to hold the whole vocabulary the result is the (trivially exact)
    full item list."""
    import pytest

    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "item string").repartition(2)

    # sketch holds everything: 3 distinct <= sketch_k, but k=5 asks
    # for more rows than exist — strict cannot prove completeness
    with pytest.raises(Exception, match="provable regime"):
        topk_frequent_sketch(df, "item", 5, 16).collect()

    got = sorted(
        (r["item"], r["cnt"])
        for r in topk_frequent_sketch(df, "item", 3, 16).collect()
    )
    assert got == [("a", 5), ("b", 3), ("c", 1)]


def test_bigram_lift_topk_shape_support_and_order(spark, sf_dir):
    """Every returned collocation meets the min-support floor, lift is
    positive and 6-decimal-quantized, and rows come out in the
    (lift DESC, bigram ASC) total order with exactly 50 rows."""
    rows = _run(spark, sf_dir, "bigram-lift-topk").collect()
    assert len(rows) == 50
    seq = [(r["lift"], r["bigram"], r["cxy"]) for r in rows]
    assert seq == sorted(seq, key=lambda t: (-t[0], t[1]))
    for lift, bigram, cxy in seq:
        assert cxy >= 5
        assert lift > 0
        # exact quantization: lift * 1e6 is integral
        assert lift == round(lift * 1_000_000) / 1_000_000
        assert len(bigram.split(" ")) == 2


def test_ngram_topk_sketch_single_lineage_plan(spark, sf_dir):
    """The sketch query must scan the input exactly TWICE (sketch
    build + recount) — the strict guard is woven into ONE lineage, so
    a future rewrite that anchors it on a second copy of the
    recount (4 scans, 2 sketch passes — the shape an earlier draft
    produced) fails here. Also pins: one broadcast candidates join,
    one Arrow sketch stage."""
    df = _run(spark, sf_dir, "ngram-topk-sketch")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 2, plan
    assert plan.count("MapInArrow") == 1 or plan.count("mapInArrow") == 1, plan
    assert plan.count("Join") == 1, plan


def test_topk_frequent_by_group_matches_brute_force_under_compression(spark):
    """The grouped two-phase top-k must equal each group's brute-force
    top-k under any partitioning, while per-group summaries genuinely
    compress (sketch_k far below each group's distinct count)."""
    from pyspark.sql import Window as W

    from reverse_etl_homebrew_spark.operators.vectorized import (
        misra_gries_candidates,
        topk_frequent_sketch,
    )

    # two groups with DIFFERENT Zipf heads (g0 favors low ids, g1
    # high ids) + per-group cold singletons: distinct per group ≈
    # 1540; sketch_k = 64 is BOTH far below that and below each
    # (partition, group) slice's distinct count even at 32 partitions
    # (~47 cold + 40 zipf ≈ 87 > 64), so per-group compression runs
    # at every tested width — while the regime holds: n_g ≈ 6570,
    # 10th count 120 > n_g/65 ≈ 101
    rows = (
        [("g0", f"z_{i:02d}") for i in range(1, 41) for _ in range(1200 // i)]
        + [("g1", f"z_{41 - i:02d}") for i in range(1, 41) for _ in range(1200 // i)]
        + [(g, f"cold_{g}_{i}") for g in ("g0", "g1") for i in range(1500)]
    )
    df = spark.createDataFrame(rows, "grp string, item string")
    k, sketch_k = 10, 64

    wrank = W.partitionBy("grp").orderBy(F.col("cnt").desc(), F.col("item").asc())
    brute = sorted(
        (r["grp"], r["item"], r["cnt"])
        for r in df.groupBy("grp", "item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("rk", F.row_number().over(wrank))
        .filter(F.col("rk") <= k)
        .select("grp", "item", "cnt")
        .collect()
    )

    for parts in (3, 32):
        part = df.repartition(parts)
        got = sorted(
            (r["grp"], r["item"], r["cnt"])
            for r in topk_frequent_sketch(
                part, "item", k, sketch_k, by=("grp",)
            ).collect()
        )
        assert got == brute, f"parts={parts}"
        n_cands = (
            misra_gries_candidates(part, "item", sketch_k, by=("grp",))
            .distinct()
            .count()
        )
        assert n_cands < 2 * 1540  # far below the total vocabulary
        assert n_cands <= parts * 2 * sketch_k  # per-(partition, group) bound


def test_topk_frequent_by_group_strict_guard_is_per_group(spark):
    """ONE out-of-regime group makes the whole call raise (a silent
    partial answer would be wrong for that group), while the skewed
    group on its own returns its exact head."""
    import pytest

    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    rows = (
        # skewed group: item s_i appears 600 // i times — k=5 in-regime
        [("skew", f"s_{i}") for i in range(1, 11) for _ in range(600 // i)]
        # flat group: 500 items x 3 — k-th count can never clear n/(16+1)
        + [("flat", f"f_{i:03d}") for i in range(500) for _ in range(3)]
    )
    df = spark.createDataFrame(rows, "grp string, item string").repartition(8)

    with pytest.raises(Exception, match="provable regime"):
        topk_frequent_sketch(df, "item", 5, 16, by=("grp",)).collect()

    alone = topk_frequent_sketch(
        df.where(F.col("grp") == "skew"), "item", 5, 16, by=("grp",)
    ).collect()
    skew = sorted((r["item"], r["cnt"]) for r in alone)
    assert skew == [("s_1", 600), ("s_2", 300), ("s_3", 200), ("s_4", 150), ("s_5", 120)]


def test_topk_frequent_by_group_null_policy(spark):
    """NULL items and NULL group keys are excluded by declared
    semantics: they appear in no group's result and inflate no
    group's total (a NULL-key flood must not push a real group out
    of its provable regime)."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    rows = (
        [("g", "a")] * 30
        + [("g", "b")] * 10
        + [("g", None)] * 200  # NULL items: excluded from n_g
        + [(None, "x")] * 200  # NULL group: excluded entirely
    )
    df = spark.createDataFrame(rows, "grp string, item string").repartition(4)
    got = sorted(
        (r["grp"], r["item"], r["cnt"])
        for r in topk_frequent_sketch(df, "item", 2, 8, by=("grp",)).collect()
    )
    assert got == [("g", "a", 30), ("g", "b", 10)]


def test_misra_gries_sketch_narrow_int_item_columns(spark):
    """The candidate sketch's yielded Arrow arrays must carry the
    DECLARED column type, not Python-int inference (always int64):
    an IntegerType item column previously failed mapInArrow's schema
    check at runtime. Pins the sketch ungrouped and grouped end to
    end through the heavy-hitters and top-k operators — grouped by a
    string key and by an int key, whose array takes the declared
    type the same way."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        heavy_hitters_exact,
        topk_frequent_sketch,
    )

    rows = (
        [(7, "g", 3)] * 60 + [(8, "g", 3)] * 20
        + [(100 + i, "g", 3) for i in range(30)]
    )
    df = spark.createDataFrame(rows, "item int, grp string, gid int").repartition(4)
    assert df.schema["item"].dataType.simpleString() == "int"

    got = sorted(
        (r["item"], r["cnt"]) for r in heavy_hitters_exact(df, "item", 10).collect()
    )
    assert got == [(7, 60), (8, 20)]

    by_g = topk_frequent_sketch(df, "item", k=2, sketch_k=16, by=("grp",)).collect()
    assert sorted((r["grp"], r["item"], r["cnt"]) for r in by_g) == [
        ("g", 7, 60), ("g", 8, 20)
    ]
    by_id = topk_frequent_sketch(df, "item", k=2, sketch_k=16, by=("gid",))
    assert by_id.schema["gid"].dataType.simpleString() == "int"
    assert sorted((r["gid"], r["item"], r["cnt"]) for r in by_id.collect()) == [
        (3, 7, 60), (3, 8, 20)
    ]
