"""Tests for the Arrow/pandas vectorized scale path and the custom
stateful streaming operator."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators import similarity as SIM, vectorized as VZ
from reverse_etl_homebrew_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def query_vec(emb):
    row = emb.filter(F.col("vec_id") == 0).first()
    return [float(x) for x in row["embedding"]]


def _ivf_cells(emb):
    """The cells ``topk-similarity-ivf`` probes: vectors vec_id < 8 in
    id order, NULL vectors skipped, as its oracle picks them."""
    rows = (
        emb.filter((F.col("vec_id") < 8) & F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def test_ivf_assign_partitions_all_vectors(spark, emb):
    cents = _ivf_cells(emb)
    assigned = VZ.ivf_assign_pandas(emb, cents)
    n = assigned.count()
    assert n == emb.count()
    cells = {r["ivf_cell"] for r in assigned.select("ivf_cell").distinct().collect()}
    assert cells <= set(range(8)) and len(cells) >= 2


def test_ivf_topk_contains_query_and_overlaps_exact(spark, emb, query_vec):
    cents = _ivf_cells(emb)
    exact = [r["vec_id"] for r in SIM.topk_brute(emb, query_vec, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in SIM.topk_ivf(emb, query_vec, cents, k=10, n_probe=3).collect()
    ]
    assert 0 in approx  # the query vector itself
    assert len(set(exact) & set(approx)) >= 2


def test_knn_join_default_is_not_a_cross_join(spark, emb):
    """VERDICT r2 #3: the default knn_join on two UNBOUNDED sides must
    plan as an equi-join on the bucket key — never
    BroadcastNestedLoopJoin / CartesianProduct."""
    out = SIM.knn_join(emb, emb, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # one bucket kernel per side plus the pair kernel; at L = 1 a pair
    # matches once, so no dedup aggregate
    assert plan.count("ArrowEvalPython") == 3, plan
    assert "Aggregate(" not in plan, plan
    # exact=True keeps the documented cross shape for bounded batches
    bounded = SIM.knn_join(emb.limit(5), emb, k=3, exact=True)
    xplan = bounded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in xplan or "CartesianProduct" in xplan


def test_knn_join_multi_table_recall(spark, emb):
    """L independent hash tables with NO probing must at least match
    single-table radius-2 multi-probe recall shape: all self-matches
    survive (same bucket in every table), pairs dedup across tables,
    and the plan stays an equi-join."""
    left = emb.filter(F.col("vec_id") < 30)
    multi = SIM.knn_join(left, emb, k=3, tables=4, probe_radius=0)
    rows = multi.collect()
    pairs = {(r["l_id"], r["r_id"]) for r in rows}
    assert len(pairs) == len(rows), "cross-table duplicates must be removed"
    assert {(i, i) for i in range(30)} <= pairs
    exact = SIM.knn_join(left, emb, k=3, exact=True).collect()
    exact_pairs = {(r["l_id"], r["r_id"]) for r in exact}
    recall = len(exact_pairs & pairs) / len(exact_pairs)
    assert recall >= 0.2, f"multi-table recall too low: {recall:.2f}"
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    # after collect() AQE prints the final plan above the initial one
    plan = plan.split("== Initial Plan ==")[0]
    # the same path as L = 1 (all tables' buckets from one kernel pass
    # per side, plus the pair kernel) and the cross-table dedup aggregate
    assert plan.count("ArrowEvalPython") == 3, plan
    assert "Aggregate(key=[l_id" in plan, plan
    assert "CartesianProduct" not in plan


def test_knn_join_default_recall_vs_exact(spark, emb):
    """Bucketed candidates must recover a useful fraction of the true
    top-3 neighbors (self-match always survives: identical vectors
    share a bucket)."""
    left = emb.filter(F.col("vec_id") < 30)
    exact = SIM.knn_join(left, emb, k=3, exact=True).collect()
    approx = SIM.knn_join(left, emb, k=3).collect()
    exact_pairs = {(r["l_id"], r["r_id"]) for r in exact}
    approx_pairs = {(r["l_id"], r["r_id"]) for r in approx}
    # every left id keeps its self-match (score 1.0)
    assert {(i, i) for i in range(30)} <= approx_pairs
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"bucketed knn recall too low: {recall:.2f}"


def test_streaming_sessionize_closes_sessions(spark, tmp_path):
    """Drive the applyInPandasWithState operator with availableNow
    over the real events file; sessions must close deterministically
    and line up with the batch gaps-and-islands count for closed
    sessions."""
    from reverse_etl_homebrew_spark.streaming.stateful import streaming_sessionize
    from reverse_etl_homebrew_spark.streaming.structured import read_events_stream

    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    shutil.copy(os.path.join(SF, "events.parquet"), events_dir)

    ev = read_events_stream(spark, events_dir)
    sessions = streaming_sessionize(ev, gap_seconds=600.0)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = out.collect()
    assert rows, "no sessions closed"
    # session integrity: end - start >= 0; n_events >= 1
    for r in rows:
        assert r["n_events"] >= 1
        assert r["session_end"] >= r["session_start"]

    # batch cross-check: every streamed session must be one of the
    # batch gaps-and-islands sessions (same start + event count), and
    # at least all gap-closed sessions must have been emitted (the
    # event-time timeout may close more as the watermark drains)
    from reverse_etl_homebrew_spark.operators import windows as WIN

    batch = WIN.session(
        load_table(spark, SF, "events"), "ts", "10 minutes", keys=["user_id"]
    )
    batch_keys = {
        (r["user_id"], str(r["window_start"]), r["n"]) for r in batch.collect()
    }
    stream_keys = {
        (r["user_id"], str(r["session_start"]), r["n_events"]) for r in rows
    }
    assert stream_keys <= batch_keys, stream_keys - batch_keys
    n_users = batch.select("user_id").distinct().count()
    assert out.count() >= batch.count() - n_users


def test_streaming_sessionize_survives_null_event_times(spark, tmp_path):
    """r10 NULL-robustness: Spark's watermark does NOT filter NULL
    event times — they used to reach the pandas state function as NaT
    and NaT.timestamp() killed the whole streaming query on the first
    unstamped event. The operator now drops them pre-watermark (the
    batch twin's event-time policy); the query must complete and its
    closed sessions must still be a subset of the batch sessions over
    the same (non-null) events."""
    import datetime as dt

    from reverse_etl_homebrew_spark.operators import windows as WIN
    from reverse_etl_homebrew_spark.streaming.stateful import streaming_sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(3):
        for i in range(6):
            rows.append((u * 100 + i, base + dt.timedelta(minutes=25 * i), u, "view", 1.0, "{}"))
        rows.append((u * 100 + 50, None, u, "view", 1.0, "{}"))  # unstamped
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    ev_dir = str(tmp_path / "ev")
    df.write.parquet(ev_dir)

    stream = (
        spark.readStream.schema(df.schema).parquet(ev_dir)
    )
    q = (
        streaming_sessionize(stream, gap_seconds=600.0)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # would raise the NaT PythonException pre-fix
    out = spark.read.parquet(str(tmp_path / "out"))
    batch = WIN.session(df, "ts", "10 minutes", keys=["user_id"])
    batch_keys = {
        (r["user_id"], str(r["window_start"]), r["n"]) for r in batch.collect()
    }
    stream_keys = {
        (r["user_id"], str(r["session_start"]), r["n_events"]) for r in out.collect()
    }
    assert stream_keys, "no sessions closed"
    assert stream_keys <= batch_keys, stream_keys - batch_keys
    # unstamped events never enter any session on either side
    assert all(n == 1 for (_, _, n) in batch_keys)


def test_streaming_sessionize_survives_null_group_keys(spark, tmp_path):
    """r11 NULL-key probe, streaming arm: Spark's groupBy routes NULL
    user ids into ONE state group whose key arrives in the pandas
    state function as (None,) — the grouping sibling of the r10 NaT
    crash. The query must complete, the anonymous events must
    sessionize together as one pseudo-user (matching the batch twin's
    GROUP BY semantics, so stream ≡ batch holds on dirty streams),
    and identified users must be unaffected. At 100 TB the NULL group
    is a single state partition — a skew hotspot a producer should
    filter upstream, but never a crash."""
    import datetime as dt

    from reverse_etl_homebrew_spark.operators import windows as WIN
    from reverse_etl_homebrew_spark.streaming.stateful import streaming_sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(6):
        rows.append((i, base + dt.timedelta(minutes=25 * i), 7, "view", 1.0, "{}"))
        rows.append((100 + i, base + dt.timedelta(minutes=25 * i), None, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    ev_dir = str(tmp_path / "ev")
    df.write.parquet(ev_dir)

    stream = spark.readStream.schema(df.schema).parquet(ev_dir)
    q = (
        streaming_sessionize(stream, gap_seconds=600.0)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # a None-key crash would raise here
    out = spark.read.parquet(str(tmp_path / "out"))
    batch = WIN.session(df, "ts", "10 minutes", keys=["user_id"])
    batch_keys = {
        (r["user_id"], str(r["window_start"]), r["n"]) for r in batch.collect()
    }
    stream_keys = {
        (r["user_id"], str(r["session_start"]), r["n_events"]) for r in out.collect()
    }
    assert stream_keys, "no sessions closed"
    assert stream_keys <= batch_keys, stream_keys - batch_keys
    # the NULL pseudo-user's sessions exist on both sides
    assert any(u is None for (u, _, _) in batch_keys)
    assert any(u is None for (u, _, _) in stream_keys)


def dot_literal(a, q):
    """Dot product against a fixed query vector as the codegen left
    fold (constants folded into codegen)."""
    from reverse_etl_homebrew_spark.functions.vectors import _sum_terms

    return _sum_terms(
        [
            F.element_at(a, F.lit(i + 1)).cast("double") * F.lit(float(q[i]))
            for i in range(len(q))
        ]
    )


def random_hyperplane_signs(a, planes):
    """The codegen sign fold the oracles write: one bit per plane
    (projection >= 0), first plane = MSB, as a long bucket id."""
    acc = F.lit(0).cast("long")
    for p in planes:
        bit = F.when(dot_literal(a, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        acc = acc * F.lit(2) + bit.cast("long")
    return acc


def test_arrow_bucketer_matches_codegen_sign_fold(spark):
    """The LSH operators compute buckets in the Arrow hybrid kernel
    (BLAS projection + rigorous error bound + exact-fold fallback for
    in-bound entries) while their SQL oracles re-derive them as a
    left-fold sign expression. The hybrid guarantees sign equality by
    construction; this pins it empirically on the real embeddings for
    every plane count the operators use."""
    from pyspark.sql import functions as F

    from reverse_etl_homebrew_spark.operators.similarity import _deterministic_planes
    from reverse_etl_homebrew_spark.operators.vectorized import (
        bucket_norm_pandas,
    )
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    for planes in (6, 8):
        hp = _deterministic_planes(planes, dim)
        bucketer = bucket_norm_pandas(hp, planes, tables=1)
        diff = (
            emb.select(
                F.element_at(
                    bucketer(F.col("embedding")).getField("bs"), 1
                ).alias("arrow"),
                random_hyperplane_signs(F.col("embedding"), hp).alias("fold"),
            )
            .filter(F.col("arrow") != F.col("fold"))
            .count()
        )
        assert diff == 0, f"planes={planes}: {diff} bucket disagreements"


def test_bucketer_exact_fold_on_forced_cancellation(spark):
    """Adversarial input for the hybrid bucketer: vectors built so the
    plane projection catastrophically cancels to within float
    rounding of zero, where a BLAS matmul and the left fold can
    legitimately disagree in sign. The kernel must detect these via
    its error bound and return the EXACT fold's sign."""
    import numpy as np
    from pyspark.sql import functions as F, types as T

    from reverse_etl_homebrew_spark.operators.vectorized import (
        bucket_norm_pandas,
    )

    rng = np.random.RandomState(42)
    dim, planes, n = 16, 4, 200
    hp = [[float(x) for x in rng.randn(dim)] for _ in range(planes)]
    rows = []
    for r in range(n):
        # start from a random vector, then zero its projection onto
        # plane 0 analytically — float arithmetic leaves a residual
        # of O(u · Σ|terms|), exactly the risky regime
        v = rng.randn(dim)
        p0 = np.asarray(hp[0])
        v = v - p0 * (float(v @ p0) / float(p0 @ p0))
        rows.append((r, [float(x) for x in v]))
    # degenerate rows: all-zero embeddings (padding / failed-encode
    # placeholders) make EVERY entry risky — must hit the vectorized
    # fallback, not a per-entry loop, and still match the fold
    for r in range(n, n + 20):
        rows.append((r, [0.0] * dim))
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("rid", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    bucketer = bucket_norm_pandas(hp, planes, tables=1)
    got = [
        r["b"]
        for r in df.select(
            "rid",
            F.element_at(bucketer(F.col("embedding")).getField("bs"), 1).alias("b"),
        )
        .orderBy("rid")
        .collect()
    ]

    # scalar reference: the exact left fold, plane 0 = MSB
    def fold_bucket(v):
        b = 0
        for i, p in enumerate(hp):
            acc = v[0] * p[0]
            for j in range(1, dim):
                acc = acc + v[j] * p[j]
            b |= (1 if acc >= 0 else 0) << (planes - 1 - i)
        return b

    want = [fold_bucket(v) for _, v in rows]
    assert got == want
