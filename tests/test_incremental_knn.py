"""incremental-knn (r12): the vector-tier nightly-ingest twin —
new vector batch vs a PERSISTED bucketed ANN index.

Pins the three claims the operator ships with:
1. planted-neighbor recall: a near-duplicate planted in the accepted
   corpus is retrieved as its batch twin's top neighbor (buckets
   agree for near-identical vectors, so LSH pruning cannot lose it);
2. the bucketed-index plan shape: with the index persisted bucketed
   on the bucket key, the probe join reads the index IN PLACE — one
   less Exchange than against plain parquet, and no hashpartitioning
   of the index branch;
3. NULL-vector rows are excluded from the index and the batch (the
   r12 NULL-embedding degrade contract) instead of poisoning the
   Arrow bucketer.

Oracle parity is covered by the driver key + tests/test_oracle_parity;
width-invariance by tests/test_partition_invariance.
"""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators.similarity import (
    build_ann_index,
    incremental_knn,
)
from reverse_etl_homebrew_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _vec(seed: float, dim: int = 8):
    return [float(seed + i * 0.1) for i in range(dim)]


def _insert(ann_index, accepted_batch, planes=6):
    """Index maintenance as production runs it: INSERT INTO the
    bucketed index table of ``build_ann_index(accepted batch)`` with
    the same planes, exact duplicate rows collapsing."""
    return ann_index.unionByName(build_ann_index(accepted_batch, planes)).distinct()


def test_planted_neighbor_recall(spark):
    """A planted near-duplicate (same direction, tiny perturbation)
    must be its batch twin's #1 neighbor: near-identical vectors share
    every hyperplane sign, so the probe set always contains the twin's
    bucket and exact scoring ranks it first."""
    base = _vec(1.0)
    near = [v * 1.001 for v in base]  # same direction -> cosine ~1
    accepted_rows = [(100, near)] + [
        (200 + i, _vec(-3.0 + 2.7 * i)) for i in range(40)
    ]
    accepted = spark.createDataFrame(
        accepted_rows, "vec_id int, embedding array<float>"
    )
    batch = spark.createDataFrame(
        [(1, base)], "vec_id int, embedding array<float>"
    )
    idx = build_ann_index(accepted, planes=6)
    out = incremental_knn(batch, idx, k=3, planes=6).collect()
    assert out, "planted neighbor lost"
    top = max(out, key=lambda r: (r["score"], -r["r_id"]))
    assert top["r_id"] == 100
    assert top["score"] > 0.999


def test_null_vectors_excluded_both_sides(spark):
    rows = [(1, _vec(1.0)), (2, None), (3, _vec(2.0))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    idx = build_ann_index(df, planes=4)
    assert idx.where(F.col("r_id") == 2).count() == 0
    out = incremental_knn(df, idx, k=2, planes=4)
    assert out.where(F.col("l_id") == 2).count() == 0
    # non-NULL batch rows still retrieve
    assert out.where(F.col("l_id") == 1).count() >= 1


def test_append_equals_rebuild(spark):
    """Index maintenance invariant: inserting an accepted batch with
    the SAME planes is equivalent to rebuilding the index over
    corpus ∪ batch — identical probe results for any query batch —
    and re-accepting the same batch twice (at-least-once accept loop)
    changes nothing."""
    corpus = spark.createDataFrame(
        [(200 + i, _vec(-3.0 + 2.7 * i)) for i in range(30)],
        "vec_id int, embedding array<float>",
    )
    accepted = spark.createDataFrame(
        [(500 + i, _vec(1.0 + 0.3 * i)) for i in range(10)],
        "vec_id int, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, _vec(1.2)), (2, _vec(-2.0))], "vec_id int, embedding array<float>"
    )
    base = build_ann_index(corpus, planes=6)
    appended = _insert(base, accepted)
    rebuilt = build_ann_index(corpus.unionByName(accepted), planes=6)

    def probe(idx):
        return sorted(
            map(tuple, incremental_knn(queries, idx, k=3, planes=6).collect())
        )

    assert probe(appended) == probe(rebuilt)
    twice = _insert(appended, accepted)
    assert twice.count() == appended.count()
    assert probe(twice) == probe(appended)
    # a re-accepted id with a CONFLICTING vector keeps both rows —
    # the conflicting-redelivery boundary, owned upstream; the
    # full-row distinct only collapses EXACT duplicates, so there is
    # never a partition-order-dependent survivor to elect (r12 review)
    conflicting = spark.createDataFrame(
        [(500, _vec(9.0))], "vec_id int, embedding array<float>"
    )
    with_conflict = _insert(appended, conflicting)
    assert with_conflict.where(F.col("r_id") == 500).count() == 2


def test_dimension_drift_is_loud(spark):
    """A batch whose vectors drifted to a different dimensionality is
    refused with a schema-contract error by the probe (r12 review:
    planes derived from the batch would silently bucket with
    different hyperplanes and fold truncated cosines — wrong
    neighbors, no error)."""
    from reverse_etl_homebrew_spark.sources.catalog import SchemaContractError

    corpus = spark.createDataFrame(
        [(200 + i, _vec(-3.0 + 2.7 * i)) for i in range(10)],
        "vec_id int, embedding array<float>",
    )
    drifted = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id int, embedding array<float>"
    )
    idx = build_ann_index(corpus, planes=6)
    with pytest.raises(SchemaContractError):
        incremental_knn(drifted, idx, k=3, planes=6)


def test_probe_join_reads_bucketed_index_in_place(spark, tmp_path):
    """DIFFERENTIAL plan pin (the IVM-state pattern): the same probe
    against the index persisted bucketed on `bucket` pays exactly one
    less Exchange than against plain parquet, and the index branch of
    the join contains no hashpartitioning — the per-ingest shuffle is
    batch-side only, which is what makes probe cost independent of
    corpus size."""
    emb = load_table(spark, SF, "embeddings")
    accepted = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    idx = build_ann_index(accepted, planes=6)

    suffix = uuid.uuid4().hex[:8]
    tb = f"ann_idx_b_{suffix}"
    tp = str(tmp_path / "ann_idx_plain")
    (
        idx.write.bucketBy(8, "bucket")
        .sortBy("bucket")
        .option("path", str(tmp_path / tb))
        .saveAsTable(tb)
    )
    idx.write.parquet(tp)

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # a 100 TB index would never broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        def probe_plan(index_df):
            out = incremental_knn(batch, index_df, k=3, planes=6)
            out.write.format("noop").mode("overwrite").save()
            return out._jdf.queryExecution().executedPlan().toString()

        bucketed = probe_plan(spark.table(tb))
        plain = probe_plan(spark.read.parquet(tp))

        assert "SortMergeJoin" in bucketed
        assert "Bucketed: true" in bucketed
        n_b, n_p = bucketed.count("Exchange"), plain.count("Exchange")
        assert n_b == n_p - 1, (n_b, n_p)
        # the index branch of the SMJ must not re-shuffle on the
        # bucket key. In the plan text the batch (first) branch's
        # lines carry a ':' prefix; the index branch's lines do not —
        # keep only the latter and assert no bucket-key Exchange there.
        after_smj = bucketed.split("SortMergeJoin", 1)[1]
        index_branch = "\n".join(
            ln for ln in after_smj.splitlines()
            if not ln.lstrip().startswith(":")
        )
        assert "hashpartitioning(bucket" not in index_branch
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_masking_kernels_run_once(spark):
    """Regression pin for the r14 kernel-duplication class
    (fixtures/ab_r14_ledger.py attribution): a consumer filter on a
    masking kernel's output column (`bucket IS NOT NULL`, probe
    `isin`, `nrm < inf`, `dists IS NOT NULL`) used to be pushed below
    the projection by PushDownPredicate, re-inlining the Python UDF
    and planning a SECOND ArrowEvalPython — every kernel evaluation
    silently ran twice (measured 1.34x on incremental-knn). The
    kernels are now marked nondeterministic (deterministic in fact —
    the mark only disables the re-inlining moves), so each registered
    plan carries exactly one ArrowEvalPython per kernel application,
    and never a row-at-a-time BatchEvalPython."""
    from reverse_etl_homebrew_spark import queries as Q

    expected = {
        # 2 fused bucket+norm kernels (index + batch) + 1 pair-cosine
        "incremental-knn": 3,
        "knn-join-lsh": 3,
        # r15: the exact branch fused both per-side norm kernels into
        # the pair-cosine (pair_cosine_flags_pandas) — one Python
        # round-trip instead of three
        "knn-join": 1,
        # 1 centroid-distance kernel per assignment pass
        "kmeans-assign": 1,
        # r15: the bucket+norm base is PINNED (it feeds the probe and
        # anchor sides — the kernel used to appear twice, once per
        # consumer); the pinned kernel run happens during checkpoint
        # materialization and the executed plan shows the pin as an
        # RDD scan, leaving the pair-cosine + one visible kernel node
        "similarity-join": 2,
        "embedding-near-dup": 2,
        # every literal-query top-k scores through topk_brute's fused
        # kernel: alone on the brute keys, after the masking kernel
        # (bucket / IVF cell) on the approximate ones
        "topk-similarity": 1,
        "topk-similarity-pandas": 1,
        "topk-similarity-lsh": 2,
        "topk-similarity-ivf": 2,
    }
    for key, want in expected.items():
        df = Q.QUERIES[key](spark, SF)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = plan.count("ArrowEvalPython")
        assert got == want, (key, got, want)
        assert plan.count("BatchEvalPython") == 0, key
