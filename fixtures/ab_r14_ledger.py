#!/usr/bin/env python
"""Idle interleaved A/B ledger rows for round 14 (VERDICT r13 #3).

1. `incremental-knn`: the r13 DRIVER bench read 1.54x round-over-round
   on a contended host (loadavg 3-6); the judge's idle read said
   0.98x. A = the CURRENT registered query; B = the r12-end-state
   plan reconstructed verbatim from commit 7757dcf — the pre-masking
   bucketer kernel (plain `_vector_matrix` + hybrid_fold_signs, no
   isna/isfinite pass) and no NULL-bucket exclusion on either side
   (the r13 finite-geometry scope added both). Interleaved
   A/B/A/B..., 4 discarded warmups per arm, medians of 5, noop sink,
   loadavg recorded — the ewma-smooth discharge method.

2. `corpus-refresh-pipeline`: a loadavg-recorded idle median to
   anchor the key's r13 spread (5.25 s builder-idle / 6.47 s judge /
   8.94 s contended driver) — no B arm, the key has no disputed plan
   change; the number exists so future round-over-round readings have
   an idle reference point with load context.

Verdicts are recorded in SCALE.md; this fixture is the method.
Usage: python fixtures/ab_r14_ledger.py [sf_dir]
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
from pyspark.sql import Window as W, functions as F, types as T


def r12_bucketer(planes_flat, planes_per_table: int, tables: int = 1):
    """The r12-end-state single-table bucketer kernel (commit
    7757dcf): no NULL masking, no isfinite pass — `_vector_matrix`
    straight into the hybrid sign fold."""
    import numpy as np

    from reverse_etl_homebrew_spark.operators.vectorized import (
        _vector_matrix,
        hybrid_fold_signs,
    )

    P = np.asarray([list(p) for p in planes_flat], dtype=np.float64)
    weights = np.left_shift(
        np.int64(1), np.arange(planes_per_table - 1, -1, -1, dtype=np.int64)
    )
    tags = np.arange(tables, dtype=np.int64) << planes_per_table

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np

        m, _ = _vector_matrix(vecs, "table_buckets", dim=P.shape[1])
        signs = hybrid_fold_signs(m, P)
        bs = (
            signs.reshape(len(m), tables, planes_per_table).astype(np.int64)
            @ weights
        )
        bs = bs + tags
        return pd.Series(list(bs))

    return buckets


def r12_incremental_knn_plan(spark, sf_dir):
    """The registered incremental-knn query on the r12-end-state
    operator internals: same probe algebra, pre-masking bucketer, no
    NULL-bucket filters (they did not exist before the r13
    finite-geometry scope)."""
    from reverse_etl_homebrew_spark.functions import vectors as VEC
    from reverse_etl_homebrew_spark.operators.similarity import (
        _deterministic_planes,
    )
    from reverse_etl_homebrew_spark.operators.vectorized import (
        pair_cosine_pandas,
    )
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    planes, k = 6, 3
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    accepted = emb.filter(F.col("vec_id") % 10 != 0)

    # faithful r12 driver-job count: build_ann_index inferred dim from
    # the corpus, then incremental_knn re-inferred from the index AND
    # from the NULL-filtered batch — three first() jobs, same as HEAD
    dim = VEC.infer_dim(accepted, "embedding")
    hp = _deterministic_planes(planes, dim)
    bucketer = r12_bucketer(hp, planes, tables=1)
    idx = (
        accepted.where(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("r_id"),
            F.col("embedding").alias("r_v"),
            F.sqrt(VEC.dot("embedding", "embedding", dim)).alias("r_nrm"),
        )
        .withColumn("bucket", F.element_at(bucketer(F.col("r_v")), 1))
    )
    dim = VEC.infer_dim(idx, "r_v")
    VEC.infer_dim(batch.where(F.col("embedding").isNotNull()), "embedding")
    hp = _deterministic_planes(planes, dim)
    bucketer = r12_bucketer(hp, planes, tables=1)
    l = (
        batch.where(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("l_id"),
            F.col("embedding").alias("l_v"),
            F.sqrt(VEC.dot("embedding", "embedding", dim)).alias("l_nrm"),
        )
        .withColumn("__b0", F.element_at(bucketer(F.col("l_v")), 1))
    )
    probes = [F.col("__b0")]
    probes += [F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(planes)]
    probes += [
        F.col("__b0").bitwiseXOR(F.lit((1 << i) | (1 << j)))
        for i in range(planes)
        for j in range(i)
    ]
    l = l.withColumn(
        "bucket", F.explode(F.array_distinct(F.array(*probes)))
    ).drop("__b0")
    _cos = pair_cosine_pandas()
    scored = l.join(idx, "bucket").withColumn(
        "score",
        F.round(
            _cos(F.col("l_v"), F.col("r_v"), F.col("l_nrm"), F.col("r_nrm")), 6
        ),
    )
    w = W.partitionBy("l_id").orderBy(F.desc("score"), F.col("r_id"))
    return (
        scored.select("l_id", "r_id", "score")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("l_id", "r_id", "score")
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from reverse_etl_homebrew_spark import queries as Q
    from reverse_etl_homebrew_spark.session import get_spark

    load0 = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("ab-r14-ledger")

    def run(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # ---- 1. incremental-knn interleaved A/B -------------------------
    current = lambda: Q.QUERIES["incremental-knn"](spark, sf_dir)
    r12 = lambda: r12_incremental_knn_plan(spark, sf_dir)
    for _ in range(4):
        run(current())
        run(r12())
    a_samples, b_samples = [], []
    for _ in range(5):
        gc.collect()
        a_samples.append(run(current()))
        b_samples.append(run(r12()))
    print(
        {
            "query": "incremental-knn A/B (current vs r12-end plan)",
            "sf_dir": sf_dir,
            "a_current_samples": [round(x, 3) for x in a_samples],
            "b_r12_samples": [round(x, 3) for x in b_samples],
            "a_median": round(statistics.median(a_samples), 3),
            "b_median": round(statistics.median(b_samples), 3),
            "ratio_a_over_b": round(
                statistics.median(a_samples) / statistics.median(b_samples), 3
            ),
            "loadavg_start": load0,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        }
    )

    # ---- 2. corpus-refresh-pipeline idle median ----------------------
    load1 = [round(x, 2) for x in os.getloadavg()]
    refresh = lambda: Q.QUERIES["corpus-refresh-pipeline"](spark, sf_dir)
    for _ in range(2):
        run(refresh())
    samples = []
    for _ in range(5):
        gc.collect()
        samples.append(run(refresh()))
    print(
        {
            "query": "corpus-refresh-pipeline idle median",
            "sf_dir": sf_dir,
            "samples": [round(x, 3) for x in samples],
            "median": round(statistics.median(samples), 3),
            "loadavg_start": load1,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        }
    )
    spark.stop()


if __name__ == "__main__":
    main()
