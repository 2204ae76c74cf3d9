#!/usr/bin/env python
"""Hot-bucket skew probe for `incremental-knn` (r12): LSH bucketing's
Zipf head is DIRECTIONAL — a corpus where 30% of vectors point the
same way (boilerplate embeddings: templated pages, near-empty docs,
dead-pixel images) puts 30% of the index in ONE bucket, and every
probe near that direction scores the whole hot bucket.

Cells (sf0.1 embeddings, 10% batch / 90% accepted split, planes=6):
- clean: the driver corpus as-is;
- skew30: 30% of the ACCEPTED vectors replaced by tiny deterministic
  perturbations of one fixed direction (same bucket by construction),
  batch unchanged;
- skew30_hotbatch: same index, plus the BATCH also 30% in the hot
  direction — the worst case (hot queries × hot bucket).

The lever adjudication lands in SCALE.md: per-pair scoring is an
Arrow matmul, so a hot bucket costs linear-in-candidates wall, and
the production lever is near-dup collapse BEFORE indexing —
`embedding_near_dup_pairs` exists precisely to dedup boilerplate
vectors. Measured, not assumed.

r13 extension (VERDICT r12 #5 — the multiplicative cell): the r12
cells ran at planes=6, where a radius-2 probe covers 22/64 = 34% of
the bucket space and the BASELINE candidate load buries the hot
cell's contribution (7.3x concentration read noise-flat). Production
widens planes with the corpus (~64 rows/bucket), and at production
width the hot cell DOMINATES: all hot vectors share one bucket
regardless of plane count, so clean
candidates shrink as 2^-planes while the hot-batch x hot-bucket cell
stays 0.3M x 0.3N. The `multiplicative` arm plants exactly that —
planes=10 (the corpus-proportional width here), hot fractions
30%/50% on BOTH sides, candidate-pair counts printed next to wall —
then measures the documented lever on the worst cell: near-dup
collapse BEFORE indexing (embedding_near_dup_pairs >= 0.999, at its
8 planes -> connected components -> lowest-id representative) — the
right lever when boilerplate vectors are semantic duplicates.

Usage: python fixtures/skew_ann_probe.py [sf_dir] [arm ...]
       # arms: baseline (the r12 cells), multiplicative
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def timed(build, reps=3, warm=2):
    for _ in range(warm):
        build().write.format("noop").mode("overwrite").save()
        gc.collect()
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
        gc.collect()
    return round(statistics.median(samples), 3)


def candidate_pairs(spark, batch, idx_path, planes):
    """Exact candidate-pair count of the probe join: sum over every
    batch probe bucket of that index bucket's size (radius-2 flips
    re-derived here the way every measurement fixture re-derives the
    algebra it measures)."""
    from reverse_etl_homebrew_spark.operators.similarity import build_ann_index

    idx = spark.read.parquet(idx_path)
    sizes = idx.groupBy("bucket").count()
    b0 = build_ann_index(batch, planes=planes).select(
        F.col("bucket").alias("__b0")
    )
    probes = [F.col("__b0")]
    probes += [F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(planes)]
    probes += [
        F.col("__b0").bitwiseXOR(F.lit((1 << i) | (1 << j)))
        for i in range(planes)
        for j in range(i)
    ]
    pb = b0.select(
        F.explode(F.array_distinct(F.array(*probes))).alias("bucket")
    )
    row = pb.join(sizes, "bucket").agg(F.sum("count").alias("c")).first()
    return int(row["c"] or 0)


def run_multiplicative(spark, e, dim, tmp) -> None:
    from reverse_etl_homebrew_spark.operators.components import (
        connected_components,
    )
    from reverse_etl_homebrew_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from reverse_etl_homebrew_spark.operators.similarity import (
        build_ann_index,
        incremental_knn,
    )

    planes = 10  # corpus-proportional width (~4 rows/bucket here)
    hot = F.array(*[F.lit(1.0 + 0.001 * i) for i in range(dim)])
    eps = (F.xxhash64("vec_id") % 1000).cast("double") / 1e7
    hot_pert = F.transform(hot, lambda v: (v * (1.0 + eps)).cast("float"))

    def skewed(df, pct):
        return df.select(
            "vec_id",
            F.when(F.col("vec_id") % 10 < pct // 10, hot_pert)
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )

    batch = e.filter(F.col("vec_id") % 10 == 0)
    accepted = e.filter(F.col("vec_id") % 10 != 0)
    cells = {
        "mp_clean": (batch, accepted),
        "mp_skew30_both": (skewed(batch, 30), skewed(accepted, 30)),
        "mp_skew50_both": (skewed(batch, 50), skewed(accepted, 50)),
    }
    worst = None
    for label, (b, a) in cells.items():
        path = os.path.join(tmp, label)
        build_ann_index(a, planes=planes).write.parquet(path)
        idx = spark.read.parquet(path)
        hotsize = idx.groupBy("bucket").count().orderBy(F.desc("count")).first()
        cand = candidate_pairs(spark, b, path, planes)
        wall = timed(lambda: incremental_knn(b, idx, k=3, planes=planes))
        print(
            f"{label}: hottest bucket {hotsize['count']} rows, "
            f"candidate pairs {cand}, wall {wall}s"
        )
        worst = (label, b, idx, path)

    # the lever on the worst cell (mp_skew50_both): near-dup collapse
    # BEFORE indexing — components over cos >= 0.999 pairs, lowest-id
    # representative survives
    label, b, _, path = worst
    a_df = spark.read.parquet(path).select(
        F.col("r_id").alias("vec_id"), F.col("r_v").alias("embedding")
    )
    pairs = embedding_near_dup_pairs(
        a_df, threshold=0.999, probe_radius=1
    ).select("a_id", "b_id")
    comp = connected_components(pairs)
    reps = (
        a_df.join(
            comp.filter(F.col("id") != F.col("component")).select(
                F.col("id").alias("vec_id")
            ),
            ["vec_id"],
            "left_anti",
        )
    )
    cpath = os.path.join(tmp, label + "_collapsed")
    from reverse_etl_homebrew_spark.operators.similarity import (
        build_ann_index as _bai,
    )

    _bai(reps, planes=planes).write.parquet(cpath)
    cidx = spark.read.parquet(cpath)
    ccand = candidate_pairs(spark, b, cpath, planes)
    cwall = timed(lambda: incremental_knn(b, cidx, k=3, planes=planes))
    print(
        f"lever collapse: index {a_df.count()} -> {reps.count()} rows, "
        f"candidate pairs {ccand}, wall {cwall}s"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    arms = [a for a in sys.argv[2:] if a in ("baseline", "multiplicative")] or [
        "baseline",
        "multiplicative",
    ]
    from reverse_etl_homebrew_spark.operators.similarity import (
        build_ann_index,
        incremental_knn,
    )
    from reverse_etl_homebrew_spark.session import get_spark
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    spark = get_spark("skew-ann-probe")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(e.first()["embedding"])

    # the hot direction: a fixed unit-ish vector, perturbed per row by
    # a deterministic hash-scaled epsilon (same hyperplane signs for
    # all copies -> one bucket)
    hot = F.array(*[F.lit(1.0 + 0.001 * i) for i in range(dim)])
    eps = (F.xxhash64("vec_id") % 1000).cast("double") / 1e7
    hot_pert = F.transform(hot, lambda v: (v * (1.0 + eps)).cast("float"))

    def skewed(df):
        return df.select(
            "vec_id",
            F.when(F.col("vec_id") % 10 < 3, hot_pert)
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )

    batch = e.filter(F.col("vec_id") % 10 == 0)
    accepted = e.filter(F.col("vec_id") % 10 != 0)

    cells = {
        "clean": (batch, accepted),
        "skew30_index": (batch, skewed(accepted)),
        "skew30_both": (skewed(batch), skewed(accepted)),
    }
    print("loadavg_start", [round(x, 2) for x in os.getloadavg()])
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sg-annskew-")
    if "baseline" in arms:
        for label, (b, a) in cells.items():
            # PERSIST the index (the production shape — and what the
            # tenx fixture does): timing an unpersisted index DataFrame
            # re-runs the bucketer every rep, burying the probe-side skew
            # delta under a constant rebuild cost (r12 review finding)
            path = os.path.join(tmp, label)
            build_ann_index(a, planes=6).write.parquet(path)
            idx = spark.read.parquet(path)
            hotsize = (
                idx.groupBy("bucket").count().orderBy(F.desc("count")).first()
            )
            rows = incremental_knn(b, idx, k=3, planes=6).count()
            wall = timed(lambda: incremental_knn(b, idx, k=3, planes=6))
            print(
                f"{label}: hottest bucket {hotsize['count']} rows, "
                f"result {rows} rows, wall {wall}s"
            )
    if "multiplicative" in arms:
        run_multiplicative(spark, e, dim, tmp)
    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])


if __name__ == "__main__":
    main()
