#!/usr/bin/env python
"""Scaling measurement for the `incremental-knn` SCALE.md row, which
claims per-ingest cost O(batch × probes), independent of the accepted
corpus' size (the ANN index is a persisted table the probe join reads
in place when bucketed on the bucket key).

Two dimensions, measured separately against a PERSISTED index (the
production shape — the index is maintained at accept time, never
derived per probe):

1. BATCH 1x -> 10x with the index fixed: wall must track batch rows
   (bucketing, probe explode, and the ranking window are all
   batch-sized).
2. INDEX 1x -> 10x with the batch fixed: wall growth must be bounded
   by the index SCAN plus the extra in-bucket candidates (10x corpus
   at FIXED planes means ~10x rows per bucket — a bucket space sized
   to the corpus would widen planes instead; here planes stay fixed so
   the oracle algebra is unchanged, making this an upper bound on
   the bucketed-layout cost).

Corpus construction: copies shift vec_id into disjoint ranges and
permute the embedding by a per-copy sign flip on one dimension —
cheap, deterministic, and it keeps copies out of each other's
neighborhoods without changing norm geometry.

Method: alone on an idle host, 2 warmups discarded per cell, median
of 3, loadavg recorded. Usage:
    python fixtures/tenx_incremental_knn.py [sf_dir]
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def corpus(e, copies: int):
    parts = []
    for c in range(copies):
        flip = F.transform(
            F.col("embedding"),
            lambda v, i: F.when(
                i == c % 8, v * F.lit(float(1 - 2 * (c % 2)))
            ).otherwise(v * F.lit(1.0 + c * 0.01)),
        )
        parts.append(
            e.select(
                (F.col("vec_id") + F.lit(c * 10_000_000)).alias("vec_id"),
                flip.cast("array<float>").alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from reverse_etl_homebrew_spark.operators.similarity import (
        build_ann_index,
        incremental_knn,
    )
    from reverse_etl_homebrew_spark.session import get_spark
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    spark = get_spark("tenx-incr-knn")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="sg-annidx-")

    def split(c):
        base = corpus(e, c)
        return (
            base.filter(F.col("vec_id") % 10 == 0),
            base.filter(F.col("vec_id") % 10 != 0),
        )

    # persist the 1x and 10x indexes once (maintenance cost, paid at
    # accept time in production — NOT per probe)
    idx_paths = {}
    for c in (1, 10):
        _, accepted = split(c)
        path = os.path.join(tmp, f"idx{c}")
        build_ann_index(accepted, planes=6).write.parquet(path)
        idx_paths[c] = path

    print("loadavg_start", [round(x, 2) for x in os.getloadavg()])

    def probe(batch_c, idx_c):
        batch, _ = split(batch_c)
        idx = spark.read.parquet(idx_paths[idx_c])
        return incremental_knn(batch, idx, k=3, planes=6)

    cells = {}
    for label, (bc, ic) in {
        "batch1x_idx1x": (1, 1),
        "batch10x_idx1x": (10, 1),
        "batch1x_idx10x": (1, 10),
        "batch10x_idx10x": (10, 10),
    }.items():
        rows = probe(bc, ic).count()
        wall = timed(lambda: probe(bc, ic))
        cells[label] = wall
        print(f"{label}: rows={rows} wall={wall}s")

    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])
    print(
        f"batch-scaling (idx fixed): "
        f"{cells['batch10x_idx1x'] / cells['batch1x_idx1x']:.2f}x wall at 10x batch; "
        f"index-sensitivity (batch fixed, FIXED planes): "
        f"{cells['batch1x_idx10x'] / cells['batch1x_idx1x']:.2f}x wall at 10x index"
    )


if __name__ == "__main__":
    main()
