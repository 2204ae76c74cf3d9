#!/usr/bin/env python
"""10x scaling-linearity measurement for the heavy-hitters-by-group
SCALE.md row (VERDICT r9 brief #3): the per-group two-phase
Misra-Gries + exact-recount operator claims its shuffle carries
per-group CANDIDATES (<= partitions x groups x sketch_k), never any
group's vocabulary — so wall-clock must track DATA volume even when
every group's DISTINCT-item space grows 10x alongside it.

Corpus construction (deterministic, from the sf events table; the
grouped counterpart of fixtures/tenx_heavy_hitters.py):

- groups: 5 stable groups g0..g4 (event_id % 5), identical in both
  cells so the GROUP count never changes — only rows and per-group
  vocabulary scale.
- 1x: within each group, 2/3 of rows on 7 shared hot items, the rest
  across ~10k cold items (event_id % 9973).
- 10x: ten copies; the 7 hot items stay GLOBAL per group (their
  per-group counts grow 10x, so the same k=5 head stays provably
  exact at the same sketch_k), while every copy's cold items carry a
  copy prefix (c0_..c9_) — 10x rows AND ~10x distinct items PER
  GROUP. A vocabulary-shuffling implementation (plain groupBy over
  (group, item)) pays the 10x item space in its exchange; the
  grouped sketch must pay only ~data, with a candidate set that does
  not grow.

Method: alone on an idle host, 2 warmups discarded per cell, median
of 3, loadavg recorded. The exactness guard always runs, so the run
also proves both cells stay inside the per-group provable-exact
regime. Usage:
    python fixtures/tenx_heavy_hitters_by_group.py [sf_dir]
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

K = 5
SKETCH_K = 64


def grouped_stream(ev, copies: int):
    parts = []
    for c in range(copies):
        pfx = f"c{c}_" if copies > 1 else ""
        parts.append(
            ev.select(
                F.concat(
                    F.lit("g"), (F.col("event_id") % 5).cast("string")
                ).alias("grp"),
                F.when(
                    F.col("event_id") % 3 != 0,
                    F.concat(
                        F.lit("item_"), (F.col("event_id") % 7).cast("string")
                    ),
                )
                .otherwise(
                    F.concat(
                        F.lit(f"{pfx}item_"),
                        (F.col("event_id") % 9973).cast("string"),
                    )
                )
                .alias("item"),
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
    import reverse_etl_homebrew_spark.queries  # noqa: F401 (registry init)
    from reverse_etl_homebrew_spark.operators.vectorized import (
        misra_gries_candidates,
        topk_frequent_sketch,
    )
    from reverse_etl_homebrew_spark.session import get_spark
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    spark = get_spark("tenx-heavy-hitters-by-group")
    ev = load_table(spark, sf_dir, "events")

    print("loadavg_start", [round(x, 2) for x in os.getloadavg()])
    results = {}
    for copies in (1, 10):
        df = grouped_stream(ev, copies)
        n_rows = df.count()
        n_pairs = df.distinct().count()
        cands = (
            misra_gries_candidates(df, "item", SKETCH_K, by=("grp",))
            .distinct()
            .count()
        )
        out = topk_frequent_sketch(df, "item", k=K, sketch_k=SKETCH_K, by=("grp",))
        out_rows = out.count()  # the guard proves the exact regime
        wall = timed(
            lambda: topk_frequent_sketch(
                grouped_stream(ev, copies), "item",
                k=K, sketch_k=SKETCH_K, by=("grp",),
            )
        )
        results[copies] = wall
        print(
            f"copies={copies} rows={n_rows} distinct_pairs={n_pairs} "
            f"candidate_pairs={cands} out_rows={out_rows} wall={wall}s"
        )
    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])
    print(
        f"scaling: {results[10] / results[1]:.2f}x wall at 10x rows + "
        "~10x per-group vocabulary"
    )


if __name__ == "__main__":
    main()
