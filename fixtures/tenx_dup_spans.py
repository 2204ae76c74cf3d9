#!/usr/bin/env python
"""10x scaling-linearity measurement for the dup-span SCALE.md rows:
`dup-span-detect` / `dup-span-rate` claim to be linear in TOTAL TOKENS
— one window explode + window-key shuffles whose per-key frequencies
are data properties, not scale properties. Wall must track rows when
the corpus grows 10x with its duplication STRUCTURE preserved.

Corpus construction (deterministic, from the sf documents table):

- every copy c rewrites each token with an `x{c}` prefix, so copies
  share NO windows: 10x rows => ~10x distinct windows, while every
  window's occurrence count (the join/groupBy fan-in) stays EXACTLY
  what it was at 1x. A super-linear implementation (frequency-
  dependent join blowup, vocabulary-shaped exchange) shows here; a
  linear one reads ~1-2x wall per 10x data after fixed overheads.
- the 1x cell gets the same rewrite (prefix x0) so both cells pay the
  identical map-side cost and the ratio isolates the operator.

Method: alone on an idle host, 2 warmups discarded per cell, median
of 3, loadavg recorded. Usage:
    python fixtures/tenx_dup_spans.py [sf_dir]
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def corpus(d, copies: int):
    from reverse_etl_homebrew_spark.functions import text as TX

    parts = []
    for c in range(copies):
        parts.append(
            d.select(
                (F.col("doc_id") + F.lit(c * 1_000_000)).alias("doc_id"),
                F.array_join(
                    F.transform(
                        TX.tokens(F.col("text")),
                        lambda t: F.concat(F.lit(f"x{c}"), t),
                    ),
                    " ",
                ).alias("text"),
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
    from reverse_etl_homebrew_spark.operators.dedup import (
        dup_span_rate,
        duplicate_spans,
        token_span_windows,
    )
    from reverse_etl_homebrew_spark.session import get_spark
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    spark = get_spark("tenx-dup-spans")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    print("loadavg_start", [round(x, 2) for x in os.getloadavg()])
    results = {}
    for copies in (1, 10):
        base = corpus(d, copies)
        n_docs = base.count()
        wins = token_span_windows(base)
        n_wins = wins.count()
        det = duplicate_spans(base)
        det_rows = det.count()
        # per-window fan-in must be scale-INDEPENDENT by construction
        max_spans = det.agg(F.max("n_spans")).first()[0]
        w_det = timed(lambda: duplicate_spans(corpus(d, copies)))
        w_rate = timed(lambda: dup_span_rate(corpus(d, copies)))
        results[copies] = (w_det, w_rate)
        print(
            f"copies={copies} docs={n_docs} windows={n_wins} "
            f"dup_windows={det_rows} max_span_count={max_spans} "
            f"detect={w_det}s rate={w_rate}s"
        )
    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])
    print(
        f"scaling: detect {results[10][0] / results[1][0]:.2f}x, "
        f"rate {results[10][1] / results[1][1]:.2f}x wall at 10x rows "
        f"with per-window counts flat"
    )


if __name__ == "__main__":
    main()
