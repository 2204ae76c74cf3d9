#!/usr/bin/env python
"""Interleaved A/B for the r14 sketch chunk buffering: the global
Misra-Gries sketch used to run one C++ value_counts + one Python
distinct-pair merge per ~10k-row Arrow batch. A = the registered
sketch, `misra_gries_candidates` at `by=()`: one C++ group_by + one
Python merge per ~256k buffered rows. B = the per-batch pre-r14
spelling verbatim. Measured through the registered consumer
`ngram-topk-sketch` (phase-2 recount identical in both arms — the
candidate sets may differ per the mergeable-summaries algebra, the
exact recount makes the result identical either way, which the
oracle pins).

Usage: python fixtures/ab_sketch_chunk.py [sf_dir]
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F, types as T


def _steal() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def b_candidates(df, col, k):
    """misra_gries_candidates pre-r14: merge per incoming batch."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from reverse_etl_homebrew_spark.operators.vectorized import _mg_merge_pairs

    item_type = df.schema[col].dataType
    arrow_item = to_arrow_type(item_type)

    def summarize(batches):
        counts: dict = {}
        for batch in batches:
            vc = pa.compute.value_counts(batch.column(0))
            _mg_merge_pairs(
                counts,
                zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()),
                k,
            )
        if counts:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(counts.keys()), type=arrow_item)], names=[col]
            )

    return (
        df.select(col)
        .filter(F.col(col).isNotNull())
        .mapInArrow(summarize, schema=T.StructType([T.StructField(col, item_type)]))
    )


def b_ngram_topk_sketch(spark, sf_dir):
    """ngram-topk-sketch with the pre-r14 per-batch sketch phase;
    phase 2 (masked exact recount + strict guard) identical to the
    registered query (char trigrams, k=50, sketch_k=255)."""
    from pyspark.sql import Window as W

    from reverse_etl_homebrew_spark.functions import text as TX
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    grams = (
        d.select(t.alias("t"))
        .filter(F.length("t") >= 3)
        .select(TX.char_array(F.col("t")).alias("ch"))
        .select(F.explode(TX.char_ngrams_from(F.col("ch"), 3)).alias("gram"))
    )
    col, k, sketch_k = "gram", 50, 255
    cands = b_candidates(grams, col, sketch_k).distinct()
    masked = (
        grams.select(col)
        .filter(F.col(col).isNotNull())
        .join(F.broadcast(cands.withColumn("__cand", F.lit(True))), [col], "left")
        .select(F.when(F.col("__cand"), F.col(col)).alias("__k"))
    )
    grouped = masked.groupBy("__k").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    item_type = grams.schema[col].dataType
    msg = "b-arm guard"
    w1 = W.partitionBy(F.lit(1))
    wrank = W.partitionBy(F.lit(1)).orderBy(
        F.col("__k").isNull().asc(), F.col("cnt").desc(), F.col("__k").asc()
    )
    ranked = (
        grouped.withColumn("__n", F.sum("cnt").over(w1))
        .withColumn(
            "__cands",
            F.count(F.when(F.col("__k").isNotNull(), F.lit(1))).over(w1),
        )
        .withColumn("__rank", F.row_number().over(wrank))
        .withColumn(
            "__kth",
            F.max(
                F.when((F.col("__rank") == k) & F.col("__k").isNotNull(), F.col("cnt"))
            ).over(w1),
        )
    )
    keep = ranked.filter(
        (F.col("__k").isNotNull() & (F.col("__rank") <= k))
        | (F.col("__k").isNull() & (F.col("__cands") == 0))
    )
    bad = (
        F.col("__k").isNull()
        | (F.col("__cands") < F.lit(k))
        | (F.col("__kth") * F.lit(sketch_k + 1) <= F.col("__n"))
    )
    return keep.select(
        F.when(bad, F.raise_error(F.lit(msg)).cast(item_type))
        .otherwise(F.col("__k"))
        .alias(col),
        "cnt",
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from reverse_etl_homebrew_spark import queries as Q
    from reverse_etl_homebrew_spark.session import get_spark

    spark = get_spark("ab-sketch-chunk")
    spark.sparkContext.setLogLevel("ERROR")

    def run(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    a_fn = lambda: Q.QUERIES["ngram-topk-sketch"](spark, sf_dir)
    b_fn = lambda: b_ngram_topk_sketch(spark, sf_dir)
    load0 = [round(x, 2) for x in os.getloadavg()]
    s0 = _steal()
    t_start = time.time()
    for _ in range(3):
        run(a_fn())
        run(b_fn())
        gc.collect()
        spark.catalog.clearCache()
    a_s, b_s = [], []
    for _ in range(5):
        a_s.append(run(a_fn()))
        b_s.append(run(b_fn()))
        gc.collect()
        spark.catalog.clearCache()
    wall = time.time() - t_start
    steal_pct = 100.0 * (_steal() - s0) / (32 * 100 * wall)
    print(
        {
            "key": "ngram-topk-sketch (sketch phase A=chunk-buffered, B=per-batch)",
            "a_current_median": round(statistics.median(a_s), 3),
            "b_pre_r14_median": round(statistics.median(b_s), 3),
            "ratio_b_over_a": round(
                statistics.median(b_s) / statistics.median(a_s), 3
            ),
            "a_samples": [round(x, 3) for x in a_s],
            "b_samples": [round(x, 3) for x in b_s],
            "loadavg_start": load0,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_pct_of_capacity": round(steal_pct, 1),
        },
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
