#!/usr/bin/env python
"""Scaling measurement for the late-r12 corpus ops:

- `chunk-documents`: pure map-side expansion — wall must track corpus
  size ~linearly (it is output-volume-bound; there is nothing to
  shuffle).
- `corpus-diff`: two narrow (key, fingerprint) projections into one
  full-outer equi-join — linear in rows, never payload-bound.
- `decontaminate` vs `decontaminate-bloom`: same exact output; the A/B
  reports what the two broadcast position semi-joins cost/save locally
  AND the prefilter's measured selectivity (candidate grams surviving
  / train grams), the number that becomes the 100 TB win when the
  benchmark outgrows the broadcast threshold and the exact join would
  otherwise shuffle the full train gram stream.

Same copy-construction trick as fixtures/tenx_dup_spans.py: each copy
prefix-rewrites every token, so copies share no grams/fingerprints and
10x data means ~10x distinct keys with per-key frequencies preserved.

Method: alone on an idle host, 2 warmups discarded per cell, median of
3, loadavg recorded. Usage:
    python fixtures/tenx_corpus_ops.py [sf_dir]
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
    from reverse_etl_homebrew_spark.operators.chunking import chunk_documents
    from reverse_etl_homebrew_spark.operators.dedup import (
        _doc_grams,
        bloom_candidate_grams,
        contamination_flags,
        contamination_flags_prefiltered,
    )
    from reverse_etl_homebrew_spark.operators.merge import snapshot_diff
    from reverse_etl_homebrew_spark.session import get_spark
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    spark = get_spark("tenx-corpus-ops")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    print("loadavg_start", [round(x, 2) for x in os.getloadavg()])

    def diff_probe(c):
        docs = corpus(d, c).filter(F.col("doc_id").isNotNull())
        revised = F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text"))
        new = (
            docs.filter(F.col("doc_id") % 13 != 0)
            .select("doc_id", revised.alias("text"))
            .unionByName(
                docs.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
                )
            )
        )
        return snapshot_diff(docs, new, "doc_id", F.md5("text"))

    def decon_split(c):
        base = corpus(d, c).filter(F.col("text").isNotNull())
        return (
            base.filter(F.col("doc_id") % 10 != 0),
            base.filter(F.col("doc_id") % 10 == 0),
        )

    def prep_probe(c):
        # the corpus-prep-pipeline composite over the scaled corpus —
        # same chain as the registered key (quality gate → exact dedup
        # → decontaminate → chunk → per-shard stats), lang constant
        # here because corpus() projects it away
        from reverse_etl_homebrew_spark.functions import text as TXf

        dd = corpus(d, c).filter(F.col("text").isNotNull())
        base = (
            dd.filter(TXf.token_count(F.col("text")) >= 5)
            .select("doc_id", "text")
            .dropDuplicates(["doc_id", "text"])
        )
        fp = base.withColumn("__fp", F.md5("text"))
        surv = fp.join(
            fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")),
            ["doc_id", "__fp"],
        ).drop("__fp")
        train = surv.filter(F.col("doc_id") % 10 != 0)
        bench = dd.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
        contaminated = contamination_flags(train, bench, n=8).select("doc_id")
        clean = train.join(contaminated, ["doc_id"], "left_anti")
        chunks = chunk_documents(clean, "text", "doc_id", size=64, stride=48)
        return chunks.groupBy(
            (F.col("doc_id") % 8).cast("long").alias("shard")
        ).agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("n_tokens"),
        )

    probes = {
        "chunk": lambda c: chunk_documents(corpus(d, c), size=64, stride=48),
        "diff": diff_probe,
        "decon-exact": lambda c: contamination_flags(*decon_split(c), n=8),
        "decon-bloom": lambda c: contamination_flags_prefiltered(
            *decon_split(c), n=8
        ),
        "prep-composite": prep_probe,
    }
    cells = {}
    for name, probe in probes.items():
        for c in (1, 10):
            rows = probe(c).count()
            wall = timed(lambda: probe(c))
            cells[(name, c)] = wall
            print(f"{name} {c}x: rows={rows} wall={wall}s")
        print(f"{name}: 10x ratio = {cells[(name, 10)] / cells[(name, 1)]:.2f}x")

    # prefilter selectivity at both scales: candidates surviving the
    # two position lanes / total train grams (the map-side kill rate),
    # measured through the OPERATOR'S OWN prefilter stage so fixture
    # and production can never drift apart
    for c in (1, 10):
        train, bench = decon_split(c)
        tg = _doc_grams(train, "doc_id", "text", 8)
        bg = _doc_grams(bench, "doc_id", "text", 8).select("g").distinct()
        total = tg.count()
        surviving = bloom_candidate_grams(tg, bg).count()
        print(
            f"bloom selectivity {c}x: {surviving}/{total} train grams survive "
            f"({100.0 * surviving / max(total, 1):.2f}%)"
        )

    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])


if __name__ == "__main__":
    main()
