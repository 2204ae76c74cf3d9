#!/usr/bin/env python
"""Scaling honesty for `corpus-refresh-pipeline` (r13): what happens
to the composite's wall when the CORPUS grows 10x while the DELTA
stays fixed?

The production claim is per-refresh cost O(delta): the fingerprint
set, span index, ANN index, and rollup state are PERSISTED bucketed
tables, so only the probe stages run nightly — and each probe stage's
delta-proportionality is already measured by its own fixture
(tenx_incremental_dup_spans, tenx_incremental_knn, tenx_ivm_merge).
This fixture measures the LOCAL composite, which rebuilds all four
artifacts inline per run — so its wall is EXPECTED to grow with the
corpus (the builds are corpus-proportional by design), and the
honest number to extract is the ratio's decomposition, not a flat
curve: the 10x cell's extra wall is the artifact-build cost a real
deployment pays ONCE at bootstrap (then amortizes via maintenance
appends), never per refresh.

Construction: corpus copies prefix-rewrite every token (the
tenx_dup_spans trick — copies share no fingerprints/windows), ids
shift per copy; embeddings replicate under the same shifted ids with
a deterministic per-copy rotation-free scale (bucket-preserving, so
index bucket counts scale ~10x). The DELTA is the same fixed
perturbation of copy 0 in both cells (drop %13, revise %7, re-add
%11) — candidates and admissions are IDENTICAL across cells, so any
wall growth is corpus-side.

r14 (VERDICT r13 #2) — the MEASURED O(delta) claim: alongside the
local inline cell, two probe-side cells run `corpus_refresh_probe`
against the four accepted-corpus artifacts BOOTSTRAPPED ONCE
(untimed) to bucketed scratch-warehouse tables — fingerprint index
bucketed on fp, span index on win, ANN index on bucket, rollup state
parquet (the accept-time maintenance cost a real deployment pays at
ingest, never per refresh):

- `probe` cell: diff computed in-plan from the two snapshots (pinned,
  as `corpus_refresh_report` pins it) — keeps the one
  corpus-proportional term snapshot CDC inherently pays (the narrow
  md5 digest scan of both snapshots);
- `cdc` cell: the decision table and the day's DELTA rows ALSO
  persisted (the reference's watermark shape, main.py:537-538 — the
  delta arrives identified), so the timed work is admission probes,
  the retired rows' attribution read of the old corpus, and the stats
  merge.

Done-when (the tenx_incremental_knn 1.20x precedent, lifted to the
whole composite): the probe cell's growth over the cdc cell
decomposes as the digest scan.

Usage: python fixtures/tenx_refresh.py [sf_dir]
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def doc_corpus(d, copies: int):
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
                "lang",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def vec_corpus(e, copies: int):
    parts = []
    for c in range(copies):
        scale = 1.0 + 0.01 * c  # scalar multiple: bucket-preserving
        parts.append(
            e.select(
                (F.col("vec_id") + F.lit(c * 1_000_000)).alias("vec_id"),
                F.transform(
                    F.col("embedding"), lambda v: (v * scale).cast("float")
                ).alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def delta_of(old):
    revised = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    base = old.filter(F.col("doc_id") < 1_000_000)  # copy 0 only
    return (
        old.filter(F.col("doc_id") >= 1_000_000)  # other copies unchanged
        .unionByName(
            base.filter(F.col("doc_id") % 13 != 0).select(
                "doc_id", revised.alias("text"), "lang"
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 100_000_000).alias("doc_id"), "text", "lang"
            )
        )
    )


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
    import tempfile
    import uuid

    from reverse_etl_homebrew_spark.functions import text as TX
    from reverse_etl_homebrew_spark.operators.dedup import (
        build_fingerprint_index,
        build_span_index,
    )
    from reverse_etl_homebrew_spark.operators.merge import (
        rollup_partial,
        snapshot_diff,
    )
    from reverse_etl_homebrew_spark.operators.refresh import (
        corpus_refresh_probe,
        corpus_refresh_report,
    )
    from reverse_etl_homebrew_spark.operators.similarity import build_ann_index
    from reverse_etl_homebrew_spark.session import get_spark, pin
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    spark = get_spark("tenx-refresh")
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    e = load_table(spark, sf_dir, "embeddings")
    print("loadavg_start", [round(x, 2) for x in os.getloadavg()])
    for copies in (1, 10):
        tmp = tempfile.mkdtemp(prefix=f"sg-refresh-c{copies}-")
        sfx = uuid.uuid4().hex[:6]
        # Materialize the constructed snapshots ONCE per cell: in
        # production old/new are stored tables, and the per-token
        # prefix-rewrite that builds the synthetic corpus must not be
        # re-paid inside every timed scan (it is corpus-proportional
        # compute the operator never owns).
        for name, df in (
            ("old", doc_corpus(d, copies)),
            ("vecs", vec_corpus(e, copies)),
        ):
            df.write.parquet(os.path.join(tmp, name))
        old = spark.read.parquet(os.path.join(tmp, "old"))
        vecs = spark.read.parquet(os.path.join(tmp, "vecs"))
        delta_of(old).write.parquet(os.path.join(tmp, "new"))
        new = spark.read.parquet(os.path.join(tmp, "new"))

        # ---- cell 1: local inline form (bootstrap-INCLUSIVE — the
        # r13 reading; artifact builds are corpus-proportional)
        wall_local = timed(lambda: corpus_refresh_report(old, new, vecs))

        # ---- bootstrap the four artifacts ONCE, untimed (the
        # accept-time maintenance cost, never paid per refresh)
        diff = snapshot_diff(
            old.select("doc_id", "text"),
            new.select("doc_id", "text"),
            "doc_id",
            F.md5("text"),
        )
        retired = diff.where(
            F.col("status").isin("removed", "changed")
        ).select("doc_id")
        surviving = old.join(retired, ["doc_id"], "left_anti")
        acc_vecs = vecs.join(
            surviving.select(F.col("doc_id").alias("vec_id")),
            ["vec_id"],
            "left_semi",
        )
        tok = TX.token_count(F.col("text"))
        state = rollup_partial(
            old.select("lang", tok.alias("toks"), "doc_id"),
            "lang",
            "toks",
            "doc_id",
        )
        tables = {}
        for name, art, key in (
            ("fp", build_fingerprint_index(
                surviving.where(F.col("text").isNotNull())), "fp"),
            ("win", build_span_index(surviving), "win"),
            ("ann", build_ann_index(acc_vecs, planes=6), "bucket"),
        ):
            tb = f"refresh_{name}_c{copies}_{sfx}"
            (
                art.write.bucketBy(16, key)
                .sortBy(key)
                .option("path", os.path.join(tmp, tb))
                .saveAsTable(tb)
            )
            tables[name] = tb
        state_p = os.path.join(tmp, "state")
        state.write.parquet(state_p)
        diff_p = os.path.join(tmp, "diff")
        diff.write.parquet(diff_p)
        # the day's delta as a watermark read would deliver it
        # (reference main.py:537-538) — written at ingest time in
        # production, never per refresh
        reprocess = diff.where(
            F.col("status").isin("added", "changed")
        ).select("doc_id")
        delta_p = os.path.join(tmp, "delta")
        new.join(reprocess, ["doc_id"], "left_semi").write.parquet(delta_p)

        # ---- cell 2: probe side, snapshot-diff form (diff in-plan —
        # keeps the corpus-proportional narrow digest scan)
        def probe(use_cdc: bool):
            in_plan_diff = lambda: pin(
                snapshot_diff(
                    old.select("doc_id", "text"),
                    new.select("doc_id", "text"),
                    "doc_id",
                    F.md5("text"),
                )
            )
            return corpus_refresh_probe(
                old,
                spark.read.parquet(delta_p) if use_cdc else new,
                vecs,
                spark.table(tables["fp"]),
                spark.table(tables["win"]),
                spark.table(tables["ann"]),
                spark.read.parquet(state_p),
                spark.read.parquet(diff_p) if use_cdc else in_plan_diff(),
            )

        wall_probe = timed(lambda: probe(False))
        # ---- cell 3: probe side, CDC-fed (decision table + delta
        # persisted)
        wall_cdc = timed(lambda: probe(True))

        rep = corpus_refresh_report(old, new, vecs)
        tot = rep.agg(
            F.sum("n_candidates"), F.sum("n_admitted"), F.sum("n_docs_total")
        ).first()
        ptot = probe(True).agg(
            F.sum("n_candidates"), F.sum("n_admitted"), F.sum("n_docs_total")
        ).first()
        assert tuple(tot) == tuple(ptot), (tot, ptot)  # same operator
        print(
            f"copies={copies}: local {wall_local}s, probe {wall_probe}s, "
            f"cdc {wall_cdc}s | candidates {tot[0]}, admitted {tot[1]}, "
            f"corpus after {tot[2]}"
        )
        for tb in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {tb}")
    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])


if __name__ == "__main__":
    main()
