#!/usr/bin/env python
"""10x scaling-linearity measurement for the round-8 SCALE.md rows:
containment-dedup, containment-dedup-capped, dedup-survivorship
(VERDICT r7 #5 and the #3 done-gate).

Corpus constructions (all deterministic):

- DISJOINT 10x (linearity of the join machinery): 10 copies of
  documents, doc_id offset per copy, every word prefixed with the
  copy tag (c0_..c9_) so gram vocabularies are DISJOINT across
  copies. Posting-list length distribution is identical to 1x, there
  are 10x posting lists, so a linear postings join must scale ~10x
  bounded by wall-clock overheads.

- HOT 10x (the postings-join bound): 10 IDENTICAL copies (only
  doc_id offset). Every gram's document frequency is 10x its 1x
  value, so uncapped posting-list pair work grows ~100x per gram
  (plus the planted clone cliques emit ~45 pairs per original doc) —
  the boilerplate-flood failure mode. The capped variant with the
  same absolute df_cap used at 1x drops the flooded grams before the
  join and must stay bounded.

Method: alone on an idle host, 2 warmups discarded per cell, median
of 3, loadavg recorded. Usage:
    python fixtures/tenx_containment_survivorship.py [sf_dir]
"""
from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def replicate(d, copies: int, disjoint_vocab: bool):
    parts = []
    for c in range(copies):
        # the prefix must survive normalized_text (lowercase alnum
        # only) as part of the SAME token — 'c3the c3quick' — so gram
        # structure and df distribution are isomorphic to 1x while
        # vocabularies stay disjoint across copies. Two traps, both
        # hit and fixed: (1) an underscore separator gets normalized
        # to a space and injects a shared per-copy token into every
        # gram window — measured: it turns trigrams into hot
        # unigram-equivalents and the "disjoint" corpus into a
        # postings flood; (2) prefixing RAW text would leave
        # post-punctuation fragments ("c3don't" -> tokens c3don + t)
        # unprefixed and shared across copies — so the copy transform
        # prefixes tokens of the ALREADY-NORMALIZED text, where every
        # \\S+ run is exactly one final token.
        from reverse_etl_homebrew_spark.functions import text as TX

        part = d.select(
            (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
            (
                F.regexp_replace(
                    TX.normalized_text(F.col("text")), r"(\S+)", f"c{c}$1"
                )
                if disjoint_vocab
                else F.col("text")
            ).alias("text"),
        )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def containment_uncapped(spark, d):
    from reverse_etl_homebrew_spark.operators.dedup import _doc_grams
    from reverse_etl_homebrew_spark.queries_quality import _directed_containment

    return _directed_containment(_doc_grams(d, "doc_id", "text", 3), threshold=0.8)


def containment_capped(spark, d, df_cap: int):
    from reverse_etl_homebrew_spark.operators.dedup import _pruned_grams
    from reverse_etl_homebrew_spark.queries_quality import _directed_containment

    pruned = _pruned_grams(d, "doc_id", "text", 3, df_cap)
    return _directed_containment(pruned, threshold=0.8)


def survivorship(spark, d):
    from reverse_etl_homebrew_spark.functions import text as TX
    from reverse_etl_homebrew_spark.operators import dedup as DD
    from reverse_etl_homebrew_spark.operators.components import connected_components
    from pyspark.sql import Window as W

    pairs = DD.ngram_jaccard_pairs(d, threshold=0.5)
    comps = connected_components(pairs)
    scored = d.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))
    lab = scored.join(comps, scored["doc_id"] == comps["id"], "left").select(
        "doc_id",
        "quality",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
    )
    w = W.partitionBy("cluster").orderBy(F.desc("quality"), F.col("doc_id"))
    return lab.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).select("doc_id", "cluster", "quality")


def timed(build, reps=3, warm=2):
    # rebuild the DataFrame per rep: several operators localCheckpoint
    # internally, and re-writing ONE df object would reuse its
    # materialized checkpoint — timing only the post-checkpoint tail
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
    import reverse_etl_homebrew_spark.queries  # noqa: F401 (registry init first)
    from reverse_etl_homebrew_spark.queries_text import _corpus
    from reverse_etl_homebrew_spark.session import get_spark

    load0 = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("tenx-r8")
    d1 = _corpus(spark, sf_dir).select("doc_id", "text").localCheckpoint()
    n1 = d1.count()
    d10_disjoint = replicate(d1, 10, disjoint_vocab=True).localCheckpoint()
    d10_hot = replicate(d1, 10, disjoint_vocab=False).localCheckpoint()
    print(f"docs 1x={n1} 10x={d10_disjoint.count()}", flush=True)

    # absolute cap shared by both scales: the registered key's default
    # at this SF (max(5, 0.2% docs) = 10 at sf0.1)
    cap = max(5, int(0.002 * n1))
    out = {"sf_dir": sf_dir, "df_cap": cap, "loadavg_start": load0}

    cells = [
        ("containment-uncapped 1x", lambda: containment_uncapped(spark, d1)),
        ("containment-capped 1x", lambda: containment_capped(spark, d1, cap)),
        ("survivorship 1x", lambda: survivorship(spark, d1)),
        (
            "containment-uncapped 10x-disjoint",
            lambda: containment_uncapped(spark, d10_disjoint),
        ),
        (
            "containment-capped 10x-disjoint",
            lambda: containment_capped(spark, d10_disjoint, cap),
        ),
        (
            "containment-uncapped 10x-hot",
            lambda: containment_uncapped(spark, d10_hot),
        ),
        (
            "containment-capped 10x-hot",
            lambda: containment_capped(spark, d10_hot, cap),
        ),
        ("survivorship 10x-disjoint", lambda: survivorship(spark, d10_disjoint)),
    ]
    for label, build in cells:
        rows = build().count()
        wall = timed(build)
        out[label] = {"rows": rows, "wall_s": wall}
        print(f"{label}: rows={rows} wall={wall}s", flush=True)

    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
