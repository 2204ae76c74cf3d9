"""CONFLICTING re-delivery (r12 probe arm): the same doc_id arrives
twice with DIFFERENT content (fixtures/redelivery_probe.py --conflict).

The n-gram set-similarity keys build each id's gram set on the
DISTINCT (id, g) relation (operators/dedup._pruned_grams and the
uncapped `containment-dedup`), so a conflicting id's set is the UNION
of its versions — the oracle's ``SELECT DISTINCT id, g`` and
``decontaminate``'s algebra. They used to collapse only identical
(id, text) rows, so a gram both versions share was counted twice:
`ngram-jaccard` scored (0, 82) at 14.33 where the oracle gives 0.885.
All six gram-set keys now agree with their oracle here and are pinned
in MUST_AGREE, with every per-ROW key (spans, fingerprints, rates,
tf-idf, repetition).

What is left of the boundary is `simhash-dedup-md5`: its token set
is distinct per ROW, so a token both versions share votes twice in
the id's signature, where the oracle's DISTINCT (id, t) lets it vote
once. It is pinned in KNOWN_DIVERGENT so the class cannot silently
change. The documented resolution is UPSTREAM: one ``lastwin_dedup``
over the id (the reference's own one-row-per-natural-key semantics)
before the dedup tier, proven here to restore pair-for-pair parity.

Orders-side conflicting amounts (o_totalprice ± 0.01 twins) diverge
NOWHERE: the snapshot key-dedup and per-identity aggregations of the
r11 pass already absorb or surface them consistently.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark import queries as Q
from reverse_etl_homebrew_spark.operators import dedup as DD
from reverse_etl_homebrew_spark.sources.catalog import load_table

from test_oracle_parity import _duck, _rowset

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "fixtures"))
from redelivery_probe import build_conflicting_dir  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# The adjudicated boundary: per-id token-set semantics (union of
# versions in SQL vs per-row token sets in the engine). Pinned EXACTLY.
KNOWN_DIVERGENT = {"simhash-dedup-md5"}

# Per-row representatives that MUST stay consistent on conflicting
# input (one from each family the probe cleared).
MUST_AGREE = [
    # decontaminate LEFT the boundary (r12 review): shared_grams now
    # counts DISTINCT (id, gram) matches — dedup AFTER the benchmark
    # join, where the stream is just the hit set — which is exactly
    # the oracle's algebra and absorbs conflicting versions as the
    # union of their gram sets
    "decontaminate",
    "exact-dedup", "incremental-dedup", "doc-fingerprint",
    "dup-span-detect", "dup-span-rate", "incremental-dup-spans",
    "repetition-metrics", "dedup-rate-report", "tfidf-topterms",
    "trigram-lm-score", "bm25-topk", "lang-id",
    # orders-side conflicting amounts
    "roi-sync-pipeline", "merge-upsert", "groupby-agg",
    # late-r12 keys: the corpus composite (its base collapses exact
    # copies to DISTINCT (doc_id, text, lang) and carries lang THROUGH
    # chunking — the r12 review's fan-out finding, fixed two-sided),
    # the version-SET snapshot diff, the chunker, and the exact-twin
    # Bloom decontaminate — all per-row/per-version algebra
    "corpus-prep-pipeline", "corpus-diff", "chunk-documents",
    "decontaminate-bloom", "quantiles-twophase",
    # the gram-set keys: each id's set is the DISTINCT (id, g) union
    # of its versions, as in the oracle
    "ngram-jaccard", "fuzzy-dedup", "fuzzy-dedup-clusters",
    "dedup-survivorship", "containment-dedup", "containment-dedup-capped",
]


@pytest.fixture(scope="module")
def conflict_dir():
    return build_conflicting_dir(SF_DIR)


@pytest.fixture(scope="module")
def duck(conflict_dir):
    return _duck(conflict_dir)


def _verdict(spark, duck, name, sf_dir):
    sdf = Q.QUERIES[name](spark, sf_dir)
    s = _rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = duck.execute(Q.ORACLE[name])
    d = _rowset([c[0] for c in cur.description], cur.fetchall())
    return s == d


@pytest.mark.parametrize("name", sorted(MUST_AGREE))
def test_per_row_keys_agree_on_conflicting_input(spark, name, duck, conflict_dir):
    assert _verdict(spark, duck, name, conflict_dir), name


@pytest.mark.parametrize("name", sorted(KNOWN_DIVERGENT))
def test_boundary_membership_does_not_shrink_silently(
    spark, name, duck, conflict_dir
):
    """If a boundary key starts AGREEING on conflicting input, the
    set-semantics decision changed somewhere — re-open the policy in
    this module's docstring rather than letting the boundary drift."""
    assert not _verdict(spark, duck, name, conflict_dir), (
        f"{name} now agrees on conflicting input — boundary changed"
    )


def test_upstream_recipe_restores_parity(spark, conflict_dir):
    """The documented resolution: lastwin_dedup one content version
    per identified doc BEFORE the dedup tier (NULL-id docs pass
    through — they carry no identity to conflict on). Proven on the
    exact-Jaccard pair operator against an oracle applying the same
    deterministic pick."""
    d = load_table(spark, conflict_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    ident = d.filter(F.col("doc_id").isNotNull())
    resolved = DD.lastwin_dedup(ident, ["doc_id"], [F.col("text").asc()])
    resolved = resolved.unionByName(d.filter(F.col("doc_id").isNull()))
    got = sorted(
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in DD.ngram_jaccard_pairs(resolved, threshold=0.5).collect()
    )
    duck = _duck(conflict_dir)
    sql = Q.ORACLE["ngram-jaccard"].replace(
        "FROM documents WHERE text IS NOT NULL",
        """FROM (SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY text) AS __v
             FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
           ) WHERE __v = 1
           UNION ALL
           SELECT *, 1 FROM documents WHERE text IS NOT NULL AND doc_id IS NULL)
         WHERE text IS NOT NULL""",
    )
    exact = sorted((r[0], r[1], r[2]) for r in duck.execute(sql).fetchall())
    assert got == exact and len(got) > 0
