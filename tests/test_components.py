"""Connected-components / cluster-dedup tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators.components import (
    connected_components,
    dedup_survivors,
)
from reverse_etl_homebrew_spark.operators import dedup as DD
from reverse_etl_homebrew_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("master", [None, "local-cluster"])
def test_chain_and_triangle_merge(spark, master, request):
    """Same answers under the live session's pin (localCheckpoint) AND
    under the cluster branch's reliable checkpoints — the cluster path
    must not be dead code."""
    if master is not None:
        ckpt = request.getfixturevalue("cluster_pin")
    # chain 1-2-3 plus triangle 10-11-12 plus isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    labels = connected_components(pairs)
    comps = {r["id"]: r["component"] for r in labels.collect()}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == comps[11] == comps[12] == 10
    assert comps[20] == comps[21] == 20
    if master is not None:
        assert list(ckpt.rglob("part-*"))


def test_non_convergence_raises(spark):
    """A path graph longer than the round budget cannot converge and
    fails loudly instead of returning partial labels."""
    chain = [(i, i + 1) for i in range(24)]
    pairs = spark.createDataFrame(chain, "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs)


def test_dedup_survivors_keeps_one_per_cluster(spark):
    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a_id long, b_id long"
    )
    out = {r["doc_id"] for r in dedup_survivors(docs, pairs).collect()}
    assert 1 in out and 2 not in out and 3 not in out
    assert 5 in out and 6 not in out
    # untouched rows survive
    assert {0, 4, 7, 29} <= out
    assert len(out) == 30 - 3


def test_end_to_end_ngram_cluster_dedup(spark):
    """Full pipeline: corpus with planted duplicates → exact Jaccard
    pairs → clusters → survivors."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 40
    )
    d0 = docs.filter(F.col("doc_id") == 0).select(F.lit(1000).alias("doc_id"), "text")
    d0b = docs.filter(F.col("doc_id") == 0).select(F.lit(1001).alias("doc_id"), "text")
    corpus = docs.unionByName(d0).unionByName(d0b)
    pairs = DD.ngram_jaccard_pairs(corpus, threshold=0.9)
    survivors = {r["doc_id"] for r in dedup_survivors(corpus, pairs).collect()}
    assert 0 in survivors and 1000 not in survivors and 1001 not in survivors
