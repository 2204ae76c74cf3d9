"""Structural invariants for the sketch-based dedup/similarity
operators (no cross-engine oracle exists for these — see
queries_text.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.functions import text as TX
from reverse_etl_homebrew_spark.operators import dedup as DD, similarity as SIM
from reverse_etl_homebrew_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_incremental_dedup_edges(spark):
    """Empty batch → empty out; empty seen corpus → pure within-batch
    dedup with lowest-id survivor; exact content match required."""
    rows = [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    empty = batch.limit(0)
    out = sorted(
        r["doc_id"] for r in DD.incremental_dedup(batch, empty).collect()
    )
    assert out == [1, 3]  # 2 loses within-batch to 1; 3 unique
    assert DD.incremental_dedup(empty, batch).count() == 0
    # seen kills exact matches only — near-misses survive
    seen = spark.createDataFrame([(9, "alpha beta")], "doc_id long, text string")
    out2 = sorted(
        r["doc_id"] for r in DD.incremental_dedup(batch, seen).collect()
    )
    assert out2 == [3]


def test_contamination_min_grams_threshold(spark):
    """min_grams raises the overlap bar: one shared 3-gram passes
    min_grams=1 but not min_grams=2."""
    train = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "zz yy xx ww")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(10, "aa bb cc qq rr ss")], "doc_id long, text string"
    )
    hits1 = {r["doc_id"] for r in DD.contamination_flags(train, bench, n=3, min_grams=1).collect()}
    hits2 = {r["doc_id"] for r in DD.contamination_flags(train, bench, n=3, min_grams=2).collect()}
    assert hits1 == {1} and hits2 == set()


def test_simhash_md5_identical_docs_zero_hamming(spark, docs):
    """Exact duplicates must pair at hamming 0 in the portable md5
    variant (the oracle checks the full corpus; this pins the planted
    edge in isolation)."""
    d0 = docs.filter(F.col("doc_id") == 0).select(
        F.lit(999999).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").limit(50).unionByName(d0)
    pairs = DD.simhash_pairs_md5(corpus).collect()
    hit = [p for p in pairs if p["a_id"] == 0 and p["b_id"] == 999999]
    assert hit and hit[0]["hamming"] == 0
    assert all(p["a_id"] < p["b_id"] for p in pairs)
    # pair set is deduped across shared blocks
    assert len({(p["a_id"], p["b_id"]) for p in pairs}) == len(pairs)


def test_ngram_jaccard_pin_policies_agree(spark, docs, request):
    """The cluster branch of ``session.pin`` (a reliable checkpoint of
    the gram relation the gram-overlap join pins) produces the same
    pairs as the local localCheckpoint branch."""
    corpus = docs.select("doc_id", "text").filter(F.col("doc_id") < 300)

    def pairs():
        return sorted(
            map(tuple, DD.ngram_jaccard_pairs(corpus, threshold=0.5).collect())
        )

    local = pairs()
    ckpt = request.getfixturevalue("cluster_pin")
    assert pairs() == local
    assert local and list(ckpt.rglob("part-*"))


def test_simhash_deterministic_across_fresh_plans(spark, sf_dir):
    def run():
        c = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 50)
        )
        return sorted(map(tuple, DD.simhash_pairs(c).collect()))

    runs = [run() for _ in range(3)]
    assert runs[0] == runs[1] == runs[2]


def test_simhash_identical_docs_zero_hamming(spark, docs):
    d0 = docs.filter(F.col("doc_id") == 0).select(
        F.lit(999999).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").limit(30).unionByName(d0)
    pairs = DD.simhash_pairs(corpus).collect()
    hit = [p for p in pairs if p["a_id"] == 0 and p["b_id"] == 999999]
    assert hit and hit[0]["hamming"] == 0


def test_simhash_fingerprint_votes_union_of_versions(spark):
    """A doc_id delivered twice with different text votes each shingle
    of the UNION of its versions once: a shingle both versions share
    must not vote twice. Reference: the per-bit majority over the
    distinct union's xxhash64 values, computed here in Python."""
    a, b = "the quick brown fox jumps over", "the quick brown cat sleeps on"
    df = spark.createDataFrame([(1, a), (1, b)], "doc_id long, text string")
    got = DD.simhash_fingerprints(df).collect()[0]["sh"]
    union = (
        spark.createDataFrame([(a,), (b,)], "text string")
        .select(
            F.explode(
                TX.char_ngrams_from(TX.char_array(TX.normalized_text(F.col("text"))), 4)
            ).alias("g")
        )
        .distinct()
        .select(F.xxhash64("g").alias("h"))
    )
    hs = [r["h"] for r in union.collect()]
    want = sum(
        1 << bit for bit in range(64) if 2 * sum((h >> bit) & 1 for h in hs) >= len(hs)
    )
    if want >= 1 << 63:  # as a signed long
        want -= 1 << 64
    assert got == want


def test_ngram_jaccard_exact_dup_scores_one(spark, docs):
    d0 = docs.filter(F.col("doc_id") == 0).select(
        F.lit(999999).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").limit(30).unionByName(d0)
    pairs = DD.ngram_jaccard_pairs(corpus, threshold=0.99).collect()
    hit = [p for p in pairs if p["a_id"] == 0 and p["b_id"] == 999999]
    assert hit and abs(hit[0]["jaccard"] - 1.0) < 1e-12
    # no self-pairs, ordered ids
    assert all(p["a_id"] < p["b_id"] for p in pairs)


def test_embedding_near_dup_self_duplicate(spark, emb):
    v0 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(999999).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(v0)
    pairs = DD.embedding_near_dup_pairs(corpus, threshold=0.999).collect()
    assert any(p["a_id"] == 0 and p["b_id"] == 999999 for p in pairs)


def test_topk_lsh_recall_vs_brute(spark, emb):
    qrow = emb.filter(F.col("vec_id") == 0).first()
    query = [float(x) for x in qrow["embedding"]]
    brute = [r["vec_id"] for r in SIM.topk_brute(emb, query, k=10).collect()]
    approx = [r["vec_id"] for r in SIM.topk_lsh(emb, query, k=10, planes=6).collect()]
    # the query vector itself must always be retrieved, and recall
    # should be non-trivial
    assert 0 in approx
    assert len(set(brute) & set(approx)) >= 3


def test_content_dedup_removes_planted_dup(spark, docs):
    d0 = docs.filter(F.col("doc_id") == 0).select(
        F.lit(999999).alias("doc_id"), "text", "lang", "source"
    )
    corpus = docs.select("doc_id", "text", "lang", "source").unionByName(d0)
    out = DD.content_dedup(corpus, "text")
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 0 in ids and 999999 not in ids


def test_embedding_near_dup_emits_each_pair_once(spark, emb):
    """The probe join's correctness argument for having no dedup pass:
    a vector's probe values are pairwise-distinct, so an ordered pair
    can collide on exactly one bucket value — verified here at the
    exhaustive probe_radius=2 where duplicates would be likeliest."""
    pairs = DD.embedding_near_dup_pairs(
        emb, threshold=-1.0, probe_radius=2
    ).collect()
    keys = [(r["a_id"], r["b_id"]) for r in pairs]
    assert len(keys) == len(set(keys)), "duplicate candidate pairs emitted"
    assert all(a < b for a, b in keys)


def test_embedding_near_dup_auto_planes(spark, emb):
    """planes=None sizes the bucket space from the corpus (4..16) and
    still finds the self-duplicate planted pairs."""
    base = emb.select("vec_id", "embedding")
    doubled = base.unionByName(
        base.selectExpr("vec_id + 100000 AS vec_id", "embedding")
    )
    pairs = DD.embedding_near_dup_pairs(
        doubled, threshold=0.999, planes=None, probe_radius=2
    ).collect()
    found = {(r["a_id"], r["b_id"]) for r in pairs}
    expected = {
        (r["vec_id"], r["vec_id"] + 100000) for r in emb.select("vec_id").collect()
    }
    assert expected <= found
