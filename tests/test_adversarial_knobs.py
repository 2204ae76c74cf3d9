"""Pin the MEASURED adversarial-text knob settings (r10 probe,
SCALE.md: the five non-OK keys were documented operator boundaries,
not silent divergences) so the boundaries can't silently widen:

- The Misra-Gries sketch keys' in-plan exactness guard must stay LOUD
  on the adversarial corpus at the default ``sketch_k=255`` (the
  adversarial grams flatten the trigram distribution past the
  pigeonhole bound), and ``sketch_k=1023`` must return the EXACT
  top-k again — both measured on the probe corpus in r10.

The sketch comparisons are Spark-vs-Spark (sketch path vs exact path
on the SAME session and corpus) — the exactness claim, isolated from
any oracle dialect concerns.

The fuzzy-dedup keys (``fuzzy-dedup``, ``fuzzy-dedup-clusters``,
``dedup-survivorship``) once ran a 4x8 MinHash banding that missed
true pairs on these corpora (snippets degrade planted clones into the
0.6-0.8 jaccard gray zone below the S-curve midpoint, 0.84) and on a
short near-duplicate pair at Jaccard 8/9. They now run the exact
gram-overlap join; the recall test checks each key against its DuckDB
oracle on all three corpora.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import Window as W, functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "fixtures"))

from adversarial_text_probe import TABLES, build_adversarial_dir
from test_oracle_parity import _duck, _rowset

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def adv_dir():
    return build_adversarial_dir(SF_DIR)


def _grams(spark, adv_dir):
    """The exact gram stream of ngram-topk-sketch (queries_corpus)."""
    from reverse_etl_homebrew_spark.functions import text as TX
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    d = load_table(spark, adv_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    return (
        d.select(t.alias("t"))
        .filter(F.length("t") >= 3)
        .select(TX.char_array(F.col("t")).alias("ch"))
        .select(F.explode(TX.char_ngrams_from(F.col("ch"), 3)).alias("gram"))
    )


def _lang_grams(spark, adv_dir):
    from reverse_etl_homebrew_spark.functions import text as TX
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    d = load_table(spark, adv_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    return (
        d.select("lang", t.alias("t"))
        .filter(F.length("t") >= 3)
        .select("lang", TX.char_array(F.col("t")).alias("ch"))
        .select("lang", F.explode(TX.char_ngrams_from(F.col("ch"), 3)).alias("gram"))
    )


def test_sketch_default_k_raises_loud_on_adversarial_corpus(spark, adv_dir):
    """sketch_k=255 must RAISE the provable-regime guard here — never
    silently truncate (the exact-or-loud contract)."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    with pytest.raises(Exception):
        topk_frequent_sketch(
            _grams(spark, adv_dir), "gram", k=50, sketch_k=255
        ).collect()


def test_sketch_k_1023_restores_exact_topk(spark, adv_dir):
    """The measured knob: sketch_k=1023 returns the exact top-50."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    grams = _grams(spark, adv_dir)
    exact = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(50)
        .collect()
    )
    got = (
        topk_frequent_sketch(grams, "gram", k=50, sketch_k=1023)
        .select("gram", "cnt")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]


def test_grouped_sketch_k_1023_restores_exact_topk(spark, adv_dir):
    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    lg = _lang_grams(spark, adv_dir)
    w = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
    exact = (
        lg.groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("lang", "gram", "cnt")
        .collect()
    )
    got = (
        topk_frequent_sketch(lg, "gram", k=15, sketch_k=1023, by=("lang",))
        .select("lang", "gram", "cnt")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, exact))


# Seed 11 of perfbench's generated corpus (500 documents): the pair
# a 4-band x 8-row MinHash banding missed, at Jaccard 8/9 — a short
# document and its copy plus the corpus's near-duplicate marker.
_SHORT_PAIR = (
    "window key data line fast customer line group scan big",
    "window key data line fast customer line group scan big dup",
)


def _planted_pair_dir(sf_dir: str) -> str:
    """A copy of ``sf_dir`` with the short pair appended to documents
    under fresh ids, built the way build_adversarial_dir builds its
    copies."""
    out = tempfile.mkdtemp(prefix="sg-shortpair-")
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t != "documents":
            shutil.copyfile(src, dst)
            continue
        with duckdb.connect() as con:
            con.execute(
                f"""COPY (
                  SELECT doc_id, text, lang, source, n_chars FROM read_parquet('{src}')
                  UNION ALL
                  SELECT m.top + p.k, p.text, 'en', 'planted', length(p.text)
                  FROM (SELECT max(doc_id) AS top FROM read_parquet('{src}')) m,
                       (VALUES (1, ?), (2, ?)) p(k, text)
                ) TO '{dst}' (FORMAT PARQUET)""",
                list(_SHORT_PAIR),
            )
    return out


@pytest.fixture(scope="module")
def recall_dirs(adv_dir):
    built = {"dialect": adv_dir}

    def get(name: str) -> str:
        if name not in built:
            built[name] = (
                _planted_pair_dir(SF_DIR)
                if name == "short-pair"
                else build_adversarial_dir(SF_DIR, name)
            )
        return built[name]

    return get


@pytest.mark.parametrize(
    "key", ["fuzzy-dedup", "fuzzy-dedup-clusters", "dedup-survivorship"]
)
@pytest.mark.parametrize("corpus", ["dialect", "encoding", "short-pair"])
def test_fuzzy_dedup_keys_exact_recall(spark, recall_dirs, corpus, key):
    """The fuzzy-dedup keys equal their brute-force exact-Jaccard
    oracle on corpora dense in short and gray-zone near-duplicates:
    the planted short pair (J = 8/9), and the adversarial dialect and
    encoding corpora, whose appended snippets push planted clone pairs
    into the 0.6-0.8 Jaccard band. A 4x8 MinHash banding lost pairs on
    all three (measured: the short pair; 16 of 27 and 9 of 28 true
    pairs on the adversarial corpora)."""
    from reverse_etl_homebrew_spark import queries as Q

    d = recall_dirs(corpus)
    sdf = Q.QUERIES[key](spark, d)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    duck = _duck(d)
    try:
        res = duck.execute(Q.ORACLE[key])
        dcols = [c[0] for c in res.description]
        drows = res.fetchall()
    finally:
        duck.close()
    assert sorted(scols) == sorted(dcols)
    assert _rowset(scols, srows) == _rowset(dcols, drows), (
        f"{key} on {corpus}: {len(srows)} rows vs oracle {len(drows)}"
    )
