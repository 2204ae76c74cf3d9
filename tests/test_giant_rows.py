"""Giant-rows poison class (eleventh, r14): targeted pins for the
boundaries fixtures/giant_rows_probe.py exercises registry-wide.

Every text operator explodes per-token structures; the corpus
fixtures cap documents at ordinary lengths, so these tests are the
first time a single pathological row (hundreds of kB — one crawl page
of minified JS) faces the kernels directly. The reference's own giant
-row boundary is the DLQ clamp pair (payload ≤90000 / error ≤10000,
main.py:398-399) — pinned here three ways (engine, oracle dialect,
and the reference's literal Python slice)."""
from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from reverse_etl_homebrew_spark.functions import scalars as SC
from reverse_etl_homebrew_spark.functions import text as TX
from reverse_etl_homebrew_spark.operators.chunking import chunk_documents
from reverse_etl_homebrew_spark.operators.dedup import token_span_windows

from fixtures.giant_rows_probe import (
    _boilerplate,
    _dlq_boundary,
    _high_vocab,
    _minified_js,
    _single_token,
)


# ---------------------------------------------------------------- DLQ clamps
def test_dlq_clamps_agree_three_ways(spark):
    """truncate(payload, 90000) / truncate(error, 10000) must count
    CODEPOINTS and agree with DuckDB's substring AND the reference's
    literal ``json.dumps(...)[:90000]`` slice (main.py:398-399), with
    an astral-plane codepoint exactly at the clamp boundary."""
    payload = _dlq_boundary()  # astral char at 0-based index 89_999
    error = ("eé" * 6000)[:10_500]  # multibyte, >10k chars

    assert len(payload) > 90_000 and payload[89_999] == "\U0001f600"

    df = spark.createDataFrame([Row(payload=payload, error=error)])
    got = df.select(
        SC.truncate("payload", 90_000).alias("p"),
        SC.truncate("error", 10_000).alias("e"),
    ).collect()[0]

    # the reference's Python slice
    assert got["p"] == payload[:90_000]
    assert got["e"] == error[:10_000]
    # the astral boundary char is the LAST kept codepoint, intact
    assert got["p"][-1] == "\U0001f600" and len(got["p"]) == 90_000

    # the oracle dialect
    con = duckdb.connect()
    d_p, d_e = con.execute(
        "SELECT substring(?, 1, 90000), substring(?, 1, 10000)",
        [payload, error],
    ).fetchone()
    con.close()
    assert d_p == got["p"] and d_e == got["e"]


# ----------------------------------------------------- chunker stride math
def test_chunk_stride_arithmetic_at_giant_len(spark):
    """At len(tt) ~ 49k tokens the stride sequence must still cover
    every token exactly per the documented arithmetic: starts advance
    by ``stride`` while start <= max(n - size + stride, 1); the tail
    chunk runs short, never padded, never fully contained in its
    predecessor."""
    text = _boilerplate()  # ~300 kB, 11 tokens/sentence repeat
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    n_tok = df.select(F.size(TX.tokens("text")).alias("n")).collect()[0]["n"]
    assert n_tok > 40_000  # a genuinely giant explode

    size, stride = 64, 48
    chunks = (
        chunk_documents(df, size=size, stride=stride)
        .select("chunk_id", F.col("n_chunk_tokens").alias("w"))
        .orderBy("chunk_id")
        .collect()
    )
    # expected starts from the documented closed form
    last_start = max(n_tok - (size - stride), 1)
    exp_starts = list(range(1, last_start + 1, stride))
    assert [c["chunk_id"] for c in chunks] == list(range(len(exp_starts)))
    assert len(chunks) == len(exp_starts)
    # every chunk width: full except possibly the tail; tail short not padded
    for c, start in zip(chunks, exp_starts):
        assert c["w"] == min(size, n_tok - start + 1)
    # full coverage: the final chunk reaches the final token
    assert exp_starts[-1] + chunks[-1]["w"] - 1 == n_tok


def test_span_window_count_on_giant_doc(spark):
    """token_span_windows emits exactly n_tok - n + 1 rows for one
    giant doc — output volume is LINEAR in tokens (every occurrence
    kept, including the boilerplate lane's massive within-doc
    repeats), never quadratic."""
    text = _boilerplate()
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    n_tok = df.select(F.size(TX.tokens("text")).alias("n")).collect()[0]["n"]
    got = token_span_windows(df, n=8).count()
    assert got == n_tok - 8 + 1


def test_single_giant_token(spark):
    """A 200k-char row with ZERO whitespace: tokens() returns exactly
    one element carrying the whole string; the chunker emits one
    1-token chunk; span windows emit none (strict no-padded-window
    rule at n > n_tok)."""
    text = _single_token()
    assert " " not in text and len(text) == 200_000
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    toks = df.select(TX.tokens("text").alias("tt")).collect()[0]["tt"]
    assert len(toks) == 1 and len(toks[0]) == 200_000

    chunks = chunk_documents(df, size=64, stride=48).collect()
    assert len(chunks) == 1 and chunks[0]["n_chunk_tokens"] == 1
    assert token_span_windows(df, n=8).count() == 0


def test_minified_js_both_token_paths(spark):
    """The minified-JS lane must stress BOTH tokenizers from one row:
    raw whitespace tokens() sees ~8k punctuation-glued tokens (the
    alnum-only single-token lane carries the truly-giant-token
    stress); normalized_text's punctuation-stripping sees ~56k small
    ones — a 7x fan-out between the two views of the SAME row."""
    text = _minified_js()
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    row = df.select(
        F.size(TX.tokens("text")).alias("raw"),
        F.size(TX.tokens(TX.normalized_text("text"))).alias("norm"),
        F.length("text").alias("len"),
    ).collect()[0]
    assert row["len"] == 300_000
    assert row["raw"] < 10_000  # punctuation-glued, whitespace-sparse
    assert row["norm"] > 30_000  # punctuation became separators


def test_high_vocab_lane_distinct_tokens(spark):
    """Lane 85 contributes more DISTINCT tokens from one row than the
    whole sf0.001 corpus (~9k) — the sketch-state stressor."""
    text = _high_vocab()
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    distinct = (
        df.select(F.explode(TX.tokens("text")).alias("t"))
        .agg(F.countDistinct("t").alias("d"))
        .collect()[0]["d"]
    )
    assert distinct > 20_000


# -------------------------------------------------- Arrow byte-bounded batches
def test_arrow_batches_byte_bounded(spark):
    """With maxRecordsPerBatch alone (the row-count bound), 64 rows of
    1 MB strings arrive in ONE ~64 MB Arrow batch; with Spark 4's
    maxBytesPerBatch set (cluster_conf ships it) the same stream is
    split into byte-bounded batches — the giant-rows defense for every
    Pandas-UDF kernel (a run of 10 000 crawl-page rows is a multi-GB
    batch otherwise)."""
    schema = T.StructType(
        [T.StructField("i", T.IntegerType()), T.StructField("s", T.StringType())]
    )
    big = "x" * 1_000_000
    df = spark.createDataFrame(
        [Row(i=i, s=big) for i in range(64)], schema
    ).repartition(1)

    def batch_sizes(it):
        for pdf in it:
            yield pd.DataFrame({"rows": [len(pdf)]})

    out_schema = T.StructType([T.StructField("rows", T.IntegerType())])
    conf = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, str(8 * 1024 * 1024))  # 8 MB
        bounded = [
            r["rows"] for r in df.mapInPandas(batch_sizes, out_schema).collect()
        ]
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    unbounded = [
        r["rows"] for r in df.mapInPandas(batch_sizes, out_schema).collect()
    ]

    assert sum(bounded) == 64 and sum(unbounded) == 64
    assert max(bounded) <= 9  # ~8 rows of 1 MB per 8 MB batch
    assert len(bounded) > len(unbounded)  # the byte bound actually split


def test_cluster_conf_ships_byte_bounded_arrow():
    from reverse_etl_homebrew_spark.session import CODEGEN_CACHE_ENTRIES, cluster_conf

    conf = cluster_conf()
    assert "spark.sql.execution.arrow.maxBytesPerBatch" in conf
    # the codegen posture rides along: each executor JVM sizes its own
    # compiled-class cache, and class names carry no stage id
    assert conf["spark.sql.codegen.cache.maxEntries"] == str(CODEGEN_CACHE_ENTRIES)
    assert conf["spark.sql.codegen.useIdInClassName"] == "false"


# ------------------------------------------------ sketch guard under poison
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "fixtures"))

from giant_rows_probe import build_giant_dir  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def giant_dir():
    return build_giant_dir(SF_DIR)


def _char_grams(spark, sf_dir):
    """The exact gram stream of ngram-topk-sketch (queries_corpus)."""
    from reverse_etl_homebrew_spark.functions import text as TX
    from reverse_etl_homebrew_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    return (
        d.select(t.alias("t"))
        .filter(F.length("t") >= 3)
        .select(TX.char_array(F.col("t")).alias("ch"))
        .select(F.explode(TX.char_ngrams_from(F.col("ch"), 3)).alias("gram"))
    )


def test_sketch_guard_under_giant_vocab(spark, giant_dir):
    """The giant lanes flatten the char-trigram tail (one 300 kB
    minified-JS page contributes more gram mass than the rest of the
    corpus): sketch_k=255 must RAISE the provable-regime guard — loud,
    never a silent truncation — and the documented knob (a larger
    sketch_k) must return the exact top-50 again, same contract the
    adversarial-text corpus pinned (tests/test_adversarial_knobs.py)."""
    from reverse_etl_homebrew_spark.operators.vectorized import (
        topk_frequent_sketch,
    )

    grams = _char_grams(spark, giant_dir)
    with pytest.raises(Exception, match="provable regime"):
        topk_frequent_sketch(grams, "gram", k=50, sketch_k=255).collect()

    exact = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(50)
        .collect()
    )
    got = (
        topk_frequent_sketch(grams, "gram", k=50, sketch_k=4095)
        .select("gram", "cnt")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]
