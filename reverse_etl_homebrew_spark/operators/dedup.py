"""Deduplication operator family (SURVEY.md §2.7 `dedup-lastwin`,
§2.11 extension tier: exact / SimHash / n-gram Jaccard / n-gram
containment / embedding-cosine near-dup).

Scale design: every variant reduces to (a) a map-side fingerprint,
sketch or gram explode computed in pure Column expressions, then (b)
ONE shuffle on the fingerprint/bucket/gram key. Candidate pairs are
only materialized within buckets or gram posting lists, never as a
cross join — the property that keeps near-dup detection tractable on
a 1e10-document corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..functions import text as TX
from ..functions import vectors as VEC
from ..session import pin


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def content_dedup(
    df: DataFrame, text_col: str = "text", id_col: str | None = None
) -> DataFrame:
    """Exact-content dedup by normalized-text fingerprint: keeps the
    lowest-``id_col`` row per fingerprint so the survivor is
    deterministic. ``id_col`` must be unique per row; it defaults to
    the frame's first column only for backward compatibility — pass it
    explicitly (a non-unique first column would make the survivor
    partition-order dependent).

    NULL-id policy (r11 NULL-key probe): NULLS LAST, explicit on both
    engines — the survivor should be an identifiable row, so a
    NULL-id duplicate only survives when no non-NULL twin exists
    (Spark ASC would otherwise sort NULLS FIRST and elect the NULL-id
    row, while SQL ASC defaults NULLS LAST).

    Tie policy (r12, advisor finding): rows that tie on ``id_col``
    (two NULL-id twins of the same fingerprint, or a non-unique id)
    used to leave the survivor's NON-key columns partition-order
    dependent. The window now tie-breaks over EVERY remaining column
    (NULLS LAST), so the survivor is a total-order choice: rows that
    still tie are identical on all columns and any survivor is the
    same row."""
    order_col = id_col if id_col is not None else df.columns[0]
    fp = df.withColumn("__fp", TX.sha_fingerprint(text_col))
    tiebreak = [
        F.col(c).asc_nulls_last() for c in df.columns if c != order_col
    ]
    w = W.partitionBy("__fp").orderBy(
        F.col(order_col).asc_nulls_last(), *tiebreak
    )
    return fp.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop(
        "__rn", "__fp"
    )


def lastwin_dedup(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """Deterministic survivor: one row per key, first under ``order``
    (the reference's implicit one-row-per-natural-key idempotency,
    MERGE last-writer-wins main.py:357-363)."""
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------
#
# Implementation note: the sketch pipeline deliberately avoids stacking
# multiple higher-order-function lambdas (transform/aggregate/filter)
# in one projection — observed to produce NONDETERMINISTIC results on
# Spark 4.1 local[N] (lambda-variable state races across identical
# lambda names). Explode → one hash per shingle → groupBy is the flat
# shape, and also the right one at scale.

def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    shingle_n: int = 4,
) -> DataFrame:
    """One row per document with its SimHash fingerprint (per-bit
    majority vote over shingle hashes), as (id, sh).

    Explode → DISTINCT (id, shingle) → single xxhash64 → packed vote
    sums in one groupBy: each aggregate column carries TWO bit-counters
    in 32-bit lanes of one long (overflow needs 2^32 shingles in one
    document), so the 64-bit vote needs 32 aggregate columns, not 64 —
    keeping the generated hash-agg output method under the JVM's 8 KB
    JIT limit (the 64-column form compiled but ran interpreted). Flat
    expressions only (see the section note), each shingle hashed once.

    The (id, shingle) relation is DISTINCT, so an id's shingle set is
    the union of its rows: a doc_id delivered twice with different
    text votes each shared shingle once."""
    assert bits % 2 == 0
    hashed = (
        df.select(
            F.col(id_col).alias("id"),
            TX.char_array(TX.normalized_text(F.col(text_col))).alias("__ch"),
        )
        .select("id", F.explode(TX.char_ngrams_from(F.col("__ch"), shingle_n)).alias("g"))
        .distinct()
        .select("id", F.xxhash64("g").alias("h"))
    )
    lanes = bits // 2
    votes = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("total"),
        *[
            F.sum(
                F.shiftrightunsigned("h", 2 * j).bitwiseAND(F.lit(1)).cast("long")
                + F.shiftleft(
                    F.shiftrightunsigned("h", 2 * j + 1).bitwiseAND(F.lit(1)).cast("long"),
                    32,
                )
            ).alias(f"p{j}")
            for j in range(lanes)
        ],
    )
    # unpack lanes in a separate projection (projections split into
    # small generated methods; aggregate outputs do not)
    unpacked = votes.select(
        "id",
        "total",
        *[
            F.col(f"p{j}").bitwiseAND(F.lit(0xFFFFFFFF)).alias(f"v{2 * j}")
            for j in range(lanes)
        ],
        *[
            F.shiftrightunsigned(F.col(f"p{j}"), 32).alias(f"v{2 * j + 1}")
            for j in range(lanes)
        ],
    )
    acc = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") * 2 >= F.col("total"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc + F.shiftleft(bit, b)
    return unpacked.select("id", acc.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    prefix_bits: int = 16,
) -> DataFrame:
    """Near-dup candidate pairs by SimHash: block on the top
    ``prefix_bits`` of the fingerprint (cheap LSH for small Hamming
    radii), verify Hamming distance inside blocks via bit_count."""
    sh = simhash_fingerprints(df, id_col, text_col).withColumn(
        "block", F.shiftrightunsigned("sh", 64 - prefix_bits)
    )
    a = sh.select(F.col("id").alias("a_id"), F.col("sh").alias("a_sh"), "block")
    b = sh.select(F.col("id").alias("b_id"), F.col("sh").alias("b_sh"), "block")
    return (
        a.join(b, ["block"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Cross-engine-portable SimHash: token hashes come from md5 (hex
    prefix parsed as an integer) instead of xxhash64, so the ENTIRE
    fingerprint algebra — token votes, sign bits, block banding,
    Hamming verify — is reproducible in ANSI SQL and the operator is
    oracle-checkable end-to-end (the xxhash64 variant above stays the
    perf default; md5 costs more per token).

    Recall is exact by construction: a pair within Hamming
    ``max_hamming`` < ``blocks`` must agree on at least one of the
    ``blocks`` bit-blocks (pigeonhole), so block banding loses nothing
    and the output equals the brute-force Hamming pair set. Pairs
    sharing several blocks dedup before the verify.

    Shape: one explode over tokens, DISTINCT (id, token) — an id's
    token set is the union of its rows, as in the oracle's ``SELECT
    DISTINCT doc_id, t`` — one groupBy for votes (``bits`` small sum
    aggregates — integer, JIT-friendly), block explode + equi-join. No
    all-pairs."""
    hexlen = bits // 4
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(TX.normalized_text(F.col(text_col)), " ")).alias("t"),
    ).distinct()
    h = toks.select(
        "id", F.conv(F.substring(F.md5("t"), 1, hexlen), 16, 10).cast("long").alias("h")
    )
    votes = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.shiftleft(
            F.when(F.col(f"v{i}") >= 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
            i,
        )
    fp = votes.select("id", acc.alias("f"))
    block_bits = bits // blocks
    mask = (1 << block_bits) - 1
    blocked = fp.select(
        "id",
        "f",
        F.explode(
            F.array(
                *[
                    # tag with the block index so different blocks never
                    # collide in one equi-join key
                    (
                        F.shiftrightunsigned("f", b * block_bits).bitwiseAND(
                            F.lit(mask)
                        )
                        + F.lit(b * (mask + 1))
                    ).cast("long")
                    for b in range(blocks)
                ]
            )
        ).alias("blk"),
    )
    a = blocked.select(F.col("id").alias("a_id"), F.col("f").alias("a_f"), "blk")
    b = blocked.select(F.col("id").alias("b_id"), F.col("f").alias("b_f"), "blk")
    return (
        a.join(b, ["blk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("hamming", F.bit_count(F.col("a_f").bitwiseXOR(F.col("b_f"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, bucket-bounded)
# ---------------------------------------------------------------------------

def incremental_dedup(
    new_batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW ingest batch against an already-accepted corpus —
    the production shape for continuously ingested training data:
    drop new rows whose content fingerprint already exists in ``seen``
    (anti-join on the fingerprint), then dedup within the batch itself
    (deterministic lowest-id survivor).

    Scale: ``seen`` reduces to its distinct fingerprint column (one
    narrow string per historical doc — in production a bucketed
    fingerprint table, so the anti-join co-locates without a fact
    shuffle); the batch side is a single hash-partitioned pass. No
    full-corpus re-dedup per ingest.

    The inline-derived index is PINNED (r14 optimization round): the
    anti-join gets pushed through a multi-branch batch union, and each
    branch then re-derived the whole seen-corpus scan→sha256→distinct
    subtree — the registered incremental-dedup plan executed the seen
    corpus SIX times (3 union branches × the survivor join's double
    consumption; AQE exchange reuse did not fire on the post-pushdown
    subtrees). In production the index IS a persisted table
    (build_fingerprint_index docstring), so the pin is the local
    stand-in, not an extra cost."""
    return incremental_dedup_against_index(
        new_batch,
        pin(build_fingerprint_index(seen, text_col, fp_col="__fp")),
        text_col,
        id_col,
        fp_col="__fp",
    )


def build_fingerprint_index(
    corpus: DataFrame, text_col: str = "text", fp_col: str = "fp"
) -> DataFrame:
    """The accepted-corpus FINGERPRINT index: the distinct content
    fingerprints of the corpus, one narrow string column — the
    doc-tier sibling of ``build_span_index``/``build_ann_index``
    (r14): in production a persisted table bucketed on the
    fingerprint, so the nightly ``incremental_dedup_against_index``
    anti-join co-locates without moving the index. Append-only
    maintenance: INSERT the accepted batch's fingerprints and
    re-distinct within buckets (set union — idempotent)."""
    return corpus.select(TX.sha_fingerprint(text_col).alias(fp_col)).distinct()


def append_to_fingerprint_index(
    fp_index: DataFrame,
    accepted_batch: DataFrame,
    text_col: str = "text",
    fp_col: str = "fp",
) -> DataFrame:
    """Index MAINTENANCE for the doc tier (r14) — the fingerprint twin
    of ``append_to_span_index``/``append_to_ann_index``: once a probed
    batch is accepted, union its fingerprints onto the index and
    re-distinct. Appending is EQUIVALENT to rebuilding over
    corpus ∪ batch by construction (both are the distinct fingerprint
    SET — pinned in tests/test_refresh_pipeline.py) and re-accepting
    the same batch is a no-op (set union is idempotent). In production
    this is an INSERT INTO the fp-bucketed index table where the
    distinct collapses within buckets."""
    delta = build_fingerprint_index(accepted_batch, text_col, fp_col)
    return fp_index.unionByName(delta).distinct()


def incremental_dedup_against_index(
    new_batch: DataFrame,
    fp_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """``incremental_dedup`` with the accepted corpus ALREADY reduced
    to its persisted fingerprint index (``build_fingerprint_index``)
    — the probe-side form a production nightly run executes, where
    the index is a bucketed table and only the batch is new work
    (r14, VERDICT r13 #2). ``fp_index`` must be the distinct
    fingerprint SET (the builder guarantees it; no defensive
    re-distinct here — it would re-shuffle the persisted index the
    bucketed layout exists to keep in place)."""
    seen_fp = fp_index.select(F.col(fp_col).alias("__fp"))
    batch = new_batch.withColumn("__fp", TX.sha_fingerprint(text_col))
    # ``fresh`` is deliberately NOT pinned here even though the
    # survivor election consumes it twice (min-id per fingerprint +
    # the join back onto the batch rows): the differential plan pins
    # in tests/test_refresh_pipeline.py count the index-side Exchanges
    # through this exact subtree (it is planned twice in the
    # un-deduplicated plan text — their docstrings rely on that), and
    # at scale the double consumption is of the DELTA, not the corpus.
    # The local composite ``incremental_dedup`` pins the inline-built
    # INDEX instead — the corpus-proportional term (r14 optimization
    # round).
    fresh = batch.join(seen_fp, ["__fp"], "left_anti")
    w_min = (
        fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col, "__fp")
    )
    return fresh.join(w_min, [id_col, "__fp"]).drop("__fp")


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """One row per (doc, distinct word-n-gram) — tokens materialized in
    their own projection first (HOF-lambda inputs re-evaluate per
    element otherwise)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.split(TX.normalized_text(F.col(text_col)), " ").alias("__toks"),
    ).select(
        "id",
        F.explode(F.array_distinct(TX.word_ngrams_from(F.col("__toks"), n))).alias(
            "g"
        ),
    )


def contamination_flags(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_grams: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least ``min_grams`` distinct word-``n``-grams with ANY benchmark
    document (the standard n-gram contamination check used before
    training on web-scale corpora; n≈8-13 in published recipes).

    Shape: benchmark grams reduce to a DISTINCT gram set (benchmark
    suites are small next to a training corpus, so AQE broadcasts it);
    the train side streams its grams through one equi-join on the gram
    key and aggregates per doc — cost O(train tokens), one shuffle,
    no all-pairs anything. Returns (doc_id, shared_grams) for
    contaminated docs; anti-join the result against the corpus to get
    the clean split.

    Re-delivery robustness (r12 composed-poison probe, tightened by
    the r12 review): shared_grams counts DISTINCT (id, gram) matches
    — the dedup runs AFTER the benchmark join, where the stream is
    only the contaminated grams (small), so it costs a dedup of the
    hit set instead of a shuffle of the full gram stream. This is
    exactly the oracle's ``SELECT DISTINCT id, g`` algebra, so it
    absorbs BOTH re-delivery classes: an exact re-delivered doc's
    duplicate (id, g) rows collapse, and a CONFLICTING re-delivery's
    versions contribute the union of their gram sets — decontaminate
    is therefore NOT in the conflicting-redelivery divergence
    boundary (tests/test_conflicting_redelivery.py). Benchmark-side
    re-deliveries were always harmless — bg is a distinct gram set."""
    tg = _doc_grams(train, id_col, text_col, n)
    bg = _doc_grams(benchmark, id_col, text_col, n).select("g").distinct()
    return _shared_gram_counts(tg, bg, id_col, min_grams)


def _shared_gram_counts(
    tg: DataFrame, bg: DataFrame, id_col: str, min_grams: int
) -> DataFrame:
    """The exact tail shared by both decontaminate forms: equi-join on
    the gram key, DISTINCT (id, gram) (the r12 re-delivery collapse —
    dedup AFTER the join, where the stream is only the hit set), then
    the per-doc threshold."""
    return (
        tg.join(bg, ["g"])
        .dropDuplicates(["id", "g"])
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_grams)
        .select(F.col("id").alias(id_col), "shared_grams")
    )


# Hard ceiling on the Bloom lane modulus: 2^24 positions × 8 bytes ≈
# 128 MiB per broadcast lane, the largest filter that is still clearly
# cheaper than letting the exact join shuffle (r12 advisor finding).
_BLOOM_MAX_M = 1 << 24


def contamination_flags_prefiltered(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_grams: int = 1,
    m: int = 1 << 20,
) -> DataFrame:
    """``contamination_flags`` with a Bloom-style runtime prefilter:
    EXACTLY the same output (the final gram equi-join is exact — hash
    collisions only ever let false candidates through to it), but the
    train gram stream is thinned map-side BEFORE the join by two
    broadcast semi-joins on ``xxhash64(gram) mod m`` bucket positions
    (k=2 hash lanes, the classic Bloom layout unrolled into relational
    algebra Catalyst can plan).

    Why this is the 100 TB form: the exact join's build side is the
    benchmark's distinct gram STRINGS — tens of bytes each, and past
    the broadcast threshold it becomes a full shuffle of the train
    corpus's gram stream, the dominant cost at scale. The position
    sets are 8-byte longs hard-capped at ``m`` distinct values
    REGARDLESS of benchmark size, so they broadcast unconditionally
    and drop non-candidate grams inside the scan stage; with two
    independent lanes the expected false-candidate rate at load factor
    ``b/m`` is ``(1-exp(-b/m))**2`` (<1% at b=0.1m), so the exact join
    afterward sees ~hits only. Same trick Spark's own runtime-filter
    injection plays, made explicit so it fires on any plan and its
    selectivity is testable.
    """
    tg = _doc_grams(train, id_col, text_col, n)
    bg = _doc_grams(benchmark, id_col, text_col, n).select("g").distinct()
    cand = bloom_candidate_grams(tg, bg, m)
    return _shared_gram_counts(cand, bg, id_col, min_grams)


def bloom_candidate_grams(tg: DataFrame, bg: DataFrame, m: int) -> DataFrame:
    """The prefilter stage of ``contamination_flags_prefiltered``,
    shared with the selectivity fixture so measurement and production
    can never drift apart: thin the train gram stream ``tg`` (id, g)
    through two broadcast left-semi joins on the benchmark gram set
    ``bg``'s ``xxhash64 mod m`` positions (k=2 lanes).

    ``m`` is bounded (r12 advisor): each lane force-broadcasts up to
    ``m`` distinct 8-byte longs, so ``m`` IS the broadcast budget —
    a caller reaching for ``1<<30`` to cut the false-candidate rate
    would silently ship multi-GB broadcasts and OOM the driver. The
    cap (2^24 positions ≈ 128 MiB/lane worst case) keeps the lanes
    inside any sane driver/executor memory; past that, the right
    lever is the EXACT join (whose build side AQE shuffles instead
    of broadcasting), not a bigger filter."""
    if not (0 < m <= _BLOOM_MAX_M):
        raise ValueError(
            f"bloom prefilter m={m} out of range (0, {_BLOOM_MAX_M}]: "
            f"each of the k=2 hash lanes force-broadcasts up to m "
            f"distinct longs (~8*m bytes), so m is a broadcast-size "
            f"budget, not a free accuracy knob — use the exact join "
            f"when the benchmark needs a filter this large"
        )
    pos1 = bg.select(F.pmod(F.xxhash64("g"), F.lit(m)).alias("__p1")).distinct()
    pos2 = bg.select(
        F.pmod(F.xxhash64("g", F.lit(1)), F.lit(m)).alias("__p2")
    ).distinct()
    return (
        tg.withColumn("__p1", F.pmod(F.xxhash64("g"), F.lit(m)))
        .join(F.broadcast(pos1), ["__p1"], "left_semi")
        .withColumn("__p2", F.pmod(F.xxhash64("g", F.lit(1)), F.lit(m)))
        .join(F.broadcast(pos2), ["__p2"], "left_semi")
        .drop("__p1", "__p2")
    )


# ---------------------------------------------------------------------------
# span-level exact duplication (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better")
# ---------------------------------------------------------------------------

def token_span_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """One row per length-``n`` whitespace-token window: ``(id_col,
    win)``, every occurrence kept (overlaps and within-doc repeats
    included). Docs with fewer than ``n`` tokens yield no windows —
    strict, no padded partial window.

    The token array is projected into a column BEFORE the window
    transform: the transform lambda references the array per element,
    and an inline split would re-evaluate the whole tokenize per
    window (the trigram-lm-score r9 lesson; plan-verified — `split`
    appears only in the Project/pushed Filter, never inside the
    lambda).

    r15: the window explode fans each doc into ~10² rows, so the
    narrow doc rows go through ``scans.spread_for_fanout`` first: a
    scan-rooted input is spread across the session's parallelism, and
    a shuffled or pinned one (the refresh composite's anti-join and
    pinned batch) is left as it is."""
    from .scans import spread_for_fanout

    base = spread_for_fanout(df.select(F.col(id_col), F.col(text_col)))
    toks = base.select(
        F.col(id_col), TX.tokens(F.col(text_col)).alias("__tt")
    ).where(F.size("__tt") >= n)
    return toks.select(
        id_col, F.explode(TX.word_ngrams_from(F.col("__tt"), n)).alias("win")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Cross-document duplicated spans: every length-``n`` token window
    whose exact text occurs in MORE THAN ONE document → ``(win,
    n_docs, n_spans)``.

    One hash shuffle on the window STRING (the count-distinct plans as
    a partial-agg expand over the same exchange); shuffle volume is
    O(total tokens) of window text — the n-gram profiling cost class.
    A two-phase form that shuffles a 16-byte double-xxhash64 key and
    recounts candidates on the string was measured slower on local[32]
    (1.40 → 2.63 s at 1×; 3.21 → 7.37 s at 10×,
    fixtures/tenx_dup_spans.py): it pays the window explode twice, and
    only a network-bound cluster with long windows would repay that."""
    return (
        token_span_windows(df, text_col, id_col, n)
        .groupBy("win")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .where(F.col("n_docs") > 1)
    )


def dup_span_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a doc's
    length-``n`` token windows whose text occurs at least twice
    corpus-wide (any document, including elsewhere in the same doc) →
    ``(id_col, n_spans, n_dup_spans, dup_rate)``. The span-level
    quality signal filtering recipes threshold on.

    Plan shape: the DENOMINATOR never touches the window stream — a
    doc's window count is ``size(tokens) - n + 1``, pure map-side
    arithmetic. Only the numerator joins the window stream, and only
    against the DUPLICATED window set (count > 1 survivors of the
    window-key agg — typically a small fraction of distinct windows,
    so AQE can broadcast it), then one doc-key agg + a left join back
    onto the map-side totals. Measured vs the naive
    every-window-count join-back (fixtures/tenx_dup_spans.py): the
    10× cell fell 7.73 → 5.26 s and the 10×-rows scaling factor
    2.96× → 2.13× — the win grows with data because the naive form
    joins the FULL window count map back onto the full stream.

    ``dup_rate`` goes through the exact integer 6-decimal path so
    engines agree at .5e-7 rounding cuts; the denominator is
    envelope-guarded (a single doc's window count can't realistically
    cross ~4.6e12 tokens, but the guard keeps the raise-vs-wrap
    contract uniform).

    The hashed two-phase form ``duplicate_spans`` describes was
    measured slower here too (2.89 → 3.75 s at 1× on local[32]).

    NULL-id policy (r11 NULL-key probe): windows of NULL-``id_col``
    docs still count toward the corpus-wide window frequencies (the
    duplication signal is real regardless of labeling), but the
    per-doc REPORT covers identified docs only — the doc-keyed
    group-and-join-back otherwise collapses every NULL-id doc into
    one group whose counts then vanish in the equality join, silently
    reporting 0 dup spans for each of them."""
    from ..functions.exactmath import guard_den, round6_int_ratio

    wins = token_span_windows(df, text_col, id_col, n)
    dup_wins = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("win")
    )
    dup_occ = wins.join(dup_wins, "win")
    dup_counts = (
        dup_occ.where(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    # totals aggregate PER IDENTITY, not per physical row (r11
    # re-delivery probe): under at-least-once ingest a re-delivered
    # doc arrives as two identical rows, and a per-row totals frame
    # joined to the id-merged dup counts emitted two rows per doc
    # with dup_rate 2.0 — internally inconsistent, not just an oracle
    # mismatch. The span arithmetic stays map-side; the id-keyed
    # partial-sum rides the SAME shuffle the dup-counts join already
    # pays, so the aggregation costs no extra exchange.
    totals = (
        df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__tt"))
        .where(F.size("__tt") >= n)
        .where(F.col(id_col).isNotNull())
        .select(
            id_col,
            (F.size("__tt") - F.lit(n - 1)).cast("long").alias("__row_spans"),
        )
        .groupBy(id_col)
        .agg(F.sum("__row_spans").alias("n_spans"))
    )
    per_doc = totals.join(dup_counts, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("long")).alias(
            "n_dup_spans"
        ),
    )
    return per_doc.select(
        id_col,
        "n_spans",
        "n_dup_spans",
        round6_int_ratio("n_dup_spans", guard_den("n_spans")).alias("dup_rate"),
    )


def build_span_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """The accepted-corpus span index: the DISTINCT length-``n`` token
    windows of the corpus, one narrow string column ``win``. In
    production this is a persisted bucketed table on ``win`` (the same
    layout discipline as the IVM state table): the nightly
    ``incremental_dup_spans`` probe then joins batch windows against
    it WITHOUT shuffling the index — only the (small) new batch's
    windows move. Append-only maintenance: union the accepted batch's
    windows and re-distinct within buckets."""
    return (
        token_span_windows(corpus, text_col, id_col, n)
        .select("win")
        .distinct()
    )


def append_to_span_index(
    span_index: DataFrame,
    accepted_batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Index MAINTENANCE for the nightly-ingest loop, the span twin of
    ``similarity.append_to_ann_index`` (r13 — the docstring promise on
    ``build_span_index`` made a function): once a probed batch is
    accepted, union its distinct windows onto the index and
    re-distinct — append-only, never a rebuild. In production this is
    an INSERT INTO the win-bucketed index table where the distinct
    collapses within buckets; appending is EQUIVALENT to rebuilding
    over corpus ∪ batch by construction (both are the distinct window
    SET — pinned in tests/test_refresh_pipeline.py), and re-accepting
    the same batch is a no-op (set union is idempotent)."""
    delta = build_span_index(accepted_batch, text_col, id_col, n)
    return span_index.unionByName(delta).distinct()


def incremental_dup_spans(
    new_batch: DataFrame,
    span_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    index_win_col: str = "win",
) -> DataFrame:
    """Span-level incremental dedup — the nightly-ingest twin of
    ``duplicate_spans``, completing the ``exact-dedup →
    incremental-dedup`` pattern at span granularity: every length-``n``
    token window of a NEW batch that is already duplicated, either
    against the accepted corpus' span index (cross-batch) or across
    more than one document of the batch itself (within-batch) →
    ``(win, n_docs, n_spans, in_index)``. ``n_docs``/``n_spans`` are
    batch-side frequencies; ``in_index`` marks the cross-batch arm.

    Scale shape (the ``incremental_dedup`` anti-join discipline lifted
    to spans): the batch's windows take ONE hash shuffle on the window
    key (count-distinct as a partial-agg expand over the same
    exchange), then the per-window rows — already distinct, so
    batch-vocabulary-sized, far smaller than the occurrence stream —
    left-join the index on ``win``. With the index bucketed on ``win``
    (see ``build_span_index``) that join co-locates without moving the
    index; cost per ingest is O(batch tokens), never a full-corpus
    re-scan. A NULL-text or short doc contributes no windows (strict
    ``token_span_windows`` semantics), so poisoned batches cannot
    inject degenerate windows.

    ``span_index`` must be a distinct window set, as
    ``build_span_index``/``append_to_span_index`` return it: the left
    join then reads the index in place, scan-only. Re-distincting it
    here would be a full hash-agg over the ENTIRE index per probe —
    O(corpus windows) CPU, the largest corpus-proportional term the
    10× tenx_refresh fixture measured (r14)."""
    wins = token_span_windows(new_batch, text_col, id_col, n)
    idx = span_index.select(F.col(index_win_col).alias("win")).where(
        F.col("win").isNotNull()
    )
    counted = wins.groupBy("win").agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    flagged = counted.join(
        idx.select("win", F.lit(True).alias("__in_index")), ["win"], "left"
    ).select(
        "win",
        "n_docs",
        "n_spans",
        F.coalesce(F.col("__in_index"), F.lit(False)).alias("in_index"),
    )
    return flagged.where(F.col("in_index") | (F.col("n_docs") > 1))


def _pruned_grams(
    df: DataFrame, id_col: str, text_col: str, n: int, df_cap: int
) -> DataFrame:
    """One row per (doc, distinct word-n-gram), with grams whose
    document frequency exceeds ``df_cap`` pruned (a document-frequency
    cap) — the gram space of exact Jaccard and capped containment.

    Re-deliveries collapse on the (id, g) relation: under
    at-least-once ingest one id can arrive as several rows — identical
    copies (r11 re-delivery probe) or conflicting versions (r12) — and
    each row contributes its own grams. Without the DISTINCT, a gram
    two rows share is counted twice in the doc's set size and in every
    intersection, so scores shift (2i/(2a+b−2i) ≠ i/(a+b−i)) and
    Jaccard can exceed 1. After it, each id has ONE gram set, the
    union of its versions — the oracle's ``SELECT DISTINCT id, g`` and
    ``decontaminate``'s algebra."""
    grams = _doc_grams(df, id_col, text_col, n).distinct()
    hot = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") > df_cap
    )
    # hot-gram list size follows the corpus (Zipf tail over df_cap), so
    # no forced broadcast — AQE broadcasts it only while it is small
    return grams.join(hot.select("g"), ["g"], "left_anti")


def _gram_overlap_pairs(grams: DataFrame) -> DataFrame:
    """Every document pair sharing at least one gram of the distinct
    (id, g) relation ``grams``, as (a_id, b_id, inter, a_size, b_size)
    with a_id < b_id: the shared-gram count and both set sizes — the
    exact inputs of every gram-set similarity (Jaccard, containment).

    The caller decides the gram universe (full vocabulary or df-capped);
    sizes are counted over the SAME relation as the intersections, so
    every score built on them is a true measure of well-defined sets.
    Exact by construction: candidates come from a gram-keyed equi-join
    (shuffle ∝ gram postings, never all-pairs), so every pair with a
    non-empty intersection is counted — no sketch, no recall loss.
    Per-doc sizes join back with no forced broadcast: one row per
    document is fact-sized (AQE broadcasts it only while small)."""
    # Pin the gram relation: it feeds THREE plan legs (sizes + both
    # join sides), and without the lineage cut each leg re-runs the
    # full normalize/explode(/df-cap) pipeline — measured 2× the
    # query's real work at sf0.1.
    grams = pin(grams)
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("size"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "a_id", "size": "a_size"}), ["a_id"])
        .join(sizes.withColumnsRenamed({"id": "b_id", "size": "b_size"}), ["b_id"])
        .select("a_id", "b_id", "inter", "a_size", "b_size")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 100,
) -> DataFrame:
    """Exact word-n-gram Jaccard ≥ ``threshold`` for every document
    pair: |A∩B| / |A∪B| over ``_gram_overlap_pairs`` (a pair sharing
    no gram has Jaccard 0, so no qualifying pair is missed). Returns
    (a_id, b_id, jaccard) with a_id < b_id.

    At corpus scale the posting-list join is bounded by dropping
    ultra-common n-grams (a document-frequency cap); df_cap keeps hot
    shingles from quadratic blowup. Jaccard is therefore computed over
    the PRUNED gram sets — a well-defined measure of its own (both
    numerator and denominator exclude grams with document frequency
    > df_cap; pairs sharing only hot grams are not candidates), and
    the one the SQL oracle computes."""
    pairs = _gram_overlap_pairs(_pruned_grams(df, id_col, text_col, n, df_cap))
    return (
        pairs.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("a_size") + F.col("b_size") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: "int | None" = 8,
    probe_radius: int = 1,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold, candidate-bounded
    by random-hyperplane LSH buckets (vectors this similar almost
    always agree on all ``planes`` sign bits; multi-probe raises recall
    by also joining each vector's Hamming-``probe_radius`` neighbor
    buckets). ``probe_radius=1`` is the scale default (1+p probes);
    ``probe_radius=2`` adds the p(p-1)/2 two-flip buckets — the
    exhaustive-recall configuration the oracle-checked queries use
    (twin vectors land ≥2 bit flips apart often enough that radius 1
    measurably loses pairs). Scores round to 6 decimals for
    cross-engine determinism.

    ``planes=None`` auto-sizes the bucket space to the corpus like
    ``knn_join`` (target ~64 vectors/bucket, 4..16 planes): in-bucket
    candidate count scales with n²/2^planes, so a constant plane count
    turns corpus growth into quadratic join work. The oracle-checked
    queries pin ``planes=8`` because their SQL re-derives the same
    bucket constants.

    Per-pair work is one dot product: vector norms are computed once
    per vector (same doubles as computing them per pair — the cosine
    value is bit-identical) instead of once per candidate. No
    candidate dedup pass is needed: a vector's probe values are
    pairwise-distinct, so an ordered pair can match on exactly one
    bucket value — the join already emits each pair at most once.

    The base bucket comes from the Arrow matmul bucketer, not the
    flat codegen sign fold: CollapseProject inlines a projected
    expression PER REFERENCE, so the planes×dim fold was duplicated
    into all (1+planes) probe expressions — ~5k expression nodes whose
    janino compile dominated wall time (measured 3.2 s to produce 87k
    candidate rows from a 2.1k-row corpus at sf0.1; the same disease
    as SCALE.md's CreateArray finding). The Python eval node is an
    attribute boundary, so probes XOR a plain long column."""
    dim = VEC.infer_dim(df, vec_col)
    if planes is None:
        import math

        n = df.count()
        planes = max(4, min(16, math.ceil(math.log2(max(n, 2) / 64))))
    hyperplanes = _deterministic_planes(planes, dim)
    from .vectorized import bucket_norm_pandas

    # r15: fused bucket+norm kernel — the per-vector norm rides the
    # same Arrow pass as the bucket (bit-identical left fold, see
    # bucket_norm_pandas) instead of a dim-unrolled codegen fold
    # projected next to the kernel.
    bn = bucket_norm_pandas(hyperplanes, planes, tables=1)
    # finite-geometry scope (r13 non-finite components class): the
    # masking kernel emits a NULL base bucket for corrupt vectors —
    # dropped here, before probes or anchors shuffle
    # r15: pin — base feeds TWO consumers (probe explode + anchor
    # side) and the bucket+norm kernel otherwise runs twice over
    # the corpus (the kernel-once discipline; ArrowEvalPython
    # 4 → 3 in the pair plans). Local A/B reads 1.01-1.05×
    # (within noise — the sf0.1 kernel pass is cheap), the saved
    # term is a full corpus-side Arrow pass; in production this
    # frame IS the persisted bucketed index (build_ann_index's
    # layout), so the pin is the local stand-in, same as
    # incremental_dedup's fingerprint pin.
    base = pin(
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
        )
        .withColumn("__bn", bn(F.col("v")))
        .select(
            "id",
            "v",
            F.col("__bn").getField("nrm").alias("nrm"),
            F.element_at(F.col("__bn").getField("bs"), 1).alias("b0"),
        )
        .where(F.col("b0").isNotNull())
    )
    probes = [F.col("b0")] + [
        F.col("b0").bitwiseXOR(F.lit(1 << i)) for i in range(planes)
    ]
    if probe_radius >= 2:
        probes += [
            F.col("b0").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(planes)
            for j in range(i)
        ]
    probed = base.select(
        "id", "v", "nrm", F.explode(F.array(*probes)).alias("bucket")
    )
    anchors = base.select(
        F.col("id").alias("b_id"),
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"),
        F.col("b0").alias("bucket"),
    )
    # Pair scoring runs in the Arrow kernel (explicit left-fold — same
    # doubles as VEC.dot and the SQL oracle): the threshold filter over
    # a projected dim-unrolled dot would re-evaluate the fold per
    # reference and blow the JIT method budget (see pair_cosine_pandas).
    from .vectorized import pair_cosine_pandas

    cos_udf = pair_cosine_pandas()
    pairs = (
        probed.join(anchors, ["bucket"])
        .filter(F.col("id") < F.col("b_id"))
        .withColumn(
            "cos",
            cos_udf(F.col("v"), F.col("b_v"), F.col("nrm"), F.col("b_nrm")),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("id").alias("a_id"), "b_id", F.round("cos", 6).alias("cos"))
    )
    return pairs


def _deterministic_planes(k: int, dim: int):
    """Fixed pseudo-random hyperplanes from a hash recurrence — no RNG
    state, identical on every run/executor."""
    planes = []
    x = 2463534242
    for _ in range(k):
        p = []
        for _ in range(dim):
            # xorshift64
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            p.append(((x % 2001) - 1000) / 1000.0)
        planes.append(p)
    return planes
