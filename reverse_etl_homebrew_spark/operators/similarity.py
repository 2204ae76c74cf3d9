"""Similarity search over embedding columns (SURVEY.md §2.11;
top-k literature anchors in PAPERS.md: EDBT 2020 incremental top-k,
ICDE 2021 distributed top-k, SIGMOD 2020 adaptive similarity).

Operators:

- ``topk_brute``: exact scoring of every vector against the query —
  a map-side projection (no shuffle) + TakeOrderedAndProject. At
  100 TB this is one full scan but zero shuffle; per-partition heaps
  keep driver cost at O(k).
- ``topk_lsh`` / ``topk_ivf``: approximate top-k that bounds the
  scored candidate set — by random-hyperplane bucket (multi-probe
  over bit flips) or by IVF cell (the query's nearest centroids) —
  then scores the survivors with ``topk_brute``.
- ``knn_join``: k nearest right-vectors per left-vector, as a bucket
  equi-join (``exact=True``: the bounded cross score).
- ``build_ann_index`` / ``incremental_knn``: the persisted bucketed
  index and the per-batch probe against it.
- ``bm25_topk``, ``tfidf_topterms``, ``trigram_lm_score``: the
  lexical side of retrieval.

The LSH spine every vector operator shares (``dedup.
embedding_near_dup_pairs`` included) is written once, here: the
plane constants (``_deterministic_planes``), the fused bucket+norm
side (``_bucket_side``), the Hamming probe set (``_probe_masks`` /
``_probe_array``) and the per-left top-k cut (``_top_k_per_left``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions import vectors as VEC
from ..functions.exactmath import guard_dec_units, round6_dec6_over_int
from ..session import pin


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


def _probe_masks(planes: int, radius: int) -> list:
    """XOR masks of the Hamming-``radius`` (≤ 2) multi-probe set over
    ``planes`` sign bits: ``0``, the 1-bit flips, then the 2-bit
    flips — (1 + p + p(p-1)/2) of 2^p buckets at radius 2. Flips touch
    bits < ``planes`` only, so a multi-table tag above them survives."""
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(planes)]
    if radius >= 2:
        masks += [(1 << i) | (1 << j) for i in range(planes) for j in range(i)]
    return masks


def _probe_array(bucket_col: str, planes: int, radius: int):
    """The probe buckets of a materialized base-bucket column, as one
    array column (XOR on a plain long — the bucket kernel's output is
    an attribute boundary, so no sign fold is inlined per probe)."""
    b = F.col(bucket_col)
    return F.array(
        *[b.bitwiseXOR(F.lit(m)) if m else b for m in _probe_masks(planes, radius)]
    )


def _bucket_side(
    df: DataFrame, id_col: str, vec_col: str, hp, planes: int, tables: int, names
) -> DataFrame:
    """One LSH side: non-NULL vectors through the fused bucket+norm
    kernel (operators/vectorized.bucket_norm_pandas) →
    ``names = (id, v, nrm, bucket)``. One bucket per row at
    ``tables == 1``; above that one row per table bucket (tagged per
    table by the kernel). The kernel masks corrupt vectors to a NULL
    bucket — the finite-geometry scope, filtered where each caller
    needs it. NULL vectors are dropped first: they carry no geometry
    and would poison the Arrow batch."""
    from .vectorized import bucket_norm_pandas

    id_out, v_out, nrm_out, bucket_out = names
    bn = bucket_norm_pandas(hp, planes, tables)
    bs = F.col("__bn").getField("bs")
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias(id_out), F.col(vec_col).alias(v_out))
        .withColumn("__bn", bn(F.col(v_out)))
        .select(
            id_out,
            v_out,
            F.col("__bn").getField("nrm").alias(nrm_out),
            (F.element_at(bs, 1) if tables == 1 else F.explode(bs)).alias(bucket_out),
        )
    )


def _top_k_per_left(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``(l_id, r_id, score)`` per ``l_id`` (score
    descending, ``r_id`` tie-break). The projection comes before the
    ranking window: the window shuffles its input, and scored pairs
    still carry both dim-length vector columns — stating it makes the
    pairs × 2 × dim × 8 B saving a guarantee rather than an optimizer
    courtesy."""
    from pyspark.sql import Window as W

    w = W.partitionBy("l_id").orderBy(F.desc("score"), F.col("r_id"))
    return (
        scored.select("l_id", "r_id", "score")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("l_id", "r_id", "score")
    )


def topk_brute(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.
    Scores are rounded to 6 decimals for cross-run determinism, with
    the id as tie-break.

    One path for every literal-query top-k (this one, and the
    candidates ``topk_lsh`` / ``topk_ivf`` keep): the fused kernel
    ``query_cosine_flags_pandas`` computes the row norm and the query
    dot as the oracle's left folds in one Arrow pass, with NULL for a
    zero-norm row (the oracle's CASE), and its ``ok`` flag is the
    finite-geometry scope (a NaN fold or an Inf overflow — a NaN
    score would rank differently cross-engine, the r13 class). On a
    candidate set a masking kernel already scoped upstream, ``ok``
    excludes nothing more. No dim-unrolled codegen fold enters the
    plan: a stage holding a few dim-64 folds crosses janino's 64 KB
    method limit and silently runs interpreted (SCALE.md)."""
    from .vectorized import query_cosine_flags_pandas

    _qc = query_cosine_flags_pandas(query)
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _qc(F.col(vec_col)).alias("__cf"))
        .where(F.col("__cf").getField("ok"))
        .select(
            F.col(id_col),
            F.round(F.col("__cf").getField("score"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def topk_lsh(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: prune to LSH-bucket candidates, then exact
    cosine on the survivors (``topk_brute``). Candidate buckets = the
    query bucket over 6 hyperplanes plus its probes to Hamming
    radius 2.

    The data-side bucket comes from the shared LSH spine
    (``_bucket_side``, the Arrow bucketer), not the flat codegen sign
    fold: Catalyst pushes the probe filter through the bucket
    projection, and an IN-filter carrying two inlined copies of a
    planes×dim fold overflows janino's 64 KB method limit — the whole
    stage then silently runs INTERPRETED. Bucket values are identical
    (same planes, same MSB bit order), so the SQL oracle is unchanged.
    The masking kernel gives corrupt vectors a NULL bucket, which the
    probe ``isin`` drops — the finite-geometry scope."""
    dim = len(query)
    planes = 6
    hp = _deterministic_planes(planes, dim)

    def bucket_of(vec):
        return sum(
            (1 if sum(a * b for a, b in zip(p, vec)) >= 0 else 0) << (planes - 1 - i)
            for i, p in enumerate(hp)
        )

    qb = bucket_of([float(x) for x in query])
    # multi-probe to Hamming radius 2: recall on near-orthogonal
    # neighbor sets stays useful while still scanning only
    # (1 + p + p(p-1)/2) of 2^p buckets
    probe_buckets = [qb ^ m for m in _probe_masks(planes, 2)]
    cand = _bucket_side(
        df, id_col, vec_col, hp, planes, 1, (id_col, vec_col, "__nrm", "__bucket")
    ).filter(F.col("__bucket").isin(probe_buckets))
    return topk_brute(cand, query, k, id_col, vec_col)


def topk_ivf(
    df: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: score (``topk_brute``) only vectors
    whose cell is among the query's ``n_probe`` nearest centroids
    (dot-product argmax, numpy first-max order). The masking assign
    kernel gives corrupt vectors a NULL cell, which the cell filter
    drops."""
    import numpy as np

    from .vectorized import ivf_assign_pandas

    C = np.asarray([list(c) for c in centroids], dtype=np.float64)
    q = np.asarray(list(query), dtype=np.float64)
    probe_cells = [int(i) for i in (C @ q).argsort()[::-1][:n_probe]]
    cand = (
        ivf_assign_pandas(df, centroids, id_col, vec_col)
        .filter(F.col("ivf_cell").isin(probe_cells))
        .select(id_col, vec_col)
    )
    return topk_brute(cand, query, k, id_col, vec_col)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 6,
    probe_radius: int = 2,
    tables: int = 1,
    exact: bool = False,
) -> DataFrame:
    """k nearest right-vectors for every left-vector.

    Default is SCALE-SAFE: both sides are hyperplane-bucketed and only
    in-bucket pairs are scored — an equi-join on the bucket key (plain
    shuffle, no replication), with the left side exploded over its
    Hamming-radius-``probe_radius`` probe buckets for recall. Cost is
    O(pairs-sharing-a-bucket), never |L|×|R|; two 100 TB fact tables
    produce a ShuffledHash/SortMerge join, not a
    BroadcastNestedLoopJoin (asserted in tests).

    ``tables=L`` uses L INDEPENDENT hash tables (disjoint plane sets,
    bucket keys tagged per table in one equi-join): recall compounds
    as 1-(1-p)^L while probe count grows linearly in L — the
    beyond-1e7-rows configuration, where widening one table's probe
    radius (~p² probes) stops paying. With L>1, combine with
    ``probe_radius=0 or 1``; candidate pairs matching in several
    tables are deduplicated before scoring. Storage/shuffle on the
    right side grows ×L (the classic LSH-table trade).

    ``exact=True`` opts into the exhaustive cross score + per-left
    window — correct for query-batch-vs-corpus shapes where one side
    is bounded (the reference's search-then-rank shape); AQE picks the
    join strategy from runtime sizes.

    Approximate recall: a left vector only sees neighbors within its
    probed buckets, so it may return fewer than ``k`` rows — the
    standard ANN trade (multi-probe LSH; PAPERS.md anchors)."""
    # norms computed once per vector, not once per candidate pair —
    # bit-identical score (the norm of a vector is the same double
    # before or after the join) — and, r15, computed INSIDE the
    # bucketer kernel (bucket_norm_pandas): the vectors cross the
    # Arrow boundary for the buckets anyway, so the norm there is one
    # extra vectorized fold over bytes already in cache, where the old
    # codegen fold re-built a dim-unrolled expression tree per side per
    # query (driver plan-size cost) and paid a second element-wise pass
    # in the JVM. Finite-geometry scope (r13 non-finite components
    # class) is branch-specific: the bucketed path inherits it from the
    # MASKING kernel (corrupt rows get a NULL bucket, which no
    # equi-join can match — an attribute-barrier form Catalyst cannot
    # push back into a duplicated fold; measured free); the exact
    # branch, which has no bucketer, gets it from the fused pair
    # kernel's ``ok`` flag.
    if exact:
        # r15: ONE fused Arrow kernel instead of three (two per-side
        # norm kernels + the pair cosine). The kernel
        # computes both norms next to the dot — bit-identical folds —
        # and its ``ok`` flag reproduces the old per-side
        # ``nrm IS NOT NULL AND nrm < inf`` finite-geometry exclusion
        # exactly (NaN fold → NaN, Inf fold → +Inf, both excluded;
        # legitimate zero-norm vectors stay and score NULL, the
        # oracle's CASE). Poisoned rows now reach the join before the
        # post-kernel filter drops them, but the EXCLUDED row set is
        # identical, so the result is too. Three Python round-trips
        # per run → one (guide §4.1).
        from .vectorized import pair_cosine_flags_pandas

        def _side(df_, id_in, id_out, v_out):
            return df_.where(F.col(vec_col).isNotNull()).select(
                F.col(id_in).alias(id_out), F.col(vec_col).alias(v_out)
            )

        _cosf = pair_cosine_flags_pandas()
        le = _side(left, left_id, "l_id", "l_v")
        re = _side(right, right_id, "r_id", "r_v")
        scored = (
            le.join(re)
            .withColumn("__cf", _cosf(F.col("l_v"), F.col("r_v")))
            .where(F.col("__cf").getField("ok"))
            .withColumn("score", F.round(F.col("__cf").getField("score"), 6))
        )
    else:
        # Buckets from the Arrow matmul kernel (same bit order and the
        # same signs as the SQL oracle's fold; see hybrid_fold_signs),
        # all L tables in one pass, with the multi-probe XOR flips on
        # the materialized base bucket column. NOT the codegen sign
        # fold: CollapseProject inlines a projected fold into every
        # probe expression — planes×dim×(1+p+p(p-1)/2) expression
        # nodes ran un-JIT'd (measured 13.7 s steady-state at sf0.1
        # for a 2 000-row corpus), and L·p flat folds in one projection
        # overflow the JIT method budget (measured 6× slower).
        from .vectorized import pair_cosine_pandas

        dim = VEC.infer_dim(right, vec_col)
        hp = _deterministic_planes(planes * tables, dim)
        r = _bucket_side(
            right, right_id, vec_col, hp, planes, tables,
            ("r_id", "r_v", "r_nrm", "__bucket"),
        )
        l = _bucket_side(
            left, left_id, vec_col, hp, planes, tables,
            ("l_id", "l_v", "l_nrm", "__b0"),
        )
        l = l.withColumn(
            "__bucket",
            F.explode(F.array_distinct(_probe_array("__b0", planes, probe_radius))),
        ).drop("__b0")
        # each right row lives in one bucket per table and a left row's
        # probe buckets are distinct, so at L = 1 a (l, r) pair matches
        # at most once; with L > 1 it can match in several tables →
        # dedup before scoring
        cand = l.join(r, "__bucket")
        if tables > 1:
            cand = cand.dropDuplicates(["l_id", "r_id"])
        # Pair scoring in the Arrow kernel (explicit left fold — the
        # same doubles as the SQL oracles): candidate volume is
        # pairs-per-bucket × probes, and the dim-unrolled codegen fold
        # on that stage ran un-JIT'd (same finding as
        # embedding_near_dup_pairs; see pair_cosine_pandas).
        _cos = pair_cosine_pandas()
        scored = cand.withColumn(
            "score",
            F.round(_cos(F.col("l_v"), F.col("r_v"), F.col("l_nrm"), F.col("r_nrm")), 6),
        )
    return _top_k_per_left(scored, k)


def build_ann_index(
    corpus: DataFrame,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The accepted-corpus ANN index: every corpus vector with its
    pre-computed L2 norm and single-table hyperplane bucket —
    ``(r_id, r_v, r_nrm, bucket)``. In production this is a PERSISTED
    table bucketed on ``bucket`` (the same layout discipline as the
    IVM state table and ``build_span_index``): the nightly
    ``incremental_knn`` probe then joins batch vectors against it
    WITHOUT shuffling the index — only the (small) new batch's probe
    rows move (asserted in tests/test_physical_layout.py). Maintenance
    is an INSERT INTO that table of ``build_ann_index(accepted batch)``
    with the SAME planes: same planes ⇒ same bucket for every vector,
    so the appended index probes exactly as a rebuild over
    corpus ∪ batch would.

    NULL vectors carry no geometry and are excluded (the r12
    NULL-embedding degrade contract — a NULL row would otherwise
    poison the Arrow bucketer batch-wide)."""
    dim = VEC.infer_dim(corpus, vec_col)
    hp = _deterministic_planes(planes, dim)
    out = (
        _bucket_side(
            corpus, id_col, vec_col, hp, planes, 1, ("r_id", "r_v", "r_nrm", "bucket")
        )
        # finite-geometry scope (r13): the masking kernel emits a
        # NULL bucket for corrupt vectors — excluded here so the
        # persisted index never carries them
        .where(F.col("bucket").isNotNull())
    )
    # dim tag (r14, ab_r14_ledger attribution): consumers need the
    # index dimension for the drift contract, but infer_dim over THIS
    # plan can no longer prune the bucket column (the NULL-bucket
    # filter references it), so the one-row driver job would spin up
    # the Python kernel — measured 0.95 s vs 0.13 s on a plain scan.
    # The tag rides the session-local DataFrame; a PERSISTED index
    # loses it and infer_dim falls back to the cheap plain-scan path.
    out._sg_ann_dim = dim
    return out


def incremental_knn(
    new_batch: DataFrame,
    ann_index: DataFrame,
    k: int = 3,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vector-tier incremental twin of ``incremental_dup_spans``: k
    approximate nearest neighbors in the ACCEPTED corpus for every
    vector of a NEW ingest batch, against the persisted bucketed ANN
    index from ``build_ann_index`` → ``(l_id, r_id, score)``.

    Scale shape (the nightly-ingest discipline lifted to embeddings):
    the batch is bucketed with the same planes, exploded over its
    Hamming-radius-2 probe buckets, and equi-joined on
    the bucket key. With the index bucketed on ``bucket`` the join
    co-locates WITHOUT moving the index — per-ingest shuffle is
    O(batch × probes), independent of corpus size; the index side
    contributes only its scan (flat at 10× corpus, measured —
    SCALE.md). Candidate scoring reuses the Arrow pair-cosine kernel
    and the per-vector pre-computed norms; ranking shuffles only the
    (l_id, r_id, score) triple.

    Same approximate-recall trade as ``knn_join``: a batch vector only
    sees neighbors inside its probed buckets. ``planes`` must match
    the index's construction planes — in production it is a property
    of the index table, not a per-query knob. Dimensionality IS
    validated here (r12 review): the planes derive from the INDEX's
    dimension (the authoritative side), and a batch whose vectors
    drifted to a different dimension is refused loudly — silently
    bucketing 32-dim vectors with 64-dim planes and folding truncated
    cosines is the wrong-neighbor class the ingress contract exists
    to keep out."""
    from .vectorized import pair_cosine_pandas

    dim = getattr(ann_index, "_sg_ann_dim", 0) or VEC.infer_dim(
        ann_index, "r_v"
    )
    dim_batch = VEC.infer_dim(new_batch, vec_col)
    if dim == 0:
        dim = dim_batch  # empty index: plan shape from the batch
    if dim and dim_batch and dim != dim_batch:
        from ..sources.catalog import SchemaContractError

        raise SchemaContractError(
            f"incremental knn: batch dimension {dim_batch} != index "
            f"dimension {dim} — dimension is a property of the index, "
            f"fix the producer"
        )
    hp = _deterministic_planes(planes, dim)
    l = (
        _bucket_side(
            new_batch, id_col, vec_col, hp, planes, 1, ("l_id", "l_v", "l_nrm", "__b0")
        )
        # finite-geometry scope (r13): corrupt batch vectors carry a
        # NULL base bucket from the masking kernel — dropped before
        # the probe explode so they never shuffle
        .where(F.col("__b0").isNotNull())
        .withColumn(
            "bucket",
            F.explode(F.array_distinct(_probe_array("__b0", planes, 2))),
        )
        .drop("__b0")
    )
    # each index row lives in exactly one bucket and probe buckets are
    # distinct → a (l, r) pair matches at most once, no post-join dedup
    _cos = pair_cosine_pandas()
    scored = l.join(ann_index, "bucket").withColumn(
        "score",
        F.round(_cos(F.col("l_v"), F.col("r_v"), F.col("l_nrm"), F.col("r_nrm")), 6),
    )
    return _top_k_per_left(scored, k)


def bm25_topk(
    docs: DataFrame,
    query_terms: list,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword retrieval (k1 = 1.2, b = 0.75): top-k documents for
    a bag of query terms — the lexical complement to embedding
    similarity in a retrieval pipeline.

    Shape: tokenize → per-(doc, term) tf + per-doc length (one
    explode + one groupBy), df per query term from the same term rows,
    idf/score as pure column math, TakeOrdered for the top k. The
    per-term document frequencies are a |query| × 1 aggregate —
    trivially broadcastable; corpus stats (N, avgdl) reduce to one
    row. No all-pairs anything: cost is O(corpus tokens) + one
    shuffle on (doc, term).

    Determinism: tf/df/dl are integers, N/avgdl derive from integers,
    and the float score is rounded to 6 decimals with an id tie-break
    — cross-engine stable (oracle-checked vs DuckDB)."""
    from ..functions import text as TX

    terms = [t.lower() for t in query_terms]
    k1, b = 1.2, 0.75
    # r15: a pre-explode spread_for_fanout was MEASURED here and
    # rejected (0.62× interleaved): the masked regroup's groups are
    # few-per-doc and heavily repeated, so round-robin spreading puts
    # every group in every partition and multiplies the partial-agg
    # shuffle rows by the core count — the opposite of the char-gram
    # keys, whose vocabulary is tiny and whose fan-out is 10× larger.
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(TX.normalized_text(F.col(text_col)), " ")).alias("term"),
    )
    # r14 optimization round: ONE corpus tokenize instead of two. The
    # old shape consumed `toks` twice (doc lengths + query-term tf),
    # re-running the normalize→split→explode corpus scan per consumer.
    # The masked regroup (the heavy-hitters recount idiom) folds both
    # into a single explode + single (id, masked-term) aggregation:
    # non-query terms collapse into one NULL bucket per doc, so the
    # shuffle carries ≤ |query|+1 partially-aggregated rows per doc,
    # and dl / tf / stats all derive from the pinned tiny result
    # (≤ (|query|+1) × docs rows — a staging table in production
    # terms). Counts are integers, identical by construction.
    mterm = F.when(F.col("term").isin(terms), F.col("term"))
    grouped = pin(
        toks.groupBy("id", mterm.alias("term")).agg(F.count(F.lit(1)).alias("cnt"))
    )
    doclen = grouped.groupBy("id").agg(F.sum("cnt").cast("long").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = grouped.filter(F.col("term").isNotNull()).select(
        "id", "term", F.col("cnt").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, ["term"])
        .join(doclen, ["id"])
        .crossJoin(stats)
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.col("id"))
        .limit(k)
        .select(F.col("id").alias(id_col), "bm25")
    )


def tfidf_topterms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k characteristic terms by tf-idf — the
    keyword-extraction face of the retrieval stack (tf and idf from
    the same tokenize→aggregate spine as ``bm25_topk``).

    Shape: one explode (map-side), one (id, term) groupBy for tf, one
    small term groupBy for df, a 1-row corpus count crossJoin, and a
    per-id window for the top-k cut. The df join is on the term
    vocabulary — heavy-tailed but bounded; AQE handles the skewed
    stop-term buckets (tf rows for a stop term are at most n_docs).

    Determinism: tf/df/n_docs are integers; the float score is rounded
    to 6 decimals BEFORE ranking with a term tie-break, so the window
    order (and therefore the emitted row set) is cross-engine stable
    — the same device the oracle-green ``bm25_topk`` uses."""
    from pyspark.sql import Window as W

    from ..functions import text as TX

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(TX.normalized_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = toks.agg(F.countDistinct("id").alias("n_docs"))
    scored = (
        tf.join(dfreq, ["term"])
        .crossJoin(stats)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = W.partitionBy("id").orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tfidf", "rank")
    )


def trigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under a char-trigram language model
    trained on the corpus itself — the classic cheap perplexity-style
    quality filter for training-data pipelines (docs whose character
    statistics diverge from the corpus — boilerplate, foreign text,
    binary junk — score high).

    Model: add-one-smoothed P(c3 | c1c2) = (count(g)+1) /
    (count(ctx)+V), with count(ctx) the corpus occurrences of the
    2-char context as a trigram prefix and V the corpus alphabet size
    (distinct third chars). Score = mean over the document's trigram
    OCCURRENCES of -ln P, i.e. its per-char cross-entropy in nats.

    Shape: trigram explode from a pre-split char array (O(1) per char
    — UTF8String.substring would be O(position), see SCALE.md), one
    groupBy for the trigram counts, a prefix re-aggregation OF THE
    COUNTS (vocabulary-sized, not corpus-sized), the model joined back
    to the per-doc gram rows on the trigram key, and one per-doc agg.
    The model table is vocabulary-bounded (≤ V^3 rows): broadcastable
    on a cluster; the in-doc sum is exact DECIMAL so the result is
    independent of partition/accumulation order (cross-engine stable
    after the 6-decimal round)."""
    from ..functions import text as TX

    from .scans import spread_for_fanout

    # char_array MUST be a projected column before char_ngrams_from:
    # an inline split inside the transform lambda re-evaluates the
    # whole normalize+split per CHARACTER (the functions/text.py
    # caveat this operator itself violated until r9 — measured 19.6 s
    # vs 0.35 s for the gram explode at sf0.01, and this stream is
    # consumed twice: model build + per-doc join).
    # r15: spread the narrow doc rows BEFORE the ~10³× gram fan-out —
    # the scan's input-byte partitioning serialized both gram scans on
    # one core locally (no-op once the scan exceeds core count).
    grams = spread_for_fanout(
        docs.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select(
        "id",
        TX.char_array(TX.normalized_text(F.col(text_col))).alias("__ch"),
    ).select(
        "id",
        F.explode(TX.char_ngrams_from(F.col("__ch"), 3)).alias("g"),
    )
    # r14 optimization round: pin the trigram count table. c3 feeds
    # THREE consumers (ctx re-aggregation, the alphabet count, the
    # model join spine) and each reference otherwise re-runs the
    # whole normalize→char-split→explode corpus scan — the before
    # plan held FOUR Generate passes over documents for one query.
    # c3 is vocabulary-bounded (≤ V³ rows — ~32k at sf0.1), so the
    # pin is a tiny staging table in production terms, and the
    # corpus is now scanned exactly twice: once to count, once to
    # score — the two-scan floor this operator shares with
    # heavy-hitters.
    c3 = pin(grams.groupBy("g").agg(F.count(F.lit(1)).alias("c3")))
    ctx = c3.groupBy(F.substring("g", 1, 2).alias("pfx")).agg(
        F.sum("c3").alias("c2")
    )
    vocab = c3.agg(
        F.countDistinct(F.substring("g", 3, 1)).alias("v_next")
    )
    model = (
        c3.withColumn("pfx", F.substring("g", 1, 2))
        .join(ctx, ["pfx"])
        .crossJoin(vocab)
        .select(
            "g",
            (
                -F.log(
                    (F.col("c3") + F.lit(1).cast("double"))
                    / (F.col("c2") + F.col("v_next"))
                )
            ).alias("nll"),
        )
    )
    return (
        # broadcast the model DELIBERATELY (guide §3.1): it is
        # vocabulary-bounded by construction, but Catalyst cannot
        # estimate a post-aggregation size — locally it had picked the
        # reverse build side (broadcasting the EXPLODED gram stream,
        # which only "fits" because the sf0.1 file-size estimate is
        # small; at corpus scale that flips to a sort-merge join that
        # shuffles every gram occurrence by its trigram). With the
        # hint the occurrence stream never shuffles: explode → probe
        # the broadcast model → partial-agg per doc.
        # PRECONDITION (r14 advisor): the hint assumes a bounded
        # alphabet — the model is ≤ V³ rows, which for a-z0-9-space
        # corpora is ≤ 50k but for a large-alphabet corpus (CJK,
        # V ~ 10⁴) can reach 10¹² and must NOT be broadcast; such a
        # deployment drops the hint and accepts the gram shuffle (or
        # gates it on a driver-side count of the pinned c3, one cheap
        # job on an already-materialized table).
        grams.join(F.broadcast(model), ["g"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.col("nll").cast("decimal(38,12)")).alias("s12"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_trigrams",
            # r9: exact-integer rounding — the per-doc decimal(38,12)
            # sum in 1e-12 units fits int64 (|nll| <= ln(corpus) ~ 45,
            # so a 1e14-char doc would still fit), and halfaway(s12 /
            # (n*1e6)) IS the 6-decimal rounding of the mean — no
            # double division before the round, so the only remaining
            # cross-engine surface is the 1e-12 quantization of each
            # engine's ln(), whose distance from any rounding cut the
            # boundary-margin test measures in exact integers
            # (tests/test_round_boundary_margin.py).
            round6_dec6_over_int(
                guard_dec_units("s12", 10**12, "n_trigrams * 1000000"),
                "n_trigrams * 1000000",
            ).alias("xent_nats"),
        )
    )
