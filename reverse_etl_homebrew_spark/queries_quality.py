"""Corpus-quality and clustering operators (round 7 extension tier,
SURVEY.md §2.11): character-entropy quality scoring, directed n-gram
containment dedup, robust (MAD) outlier detection, deterministic
shard assignment, and nearest-centroid (k-means assignment step)
clustering over the embedding column.

Determinism rules from queries.py apply throughout: per-term
decimal(38,6) casts before double sums (order-independent), 6-decimal
rounding before any rank/filter boundary on floats, and total-order
tie-breaks on every argmin/LIMIT.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from .functions import text as TX
from .functions.exactmath import (
    round6_dec6_over_int,
    round6_int_ratio,
    sql_round6_dec6_over_int,
    sql_round6_int_ratio,
)
from .operators import aggregates as AGX
from .operators.dedup import _doc_grams, _gram_overlap_pairs, _pruned_grams
from .queries import register
from .sources.catalog import load_table
from .sqlfrags import FINITE_VEC_SQL, word_ngram_rows

# per-(cluster, dim) decimal-exact mean, 6-decimal rounded by exact
# integer half-away division — cross-engine stable at ROUND
# boundaries (see functions/exactmath.py; the embedding-centroid
# sf0.1 lesson, which here would cascade into round-2 assignments)
_ROUND6_MEAN_SQL = sql_round6_dec6_over_int(
    "CAST(SUM(CAST(v AS DECIMAL(38,6))) * 1000000 AS BIGINT)", "COUNT(*)"
)


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ===========================================================================
# Character-entropy quality gate
# ===========================================================================

@register(
    "entropy-quality",
    sql=r"""
    WITH norm AS (
      SELECT doc_id,
             replace(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ', '') AS t
      FROM documents
    ), chars AS (
      SELECT doc_id, ch
      FROM (SELECT doc_id, unnest(string_split(t, '')) AS ch FROM norm)
      WHERE ch <> ''
    ), counts AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
    ), agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(c * log2(c) AS DECIMAL(38,6))) AS DOUBLE) AS s
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars_alnum,
           ROUND(log2(n) - s / n, 4) AS entropy
    FROM agg
    """,
)
def q_entropy_quality(spark, sf_dir):
    """Per-document character-level Shannon entropy over the
    normalized alphanumeric alphabet — the cheapest junk detector in a
    training-data quality pass (binary blobs masquerading as text score
    high; repeated-character/boilerplate junk scores low).

    H = log2(N) - sum(c*log2(c))/N avoids per-class p division and
    keeps every summed term a count-derived double; each term is
    rounded through decimal(38,6) before the sum so the per-doc
    aggregation is order-independent (bit-identical across partition
    schedules and engines). Plan: explode chars -> two hash
    aggregations keyed by doc_id — shuffled bytes bounded by docs ×
    alphabet (≤ 36 chars/doc), not corpus size."""
    d = _t(spark, sf_dir, "documents")
    compact = F.translate(TX.normalized_text(F.col("text")), " ", "")
    chars = (
        d.select("doc_id", F.explode(F.split(compact, "")).alias("ch"))
        .filter(F.col("ch") != "")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            (F.col("c") * F.log2("c")).cast("decimal(38,6)")
        ).cast("double").alias("s"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars_alnum"),
        F.round(F.log2("n") - F.col("s") / F.col("n"), 4).alias("entropy"),
    )


# ===========================================================================
# Directed n-gram containment dedup (subset/quote detection)
# ===========================================================================

_CONTAINMENT_SCORE_SQL = sql_round6_int_ratio(
    "p.inter", "least(sa.ng, sb.ng)"
)


@register(
    "containment-dedup",
    sql=rf"""
    WITH norm AS (
      SELECT doc_id AS id,
             trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT id, string_split(t, ' ') AS w FROM norm
    ), grams AS (
      SELECT DISTINCT id, g FROM ({word_ngram_rows('toks', 3)})
    ), sizes AS (
      SELECT id, COUNT(*) AS ng FROM grams GROUP BY id
    ), pairs AS (
      SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
    ), scored AS (
      SELECT p.a_id, p.b_id, sa.ng AS na, sb.ng AS nb,
             {_CONTAINMENT_SCORE_SQL} AS containment
      FROM pairs p
      JOIN sizes sa ON sa.id = p.a_id
      JOIN sizes sb ON sb.id = p.b_id
    )
    SELECT CASE WHEN na <= nb THEN a_id ELSE b_id END AS inner_id,
           CASE WHEN na <= nb THEN b_id ELSE a_id END AS outer_id,
           containment
    FROM scored
    WHERE containment >= 0.8
    """,
)
def q_containment_dedup(spark, sf_dir):
    """Directed n-gram containment near-dup detection: pairs where the
    smaller document's word-3-gram set is ≥ 80% contained in the
    larger's — the subset/quotation case Jaccard misses (a doc fully
    embedded in a 10× larger one has Jaccard ≈ 0.1 but containment
    1.0). Standard contamination-audit companion to `ngram-jaccard`.

    Plan: distinct (id, gram) exploded once into the shared
    gram-overlap join (operators/dedup._gram_overlap_pairs), which
    lineage-cuts it (``session.pin`` — it feeds three legs: sizes +
    both join sides; measured 3.78 → 2.80 s at sf0.1); candidate pairs
    come from a gram-keyed equi-join (shuffle ∝ gram postings, never
    all-pairs); one pair-keyed aggregation counts the intersection;
    set sizes join back. At 100 TB the gram-join is the cost center — hot
    boilerplate grams flood it (measured 13.5× superlinear under
    df-inflating 10× growth, SCALE.md); `containment-dedup-capped`
    below APPLIES that df-frequency lever; this key stays uncapped as
    the exact-algebra form. NULL-text docs are out of dedup scope on
    both sides (r10 NULL-robustness probe: the gram floor otherwise
    makes every NULL doc a containment-1.0 pair of every other).
    Re-deliveries collapse on the (id, g) relation, as in
    ``_pruned_grams``: duplicate (id, g) rows from identical copies or
    conflicting versions of one id would double sizes and
    intersections; after the DISTINCT each id's set is the union of
    its versions, as in the oracle's gram CTE."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return _directed_containment(
        _doc_grams(d, "doc_id", "text", 3).distinct(), threshold=0.8
    )


def _directed_containment(grams, threshold: float):
    """Directed containment over a (id, g) distinct-gram relation:
    the shared gram-overlap join (``_gram_overlap_pairs``, which pins
    ``grams``) → divide the intersection by the smaller set size →
    orient (inner = smaller doc). Shared by the uncapped and df-capped
    containment keys; the caller decides what the gram universe is
    (full vocabulary vs df-capped)."""
    scored = _gram_overlap_pairs(grams).select(
        "a_id", "b_id", "a_size", "b_size",
        # exact integer half-away rounding: inter/min-size ratios
        # of counts can land on .5e-7 cuts where double ROUND
        # diverges across engines (functions/exactmath.py)
        round6_int_ratio("inter", "least(a_size, b_size)").alias("containment"),
    )
    small_first = F.col("a_size") <= F.col("b_size")
    return scored.filter(F.col("containment") >= threshold).select(
        F.when(small_first, F.col("a_id")).otherwise(F.col("b_id")).alias("inner_id"),
        F.when(small_first, F.col("b_id")).otherwise(F.col("a_id")).alias("outer_id"),
        "containment",
    )


@register(
    "containment-dedup-capped",
    sql=rf"""
    WITH norm AS (
      SELECT doc_id AS id,
             trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT id, string_split(t, ' ') AS w FROM norm
    ), grams0 AS (
      SELECT DISTINCT id, g FROM ({word_ngram_rows('toks', 3)})
    ), dfs AS (
      SELECT g, COUNT(*) AS df FROM grams0 GROUP BY g
    ), grams AS (
      SELECT g0.id, g0.g
      FROM grams0 g0 JOIN dfs USING (g)
      WHERE dfs.df <= GREATEST(5, CAST(FLOOR(
              0.002 * (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL)) AS BIGINT))
    ), sizes AS (
      SELECT id, COUNT(*) AS ng FROM grams GROUP BY id
    ), pairs AS (
      SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
      GROUP BY a.id, b.id
    ), scored AS (
      SELECT p.a_id, p.b_id, sa.ng AS na, sb.ng AS nb,
             {_CONTAINMENT_SCORE_SQL} AS containment
      FROM pairs p
      JOIN sizes sa ON sa.id = p.a_id
      JOIN sizes sb ON sb.id = p.b_id
    )
    SELECT CASE WHEN na <= nb THEN a_id ELSE b_id END AS inner_id,
           CASE WHEN na <= nb THEN b_id ELSE a_id END AS outer_id,
           containment
    FROM scored
    WHERE containment >= 0.8
    """,
)
def q_containment_dedup_capped(spark, sf_dir):
    """`containment-dedup` with the document-frequency cap the uncapped
    key's docstring names as its 100 TB cost center actually applied:
    grams whose corpus document frequency exceeds the cap are dropped
    BEFORE the postings join, bounding every posting list (and thus
    pairs-per-gram, the quadratic term) at the cap. Both the
    intersection and the set sizes are computed over the SAME capped
    vocabulary, so the score is exact containment of boilerplate-free
    gram sets — the identical algebra runs in the SQL oracle. The
    lower-bound alternative (cap postings only, keep full-set sizes)
    was measured to lose ALL recall here: clone-cluster grams have
    df ≈ cluster size, so they are exactly the grams a cap drops.

    Cap = max(5, floor(0.2% of corpus docs)) — scales with the corpus
    so clone clusters below the cap stay detectable while the Zipf
    head (boilerplate) is bounded. It is a scalar subquery over the
    same non-NULL-text universe, as in the oracle, so the cap costs no
    driver-side count.

    Plan: the pruned gram set goes through the same gram-overlap join
    as `containment-dedup` and `ngram-jaccard` (operators/dedup.py),
    which lineage-cuts it once for its three legs."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_docs = d.select(F.count(F.lit(1))).scalar()
    df_cap = F.greatest(F.lit(5), F.floor(F.lit(0.002) * n_docs).cast("long"))
    pruned = _pruned_grams(d, "doc_id", "text", 3, df_cap)
    return _directed_containment(pruned, threshold=0.8)


# ===========================================================================
# Robust outliers: median absolute deviation
# ===========================================================================

@register(
    "mad-outliers",
    sql="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE isfinite(value) GROUP BY event_type
    ), dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS d
      FROM events e JOIN med m USING (event_type)
      WHERE isfinite(e.value)
    ), mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev
      GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value,
           ROUND(d.d / (1.4826 * m.mad), 4) AS robust_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND d.d > 3 * 1.4826 * m.mad
    """,
)
def q_mad_outliers(spark, sf_dir):
    """Robust per-metric outlier sweep via median absolute deviation —
    the z-score twin (`anomaly-zscore`) that a handful of extreme
    points cannot poison, because median and MAD have a 50% breakdown
    point vs the mean/stddev's 0%.

    Two tiny per-event_type stat aggregations (exact interpolated
    median — identical `lower + (upper-lower)*frac` arithmetic in
    Spark `percentile` and DuckDB `quantile_cont`, so the filter
    boundary agrees bit-for-bit), each broadcast back onto the scan;
    the big side never shuffles. At 100 TB swap the exact median for
    `percentile_approx` and re-derive the oracle with the same sketch
    — the plan shape is unchanged."""
    ev = _t(spark, sf_dir, "events").filter(AGX.is_finite(F.col("value")))
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "value",
        F.abs(F.col("value") - F.col("med")).alias("d"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.col("d") > 3 * 1.4826 * F.col("mad")))
        .select(
            "event_id", "event_type", "value",
            F.round(F.col("d") / (1.4826 * F.col("mad")), 4).alias("robust_z"),
        )
    )


# ===========================================================================
# Deterministic shard assignment
# ===========================================================================

@register(
    "shard-assign",
    sql="""
    WITH s AS (
      SELECT doc_id, n_chars,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 16 AS INTEGER) AS shard
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM s GROUP BY shard
    """,
)
def q_shard_assign(spark, sf_dir):
    """Deterministic 16-way shard assignment from the md5-prefix
    device (`split-assign`'s sibling): shard membership is a pure
    function of the document key, so output file layout is stable
    across reruns and engines — the property that makes incremental
    re-shards and cross-engine audits diff-able. The per-shard size
    report is the balance check (md5 uniformity keeps skew ~1/sqrt(n)
    per shard). One hash aggregation; at 100 TB this same expression
    feeds `DataFrameWriter.partitionBy` for the physical write."""
    d = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 16
    ).cast("int")
    return (
        d.select(shard.alias("shard"), "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ===========================================================================
# Nearest-centroid assignment (the k-means "assign" step)
# ===========================================================================

_KMEANS_K = 8

_KM_DIST_SQL = (
    "list_sum(list_transform(list_zip(e.embedding, c.cv), "
    "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
)

@register(
    "kmeans-assign",
    sql=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {_KMEANS_K} AND {FINITE_VEC_SQL.format(c='embedding')}
    ), scored AS (
      SELECT e.vec_id, c.cid,
             ROUND({_KM_DIST_SQL}, 6) AS dist
      FROM embeddings e, c
      WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
    ), ranked AS (
      SELECT vec_id, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cid) AS rn
      FROM scored
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id, dist
    FROM ranked WHERE rn = 1
    """,
)
def q_kmeans_assign(spark, sf_dir):
    """Nearest-centroid assignment — the inner "assign" step of
    Lloyd's k-means and the routing step of IVF indexing, against a
    deterministic seed set (the K lowest vec_ids, the same seeding
    rule `topk-similarity-ivf` uses). Composes with
    `embedding-centroid` (the "update" step) into a full distributed
    k-means iteration.

    Plan: the K centroids collect to the driver (O(K·dim), like the
    IVF seeds) and unroll into ONE map-side projection — squared-L2 to
    every centroid as flat left-fold arithmetic (bit-identical to
    DuckDB's list_sum fold; see functions/vectors.py), argmin picked
    by array_min over (dist, cid) structs. Zero shuffle, zero join:
    at 100 TB this runs at scan speed, embarrassingly parallel."""
    from .functions import vectors as VEC

    e = _t(spark, sf_dir, "embeddings")
    seeds = _seed_centroids(e)
    if not seeds:  # r11 empty-input contract: schema-correct empty
        return _assign_embeddings(e, [(0, [0.0])]).where(F.lit(False))
    # finite scope comes from the masking distance kernel inside
    # _assign_embeddings — no input-side fold filter (measured 7×
    # through the iterate plan's fan-out)
    return _assign_embeddings(e, seeds)


def _seed_centroids(e):
    # NULL-embedding seed rows carry no usable centroid and would
    # crash the float() unroll (r12, the advisor's query_vector crash
    # class) — excluded on BOTH engines (the oracles' c CTEs filter
    # embedding IS NOT NULL identically).
    from .functions import vectors as VEC

    seeds = (
        e.filter(F.col("vec_id") < _KMEANS_K)
        .filter(VEC.finite_vector(F.col("embedding")))
        .select("vec_id", "embedding")
        .collect()
    )
    return sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds
    )


def _assign_embeddings(e, centroids):
    """Nearest-centroid assignment for a (cid, vector) list: raw
    squared-L2 distances from the Arrow left-fold kernel (bit-identical
    to the codegen fold and the SQL oracle — see
    vectorized.centroid_dists_pandas, which exists because K unrolled
    distance expressions cost tens of seconds of janino compile),
    then JVM-side 6-decimal rounding and argmin via array_min over
    (dist, cid) structs. Zero shuffle, zero join."""
    from .operators.vectorized import centroid_dists_pandas

    dists = centroid_dists_pandas([cv for _, cv in centroids])
    # the masking kernel emits NULL for corrupt vectors — the
    # finite-geometry scope as an attribute-barrier filter
    d = e.select("vec_id", dists(F.col("embedding")).alias("__d")).where(
        F.col("__d").isNotNull()
    )
    choices = F.array(*[
        F.struct(
            F.round(F.element_at(F.col("__d"), j + 1), 6).alias("dist"),
            F.lit(cid).cast("int").alias("cid"),
        )
        for j, (cid, _) in enumerate(centroids)
    ])
    best = F.array_min(choices)
    return d.select(
        "vec_id",
        best["cid"].alias("centroid_id"),
        best["dist"].alias("dist"),
    )


_KM_DIST2_SQL = _KM_DIST_SQL.replace("c.cv", "c1.cv")

@register(
    "kmeans-iterate",
    sql=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {_KMEANS_K} AND {FINITE_VEC_SQL.format(c='embedding')}
    ), scored AS (
      SELECT e.vec_id, c.cid,
             ROUND({_KM_DIST_SQL}, 6) AS dist
      FROM embeddings e, c
      WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
    ), a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    ), ex AS (
      SELECT a1.cid, r.i, CAST(e.embedding[r.i + 1] AS DOUBLE) AS v
      FROM embeddings e
      JOIN a1 USING (vec_id),
      UNNEST(range(len(e.embedding))) AS r(i)
    ), m AS (
      SELECT cid, i,
             {_ROUND6_MEAN_SQL} AS comp
      FROM ex GROUP BY cid, i
    ), c1 AS (
      SELECT cid, list(comp ORDER BY i) AS cv FROM m GROUP BY cid
    ), scored2 AS (
      SELECT e.vec_id, c1.cid,
             ROUND({_KM_DIST2_SQL}, 6) AS dist
      FROM embeddings e, c1
      WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
    ), ranked2 AS (
      SELECT vec_id, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cid) AS rn
      FROM scored2
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id, dist
    FROM ranked2 WHERE rn = 1
    """,
)
def q_kmeans_iterate(spark, sf_dir):
    """One full Lloyd's k-means ITERATION beyond seeding: assign to
    the K seed vectors, recompute per-cluster mean centroids
    (decimal-exact per-dimension sums, 6-decimal rounded — the
    `embedding-centroid` update step keyed by cluster instead of
    label), then re-assign against the updated centroids. Extending to
    N iterations is this loop run N times; the plan per iteration is
    flat (centroids live driver-side as K·dim literals, so lineage
    never grows — unlike `connected_components`, no checkpoint is
    needed).

    Oracle-backed though iterative: the SQL unrolls the SAME two
    rounds — seed assignment, per-(cluster, dim) decimal mean,
    re-assignment — so the argmin geometry, the update arithmetic, and
    every tie-break are all checked row-for-row. Scale: two scans +
    one (cluster, dim)-keyed aggregation per iteration; the K·dim
    collect between rounds is the IVF-seed pattern (bytes, not
    data)."""
    from .functions import vectors as VEC

    e = _t(spark, sf_dir, "embeddings")
    seeds = _seed_centroids(e)
    if not seeds:  # r11 empty-input contract: schema-correct empty
        return _assign_embeddings(e, [(0, [0.0])]).where(F.lit(False))
    dim = len(seeds[0][1])
    # finite scope via the masking kernel inside _assign_embeddings;
    # the update step joins on the ASSIGNED ids, so corrupt vectors
    # never reach the mean either
    a1 = _assign_embeddings(e, seeds).select("vec_id", "centroid_id")
    ex = (
        e.join(a1, "vec_id")
        .select("centroid_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "centroid_id", "pos", F.col("v").cast("double").alias("v")
        )
    )
    m = ex.groupBy("centroid_id", "pos").agg(
        (F.sum(F.col("v").cast("decimal(38,6)")) * 1000000)
        .cast("long")
        .alias("s6"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select(
        "centroid_id",
        "pos",
        round6_dec6_over_int("s6", "n").alias("comp"),
    )
    comps: dict = {}
    for r in m.collect():
        comps.setdefault(int(r["centroid_id"]), {})[int(r["pos"])] = float(
            r["comp"]
        )
    updated = sorted(
        (cid, [by_pos[p] for p in range(dim)]) for cid, by_pos in comps.items()
    )
    return _assign_embeddings(e, updated)
