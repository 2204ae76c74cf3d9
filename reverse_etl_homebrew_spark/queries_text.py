"""Text-analysis, dedup, and similarity-search operator queries
(SURVEY.md §2.11 — the training-data-pipeline tier) over the
``documents`` and ``embeddings`` tables.

Oracle-checkable ops carry exact DuckDB SQL; the sketch-based near-dup
ops (SimHash blocks, hyperplane LSH) are registered
rows-only — their correctness is asserted structurally in pytest
(tests/test_dedup.py) instead, since no independent engine reproduces
the same sketches.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from .functions import text as TX, vectors as VEC
from .operators import chunking as CH, dedup as DD, merge as MG, similarity as SIM
from .sources.catalog import load_table
from .functions.exactmath import (
    guard_den,
    round6_int_ratio,
    sql_guard_den,
    sql_guard_dec_units,
    sql_round6_dec6_over_int,
    sql_round6_int_ratio,
)
from .queries import register

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@register(
    "token-count",
    sql=r"""
    SELECT doc_id,
           len(regexp_extract_all(trim(text), '\S+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    """Whitespace + BPE-ish token counting (extension op; SNIPPETS.md
    Arrow patterns deliberately avoided — pure JVM regex)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
        TX.char_count(F.col("text")).alias("n_chars"),
    )


@register(
    "text-analysis",
    sql=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(trim(text), '\S+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
                         AS DECIMAL(38,6))) AS DOUBLE) AS total_punct_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_analysis(spark, sf_dir):
    """Corpus statistics per language: doc/token/char totals and
    punctuation mass — the aggregate form of the quality pre-filter."""
    d = _t(spark, sf_dir, "documents")
    punct_chars = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?'\"()\[\]{}-]", ""))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).alias("total_tokens"),
        F.sum(F.length(F.col("text"))).alias("total_chars"),
        F.sum(punct_chars.cast("decimal(38,6)")).cast("double").alias("total_punct_chars"),
    )


@register(
    "quality-score",
    sql=r"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(trim(text), '\S+')) AS DOUBLE) AS n_tok,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
                            AS DOUBLE) / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS punct_ratio
      FROM documents
    )
    SELECT doc_id,
           0.4::DOUBLE * (CASE WHEN n_chars >= 50 AND n_chars <= 20000
                               THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
         + 0.3::DOUBLE * (CASE WHEN n_tok > 0 AND n_chars / n_tok >= 3.0
                                    AND n_chars / n_tok <= 12.0
                               THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
         + 0.3::DOUBLE * (CASE WHEN punct_ratio <= 0.2
                               THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS quality
    FROM m
    """,
)
def q_quality_score(spark, sf_dir):
    """Composite [0,1] text-quality score (length / word-shape /
    punctuation gates with fixed weights)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


@register(
    "doc-fingerprint",
    sql=f"""
    SELECT doc_id, sha256({_NORM_SQL.format(c='text')}) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Canonical-form content fingerprint (sha-256 over normalized
    text) — the exact-dedup key."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.sha_fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "exact-dedup",
    sql=f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY sha256({_NORM_SQL.format(c='text')})
                                ORDER BY doc_id NULLS LAST, lang NULLS LAST,
                                         source NULLS LAST, text NULLS LAST) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_exact_dedup(spark, sf_dir):
    """Exact-content dedup: one survivor (lowest doc_id) per
    normalized-text fingerprint. NULLS LAST explicit on both sides: a
    NULL-id duplicate survives only when no identifiable twin exists
    (r11 NULL-key probe). Survivor election is a TOTAL order (r12,
    advisor finding): ties on doc_id (two NULL-id twins sharing a
    fingerprint) tie-break over the remaining columns on both
    engines, so the elected row's non-key columns are deterministic
    instead of partition-order dependent."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    return DD.content_dedup(d, "text").select("doc_id", "lang", "source")


@register(
    "lang-id",
    sql=r"""
    WITH toks AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(trim(text), '\S+'), t -> lower(t)) AS tt
      FROM documents
    ), hits AS (
      SELECT doc_id,
             len(list_filter(tt, t -> t IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS h_de,
             len(list_filter(tt, t -> t IN ('the','and','of','to','is','in','that','it','for','with'))) AS h_en,
             len(list_filter(tt, t -> t IN ('el','la','los','y','es','no','por','que','las','una'))) AS h_es,
             len(list_filter(tt, t -> t IN ('le','la','les','et','est','pas','pour','que','des','une'))) AS h_fr
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN coalesce(greatest(h_de, h_en, h_es, h_fr), 0) = 0 THEN 'und'
                WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM hits
    """,
)
def q_lang_id(spark, sf_dir):
    """Stopword-marker language identification (deterministic n-gram
    heuristic; the production swap-in is a model UDF with the same
    column signature).

    The oracle is a per-row argmax CASE (ties break toward the
    lexicographically LAST language, matching the engine), not an
    unpivot + QUALIFY-over-doc_id: partitioning by doc_id silently
    assumes id uniqueness, and the r11 NULL-key probe showed all
    NULL-id docs collapsing into one partition — the Spark side is
    per-row map-side and never grouped."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


from .sqlfrags import (  # noqa: E402
    _DOT_SQL,
    _TOPK_SIM_SQL,
    FINITE_VEC_SQL,
    word_ngram_rows,
)


def _bucket_sql(vec_expr: str, planes) -> str:
    """Hyperplane sign-bucket of a vector expression in SQL, bit for
    bit the bucket the engine's Arrow bucketer emits (first plane =
    MSB). Plane constants are the same deterministic xorshift values
    the engine uses, inlined as list literals."""
    n = len(planes)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(v)) for v in p) + "]"
        dot = _DOT_SQL.format(a=vec_expr, b=lit)
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << (n - 1 - i)} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@register("topk-similarity", sql=_TOPK_SIM_SQL)
@register("topk-similarity-pandas", sql=_TOPK_SIM_SQL)
def q_topk_similarity(spark, sf_dir):
    """Exact top-k cosine similarity against a query vector (vec_id 0)
    — brute-force baseline: map-side scoring in double precision plus
    TakeOrderedAndProject; zero shuffle (EDBT 2020 / ICDE 2021 anchors,
    PAPERS.md). Registered as `topk-similarity` and as
    `topk-similarity-pandas` (the Arrow scale path's name: the scorer
    IS the Arrow kernel, plan size independent of the dimension).
    Scored by ``topk_brute``'s fused kernel, whose ``ok`` flag is the
    finite-geometry scope: a NaN/Inf-component vector would otherwise
    score NaN, which Spark ranks above every number in a descending
    sort."""
    emb = _t(spark, sf_dir, "embeddings")
    query, found = VEC.query_vector(emb)
    out = SIM.topk_brute(emb, query, k=10)
    return out if found else out.where(F.lit(False))


@register(
    "knn-join",
    sql=f"""
    WITH l AS (
      SELECT vec_id AS l_id, embedding AS l_v FROM embeddings
      WHERE vec_id < 20 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), r AS (
      SELECT vec_id AS r_id, embedding AS r_v FROM embeddings
      WHERE {FINITE_VEC_SQL.format(c='embedding')}
    ), scored AS (
      SELECT l_id, r_id,
             ROUND({_DOT_SQL.format(a='l_v', b='r_v')}
                   / (sqrt({_DOT_SQL.format(a='l_v', b='l_v')})
                      * sqrt({_DOT_SQL.format(a='r_v', b='r_v')})), 6) AS score
      FROM l, r
    )
    SELECT l_id, r_id, score FROM scored
    QUALIFY row_number() OVER (PARTITION BY l_id ORDER BY score DESC, r_id) <= 3
    """,
)
def q_knn_join(spark, sf_dir):
    """k-NN join: 3 nearest neighbors (cosine) for each of 20 query
    vectors against the whole embedding table. exact=True is the
    bounded-query-batch opt-in (20 rows vs corpus); the operator's
    DEFAULT is the hyperplane-bucketed candidate join that never
    cross-joins two large sides (see knn-join-lsh)."""
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20)
    return SIM.knn_join(left, emb, k=3, exact=True)


def _knn_join_tables_sql() -> str:
    from .operators.similarity import _deterministic_planes

    tables, planes = 3, 6
    hp_all = _deterministic_planes(planes * tables, 64)
    eqs = []
    for t in range(tables):
        hp = hp_all[t * planes : (t + 1) * planes]
        bl = _bucket_sql("l.l_v", hp)
        br = _bucket_sql("r.r_v", hp)
        eqs.append(f"({bl} = {br})")
    any_table = " OR ".join(eqs)
    dot = _DOT_SQL.format(a="l.l_v", b="r.r_v")
    nl = _DOT_SQL.format(a="l.l_v", b="l.l_v")
    nr = _DOT_SQL.format(a="r.r_v", b="r.r_v")
    return f"""
    WITH l AS (
      SELECT vec_id AS l_id, embedding AS l_v FROM embeddings
      WHERE vec_id < 200 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), r AS (
      SELECT vec_id AS r_id, embedding AS r_v FROM embeddings
      WHERE {FINITE_VEC_SQL.format(c='embedding')}
    ), scored AS (
      SELECT l_id, r_id,
             ROUND(CASE WHEN sqrt({nl}) * sqrt({nr}) > 0
                        THEN {dot} / (sqrt({nl}) * sqrt({nr})) END, 6) AS score
      FROM l JOIN r ON {any_table}
    )
    SELECT l_id, r_id, score FROM scored
    QUALIFY row_number() OVER (PARTITION BY l_id ORDER BY score DESC, r_id) <= 3
    """


@register("knn-join-tables", sql=_knn_join_tables_sql())
def q_knn_join_tables(spark, sf_dir):
    """Multi-table k-NN join: 3 independent hash tables (disjoint
    plane sets, Arrow-matmul bucket computation, no probing), the
    beyond-1e7-rows configuration where recall comes from table count
    instead of probe radius. Oracle-backed: the SQL recomputes every
    table's sign bucket and expresses the candidate set as "buckets
    equal in ANY table", so the cross-table semantics (including the
    pair dedup) are verified pair-for-pair."""
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 200)
    return SIM.knn_join(left, emb, k=3, planes=6, tables=3, probe_radius=0)


def _bucketed_knn_sql(l_where: str, r_where: str) -> str:
    """Oracle of the bucketed 3-NN join (6 planes, Hamming-radius-2
    probes) from the ``l`` rows of ``l_where`` to the ``r`` rows of
    ``r_where``: both sides' sign buckets recomputed from the same
    deterministic planes, the probe set as bit_count(xor(bl, br)) <= 2."""
    from .operators.similarity import _deterministic_planes

    planes = _deterministic_planes(6, 64)
    b = _bucket_sql("embedding", planes)
    dot = _DOT_SQL.format(a="l.l_v", b="r.r_v")
    nl = _DOT_SQL.format(a="l.l_v", b="l.l_v")
    nr = _DOT_SQL.format(a="r.r_v", b="r.r_v")

    def where(pred):
        return " AND ".join(p for p in (pred, FINITE_VEC_SQL.format(c="embedding")) if p)

    return f"""
    WITH l AS (
      SELECT vec_id AS l_id, embedding AS l_v, CAST({b} AS BIGINT) AS bl
      FROM embeddings WHERE {where(l_where)}
    ), r AS (
      SELECT vec_id AS r_id, embedding AS r_v, CAST({b} AS BIGINT) AS br
      FROM embeddings WHERE {where(r_where)}
    ), scored AS (
      SELECT l_id, r_id,
             ROUND(CASE WHEN sqrt({nl}) * sqrt({nr}) > 0
                        THEN {dot} / (sqrt({nl}) * sqrt({nr})) END, 6) AS score
      FROM l JOIN r ON bit_count(xor(l.bl, r.br)) <= 2
    )
    SELECT l_id, r_id, score FROM scored
    QUALIFY row_number() OVER (PARTITION BY l_id ORDER BY score DESC, r_id) <= 3
    """


@register("knn-join-lsh", sql=_bucketed_knn_sql("vec_id < 200", ""))
def q_knn_join_lsh(spark, sf_dir):
    """Scale-safe default k-NN join: both sides hyperplane-bucketed,
    candidates scored only inside matching buckets (equi-join on the
    bucket key — plain shuffle, no |L|x|R| replication). Oracle-backed:
    the SQL recomputes both sides' sign buckets from the same
    deterministic planes and expresses the radius-2 probe set as
    bit_count(xor(bl, br)) <= 2, verifying the approximate candidate
    semantics pair-for-pair, not just row counts. planes=6 is the
    oracle's plane count: the operator's auto-size would pick 7 from
    4 033 right rows on and diverge from it."""
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 200)
    return SIM.knn_join(left, emb, k=3, planes=6)


@register(
    "incremental-knn",
    sql=_bucketed_knn_sql("vec_id % 10 = 0", "vec_id % 10 <> 0"),
)
def q_incremental_knn(spark, sf_dir):
    """Vector-tier incremental k-NN (r12, the judge's #5): the
    vec_id % 10 = 0 slice plays the NEW ingest batch, the rest the
    accepted corpus whose bucketed ANN index (`build_ann_index`) is —
    in production — a PERSISTED table bucketed on the bucket key. Each
    batch vector retrieves its 3 approximate nearest accepted
    neighbors: batch-side multi-probe (Hamming radius 2) explode +
    equi-join on the bucket key, so per-ingest shuffle is
    O(batch × probes) and the index never moves (flat at 10× corpus —
    fixtures/tenx_incremental_knn.py, SCALE.md). Oracle-backed like
    knn-join-lsh: the SQL recomputes both sides' sign buckets from the
    same deterministic planes and the radius-2 probe set as
    bit_count(xor(bl, br)) <= 2 — candidate semantics verified
    pair-for-pair, any recall loss vs the declared probe set is a
    driver FAIL."""
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    accepted = emb.filter(F.col("vec_id") % 10 != 0)
    idx = SIM.build_ann_index(accepted, planes=6)
    return SIM.incremental_knn(batch, idx, k=3, planes=6)


# --- near-dup operators: exact-verified ones carry a brute-force SQL
# oracle (any LSH recall loss = row mismatch = driver FAIL); pure
# sketch surfaces stay rows-only ---------------------------------------------

# Brute-force exact word-3-gram Jaccard ≥ 0.5 over the documents
# corpus, pruning grams with document frequency > 100 — gram-for-gram
# the same definition as operators/dedup._pruned_grams, so an engine
# result must equal it pair-for-pair. `ngram-jaccard` and `fuzzy-dedup`
# (both operators/dedup.ngram_jaccard_pairs) answer to it directly;
# `fuzzy-dedup-clusters` and `dedup-survivorship` extend it with a
# recursive-CTE connected-components closure.
_JACCARD_CTES = rf"""norm AS (
  SELECT doc_id AS id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL
), toks AS (
  SELECT id, string_split(t, ' ') AS w FROM norm
), grams AS (
  SELECT DISTINCT id, g FROM ({word_ngram_rows('toks', 3)})
), pruned AS (
  SELECT * FROM grams WHERE g NOT IN (SELECT g FROM grams GROUP BY g HAVING count(*) > 100)
), sizes AS (
  SELECT id, count(*) AS set_size FROM pruned GROUP BY id
), pair_inter AS (
  SELECT a.id AS a_id, b.id AS b_id, count(*) AS inter
  FROM pruned a JOIN pruned b ON a.g = b.g AND a.id < b.id
  GROUP BY 1, 2
), jpairs AS (
  SELECT a_id, b_id,
         CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) AS jaccard
  FROM pair_inter
  JOIN sizes sa ON sa.id = a_id
  JOIN sizes sb ON sb.id = b_id
  WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
)"""

_EXACT_JACCARD_SQL = f"WITH {_JACCARD_CTES}\nSELECT a_id, b_id, jaccard FROM jpairs"

# Exact pairs → undirected edges → transitive closure (recursive CTE)
# → min-id component label → survivors = docs that are not a non-min
# member of any duplicate cluster. SQL-checkable because the engine's
# cluster input is the exact pair set, not sketch candidates.
_CLUSTER_SURVIVORS_SQL = f"""WITH RECURSIVE {_JACCARD_CTES}, edges AS (
  SELECT a_id AS u, b_id AS v FROM jpairs
  UNION
  SELECT b_id, a_id FROM jpairs
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
)
SELECT doc_id FROM documents d
WHERE text IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM comp
                  WHERE comp.id = d.doc_id AND comp.id <> comp.component)
"""
# ^ NOT EXISTS, not NOT IN: the engine's survivor filter is a
# left_anti join, and SQL NOT IN silently drops NULL-id docs (which
# are singletons — no pair edge can reach a NULL id — and therefore
# survive on the engine side). r11 NULL-key probe.


@register("ngram-jaccard", sql=_EXACT_JACCARD_SQL)
@register("fuzzy-dedup", sql=_EXACT_JACCARD_SQL)
def q_fuzzy_dedup(spark, sf_dir):
    """Near-duplicate pairs: exact word-3-gram Jaccard ≥ 0.5 over every
    pair sharing a gram, with a hot-shingle document-frequency cap —
    registered as `fuzzy-dedup` (the dedup tier's name) and as
    `ngram-jaccard`. The oracle is the BRUTE-FORCE exact Jaccard pair
    set, and the gram-overlap join finds every pair with a shared
    gram, so recall and precision are both 1.0 by construction (and
    value-for-value: identical integer inter/union sizes divide to
    bit-identical doubles)."""
    return DD.ngram_jaccard_pairs(_corpus_nn(spark, sf_dir), threshold=0.5)


def _corpus(spark, sf_dir):
    """documents, spread across the local cores: the test corpus is a
    single parquet split, which would serialize the normalize/explode
    map stage of the gram and fingerprint pipelines into one task.
    Text here is tiny, so the spread shuffle is ~free. The operators
    do not force this themselves: at corpus scale a raw-text
    repartition is a full-corpus shuffle, so only callers on few-split
    corpora spread first."""
    d = _t(spark, sf_dir, "documents")
    return d.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def _corpus_nn(spark, sf_dir):
    """The DEDUP universe: _corpus minus NULL-text docs, explicit on
    both engines (r10 NULL-robustness probe). A NULL text can't be
    shingled or fingerprinted; worse, Spark's gram floor mapped every
    NULL doc to the same degenerate shingle set, so all NULL docs
    became mutual jaccard-1.0 pairs — an O(NULL-docs²) pair explosion
    at corpus scale. Upstream quality filters own NULL docs; dedup
    never sees them."""
    return _corpus(spark, sf_dir).filter(F.col("text").isNotNull())


# Shared by `decontaminate` and its Bloom-prefiltered twin: the
# prefilter is EXACT by construction (hash collisions only admit false
# candidates to an exact join), so both keys answer to one oracle.
_DECON_SQL = rf"""
    WITH norm AS (
      SELECT doc_id AS id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT id, string_split(t, ' ') AS w FROM norm
    ), grams AS (
      SELECT DISTINCT id, g FROM ({word_ngram_rows('toks', 8)})
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE id % 10 = 0
    )
    SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS shared_grams
    FROM grams JOIN bench USING (g)
    WHERE id % 10 <> 0
    GROUP BY id
    HAVING count(*) >= 1
    """


@register("decontaminate", sql=_DECON_SQL)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (training-data pipeline): training
    docs (doc_id % 10 != 0) sharing any distinct word-8-gram with the
    held-out benchmark split (doc_id % 10 = 0). One equi-join on the
    gram key against the DISTINCT benchmark gram set — O(train tokens),
    no all-pairs; the planted near-dup structure of the corpus makes
    the hit set non-trivial. Oracle: the same gram algebra brute-forced
    in SQL."""
    d = _corpus_nn(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 10 != 0)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    return DD.contamination_flags(train, bench, n=8)


@register("decontaminate-bloom", sql=_DECON_SQL)
def q_decontaminate_bloom(spark, sf_dir):
    """`decontaminate` through the Bloom-style runtime prefilter
    (operators/dedup.contamination_flags_prefiltered): the train gram
    stream passes two broadcast semi-joins on 8-byte
    ``xxhash64(g) mod m`` positions before the exact gram join, so at
    scale the non-candidate bulk dies map-side inside the scan stage
    instead of shuffling toward a join whose build side outgrew the
    broadcast threshold. Output — and therefore the oracle — is
    identical to `decontaminate`: the final join is exact."""
    d = _corpus_nn(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 10 != 0)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    return DD.contamination_flags_prefiltered(train, bench, n=8)


# Span-level exact duplicate detection (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better"): repeated fixed-length
# token windows ACROSS documents — the gap between whole-document exact
# dedup (doc-fingerprint) and per-doc repetition (repetition-metrics).
# Window length in whitespace tokens; the paper's 50-token spans shrink
# to 8 here because the synthetic docs are short — semantics identical.
_SPAN_L = 8

# Both ops share the window stream: tokenize once behind a projection
# boundary, explode every length-L window, shuffle on the window
# STRING (oracle-exact; a hashed two-phase key measured slower, see
# SCALE.md). Shuffle volume is O(total tokens), the ngram-topk
# profiling cost class.
_SPAN_WINS_SQL = rf"""
    toks AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS tt
      FROM documents
    ), wins AS (
      {word_ngram_rows('toks', _SPAN_L, id_expr='doc_id', tok_expr='tt',
                       id_alias='doc_id', win_alias='win', short_docs='drop')}
    )
"""


@register(
    "dup-span-detect",
    sql=rf"""
    WITH {_SPAN_WINS_SQL}
    SELECT win,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_spans
    FROM wins
    GROUP BY win
    HAVING count(DISTINCT doc_id) > 1
    """,
)
def q_dup_span_detect(spark, sf_dir):
    """Cross-document duplicated spans: every length-_SPAN_L token
    window whose exact text occurs in more than one document, with its
    document and span frequencies. One hash shuffle on the window key
    (count-distinct planned as a partial-agg expand, no second data
    scan); no all-pairs anywhere."""
    return DD.duplicate_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id", _SPAN_L
    )


_DUP_SPAN_RATE_SQL = sql_round6_int_ratio("n_dup_spans", sql_guard_den("n_spans"))


@register(
    "dup-span-rate",
    sql=rf"""
    WITH {_SPAN_WINS_SQL}, wc AS (
      SELECT win, count(*) AS c FROM wins GROUP BY win
    ), per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      FROM wins JOIN wc USING (win)
      WHERE doc_id IS NOT NULL
      GROUP BY doc_id
    )
    SELECT doc_id, n_spans, n_dup_spans, {_DUP_SPAN_RATE_SQL} AS dup_rate
    FROM per_doc
    """,
)
def q_dup_span_rate(spark, sf_dir):
    """Per-document duplicated-span fraction: share of a doc's token
    windows whose text occurs ≥2 times corpus-wide (any document,
    including elsewhere in the same doc) — the span-level quality
    signal the filtering recipes threshold on. Two shuffles on the
    window key (count + join back) then one on doc_id; the join reuses
    the window-key partitioning. Exact integer 6-decimal rounding so
    both engines agree at .5e-7 cuts. NULL-id docs' windows still feed
    the corpus frequencies (wc) but the per-doc report is identified
    docs only — explicit on both sides (r11 NULL-key probe)."""
    return DD.dup_span_rate(
        _t(spark, sf_dir, "documents"), "text", "doc_id", _SPAN_L
    )


@register(
    "incremental-dup-spans",
    sql=rf"""
    WITH {_SPAN_WINS_SQL}, batch AS (
      SELECT * FROM wins WHERE doc_id % 10 = 0
    ), idx AS (
      SELECT DISTINCT win FROM wins WHERE doc_id % 10 <> 0
    ), counted AS (
      SELECT win,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_spans
      FROM batch GROUP BY win
    )
    SELECT c.win, c.n_docs, c.n_spans, (i.win IS NOT NULL) AS in_index
    FROM counted c LEFT JOIN idx i ON c.win = i.win
    WHERE i.win IS NOT NULL OR c.n_docs > 1
    """,
)
def q_incremental_dup_spans(spark, sf_dir):
    """Span-level incremental dedup: the doc_id % 10 = 0 slice plays
    the NEW ingest batch, the rest of the corpus the accepted history
    whose distinct windows form the span index. Flags every batch
    window already present in the index (cross-batch) or occurring in
    >1 batch document (within-batch). One window-key shuffle over the
    BATCH only plus a batch-vocabulary-sized left join against the
    (bucketed, in production) index — per-ingest cost O(batch tokens),
    never a corpus re-scan. Oracle: the same split brute-forced in
    SQL."""
    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 0)
    accepted = d.filter(F.col("doc_id") % 10 != 0)
    return DD.incremental_dup_spans(
        batch,
        DD.build_span_index(accepted, "text", "doc_id", _SPAN_L),
        "text",
        "doc_id",
        _SPAN_L,
    )


@register(
    "repetition-metrics",
    sql=rf"""
    WITH norm AS (
      SELECT doc_id AS id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
    ), toks AS (
      SELECT id, string_split(t, ' ') AS w FROM norm
    ), g AS (
      {word_ngram_rows('toks', 2, row_alias='__r')}
    )
    SELECT id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams,
           1.0 - CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_frac
    FROM g GROUP BY __r, id
    """,
)
def q_repetition_metrics(spark, sf_dir):
    """Per-document repetition quality signal (training-data pipeline):
    duplicate word-bigram fraction à la web-corpus filtering recipes.
    Pure map-side column math — tokens materialize once, grams once,
    zero shuffle before the (already doc-keyed) projection; at 100 TB
    this runs at scan speed. NULL-text docs are out of scope on both
    sides (r10 NULL-robustness probe — the gram floor otherwise gives
    the two engines different degenerate rows for them).

    The oracle groups by the generator's synthetic per-PHYSICAL-ROW
    key (``row_alias``), never doc_id alone: grouping by id silently
    assumes doc_id uniqueness — the r11 NULL-key probe showed NULL-id
    docs collapsing into one oracle row, and the r12
    conflicting-redelivery arm showed same-id conflicting versions
    merging their bigram sets — while the engine, correctly, stays
    per-row map-side. (The r14 giant-rows oracle rewrite to the linear
    window generator briefly grouped by id and the conflict arm caught
    it — the per-row key restores the pinned contract.)"""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "doc_id", F.split(TX.normalized_text(F.col("text")), " ").alias("__toks")
    )
    arr = toks.select("doc_id", TX.word_ngrams_from(F.col("__toks"), 2).alias("__g"))
    return arr.select(
        "doc_id",
        F.size("__g").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("__g")).cast("long").alias("distinct_bigrams"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("__g")).cast("double")
            / F.size("__g").cast("double")
        ).alias("dup_frac"),
    )


@register(
    "incremental-dedup",
    sql=r"""
    WITH batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 400 AND text IS NOT NULL
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50 AND text IS NOT NULL
      UNION ALL
      SELECT doc_id + 20000, text FROM documents
      WHERE doc_id BETWEEN 400 AND 409 AND text IS NOT NULL
    ), fp AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS f
      FROM batch
    ), seen AS (
      SELECT DISTINCT sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS f
      FROM documents WHERE doc_id < 400 AND text IS NOT NULL
    ), fresh AS (
      SELECT doc_id, f FROM fp WHERE f NOT IN (SELECT f FROM seen)
    )
    SELECT doc_id FROM fresh
    WHERE doc_id = (SELECT min(doc_id) FROM fresh x WHERE x.f = fresh.f)
    """,
)
def q_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup (training-data pipeline): accept only
    new-batch docs whose content fingerprint is absent from the
    already-accepted corpus (doc_id < 400), keeping the lowest-id
    survivor within the batch. The batch plants both failure modes so
    the check is non-vacuous: copies of 50 seen docs (must be dropped
    by the anti-join) and re-submissions of 10 batch docs under higher
    ids (must lose within-batch survivor selection). Anti-join on a
    sha256 fingerprint — the seen side reduces to one narrow string
    per historical doc; no full-corpus re-dedup per ingest. NULL-text
    docs are out of dedup scope on both sides (r10 probe — a NULL
    fingerprint is neither equal nor unequal to anything, so the two
    engines disagreed on its fate)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    batch = (
        d.filter(F.col("doc_id") >= 400)
        .select("doc_id", "text")
        .unionByName(
            d.filter(F.col("doc_id") < 50).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id").between(400, 409)).select(
                (F.col("doc_id") + 20000).alias("doc_id"), "text"
            )
        )
    )
    return DD.incremental_dedup(batch, d.filter(F.col("doc_id") < 400)).select(
        "doc_id"
    )


def _simhash_md5_sql() -> str:
    bits, max_hamming = 32, 3
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    fpexpr = " + ".join(
        f"(CASE WHEN v{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id AS id, t
      FROM (
        SELECT doc_id, unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS t
        FROM documents
      )
    ), hv AS (
      SELECT id, ('0x' || substr(md5(t), 1, {bits // 4}))::BIGINT AS h FROM toks
    ), votes AS (
      SELECT id, {votes}
      FROM hv GROUP BY id
    ), fp AS (
      SELECT id, CAST({fpexpr} AS BIGINT) AS f FROM votes
    )
    SELECT a.id AS a_id, b.id AS b_id,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.f, b.f)) <= {max_hamming}
    """


@register("simhash-dedup-md5", sql=_simhash_md5_sql())
def q_simhash_dedup_md5(spark, sf_dir):
    """Portable SimHash near-dup pairs: md5-derived token hashes make
    the whole fingerprint algebra (votes → sign bits → block banding →
    Hamming verify) reproducible in SQL, so this variant is
    oracle-checked end-to-end against a brute-force all-pairs Hamming
    scan — and block-banding recall is exact by pigeonhole (hamming ≤
    3 over 4 blocks must share one). The xxhash64 `simhash-dedup`
    stays the perf default (cheaper hash, rows-only)."""
    return DD.simhash_pairs_md5(_corpus(spark, sf_dir))


@register("simhash-dedup")
def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs (64-bit xxhash64 fingerprint, 4-block
    banding, Hamming ≤ 3) — exactly the brute-force pair set within
    Hamming 3 over ``simhash_fingerprints``. Rows-only: DuckDB has no
    xxhash64."""
    return DD.simhash_pairs(_corpus(spark, sf_dir))


def _planted_embeddings(spark, sf_dir):
    """embeddings ∪ deterministically perturbed copies of the first
    100 vectors (ids offset by 1e6). Random vectors contain no
    near-duplicates, so without planting, a near-dup query returns 0
    rows and its rows-only driver check proves nothing; with planting
    the expected pair set is known by construction."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    perturbed = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (x + 0.003 * ((i % 5) - 2.0)).cast("float"),
        ).alias("embedding"),
    )
    return emb.unionByName(perturbed)


def _planted_pairs_sql(threshold: float) -> str:
    """Brute-force all-pairs cosine over the planted corpus — the
    adversarial oracle for LSH-bounded near-dup: any recall loss is a
    row mismatch. Mirrors _planted_embeddings exactly (DuckDB
    list_transform index is 1-based, Spark's lambda index 0-based)."""
    dot = _DOT_SQL.format(a="a.embedding", b="b.embedding")
    na = _DOT_SQL.format(a="a.embedding", b="a.embedding")
    nb = _DOT_SQL.format(a="b.embedding", b="b.embedding")
    return f"""
    WITH planted AS (
      SELECT vec_id, embedding FROM embeddings WHERE {FINITE_VEC_SQL.format(c='embedding')}
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding, (x, i) -> CAST(x + 0.003 * (((i-1) % 5) - 2.0) AS FLOAT))
      FROM embeddings WHERE vec_id < 100 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), scored AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CASE WHEN sqrt({na}) * sqrt({nb}) > 0
                  THEN {dot} / (sqrt({na}) * sqrt({nb})) END AS cos_raw
      FROM planted a JOIN planted b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, ROUND(cos_raw, 6) AS cos
    FROM scored WHERE cos_raw >= {threshold}
    """


@register("embedding-near-dup", sql=_planted_pairs_sql(0.95))
def q_embedding_near_dup(spark, sf_dir):
    """Embedding near-duplicate pairs (cosine ≥ 0.95) bounded by
    random-hyperplane LSH buckets over the corpus with planted
    perturbed copies. probe_radius=2 (the exhaustive-recall config)
    because the ORACLE is the brute-force all-pairs scan: a twin pair
    whose buckets differ by two sign bits would otherwise be a row
    mismatch — the driver's gate doubles as a recall check. (The
    looser-threshold `similarity-join` surface stays rows-only: at
    cosine ≈ 0.5 exhaustive recall genuinely needs a different
    algorithm than sign-LSH.)"""
    return DD.embedding_near_dup_pairs(
        _planted_embeddings(spark, sf_dir), probe_radius=2
    )


@register("fuzzy-dedup-clusters", sql=_CLUSTER_SURVIVORS_SQL)
def q_fuzzy_dedup_clusters(spark, sf_dir):
    """End-to-end near-dedup: exact word-3-gram Jaccard pairs (the
    `ngram-jaccard` operator) → connected components (iterative
    min-label propagation) → one survivor (min id) per duplicate
    cluster.
    Oracle-backed even though the Spark algorithm is iterative: the
    oracle recomputes the exact pair graph and its transitive closure
    with a recursive CTE, so both the pair recall AND the component
    labeling are checked row-for-row."""
    from .operators.components import dedup_survivors

    d = _corpus_nn(spark, sf_dir).select("doc_id", "text")
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.5)
    return dedup_survivors(d, pairs).select("doc_id")


def _topk_lsh_sql() -> str:
    from .operators.similarity import _deterministic_planes

    planes = _deterministic_planes(6, 64)
    be = _bucket_sql("e.embedding", planes)
    bq = _bucket_sql("q.qv", planes)
    return f"""
    WITH q AS (
      SELECT embedding AS qv FROM embeddings
      WHERE vec_id = 0 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), cand AS (
      SELECT e.vec_id, e.embedding, q.qv
      FROM embeddings e, q
      WHERE bit_count(xor(CAST({be} AS BIGINT), CAST({bq} AS BIGINT))) <= 2
        AND {FINITE_VEC_SQL.format(c='e.embedding')}
    ), scored AS (
      SELECT vec_id,
             {_DOT_SQL.format(a='embedding', b='qv')} AS dp,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS na,
             sqrt({_DOT_SQL.format(a='qv', b='qv')}) AS nq
      FROM cand
    )
    SELECT vec_id,
           ROUND(CASE WHEN na * nq > 0 THEN dp / (na * nq) END, 6) AS score
    FROM scored
    ORDER BY score DESC, vec_id
    LIMIT 10
    """


@register("topk-similarity-lsh", sql=_topk_lsh_sql())
def q_topk_similarity_lsh(spark, sf_dir):
    """Approximate top-k: hyperplane-LSH candidate pruning (multi-probe
    to Hamming radius 2) before exact scoring — the 100 TB scale path.
    Oracle-backed despite being approximate: the SQL recomputes the
    sign buckets from the same deterministic plane constants and
    expresses the probe set as bit_count(xor(bucket_e, bucket_q)) <= 2,
    so the candidate pruning itself is verified, not just the scores."""
    emb = _t(spark, sf_dir, "embeddings")
    query, found = VEC.query_vector(emb)
    out = SIM.topk_lsh(emb, query, k=10)
    return out if found else out.where(F.lit(False))


# --- training-data pipeline ops (deterministic, oracle-checked) ------------
#
# Cross-engine determinism trick: both Spark and DuckDB produce
# identical lowercase-hex md5 strings, and lowercase hex compares
# lexicographically as its numeric value — so hash-prefix string
# ranges give portable, seedless, per-row-stable sampling decisions
# (substr(md5(key),1,2) < '1a'  ≈  10.2% of keyspace).

@register(
    "pack-sequences",
    sql=r"""
    WITH t AS (
      SELECT lang, doc_id,
             len(regexp_extract_all(trim(text), '\S+')) AS tokens
      FROM documents WHERE doc_id IS NOT NULL
    ), c AS (
      SELECT lang, doc_id, tokens,
             SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT lang, CAST(floor((cum - tokens) / 2048.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS seq_tokens
    FROM c GROUP BY lang, CAST(floor((cum - tokens) / 2048.0) AS BIGINT)
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Greedy sequential packing of documents into ~2048-token
    training sequences, per language shard: running token cumsum →
    bin id. The window partitions by lang (bounded state per key) —
    never a global single-partition ordering; at corpus scale the
    partition key becomes (lang, shard).

    Packing is an ORDERED layout keyed by doc identity, so NULL-id
    docs are out of scope on both sides (r11 NULL-key probe): they
    have no position in the doc_id total order — several of them tie,
    making the cumsum (and thus every later bin boundary) engine- and
    partition-order-dependent. Upstream identity repair owns them."""
    t = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("lang", "doc_id", TX.token_count(F.col("text")).alias("tokens"))
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    c = t.withColumn("cum", F.sum("tokens").over(w))
    seq = F.floor((F.col("cum") - F.col("tokens")) / 2048).alias("seq_id")
    return c.groupBy("lang", seq).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").cast("long").alias("seq_tokens"),
    )


@register(
    "chunk-documents",
    sql=r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS tt
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    )
    SELECT doc_id,
           CAST((i - 1) / 48 AS BIGINT) AS chunk_id,
           array_to_string(tt[i:i+63], ' ') AS chunk,
           CAST(len(tt[i:i+63]) AS BIGINT) AS n_chunk_tokens
    FROM toks, unnest(generate_series(1, greatest(len(tt) - 16, 1), 48)) AS u(i)
    WHERE len(tt) >= 1
    """,
)
def q_chunk_documents(spark, sf_dir):
    """Fixed-size chunking with overlap (size=64 tokens, stride=48 —
    16-token overlap): the step between corpus filtering and
    pack-sequences when documents exceed the context window. Pure
    map-side expansion — tokenize behind a projection boundary,
    explode the arithmetic start sequence, slice per start; no
    shuffle, no Python. Tail chunks run short rather than dropping
    trailing tokens; NULL-id/NULL-text docs are out of scope (the
    settled packing/dedup-universe conventions, see
    operators/chunking.py)."""
    return CH.chunk_documents(
        _t(spark, sf_dir, "documents"), "text", "doc_id", size=64, stride=48
    )


@register(
    "pack-chunks",
    sql=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(trim(text), '\S+')) AS n
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), ch AS (
      SELECT doc_id, lang,
             CAST((i - 1) / 48 AS BIGINT) AS chunk_id,
             CAST(least(64, n - i + 1) AS BIGINT) AS n_tok
      FROM toks, unnest(generate_series(1, greatest(n - 16, 1), 48)) AS u(i)
      WHERE n >= 1
    ), packed AS (
      SELECT lang, doc_id, chunk_id, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY lang
                                   ORDER BY doc_id, chunk_id, n_tok
                                   ROWS UNBOUNDED PRECEDING) - n_tok
                  AS BIGINT) AS tok_start
      FROM ch
    )
    SELECT lang, doc_id, chunk_id, n_tok, tok_start,
           CAST(tok_start // 512 AS BIGINT) AS seq_first,
           CAST((tok_start + n_tok - 1) // 512 AS BIGINT) AS seq_last,
           CAST(tok_start % 512 AS BIGINT) AS seq_offset
    FROM packed
    """,
)
def q_pack_chunks(spark, sf_dir):
    """Chunk → pack composite: GPT-style token packing of the CHUNKED
    corpus into 512-token training sequences at exact token
    boundaries (chunks straddle), sharded per lang
    (operators/chunking.py::pack_sequences — the step the chunker's
    docstring promises). The sibling `pack-sequences` key is the
    DOC-granular greedy packer (whole docs into ~2048-token bins, a
    per-bin report); this one emits the chunk→sequence LAYOUT a
    trainer's data loader consumes. The chunk TEXT is never
    materialized: the packer consumes only (shard, id, chunk_id,
    n_tok), so Catalyst prunes the slice/concat out of the plan and
    the oracle computes n_tok arithmetically (least(64, n - i + 1)).
    One shuffle total — the per-shard window sort; sequence ids are
    shard-local by design (see the operator docstring's 100 TB
    contract)."""
    chunks = CH.chunk_documents(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        size=64,
        stride=48,
        carry=("lang",),
    )
    return CH.pack_sequences(chunks, cap=512, shard_cols=("lang",))


@register(
    "corpus-diff",
    sql="""
    WITH a AS (
      -- md5(md5(text)): the version VALUE md5'd once by the caller's
      -- fingerprint, then once more by snapshot_diff's injectivity
      -- wrap (r12 advisor — set digests are fixed-width hex tokens)
      SELECT doc_id,
             array_to_string(list_sort(list(DISTINCT coalesce(md5(md5(text)), 'null'))), ',') AS fp
      FROM documents WHERE doc_id IS NOT NULL
      GROUP BY doc_id
    ), b0 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS fp0
      FROM documents WHERE doc_id IS NOT NULL AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 100000000, md5(text)
      FROM documents WHERE doc_id IS NOT NULL AND doc_id % 11 = 0
    ), b AS (
      SELECT doc_id,
             array_to_string(list_sort(list(DISTINCT coalesce(md5(fp0), 'null'))), ',') AS fp
      FROM b0 GROUP BY doc_id
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.fp IS NULL THEN 'added'
                WHEN b.fp IS NULL THEN 'removed'
                WHEN a.fp <> b.fp THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM a FULL JOIN b ON a.doc_id = b.doc_id
    WHERE CASE WHEN a.fp IS NULL THEN 'added'
               WHEN b.fp IS NULL THEN 'removed'
               WHEN a.fp <> b.fp THEN 'changed'
               ELSE 'unchanged' END <> 'unchanged'
    """,
)
def q_corpus_diff(spark, sf_dir):
    """Snapshot diff between the corpus and a deterministically
    perturbed next-day twin (doc_id % 13 dropped, % 7 revised, % 11
    re-added under shifted ids — the derived-split idiom every
    incremental key here uses): per-key added / removed / changed via
    operators/merge.snapshot_diff — each side reduced to one
    (key, sorted-fingerprint-set digest) row before a 1:1 full-outer
    equi-join, the decide-what-to-reprocess primitive of an
    incremental refresh. Version-SET identity: exact re-deliveries
    collapse, identical multi-version snapshots compare unchanged,
    and a % 7 doc whose text is NULL stays 'unchanged' (NULL ||
    suffix is NULL on both engines; NULL digests to a sentinel so it
    never reads as absence)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    revised = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    new = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id", revised.alias("text"))
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 100000000).alias("doc_id"), "text"
            )
        )
    )
    return MG.snapshot_diff(docs.select("doc_id", "text"), new, "doc_id", F.md5("text"))


@register(
    "corpus-prep-pipeline",
    sql=rf"""
    WITH base AS (
      SELECT DISTINCT doc_id, text, lang FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
        AND len(regexp_extract_all(trim(text), '\S+')) >= 5
    ), surv AS (
      SELECT b.* FROM base b
      JOIN (SELECT md5(text) AS fp, min(doc_id) AS doc_id
            FROM base GROUP BY md5(text)) m
        ON b.doc_id = m.doc_id AND md5(b.text) = m.fp
    ), bench_src AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 10 = 0
    ), norm_t AS (
      SELECT doc_id AS id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
      FROM surv WHERE doc_id % 10 <> 0
    ), norm_b AS (
      SELECT doc_id AS id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
      FROM bench_src
    ), grams_t AS (
      SELECT DISTINCT id, g
      FROM ({word_ngram_rows('norm_t', 8, tok_expr="string_split(t, ' ')")})
    ), grams_b AS (
      SELECT DISTINCT g
      FROM ({word_ngram_rows('norm_b', 8, tok_expr="string_split(t, ' ')")})
    ), contaminated AS (
      SELECT DISTINCT id FROM grams_t JOIN grams_b USING (g)
    ), clean AS (
      SELECT s.doc_id, s.lang, s.text FROM surv s
      WHERE s.doc_id % 10 <> 0
        AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.id = s.doc_id)
    ), toks AS (
      SELECT doc_id, lang, regexp_extract_all(trim(text), '\S+') AS tt FROM clean
    ), chunks AS (
      SELECT doc_id, lang, len(tt[i:i+63]) AS ct
      FROM toks, unnest(generate_series(1, greatest(len(tt) - 16, 1), 48)) AS u(i)
    )
    SELECT lang, CAST(doc_id % 8 AS BIGINT) AS shard,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(ct) AS BIGINT) AS n_tokens
    FROM chunks GROUP BY lang, CAST(doc_id % 8 AS BIGINT)
    """,
)
def q_corpus_prep_pipeline(spark, sf_dir):
    """The extension tier's end-to-end composite — the corpus-assembly
    chain a pretraining refresh actually runs, as ONE plan: quality
    gate (≥5 whitespace tokens) → exact dedup (min-id survivor per
    md5 fingerprint) → benchmark decontamination (drop any train doc
    sharing a distinct word-8-gram with the raw %10 eval split) →
    chunk (size 64 / stride 48) → per-(lang, shard) doc/chunk/token
    stats. Proves the individually-verified operators COMPOSE: every
    stage reuses the registered op's own implementation
    (contamination_flags, chunk_documents), and the oracle chains the
    identical algebra through one CTE pipeline. Shape: two hash
    shuffles (fingerprint group, gram join), a broadcast gram set,
    map-side chunking, one final bounded agg — no stage holds more
    than the survivors' narrow columns.

    Re-delivery (the r12 review's fan-out finding): the base collapses
    to DISTINCT (doc_id, text, lang) — exact re-delivered rows are one
    corpus fact (the engine-wide r11 policy), so chunk/token stats can
    never double-count a duplicate row; CONFLICTING versions stay
    distinct rows by the SET convention and chunk separately on both
    engines. The lang label rides THROUGH chunking as a carried column
    — never a re-join on a key that dirty feeds can make non-unique."""
    d = _corpus_nn(spark, sf_dir).filter(F.col("doc_id").isNotNull())
    base = (
        d.filter(TX.token_count(F.col("text")) >= 5)
        .select("doc_id", "text", "lang")
        .dropDuplicates(["doc_id", "text", "lang"])
    )
    fp = base.withColumn("__fp", F.md5("text"))
    surv = fp.join(
        fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")),
        ["doc_id", "__fp"],
    ).drop("__fp")
    train = surv.filter(F.col("doc_id") % 10 != 0)
    bench = d.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    contaminated = DD.contamination_flags(train, bench, n=8).select("doc_id")
    clean = train.join(contaminated, ["doc_id"], "left_anti")
    labeled = CH.chunk_documents(
        clean, "text", "doc_id", size=64, stride=48, carry=("lang",)
    )
    return labeled.groupBy(
        "lang", (F.col("doc_id") % 8).cast("long").alias("shard")
    ).agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
    )


def _corpus_refresh_sql() -> str:
    from .operators.similarity import _deterministic_planes

    span_n, planes, k = 8, 6, 3
    hp = _deterministic_planes(planes, 64)
    b_l = _bucket_sql("e.embedding", hp)
    b_r = _bucket_sql("e.embedding", hp)
    dot = _DOT_SQL.format(a="l.l_v", b="r.r_v")
    nl = _DOT_SQL.format(a="l.l_v", b="l.l_v")
    nr = _DOT_SQL.format(a="r.r_v", b="r.r_v")
    norm = _NORM_SQL.format(c="text")
    return rf"""
    WITH old AS (
      SELECT doc_id, text, lang FROM documents WHERE doc_id IS NOT NULL
    ), new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
             lang
      FROM documents WHERE doc_id IS NOT NULL AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 100000000, text, lang
      FROM documents WHERE doc_id IS NOT NULL AND doc_id % 11 = 0
    ), da AS (
      SELECT doc_id, array_to_string(list_sort(list(DISTINCT coalesce(md5(md5(text)), 'null'))), ',') AS fp
      FROM old GROUP BY doc_id
    ), db AS (
      SELECT doc_id, array_to_string(list_sort(list(DISTINCT coalesce(md5(md5(text)), 'null'))), ',') AS fp
      FROM new GROUP BY doc_id
    ), diff AS (
      SELECT COALESCE(da.doc_id, db.doc_id) AS k,
             CASE WHEN da.fp IS NULL THEN 'added'
                  WHEN db.fp IS NULL THEN 'removed'
                  WHEN da.fp <> db.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM da FULL JOIN db ON da.doc_id = db.doc_id
    ), reprocess AS (
      SELECT k FROM diff WHERE status IN ('added', 'changed')
    ), retired AS (
      SELECT k FROM diff WHERE status IN ('removed', 'changed')
    ), surviving AS (
      SELECT o.* FROM old o
      WHERE NOT EXISTS (SELECT 1 FROM retired r WHERE r.k = o.doc_id)
    ), cand AS (
      SELECT n.* FROM new n JOIN reprocess r ON n.doc_id = r.k
      WHERE n.text IS NOT NULL
    ), seen AS (
      SELECT DISTINCT sha256({norm}) AS f FROM surviving WHERE text IS NOT NULL
    ), candfp AS (
      SELECT doc_id, text, lang, sha256({norm}) AS f FROM cand
    ), fresh AS (
      SELECT * FROM candfp WHERE f NOT IN (SELECT f FROM seen)
    ), admitted AS (
      SELECT doc_id, text, lang FROM fresh
      WHERE doc_id = (SELECT min(doc_id) FROM fresh x WHERE x.f = fresh.f)
    ), toks_s AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS tt FROM surviving
    ), idx AS (
      SELECT DISTINCT win
      FROM ({word_ngram_rows('toks_s', span_n, id_expr='doc_id',
                             tok_expr='tt', id_alias='doc_id',
                             win_alias='win', short_docs='drop')})
    ), toks_a AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS tt FROM admitted
    ), wins_a AS (
      {word_ngram_rows('toks_a', span_n, id_expr='doc_id', tok_expr='tt',
                       id_alias='doc_id', win_alias='win', short_docs='drop')}
    ), wcount AS (
      SELECT win, count(DISTINCT doc_id) AS nd FROM wins_a GROUP BY win
    ), flagged AS (
      SELECT w.win FROM wcount w LEFT JOIN idx i USING (win)
      WHERE i.win IS NOT NULL OR w.nd > 1
    ), span_docs AS (
      SELECT DISTINCT a.doc_id FROM wins_a a JOIN flagged f USING (win)
    ), span_lang AS (
      SELECT ad.lang, CAST(count(*) AS BIGINT) AS n_span_flagged
      FROM admitted ad JOIN span_docs sd USING (doc_id) GROUP BY ad.lang
    ), l AS (
      SELECT e.vec_id AS l_id, e.embedding AS l_v, CAST({b_l} AS BIGINT) AS bl
      FROM embeddings e JOIN admitted a ON e.vec_id = a.doc_id
      WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
    ), r AS (
      SELECT e.vec_id AS r_id, e.embedding AS r_v, CAST({b_r} AS BIGINT) AS br
      FROM embeddings e JOIN surviving sv ON e.vec_id = sv.doc_id
      WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
    ), scored AS (
      SELECT l_id, r_id,
             ROUND(CASE WHEN sqrt({nl}) * sqrt({nr}) > 0
                        THEN {dot} / (sqrt({nl}) * sqrt({nr})) END, 6) AS score
      FROM l JOIN r ON bit_count(xor(l.bl, r.br)) <= 2
    ), topk AS (
      SELECT l_id, r_id FROM scored
      QUALIFY row_number() OVER (PARTITION BY l_id ORDER BY score DESC, r_id) <= {k}
    ), knn_lang AS (
      SELECT a.lang, CAST(count(*) AS BIGINT) AS n_knn_pairs
      FROM topk t JOIN admitted a ON t.l_id = a.doc_id GROUP BY a.lang
    ), refreshed AS (
      SELECT lang, text FROM surviving
      UNION ALL
      SELECT lang, text FROM admitted
    ), stats AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_total,
             CAST(sum(len(regexp_extract_all(trim(text), '\S+'))) AS BIGINT) AS tokens_total
      FROM refreshed GROUP BY lang
    ), cand_lang AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY lang
    ), adm_lang AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_admitted,
             CAST(coalesce(sum(len(regexp_extract_all(trim(text), '\S+'))), 0) AS BIGINT) AS admitted_tokens
      FROM admitted GROUP BY lang
    ), ret_lang AS (
      SELECT o.lang, CAST(count(*) AS BIGINT) AS n_retired
      FROM old o JOIN retired r ON o.doc_id = r.k GROUP BY o.lang
    )
    SELECT st.lang,
           CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(a2.n_admitted, 0) AS BIGINT) AS n_admitted,
           CAST(coalesce(a2.admitted_tokens, 0) AS BIGINT) AS admitted_tokens,
           CAST(coalesce(sp.n_span_flagged, 0) AS BIGINT) AS n_span_flagged,
           CAST(coalesce(kn.n_knn_pairs, 0) AS BIGINT) AS n_knn_pairs,
           CAST(coalesce(rt.n_retired, 0) AS BIGINT) AS n_retired,
           st.n_docs_total, st.tokens_total
    FROM stats st
    LEFT JOIN cand_lang c USING (lang)
    LEFT JOIN adm_lang a2 USING (lang)
    LEFT JOIN span_lang sp USING (lang)
    LEFT JOIN knn_lang kn USING (lang)
    LEFT JOIN ret_lang rt USING (lang)
    """


@register("corpus-refresh-pipeline", sql=_corpus_refresh_sql())
def q_corpus_refresh_pipeline(spark, sf_dir):
    """The incremental nightly-refresh composite (r13, VERDICT r12
    #3) — the ingest-time twin of `corpus-prep-pipeline`, chaining the
    individually driver-green incremental operators into ONE plan over
    a snapshot + delta pair: snapshot_diff decides what to (re)process
    and what to retire, incremental_dedup admits the doc tier,
    incremental_dup_spans + incremental_knn produce the span/vector
    duplication signals against the SURVIVING corpus' persisted
    indexes, and the per-lang rollup state folds the admitted delta in
    and the retired rows OUT (negated partials through the same
    merge_rollup_state — counts and exact decimal sums are an abelian
    group, so retraction is lossless; the oracle recomputes the
    refreshed corpus from scratch and equality proves it).

    The next-day snapshot is the corpus-diff derived-split twin
    (doc_id % 13 dropped, % 7 revised, % 11 re-added under shifted
    ids), which exercises every admission dynamic at once: a % 7 key's
    old version retires while its revision re-enters through dedup; a
    re-added % 11 copy of a SURVIVING doc is rejected (fingerprint
    still accepted); a re-added copy of a RETIRED doc's text is
    re-admitted (retire-before-probe); span/knn probes flag the
    admitted batch's overlap with the survivors. See
    operators/refresh.py for the full semantics + shuffle ledger."""
    from .operators.refresh import corpus_refresh_report

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    old = d.select("doc_id", "text", "lang")
    revised = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    new = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id", revised.alias("text"), "lang")
        .unionByName(
            d.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 100000000).alias("doc_id"), "text", "lang"
            )
        )
    )
    return corpus_refresh_report(old, new, _t(spark, sf_dir, "embeddings"))


@register(
    "stratified-sample",
    sql="""
    WITH s AS (
      SELECT lang, doc_id FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
            < CASE WHEN lang = 'en' THEN '34' ELSE '1a' END
    )
    SELECT lang, COUNT(*) AS n_sampled, CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM s GROUP BY lang
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-stratum rates via
    md5-prefix ranges (en ≈ 20%, others ≈ 10%) — seedless, stable
    under reruns and repartitioning, no RNG state to coordinate
    across executors."""
    d = _t(spark, sf_dir, "documents")
    thresh = F.when(F.col("lang") == "en", F.lit("34")).otherwise(F.lit("1a"))
    s = d.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < thresh)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


@register(
    "split-assign",
    sql="""
    SELECT lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n
    FROM documents GROUP BY lang, split
    """,
)
def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (≈ 80/10/10) from the
    same md5-prefix device — membership is a pure function of the
    document key, so splits never leak across reruns or engines."""
    d = _t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    ).alias("split")
    return d.groupBy("lang", split).agg(F.count(F.lit(1)).alias("n"))


@register(
    "quota-sample",
    sql="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)) NULLS LAST,
                                         doc_id NULLS LAST) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
)
def q_quota_sample(spark, sf_dir):
    """Class-balanced quota sampling: at most N documents per class,
    chosen by hash order (deterministic shuffle) — the standard
    rebalancing step before training-mix assembly.

    NULLS LAST explicit on both sides (r11 NULL-key probe): md5(NULL)
    is NULL, and Spark's ASC default would put every NULL-id doc at
    the head of its class quota while SQL's puts them last — an
    unidentifiable doc should only be sampled when the quota is
    otherwise unfilled."""
    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc_nulls_last(),
        F.col("doc_id").asc_nulls_last(),
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("lang", "doc_id")
    )


@register(
    "bm25-topk",
    sql=f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS term
      FROM documents
    ), doclen AS (
      SELECT id, COUNT(*) AS dl FROM toks GROUP BY id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen
    ), tf AS (
      SELECT id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ('vector', 'hash', 'merge') GROUP BY id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    )
    SELECT id AS doc_id,
           ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                     * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                 6) AS bm25
    FROM tf JOIN dfreq USING (term) JOIN doclen USING (id) CROSS JOIN stats
    GROUP BY id
    ORDER BY bm25 DESC, id
    LIMIT 10
    """,
)
def q_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (k1=1.2, b=0.75) for a 3-term query —
    the lexical leg of a hybrid retrieval pipeline next to
    topk-similarity's vector leg."""
    d = _t(spark, sf_dir, "documents")
    return SIM.bm25_topk(d, ["vector", "hash", "merge"], k=10)


@register(
    "hybrid-rrf",
    sql=f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS term
      FROM documents
    ), doclen AS (
      SELECT id, COUNT(*) AS dl FROM toks GROUP BY id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen
    ), tf AS (
      SELECT id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ('vector', 'hash', 'merge') GROUP BY id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), lex AS (
      SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS r FROM (
        SELECT id,
               ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                         * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                     6) AS bm25
        FROM tf JOIN dfreq USING (term) JOIN doclen USING (id) CROSS JOIN stats
        GROUP BY id ORDER BY bm25 DESC, id LIMIT 50
      )
    ), q AS (
      SELECT embedding AS qv FROM embeddings
      WHERE vec_id = 0 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), vec AS (
      SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r FROM (
        SELECT e.vec_id AS id,
               ROUND({_DOT_SQL.format(a='e.embedding', b='q.qv')}
                     / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
                        * sqrt({_DOT_SQL.format(a='q.qv', b='q.qv')})), 6) AS score
        FROM embeddings e, q
        WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
        ORDER BY score DESC, id LIMIT 50
      )
    )
    SELECT COALESCE(lex.id, vec.id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + lex.r), 0) + COALESCE(1.0 / (60 + vec.r), 0), 6)
             AS rrf
    FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical ranks ⊕ cosine vector ranks via
    reciprocal-rank fusion (1/(60+rank), the standard RRF constant).
    Each leg retrieves its top 50 independently (both lists are tiny —
    rank windows run on ≤50 rows, never the corpus), then a full-outer
    join fuses them; the id spaces of the synthetic documents and
    embeddings tables are treated as one entity space."""
    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    query, found = VEC.query_vector(emb)

    lex = SIM.bm25_topk(d, ["vector", "hash", "merge"], k=50).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.col("doc_id")))
        .alias("lr"),
    )
    # missing query vector empties ONLY the vector leg (the oracle's
    # correlated q-subquery does the same) — lexical retrieval still
    # contributes its ranks through the full-outer fusion
    vec_base = SIM.topk_brute(emb, query, k=50)
    if not found:
        vec_base = vec_base.where(F.lit(False))
    vec = vec_base.select(
        F.col("vec_id").alias("id"),
        F.row_number().over(W.orderBy(F.desc("score"), F.col("vec_id"))).alias("vr"),
    )
    fused = lex.join(vec, ["id"], "full_outer").select(
        F.col("id").alias("doc_id"),
        F.round(
            F.coalesce(1.0 / (60 + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("vr")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.col("doc_id")).limit(10)


@register(
    "tfidf-topterms",
    sql=f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS term
      FROM documents
    ), toks2 AS (
      SELECT id, term FROM toks WHERE length(term) > 0
    ), tf AS (
      SELECT id, term, COUNT(*) AS tf FROM toks2 GROUP BY id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), stats AS (
      SELECT COUNT(DISTINCT id) AS n_docs FROM toks2
    )
    SELECT id AS doc_id, term, tfidf, rank FROM (
      SELECT id, term,
             ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY id
               ORDER BY ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC, term
             ) AS rank
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    ) WHERE rank <= 3
    """,
)
def q_tfidf_topterms(spark, sf_dir):
    """Top-3 characteristic terms per document by tf-idf (score
    rounded before ranking, term tie-break → cross-engine-stable row
    set; operators/similarity.py tfidf_topterms)."""
    d = _t(spark, sf_dir, "documents")
    return SIM.tfidf_topterms(d, k=3)


# Exact 6-decimal rounding of the per-doc mean nll: the decimal(38,12)
# sum in 1e-12 units over the denominator n_trigrams*1e6 — identical
# algebra to the Spark side (operators/similarity.py trigram_lm_score);
# the dec-units guard makes both engines raise at the int64 envelope.
_XENT_SQL = sql_round6_dec6_over_int(
    sql_guard_dec_units(
        "SUM(CAST(nll AS DECIMAL(38,12)))", 10**12, "COUNT(*) * 1000000"
    ),
    "COUNT(*) * 1000000",
)


@register(
    "trigram-lm-score",
    sql=f"""
    WITH norm AS (
      SELECT doc_id AS id, {_NORM_SQL.format(c='text')} AS t FROM documents
      WHERE text IS NOT NULL
    ), grams AS (
      {word_ngram_rows('norm', 3, tok_expr="string_split(t, '')",
                       sep='', short_docs='truncate')}
    ), c3 AS (
      SELECT g, COUNT(*) AS c3 FROM grams GROUP BY g
    ), ctx AS (
      SELECT substr(g, 1, 2) AS pfx, SUM(c3) AS c2 FROM c3 GROUP BY pfx
    ), vocab AS (
      SELECT COUNT(DISTINCT substr(g, 3, 1)) AS v_next FROM c3
    ), model AS (
      SELECT g, -ln((c3 + CAST(1 AS DOUBLE)) / (c2 + v_next)) AS nll
      FROM c3 JOIN ctx ON substr(g, 1, 2) = pfx CROSS JOIN vocab
    )
    SELECT id AS doc_id,
           COUNT(*) AS n_trigrams,
           {_XENT_SQL} AS xent_nats
    FROM grams JOIN model USING (g)
    GROUP BY id
    """,
)
def q_trigram_lm_score(spark, sf_dir):
    """Char-trigram LM cross-entropy per document (add-one smoothing,
    corpus-trained) — the cheap perplexity-style quality filter;
    DECIMAL-exact in-doc sum makes the float result accumulation-order
    independent (operators/similarity.py trigram_lm_score). NULL-text
    docs are excluded on both sides (r10 probe: Spark's gram floor
    scored them AND let them shift the corpus model; the model must
    train on text that exists)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return SIM.trigram_lm_score(d)


@register(
    "weighted-sample",
    sql=r"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(trim(text), '\S+')) AS DOUBLE) AS n_tok,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))
                            AS DOUBLE) / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS punct_ratio
      FROM documents
    ), q AS (
      SELECT doc_id,
             0.4::DOUBLE * (CASE WHEN n_chars >= 50 AND n_chars <= 20000
                                 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
           + 0.3::DOUBLE * (CASE WHEN n_tok > 0 AND n_chars / n_tok >= 3.0
                                      AND n_chars / n_tok <= 12.0
                                 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
           + 0.3::DOUBLE * (CASE WHEN punct_ratio <= 0.2
                                 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS quality
      FROM m
    )
    SELECT doc_id, quality
    FROM q
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
          < quality * 32768.0
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Deterministic quality-weighted sampling: keep each document
    with probability quality/2, decided by an md5-derived uniform —
    importance sampling for training-data mixing, seedless and stable
    under reruns/repartitioning (same md5-prefix device as
    stratified-sample; comparison is integer-vs-double with a discrete
    quality lattice, so the kept set is cross-engine exact)."""
    d = _t(spark, sf_dir, "documents")
    u16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    q = TX.quality_score(F.col("text"))
    return (
        d.select("doc_id", q.alias("quality"), u16.alias("__u"))
        .filter(F.col("__u") < F.col("quality") * 32768.0)
        .drop("__u")
    )


# Patterns shared by the Spark and DuckDB sides of pii-scrub: the
# common Java-regex/RE2 subset (no lookaround, no \d shorthand inside
# classes) so both engines match the exact same spans.
# \b-anchored and RFC-bounded ({1,64} local / {1,255} domain), not the
# textbook unbounded [..]+@[..]+ form: Spark compiles Java regex, whose
# backtracking find() is O(len^2) on a giant in-class run with no '@' —
# a single 200k-char token (giant-rows poison lane 34) pinned the
# engine for minutes while DuckDB's RE2 (linear, no backtracking)
# finished instantly. The \b makes every mid-run start position fail in
# O(1) and the bounds cap the per-attempt backtrack at 64; one pattern
# string feeds BOTH engines, so parity is unaffected (Java and RE2
# agree on \b = \w boundary). tests/test_giant_rows.py pins the lane.
_PII_EMAIL = r"\b[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,}"
_PII_PHONE = r"\b555-[0-9]{4}\b"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@register(
    "pii-scrub",
    sql=f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' Contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
             ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(t, '{_PII_IP}')) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
                 '{_PII_EMAIL}', '[EMAIL]', 'g'),
                 '{_PII_PHONE}', '[PHONE]', 'g'),
                 '{_PII_IP}', '[IP]', 'g')) AS scrubbed_md5
    FROM planted
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII detection + masking over document text — the scrub pass a
    training-data pipeline runs before anything else (emails, phone
    numbers, IP addresses → typed placeholder tokens, with per-doc
    match counts for audit). The corpus carries no real PII, so a
    deterministic planted sentence (every 7th doc) makes the expected
    matches known by construction; the md5 of the scrubbed text proves
    the REPLACEMENT byte-exactly, not just the counts. Pure Column
    regex ops — map-side, no shuffle, no UDF."""
    d = _t(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    ).otherwise(F.col("text"))
    t = planted
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "[EMAIL]"), _PII_PHONE, "[PHONE]"
        ),
        _PII_IP,
        "[IP]",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IP), 0)).alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# doc counts are corpus-scale: guard the denominator at the int-ratio
# envelope (both engines raise, never wrap-vs-raise diverge)
_DUP_RATE_SQL = sql_round6_int_ratio(
    f"COUNT(*) - COUNT(DISTINCT sha256({_NORM_SQL.format(c='text')}))",
    sql_guard_den("COUNT(*)"),
)


@register(
    "dedup-rate-report",
    sql=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT sha256({_NORM_SQL.format(c='text')})) AS n_unique,
           {_DUP_RATE_SQL} AS dup_rate
    FROM documents
    GROUP BY source
    """,
)
def q_dedup_rate_report(spark, sf_dir):
    """Per-source duplication audit: doc counts, distinct canonical
    fingerprints, and the implied duplicate rate — the observability
    face of the dedup tier (which sources are worth scrubbing first).
    One hash-groupBy; the distinct-count is exact (it feeds a rate
    gate, not a dashboard — approx_count_distinct would jitter the
    report across runs)."""
    d = _t(spark, sf_dir, "documents")
    fp = TX.sha_fingerprint(F.col("text"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
    ).select(
        "source",
        "n_docs",
        "n_unique",
        # exact integer rounding of (n_docs - n_unique)/n_docs —
        # mathematically identical to 1 - unique-rate, and stable at
        # .5e-7 ROUND cuts (functions/exactmath.py)
        round6_int_ratio(
            "n_docs - n_unique", guard_den("n_docs")
        ).alias("dup_rate"),
    )


@register(
    "length-histogram",
    sql=r"""
    SELECT least(len(regexp_extract_all(trim(text), '\S+')) // 50, 20) AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents
    GROUP BY bucket
    """,
)
def q_length_histogram(spark, sf_dir):
    """Token-length histogram (50-token buckets, top-coded at 1000+):
    the distribution a sequence-packing planner reads before choosing
    context length / packing strategy. Map-side bucket expression +
    one small groupBy."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(TX.token_count(F.col("text")) / 50), F.lit(20)
    ).cast("long")
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


# Survivorship-policy oracle: same recursive-CTE component labeling as
# _CLUSTER_SURVIVORS_SQL, but the kept doc per cluster is chosen by the
# quality-score policy (max quality, min-id tie-break) instead of min
# id — the quality SQL is byte-for-byte the `quality-score` oracle's.
_SURVIVORSHIP_SQL = f"""WITH RECURSIVE {_JACCARD_CTES}, edges AS (
  SELECT a_id AS u, b_id AS v FROM jpairs
  UNION
  SELECT b_id, a_id FROM jpairs
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
), qm AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_extract_all(trim(text), '\\S+')) AS DOUBLE) AS n_tok,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))
                        AS DOUBLE) / CAST(length(text) AS DOUBLE)
              ELSE 0.0 END AS punct_ratio
  FROM documents WHERE text IS NOT NULL
), q AS (
  SELECT doc_id,
         0.4::DOUBLE * (CASE WHEN n_chars >= 50 AND n_chars <= 20000
                             THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
       + 0.3::DOUBLE * (CASE WHEN n_tok > 0 AND n_chars / n_tok >= 3.0
                                  AND n_chars / n_tok <= 12.0
                             THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
       + 0.3::DOUBLE * (CASE WHEN punct_ratio <= 0.2
                             THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS quality
  FROM qm
), lab AS (
  SELECT q.doc_id, q.quality,
         COALESCE(c.component, q.doc_id) AS cluster
  FROM q LEFT JOIN comp c ON c.id = q.doc_id
), ranked AS (
  SELECT doc_id, quality, cluster,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY quality DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY cluster) AS cs
  FROM lab
)
SELECT doc_id AS survivor_id,
       CAST(cluster AS BIGINT) AS cluster_id,
       CAST(cs AS BIGINT) AS cluster_size,
       quality
FROM ranked WHERE rn = 1
"""


@register("dedup-survivorship", sql=_SURVIVORSHIP_SQL)
def q_dedup_survivorship(spark, sf_dir):
    """Survivorship-POLICY dedup: per duplicate cluster keep the
    highest-quality document (min doc_id tie-break), not the min-id
    one — the production rule when near-dups differ in cleanliness
    (boilerplate-stripped mirror vs raw scrape). Singleton docs are
    their own cluster of size 1.

    Same machinery as `fuzzy-dedup-clusters` (exact Jaccard pairs →
    min-label components) plus one broadcast-size policy stage: a
    per-cluster ranking window over (quality, id). The components
    frame is node-cardinality (docs touched by a pair), so the left
    join back to the corpus adds one id-keyed shuffle; the window
    partitions by cluster label — skew bounded by the largest
    duplicate cluster. The oracle re-derives the whole
    thing: pair graph, recursive-CTE closure, the same fixed-weight
    quality score, and the same ranking policy."""
    from .operators.components import connected_components

    d = _corpus_nn(spark, sf_dir).select("doc_id", "text")
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.5)
    comps = connected_components(pairs)
    scored = d.select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality")
    )
    lab = (
        scored.join(comps, scored["doc_id"] == comps["id"], "left")
        .select(
            "doc_id",
            "quality",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
        )
    )
    wq = W.partitionBy("cluster")
    ranked = lab.select(
        "doc_id",
        "quality",
        "cluster",
        F.row_number()
        .over(wq.orderBy(F.desc("quality"), F.col("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(wq).alias("cs"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("doc_id").alias("survivor_id"),
        F.col("cluster").cast("long").alias("cluster_id"),
        F.col("cs").cast("long").alias("cluster_size"),
        "quality",
    )
