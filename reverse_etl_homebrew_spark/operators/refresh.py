"""The incremental corpus-refresh composite (r13, VERDICT r12 #3):
the nightly-ingest twin of the ``corpus-prep-pipeline`` batch chain,
assembled from the individually driver-green incremental operators —

    snapshot_diff            (decide what to (re)process)
  → incremental_dedup        (doc-tier admission)
  → incremental_dup_spans    (span-tier admission signal)
  → build_ann_index / incremental_knn   (vector-tier admission signal)
  → rollup_partial / merge_rollup_state (stats refresh, WITH retraction)

The reference's nightly run re-reads a watermark and re-upserts a
day's delta (main.py:330-345, 537-538); this lifts that shape to a
full corpus refresh where identity is content, not a timestamp.

Refresh semantics, in production order:
1. Diff the old and new snapshots on the natural key (version-SET
   identity, snapshot_diff): 'removed' and 'changed' keys RETIRE
   their old-corpus rows; 'added' and 'changed' keys nominate their
   NEW-side rows for (re)processing.
2. The surviving accepted corpus (old − retired) is the universe
   every admission probe runs against — the retire happens before
   the probe, so a new doc duplicating only a removed doc's content
   is re-admittable.
3. Doc admission: candidates (non-NULL text — a row without a
   fingerprintable payload is out of dedup scope, the settled
   convention) anti-join the surviving corpus' fingerprint set, then
   dedup within the batch (lowest-id survivor) — incremental_dedup
   verbatim.
4. Span signal: admitted docs' length-n token windows probe the
   surviving corpus' span index; a doc with ≥1 window that is either
   in the index or duplicated within the batch is span-flagged
   (incremental_dup_spans + one attribution join back to the batch's
   window stream).
5. Vector signal: admitted docs' embeddings probe the surviving
   corpus' bucketed ANN index (build_ann_index → incremental_knn,
   k nearest accepted neighbors per admitted vector).
6. Stats refresh: the per-lang rollup state folds the admitted
   delta IN and the retired rows OUT — counts and exact decimal
   sums form an abelian group, so retraction is a negated partial
   through the SAME merge_rollup_state fold (min/max are NOT
   subtractable and are deliberately absent from the report). The
   oracle recomputes the refreshed corpus from scratch; equality
   proves the subtractive maintenance lossless — a strict extension
   of the additive-only ``incremental-agg-merge`` proof.

Shuffle inventory (the SCALE.md ledger row — the SUM of the stages,
no composition multiplier): diff = 2 key-grouped digests + one 1:1
full-outer join; dedup = 1 fingerprint anti-join + 1 batch group;
spans = 1 window-key agg over the BATCH + index left-join + 1
attribution join; knn = batch-side probe explode + bucket equi-join +
1 ranking shuffle of (l_id, r_id, score); stats = 3 per-lang partial
aggs + 2 state merges; report assembly = 4 per-lang (≤ #langs rows)
left joins. The old corpus is scanned, never shuffled wholesale: at
scale the fingerprint set, span index, ANN index, and rollup state
are persisted bucketed tables, so every probe co-locates and
per-refresh cost is O(delta), independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text as TX
from ..session import pin
from .dedup import (
    build_fingerprint_index,
    build_span_index,
    incremental_dedup_against_index,
    incremental_dup_spans,
    token_span_windows,
)
from .merge import merge_rollup_state, rollup_partial, snapshot_diff
from .similarity import build_ann_index, incremental_knn

# span window length (tokens), ANN hyperplanes and neighbors per
# admitted vector — one refresh configuration, shared by the inline
# artifacts and the probe that must match them
_SPAN_N = 8
_PLANES = 6
_K = 3


def _negated(partial: DataFrame, key: str) -> DataFrame:
    """A rollup partial with its group-summable components negated —
    folding it through merge_rollup_state RETRACTS the rows it was
    built from. Only valid for the abelian summaries (n, s6); lo/hi
    ride along solely to satisfy the state schema and must not be
    read after a subtractive fold."""
    return partial.select(
        key,
        (-F.col("n")).alias("n"),
        (-F.col("s6")).alias("s6"),
        "lo",
        "hi",
    )


def corpus_refresh_report(
    old: DataFrame,
    new: DataFrame,
    embeddings: DataFrame,
) -> DataFrame:
    """Run the full refresh over an (old, new) snapshot pair plus the
    embedding table and report per-lang: what the diff nominated, what
    admission accepted, the span/vector duplication signals on the
    admitted batch, and the refreshed corpus totals maintained
    incrementally. ``old``/``new`` need (doc_id, text, lang);
    ``embeddings`` needs (vec_id, embedding) with vec_id sharing
    old/new's id space.

    Output: (lang, n_candidates, n_admitted, admitted_tokens,
    n_span_flagged, n_knn_pairs, n_retired, n_docs_total,
    tokens_total).

    This local form derives all four accepted-corpus artifacts
    (fingerprint index, span index, ANN index, rollup state) INLINE
    from the survivors and delegates to ``corpus_refresh_probe`` —
    the probe-side core a production nightly run executes against the
    PERSISTED bucketed artifact tables (fixtures/tenx_refresh.py
    measures that form's wall flat at 10× corpus)."""
    old = old.select("doc_id", "text", "lang")
    new = new.select("doc_id", "text", "lang")

    # 1. diff → reprocess / retire key sets. Pinned: the diff fans
    # out to six consumers (cand, surviving×4, retired partial) and
    # its two key-grouped digests + full-outer join would otherwise
    # recompute per consumer — in production the diff IS a persisted
    # decision table, so pinning adds no cost the real pipeline does
    # not already pay.
    diff = pin(
        snapshot_diff(
            old.select("doc_id", "text"),
            new.select("doc_id", "text"),
            "doc_id",
            F.md5("text"),
        )
    )
    retired = diff.where(F.col("status").isin("removed", "changed")).select(
        "doc_id"
    )

    # 2. retire first: every probe below runs against the survivors.
    # In production the artifacts below are persisted bucketed tables
    # maintained at accept time (INSERT INTO build_*(batch)), not
    # derived per refresh — this inline derivation is the local /
    # bootstrap form.
    surviving = old.join(retired, ["doc_id"], "left_anti")
    fingerprints = build_fingerprint_index(
        surviving.where(F.col("text").isNotNull()), "text", fp_col="__fp"
    )
    span_index = build_span_index(surviving, "text", "doc_id", _SPAN_N)
    acc_vecs = embeddings.join(
        surviving.select(F.col("doc_id").alias("vec_id")), ["vec_id"], "left_semi"
    )
    ann_index = build_ann_index(acc_vecs, _PLANES)
    tok = TX.token_count(F.col("text"))
    state = rollup_partial(
        old.select("lang", tok.alias("toks"), "doc_id"), "lang", "toks", "doc_id"
    )
    return corpus_refresh_probe(
        old, new, embeddings, fingerprints, span_index, ann_index, state, diff
    )


def corpus_refresh_probe(
    old: DataFrame,
    new: DataFrame,
    embeddings: DataFrame,
    fingerprints: DataFrame,
    span_index: DataFrame,
    ann_index: DataFrame,
    state: DataFrame,
    diff: DataFrame,
) -> DataFrame:
    """The PROBE-SIDE refresh core (r14, VERDICT r13 #2): the exact
    ``corpus_refresh_report`` algebra with the four accepted-corpus
    artifacts supplied instead of derived — the form a production
    nightly run executes, where the fingerprint index
    (``build_fingerprint_index``, bucketed on fp), span index
    (``build_span_index``, bucketed on win), ANN index
    (``build_ann_index``, bucketed on bucket) and rollup state are
    PERSISTED tables maintained at accept time, so per-refresh cost is
    the delta's probes plus artifact scans — never an artifact
    rebuild. Equivalence to the local form is pinned row-for-row in
    tests/test_refresh_pipeline.py; the wall is measured flat at 10×
    corpus in fixtures/tenx_refresh.py (SCALE.md).

    Artifact contracts: ``fingerprints`` is the survivors' distinct
    fingerprint set (single column, any name); ``span_index`` the
    survivors' distinct ``win`` set; ``ann_index`` the survivors'
    ``(r_id, r_v, r_nrm, bucket)`` rows built with the SAME
    ``_PLANES``; ``state`` the rollup over the FULL old corpus (the
    retraction below folds the retired rows out — pre-retirement
    state is exactly what last night's accept-time maintenance left
    behind). ``diff`` is the ``snapshot_diff`` decision table (the
    CDC-fed form — the reference's watermark shape, main.py:537-538),
    so ``new`` may be just the day's DELTA rows (any superset of the
    rows the diff nominated — the reference's watermark read): the
    admission semi-join keeps exactly the nominated keys either way."""
    old = old.select("doc_id", "text", "lang")
    new = new.select("doc_id", "text", "lang")

    reprocess = diff.where(F.col("status").isin("added", "changed")).select(
        "doc_id"
    )
    retired = diff.where(F.col("status").isin("removed", "changed")).select(
        "doc_id"
    )

    # 3. doc-tier admission against the fingerprint index
    cand = new.join(reprocess, ["doc_id"], "left_semi").where(
        F.col("text").isNotNull()
    )
    # Pinned: the admitted batch feeds five consumers (span windows,
    # span attribution, vector semi-join, stats partial, per-lang
    # report) — the anti-join + survivor election would recompute per
    # consumer, and in production admission IS a durable staging write.
    admitted = pin(
        incremental_dedup_against_index(
            cand, fingerprints, "text", "doc_id", fp_col=fingerprints.columns[0]
        )
    )

    # 4. span-tier signal on the admitted batch, probed against the
    # distinct window set build_span_index returned.
    flagged = incremental_dup_spans(admitted, span_index, "text", "doc_id", _SPAN_N)
    adm_wins = token_span_windows(admitted, "text", "doc_id", _SPAN_N)
    span_docs = (
        adm_wins.join(flagged.select("win"), ["win"])
        .select("doc_id")
        .distinct()
    )
    span_lang = (
        admitted.join(span_docs, ["doc_id"], "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_span_flagged"))
    )

    # 5. vector-tier signal: admitted vectors probe the survivors' index
    adm_vecs = embeddings.join(
        admitted.select(F.col("doc_id").alias("vec_id")), ["vec_id"], "left_semi"
    )
    pairs = incremental_knn(adm_vecs, ann_index, k=_K, planes=_PLANES)
    knn_lang = (
        pairs.join(
            admitted.select(F.col("doc_id").alias("l_id"), "lang"), ["l_id"]
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_knn_pairs"))
    )

    # 6. stats refresh: state(old) + partial(admitted) − partial(retired).
    tok = TX.token_count(F.col("text"))
    retired_rows = old.join(retired, ["doc_id"], "left_semi").select(
        "doc_id", "lang", tok.alias("toks")
    )
    added_part = rollup_partial(
        admitted.select("lang", tok.alias("toks"), "doc_id"),
        "lang", "toks", "doc_id",
    )
    retired_part = rollup_partial(
        retired_rows.select("lang", "toks", "doc_id"),
        "lang", "toks", "doc_id",
    )
    merged = merge_rollup_state(
        merge_rollup_state(state, added_part, "lang"),
        _negated(retired_part, "lang"),
        "lang",
    )
    # r14 (advisor): a lang whose EVERY doc was retired folds to an
    # n=0 state row, but the refreshed corpus has no rows in that lang
    # — the oracle's from-scratch recompute produces no row, so the
    # subtractive fold must drop the empty group to stay lossless.
    merged = merged.where(F.col("n") > 0)
    stats = merged.select(
        "lang",
        F.col("n").cast("long").alias("n_docs_total"),
        F.col("s6").cast("long").alias("tokens_total"),
    )

    # report assembly: the refreshed state's lang universe is
    # authoritative (it contains every admitted lang by construction);
    # admission-side aggregates left-join onto it with count-like
    # columns coalesced to 0
    cand_lang = cand.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    adm_lang = admitted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_admitted"),
        F.coalesce(F.sum(tok), F.lit(0)).cast("long").alias("admitted_tokens"),
    )
    # retirements attributed by the OLD side's lang (the side leaving)
    ret_lang = retired_rows.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_retired")
    )
    zero = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
    return (
        stats.join(cand_lang, ["lang"], "left")
        .join(adm_lang, ["lang"], "left")
        .join(span_lang, ["lang"], "left")
        .join(knn_lang, ["lang"], "left")
        .join(ret_lang, ["lang"], "left")
        .select(
            "lang",
            zero("n_candidates"),
            zero("n_admitted"),
            zero("admitted_tokens"),
            zero("n_span_flagged"),
            zero("n_knn_pairs"),
            zero("n_retired"),
            "n_docs_total",
            "tokens_total",
        )
    )
