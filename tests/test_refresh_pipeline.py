"""Invariants of the corpus-refresh composite (operators/refresh.py),
beyond the driver's oracle row:

- refresh(corpus, corpus) is a NO-OP: zero candidates/admissions/
  flags, totals equal to the corpus' own per-lang stats;
- refresh(corpus, corpus ∪ delta) ≡ prep over the union on the
  overlap (VERDICT r12 #3): for a pure-append snapshot pair the
  refreshed totals equal a from-scratch recompute over
  corpus ∪ admitted(delta);
- retraction is exact: a snapshot that only drops keys yields totals
  equal to a from-scratch recompute over the survivors — the
  subtractive arm of the merge_rollup_state fold, which the additive
  `incremental-agg-merge` proof never exercised;
- the ANN append-equivalence invariant extends THROUGH the composite:
  probing a follow-up batch against the survivor index with the
  admitted batch's ``build_ann_index`` inserted equals probing against
  a full rebuild over survivors ∪ admitted.

Index maintenance is an INSERT INTO the bucketed table of the accepted
batch's ``build_*`` rows, distinct within buckets (``_insert``).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.functions import text as TX
from reverse_etl_homebrew_spark.operators.dedup import incremental_dedup
from reverse_etl_homebrew_spark.operators.refresh import corpus_refresh_report
from reverse_etl_homebrew_spark.operators.similarity import (
    build_ann_index,
    incremental_knn,
)
from reverse_etl_homebrew_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


def _insert(index, delta):
    """INSERT INTO an index table: the set union of its rows and the
    accepted batch's index rows."""
    return index.unionByName(delta).distinct()


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text", "lang")
    )


@pytest.fixture(scope="module")
def vecs(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _totals(df):
    """From-scratch per-lang (n_docs, tokens) recompute — the ground
    truth the incremental fold must equal."""
    out = df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("t"),
    )
    return {r["lang"]: (r["n"], r["t"]) for r in out.collect()}


def _report(spark, old, new, vecs):
    rows = corpus_refresh_report(old, new, vecs).collect()
    return {r["lang"]: r.asDict() for r in rows}


def test_noop_refresh(spark, docs, vecs):
    rep = _report(spark, docs, docs, vecs)
    want = _totals(docs)
    assert set(rep) == set(want)
    for lang, row in rep.items():
        assert row["n_candidates"] == 0
        assert row["n_admitted"] == 0
        assert row["admitted_tokens"] == 0
        assert row["n_span_flagged"] == 0
        assert row["n_knn_pairs"] == 0
        assert (row["n_docs_total"], row["tokens_total"]) == want[lang]


def test_pure_append_refresh_equals_prep_on_union(spark, docs, vecs):
    # delta: 30 genuinely-new docs (shifted ids, text perturbed so
    # fingerprints are fresh) plus 10 exact copies of accepted docs
    # (must be rejected by admission)
    fresh_delta = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended-v2")).alias("text"),
        "lang",
    )
    dup_delta = docs.filter(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 40)
    ).select((F.col("doc_id") + 60000).alias("doc_id"), "text", "lang")
    delta = fresh_delta.unionByName(dup_delta)
    new = docs.unionByName(delta)

    rep = _report(spark, docs, new, vecs)
    admitted = incremental_dedup(delta, docs)
    want = _totals(docs.unionByName(admitted.select("doc_id", "text", "lang")))
    got = {
        lang: (row["n_docs_total"], row["tokens_total"])
        for lang, row in rep.items()
    }
    assert got == want
    # the duplicate arm really was rejected
    n_admitted = sum(row["n_admitted"] for row in rep.values())
    assert n_admitted == admitted.count() == fresh_delta.count()


def test_retraction_refresh_equals_recompute_over_survivors(spark, docs, vecs):
    new = docs.filter(F.col("doc_id") % 3 != 0)
    rep = _report(spark, docs, new, vecs)
    want = _totals(new)
    dropped = {
        r["lang"]: r["n"]
        for r in docs.filter(F.col("doc_id") % 3 == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sum(r["n_retired"] for r in rep.values()) == sum(dropped.values())
    # r14 (advisor): a lang whose every doc was retired must VANISH
    # from the report — the oracle recomputes from the refreshed
    # corpus, where that lang has no rows — instead of surviving as an
    # n=0 fold artifact. The report's lang universe IS the survivors'.
    assert set(rep) == set(want)
    for lang, row in rep.items():
        assert row["n_retired"] == dropped.get(lang, 0)
        assert row["n_candidates"] == 0 and row["n_admitted"] == 0
        n, t = want[lang]
        assert row["n_docs_total"] == n
        assert row["tokens_total"] == t


def test_span_index_append_equals_rebuild(spark, docs):
    """The span-index maintenance twin of the ANN append invariant:
    inserting an admitted batch's windows ≡ rebuilding over the union,
    and re-appending the same batch is a no-op (set idempotence)."""
    from reverse_etl_homebrew_spark.operators.dedup import (
        build_span_index,
        incremental_dup_spans,
    )

    old = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id").between(300, 360)).select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text", "lang"
    )
    appended = _insert(build_span_index(old), build_span_index(batch))
    rebuilt = build_span_index(old.unionByName(batch))
    a = sorted(r["win"] for r in appended.collect())
    b = sorted(r["win"] for r in rebuilt.collect())
    assert a == b
    again = _insert(appended, build_span_index(batch))
    assert again.count() == appended.count()
    # a follow-up batch probed against the appended index sees exactly
    # what the rebuilt index shows
    batch2 = docs.filter(F.col("doc_id") > 400).select(
        (F.col("doc_id") + 90000).alias("doc_id"), "text", "lang"
    )
    via_append = sorted(
        map(tuple, incremental_dup_spans(batch2, appended).collect())
    )
    via_rebuild = sorted(
        map(tuple, incremental_dup_spans(batch2, rebuilt).collect())
    )
    assert via_append == via_rebuild and via_append


def test_append_index_equivalence_through_composite(spark, docs, vecs):
    # refresh admits a batch; a FOLLOW-UP batch probed against the
    # appended index must see exactly what a rebuilt index shows
    delta = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        "lang",
    )
    admitted = incremental_dedup(delta, docs)
    # admitted delta vectors: reuse the originals' embeddings under
    # the shifted ids (disjoint from the index by id)
    adm_vecs = vecs.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding", "label"
    )
    assert admitted.count() == adm_vecs.count()

    base_idx = build_ann_index(vecs, planes=6)
    appended = _insert(base_idx, build_ann_index(adm_vecs, planes=6))
    rebuilt = build_ann_index(vecs.unionByName(adm_vecs), planes=6)

    batch2 = vecs.filter(F.col("vec_id").between(100, 120)).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding", "label"
    )
    via_append = sorted(
        map(tuple, incremental_knn(batch2, appended, k=3, planes=6).collect())
    )
    via_rebuild = sorted(
        map(tuple, incremental_knn(batch2, rebuilt, k=3, planes=6).collect())
    )
    assert via_append == via_rebuild
    assert via_append  # non-vacuous


# ---------------------------------------------------------------------------
# r14 (VERDICT r13 #2): the probe-side refresh core over PERSISTED
# artifacts — equivalence to the local form, fingerprint-index
# maintenance, and the zero-index-side-Exchange plan pin extended
# through the composite.
# ---------------------------------------------------------------------------

def _delta_snapshot(docs):
    """The registered key's derived next-day snapshot (queries_text):
    doc_id % 13 dropped, % 7 revised, % 11 re-added under shifted
    ids — every admission dynamic at once."""
    revised = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    return (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id", revised.alias("text"), "lang")
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 100000000).alias("doc_id"), "text", "lang"
            )
        )
    )


def _survivor_artifacts(old, new, vecs, planes=6, span_n=8):
    """The four accepted-corpus artifacts the probe form consumes, as
    corpus_refresh_report derives them inline (bootstrap form)."""
    from reverse_etl_homebrew_spark.operators.dedup import (
        build_fingerprint_index,
        build_span_index,
    )
    from reverse_etl_homebrew_spark.operators.merge import (
        rollup_partial,
        snapshot_diff,
    )

    diff = snapshot_diff(
        old.select("doc_id", "text"),
        new.select("doc_id", "text"),
        "doc_id",
        F.md5("text"),
    )
    retired = diff.where(F.col("status").isin("removed", "changed")).select(
        "doc_id"
    )
    surviving = old.join(retired, ["doc_id"], "left_anti")
    fps = build_fingerprint_index(surviving.where(F.col("text").isNotNull()))
    spans = build_span_index(surviving, n=span_n)
    acc_vecs = vecs.join(
        surviving.select(F.col("doc_id").alias("vec_id")), ["vec_id"], "left_semi"
    )
    ann = build_ann_index(acc_vecs, planes)
    tok = TX.token_count(F.col("text"))
    state = rollup_partial(
        old.select("lang", tok.alias("toks"), "doc_id"), "lang", "toks", "doc_id"
    )
    return fps, spans, ann, state, diff


def test_probe_form_equals_report(spark, docs, vecs):
    """corpus_refresh_probe over supplied survivor artifacts and the
    snapshot-diff decision table returns corpus_refresh_report's rows
    EXACTLY — the semantics guarantee that makes the persisted-artifact
    wall measurement (fixtures/tenx_refresh.py) a measurement of the
    same operator. Both the full new snapshot and the watermark shape
    (delta-only ``new`` — the reference's watermark read,
    main.py:537-538) are pinned."""
    from reverse_etl_homebrew_spark.operators.refresh import (
        corpus_refresh_probe,
    )

    old = docs
    new = _delta_snapshot(docs)
    fps, spans, ann, state, diff = _survivor_artifacts(old, new, vecs)
    via_report = sorted(
        map(tuple, corpus_refresh_report(old, new, vecs).collect())
    )
    via_cdc = sorted(
        map(
            tuple,
            corpus_refresh_probe(
                old, new, vecs, fps, spans, ann, state, diff
            ).collect(),
        )
    )
    assert via_cdc == via_report and via_cdc
    reprocess = diff.where(F.col("status").isin("added", "changed")).select(
        "doc_id"
    )
    delta_only = new.join(reprocess, ["doc_id"], "left_semi")
    via_watermark = sorted(
        map(
            tuple,
            corpus_refresh_probe(
                old, delta_only, vecs, fps, spans, ann, state, diff
            ).collect(),
        )
    )
    assert via_watermark == via_report


def test_fingerprint_index_append_equals_rebuild(spark, docs):
    """The doc-tier maintenance twin: inserting an accepted batch's
    fingerprints ≡ rebuilding over the union; re-appending is a
    no-op; and a follow-up batch deduped through the index form equals
    the corpus form exactly."""
    from reverse_etl_homebrew_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_dedup_against_index,
    )

    old = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id").between(300, 360)).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fp-v2")).alias("text"),
        "lang",
    )
    appended = _insert(build_fingerprint_index(old), build_fingerprint_index(batch))
    rebuilt = build_fingerprint_index(old.unionByName(batch))
    a = sorted(r["fp"] for r in appended.collect())
    b = sorted(r["fp"] for r in rebuilt.collect())
    assert a == b and a
    again = _insert(appended, build_fingerprint_index(batch))
    assert again.count() == appended.count()

    batch2 = docs.filter(F.col("doc_id") > 400).select(
        (F.col("doc_id") + 90000).alias("doc_id"), "text", "lang"
    ).unionByName(batch)  # the re-delivered batch arm must be rejected
    via_index = sorted(
        map(
            tuple,
            incremental_dedup_against_index(batch2, appended).collect(),
        )
    )
    via_corpus = sorted(
        map(
            tuple, incremental_dedup(batch2, old.unionByName(batch)).collect()
        )
    )
    assert via_index == via_corpus and via_index


def test_fp_anti_join_reads_bucketed_index_in_place(spark, docs, tmp_path):
    """DIFFERENTIAL plan pin (the incremental-knn pattern lifted to
    the doc tier): the admission anti-join against the fingerprint
    index persisted bucketed on `fp` removes the index-side Exchange
    — only the batch's fingerprints move per ingest. The anti-join
    subtree is planned TWICE (once as `fresh`, once inside the
    survivor-election self-join), so the saving shows up as exactly
    two fewer Exchanges in the un-deduplicated plan text."""
    import uuid

    from reverse_etl_homebrew_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_dedup_against_index,
    )

    fps = build_fingerprint_index(docs)
    suffix = uuid.uuid4().hex[:8]
    tb = f"fp_idx_b_{suffix}"
    tp = str(tmp_path / "fp_idx_plain")
    (
        fps.write.bucketBy(8, "fp")
        .sortBy("fp")
        .option("path", str(tmp_path / tb))
        .saveAsTable(tb)
    )
    fps.write.parquet(tp)
    batch = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 70000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" b-v2")).alias("text"),
        "lang",
    )
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        def probe_plan(idx_df):
            out = incremental_dedup_against_index(batch, idx_df)
            out.write.format("noop").mode("overwrite").save()
            return out._jdf.queryExecution().executedPlan().toString()

        bucketed = probe_plan(spark.table(tb))
        plain = probe_plan(spark.read.parquet(tp))
        assert "Bucketed: true" in bucketed
        n_b, n_p = bucketed.count("Exchange"), plain.count("Exchange")
        assert n_b == n_p - 2, (n_b, n_p)
        # and the index side itself never re-shuffles on the key
        assert "hashpartitioning(fp" not in bucketed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_probe_reads_bucketed_artifacts_in_place(spark, docs, vecs, tmp_path):
    """The zero-index-side-Exchange pin EXTENDED THROUGH the composite
    (VERDICT r13 #2): corpus_refresh_probe against span/ANN indexes
    persisted bucketed on their join keys pays exactly two fewer
    Exchanges than against plain parquet — the two index-side
    re-shuffles (the span set's distinct, the ANN join's index side)
    that the bucketed layout exists to remove. The fingerprint
    anti-join sits behind the admitted staging barrier
    (localCheckpoint here, a durable staging table in production), so
    its saving is pinned at the operator level above rather than in
    this composite's visible plan."""
    import uuid

    from reverse_etl_homebrew_spark.operators.refresh import (
        corpus_refresh_probe,
    )

    old = docs
    new = _delta_snapshot(docs)
    fps, spans, ann, state, diff = _survivor_artifacts(old, new, vecs)
    suffix = uuid.uuid4().hex[:8]
    tbs = {}
    plains = {}
    for name, df, key in (("win", spans, "win"), ("ann", ann, "bucket")):
        tb = f"refresh_{name}_{suffix}"
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / tb))
            .saveAsTable(tb)
        )
        pp = str(tmp_path / f"{name}_plain")
        df.write.parquet(pp)
        tbs[name] = tb
        plains[name] = pp
    state_p = str(tmp_path / "state_plain")
    state.write.parquet(state_p)
    fp_p = str(tmp_path / "fp_plain")
    fps.write.parquet(fp_p)

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        def probe_plan(span_df, ann_df):
            out = corpus_refresh_probe(
                old,
                new,
                vecs,
                spark.read.parquet(fp_p),
                span_df,
                ann_df,
                spark.read.parquet(state_p),
                diff,
            )
            out.write.format("noop").mode("overwrite").save()
            return out._jdf.queryExecution().executedPlan().toString()

        bucketed = probe_plan(
            spark.table(tbs["win"]), spark.table(tbs["ann"])
        )
        plain = probe_plan(
            spark.read.parquet(plains["win"]),
            spark.read.parquet(plains["ann"]),
        )
        assert bucketed.count("Bucketed: true") >= 2
        n_b, n_p = bucketed.count("Exchange"), plain.count("Exchange")
        assert n_b == n_p - 2, (n_b, n_p)
        assert "CartesianProduct" not in bucketed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for tb in tbs.values():
            spark.sql(f"DROP TABLE IF EXISTS {tb}")
