"""Unit gates for the late-r12 corpus ops: chunk_documents,
snapshot_diff, and the Bloom-prefiltered decontaminate twin.

The oracle-parity and plan-shape gates cover the registered forms;
these pin the operator-level contracts — coverage algebra, the NULL
scope rules, and the prefilter's exactness under forced collisions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reverse_etl_homebrew_spark.operators import chunking as CH
from reverse_etl_homebrew_spark.operators import dedup as DD
from reverse_etl_homebrew_spark.operators.merge import snapshot_diff


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------


def test_chunks_cover_every_token_without_redundant_tail(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    out = CH.chunk_documents(
        _docs(spark, [(1, text)]), size=4, stride=3
    ).collect()
    # starts 1,4,7 (upper bound n - (size - stride) = 9): a 4th start
    # at 10 would emit 't9' alone — fully contained in chunk 2,
    # 100%-overlap duplicate content
    by_id = {r.chunk_id: r for r in out}
    assert sorted(by_id) == [0, 1, 2]
    assert [by_id[i].n_chunk_tokens for i in range(3)] == [4, 4, 4]
    assert by_id[0].chunk == "t0 t1 t2 t3"
    assert by_id[2].chunk == "t6 t7 t8 t9"
    # stride coverage: every token index appears in at least one chunk
    seen = set()
    for r in out:
        seen.update(r.chunk.split(" "))
    assert seen == {f"t{i}" for i in range(10)}


def test_no_chunk_is_contained_in_its_predecessor(spark):
    """For every doc length around the boundary, consecutive chunks
    must each contribute at least one new token (no 100%-overlap
    tails), while the union still covers the whole doc."""
    rows = [
        (n, " ".join(f"w{i}" for i in range(n))) for n in range(1, 30)
    ]
    out = CH.chunk_documents(_docs(spark, rows), size=8, stride=5).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk.split(" ")))
    for n, chunks in by_doc.items():
        chunks.sort()
        covered = set()
        prev_end = -1
        for cid, toks in chunks:
            start = cid * 5
            end = start + len(toks) - 1
            assert end > prev_end, f"doc {n}: chunk {cid} adds no new token"
            prev_end = end
            covered.update(toks)
        assert covered == {f"w{i}" for i in range(n)}, f"doc {n} coverage gap"


def test_short_doc_yields_single_whole_chunk(spark):
    out = CH.chunk_documents(_docs(spark, [(1, "a b")]), size=64, stride=48).collect()
    assert len(out) == 1
    assert out[0].chunk == "a b" and out[0].n_chunk_tokens == 2


def test_null_and_empty_docs_yield_no_chunks(spark):
    rows = [(1, None), (None, "has text"), (2, "   "), (3, "x")]
    out = CH.chunk_documents(_docs(spark, rows), size=4, stride=3).collect()
    assert [(r.doc_id, r.chunk) for r in out] == [(3, "x")]


def test_chunk_documents_rejects_bad_knobs(spark):
    with pytest.raises(ValueError):
        CH.chunk_documents(_docs(spark, [(1, "x")]), size=0, stride=3)
    with pytest.raises(ValueError):
        CH.chunk_documents(_docs(spark, [(1, "x")]), size=4, stride=0)


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_status_matrix(spark):
    old = _docs(spark, [(1, "same"), (2, "old"), (3, "gone"), (4, None)])
    new = _docs(spark, [(1, "same"), (2, "new"), (5, "fresh"), (4, None)])
    out = {
        r.doc_id: r.status
        for r in snapshot_diff(old, new, "doc_id", F.md5("text")).collect()
    }
    # 1 unchanged (filtered), 4 NULL-text both sides -> unchanged (filtered)
    assert out == {2: "changed", 3: "removed", 5: "added"}


def test_snapshot_diff_null_text_vs_text_is_changed(spark):
    old = _docs(spark, [(1, None)])
    new = _docs(spark, [(1, "now present")])
    out = snapshot_diff(old, new, "doc_id", F.md5("text")).collect()
    assert [(r.doc_id, r.status) for r in out] == [(1, "changed")]


def test_snapshot_diff_null_keys_out_of_scope(spark):
    old = _docs(spark, [(None, "a"), (1, "x")])
    new = _docs(spark, [(None, "b"), (1, "x")])
    assert snapshot_diff(old, new, "doc_id", F.md5("text")).count() == 0


# ---------------------------------------------------------------------------
# contamination_flags_prefiltered
# ---------------------------------------------------------------------------


def _contamination_fixture(spark):
    bench = _docs(
        spark,
        [(100, "the quick brown fox jumps over the lazy dog again today")],
    )
    train = _docs(
        spark,
        [
            # shares the full bench 8-gram window
            (1, "prefix the quick brown fox jumps over the lazy dog tail"),
            # no shared 8-gram
            (2, "completely different words with no overlap whatsoever at all ok"),
        ],
    )
    return train, bench


def test_prefiltered_equals_exact_form(spark):
    train, bench = _contamination_fixture(spark)
    exact = {
        (r.doc_id, r.shared_grams)
        for r in DD.contamination_flags(train, bench, n=8).collect()
    }
    pre = {
        (r.doc_id, r.shared_grams)
        for r in DD.contamination_flags_prefiltered(train, bench, n=8).collect()
    }
    assert exact == pre and exact, "prefiltered form diverged from exact"


def test_prefiltered_exact_even_when_every_position_collides(spark, monkeypatch):
    """A lane modulus of 1 saturates both Bloom lanes (every gram maps
    to position 0), the worst collision case: the prefilter passes
    everything through and the exact join must still produce the exact
    answer."""
    monkeypatch.setattr(DD, "_BLOOM_M", 1)
    train, bench = _contamination_fixture(spark)
    exact = {
        (r.doc_id, r.shared_grams)
        for r in DD.contamination_flags(train, bench, n=8).collect()
    }
    pre = {
        (r.doc_id, r.shared_grams)
        for r in DD.contamination_flags_prefiltered(train, bench, n=8).collect()
    }
    assert exact == pre


def test_prefiltered_empty_benchmark_yields_empty(spark):
    train, bench = _contamination_fixture(spark)
    out = DD.contamination_flags_prefiltered(
        train, bench.filter(F.lit(False)), n=8
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "shared_grams"]


def test_snapshot_diff_collapses_exact_redelivery(spark):
    """An at-least-once feed delivering the same (key, payload) twice
    is one snapshot fact — the diff must not fan out into duplicate
    status reports (the engine-wide r11 exact-re-delivery collapse)."""
    old = _docs(spark, [(1, "v1"), (1, "v1"), (2, "gone"), (2, "gone")])
    new = _docs(spark, [(1, "v2"), (1, "v2"), (5, "fresh"), (5, "fresh")])
    out = sorted(
        (r.doc_id, r.status)
        for r in snapshot_diff(old, new, "doc_id", F.md5("text")).collect()
    )
    assert out == [(1, "changed"), (2, "removed"), (5, "added")]


def test_gap_sampling_stride_larger_than_size(spark):
    """stride > size is legal (gap sampling — take `size` tokens every
    `stride`): chunks are disjoint, the start bound caps at n so no
    start past the last token can emit an empty chunk."""
    text = " ".join(f"t{i}" for i in range(12))  # 12 tokens
    out = sorted(
        (r.chunk_id, r.chunk)
        for r in CH.chunk_documents(
            _docs(spark, [(1, text)]), size=2, stride=5
        ).collect()
    )
    # starts 1, 6, 11 -> t0 t1 / t5 t6 / t10 t11
    assert out == [(0, "t0 t1"), (1, "t5 t6"), (2, "t10 t11")]
    # and a start landing exactly on the final token emits a 1-token
    # chunk, never an empty one
    out2 = CH.chunk_documents(
        _docs(spark, [(1, "a b c d e f")]), size=2, stride=5
    ).collect()
    assert sorted((r.chunk_id, r.chunk) for r in out2) == [(0, "a b"), (1, "f")]


def test_snapshot_diff_version_set_identity_under_conflict(spark):
    """Conflicting duplicates (same key, different payloads in ONE
    snapshot): change is defined by the version SET. Identical
    multi-version snapshots compare unchanged — never the M x N join
    fan-out that reported a no-op refresh as two 'changed' rows — and
    a genuinely different set is exactly one 'changed' row."""
    old = _docs(spark, [(1, "a"), (1, "b"), (2, "a"), (2, "b")])
    same = _docs(spark, [(1, "b"), (1, "a"), (2, "a"), (2, "b")])
    assert snapshot_diff(old, same, "doc_id", F.md5("text")).count() == 0
    moved = _docs(spark, [(1, "a"), (1, "c"), (2, "a"), (2, "b")])
    out = snapshot_diff(old, moved, "doc_id", F.md5("text")).collect()
    assert [(r.doc_id, r.status) for r in out] == [(1, "changed")]


def test_snapshot_diff_randomized_ground_truth(spark):
    """200 random keys with random version multisets on each side,
    statuses checked against a direct python reference of the
    version-SET semantics — one batched run, deterministic seed."""
    import random

    rng = random.Random(20260816)
    payloads = ["a", "b", "c", None]
    old_rows, new_rows, expect = [], [], {}
    for k in range(200):
        o = [rng.choice(payloads) for _ in range(rng.randint(0, 3))]
        n = [rng.choice(payloads) for _ in range(rng.randint(0, 3))]
        for v in o:
            old_rows.append((k, v))
        for v in n:
            new_rows.append((k, v))
        oset, nset = set(o), set(n)
        if o and not n:
            expect[k] = "removed"
        elif n and not o:
            expect[k] = "added"
        elif o and n and oset != nset:
            expect[k] = "changed"
        # else absent from both or equal sets -> no row
    out = snapshot_diff(
        _docs(spark, old_rows), _docs(spark, new_rows), "doc_id", F.md5("text")
    ).collect()
    got = {r.doc_id: r.status for r in out}
    assert len(got) == len(out), "duplicate status rows for one key"
    assert got == expect
