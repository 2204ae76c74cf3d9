#!/usr/bin/env python
"""Re-delivery probe: duplicate a deterministic slice of rows in a
COPY of the testdata — the at-least-once ingest reality (a 100 TB
pipeline WILL see re-delivered batches) — and run every oracle-backed
key through the parity compare.

This is the third poison class after NULL values (r10) and NULL keys
(r11): EXACT duplicate rows with the same primary key. It exposes a
divergence family the other arms can't: any place one engine
aggregates per id while the other computes per physical row, any
window that assumes id uniqueness for a total order, and any count
that silently doubles.

Arms (deterministic, exact re-delivery — same id, same content):
- documents: rows with doc_id   % 37 == 0 appended once more
- events:    rows with event_id % 53 == 0 appended once more
- orders:    rows with o_orderkey % 59 == 0 appended once more

Verdicts are the same OK/MISMATCH taxonomy as the NULL probe. A
MISMATCH here means the two engines disagree about what a re-delivered
row does to the answer — a silent wrong answer the first time a batch
is retried in production.

--conflict runs the CONFLICTING-redelivery arm instead (r12): the
same id re-delivered with DIFFERENT content (documents text twin at
doc_id % 41; orders o_totalprice ± 0.01 twin at o_orderkey % 61) —
a corruption class the r11 exact (id, text) collapse did NOT absorb.
The gram-set keys now collapse on the (id, gram) relation and agree;
tests/test_conflicting_redelivery.py holds the current boundary.
Adjudication (r12, sf0.001): the divergent set is
EXACTLY the per-id SET-semantics family (8 keys: fuzzy-dedup,
ngram-jaccard, fuzzy-dedup-clusters, dedup-survivorship, both
containment keys, decontaminate, simhash-dedup-md5 — SQL's DISTINCT
takes the union of the conflicting versions, the engine's per-row
array_distinct keeps them separate), pinned as a DOCUMENTED BOUNDARY
with exact membership in tests/test_conflicting_redelivery.py; every
per-ROW key (148/156) agrees, including the orders-amount arm. The
resolution is upstream by design: lastwin_dedup one content version
per identified doc before the dedup tier (the reference's
one-row-per-natural-key semantics) — proven to restore pair-for-pair
parity in the same test module.

Usage:
    python fixtures/redelivery_probe.py [--conflict] [sf_dir] [key ...]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

DUP = {
    "documents": "doc_id % 37 = 0",
    "events": "event_id % 53 = 0",
    "orders": "o_orderkey % 59 = 0",
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def build_redelivered_dir(sf_dir: str) -> str:
    out = tempfile.mkdtemp(prefix="sg-redeliver-")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t in DUP:
            con.execute(
                f"""COPY (
                  SELECT * FROM read_parquet('{src}')
                  UNION ALL
                  SELECT * FROM read_parquet('{src}') WHERE {DUP[t]}
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        else:
            shutil.copyfile(src, dst)
    con.close()
    return out


def build_conflicting_dir(sf_dir: str) -> str:
    """CONFLICTING re-delivery (r12 arm): the same doc_id arrives
    twice with DIFFERENT content — a corruption class the per-row
    paths do not absorb. This arm does not require
    tolerance; it verifies the two engines stay CONSISTENT with each
    other on the corrupted input, so the upstream-owned corruption
    can never become a silent cross-engine split down here."""
    out = tempfile.mkdtemp(prefix="sg-conflict-")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "documents":
            con.execute(
                f"""COPY (
                  SELECT * FROM read_parquet('{src}')
                  UNION ALL
                  SELECT doc_id, text || ' conflicting retry payload' AS text,
                         lang, source, n_chars
                  FROM read_parquet('{src}') WHERE doc_id % 41 = 0
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        elif t == "orders":
            con.execute(
                f"""COPY (
                  SELECT * FROM read_parquet('{src}')
                  UNION ALL
                  SELECT o_orderkey, o_custkey, o_orderstatus,
                         o_totalprice + 0.01 AS o_totalprice,
                         o_orderdate, o_orderpriority
                  FROM read_parquet('{src}') WHERE o_orderkey % 61 = 0
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        else:
            shutil.copyfile(src, dst)
    con.close()
    return out


def main() -> None:
    args = sys.argv[1:]
    conflict = "--conflict" in args
    if conflict:
        args.remove("--conflict")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    poisoned = (
        build_conflicting_dir(sf_dir) if conflict
        else build_redelivered_dir(sf_dir)
    )
    print(f"redelivered dir: {poisoned}")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests"))
    from test_oracle_parity import _duck, _rowset

    from reverse_etl_homebrew_spark import queries as Q
    from reverse_etl_homebrew_spark.session import get_spark

    spark = get_spark("redelivery-probe")
    duck = _duck(poisoned)

    counts = {"OK": 0, "MISMATCH": 0, "SPARK_ERR": 0, "DUCK_ERR": 0, "BOTH_RAISE": 0}
    for name, sql in Q.ORACLE.items():
        if only and name not in only:
            continue
        s_err = d_err = None
        try:
            sdf = Q.QUERIES[name](spark, poisoned)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            s_err = str(e)[:160]
        try:
            cur = duck.execute(sql)
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            d_err = str(e)[:160]
        if s_err and d_err:
            verdict = "BOTH_RAISE"
        elif s_err:
            verdict = "SPARK_ERR"
        elif d_err:
            verdict = "DUCK_ERR"
        elif sorted(s_cols) != sorted(d_cols):
            verdict = "MISMATCH"
        elif _rowset(s_cols, s_rows) != _rowset(d_cols, d_rows):
            verdict = "MISMATCH"
        else:
            verdict = "OK"
        counts[verdict] += 1
        if verdict != "OK":
            print(f"{verdict:10s} {name} {s_err or d_err or ''}")
    print("summary:", counts)
    spark.stop()


if __name__ == "__main__":
    main()
