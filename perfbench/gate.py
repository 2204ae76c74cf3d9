"""Correctness gate: every benchmark operation is checked, untimed.

- A registry key's rows are compared as a multiset with its DuckDB
  ``ORACLE`` SQL over the same generated parquet files, with the
  cell normalisation of the repo's oracle-parity test (floats compared
  bit-exactly, DuckDB decimals and dates mapped to the engine's
  representation).
- A ``run_sync`` call's status dict is compared with counts derived
  from the ``patient-sync-pipeline`` / ``roi-sync-pipeline`` oracle
  outcome counts plus the seeded API failure schedule.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

#: write outcomes of the sync plans (streaming/incremental.WRITE_OUTCOMES)
WRITES = ("create", "update", "adopt")

#: Per-key outcomes of the two sync plans. Their GROUP BY counts are
#: checked against the registry oracle of the matching pipeline key,
#: so these stay tied to the program's own oracle.
PER_KEY_SQL = {
    "patients": """
    WITH rows AS (
      SELECT CAST(c_custkey AS VARCHAR) AS natural_key,
             NULLIF(LOWER(TRIM(
               CASE WHEN c_custkey % 17 = 0 THEN ''
                    ELSE CONCAT(UPPER(c_name), '@example.com ') END)), '') AS email
      FROM customer
    ), idmap AS (
      SELECT CAST(c_custkey AS VARCHAR) AS natural_key
      FROM customer WHERE c_custkey % 5 = 0
    ), snapshot AS (
      SELECT CONCAT(LOWER(c_name), '@example.com') AS email
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT CONCAT(LOWER(c_name), '@example.com')
      FROM customer WHERE c_custkey % 21 = 0
    ), per_email AS (
      SELECT email, COUNT(*) AS cnt FROM snapshot GROUP BY email
    )
    SELECT r.natural_key,
           CASE WHEN i.natural_key IS NOT NULL THEN 'update'
                WHEN r.email IS NULL THEN 'dlq_no_email'
                WHEN p.cnt >= 2 THEN 'dlq_ambiguous'
                WHEN p.cnt = 1 THEN 'adopt'
                ELSE 'create' END AS outcome
    FROM rows r
    LEFT JOIN idmap i ON r.natural_key = i.natural_key
    LEFT JOIN per_email p ON r.email = p.email
    """,
    "rois": """
    SELECT CAST(o_orderkey AS VARCHAR) AS natural_key,
           CASE WHEN o_orderkey % 11 = 0 AND o_orderdate IS NOT NULL
                  THEN 'skip_processed'
                WHEN o_orderkey % 13 = 0 THEN 'skip_override'
                WHEN o_custkey IS NULL THEN 'dlq_unresolved'
                WHEN o_orderkey % 7 = 0 THEN 'update'
                ELSE 'create' END AS outcome
    FROM orders
    """,
}
PIPELINE_KEY = {"patients": "patient-sync-pipeline", "rois": "roi-sync-pipeline"}


def connect(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    """Canonical comparison form for one cell (tests/test_oracle_parity)."""
    if isinstance(v, float):
        if math.isnan(v):
            return ("fnan",)
        return ("f", v)
    if isinstance(v, decimal.Decimal):
        return ("f", float(v))
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if v is None:
        return ("n",)
    return ("s", str(v))


def rowset(cols, rows):
    """Sorted multiset of normalised rows, columns in name order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def expected_answer(cols, rows):
    """The comparison form of an answer: sorted names, normalised rows."""
    return sorted(cols), rowset(cols, rows)


def oracle_answer(con, sql: str):
    res = con.execute(sql)
    return expected_answer([d[0] for d in res.description], res.fetchall())


def check_rows(name: str, expected, cols, rows) -> str | None:
    """None when ``rows`` match the oracle answer, else the first difference."""
    ecols, erows = expected
    if sorted(cols) != ecols:
        return f"{name}: columns {sorted(cols)} != {ecols}"
    got = rowset(cols, rows)
    if len(got) != len(erows):
        return f"{name}: {len(got)} rows != {len(erows)}"
    for a, b in zip(got, erows):
        if a != b:
            return f"{name}: row {a} != {b}"
    return None


def sync_outcomes(con, oracle_sql: dict, job_type: str) -> dict[str, str]:
    """natural_key -> outcome for one sync plan, cross-checked against
    the registry oracle's outcome counts."""
    per_key = dict(con.execute(PER_KEY_SQL[job_type]).fetchall())
    counts: dict[str, int] = {}
    for outcome in per_key.values():
        counts[outcome] = counts.get(outcome, 0) + 1
    oracle = dict(con.execute(oracle_sql[PIPELINE_KEY[job_type]]).fetchall())
    if counts != oracle:
        raise RuntimeError(
            f"per-key {job_type} outcomes {counts} disagree with the "
            f"{PIPELINE_KEY[job_type]} oracle {oracle}"
        )
    return per_key


def expected_sync(outcomes: dict[str, str], exhausted: set[str]) -> tuple[dict, dict]:
    """Expected ``run_sync`` results of the full load and of the re-run.

    Exhausted writes fail on both runs, so the first run ends
    ``partial`` and holds its watermark, the re-run re-reads every row,
    and each earlier successful create comes back as an update."""
    n = {}
    for o in outcomes.values():
        n[o] = n.get(o, 0) + 1
    writes = sum(n.get(o, 0) for o in WRITES)
    exh_create = sum(1 for k in exhausted if outcomes[k] == "create")
    skipped = n.get("skip_processed", 0) + n.get("skip_override", 0)
    dlq = sum(v for o, v in n.items() if o.startswith("dlq_"))
    status = "partial" if exhausted else "success"
    full = {
        "status": status,
        "read": len(outcomes),
        "created": n.get("create", 0) - exh_create,
        "updated": writes - n.get("create", 0) - (len(exhausted) - exh_create),
        "skipped": skipped,
        "errors": dlq + len(exhausted),
    }
    rerun = dict(full, created=0, updated=writes - len(exhausted))
    return full, rerun


def check_sync(name: str, expected: dict, got: dict) -> str | None:
    if got != expected:
        return f"{name}: {got} != {expected}"
    return None
