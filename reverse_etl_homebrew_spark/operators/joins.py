"""Join operators (SURVEY.md §2.5).

The reference performs every "join" as an N+1 sequence of per-row RPCs
(ID-map lookup main.py:373-389 at call sites 673/776; HubSpot search
main.py:460-468 at 694-706; DLQ attempt read main.py:404-420 at
714/748). The Spark engine replaces each with one set-oriented join:

- build sides carry no broadcast hint: the ID map, remote snapshot
  and DLQ grow with the data, so AQE and autoBroadcastJoinThreshold
  pick the strategy from the runtime size — broadcast at today's size,
  sort-merge at the 100 TB design point, where a forced broadcast
  would OOM;
- fact-to-fact joins shuffle on their equi keys under AQE (skew-join
  splitting on hot keys);
- the tiered fallback cascade becomes left joins + priority coalesce,
  preserving per-row winner semantics exactly.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame, functions as F


def idmap_join(
    rows: DataFrame,
    idmap: DataFrame,
    object_type: str,
    key_col: str = "natural_key",
    id_col: str = "hubspot_id",
) -> DataFrame:
    """Left join of fact rows to the idempotency ID map on
    (object_type, natural_key) (get_mapped_hubspot_id, main.py:373-389;
    call sites 673/776).

    The ID map grows one row per ever-synced record — fact-sized at the
    design scale — so broadcast is NOT forced: AQE picks from its
    runtime size estimate (broadcast while the map is small,
    sort-merge once it isn't)."""
    m = (
        idmap.filter(F.col("hubspot_object_type") == object_type)
        .select(F.col(key_col), F.col(id_col).alias("mapped_hubspot_id"))
    )
    return rows.join(m, [key_col], "left")


def email_match_join(
    rows: DataFrame,
    snapshot: DataFrame,
    email_col: str = "email",
    id_col: str = "hubspot_id",
) -> DataFrame:
    """Ambiguity-aware identity adoption (main.py:694-706): for rows
    still unmapped, join on normalized email against the remote
    snapshot pre-aggregated per email. Outcomes:
      match_count == 1 → adopt ``email_hubspot_id``;
      match_count >= 2 → ambiguous (DLQ branch, main.py:702-706);
      match_count null → no identity → create branch.
    Pre-aggregating the snapshot makes the ambiguity decision a per-key
    aggregate instead of a per-row search, and shrinks the join build
    side to one row per distinct email — still O(contacts) at CRM
    scale, so broadcast is AQE's runtime choice."""
    per_email = snapshot.groupBy(F.col(email_col)).agg(
        F.count(F.lit(1)).alias("email_match_count"),
        F.min(F.col(id_col)).alias("email_hubspot_id"),
    )
    return rows.join(per_email, [email_col], "left")


def tiered_match_join(
    rows: DataFrame,
    tiers: Sequence[Tuple[DataFrame, str, str, str]],
    out_col: str = "resolved_id",
) -> DataFrame:
    """Priority-fallback match cascade (find_patient_contact,
    main.py:613-633): each tier is (candidates, row_key_col,
    cand_key_col, cand_id_col); the first tier that matches a row wins.

    Compiled as N left joins + one priority F.coalesce — the per-row
    winner is identical to the reference's sequential first-hit-wins
    loop, but evaluated in one pass with no RPCs. Tier build sides are
    deduped to one candidate per key but still scale with the candidate
    table (the full CRM at production size), so AQE decides broadcast
    per tier from runtime sizes."""
    out = rows
    tier_cols = []
    for i, (cand, row_key, cand_key, cand_id) in enumerate(tiers):
        alias = f"__tier{i}_id"
        build = (
            cand.filter(F.col(cand_key).isNotNull())
            # one candidate per key keeps the cascade deterministic even
            # if a tier's source has duplicate keys
            .groupBy(F.col(cand_key).alias(f"__tier{i}_key"))
            .agg(F.min(F.col(cand_id)).alias(alias))
        )
        out = out.join(
            build, out[row_key] == build[f"__tier{i}_key"], "left"
        ).drop(f"__tier{i}_key")
        tier_cols.append(F.col(alias))
    out = out.withColumn(out_col, F.coalesce(*tier_cols))
    return out.drop(*[f"__tier{i}_id" for i in range(len(tiers))])


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Rows with no match — the unresolved-ROI → DLQ branch
    (main.py:743-774). left_anti is shuffle-free when the right side
    broadcasts."""
    return left.join(right, list(on), "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Rows with at least one match (EXISTS)."""
    return left.join(right, list(on), "left_semi")


def dlq_attempt_join(
    failures: DataFrame,
    dlq: DataFrame,
    keys: Sequence[str] = ("job_type", "natural_key", "error"),
) -> DataFrame:
    """Attach next attempt number to each failure:
    IFNULL(MAX(attempt),0)+1 per (job_type, natural_key, error)
    (read_failure_attempts, main.py:404-420; call sites 714/748).
    The DLQ aggregates to one row per key before the join; distinct
    failing keys are usually few, but a poisoned run can fail
    everything, so broadcast is AQE's runtime choice."""
    prior = dlq.groupBy(*keys).agg(F.max("attempt").alias("__prior_attempt"))
    return (
        failures.join(prior, list(keys), "left")
        .withColumn("attempt", F.coalesce(F.col("__prior_attempt"), F.lit(0)) + F.lit(1))
        .drop("__prior_attempt")
    )
