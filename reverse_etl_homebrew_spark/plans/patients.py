"""The patient-sync plan, re-based onto the driver testdata
(FIXTURES.md role mapping: ``customer`` plays patients).

Reference lifecycle being re-expressed (upsert_contacts,
main.py:667-729): read → map_patient_to_contact projection → ID-map
lookup → email match (adopt / ambiguous / create) → field-lock
projection → write plan. Here the whole thing is ONE lazy DataFrame:
every branch of the reference's per-row if/else ladder becomes an
outcome label computed set-oriented, and the single action at the end
executes scan + projection + two broadcast joins + labeling +
aggregation in one Catalyst-optimized pass.

Synthetic control state (deterministic functions of the key — no
hidden inputs):
- ID map: customers with c_custkey % 5 == 0 are already mapped
  (hubspot_id 'HS-<key>').
- Remote snapshot: customers with c_custkey % 3 == 0 exist remotely,
  and keys % 21 == 0 appear TWICE (two hubspot ids for one email) to
  exercise the ambiguous-multiple-matches DLQ branch (main.py:702-706).
- Customers with c_custkey % 17 == 0 have no email (blank) to
  exercise the no-email DLQ branch (main.py:688-692).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import scalars as SC
from ..operators import joins as J
from ..sources.catalog import load_table


def patient_rows(c: DataFrame) -> DataFrame:
    """customer → patient-shaped rows with natural key and normalized
    email (map_patient_to_contact core, main.py:555-611).

    Schema-drift tolerance (r12, the reference's defining behavior —
    ``row.get("Patient Name") or row.get("Patient_Name")``,
    main.py:645,736-737): the DESCRIPTOR columns read through
    ``col_or_null`` alias chains, so an export that renames or drops
    them still syncs — a dropped name column flows every row to the
    reference's own no-email DLQ branch instead of crashing the run.
    The natural key ``c_custkey`` stays STRICT: an export without the
    primary key is a malformed batch, rejected loudly (and type drift
    on any column is refused earlier, at the ingress contract —
    sources/catalog.CANONICAL_TYPES). On a canonical-schema source
    every ``col_or_null`` compiles to the bare column reference — the
    plan is bit-identical to the pre-r12 one
    (tests/test_schema_drift.py pins this)."""
    name = SC.col_or_null(c, "c_name", "name", "patient_name")
    acctbal = SC.col_or_null(
        c, "c_acctbal", "acctbal", "account_balance", null_type="double"
    )
    segment = SC.col_or_null(c, "c_mktsegment", "mktsegment", "market_segment")
    email_raw = F.when(
        F.col("c_custkey") % 17 == 0, F.lit("")
    ).otherwise(F.concat(F.upper(name), F.lit("@example.com ")))
    return c.select(
        SC.identifier_canon(F.col("c_custkey")).alias("natural_key"),
        SC.email_normalize(email_raw).alias("email"),
        F.split_part(name, F.lit("#"), F.lit(1)).alias("firstname"),
        name.alias("lastname"),
        SC.identifier_canon(acctbal).alias("account_balance"),
        segment.alias("segment"),
        F.lit("customer").alias("lifecyclestage"),
        F.lit("true").alias("amd_synced"),
        F.col("c_custkey"),
    )


def synthetic_idmap(c: DataFrame) -> DataFrame:
    return c.filter(F.col("c_custkey") % 5 == 0).select(
        F.lit("contact").alias("hubspot_object_type"),
        SC.identifier_canon(F.col("c_custkey")).alias("natural_key"),
        F.concat(F.lit("HS-"), F.col("c_custkey").cast("string")).alias("hubspot_id"),
    )


def synthetic_snapshot(c: DataFrame) -> DataFrame:
    """Remote-store snapshot keyed by email; % 21 keys duplicated.

    Reads the name through the same alias chain as ``patient_rows``:
    the snapshot MODELS an independent remote system, but it derives
    from the same table here, so a strict read would mask the sync
    plan's drift tolerance (r12 schema-drift probe)."""
    name = SC.col_or_null(c, "c_name", "name", "patient_name")
    base = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.concat(F.lower(name), F.lit("@example.com")).alias("email"),
        F.concat(F.lit("REMOTE-"), F.col("c_custkey").cast("string")).alias("hubspot_id"),
    )
    dupes = c.filter(F.col("c_custkey") % 21 == 0).select(
        F.concat(F.lower(name), F.lit("@example.com")).alias("email"),
        F.concat(F.lit("REMOTE2-"), F.col("c_custkey").cast("string")).alias("hubspot_id"),
    )
    return base.unionByName(dupes)


def patient_sync_plan(
    spark: SparkSession, sf_dir: str, extra_idmap: DataFrame | None = None
) -> DataFrame:
    """Full outcome-labeled plan: one row per patient with its write
    decision (update / adopt / create / dlq_ambiguous / dlq_no_email),
    mirroring the branch ladder of main.py:667-729.

    ``extra_idmap`` is the engine's accumulated idempotency ID map
    (sinks/control.py): ids created by previous runs resolve as
    updates, which is what makes re-runs converge instead of
    re-creating (README.md:113-115)."""
    # one scan of customer feeds the rows, the synthetic ID map and the
    # snapshot: each load reads the parquet footer with a Spark job
    c = load_table(spark, sf_dir, "customer")
    rows = patient_rows(c)
    idmap = synthetic_idmap(c)
    if extra_idmap is not None:
        prior = extra_idmap.filter(F.col("hubspot_object_type") == "contact").select(
            "hubspot_object_type", "natural_key", "hubspot_id"
        )
        # deterministic precedence: the synthetic (remote-truth) map
        # wins; engine-accumulated ids fill the remaining keys
        prior = prior.join(idmap.select("natural_key"), ["natural_key"], "left_anti")
        idmap = idmap.unionByName(prior)
    mapped = J.idmap_join(rows, idmap, "contact")
    matched = J.email_match_join(mapped, synthetic_snapshot(c))
    outcome = (
        F.when(F.col("mapped_hubspot_id").isNotNull(), "update")
        .when(F.col("email").isNull(), "dlq_no_email")
        .when(F.col("email_match_count") >= 2, "dlq_ambiguous")
        .when(F.col("email_match_count") == 1, "adopt")
        .otherwise("create")
    )
    return matched.withColumn("outcome", outcome).withColumn(
        "hubspot_id", F.coalesce(F.col("mapped_hubspot_id"), F.when(F.col("email_match_count") == 1, F.col("email_hubspot_id")))
    )


def patient_sync_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship aggregate: run counters per outcome (main.py:846-856)."""
    plan = patient_sync_plan(spark, sf_dir)
    return (
        plan.groupBy("outcome")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("outcome")
    )
