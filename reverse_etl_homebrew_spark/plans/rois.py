"""The ROI-sync plan, re-based onto driver testdata (FIXTURES.md role
mapping: ``orders`` plays ROIs, ``customer`` plays patients;
o_custkey is the ROI→patient FK).

Reference lifecycle being re-expressed (upsert_rois, main.py:731-794):

1. processed-skip (main.py:736-742): already-processed rows are
   counted and dropped from the write set;
2. patient resolution via the tiered cascade (main.py:743-745 →
   find_patient_contact main.py:613-633); unresolved ROIs quarantine
   with attempt tracking (main.py:746-774);
3. override-skip (main.py:777-785): existing remote ROIs flagged
   roi_manual_override='true' are never rewritten;
4. projection to custom-object properties (map_roi_to_custom,
   main.py:635-661) and create-vs-update decision.

Everything is one lazy outcome-labeled DataFrame; the branch ladder
becomes a single CASE cascade evaluated set-oriented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import scalars as SC
from ..operators import joins as J
from ..sources.catalog import load_table


def roi_rows(o: DataFrame) -> DataFrame:
    """orders → ROI-shaped rows. Synthetic processed/override markers
    are deterministic functions of the key so every branch populates:
    - o_orderkey % 11 == 0 → processing_status='Processed' with a
      completion stamp (skip branch);
    - o_orderkey % 13 == 0 → remote override flag (skip branch);
    """
    # Schema-drift tolerance (r12, the reference's row.get chains —
    # see patient_rows): descriptor/FK columns read through alias
    # chains. A dropped patient-FK column sends every ROI to the
    # reference's own unresolved-quarantine branch (main.py:746-774)
    # instead of crashing; a dropped priority column syncs with a
    # NULL template_name. o_orderkey (natural key) and o_orderdate
    # (the temporal lineage every stamp derives from) stay STRICT.
    # On a canonical source each chain compiles to the bare column —
    # plan bit-identical (tests/test_schema_drift.py).
    custkey = SC.col_or_null(
        o, "o_custkey", "custkey", "patient_key", null_type="bigint"
    )
    priority = SC.col_or_null(
        o, "o_orderpriority", "orderpriority", "order_priority"
    )
    return o.select(
        SC.identifier_canon(F.col("o_orderkey")).alias("natural_key"),
        custkey.alias("o_custkey"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("Processed"))
        .otherwise(F.lit("pending"))
        .alias("processing_status"),
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_orderdate")).alias(
            "processing_datetime"
        ),
        SC.epoch_millis_utc(F.col("o_orderdate")).alias("accepted_epoch_ms"),
        SC.eastern_date(F.col("o_orderdate")).alias("completed_eastern_date"),
        priority.alias("template_name"),
        F.col("o_orderdate").alias("updated_at"),
        F.col("o_orderkey"),
    )


def synthetic_roi_snapshot(o: DataFrame) -> DataFrame:
    """Remote ROI store: every % 7 key exists remotely (update path),
    and % 13 keys carry the manual-override lock.

    A remote snapshot is KEYED by natural_key, so it deduplicates
    before any join (r11 re-delivery probe): under at-least-once
    ingest the source rows it derives from arrive twice, and an
    un-deduped snapshot fans every matching ROI out 2× through the
    left join — silently double-counting outcomes. All columns are
    functions of the key, so distinct() is deterministic."""
    return (
        o.filter((F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 13 == 0))
        .select(
            SC.identifier_canon(F.col("o_orderkey")).alias("natural_key"),
            F.concat(F.lit("ROI-"), F.col("o_orderkey").cast("string")).alias(
                "hubspot_id"
            ),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("true"))
            .otherwise(F.lit("false"))
            .alias("roi_manual_override"),
        )
        .distinct()
    )


def roi_sync_plan(
    spark: SparkSession, sf_dir: str, extra_idmap: DataFrame | None = None
) -> DataFrame:
    """Outcome-labeled ROI plan:
    skip_processed / skip_override / dlq_unresolved / update / create.

    ``extra_idmap``: engine ID map — ROIs created by previous runs
    resolve to their remote ids and become updates (idempotent
    re-runs, README.md:113-115)."""
    # one load per table: each load reads the parquet footer with a
    # Spark job
    orders = load_table(spark, sf_dir, "orders")
    rois = roi_rows(orders)
    patients = load_table(spark, sf_dir, "customer")

    # tiered patient resolution: tier-0 high-balance, tier-1 any
    # (find_patient_contact's idmap→search fallback, main.py:613-633).
    # The tier-0 balance read tolerates alias/presence drift like the
    # row builders (r12 probe: an alias-spelled customer export used
    # to crash HERE while the oracle's tier algebra — where tier-1
    # subsumes tier-0 — kept running): a missing balance makes tier-0
    # empty and tier-1 resolves everything, same ladder semantics.
    acctbal = SC.col_or_null(
        patients, "c_acctbal", "acctbal", "account_balance",
        null_type="double",
    )
    tiers = [
        (
            patients.filter(acctbal > 0).withColumn(
                "pid", F.col("c_custkey")
            ),
            "o_custkey",
            "c_custkey",
            "pid",
        ),
        (patients.withColumn("pid", F.col("c_custkey")), "o_custkey", "c_custkey", "pid"),
    ]
    resolved = J.tiered_match_join(rois, tiers, out_col="patient_id")

    snapshot = synthetic_roi_snapshot(orders)
    if extra_idmap is not None:
        prior = extra_idmap.filter(F.col("hubspot_object_type") == "roi").select(
            "natural_key",
            F.col("hubspot_id"),
            F.lit("false").alias("roi_manual_override"),
        )
        # deterministic precedence: the remote snapshot (with its
        # override flags) wins; engine-accumulated ids fill the rest
        prior = prior.join(snapshot.select("natural_key"), ["natural_key"], "left_anti")
        snapshot = snapshot.unionByName(prior)
    # the remote snapshot grows with the CRM — no pinned broadcast;
    # AQE picks one while it is small, as in operators/joins.py
    with_remote = resolved.join(snapshot, ["natural_key"], "left")

    processed = (F.lower(F.col("processing_status")) == "processed") & F.col(
        "processing_datetime"
    ).isNotNull()
    outcome = (
        F.when(processed, "skip_processed")
        .when(F.lower(F.col("roi_manual_override")) == "true", "skip_override")
        .when(F.col("patient_id").isNull(), "dlq_unresolved")
        .when(F.col("hubspot_id").isNotNull(), "update")
        .otherwise("create")
    )
    props = F.to_json(
        F.struct(
            "patient_id", "accepted_epoch_ms", "completed_eastern_date", "template_name"
        )
    )
    return with_remote.withColumn("outcome", outcome).withColumn(
        "properties_json", props
    )
