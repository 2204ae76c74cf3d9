"""Operator query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a pair:

- a Spark builder ``(spark, sf_dir) -> DataFrame``
- (where SQL-expressible) an ANSI-SQL oracle string DuckDB runs over
  the same parquet views.

Determinism rules that make hash-comparison against another engine
sound (see SURVEY.md §5.2):
- double aggregates go through decimal(38,6) per-row casts so sums are
  order-independent and exact (operators/aggregates.dec_sum);
- every LIMIT/top-k has a total-order tie-break;
- similarity scores are rounded to 6 decimals before ranking;
- all computed columns are aliased identically on both sides.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from .operators import aggregates as AG, dedup as DD, joins as J, merge as MG
from .operators import scans as SCN
from .sources.catalog import load_table
from .session import normalize_session

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: Dict[str, QueryFn] = {}
ORACLE: Dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # stacked registrations name ONE builder (the plan is the same
        # under every name), so unwrap instead of wrapping twice
        fn = getattr(fn, "__wrapped__", fn)

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            normalize_session(spark)
            return fn(spark, sf_dir)

        wrapped.__wrapped__ = fn
        QUERIES[name] = wrapped
        if sql is not None:
            ORACLE[name] = sql
        return wrapped

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ===========================================================================
# §2.1 Scans
# ===========================================================================

@register(
    "full-scan",
    sql="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def q_full_scan(spark, sf_dir):
    """Full-table scan with explicit projection (main.py:539-541)."""
    return SCN.full_scan(
        _t(spark, sf_dir, "customer"),
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )


@register(
    "delta-scan",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
    """,
)
def q_delta_scan(spark, sf_dir):
    """Incremental watermark scan (main.py:537-538); the predicate
    lands in parquet PushedFilters."""
    return SCN.delta_scan(_t(spark, sf_dir, "orders"), "o_orderdate", "1997-06-01").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


@register(
    "point-lookup",
    sql="SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = 42 LIMIT 1",
)
def q_point_lookup(spark, sf_dir):
    """Keyed single-row lookup (main.py:373-389)."""
    return SCN.point_lookup(
        _t(spark, sf_dir, "customer"), F.col("c_custkey") == 42
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "topk-sort",
    sql="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_sort(spark, sf_dir):
    """ORDER BY ... LIMIT k → TakeOrderedAndProject (main.py:336-337)."""
    return SCN.topk_sort(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.col("o_orderkey")],
        10,
    )


@register(
    "latest-per-group",
    sql="""
    SELECT user_id, event_id, ts, event_type FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q_latest_per_group(spark, sf_dir):
    """Generalized watermark read: most recent row per key
    (main.py:330-345)."""
    return SCN.latest_per_group(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type"),
        ["user_id"],
        [F.desc("ts"), F.desc("event_id")],
    )


# ===========================================================================
# §2.6 Aggregations
# ===========================================================================

@register(
    "groupby-agg",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_agg(spark, sf_dir):
    """TPC-H-Q1-shaped pricing summary: partial+final hash agg, exact
    decimal sums (SURVEY.md §2.6 `groupby-agg`)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        AG.dec_sum(F.col("l_quantity"), "sum_qty"),
        AG.dec_sum(F.col("l_extendedprice"), "sum_base_price"),
        AG.dec_sum(disc, "sum_disc_price"),
        AG.dec_sum(charge, "sum_charge"),
        AG.dec_avg(F.col("l_quantity"), "avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "max-ifnull-agg",
    sql="""
    SELECT event_type, COALESCE(MAX(value), 0) AS max_value, COUNT(*) AS n
    FROM events WHERE user_id % 2 = 0 GROUP BY event_type
    """,
)
def q_max_ifnull(spark, sf_dir):
    """IFNULL(MAX(x), 0) under predicate (main.py:405-411)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 2 == 0)
    return ev.groupBy("event_type").agg(
        F.coalesce(F.max("value"), F.lit(0)).alias("max_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "run-counters",
    sql="""
    SELECT CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS created_count,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS updated_count,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS skipped_count,
           COUNT(*) AS read_count
    FROM orders
    """,
)
def q_run_counters(spark, sf_dir):
    """Run-summary tallies as one-pass conditional sums
    (main.py:846-856)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("created_count"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("updated_count"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("skipped_count"),
        F.count(F.lit(1)).alias("read_count"),
    )


@register(
    "ambiguity-count",
    sql="""
    SELECT o_custkey, COUNT(*) AS match_count FROM orders
    GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def q_ambiguity_count(spark, sf_dir):
    """Matches-per-key aggregate behind the >1-match DLQ branch
    (main.py:700-704)."""
    return (
        AG.ambiguity_count(_t(spark, sf_dir, "orders"), "o_custkey")
        .filter(F.col("match_count") > 1)
    )


@register(
    "approx-distinct",
    sql="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_distinct,
           (ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
              <= 0.10 * COUNT(DISTINCT l_partkey)) AS within_tolerance
    FROM lineitem
    """,
)
def q_approx_distinct(spark, sf_dir):
    """HLL approximate distinct; engines' sketches differ, so the
    oracle-checked value is the exact count plus a within-10% flag
    (PODS 2021 anchor, PAPERS.md)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_distinct"),
        F.approx_count_distinct("l_partkey", 0.05).alias("__approx"),
    )
    return agg.select(
        "exact_distinct",
        (
            F.abs(F.col("__approx") - F.col("exact_distinct"))
            <= 0.10 * F.col("exact_distinct")
        ).alias("within_tolerance"),
    )


# ===========================================================================
# §2.5 Joins
# ===========================================================================

@register(
    "equi-inner-join",
    sql="""
    SELECT n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_equi_inner_join(spark, sf_dir):
    """Fact⋈dim⋈dim with broadcast dims: revenue per nation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        # customer grows with the data (unlike nation) — no pinned
        # broadcast; AQE picks one while it fits
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            AG.dec_sum(F.col("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "idmap-join",
    sql="""
    SELECT c_custkey, n_name, r_name
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_idmap_join(spark, sf_dir):
    """Broadcast left joins against small keyed maps — the set form of
    the per-row ID-map lookups (main.py:373-389)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select("c_custkey", "n_name", "r_name")
    )


@register(
    "email-match-join",
    sql="""
    WITH per_key AS (
      SELECT l_orderkey AS match_key, COUNT(*) AS email_match_count,
             MIN(l_partkey) AS email_hubspot_id
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT outcome, COUNT(*) AS n FROM (
      SELECT CASE WHEN email_match_count IS NULL THEN 'create'
                  WHEN email_match_count = 1 THEN 'adopt'
                  ELSE 'ambiguous' END AS outcome
      FROM orders LEFT JOIN per_key ON o_orderkey = match_key
    ) GROUP BY outcome
    """,
)
def q_email_match_join(spark, sf_dir):
    """Ambiguity-aware identity adoption: 0 → create, 1 → adopt,
    >1 → DLQ (main.py:694-706), as per-key aggregates."""
    rows = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("match_key"))
    snapshot = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("match_key"), F.col("l_partkey").alias("hubspot_id")
    )
    joined = J.email_match_join(rows, snapshot, email_col="match_key")
    outcome = (
        F.when(F.col("email_match_count").isNull(), "create")
        .when(F.col("email_match_count") == 1, "adopt")
        .otherwise("ambiguous")
    )
    return joined.select(outcome.alias("outcome")).groupBy("outcome").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "tiered-match-join",
    sql="""
    SELECT o_orderkey,
           COALESCE(t0.id, t1.id, t2.id) AS resolved_id
    FROM orders
    LEFT JOIN (SELECT c_custkey AS k, MIN(c_custkey + 1000000) AS id
               FROM customer WHERE c_acctbal > 5000 GROUP BY c_custkey) t0 ON o_custkey = t0.k
    LEFT JOIN (SELECT c_custkey AS k, MIN(c_custkey + 2000000) AS id
               FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_custkey) t1 ON o_custkey = t1.k
    LEFT JOIN (SELECT c_custkey AS k, MIN(c_custkey + 3000000) AS id
               FROM customer GROUP BY c_custkey) t2 ON o_custkey = t2.k
    """,
)
def q_tiered_match_join(spark, sf_dir):
    """Priority-fallback match cascade, first hit wins
    (find_patient_contact, main.py:613-633)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    tiers = [
        (
            c.filter(F.col("c_acctbal") > 5000).withColumn(
                "tid", F.col("c_custkey") + 1000000
            ),
            "o_custkey",
            "c_custkey",
            "tid",
        ),
        (
            c.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
                "tid", F.col("c_custkey") + 2000000
            ),
            "o_custkey",
            "c_custkey",
            "tid",
        ),
        (c.withColumn("tid", F.col("c_custkey") + 3000000), "o_custkey", "c_custkey", "tid"),
    ]
    return J.tiered_match_join(o, tiers).select("o_orderkey", "resolved_id")


_ANTI_JOIN_SQL = """
    SELECT o_orderkey, o_custkey FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9000)
    """


@register("roi-patient-anti-join", sql=_ANTI_JOIN_SQL)
@register("anti-join", sql=_ANTI_JOIN_SQL)
def q_anti_join(spark, sf_dir):
    """Unresolved-parent quarantine branch (main.py:743-774): rows
    whose parent cannot be resolved → DLQ, as a left-anti against the
    resolvable-parent set. Registered twice: ``anti-join`` and, under
    the reference's branch name, ``roi-patient-anti-join``.

    Oracle is NOT EXISTS, not NOT IN: Spark's left_anti has NOT
    EXISTS semantics (a NULL-key probe row matches nothing, so it is
    KEPT — an unresolvable row belongs in the quarantine), while SQL
    NOT IN silently drops NULL probe rows and empties the whole
    result if the subquery yields a NULL (r11 NULL-key probe)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    resolved = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return J.anti_join(o, resolved, ["o_custkey"])


@register(
    "semi-join",
    sql="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """,
)
def q_semi_join(spark, sf_dir):
    """EXISTS-style match filter."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return J.semi_join(c, big, ["c_custkey"])


@register(
    "dlq-attempt-join",
    sql="""
    SELECT o_orderkey AS natural_key, COALESCE(m.max_att, 0) + 1 AS attempt
    FROM orders
    LEFT JOIN (SELECT l_orderkey, MAX(l_linenumber) AS max_att
               FROM lineitem GROUP BY l_orderkey) m ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'
    """,
)
def q_dlq_attempt_join(spark, sf_dir):
    """Next-attempt numbering for failures: IFNULL(MAX(attempt),0)+1
    per key (main.py:404-420, call sites 714/748)."""
    failures = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            F.lit("rois").alias("job_type"),
            F.col("o_orderkey").alias("natural_key"),
            F.lit("unresolved").alias("error"),
        )
    )
    dlq = _t(spark, sf_dir, "lineitem").select(
        F.lit("rois").alias("job_type"),
        F.col("l_orderkey").alias("natural_key"),
        F.lit("unresolved").alias("error"),
        F.col("l_linenumber").alias("attempt"),
    )
    return J.dlq_attempt_join(failures, dlq).select("natural_key", "attempt")


# ===========================================================================
# §2.7 Sorts / windows / set ops / dedup
# ===========================================================================

@register(
    "window-rank",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    """,
)
def q_window_rank(spark, sf_dir):
    """Ranking window function over a partition (SURVEY.md §2.7)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
    )


@register(
    "dedup-lastwin",
    sql="""
    SELECT o_custkey, o_orderkey, o_orderdate FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def q_dedup_lastwin(spark, sf_dir):
    """Deterministic last-writer-wins dedup per natural key
    (idempotency guarantee, main.py:354-371)."""
    return DD.lastwin_dedup(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate"),
        ["o_custkey"],
        [F.desc("o_orderdate"), F.desc("o_orderkey")],
    )


@register(
    "union-all",
    sql="""
    SELECT k, COUNT(*) AS n FROM (
      SELECT o_custkey AS k FROM orders
      UNION ALL
      SELECT c_custkey AS k FROM customer
    ) GROUP BY k
    """,
)
def q_union_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.unionByName(c).groupBy("k").agg(F.count(F.lit(1)).alias("n"))


@register(
    "set-intersect",
    sql="""
    SELECT c_custkey AS k FROM customer
    INTERSECT
    SELECT o_custkey AS k FROM orders
    """,
)
def q_set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.intersect(o)


@register(
    "set-except",
    sql="""
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 350000
    """,
)
def q_set_except(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 350000)
        .select(F.col("o_custkey").alias("k"))
    )
    return c.subtract(o)


@register(
    "merge-upsert",
    sql="""
    WITH existing AS (
      SELECT o_orderkey AS key, o_totalprice AS val, o_orderdate AS updated_at, 0 AS src
      FROM orders WHERE o_orderkey % 2 = 0
    ), incoming AS (
      SELECT o_orderkey AS key, o_totalprice * 2 AS val,
             o_orderdate + INTERVAL 1 DAY AS updated_at, 1 AS src
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT key, val, updated_at FROM (
      SELECT * FROM existing UNION ALL SELECT * FROM incoming
    )
    QUALIFY row_number() OVER (PARTITION BY key
                               ORDER BY updated_at DESC, src DESC,
                                        val DESC NULLS LAST) = 1
    """,
)
def q_merge_upsert(spark, sf_dir):
    """MERGE (insert-or-update) semantics as last-writer-wins over
    existing ∪ incoming (main.py:354-371)."""
    o = _t(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("val"),
        F.col("o_orderdate").alias("updated_at"),
    )
    incoming = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_totalprice") * 2).alias("val"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("updated_at"),
    )
    return MG.upsert_merge(existing, incoming, ["key"], "updated_at")


# Extended registries (same QUERIES/ORACLE dicts) — imported for their
# registration side effects.
from . import queries_scalar  # noqa: E402,F401
from . import queries_window  # noqa: E402,F401
from . import queries_text  # noqa: E402,F401
from . import queries_pipeline  # noqa: E402,F401
from . import queries_branches  # noqa: E402,F401
from . import queries_analytic  # noqa: E402,F401
from . import queries_misc  # noqa: E402,F401
from . import queries_corpus  # noqa: E402,F401
from . import queries_quality  # noqa: E402,F401
from . import queries_events  # noqa: E402,F401
