"""Remaining built-in surface queries: quantiles, string-function
suite, null-safe equality join, distinct counting, and conditional
expressions — rounding out the engine's general-purpose SQL surface.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from .functions.exactmath import (
    guard_dec_units,
    round6_dec6_over_int,
    sql_guard_dec_units,
    sql_round6_dec6_over_int,
)
from .operators import aggregates as AG
from .sources.catalog import load_table
from .queries import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@register(
    "quantiles",
    sql="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           ROUND(MIN(l_extendedprice), 4) AS min_price,
           ROUND(MAX(l_extendedprice), 4) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_quantiles(spark, sf_dir):
    """Exact continuous quantiles (linear interpolation on order
    statistics — same definition in both engines; rounded to 4
    decimals to absorb interpolation-arithmetic ordering)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
    )


@register(
    "quantiles-twophase",
    sql="""
    WITH vals AS (
      SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
    ), counts AS (
      SELECT g, v, count(*) AS c FROM vals GROUP BY g, v
    ), cum AS (
      SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cc,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM counts
    )
    SELECT g AS l_returnflag,
           MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS p50,
           MIN(CASE WHEN cc >= ceil(0.9 * n) THEN v END) AS p90,
           MIN(CASE WHEN cc >= ceil(0.99 * n) THEN v END) AS p99,
           CAST(MAX(n) AS BIGINT) AS n
    FROM cum GROUP BY g
    """,
)
def q_quantiles_twophase(spark, sf_dir):
    """Exact DISCRETE quantiles via the two-phase bounded-state rank
    selection (operators/aggregates.exact_quantiles_twophase): a
    4096-bin histogram locates each target rank's bin, then only that
    bin's rows re-aggregate for the exact pick — per-group aggregation
    state stays ≤ buckets rows, where the `quantiles` key's built-in
    ``percentile`` holds the whole value multiset on one reducer. The
    result is the true order statistic at rank ceil(p·n) — actual data
    values, no interpolation — so the oracle brute-forces the same
    rank algebra with a global cumulative and both sides hash-match
    bit-exactly."""
    return AG.exact_quantiles_twophase(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@register(
    "string-funcs",
    sql="""
    SELECT c_custkey,
           CONCAT_WS('|', c_name, c_mktsegment) AS joined,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           REPLACE(c_name, 'Customer', 'Cust') AS replaced,
           levenshtein(c_mktsegment, 'BUILDING') AS seg_distance,
           LEFT(c_name, 4) AS prefix,
           REVERSE(c_mktsegment) AS seg_rev,
           LENGTH(TRIM(c_name)) AS name_len,
           CONTAINS(c_name, '00') AS has_00,
           split_part(c_name, '#', 2) AS name_num
    FROM customer
    """,
)
def q_string_funcs(spark, sf_dir):
    """General string-function surface (concat/pad/replace/edit
    distance/slicing/containment) — all JVM-side codegen."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("replaced"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_distance"),
        F.substring("c_name", 1, 4).alias("prefix"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.length(F.trim("c_name")).alias("name_len"),
        F.contains("c_name", F.lit("00")).alias("has_00"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
    )


@register(
    "null-safe-join",
    sql="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderstatus END AS k
      FROM orders
    ), r AS (
      SELECT DISTINCT CASE WHEN o_orderkey % 15 = 0 THEN NULL
                           ELSE o_orderstatus END AS k
      FROM orders
    )
    SELECT l.o_orderkey, l.k
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def q_null_safe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — required when natural keys can be legitimately
    absent on both sides."""
    o = _t(spark, sf_dir, "orders")
    left = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    right = o.select(
        F.when(F.col("o_orderkey") % 15 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("rk")
    ).distinct()
    return left.join(right, left.k.eqNullSafe(right.rk)).select("o_orderkey", "k")


@register(
    "distinct-agg",
    sql="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_distinct_agg(spark, sf_dir):
    """Multiple distinct aggregates in one group-by (expand-based
    plan; each distinct adds one shuffle leg)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "array-ops",
    sql="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(embedding[len(embedding)] AS DOUBLE) AS last_val,
           CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_val,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
           CAST(embedding[3] AS DOUBLE) AS third_val,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def q_array_ops(spark, sf_dir):
    """First-class array-column manipulation: length, element access,
    min/max, filtered counts — the nested-type surface multimodal
    schemas rely on. min/max use DuckDB's ``list_aggregate`` (SQL
    aggregate semantics: NULL components skipped, NaN greatest) to
    mirror Spark's ``array_min``/``array_max`` exactly — the original
    ``list_sort(...)[...]`` form kept NULL components in the sort and
    diverged on the r13 component-poison probe."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", F.lit(1)).cast("double").alias("first_val"),
        F.element_at("embedding", F.lit(-1)).cast("double").alias("last_val"),
        F.array_min("embedding").cast("double").alias("min_val"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.element_at("embedding", F.lit(3)).cast("double").alias("third_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "struct-json-ops",
    sql="""
    SELECT event_id,
           to_json(struct_pack(event_id := event_id, event_type := event_type))
             AS packed,
           json_extract(props, '$.k')::BIGINT AS k_value,
           CASE WHEN json_extract(props, '$.k')::BIGINT > 50 THEN 'high'
                ELSE 'low' END AS k_band
    FROM events
    """,
)
def q_struct_json_ops(spark, sf_dir):
    """Struct packing → JSON and JSON-string field extraction (the
    props column of the events stream).

    ignoreNullFields=false: Spark's to_json silently DROPS null struct
    fields by default while DuckDB serializes them as explicit nulls
    (r10 NULL-robustness probe) — the lossless field-present form is
    also what a schema-stable JSON consumer wants. The reference's
    drop-null-props semantics live in their own key, unchanged."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        F.to_json(
            F.struct("event_id", "event_type"),
            {"ignoreNullFields": "false"},
        ).alias("packed"),
        k.alias("k_value"),
        F.when(k > 50, "high").otherwise("low").alias("k_band"),
    )


@register(
    "explode-posexplode",
    sql="""
    SELECT vec_id, (pos - 1) AS pos, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT vec_id, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
      WHERE vec_id < 20
    )
    """,
)
def q_explode_posexplode(spark, sf_dir):
    """Array → rows with position (posexplode ≡ unnest WITH
    ORDINALITY) — the pivot from columnar vectors to long format."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "pos", F.col("val").cast("double").alias("val"))


@register(
    "conditional-agg",
    sql="""
    SELECT n_name,
           CAST(SUM(CASE WHEN o_totalprice > 200000
                         THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE)
             AS big_revenue,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
           CAST(AVG(CASE WHEN o_orderstatus = 'O' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
                AS DOUBLE) AS open_rate
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_conditional_agg(spark, sf_dir):
    """Filtered/conditional aggregation over a dim join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # customer is data-proportional — broadcast left to AQE; nation is
    # a fixed dim
    j = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return j.groupBy("n_name").agg(
        F.sum(
            F.when(F.col("o_totalprice") > 200000, AG.finite_dec(F.col("o_totalprice")))
        )
        .cast("double")
        .alias("big_revenue"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.avg(
            F.when(F.col("o_orderstatus") == "O", F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("open_rate"),
    )


@register(
    "external-scan-pushdown",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND o_totalprice > 100000
    """,
)
def q_external_scan_pushdown(spark, sf_dir):
    """Incremental scan against an EXTERNAL engine (DuckDB) through
    the Python DataSource pushdown contract — the set-oriented form of
    the reference's warehouse read, which compiles its watermark
    predicate into the remote SQL (fetch_rows, main.py:534-549). Both
    predicates here are accepted by pushFilters and executed by the
    external engine; the Spark plan keeps no post-scan Filter, and the
    columns= projection prunes the remote SELECT list to the four
    consumed columns (asserted in tests/test_external_source.py) —
    never the reference's `SELECT *` (main.py:537)."""
    from .sources.duckdb_source import external_table

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    return (
        external_table(spark, sf_dir, "orders", columns=cols)
        .filter(F.col("o_orderdate") >= "1997-06-01")
        .filter(F.col("o_totalprice") > 100000)
        .select(*cols)
    )


@register(
    "sqlite-scan-pushdown",
    sql="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
    """,
)
def q_sqlite_scan_pushdown(spark, sf_dir):
    """The SQLite connector's driver-facing twin of
    `external-scan-pushdown`: the customer table is staged into a
    SQLite database file at query time (cached, atomic), then read
    back through the JDBC-style rowid-range-partitioned reader with
    both predicates compiled into the remote WHERE (equality + double
    threshold are accepted by pushFilters; the Spark plan keeps no
    post-scan Filter, asserted in tests/test_sqlite_source.py) and the
    SELECT list pruned to the four consumed columns. Models the
    reference's single-warehouse-table read (main.py:534-549) the way
    a 1000-executor job would run it: N independent range slices, each
    on its own connection."""
    from .sources.sqlite_source import sqlite_table_from_parquet

    cols = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    df = sqlite_table_from_parquet(spark, sf_dir, "customer", cols, numpartitions=4)
    return (
        df.filter(F.col("c_mktsegment") == "BUILDING")
        .filter(F.col("c_acctbal") > 1000.0)
        .select(*cols)
    )


@register(
    "hll-sketch-merge",
    sql="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS within_tolerance
    FROM orders
    """,
)
def q_hll_sketch_merge(spark, sf_dir):
    """Mergeable distinct-count sketches: one HLL sketch per order
    month (the shape of a partitioned/incremental pipeline), unioned
    into the global estimate WITHOUT re-scanning rows — how distinct
    counts compose across days/partitions at 100 TB. Oracle checks the
    exact count plus a 5%-tolerance flag on the merged estimate (the
    sketch itself is engine-specific)."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = monthly.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate")
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    return exact.crossJoin(merged).select(
        "exact_distinct",
        (
            F.abs(F.col("merged_estimate") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_tolerance"),
    )


@register(
    "fk-orphans",
    sql="""
    SELECT 'orders->customer' AS fk, COUNT(*) AS n_orphans
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderkey IS NULL
    """,
)
def q_fk_orphans(spark, sf_dir):
    """Referential-integrity audit: orphaned child rows per foreign
    key (anti-join counts) — the first gate of a data-quality sweep
    before training-data assembly."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    a = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .select(F.lit("orders->customer").alias("fk"), "n_orphans")
    )
    b = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .select(F.lit("lineitem->orders").alias("fk"), "n_orphans")
    )
    return a.unionByName(b)


@register(
    "dq-audit",
    sql="""
    SELECT 'customer' AS tbl,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c_name IS NULL OR trim(c_name) = '' THEN 1 ELSE 0 END)
                AS BIGINT) AS blank_names,
           CAST(SUM(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS acctbal_out_of_range,
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS duplicate_keys,
           CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_nations
    FROM customer
    """,
)
def q_dq_audit(spark, sf_dir):
    """Single-pass table-quality audit: blank/null rates, range
    violations, key uniqueness — one aggregate scan per table, no
    per-check re-reads (every metric is a conditional sum in the same
    HashAggregate)."""
    c = _t(spark, sf_dir, "customer")
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("c_name").isNull() | (F.trim("c_name") == ""), 1).otherwise(0)
        ).cast("long").alias("blank_names"),
        F.sum(
            F.when((F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 10000), 1)
            .otherwise(0)
        ).cast("long").alias("acctbal_out_of_range"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).cast("long").alias(
            "duplicate_keys"
        ),
        F.sum(F.when(F.col("c_nationkey").isNull(), 1).otherwise(0)).cast("long").alias(
            "null_nations"
        ),
    ).select(F.lit("customer").alias("tbl"), "n_rows", "blank_names",
             "acctbal_out_of_range", "duplicate_keys", "null_nations")


@register(
    "rank-funcs",
    sql="""
    SELECT event_id, event_type,
           DENSE_RANK() OVER w AS drank,
           NTILE(10) OVER w AS decile,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM events
    WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def q_rank_funcs(spark, sf_dir):
    """The ranked-window function family in one pass: dense_rank,
    decile bucketing (ntile), percent_rank, cume_dist — the quantile-
    bucketing primitives behind score normalization and percentile
    features. One window shuffle on event_type; (value, event_id) is a
    total order, so every rank is deterministic, and percent_rank/
    cume_dist are exact rationals of row counts — identical doubles in
    both engines before the 6-decimal round."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "stats-agg",
    sql="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
               AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
               AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
               AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS qty_stddev,
           ROUND((sxy - sx * sy / n) / (n - 1), 4) AS qty_price_covar,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS qty_price_corr
    FROM m
    """,
)
def q_stats_agg(spark, sf_dir):
    """Second-moment statistics (sample stddev / covariance / Pearson
    correlation) computed from DECIMAL-EXACT raw moments rather than
    Spark's built-in co-moment aggregates: the built-ins merge partial
    co-moments in partition order, so their last ulps are
    partition-schedule-dependent — unusable under a bit-exact oracle.
    Exact integer/decimal sums of x, y, x², y², xy are
    order-independent; both engines then evaluate the identical
    closed-form double expression. One map-side partial + final hash
    aggregation — the same single-shuffle profile as any groupBy, and
    the moment algebra is how a 1000-executor job computes correlation
    anyway (Welford-style streaming merges trade determinism for one
    fewer pass; with exact sums the pass count is identical)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.sum(AG.finite_dec(c)).cast("double")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dec(q).alias("sx"),
        dec(p).alias("sy"),
        dec(q * q).alias("sxx"),
        dec(p * p).alias("syy"),
        dec(q * p).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("qty_stddev"),
        F.round((sxy - sx * sy / n) / (n - 1), 4).alias("qty_price_covar"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("qty_price_corr"),
    )


# ===========================================================================
# Incremental view maintenance: mergeable partial-aggregate state
# ===========================================================================

# Watermark splitting the orders table into "already-materialized
# state" (< cutoff) and "new delta batch" (>= cutoff) — the two inputs
# an incremental rollup maintenance job would see.
_IAM_CUTOFF = "2000-01-01 00:00:00"

_IAM_ORACLE_SUM = "SUM(CAST(o_totalprice AS DECIMAL(38,6)))"


@register(
    "incremental-agg-merge",
    sql=f"""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST({_IAM_ORACLE_SUM} AS DOUBLE) AS total_price,
           {sql_round6_dec6_over_int(
               sql_guard_dec_units(_IAM_ORACLE_SUM, 1_000_000, 'COUNT(*)'),
               'COUNT(*)',
           )} AS avg_price,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders GROUP BY o_custkey
    """,
)
def q_incremental_agg_merge(spark, sf_dir):
    """Incremental view maintenance of a per-customer order rollup:
    the pre-cutoff history is aggregated once into MERGEABLE partial
    state (count / exact decimal sum / min / max — the mergeable-
    summaries property of Agarwal et al., PODS'12, already exploited
    by `heavy-hitters` and `hll-sketch-merge`), and each new delta
    batch is folded in by a keyed merge join: counts add, exact
    decimal sums add, min/max take least/greatest. The oracle is the
    FULL recompute over the union — equality proves the merge algebra
    is lossless, so the maintenance job never rescans history.

    Plan shape at 100 TB: the delta partial-agg shuffles only the
    delta batch (the watermark filter is pushed to the scan); the
    state side is a stored table bucketed by the group key, so the
    full-outer merge co-partitions with ZERO shuffle of state, and
    the merge output overwrites state in place. Cost per batch is
    O(delta + touched groups), independent of history size — the A/B
    in SCALE.md measures exactly that. Derived metrics (avg) are
    recomputed FROM the merged state via the exact integer-rounding
    device (never merged directly — a mean is not mergeable, its
    sum/count parts are)."""
    from .operators.merge import merge_rollup_state, rollup_partial

    o = _t(spark, sf_dir, "orders")
    state = rollup_partial(
        o.filter(F.col("o_orderdate") < F.lit(_IAM_CUTOFF)),
        "o_custkey", "o_totalprice", "o_orderdate",
    )
    # the delta side is NULL-INCLUSIVE: a NULL watermark column fails
    # both < cutoff and >= cutoff, so a plain two-sided split silently
    # drops the row (the oracle's plain GROUP BY counts it) — such
    # rows route to the delta batch, the side a maintenance job
    # re-reads anyway
    delta = rollup_partial(
        o.filter(
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") >= F.lit(_IAM_CUTOFF))
        ),
        "o_custkey", "o_totalprice", "o_orderdate",
    )
    merged = merge_rollup_state(state, delta, "o_custkey")
    return merged.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        F.col("s6").cast("double").alias("total_price"),
        round6_dec6_over_int(
            guard_dec_units("s6", 1_000_000, "n"), "n"
        ).alias("avg_price"),
        F.col("lo").alias("first_order"),
        F.col("hi").alias("last_order"),
    )


# ===========================================================================
# Z-order data layout: multi-dimensional clustering for file skipping
# ===========================================================================

_ZBITS = 6  # 64×64 normalized grid → 12-bit z-values
_ZCELL_DIV = 64  # cell = z div 64 → 64 coarse cells for 2-phase ranking
_ZROWS_PER_FILE = 4096


def _z_interleave_sql(gx: str, gy: str, bits: int, intdiv: str) -> str:
    """Morton/Z-order bit interleave of two ``bits``-wide nonnegative
    grid coordinates, in pure integer arithmetic (div/mod/add — no
    engine-specific bitwise operators, and the terms occupy disjoint
    bit positions so + is |). ``intdiv`` is the engine's integral
    division (Spark ``div``, DuckDB ``//`` — identical on the
    nonnegative operands used here), so the same string renders the
    Spark plan and the DuckDB oracle."""
    terms = []
    for i in range(bits):
        terms.append(f"((({gx}) {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({gy}) {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@register(
    "zorder-layout",
    sql=f"""
    WITH m AS (
      SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms FROM lineitem
    ), g AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             (l_partkey * {1 << _ZBITS}) // (mp + 1) AS gx,
             (l_suppkey * {1 << _ZBITS}) // (ms + 1) AS gy
      FROM lineitem, m
    ), z AS (
      SELECT *, {_z_interleave_sql('gx', 'gy', _ZBITS, '//')} AS z FROM g
    ), zc AS (
      SELECT *, z // {_ZCELL_DIV} AS cell FROM z
    ), offs AS (
      SELECT cell,
             CAST(SUM(cn) OVER (ORDER BY cell ROWS UNBOUNDED PRECEDING)
                  - cn AS BIGINT) AS off
      FROM (SELECT cell, COUNT(*) AS cn FROM zc GROUP BY cell)
    ), ranked AS (
      SELECT zc.*,
             offs.off + ROW_NUMBER() OVER (
               PARTITION BY zc.cell
               ORDER BY z, l_orderkey, l_linenumber) AS grank
      FROM zc JOIN offs USING (cell)
    )
    SELECT CAST((grank - 1) // {_ZROWS_PER_FILE} AS BIGINT) AS file_id,
           COUNT(*) AS n_rows,
           MIN(z) AS min_z, MAX(z) AS max_z,
           MIN(l_partkey) AS min_partkey, MAX(l_partkey) AS max_partkey,
           MIN(l_suppkey) AS min_suppkey, MAX(l_suppkey) AS max_suppkey
    FROM ranked GROUP BY 1
    """,
)
def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton-curve) data layout — the multi-dimensional
    clustering behind Delta ``OPTIMIZE ZORDER BY`` and Iceberg sort
    orders: rows are sorted by the bit-interleave of two normalized
    key coordinates and packed into fixed-size files, and the output
    is the per-file (min, max) statistics table on BOTH dimensions —
    exactly the footer stats a scan prunes on. A linear sort makes
    one dimension's per-file ranges tight and leaves the other
    spanning the full domain; the z-order makes both ~√-tight, so
    range predicates on EITHER column skip most files (measured in
    SCALE.md against the linear layout).

    Plan shape: grid bounds are a 1-row agg broadcast back (the
    anomaly-zscore shape); the z-value is pure JVM integer
    arithmetic; the global rank is TWO-PHASE — per-cell counts (64
    rows) → running offsets (a window over those 64 rows, never the
    data) → row_number partitioned by cell plus the broadcast offset
    — so no global single-partition sort ever touches the data. At
    100 TB the physical form is repartitionByRange(z) +
    sortWithinPartitions with deeper cells (the grid depth is a
    knob); the per-file stats emit from the parquet writer for free."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    mx = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    )
    g = li.crossJoin(F.broadcast(mx)).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.expr(f"(l_partkey * {1 << _ZBITS}) div (mp + 1)").alias("gx"),
        F.expr(f"(l_suppkey * {1 << _ZBITS}) div (ms + 1)").alias("gy"),
    )
    z = g.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.expr(_z_interleave_sql("gx", "gy", _ZBITS, "div")).alias("z"),
    ).withColumn("cell", F.expr(f"z div {_ZCELL_DIV}"))
    counts = z.groupBy("cell").agg(F.count(F.lit(1)).alias("cn"))
    # running offsets over the 64 coarse cells — a window over the
    # tiny counts frame, never over the data
    offs = counts.select(
        "cell",
        (
            F.sum("cn").over(
                W.orderBy("cell").rowsBetween(W.unboundedPreceding, 0)
            )
            - F.col("cn")
        ).alias("off"),
    )
    ranked = z.join(F.broadcast(offs), "cell").withColumn(
        "grank",
        F.col("off")
        + F.row_number().over(
            W.partitionBy("cell").orderBy("z", "l_orderkey", "l_linenumber")
        ),
    )
    files = ranked.withColumn(
        "file_id", F.expr(f"(grank - 1) div {_ZROWS_PER_FILE}")
    )
    return files.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
        F.min("l_partkey").alias("min_partkey"),
        F.max("l_partkey").alias("max_partkey"),
        F.min("l_suppkey").alias("min_suppkey"),
        F.max("l_suppkey").alias("max_suppkey"),
    )
