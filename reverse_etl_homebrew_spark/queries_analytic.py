"""Analytic extension queries: as-of/range temporal joins, OLAP
grouping (cube/rollup/grouping sets/pivot), running and offset window
aggregates, and the salted skew join (whose oracle is the PLAIN join —
proving salting is semantically transparent).
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from .operators import aggregates as AG
from .operators.skew import salted_inner_join
from .operators.temporal_joins import asof_join, range_join
from .sources.catalog import load_table
from .queries import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@register(
    "asof-join",
    sql="""
    WITH p AS (
      SELECT user_id, ts,
             MAX(event_id) AS prev_purchase_id,
             arg_max(value, event_id) AS prev_purchase_value
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
      GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts,
           p.prev_purchase_id AS asof_prev_purchase_id,
           p.prev_purchase_value AS asof_prev_purchase_value
    FROM events e
    ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
    WHERE e.ts IS NOT NULL
    UNION ALL
    SELECT event_id, user_id, ts, NULL, NULL
    FROM events WHERE ts IS NULL
    """,
)
def q_asof_join(spark, sf_dir):
    """As-of join: for every event, the user's latest preceding
    purchase (inclusive). Spark side is the union-merge single-shuffle
    implementation; DuckDB side is its native ASOF JOIN — two
    completely independent algorithms, same rows.

    Exact ASOF NULL semantics made explicit in the oracle (r10 NULL-
    robustness probe): a NULL timestamp never matches on either side.
    DuckDB's native ASOF treats NULL ts as a sortable value and DID
    match such rows, so the oracle filters NULL-ts build rows and
    routes NULL-ts probe rows through an explicit NULL-payload leg —
    mirroring what operators/temporal_joins.asof_join guarantees."""
    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("prev_purchase_id"),
            F.max_by("value", "event_id").alias("prev_purchase_value"),
        )
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["prev_purchase_id", "prev_purchase_value"],
    )


@register(
    "range-join",
    sql="""
    SELECT o_orderkey, e.event_id
    FROM orders o
    JOIN events e
      ON e.user_id = o.o_custkey % 1500
     AND e.ts >= TIMESTAMP '2024-01-01 00:00:00' + (o.o_orderkey % 20) * INTERVAL 1 DAY
     AND e.ts <  TIMESTAMP '2024-01-01 00:00:00' + ((o.o_orderkey % 20) + 1) * INTERVAL 1 DAY
    """,
)
def q_range_join(spark, sf_dir):
    """Equi-key + time-range join: events inside each order's
    synthetic 1-day window. The equi conjunct keeps the plan a hash
    join with a residual range filter — no cross product."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 1500).alias("uk"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
            + (F.col("o_orderkey") % 20) * F.expr("INTERVAL 1 DAY")
        ).alias("win_start"),
    ).withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 1 DAY"))
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    joined = range_join(
        o,
        e,
        key_cond=e.user_id == o.uk,
        range_cond=(e.ts >= o.win_start) & (e.ts < o.win_end),
    )
    return joined.select("o_orderkey", "event_id")


@register(
    "cube-agg",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_agg(spark, sf_dir):
    """CUBE: all grouping-key subsets in one pass (Catalyst expands
    map-side; still a single shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        AG.dec_sum(F.col("l_quantity"), "sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "rollup-agg",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        AG.dec_sum(F.col("l_extendedprice"), "sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "grouping-sets",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets(spark, sf_dir):
    # the SQL-text twin of AG.finite_dec (r11 non-finite probe): a
    # NaN/Inf amount raises on both engines instead of silently
    # NULLing out of Spark's non-ANSI decimal cast
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CASE WHEN isnan(o_totalprice)
                               OR abs(o_totalprice) = double('Infinity')
                             THEN CAST(raise_error(
                               'exactmath: non-finite value in exact decimal aggregation'
                             ) AS DECIMAL(38,6))
                             ELSE CAST(o_totalprice AS DECIMAL(38,6))
                        END) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "pivot-agg",
    sql="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot_agg(spark, sf_dir):
    """Pivot on a known value set (explicit values → no extra
    distinct-discovery job)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"))
    )


@register(
    "running-window",
    sql="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate NULLS FIRST, o_orderkey,
                                 o_totalprice NULLS FIRST
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate NULLS FIRST, o_orderkey,
                                       o_totalprice NULLS FIRST) AS order_seq
    FROM orders
    """,
)
def q_running_window(spark, sf_dir):
    """Running (cumulative) aggregate per key — frame-bounded window,
    exact decimal accumulation. NULL order dates sort FIRST, written
    explicitly on BOTH sides: Spark's ASC default is NULLS FIRST but
    DuckDB's is NULLS LAST, so an implicit ORDER BY over a nullable
    column silently diverges the engines (found by the r10 NULL-
    robustness probe, fixtures/null_robustness_probe.py).

    o_totalprice rides as the final tie-break (r14 duplicate-key/tie
    class, fixtures/dupkey_tie_probe.py): the ordering assumed
    o_orderkey is a unique PK, so duplicate-PK corruption rows tying
    on (date, key) accumulated in partition-merge order — a different
    running_spend per re-run on BOTH engines. Price is the only
    window-visible differing column, so adding it makes the output
    MULTISET deterministic even for full-duplicate rows."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.asc_nulls_first("o_orderdate"), "o_orderkey",
        F.asc_nulls_first("o_totalprice"),
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(AG.finite_dec(F.col("o_totalprice")))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "lag-lead",
    sql="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate NULLS FIRST, o_orderkey,
                                            o_totalprice NULLS FIRST) AS prev_price,
           lead(o_totalprice) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate NULLS FIRST, o_orderkey,
                                             o_totalprice NULLS FIRST) AS next_price
    FROM orders
    """,
)
def q_lag_lead(spark, sf_dir):
    """NULLS FIRST made explicit on both sides — see q_running_window,
    including the r14 o_totalprice tie-break (duplicate-PK rows tying
    on (date, key) otherwise swap their lag/lead neighbors per
    re-run)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.asc_nulls_first("o_orderdate"), "o_orderkey",
        F.asc_nulls_first("o_totalprice"),
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


def _ivf_sql() -> str:
    from .sqlfrags import _DOT_SQL, FINITE_VEC_SQL

    d_ec = _DOT_SQL.format(a="e.embedding", b="c.cv")
    d_cq = _DOT_SQL.format(a="c.cv", b="q.qv")
    d_eq = _DOT_SQL.format(a="embedding", b="qv")
    d_ee = _DOT_SQL.format(a="embedding", b="embedding")
    d_qq = _DOT_SQL.format(a="qv", b="qv")
    return f"""
    WITH q AS (
      SELECT embedding AS qv FROM embeddings
      WHERE vec_id = 0 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), cents AS (
      SELECT vec_id AS cell, embedding AS cv FROM embeddings
      WHERE vec_id < 8 AND {FINITE_VEC_SQL.format(c='embedding')}
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_ec} DESC, c.cell) AS rn
        FROM embeddings e, cents c
        WHERE {FINITE_VEC_SQL.format(c='e.embedding')}
      ) WHERE rn = 1
    ), probe AS (
      SELECT cell FROM (
        SELECT c.cell, row_number() OVER (ORDER BY {d_cq} DESC, c.cell) AS rn
        FROM cents c, q
      ) WHERE rn <= 3
    ), cand AS (
      SELECT e.vec_id, e.embedding, q.qv
      FROM embeddings e JOIN assign a USING (vec_id), q
      WHERE a.cell IN (SELECT cell FROM probe)
    ), scored AS (
      SELECT vec_id,
             {d_eq} AS dp, sqrt({d_ee}) AS na, sqrt({d_qq}) AS nq
      FROM cand
    )
    SELECT vec_id,
           ROUND(CASE WHEN na * nq > 0 THEN dp / (na * nq) END, 6) AS score
    FROM scored
    ORDER BY score DESC, vec_id
    LIMIT 10
    """


@register("topk-similarity-ivf", sql=_ivf_sql())
def q_topk_similarity_ivf(spark, sf_dir):
    """IVF-flat approximate top-k: coarse-quantize every vector to its
    nearest centroid (Arrow/numpy argmax — cell ids are fixed vectors
    vec_id < 8 in id order), probe the query's 3 nearest cells,
    exact-score the survivors with ``topk_brute``'s fused left-fold
    kernel. Oracle-backed: the SQL recomputes assignment (argmax via
    row_number over dot DESC, cell ASC — matching numpy first-max)
    and the probe cells, so the IVF pruning itself is verified, and
    the scores are the oracle's doubles. Assignment ulp safety:
    measured min top-2 cell-dot gap ≈ 1e-4 on this corpus, nine
    orders above summation-order noise."""
    from .functions import vectors as VEC
    from .operators.similarity import topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    # NULL-embedding cell seeds are skipped on BOTH engines (r12, the
    # advisor's query_vector NULL-embedding crash class — the oracle's
    # cents CTE filters embedding IS NOT NULL identically)
    cent_rows = (
        emb.filter(F.col("vec_id") < 8)
        .filter(VEC.finite_vector(F.col("embedding")))
        .orderBy("vec_id")
        .collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in cent_rows]
    query, found = VEC.query_vector(emb)
    # empty-input contract (r11 probe): no centroids/seed → the plan
    # builds around a zero-vector stand-in and is fenced to EMPTY,
    # matching the oracle's empty correlated subqueries
    if not cents:
        cents = [[0.0] * len(query)]
        found = False
    out = topk_ivf(emb, query, cents, k=10, n_probe=3)
    return out if found else out.where(F.lit(False))


@register(
    "skew-salted-join",
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
def q_skew_salted_join(spark, sf_dir):
    """Salted skew join — the oracle is the PLAIN SQL join: salting
    must be semantically invisible (operators/skew.py)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_inner_join(o, c, on="o_custkey", salt=8)
    return (
        joined.join(F.broadcast(n), joined.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            AG.dec_sum(F.col("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "unpivot-melt",
    sql="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS price,
             CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS metric, qty AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'price' AS metric, price AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'disc' AS metric, disc AS value FROM w
    """,
)
def q_unpivot_melt(spark, sf_dir):
    """Wide→long unpivot (melt): native Expand node — one pass over
    the input producing n_metrics rows per input row, no join/union
    re-scan (the oracle's UNION ALL form would scan w 3×; Spark's
    unpivot scans once)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        AG.dec_sum(F.col("l_quantity"), "qty"),
        AG.dec_sum(F.col("l_extendedprice"), "price"),
        AG.dec_sum(F.col("l_discount"), "disc"),
    )
    return wide.unpivot(["l_returnflag"], ["qty", "price", "disc"], "metric", "value")


@register(
    "gap-fill",
    sql="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events WHERE user_id < 20 GROUP BY user_id, CAST(ts AS DATE)
    ), b AS (
      SELECT user_id, MIN(d) AS lo, MAX(d) AS hi FROM ev GROUP BY user_id
    ), spine AS (
      SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM b
    )
    SELECT s.user_id, s.d, COALESCE(ev.n, 0) AS n
    FROM spine s LEFT JOIN ev ON s.user_id = ev.user_id AND s.d = ev.d
    """,
)
def q_gap_fill(spark, sf_dir):
    """Time-series densification (gap fill): per-key date spine via
    sequence+explode (map-side expansion, no driver loop), left join
    back, missing days filled with 0. The canonical pre-step for
    window features over sparse event streams; spine size is bounded
    by per-key [min,max] ranges, never a global calendar cross join."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = ev.groupBy("user_id").agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d"),
    )
    return spine.join(ev, ["user_id", "d"], "left").select(
        "user_id", "d", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
