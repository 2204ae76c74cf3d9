"""Scan-shaped operators (SURVEY.md §2.1).

The reference compiles these as SQL strings shipped to BigQuery
(full/delta scans main.py:534-549, point lookup main.py:373-389,
watermark read main.py:330-345, DLQ attempt read main.py:404-420).
Here each is a lazy DataFrame; Catalyst pushes the predicates and the
column projection down into the parquet scan — `.explain` shows
PushedFilters/ReadSchema, so at 100 TB only the needed row groups and
columns are read.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def _scan_rooted(df: DataFrame) -> bool:
    """True when the analyzed plan is only Project/Filter nodes over a
    file relation — partitioning that came from input-byte splits."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    return (
        node.nodeName() == "LogicalRelation"
        and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
    )


def spread_for_fanout(df: DataFrame) -> DataFrame:
    """Pre-explode parallelism guard for heavy row-expansion stages
    (r15 optimization round; guide §2.5 input parallelism / §6 split
    sizing). Spark sizes scan tasks by INPUT bytes
    (``spark.sql.files.maxPartitionBytes``), but a shingling/windowing
    explode fans each document into ~10²-10³ rows, so the expansion
    stage inherits a partitioning that is orders of magnitude
    undersized for its OUTPUT: locally the whole test corpus is one
    parquet split and the gram stream ran on ONE core (measured: the
    sf0.1 trigram stream alone 1.16 s serial → 0.45 s spread); at
    cluster scale a 128 MB text split still explodes into ~100 GB of
    gram work inside a single task.

    The rule, decided from the analyzed plan (built with the frame, so
    deciding fires no Spark job):

    - a chain of only Project/Filter over a file scan is round-robined
      across ``defaultParallelism`` when it has fewer partitions than
      that — its partition count comes from input splits, and probing
      it plans no exchange, so it starts no job; once the scan itself
      exceeds core count (the 100 TB case) this is a no-op;
    - every other frame (a shuffle, a join, a pin's LogicalRDD, a
      ``createDataFrame`` frame) is returned unchanged: its
      partitioning came from a shuffle or a pin, and probing it would
      materialize AQE query stages as a driver-side job.

    The round-robin is deterministic under retries (sort-before-
    repartition is on by default, SPARK-23207) and semantically
    invisible: everything downstream of an explode is keyed
    aggregation/window work, which never depends on input partition
    placement (partition-invariance pinned in tests)."""
    if not _scan_rooted(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def full_scan(df: DataFrame, columns: Optional[Sequence[str]] = None) -> DataFrame:
    """SELECT <cols|*> FROM t (main.py:539-541). Unlike the reference's
    SELECT *, callers pass the consumed column list so the parquet
    reader prunes — at 100 TB a projection miss is a 10× I/O bug."""
    return df.select(*columns) if columns else df


def delta_scan(df: DataFrame, updated_col: str, watermark) -> DataFrame:
    """Incremental scan: rows with updated_col >= watermark
    (main.py:537-538). The filter lands in PushedFilters, and on a
    date-partitioned layout it also prunes partitions."""
    return df.filter(F.col(updated_col) >= F.lit(watermark))


def point_lookup(df: DataFrame, *predicates: Column) -> DataFrame:
    """Keyed single-row lookup ... LIMIT 1 (main.py:373-389). In set
    terms this is the degenerate form of a broadcast join build side;
    kept for API parity."""
    out = df
    for p in predicates:
        out = out.filter(p)
    return out.limit(1)


def topk_sort(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """ORDER BY ... LIMIT k (main.py:336-337). Catalyst plans
    TakeOrderedAndProject: per-partition heaps + a single k-row merge
    on the driver — no global sort shuffle, O(k) driver memory."""
    return df.orderBy(*order).limit(k)


def latest_per_group(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """Most-recent row per key (the generalized watermark read,
    main.py:330-345): row_number over (partition keys, order desc) == 1.
    One shuffle on the group keys; AQE handles skewed keys."""
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
