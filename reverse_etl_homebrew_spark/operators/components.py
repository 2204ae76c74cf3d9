"""Connected components over near-duplicate pairs — the step that
turns pairwise similarity (SimHash/Jaccard/cosine)
into dedup decisions: each duplicate CLUSTER keeps exactly one
survivor.

Algorithm: min-label propagation to a fixpoint — each node
repeatedly adopts the smallest label in its neighborhood. It needs
O(diameter) rounds, not O(log n): a path graph of n nodes takes n-1.
Real near-dup clusters are clique-like (copies of one source document
all pair with each other), so the diameter is small (2 rounds at sf0.01 and sf0.1); each round is one
groupBy shuffle plus a convergence count. This is the canonical Spark
shape for iterative graph algorithms without GraphX/graphframes
dependencies.

Scale notes: label state is (node, label) — linear in nodes; every
round is pinned (``session.pin``) to cut lineage, otherwise plan depth
grows per iteration and planning dominates. The max-iteration cap
fails loudly on a pathological long chain rather than looping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import pin

_MAX_ROUNDS = 20


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """(a_id, b_id) undirected edges → (id, component) with component
    = min node id in the component. Deterministic. A component whose
    labels have not settled after ``_MAX_ROUNDS`` propagation rounds
    (a path longer than that) raises instead of returning partial
    labels.

    Each round's labels are pinned eagerly: each label round references
    the previous round twice (neighbor join + carry-through), so
    without the lineage cut plan size grows EXPONENTIALLY in rounds —
    persist alone measured a 7x wall-clock blowup at sf0.01 (21.5 s vs
    3.1 s). On a cluster ``pin`` checkpoints reliably, which is also
    what survives executor loss; lineage recompute through an
    iterative chain would be quadratic anyway.
    """
    edges = pin(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # materialize once: every propagation round joins edges, and
        # without the pin the upstream pair-generation pipeline (often
        # a full LSH run) re-executes per iteration.
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    for _ in range(_MAX_ROUNDS):
        # each node adopts min(own label, neighbors' labels)
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("id", "dst"), ["dst"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        new_labels = pin(
            labels.join(neighbor_labels, ["id"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
            ),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), ["id"])
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {_MAX_ROUNDS} rounds"
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one survivor (min id) per duplicate cluster; rows not in
    any pair survive untouched. The standard last stage of a corpus
    near-dedup pipeline."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, [id_col], "left_anti")
