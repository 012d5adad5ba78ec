"""Duplicate-cluster resolution: connected components over a near-dup
candidate-pair graph (the standard corpus-dedup step after LSH —
group candidates into clusters, keep one canonical doc per cluster).

Scale notes (100 TB design point): min-label propagation converges in
O(graph diameter) rounds; near-dup graphs are shallow (dup clusters
are near-cliques), so 3-5 rounds in practice. Each round is one
shuffle on the node id — at cluster scale pre-`repartition` the edge
list by `u` so the per-round join and groupBy reuse one partitioning.
`localCheckpoint` truncates lineage so plans don't grow per round
(iterative DataFrame loops otherwise re-derive the whole chain).
For adversarial graphs (long chains) switch to the large-star /
small-star alternation, which converges in O(log n) rounds
(Kiveris et al., "Connected Components in MapReduce and Beyond").
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ms_spark.partitioning import materialize


def canonical_per_component(components: DataFrame) -> DataFrame:
    """Cluster summary: one row per component with its size and the
    canonical (minimum-id) member — the doc a dedup pass would keep."""
    return components.groupBy("component").agg(
        F.count("*").alias("n_docs"),
        F.min("node").alias("canonical_doc_id"),
    )


def _union_find_components(rows: list[tuple], spark, schema) -> DataFrame:
    """Driver-local union-find over (node, group) membership rows,
    labeling each node with its component's minimum node id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    by_group: dict = {}
    for node, group in rows:
        parent.setdefault(node, node)
        by_group.setdefault(group, []).append(node)
    for members in by_group.values():
        head = members[0]
        for other in members[1:]:
            ra, rb = find(head), find(other)
            if ra != rb:  # keep the smaller id as root → min-label
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    out = sorted((n, find(n)) for n in parent)
    # Arrow-path createDataFrame (pandas input): the plain list form
    # parallelizes PICKLED rows and every downstream scan pays one
    # Python-runner task per slice (r14 profile: a 32-task save stage
    # at 7-12 s summed run / <70 ms CPU — pure worker round-trips).
    # Arrow batches are read JVM-side, no Python workers at all.
    import pandas as pd

    pdf = pd.DataFrame(out, columns=[f.name for f in schema.fields])
    return spark.createDataFrame(pdf, schema)


def connected_components_bipartite(
    membership: DataFrame,
    node_col: str = "node",
    group_col: str = "group",
    max_iter: int = 50,
    local_threshold: int = 200_000,
) -> DataFrame:
    """Connected components of the *projection* graph "nodes sharing a
    group are connected", computed WITHOUT materializing pairwise edges.

    This is the scale-correct form for LSH dedup: a bucket of k docs
    implies k·(k-1)/2 pairwise edges (quadratic — a 10^6-doc boilerplate
    bucket at web scale is 10^12 edges) but only k membership rows here.
    Groups with a single member are dropped first: the result covers
    exactly the nodes that appear in at least one candidate pair,
    matching pair-graph semantics.

    After that pruning, the surviving membership is the near-dup
    WORKING SET — typically orders of magnitude smaller than the
    corpus — so below ``local_threshold`` multi-member buckets it is
    collected and solved with driver-side union-find (one job), the
    same local-solve trade the IVF codebook trainer makes. Above the
    threshold it falls back to distributed alternating node→group→node
    min-label propagation: two shuffles per round, O(projection
    diameter) rounds, ``localCheckpoint`` truncating lineage. Both
    paths reach the same fixpoint (min id per component — a pure min
    semilattice, order-independent), so the switch is invisible to
    results.
    """
    # One shuffle folds dedup (collect_set), single-member-bucket
    # pruning, and the local/distributed decision into a single job:
    # multi-member groups ARE the near-dup working set, so try to
    # collect them (limit+1 probes the threshold without a count job).
    grouped = (
        membership.groupBy(group_col)
        .agg(F.collect_set(node_col).alias("_nodes"))
        .filter(F.size("_nodes") >= 2)
    )
    sample = grouped.limit(local_threshold + 1).collect()
    if len(sample) <= local_threshold:
        logging.getLogger(__name__).info(
            "connected components: %d multi-member groups <= local_threshold=%d; "
            "solved with driver-local union-find", len(sample), local_threshold,
            extra={"event": "cc_local_solve", "groups": len(sample),
                   "local_threshold": local_threshold},
        )
        rows = [(n, r[group_col]) for r in sample for n in r["_nodes"]]
        out_schema = membership.select(
            F.col(node_col).alias("node"), F.col(node_col).alias("component")
        ).schema
        return _union_find_components(rows, membership.sparkSession, out_schema)
    m = (
        grouped.select(group_col, F.explode("_nodes").alias(node_col))
        .transform(materialize)
    )
    labels = m.select(node_col).distinct().withColumn("comp", F.col(node_col))
    for _ in range(max_iter):
        gmin = (
            m.join(labels, node_col)
            .groupBy(group_col)
            .agg(F.min("comp").alias("gcomp"))
        )
        nmin = (
            m.join(gmin, group_col)
            .groupBy(node_col)
            .agg(F.min("gcomp").alias("ncomp"))
        )
        proposed = labels.join(nmin, node_col).select(
            node_col,
            F.least(F.col("comp"), F.col("ncomp")).alias("comp"),
            F.col("comp").alias("old"),
        )
        proposed = proposed.transform(materialize)
        changed = proposed.filter(F.col("comp") < F.col("old")).count()
        labels = proposed.select(node_col, "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"bipartite connected components did not converge in "
            f"{max_iter} rounds (graph diameter exceeds max_iter)"
        )
    return labels.select(
        F.col(node_col).alias("node"), F.col("comp").alias("component")
    )
