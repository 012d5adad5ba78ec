"""Iterative graph operators behind the catalog's graph queries:
co-occurrence edges, triangle counting and label propagation
(``triangle_copurchase``, ``lpa_communities``), each a DataFrame plan
whose rounds are keyed shuffles.

The catalog's ``event_pagerank`` is a 3-iteration SQL unroll (chosen
for DuckDB oracle parity); Spark inlines each CTE, so the unrolled
plan re-derives the edge pipeline per iteration. That is harmless on
the 5-node fixture graph; a web-scale PageRank would build the edges
once and shuffle only the rank vector per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ms_spark.partitioning import materialize


def cooccurrence_edges(
    df: DataFrame, group_col: str, node_col: str
) -> DataFrame:
    """Undirected co-occurrence edges (u < v, distinct) from group
    membership: nodes sharing a group get an edge. One self-join keyed
    on the group column — at scale the join is co-partitioned on
    ``group_col`` (single shuffle), and the per-group blow-up is
    bounded by the group size squared, so cap pathological groups
    upstream (a 10k-item group is a 50M-pair bomb; fixture orders are
    single-digit baskets)."""
    # NOTE (r15, measured and rejected): eagerly checkpointing the
    # distinct membership here to stop the self-join sides recomputing
    # the scan+distinct made BOTH consumers slower (lpa 6.4→9.2 s,
    # triangle 3.3→4.2 s min-of-3 at sf0.1) — the duplicated subtree
    # runs OVERLAPPED under AQE's concurrent stage futures, while the
    # checkpoint inserts a serial barrier in front of the join. The
    # recompute wastes cluster CPU but not wall; leave it.
    m = df.select(group_col, node_col).distinct()
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, on=group_col)
        .where(F.col(f"a.{node_col}") < F.col(f"b.{node_col}"))
        .select(
            F.col(f"a.{node_col}").alias("u"), F.col(f"b.{node_col}").alias("v")
        )
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count via degree orientation (compact-forward).

    Counting wedges on the raw undirected graph enumerates Σ deg(v)²
    pairs — on a skewed graph the hub vertex dominates and one task
    gets the whole blow-up. Orienting every edge from the
    (degree, id)-smaller endpoint to the larger makes the orientation
    acyclic with max out-degree O(√m) on any graph (arboricity bound),
    so each triangle is counted exactly once. The count is
    orientation-invariant, so a plain id-ordered SQL oracle checks it.

    Round-8 rework (measured 9.9 → 4.4 s at sf0.1, exact parity): the
    closure used to be a wedge JOIN — the O(m^1.5) wedge set became a
    shuffle write, then a second edge-keyed join. The sorted-list form
    keeps the identical arithmetic in CPU: per oriented edge
    (src, dst), triangles closing it = |out(src) ∩ out(dst)| via
    array_intersect on the pre-grouped sorted out-lists. Same
    Σ min(outdeg) comparison bound, but the wedge set never
    materializes and never shuffles; the only edge-scale shuffles are
    the list build and the two list joins (AQE broadcasts the
    |nodes|-row list table when it fits).

    Input: distinct undirected edges (u, v) with u < v.
    Output: one row (n_edges, n_triangles).

    Materialization is EAGER localCheckpoint, not lazy persist: AQE
    runs downstream shuffle stages as concurrent futures, and a lazy
    persist lets each future recompute the uncached subtree — the r14
    profile showed the upstream co-occurrence self-join running TWICE
    (two 64-task stages scanning the full fact table) under persist().
    Eager checkpoint runs each edge-scale pass exactly once; the
    blocks are GC-managed, so no unpersist bookkeeping is needed.
    """
    edges = edges.transform(materialize)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    ranked = (
        edges.join(du, edges["u"] == F.col("du.node"))
        .join(dv, edges["v"] == F.col("dv.node"))
        .select(
            "u", "v", F.col("du.deg").alias("deg_u"), F.col("dv.deg").alias("deg_v")
        )
    )
    fwd = F.struct("deg_u", "u") < F.struct("deg_v", "v")
    o = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).transform(materialize)
    lists = (
        o.groupBy(F.col("src").alias("node"))
        .agg(F.sort_array(F.collect_list("dst")).alias("outs"))
        .transform(materialize)
    )
    j = o.join(
        lists.withColumnRenamed("node", "src").withColumnRenamed(
            "outs", "outs_src"
        ),
        "src",
    ).join(
        # a sink dst has no out-list: left join + empty-array coalesce
        lists.withColumnRenamed("node", "dst").withColumnRenamed(
            "outs", "outs_dst"
        ),
        "dst",
        "left",
    )
    # slice(outs_src, 1, 0) is an empty array of the RIGHT element
    # type whatever the id type is — a literal array cast would break
    # on int ids
    empty = F.slice(F.col("outs_src"), F.lit(1), F.lit(0))
    tri = j.select(
        F.size(
            F.array_intersect("outs_src", F.coalesce("outs_dst", empty))
        ).alias("k")
    ).agg(F.sum("k").alias("n_triangles"))
    n_e = edges.agg(F.count("*").alias("n_edges"))
    # the 1-row summary pins the result; the upstream localCheckpoint
    # blocks are GC-managed, so nothing leaks in a resident engine
    out = n_e.crossJoin(tri).transform(materialize)
    return out


def lpa_communities(
    edges: DataFrame,
    n_iters: int = 3,
    hub_segment_size: int | None = 1_048_576,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007): every node starts as its own community; each round a node
    adopts the most frequent label among its neighbors, ties to the
    smallest label; isolated behavior never arises on a distinct-edge
    input (every node has ≥ 1 neighbor). Returns (node, community)
    after ``n_iters`` synchronized rounds — community detection proper
    (modularity-style clusters), distinct from min-label connected
    components (operators/cluster.py), which LPA refines within.

    Scale shape (round-8 rework, measured 8.3 → 5.3 s at sf0.1): the
    symmetric adjacency is pre-grouped ONCE into per-node neighbor
    lists (|nodes| rows — one edge-scale shuffle total), so each round
    is a node-keyed join of two |nodes|-row tables (AQE broadcasts the
    label vector) + a map-side explode + one keyed (node, label) agg +
    one per-node argmax agg. The earlier form joined the EDGE table
    against labels every round — three extra edge-scale shuffles the
    grouped layout removes.

    Hub guard: a web-graph hub with 8M neighbors would make a 64 MB
    list row — one task holds it, and `collect_list` builds it on a
    single core. The guard is PER-NODE and data-driven: each node's
    list is segmented by a neighbor-hash salt with per-node modulus
    ``ceil(deg / hub_segment_size)`` — 1 for every node at or below the
    segment size (one row, same layout as unsegmented), so only true
    hubs split and no driver-side degree probe (a separate action that
    would serialize the pipeline into two jobs) is needed. All
    downstream consumers are segment-oblivious: the per-round label
    join matches every segment row of a node, the explode emits each
    neighbor exactly once across segments, and the (node, label)
    counts are unchanged — so segmented == unsegmented labels exactly
    (pinned by tests/test_mixing.py). The guard costs one map-side-
    combinable degree aggregate plus a node-keyed join of adjacency
    against the |nodes|-row degree table (AQE-broadcastable) —
    interleaved A/B at sf0.1: 4.7-5.4 s unguarded vs 6.1-6.4 s guarded
    (~1.3×), the price of never building an unbounded row. Pass
    ``hub_segment_size=None`` to opt out when the edge construction
    already bounds degrees; the (node, label) agg stays covered by
    map-side partial aggregation and AQE skew splitting in both modes.
    """
    adj = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # Eager localCheckpoint everywhere a lazy persist used to sit: the
    # per-round label joins put adj_lists into the final plan once per
    # iteration (plus the init), and AQE materializes those stages as
    # concurrent futures — under a lazy persist each future raced to
    # recompute the uncached adjacency (r14 profile: the co-occurrence
    # self-join ran twice per call). Eager blocks run each edge-scale
    # pass exactly once and are GC-managed (no unpersist bookkeeping).
    if hub_segment_size is None:
        adj_lists = (
            adj.groupBy(F.col("u").alias("nbr_of"))
            .agg(F.collect_list("v").alias("nbrs"))
            .transform(materialize)
        )
    else:
        # materialize the symmetric adjacency: the degree pass and the
        # list build both consume it, and the upstream edge derivation
        # (e.g. a co-occurrence self-join) must run exactly ONCE
        adj = adj.transform(materialize)
        deg = adj.groupBy(F.col("u").alias("nbr_of")).agg(
            F.count("*").alias("deg")
        )
        n_segs = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("deg") / F.lit(hub_segment_size)),
        )
        adj_lists = (
            adj.join(deg, adj["u"] == deg["nbr_of"])
            .withColumn("seg", F.pmod(F.xxhash64("v"), n_segs))
            .groupBy("nbr_of", "seg")
            .agg(F.collect_list("v").alias("nbrs"))
            .drop("seg")
            .transform(materialize)
        )
    # init from the materialized lists (distinct: the segmented layout
    # can hold >1 row per hub node) — reading the blocks is cheaper
    # than re-deriving deg over the adjacency in the init lineage
    labels = (
        adj_lists.select(F.col("nbr_of").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    for _ in range(n_iters):
        # label of node X reaches every neighbor via X's OWN list row:
        # join labels on the list owner, explode the owner's neighbors
        neigh = adj_lists.join(
            labels.withColumnRenamed("node", "nbr_of"), "nbr_of"
        ).select(F.explode("nbrs").alias("node"), "community")
        counts = neigh.groupBy("node", "community").agg(F.count("*").alias("n"))
        # argmax by (n desc, community asc) as ONE keyed aggregate:
        # max(struct(n, -community)) — no per-round window shuffle
        # (ids are non-negative, so -community inverts the tie order)
        labels = counts.groupBy("node").agg(
            (-F.max(F.struct(F.col("n"), (-F.col("community")).alias("negc")))[
                "negc"
            ]).alias("community")
        )
    labels = labels.transform(materialize)  # |nodes| rows
    return labels
