"""Unit tests for duplicate-cluster resolution (operators/cluster.py)."""

from __future__ import annotations

from flink_ms_spark.operators.cluster import (
    canonical_per_component,
    connected_components_bipartite,
)


def _components(spark, pairs):
    """(node, component) of a pair graph — each edge a two-node group —
    through both solver paths (driver-local union-find and distributed
    min-label propagation), which must agree."""
    m = spark.createDataFrame(
        [(n, f"e{i}") for i, e in enumerate(pairs) for n in e], ["node", "group"]
    )
    local = connected_components_bipartite(m)
    dist = connected_components_bipartite(m, local_threshold=0)
    got = {(r.node, r.component) for r in local.collect()}
    assert got == {(r.node, r.component) for r in dist.collect()}
    return got, dist


def test_chain_collapses_to_one_component(spark):
    # 1-2, 2-3, 3-4: a diameter-3 chain — exercises multi-round propagation
    got, _ = _components(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_two_components_and_canonical(spark):
    comps, cc = _components(spark, [(5, 9), (9, 7), (20, 30)])
    assert comps == {(5, 5), (9, 5), (7, 5), (20, 20), (30, 20)}
    summary = {
        (r.component, r.n_docs, r.canonical_doc_id)
        for r in canonical_per_component(cc).collect()
    }
    assert summary == {(5, 3, 5), (20, 2, 20)}


def test_edge_order_irrelevant(spark):
    # same graph, reversed/duplicated edges → same fixpoint
    got, _ = _components(spark, [(4, 3), (3, 4), (2, 3), (1, 2)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_bipartite_matches_pair_graph(spark):
    from flink_ms_spark.operators.cluster import connected_components_bipartite

    # buckets: {1,2} share g1, {2,3} share g2, {5,6} share g3; 9 alone
    rows = [(1, "g1"), (2, "g1"), (2, "g2"), (3, "g2"), (5, "g3"), (6, "g3"), (9, "g4")]
    m = spark.createDataFrame(rows, ["node", "group"])
    want = {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    # 9 is in no >=2 bucket -> excluded, exactly like the pair graph;
    # local union-find path and distributed propagation path agree
    got_local = {
        (r.node, r.component) for r in connected_components_bipartite(m).collect()
    }
    got_dist = {
        (r.node, r.component)
        for r in connected_components_bipartite(m, local_threshold=0).collect()
    }
    assert got_local == want
    assert got_dist == want


def test_local_solve_logs_one_event_and_adds_no_job(spark, caplog):
    """The driver-local union-find branch says so once, with the group
    count; the log call adds no job and leaves the result alone."""
    import logging

    from flink_ms_spark.operators.cluster import connected_components_bipartite

    m = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (2, "g2"), (3, "g2"), (5, "g3"), (6, "g3"), (9, "g4")],
        ["node", "group"],
    )
    tracker = spark.sparkContext.statusTracker()

    def solve(level: int, tag: str):
        logging.getLogger("flink_ms_spark.operators.cluster").setLevel(level)
        spark.sparkContext.setJobGroup(tag, tag)
        try:
            out = {(r.node, r.component) for r in connected_components_bipartite(m).collect()}
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(tag))

    caplog.set_level(logging.INFO, logger="flink_ms_spark.operators.cluster")
    logged, logged_jobs = solve(logging.INFO, "cc_local_logged")
    records = [r for r in caplog.records if getattr(r, "event", None) == "cc_local_solve"]
    assert len(records) == 1
    assert records[0].levelno == logging.INFO and records[0].groups == 3
    quiet, quiet_jobs = solve(logging.WARNING, "cc_local_quiet")
    assert logged == quiet == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    assert logged_jobs == quiet_jobs
