"""IVF persisted-members serve lane: O(n_probe) partition lookups,
streaming member increments, and the reindex coverage gate.

The contract under test (build_index docstring): WITHOUT a members
table an IVF index persists only the coarse quantizer — serving scans
the query-time corpus and is exactly as fresh as that corpus
(batch-only; nothing to increment). WITH ``persist_members=True`` the
corpus lands partitioned BY CELL, point lookups read only the probed
cells' partitions plus the live increment tail, StreamingAnnIngest
gains an ivf lane sharing the generation machinery, and reindex
gets the same served-id coverage gate as PQ.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F


def _vec_df(spark, ids, vecs):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


@pytest.fixture
def members_index(spark, tmp_path):
    """An IVF index with a persisted members table over 80 vectors in
    4 cells, drift baseline recorded."""
    from flink_ms_spark.operators.similarity import build_index

    rng = np.random.default_rng(83)
    vecs = rng.normal(size=(80, 8))
    idx = str(tmp_path / "ivf")
    df = _vec_df(spark, range(80), vecs)
    cents = build_index(df, idx, kind="ivf", n_cells=4, record_stats=True,
                        persist_members=True)["centroids"]
    return idx, vecs, cents


def test_members_serve_matches_corpus_scan_and_brute_force(spark, members_index):
    """The persisted-members serve is the same answer as the
    corpus-scan serve (identical probe/mask/tie contract), and probing
    every cell reproduces brute-force cosine_topk row for row."""
    from flink_ms_spark.operators.similarity import (
        cosine_topk,
        ivf_members_topk,
        ivf_query_topk,
    )

    idx, vecs, cents = members_index
    corpus = _vec_df(spark, range(80), vecs)
    rng = np.random.default_rng(89)
    q = _vec_df(spark, [-1, -2], rng.normal(size=(2, 8)))

    via_members = sorted(map(tuple, ivf_members_topk(
        spark, idx, q, k=3, n_probe=2).collect()))
    via_scan = sorted(map(tuple, ivf_query_topk(
        corpus, cents, q, k=3, n_probe=2).collect()))
    assert via_members == via_scan

    all_cells = sorted(map(tuple, ivf_members_topk(
        spark, idx, q, k=3, n_probe=4).collect()))
    brute = sorted(map(tuple, cosine_topk(corpus, k=3, queries=q).collect()))
    assert all_cells == brute


def test_point_lookup_reads_only_probed_cell_partitions(spark, members_index):
    """The 100 TB property: the base-members read is a partition prune
    — the scan plan carries a cell partition filter, and a lookup does
    not depend on non-probed partitions even existing."""
    from flink_ms_spark.operators.similarity import (
        ivf_members_topk,
        served_view,
    )

    idx, vecs, cents = members_index
    view = served_view(spark, idx, "members", cells=[1])
    plan = view._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # a query probing only cell C must not touch the other partitions:
    # pick a query AT centroid 1 (probes cell 1 deterministically),
    # then delete every other cell's directory — the lookup's answer
    # is byte-identical with 3/4 of the base table gone
    q = _vec_df(spark, [-1], [cents[1] + 0.001])
    before = sorted(map(tuple, ivf_members_topk(
        spark, idx, q, k=3, n_probe=1).collect()))
    assert before, "probed cell must not be empty"
    for c in (0, 2, 3):
        shutil.rmtree(os.path.join(idx, "members", "gen=0", f"cell={c}"))
    after = sorted(map(tuple, ivf_members_topk(
        spark, idx, q, k=3, n_probe=1).collect()))
    assert after == before


def test_streaming_member_increments_serve_fresh_and_moved_vectors(
    spark, members_index
):
    """The ivf ingest lane: a landed batch's NEW vectors serve without
    a rebuild, and a RE-SENT id that moved cells serves its fresh
    vector from the increment — the stale base row in the old cell is
    superseded, not served (recency across cell moves is why the live
    tail is read unpruned)."""
    from flink_ms_spark.operators.similarity import (
        assign_members,
        ivf_members_topk,
        served_view,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, vecs, cents = members_index
    worker = StreamingAnnIngest(spark, idx)
    assert worker.kind == "ivf" and worker.generation == 0

    # id 7's original cell, and a replacement vector AT another centroid
    home = assign_members(_vec_df(spark, [7], [vecs[7]]), cents).collect()[0].cell
    target = (home + 2) % 4
    moved = cents[target] + 0.002
    new_vec = cents[target] + 0.003
    worker.process_batch(_vec_df(spark, [7, 900], [moved, new_vec]), batch_id=0)

    served = served_view(spark, idx, "members")
    assert served.count() == 81  # 80 base + 900; id 7 superseded not duped
    srow = served.where(F.col("vec_id") == 7).collect()[0]
    assert srow.cell == target and abs(srow.embedding[0] - moved[0]) < 1e-12

    # a lookup probing the NEW cell sees both the streamed vector and
    # the moved id's fresh embedding
    q = _vec_df(spark, [-1], [cents[target] + 0.001])
    got = {r.b for r in ivf_members_topk(spark, idx, q, k=2, n_probe=1).collect()}
    assert {7, 900} <= got
    # ...and a lookup probing the OLD cell no longer serves id 7
    q_old = _vec_df(spark, [-1], [cents[home] + 0.001])
    old_cell = ivf_members_topk(spark, idx, q_old, k=80, n_probe=1)
    assert old_cell.where(F.col("b") == 7).count() == 0

    # replay idempotence: same batch_id overwrites its own partition
    worker.process_batch(_vec_df(spark, [7, 900], [moved, new_vec]), batch_id=0)
    assert served_view(spark, idx, "members").count() == 81


def test_ivf_reindex_coverage_gate_and_increment_fold(spark, members_index):
    """reindex on a members index gets PQ's coverage gate: refuse
    a rebuild input missing served ids (increment-only ids included),
    fold everything on a covering input — generation bump, increments
    dir gone, members regenerated, no id lost — and report a
    deliberate allow_missing shrink."""
    from flink_ms_spark.operators.similarity import (
        served_view,
        read_index_manifest,
        reindex,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, vecs, cents = members_index
    rng = np.random.default_rng(97)
    inc_vecs = rng.normal(size=(5, 8))
    StreamingAnnIngest(spark, idx).process_batch(
        _vec_df(spark, range(900, 905), inc_vecs), batch_id=0
    )
    base_only = _vec_df(spark, range(80), vecs)
    with pytest.raises(ValueError, match="5 served id"):
        reindex(spark, idx, base_only, force=True)
    assert read_index_manifest(spark, idx)["generation"] == 0
    assert served_view(spark, idx, "members").count() == 85

    full = _vec_df(
        spark,
        list(range(80)) + list(range(900, 905)),
        list(vecs) + list(inc_vecs),
    )
    report = reindex(spark, idx, full, force=True)
    assert report["action"] == "rebuilt"
    assert report["dropped_ids"] == 0
    assert report["generation"] == 1
    assert not os.path.isdir(os.path.join(idx, "members_increments"))
    served = {r.vec_id for r in served_view(spark, idx, "members").collect()}
    assert served == set(range(80)) | set(range(900, 905))

    # deliberate shrink is reported, never silent
    report = reindex(spark, idx, base_only, force=True, allow_missing=True)
    assert report["dropped_ids"] == 5
    assert served_view(spark, idx, "members").count() == 80


def test_stale_ivf_worker_fails_loud_and_stale_increments_never_served(
    spark, members_index
):
    """The generation machinery is shared: a worker constructed before
    an ivf reindex raises at its next batch, and a stale-generation
    member increment written anyway is partition-pruned at read."""
    from flink_ms_spark.operators.similarity import (
        assign_members,
        served_view,
        reindex,
    )
    from flink_ms_spark.streaming.ann_ingest import (
        StaleIndexGenerationError,
        StreamingAnnIngest,
    )

    idx, vecs, cents = members_index
    stale = StreamingAnnIngest(spark, idx)
    reindex(spark, idx, _vec_df(spark, range(80), vecs), force=True)

    rng = np.random.default_rng(101)
    with pytest.raises(StaleIndexGenerationError, match="generation 1"):
        stale.process_batch(_vec_df(spark, [950], rng.normal(size=(1, 8))),
                            batch_id=1)
    # debris a racing stale worker would have landed: gen=0 increment
    ghost = assign_members(_vec_df(spark, [951], rng.normal(size=(1, 8))), cents)
    ghost.write.mode("overwrite").partitionBy("cell").parquet(
        f"{idx}/members_increments/gen=0/batch_id=9"
    )
    served = served_view(spark, idx, "members")
    assert served.where(F.col("vec_id").isin(950, 951)).count() == 0
    # recovery lane works for ivf too: reload, land, served
    stale.reload()
    assert stale.generation == 1
    stale.process_batch(_vec_df(spark, [950], rng.normal(size=(1, 8))),
                        batch_id=1)
    assert served_view(spark, idx, "members").where(F.col("vec_id") == 950).count() == 1


def test_members_read_fails_loud_when_generation_swapped_mid_lookup(
    spark, members_index
):
    """Swap coherence: a lookup that loaded centroids (and probed
    cells) under generation G must ERROR if the members read happens
    after a swap to G+1 — new cell assignments under old-centroid
    probes would be silently wrong, the exact mix the swap promises
    cannot happen."""
    from flink_ms_spark.operators.similarity import (
        served_view,
        reindex,
    )

    idx, vecs, cents = members_index
    reindex(spark, idx, _vec_df(spark, range(80), vecs), force=True)
    # generation 0 probes against a generation-1 index: loud, not a mix
    with pytest.raises(IOError, match="generation 0"):
        served_view(spark, idx, "members", cells=[0], expected_generation=0).collect()
    # the current generation serves normally
    assert served_view(spark, idx, "members").count() == 80


def test_run_recovers_ivf_ingest_across_racing_reindex(
    spark, tmp_path, members_index
):
    """The streaming recovery lane works for the IVF kind too: a
    reindex swap landing between a batch's increment write and its
    commit raises post-write, run()'s wrapper reloads the new
    centroids in place and re-encodes the batch under the new
    generation — stream completes, vector served, no manual worker
    reconstruction."""
    import json

    from flink_ms_spark.operators.similarity import (
        served_view,
        reindex,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, vecs, cents = members_index
    base = _vec_df(spark, range(80), vecs)

    class Racing(StreamingAnnIngest):
        _raced = False

        def _land_increment(self, rows, out):
            super()._land_increment(rows, out)
            if not Racing._raced:
                Racing._raced = True
                # reindex snapshot predates this batch: its ids are
                # missing from the rebuild input (allow_missing
                # documents the drop; the post-write check + replay
                # recover the batch)
                reindex(self.spark, idx, base, force=True,
                        allow_missing=True)

    worker = Racing(spark, idx)
    assert worker.kind == "ivf" and worker.generation == 0

    rng = np.random.default_rng(107)
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "batch.jsonl", "w") as f:
        f.write(json.dumps(
            {"vec_id": 860, "embedding": [float(x) for x in rng.normal(size=8)]}
        ) + "\n")
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).json(str(src))
    worker.run(stream, str(tmp_path / "ckpt")).awaitTermination()

    assert worker.generation == 1  # reloaded in place, same object
    served = served_view(spark, idx, "members")
    assert served.where(F.col("vec_id") == 860).count() == 1
    assert served.count() == 81


def test_memberless_ivf_is_batch_only_by_contract(spark, tmp_path):
    """Pins the freshness contract for an IVF index WITHOUT members:
    the ingest lane refuses loudly (nothing to increment), and serving
    is exactly as fresh as the query-time corpus — a vector appears
    the moment the corpus input carries it, no rebuild involved."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        ivf_query_topk,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(103)
    vecs = rng.normal(size=(40, 8))
    idx = str(tmp_path / "ivf_plain")
    cents = build_index(_vec_df(spark, range(40), vecs), idx, kind="ivf",
                        n_cells=2, record_stats=True)["centroids"]

    with pytest.raises(ValueError, match="persist_members=True"):
        StreamingAnnIngest(spark, idx)

    q_vec = rng.normal(size=8)
    q = _vec_df(spark, [-1], [q_vec])
    corpus = _vec_df(spark, range(40), vecs)
    fresh = _vec_df(spark, list(range(40)) + [999],
                    list(vecs) + [q_vec])  # corpus now carries id 999
    assert ivf_query_topk(corpus, cents, q, k=1, n_probe=2).collect()[0].b != 999
    assert ivf_query_topk(fresh, cents, q, k=1, n_probe=2).collect()[0].b == 999
