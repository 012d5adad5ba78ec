"""Persisted IVF-PQ index: build-once serve-many parity with the
all-pairs report, O(n_probe) partition IO, swap coherence, and the
pinned batch-only freshness contract."""

from __future__ import annotations

import json
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
def ivfpq(spark, tmp_path):
    from flink_ms_spark.operators.similarity import build_index

    rng = np.random.default_rng(109)
    vecs = rng.normal(size=(80, 8))
    idx = str(tmp_path / "ivfpq")
    df = _vec_df(spark, range(80), vecs)
    cents, cb = build_index(df, idx, kind="ivfpq", n_cells=4, n_subspaces=4,
                            n_codes=8).values()
    return idx, vecs, cents, cb


def test_persisted_serve_matches_all_pairs_report(spark, ivfpq):
    """ivfpq_query_topk over the persisted index reproduces
    ivf_pq_topk's rows exactly when every corpus vector queries — the
    persisted serve is the same contract (probe, encode, ADC order,
    rank), just build-once."""
    from flink_ms_spark.operators.similarity import ivf_pq_topk, ivfpq_query_topk

    idx, vecs, cents, cb = ivfpq
    corpus = _vec_df(spark, range(80), vecs)
    got = sorted(map(tuple, ivfpq_query_topk(
        spark, idx, corpus, k=3, n_probe=2).collect()))
    want = sorted(map(tuple, ivf_pq_topk(
        corpus, cents, cb, k=3, n_probe=2).collect()))
    assert got == want


def test_lookup_reads_only_probed_cell_partitions(spark, ivfpq):
    """The 100 TB property: a lookup probing one cell does not depend
    on the other cells' code partitions even existing."""
    from flink_ms_spark.operators.similarity import ivfpq_query_topk

    idx, vecs, cents, cb = ivfpq
    q = _vec_df(spark, [-1], [cents[2] + 0.001])  # probes cell 2 first
    before = sorted(map(tuple, ivfpq_query_topk(
        spark, idx, q, k=3, n_probe=1).collect()))
    assert before, "probed cell must not be empty"
    for c in (0, 1, 3):
        shutil.rmtree(os.path.join(idx, "codes", "gen=0", f"cell={c}"))
    after = sorted(map(tuple, ivfpq_query_topk(
        spark, idx, q, k=3, n_probe=1).collect()))
    assert after == before


def test_serve_fails_loud_when_generation_swapped_mid_serve(spark, ivfpq):
    """Swap coherence: the serve pins the generation its artifacts
    loaded under through the code read — a rebuild bumping the
    manifest mid-serve raises instead of pricing another generation's
    codes."""
    from flink_ms_spark.operators.similarity import (
        INDEX_MANIFEST,
        ivfpq_query_topk,
    )

    idx, vecs, cents, cb = ivfpq
    # simulate a rebuild that bumped the manifest but whose codes/gen=1
    # this serve must NOT silently miss or mix (written via fsutil —
    # a plain open() write leaves Hadoop's .crc sidecar stale)
    from flink_ms_spark import fsutil

    fsutil.replace_text(
        spark, os.path.join(idx, INDEX_MANIFEST),
        json.dumps({"kind": "ivfpq", "generation": 1}),
    )
    q = _vec_df(spark, [-1], [cents[0] + 0.001])
    with pytest.raises(IOError, match="generation 1"):
        ivfpq_query_topk(spark, idx, q, k=3).collect()


def test_empty_and_corpus_scale_query_frames(spark, ivfpq):
    from flink_ms_spark.operators.similarity import ivfpq_query_topk

    idx, vecs, *_ = ivfpq
    corpus = _vec_df(spark, range(80), vecs)
    out = ivfpq_query_topk(spark, idx, corpus.where(F.lit(False)), k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["a", "b", "ad2", "rk"]
    with pytest.raises(ValueError, match="ivf_pq_topk"):
        ivfpq_query_topk(spark, idx, corpus, k=3, max_queries=10)


def test_streaming_code_increments_serve_fresh_and_moved_vectors(spark, ivfpq):
    """The ivfpq ingest lane (round 14 — the kind's batch-only refusal
    is GONE): a landed batch's new vectors serve through the merged
    code view without a rebuild, a re-sent id that moved cells serves
    from its new cell only, and replay is idempotent. Mirrors the
    members-lane contract over 16-byte codes."""
    from flink_ms_spark.operators.similarity import (
        ivfpq_query_topk,
        served_view,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, vecs, cents, cb = ivfpq
    worker = StreamingAnnIngest(spark, idx)
    assert worker.kind == "ivfpq" and worker.generation == 0

    # id 7 re-sent AT another centroid, plus a brand-new id 900
    base7 = served_view(spark, idx, "codes").where(F.col("vec_id") == 7).collect()[0]
    target = (base7.cell + 2) % 4
    moved = cents[target] + 0.002
    new_vec = cents[target] + 0.003
    worker.process_batch(_vec_df(spark, [7, 900], [moved, new_vec]), batch_id=0)
    assert os.path.isdir(os.path.join(
        idx, "codes_increments", "gen=0", "batch_id=0", f"cell={target}"))

    served = served_view(spark, idx, "codes")
    assert served.count() == 81  # 80 base + 900; id 7 superseded not duped
    srow = served.where(F.col("vec_id") == 7).collect()[0]
    assert srow.cell == target

    # a lookup probing the NEW cell serves both streamed rows (ADC
    # code ties make exact rank-1/2 fragile at 4×8 codes, so assert
    # membership in the probed cell's full serve set, not rank)
    q = _vec_df(spark, [-1], [cents[target] + 0.001])
    got = {r.b for r in ivfpq_query_topk(
        spark, idx, q, k=81, n_probe=1).collect()}
    assert {7, 900} <= got
    # ...and a lookup probing the OLD cell no longer serves id 7
    q_old = _vec_df(spark, [-1], [cents[base7.cell] + 0.001])
    old_cell = ivfpq_query_topk(spark, idx, q_old, k=80, n_probe=1)
    assert old_cell.where(F.col("b") == 7).count() == 0

    # replay idempotence: same batch_id overwrites its own partition
    worker.process_batch(_vec_df(spark, [7, 900], [moved, new_vec]), batch_id=0)
    assert served_view(spark, idx, "codes").count() == 81


def test_ivfpq_reindex_monitors_both_quantizers_and_gates_coverage(
    spark, tmp_path
):
    """reindex: healthy corpus → no rebuild, both drift ratios
    reported; a rebuild input missing a served (increment-only) id
    refuses; a forced rebuild with full coverage swaps to gen 1,
    folds the tail, and the fresh vector survives in the new base."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        served_view,
        read_index_manifest,
        reindex,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(211)
    vecs = rng.normal(size=(60, 8))
    idx = str(tmp_path / "ivfpq")
    df = _vec_df(spark, range(60), vecs)
    build_index(df, idx, kind="ivfpq", n_cells=4, n_subspaces=4, n_codes=8,
                record_stats=True)

    healthy = reindex(spark, idx, df)
    assert healthy["action"] == "healthy"
    assert healthy["coarse_drift_ratio"] <= 1.05
    assert healthy["pq_drift_ratio"] <= 1.05

    new_vec = rng.normal(size=8)
    StreamingAnnIngest(spark, idx).process_batch(
        _vec_df(spark, [900], [new_vec]), batch_id=0)

    with pytest.raises(ValueError, match="900 .*|1 served id"):
        reindex(spark, idx, df, force=True)
    # the refused rebuild cleared its intent marker (ingest unblocked)
    assert not os.path.isdir(idx + ".rebuilding")

    full = _vec_df(spark, list(range(60)) + [900],
                   list(vecs) + [new_vec])
    report = reindex(spark, idx, full, force=True)
    assert report["action"] == "rebuilt" and report["generation"] == 1
    assert report["dropped_ids"] == 0
    assert read_index_manifest(spark, idx)["generation"] == 1
    served = served_view(spark, idx, "codes")
    assert served.count() == 61
    assert not os.path.isdir(os.path.join(idx, "codes_increments"))


def test_run_recovers_ivfpq_ingest_across_racing_reindex(spark, tmp_path):
    """A reindex swap completing under a live ivfpq ingest stream: the
    tripped batch re-encodes in place under the new generation
    (run()'s reload) and serves — same recovery contract
    as the pq and ivf lanes."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        served_view,
        reindex,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(223)
    vecs = rng.normal(size=(40, 8))
    idx = str(tmp_path / "ivfpq")
    df = _vec_df(spark, range(40), vecs)
    build_index(df, idx, kind="ivfpq", n_cells=4, n_subspaces=4, n_codes=8,
                record_stats=True)

    worker = StreamingAnnIngest(spark, idx)
    reindex(spark, idx, df, force=True)  # swap to gen 1 behind its back

    from flink_ms_spark.streaming.ann_ingest import StaleIndexGenerationError

    batch = _vec_df(spark, [700], [rng.normal(size=8)])
    with pytest.raises(StaleIndexGenerationError):
        worker.process_batch(batch, batch_id=0)
    worker.reload(spark)
    worker.process_batch(batch, batch_id=0)
    assert worker.generation == 1
    served = served_view(spark, idx, "codes")
    assert served.where(F.col("vec_id") == 700).count() == 1


def test_partial_fresh_build_reads_as_incomplete_ivfpq(spark, tmp_path):
    """An ivfpq index whose code table is gone still reads as
    kind=ivfpq and the serve fails 'incomplete', never mis-dispatching
    to the IVF lane."""
    from flink_ms_spark.operators.similarity import (
        ivfpq_query_topk,
        read_index_manifest,
    )

    rng = np.random.default_rng(227)
    vecs = rng.normal(size=(30, 8))
    idx = str(tmp_path / "partial")
    df = _vec_df(spark, range(30), vecs)
    from flink_ms_spark.operators.similarity import build_index

    build_index(df, idx, kind="ivfpq", n_cells=4, n_subspaces=4, n_codes=8)
    shutil.rmtree(os.path.join(idx, "codes"))  # simulate the crash

    m = read_index_manifest(spark, idx)
    assert m["kind"] == "ivfpq"
    q = _vec_df(spark, [-1], [vecs[0]])
    with pytest.raises(IOError, match="incomplete"):
        ivfpq_query_topk(spark, idx, q, k=3).collect()


def test_fold_bounds_the_live_tail_without_retraining(spark, ivfpq):
    """fold_ann_increments: the merged serve answer is IDENTICAL
    before and after the fold, the tail dirs are gone, the generation
    bumped, and the trained artifacts are byte-identical (no
    retraining)."""
    from flink_ms_spark.operators.similarity import (
        fold_ann_increments,
        ivfpq_query_topk,
        load_artifact,
        served_view,
        read_index_manifest,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, vecs, cents, cb = ivfpq
    worker = StreamingAnnIngest(spark, idx)
    rng = np.random.default_rng(229)
    worker.process_batch(_vec_df(spark, [900], [rng.normal(size=8)]),
                         batch_id=0)
    worker.process_batch(_vec_df(spark, [7], [cents[1] + 0.002]), batch_id=1)

    q = _vec_df(spark, [-1, -2], rng.normal(size=(2, 8)))
    before = sorted(map(tuple, ivfpq_query_topk(
        spark, idx, q, k=3, n_probe=2).collect()))
    report = fold_ann_increments(spark, idx)
    assert report["action"] == "folded" and report["generation"] == 1
    assert report["base_rows"] == 81
    after = sorted(map(tuple, ivfpq_query_topk(
        spark, idx, q, k=3, n_probe=2).collect()))
    assert after == before
    assert not os.path.isdir(os.path.join(idx, "codes_increments"))
    assert read_index_manifest(spark, idx)["generation"] == 1
    assert np.allclose(load_artifact(spark, idx, "centroids"), cents)
    # the folded rows serve as base now
    assert served_view(spark, idx, "codes").where(
        F.col("vec_id") == 900).count() == 1


@pytest.fixture
def ivfpq_members(spark, tmp_path):
    """An IVF-PQ index WITH a members table (the rerank lane)."""
    from flink_ms_spark.operators.similarity import build_index

    rng = np.random.default_rng(307)
    vecs = rng.normal(size=(80, 8))
    idx = str(tmp_path / "ivfpq_m")
    df = _vec_df(spark, range(80), vecs)
    cents, cb = build_index(df, idx, kind="ivfpq", n_cells=4, n_subspaces=4,
                            n_codes=8, persist_members=True).values()
    return idx, vecs, cents, cb


def test_rerank_recovers_exact_order_within_probed_cells(spark, ivfpq_members):
    """The refine contract: with rerank ≥ the candidate count, the
    top-k IS the exact squared-L2 ranking over the probed cells'
    members (quantization error fully removed) — verified against a
    numpy replay; and rerank recall vs that exact truth is never below
    ADC-only recall."""
    from flink_ms_spark.operators.similarity import (
        _probe_cells,
        ivfpq_query_topk,
        served_view,
    )

    idx, vecs, cents, cb = ivfpq_members
    rng = np.random.default_rng(311)
    qv = rng.normal(size=8)
    q = _vec_df(spark, [-1], [qv])

    got = ivfpq_query_topk(spark, idx, q, k=5, n_probe=2, rerank=200).collect()
    got_pairs = [(r.b, r.d2, r.rk) for r in sorted(got, key=lambda r: r.rk)]

    # numpy ground truth: exact d2 over the two probed cells' members
    cells = served_view(spark, idx, "codes").select("vec_id", "cell").collect()
    cell_of = {r.vec_id: r.cell for r in cells}
    probed = set(np.flatnonzero(_probe_cells(qv[None, :], cents, 2)[0]))
    cand = [i for i in range(80) if cell_of[i] in probed]
    d2 = {i: round(float(((qv - vecs[i]) ** 2).sum()), 6) for i in cand}
    want = sorted(cand, key=lambda i: (d2[i], i))[:5]
    assert [b for b, _, _ in got_pairs] == want
    assert [d for _, d, _ in got_pairs] == [d2[i] for i in want]

    # recall@5 vs exact-in-probed-cells: rerank ≥ ADC-only
    adc = {r.b for r in ivfpq_query_topk(spark, idx, q, k=5, n_probe=2).collect()}
    assert len(set(want) & {b for b, _, _ in got_pairs}) >= len(set(want) & adc)


def test_rerank_serves_streamed_vectors_and_requires_members(
    spark, ivfpq, ivfpq_members
):
    """Member increments land in lockstep with code increments, so a
    streamed vector re-ranks on its exact embedding; an index without
    members refuses the rerank loudly."""
    from flink_ms_spark.operators.similarity import ivfpq_query_topk
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    no_members_idx, *_ = ivfpq
    idx, vecs, cents, cb = ivfpq_members

    rng = np.random.default_rng(313)
    qv = rng.normal(size=8)
    worker = StreamingAnnIngest(spark, idx)
    assert "members" in worker.tables
    worker.process_batch(_vec_df(spark, [900], [qv]), batch_id=0)

    q = _vec_df(spark, [-1], [qv])
    got = ivfpq_query_topk(spark, idx, q, k=1, n_probe=4, rerank=200).collect()
    # the streamed vector IS the query: exact d2 = 0, rank 1
    assert got[0].b == 900 and got[0].d2 == 0.0

    with pytest.raises(ValueError, match="persist_members"):
        ivfpq_query_topk(spark, no_members_idx, q, k=3, rerank=10)


def test_rerank_shortlist_survives_batch_prune_beyond_default_margin(
    spark, tmp_path
):
    """Round-14 review regression: the kernel's per-batch prune must
    keep at least ``rerank`` candidates, not the default 2k+8 margin.
    Adversarial construction: 20 candidates in ONE cell where the
    EXACT nearest neighbor has the WORST ADC distance (its actual
    position sits near the query but encodes to a far PQ center), so
    with k=1/rerank=20 the refine can only find it if the batch prune
    kept all 20 — a 2k+8=10 prune silently serves the wrong neighbor."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        ivfpq_query_topk,
    )

    # dim 2, 2 subspaces of 1 dim each; one coarse cell at the origin.
    # subspace-0 centers: a fine grid so each candidate has a distinct
    # ADC x-term; subspace-1 centers {0, 3}: y=1.6 encodes to 3 (far),
    # y=0 to 0. Query y=1.4 → ADC y-term 1.96 for y-code 0, 2.56 for
    # y-code 3, so id 19 is ADC-LAST; its exact y-term is 0.04 → best.
    sub0 = [i * 0.001 for i in range(21)] + [99.0] * 11
    sub1 = [0.0, 3.0] + [99.0] * 30
    cb = np.array([[[c] for c in sub0], [[c] for c in sub1]])
    cents = np.array([[0.0, 0.0]])
    vecs = [[i * 0.001, 0.0] for i in range(19)] + [[0.019, 1.6]]
    idx = str(tmp_path / "adv")
    df = _vec_df(spark, range(20), vecs)
    build_index(df, idx, kind="ivfpq", centroids=cents, codebooks=cb,
                persist_members=True)

    q = _vec_df(spark, [-1], [[0.0, 1.4]])
    # sanity: ADC-only serve ranks id 19 LAST (worst approximate dist)
    adc = ivfpq_query_topk(spark, idx, q, k=20, n_probe=1).collect()
    assert max(adc, key=lambda r: r.rk).b == 19
    # refine with rerank=20 > 2k+8=10 must surface the exact winner
    got = ivfpq_query_topk(spark, idx, q, k=1, n_probe=1, rerank=20).collect()
    assert got[0].b == 19 and abs(got[0].d2 - round(0.019**2 + 0.2**2, 6)) < 1e-9


def test_rerank_empty_query_frame_has_d2_schema(spark, ivfpq_members):
    """Round-14 review regression: the empty-frame early return must
    carry the rerank schema (d2), not the ADC one (ad2)."""
    from flink_ms_spark.operators.similarity import ivfpq_query_topk

    idx, *_ = ivfpq_members
    out = ivfpq_query_topk(
        spark, idx, _vec_df(spark, [], []).where(F.lit(False)),
        k=3, rerank=10,
    )
    assert [f.name for f in out.schema.fields] == ["a", "b", "d2", "rk"]
    assert out.count() == 0


def test_fold_no_members_leaves_no_marker(spark, tmp_path):
    """Round-14 review regression: fold on a members-less ivf index
    reports no-members WITHOUT leaking the .rebuilding intent marker
    (which would block every future ingest commit)."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        fold_ann_increments,
    )

    rng = np.random.default_rng(331)
    idx = str(tmp_path / "ivf_plain")
    build_index(_vec_df(spark, range(20), rng.normal(size=(20, 8))),
                idx, kind="ivf", n_cells=2)
    report = fold_ann_increments(spark, idx)
    assert report["action"] == "no-members"
    assert not os.path.isdir(idx + ".rebuilding")


def test_rerank_raises_on_out_of_sync_member_view(spark, ivfpq_members):
    """A candidate id present in the code view but missing from the
    members view (codes/members increments out of sync) raises in the
    refine kernel instead of silently serving a shorter list."""
    from flink_ms_spark.operators.similarity import ivfpq_query_topk
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, vecs, cents, cb = ivfpq_members
    rng = np.random.default_rng(317)
    qv = rng.normal(size=8)
    worker = StreamingAnnIngest(spark, idx)
    worker.process_batch(_vec_df(spark, [900], [qv]), batch_id=0)
    # simulate the crash window: code increment landed, member missing
    shutil.rmtree(os.path.join(idx, "members_increments"))

    q = _vec_df(spark, [-1], [qv])
    with pytest.raises(Exception, match="out of sync"):
        ivfpq_query_topk(spark, idx, q, k=1, n_probe=4, rerank=200).collect()


def test_ingest_warns_on_unbounded_tail(spark, ivfpq, caplog):
    """Task-5 guard: past tail_warn_batches live batch partitions the
    worker says so loudly (one listing, no data read) naming the fold."""
    import logging

    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, vecs, cents, cb = ivfpq
    worker = StreamingAnnIngest(spark, idx, tail_warn_batches=1)
    rng = np.random.default_rng(233)
    with caplog.at_level(logging.WARNING, logger="flink_ms_spark.streaming.ann_ingest"):
        worker.process_batch(_vec_df(spark, [901], [rng.normal(size=8)]),
                             batch_id=0)
        assert not [r for r in caplog.records if "live increment tail" in r.message]
        worker.process_batch(_vec_df(spark, [902], [rng.normal(size=8)]),
                             batch_id=1)
    warns = [r for r in caplog.records if "live increment tail" in r.message]
    assert warns and "fold" in warns[0].message


def test_cli_ivfpq_build_query_status_reindex(spark, tmp_path, capsys):
    """The CLI lifecycle for the ivfpq kind, end to end: build persists
    all three artifacts + drift baselines, ann-query serves the nearest
    code partition (self point first), ann-ingest-landed increments show
    in ann-status (tail ratio), reindex-ann monitors both quantizers,
    --fold bounds the tail, and a forced reindex swaps to the next
    generation."""
    from flink_ms_spark import cli
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(113)
    vecs = rng.normal(size=(60, 8)).astype("float64")
    src = tmp_path / "emb"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(src))
    idx = str(tmp_path / "idx")
    cli.main(["build-ann-index", "--kind", "ivfpq", "--input", str(src),
              "--index", idx, "--cells", "4", "--subspaces", "4",
              "--codes", "8"])
    out = capsys.readouterr().out
    assert "ivfpq, 4 cells, 4 subspaces x 8 codes" in out
    assert os.path.isdir(os.path.join(idx, "codes", "gen=0"))

    probe = 11
    vec_arg = ",".join(f"{x:.8f}" for x in vecs[probe])
    cli.main(["ann-query", "--index", idx, f"--vector={vec_arg}", "-k", "3"])
    lines = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    assert int(lines[0].split("\t")[0]) == probe  # self shares every code
    d = [float(l.split("\t")[1]) for l in lines]
    assert d == sorted(d)

    def status(*extra):
        cli.main(["ann-status", "--index", idx, *extra])
        return dict(l.split("\t") for l in capsys.readouterr().out.splitlines()
                    if "\t" in l)

    s = status()
    assert s["kind"] == "ivfpq" and s["generation"] == "0"
    assert s["base_rows"] == "60"
    assert "built_coarse_err" in s and "built_pq_err" in s
    assert "served_rows" not in s  # corpus-scale count is opt-in

    # a streamed increment shows up in the census + tail ratio + --exact
    StreamingAnnIngest(spark, idx).process_batch(
        _vec_df(spark, [900], [rng.normal(size=8)]), batch_id=0)
    s = status("--exact")
    assert s["live_increment_batches"] == "1" and s["live_increment_rows"] == "1"
    assert s["tail_base_ratio"] == f"{1 / 60:.4f}"
    assert s["served_rows"] == "61"

    # the streamed vector serves through ann-query immediately
    # (--n-probe 4 = all cells: whether a 2-cell probe covers id 900's
    # home cell depends on the trained centroids, not the contract)
    cli.main(["ann-query", "--index", idx, f"--vector={vec_arg}", "-k", "61",
              "--n-probe", "4"])
    served_ids = {int(l.split("\t")[0]) for l in
                  capsys.readouterr().out.splitlines() if "\t" in l}
    assert 900 in served_ids

    # monitor: same corpus + tail id → healthy, both ratios reported
    full = tmp_path / "full"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)]
        + [(900, [float(x) for x in rng.normal(size=8)])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(full))
    cli.main(["reindex-ann", "--index", idx, "--input", str(full)])
    out = capsys.readouterr().out
    assert "action\thealthy" in out
    assert "coarse_drift_ratio" in out and "pq_drift_ratio" in out

    # --fold bounds the tail without retraining
    cli.main(["reindex-ann", "--index", idx, "--fold"])
    out = capsys.readouterr().out
    assert "action\tfolded" in out and "generation\t1" in out
    s = status()
    assert s["generation"] == "1" and s["live_increment_batches"] == "0"
    assert s["base_rows"] == "61"

    # forced rebuild swaps to the next generation with fresh baselines
    cli.main(["reindex-ann", "--index", idx, "--input", str(full), "--force"])
    out = capsys.readouterr().out
    assert "action\trebuilt" in out and "generation\t2" in out
    assert status()["generation"] == "2"


def test_fixture_index_rebuilds_a_build_that_never_committed(spark, sf_oracle):
    """The catalog's build-once index cache trusts an index only once
    its manifest, the commit marker every build writes last, exists. A
    cached ivfpq index whose build died after the codes pass (no
    members, no manifest) is rebuilt by the next query instead of
    serving a partial members table, and ivfpq_rerank still matches its
    oracle."""
    from flink_ms_spark import fsutil
    from flink_ms_spark.operators.similarity import INDEX_MANIFEST
    from flink_ms_spark.plans.catalog import ORACLE_SQL, QUERIES
    from flink_ms_spark.plans.mixing import _ivfpq_index
    from tests.oracle_harness import compare

    idx = _ivfpq_index(spark, sf_oracle)
    fsutil.delete(spark, os.path.join(idx, INDEX_MANIFEST))
    shutil.rmtree(os.path.join(idx, "members"))

    assert _ivfpq_index(spark, sf_oracle) == idx
    assert os.path.exists(os.path.join(idx, INDEX_MANIFEST))
    assert os.path.isdir(os.path.join(idx, "members", "gen=0"))
    ok, msg = compare(QUERIES["ivfpq_rerank"](spark, sf_oracle),
                      ORACLE_SQL["ivfpq_rerank"](), sf_oracle)
    assert ok, msg
