"""ANN index lifecycle coherence: reindex vs streaming increments.

The failure class under test: ``reindex`` swaps in NEW codebooks
while ``StreamingAnnIngest`` increments encoded under the OLD ones
exist (or keep arriving from a stale worker). Mixed-generation codes
served through ADC produce plausible-looking wrong neighbors — so the
contract is: no served id may be lost by a swap (anti-join coverage
gate), stale workers fail LOUD (generation check per batch), and the
merged reader never serves a mismatched-generation increment
(partition-pruned gen filter). Plus the IVF coarse-quantizer health
loop, which shares the same generation-stamp machinery.
"""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F


def _vec_df(spark, ids, vecs):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


@pytest.fixture
def pq_index(spark, tmp_path):
    """A generation-0 PQ index over 30 base vectors, with a recorded
    drift baseline, plus one landed streaming increment batch of 10
    NEW ids (100..109) — the exact state a reindex must not corrupt."""
    from flink_ms_spark.operators.similarity import build_index
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(7)
    base_vecs = rng.normal(size=(30, 8))
    inc_vecs = rng.normal(size=(10, 8))
    idx = str(tmp_path / "idx")
    base = _vec_df(spark, range(30), base_vecs)
    build_index(base, idx, kind="pq", n_subspaces=4, n_codes=8, record_stats=True)
    ingest = StreamingAnnIngest(spark, idx)
    ingest.process_batch(_vec_df(spark, range(100, 110), inc_vecs), batch_id=0)
    return idx, base_vecs, inc_vecs, ingest


def test_reindex_folds_covered_increments_without_loss(spark, tmp_path, pq_index):
    """Rebuild input covering every served id: the swap re-lands the
    increment-only ids from their fresh vectors — nothing vanishes
    from serving, the generation bumps, and the new index starts with
    no increments directory."""
    from flink_ms_spark.operators.similarity import (
        read_index_manifest,
        reindex,
        served_view,
    )

    idx, base_vecs, inc_vecs, _ = pq_index
    before = {r.vec_id for r in served_view(spark, idx, "codes").collect()}
    assert before == set(range(30)) | set(range(100, 110))

    full = _vec_df(
        spark,
        list(range(30)) + list(range(100, 110)),
        list(base_vecs) + list(inc_vecs),
    )
    report = reindex(spark, idx, full, force=True)
    assert report["action"] == "rebuilt"
    assert report["dropped_ids"] == 0
    assert report["generation"] == 1
    assert read_index_manifest(spark, idx) == {"kind": "pq", "generation": 1}

    after = {r.vec_id for r in served_view(spark, idx, "codes").collect()}
    assert after == before, "the swap lost served ids"
    # the increments were FOLDED into the base: no increment partitions
    import os

    assert not os.path.isdir(os.path.join(idx, "codes_increments"))


def test_reindex_refuses_rebuild_input_missing_served_ids(spark, tmp_path, pq_index):
    """Rebuild input that lacks the increment-only ids: refuse loudly
    and leave the serving index untouched; allow_missing=True is the
    deliberate-shrink path and reports the drop count."""
    from flink_ms_spark.operators.similarity import (
        read_index_manifest,
        reindex,
        served_view,
    )

    idx, base_vecs, _, _ = pq_index
    base_only = _vec_df(spark, range(30), base_vecs)

    with pytest.raises(ValueError, match="10 served id"):
        reindex(spark, idx, base_only, force=True)
    # refused = untouched: generation 0, all 40 ids still served
    assert read_index_manifest(spark, idx)["generation"] == 0
    assert served_view(spark, idx, "codes").count() == 40

    report = reindex(spark, idx, base_only, force=True, allow_missing=True)
    assert report["action"] == "rebuilt"
    assert report["dropped_ids"] == 10  # visible, never silent
    assert served_view(spark, idx, "codes").count() == 30


def test_stale_worker_fails_loud_after_swap(spark, tmp_path, pq_index):
    """A StreamingAnnIngest constructed before a reindex holds the OLD
    codebooks; its next batch must raise (generation mismatch), not
    encode old-generation codes into the new index's increments."""
    from flink_ms_spark.operators.similarity import reindex, served_view
    from flink_ms_spark.streaming.ann_ingest import StaleIndexGenerationError

    idx, base_vecs, inc_vecs, stale_worker = pq_index
    full = _vec_df(
        spark,
        list(range(30)) + list(range(100, 110)),
        list(base_vecs) + list(inc_vecs),
    )
    reindex(spark, idx, full, force=True)

    rng = np.random.default_rng(13)
    with pytest.raises(StaleIndexGenerationError, match="generation 1"):
        stale_worker.process_batch(
            _vec_df(spark, [200], rng.normal(size=(1, 8))), batch_id=1
        )
    # nothing landed: the new index still serves exactly the folded set
    assert served_view(spark, idx, "codes").count() == 40


def test_load_codes_never_serves_mismatched_generation_increments(
    spark, tmp_path, pq_index
):
    """Defense in depth for the one unguarded race (worker passes the
    generation check, swap happens, worker's write lands anyway): a
    gen-stamped increment partition whose generation doesn't match the
    manifest is partition-pruned at read, never served as
    mixed-generation distances."""
    from flink_ms_spark.operators.similarity import pq_encode, reindex, served_view
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    idx, base_vecs, inc_vecs, stale_worker = pq_index
    full = _vec_df(
        spark,
        list(range(30)) + list(range(100, 110)),
        list(base_vecs) + list(inc_vecs),
    )
    reindex(spark, idx, full, force=True)

    # simulate the race: old-generation codes written into the NEW
    # index (what the stale worker would have landed had it won)
    rng = np.random.default_rng(29)
    ghost = pq_encode(_vec_df(spark, [300], rng.normal(size=(1, 8))),
                      stale_worker.artifacts["codebooks"])
    ghost.write.mode("overwrite").parquet(
        f"{idx}/codes_increments/gen=0/batch_id=99"
    )
    served = served_view(spark, idx, "codes")
    assert served.where(F.col("vec_id") == 300).count() == 0

    # a CURRENT-generation worker's increments are served as before
    fresh = StreamingAnnIngest(spark, idx)
    assert fresh.generation == 1
    fresh.process_batch(_vec_df(spark, [301], rng.normal(size=(1, 8))), batch_id=0)
    served = served_view(spark, idx, "codes")
    assert served.where(F.col("vec_id") == 301).count() == 1
    assert served.where(F.col("vec_id") == 300).count() == 0
    assert served.count() == 41


def test_reindex_coverage_gate_also_guards_base_only_indexes(spark, tmp_path):
    """The gate must not depend on an increments dir existing: a fresh
    index rebuilt from an input that lost base ids (bad upstream
    filter) is the same silent-shrink class — refuse, and report the
    drop only under allow_missing."""
    from flink_ms_spark.operators.similarity import build_index, reindex, served_view

    rng = np.random.default_rng(19)
    vecs = rng.normal(size=(30, 8))
    idx = str(tmp_path / "idx")
    build_index(_vec_df(spark, range(30), vecs), idx, kind="pq",
                n_subspaces=4, n_codes=8, record_stats=True)

    truncated = _vec_df(spark, range(24), vecs[:24])  # lost 6 base ids
    with pytest.raises(ValueError, match="6 served id"):
        reindex(spark, idx, truncated, force=True)
    assert served_view(spark, idx, "codes").count() == 30, "refusal must not touch serving"

    report = reindex(spark, idx, truncated, force=True, allow_missing=True)
    assert report["dropped_ids"] == 6
    assert served_view(spark, idx, "codes").count() == 24


def test_manifestless_directory_raises_on_query_status_and_ingest(
    spark, tmp_path, capsys
):
    """Every writer commits an index by writing its manifest LAST, so a
    directory without one is not an index (or an incomplete build):
    serving, ann-status and ingest all refuse it loudly instead of
    guessing a kind from the layout."""
    import os

    from flink_ms_spark import cli
    from flink_ms_spark.operators.similarity import build_index, pq_index_topk
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(37)
    vecs = rng.normal(size=(16, 8))
    idx = str(tmp_path / "idx")
    df = _vec_df(spark, range(16), vecs)
    build_index(df, idx, kind="pq", n_subspaces=4, n_codes=8)
    os.unlink(os.path.join(idx, "index_manifest.json"))  # the build "died"

    with pytest.raises(IOError, match="not an index or incomplete build"):
        pq_index_topk(spark, idx, df, k=3)
    with pytest.raises(IOError, match="not an index or incomplete build"):
        cli.main(["ann-status", "--index", idx])
    with pytest.raises(IOError, match="not an index or incomplete build"):
        StreamingAnnIngest(spark, idx)


class _RacingIngest:
    """Factory for a StreamingAnnIngest whose FIRST landed increment is
    immediately followed by a reindex swap — the write has landed but
    the batch is not yet committed, the exact post-check window."""

    def __new__(cls, spark, idx, reindex_input):
        from flink_ms_spark.operators.similarity import reindex
        from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

        class Racing(StreamingAnnIngest):
            _raced = False

            def _land_increment(self, codes, out):
                super()._land_increment(codes, out)
                if not Racing._raced:
                    Racing._raced = True
                    # the realistic race: the reindex snapshot was taken
                    # before this batch arrived, so its ids are missing
                    # from the rebuild input (allow_missing documents
                    # the drop — the post-write check is what recovers
                    # the batch)
                    reindex(self.spark, idx, reindex_input,
                            force=True, allow_missing=True)

        return Racing(spark, idx)


def test_post_write_generation_race_raises_not_commits(spark, tmp_path, pq_index):
    """A reindex completing between the pre-check and the increment
    write landing must raise AFTER the write too: the landed partition
    is generation-pruned (unservable), and committing the batch would
    silently drop its vectors from serving until a resend."""
    from flink_ms_spark.operators.similarity import served_view
    from flink_ms_spark.streaming.ann_ingest import (
        StaleIndexGenerationError,
        StreamingAnnIngest,
    )

    idx, base_vecs, inc_vecs, _ = pq_index
    full = _vec_df(
        spark,
        list(range(30)) + list(range(100, 110)),
        list(base_vecs) + list(inc_vecs),
    )
    worker = _RacingIngest(spark, idx, full)
    rng = np.random.default_rng(41)
    new_vec = rng.normal(size=(1, 8))
    with pytest.raises(StaleIndexGenerationError, match="while batch 7 was landing"):
        worker.process_batch(_vec_df(spark, [700], new_vec), batch_id=7)
    # the stale-gen debris is never served...
    assert served_view(spark, idx, "codes").where(F.col("vec_id") == 700).count() == 0
    # ...and the REPLAY (what the uncommitted sink does on restart,
    # here a reloaded worker) re-lands the batch under the new
    # generation: no vector lost
    worker.reload()
    assert worker.generation == 1
    worker.process_batch(_vec_df(spark, [700], new_vec), batch_id=7)
    assert served_view(spark, idx, "codes").where(F.col("vec_id") == 700).count() == 1


def test_run_recovers_ingest_across_reindex_without_reconstruction(
    spark, tmp_path, pq_index
):
    """The streaming lane survives a reindex in place: a batch that
    trips the generation check (pre- OR post-write) is re-encoded once
    under freshly reloaded codebooks — the stream completes, the vector
    serves at the new generation, and nobody reconstructs the worker by
    hand."""
    import json

    from flink_ms_spark.operators.similarity import served_view

    idx, base_vecs, inc_vecs, _ = pq_index
    full = _vec_df(
        spark,
        list(range(30)) + list(range(100, 110)),
        list(base_vecs) + list(inc_vecs),
    )
    worker = _RacingIngest(spark, idx, full)
    assert worker.generation == 0

    rng = np.random.default_rng(43)
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "batch.jsonl", "w") as f:
        f.write(json.dumps(
            {"vec_id": 800, "embedding": [float(x) for x in rng.normal(size=8)]}
        ) + "\n")
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).json(str(src))
    worker.run(stream, str(tmp_path / "ckpt")).awaitTermination()

    assert worker.generation == 1  # reloaded in place, same object
    served = served_view(spark, idx, "codes")
    assert served.where(F.col("vec_id") == 800).count() == 1


def test_pq_serving_pair_fails_loud_when_generation_swapped_mid_serve(
    spark, tmp_path, pq_index
):
    """Swap coherence for the PQ base pair: codes are stamped
    codes/gen=G, so a serve that paired codebooks with generation G
    errors if the code read happens after a swap to G+1 — old books
    over new codes is the silent ADC-garbage mix."""
    from flink_ms_spark.operators.similarity import (
        load_index,
        reindex,
        served_view,
    )

    idx, base_vecs, inc_vecs, _ = pq_index
    _kind, arts, gen = load_index(spark, idx)
    codes = served_view(spark, idx, "codes", expected_generation=gen)
    assert gen == 0 and codes.count() == 40  # merged view: base+increment

    full = _vec_df(
        spark,
        list(range(30)) + list(range(100, 110)),
        list(base_vecs) + list(inc_vecs),
    )
    reindex(spark, idx, full, force=True)
    # generation-0 probe against the generation-1 index: loud, not a mix
    with pytest.raises(IOError, match="generation 0"):
        served_view(spark, idx, "codes", expected_generation=0).collect()
    _kind, arts, gen = load_index(spark, idx)
    codes = served_view(spark, idx, "codes", expected_generation=gen)
    assert gen == 1 and codes.count() == 40


def test_rebuild_intent_marker_blocks_ingest_commits(spark, tmp_path, pq_index):
    """The gate→swap no-loss argument: reindex creates <index>.rebuilding
    BEFORE its coverage gate, and a batch landing while it exists must
    NOT commit (raise → replay after the swap) — otherwise the batch
    would be silently discarded with the increments dir even though
    the checkpoint committed it. A refused rebuild clears the marker
    so ingest resumes."""
    import os

    from flink_ms_spark.operators.similarity import reindex, served_view
    from flink_ms_spark.streaming.ann_ingest import (
        StaleIndexGenerationError,
        StreamingAnnIngest,
    )

    idx, base_vecs, _, worker = pq_index
    os.makedirs(idx + ".rebuilding")  # a rebuild is in flight
    rng = np.random.default_rng(47)
    batch = _vec_df(spark, [600], rng.normal(size=(1, 8)))
    with pytest.raises(StaleIndexGenerationError, match="rebuild in progress"):
        worker.process_batch(batch, batch_id=3)

    # a REFUSED rebuild (gate failure) removes the marker: ingest resumes
    base_only = _vec_df(spark, range(30), base_vecs)
    os.rmdir(idx + ".rebuilding")
    with pytest.raises(ValueError, match="served id"):
        reindex(spark, idx, base_only, force=True)
    assert not os.path.isdir(idx + ".rebuilding"), "refusal must clear marker"
    worker.process_batch(batch, batch_id=3)
    assert served_view(spark, idx, "codes").where(F.col("vec_id") == 600).count() == 1
    # and a fresh worker constructed mid-rebuild also refuses to commit
    os.makedirs(idx + ".rebuilding")
    fresh = StreamingAnnIngest(spark, idx)
    with pytest.raises(StaleIndexGenerationError, match="rebuild in progress"):
        fresh.process_batch(batch, batch_id=4)


def test_failed_swap_keeps_index_serving_and_ingest_blocked(
    spark, tmp_path, pq_index, monkeypatch
):
    """Hadoop rename reports failure by returning false. When the
    swap's first rename (live index aside) fails, reindex raises, the
    live index keeps serving at its generation, and the finished
    rebuild stays in <index>.rebuilding, so ingest refuses to commit
    until a re-run completes the swap."""
    import os

    from flink_ms_spark import fsutil
    from flink_ms_spark.operators.similarity import (
        read_index_manifest,
        reindex,
        served_view,
    )
    from flink_ms_spark.streaming.ann_ingest import StaleIndexGenerationError

    idx, base_vecs, inc_vecs, worker = pq_index
    full = _vec_df(
        spark,
        list(range(30)) + list(range(100, 110)),
        list(base_vecs) + list(inc_vecs),
    )
    monkeypatch.setattr(fsutil, "rename", lambda s, a, b: False)
    with pytest.raises(IOError, match="aside"):
        reindex(spark, idx, full, force=True)
    monkeypatch.undo()
    assert read_index_manifest(spark, idx)["generation"] == 0
    assert served_view(spark, idx, "codes").count() == 40
    assert os.path.isdir(idx + ".rebuilding")
    late = np.random.default_rng(53).normal(size=(1, 8))
    with pytest.raises(StaleIndexGenerationError, match="rebuild in progress"):
        worker.process_batch(_vec_df(spark, [650], late), batch_id=5)

    # the re-run's gate sees the refused batch's landed rows too
    full = full.unionByName(_vec_df(spark, [650], late))
    assert reindex(spark, idx, full, force=True)["generation"] == 1
    assert not os.path.isdir(idx + ".rebuilding")
    assert served_view(spark, idx, "codes").count() == 41


def test_ivf_query_topk_matches_brute_force_when_probing_all_cells(spark, tmp_path):
    """The point-lookup serve shape is exact within its probed cells:
    probing EVERY cell must reproduce brute-force cosine_topk row for
    row — the only approximation is the cell filter."""
    from flink_ms_spark.operators.similarity import (
        cosine_topk,
        ivf_query_topk,
        train_ivf_codebook,
    )

    rng = np.random.default_rng(53)
    vecs = rng.normal(size=(60, 8))
    corpus = _vec_df(spark, range(60), vecs)
    cents = train_ivf_codebook(corpus, n_cells=4)
    q = _vec_df(spark, [-1, -2], rng.normal(size=(2, 8)))

    got = sorted(
        map(tuple, ivf_query_topk(corpus, cents, q, k=3, n_probe=4).collect())
    )
    want = sorted(map(tuple, cosine_topk(corpus, k=3, queries=q).collect()))
    assert got == want


def test_ivf_query_topk_result_is_independent_of_batch_composition(spark):
    """Per-query probe contract: a query ranked in a batch sees ONLY
    its own n_probe cells, so its rows are identical to a single-query
    run even when a co-batched query probes extra cells that contain
    closer cosine neighbors."""
    from flink_ms_spark.operators.similarity import (
        _probe_cells,
        ivf_query_topk,
        train_ivf_codebook,
    )

    rng = np.random.default_rng(61)
    vecs = rng.normal(size=(80, 8))
    corpus = _vec_df(spark, range(80), vecs)
    cents = train_ivf_codebook(corpus, n_cells=4)
    # queries at two distinct centroids -> provably different probe sets
    q1v, q2v = cents[0] + 0.01, cents[-1] + 0.01
    mask = _probe_cells(np.array([q1v, q2v]), np.asarray(cents), 1)
    assert not (mask[0] == mask[1]).all(), "probe sets must differ"

    alone = sorted(
        map(tuple, ivf_query_topk(
            corpus, cents, _vec_df(spark, [-1], [q1v]), k=3, n_probe=1
        ).collect())
    )
    batched = sorted(
        map(tuple, ivf_query_topk(
            corpus, cents, _vec_df(spark, [-1, -2], [q1v, q2v]), k=3, n_probe=1
        ).where(F.col("a") == -1).collect())
    )
    assert alone == batched


def test_serve_kernels_handle_empty_query_frames(spark, tmp_path):
    """An empty query frame is a valid request with an empty typed
    answer in every broadcast-query serve kernel, never an
    (0,)-shape numpy crash."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        ivf_query_topk,
        load_artifact,
        pq_topk_codes,
        train_ivf_codebook,
    )

    rng = np.random.default_rng(67)
    vecs = rng.normal(size=(20, 8))
    corpus = _vec_df(spark, range(20), vecs)
    empty = corpus.where(F.lit(False))
    cents = train_ivf_codebook(corpus, n_cells=2)
    out = ivf_query_topk(corpus, cents, empty, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["a", "b", "cos_sim", "rk"]

    idx = str(tmp_path / "idx")
    build_index(corpus, idx, kind="pq", n_subspaces=4, n_codes=8)
    codes = spark.read.parquet(f"{idx}/codes/gen=0")
    out = pq_topk_codes(codes, load_artifact(spark, idx, "codebooks"), empty, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["a", "b", "ad2", "rk"]


def test_serve_kernels_refuse_corpus_scale_query_frames(spark, tmp_path):
    """The broadcast-query collect is capped: past max_queries the
    kernels raise a ValueError naming the report-shape alternative
    instead of pulling a corpus onto the driver."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        cosine_topk,
        ivf_query_topk,
        load_artifact,
        pq_topk_codes,
        train_ivf_codebook,
    )

    rng = np.random.default_rng(71)
    vecs = rng.normal(size=(30, 8))
    corpus = _vec_df(spark, range(30), vecs)
    with pytest.raises(ValueError, match="ivf_topk"):
        cosine_topk(corpus, k=3, max_queries=10)
    cents = train_ivf_codebook(corpus, n_cells=2)
    with pytest.raises(ValueError, match="ivf_kmeans_topk"):
        ivf_query_topk(corpus, cents, corpus, k=3, max_queries=10)
    idx = str(tmp_path / "idx")
    build_index(corpus, idx, kind="pq", n_subspaces=4, n_codes=8)
    codes = spark.read.parquet(f"{idx}/codes/gen=0")
    with pytest.raises(ValueError, match="ivf_pq_topk"):
        pq_topk_codes(codes, load_artifact(spark, idx, "codebooks"), corpus,
                      k=3, max_queries=10)
    # at or under the cap (and with the cap lifted) the kernels serve
    assert cosine_topk(corpus, k=1, max_queries=30).count() == 30
    assert cosine_topk(corpus, k=1, max_queries=None).count() == 30


def test_zero_error_baseline_reads_healthy_not_infinite_drift(spark, tmp_path):
    """A corpus with fewer distinct vectors than codes trains to
    EXACTLY zero quantization error; the monitor must read an
    unchanged corpus as healthy (cur 0 / built 0), not as infinite
    drift that rebuilds a perfect index on every pass."""
    from flink_ms_spark.operators.similarity import build_index, reindex

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(4, 8))  # 4 rows, 8 codes -> every row a centroid
    idx = str(tmp_path / "idx0")
    df = _vec_df(spark, range(4), vecs)
    build_index(df, idx, kind="pq", n_subspaces=4, n_codes=8, record_stats=True)
    built = json.loads((tmp_path / "idx0" / "stats.json").read_text())
    assert built["mean_sq_err"] == 0.0, "degenerate baseline precondition"

    report = reindex(spark, idx, df)
    assert report["action"] == "healthy"
    assert report["drift_ratio"] == 1.0


def test_ivf_reindex_drift_policy(spark, tmp_path):
    """The IVF coarse quantizer gets the same health loop as PQ:
    healthy on the training corpus, rebuild + swap + generation bump
    under distribution shift, stats-missing without a baseline, and
    the report carries the cell-balance scalars."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        ivf_assignment_stats,
        load_artifact,
        read_index_manifest,
        reindex,
    )

    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(80, 8))
    idx = str(tmp_path / "ivf")
    df = _vec_df(spark, range(80), vecs)
    cents = build_index(df, idx, kind="ivf", n_cells=4, record_stats=True)["centroids"]
    assert read_index_manifest(spark, idx) == {"kind": "ivf", "generation": 0}
    built = json.loads((tmp_path / "ivf" / "stats.json").read_text())
    assert built["n"] == 80 and built["n_cells"] == 4
    assert 0.25 <= built["max_cell_frac"] <= 1.0
    # the stats pass agrees with a direct recompute of the persisted artifact
    loaded = load_artifact(spark, idx, "centroids")
    assert np.allclose(loaded, cents)
    again = ivf_assignment_stats(df, loaded)
    assert abs(again["mean_sq_err"] - built["mean_sq_err"]) < 1e-9

    report = reindex(spark, idx, df)
    assert report["action"] == "healthy"
    assert abs(report["drift_ratio"] - 1.0) < 1e-9

    shifted = _vec_df(spark, range(80), 3.0 * vecs)
    report = reindex(spark, idx, shifted)
    assert report["action"] == "rebuilt"
    assert report["drift_ratio"] > 1.2
    assert report["rebuilt_err"] < report["current_err"]
    assert report["generation"] == 1
    assert 0.0 < report["rebuilt_max_cell_frac"] <= 1.0
    assert read_index_manifest(spark, idx)["generation"] == 1
    assert reindex(spark, idx, shifted)["action"] == "healthy"

    (tmp_path / "ivf" / "stats.json").unlink()
    assert reindex(spark, idx, shifted)["action"] == "stats-missing"
