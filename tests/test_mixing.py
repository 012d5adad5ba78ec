"""Property pins for the mixing/sampling/clustering family — the
semantics the oracle hash can't see: budget conservation, permutation
validity, plan shape (no single-partition global sort), and ANN
recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_ms_spark.operators.mixing import (
    dsir_weights,
    interleave_sources,
    quality_curriculum,
    seeded_shuffle,
    temperature_mix,
    unimax_alloc,
)
from flink_ms_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_unimax_budget_conservation(docs):
    rows = unimax_alloc(docs, budget_frac=0.5, max_epochs=2).collect()
    total_tokens = sum(r.n_tokens for r in rows)
    budget = round(total_tokens * 0.5)
    allocated = sum(r.alloc_tokens for r in rows)
    # waterfill spends the whole budget unless every language hit its cap
    assert allocated == pytest.approx(min(budget, sum(r.cap_tokens for r in rows)), rel=1e-9)
    for r in rows:
        assert r.alloc_tokens <= r.cap_tokens + 1e-9
        assert r.epochs <= 2.0 + 1e-9


def test_unimax_tiny_budget_is_uniform(spark):
    # budget so small nobody hits the epoch cap → exact equal split
    df = spark.createDataFrame(
        [(f"l{i}", "w " * (10 * (i + 1))) for i in range(4)], ["lang", "text"]
    )
    rows = unimax_alloc(df, budget_frac=0.1, max_epochs=1).collect()
    allocs = {r.alloc_tokens for r in rows}
    assert len(allocs) == 1  # uniform level, no language exhausted


def test_temperature_mix_shares(docs):
    rows = temperature_mix(docs, temperature=3.0).collect()
    assert sum(r.temp_share for r in rows) == pytest.approx(1.0, abs=1e-4)
    # temperature flattens: rarest language is boosted, biggest damped
    lo = min(rows, key=lambda r: r.n_tokens)
    hi = max(rows, key=lambda r: r.n_tokens)
    assert lo.boost > 1.0 > hi.boost


def test_seeded_shuffle_permutation_and_seed_sensitivity(docs):
    n = docs.count()
    a = seeded_shuffle(docs, seed="epoch0")
    pos = [r.pos for r in a.collect()]
    assert sorted(pos) == list(range(1, n + 1))
    b = dict(seeded_shuffle(docs, seed="epoch1").collect())
    a_map = dict(a.collect())
    assert any(a_map[k] != b[k] for k in a_map)  # new seed ⇒ new order


def test_interleave_round_robin_prefix(docs):
    out = interleave_sources(docs).orderBy("pos").collect()
    n_sources = docs.select("source").distinct().count()
    # the first |sources| slots each come from a distinct source
    head = [r.source for r in out[:n_sources]]
    assert len(set(head)) == n_sources
    assert sorted(r.pos for r in out) == list(range(1, len(out) + 1))


def test_curriculum_phases_cover_and_order(docs):
    out = quality_curriculum(docs, n_phases=3).collect()
    phases = {r.phase for r in out}
    assert phases == {1, 2, 3}
    # phase must be monotone along the (score, doc_id) ordering
    ordered = sorted(out, key=lambda r: (r.score, r.doc_id))
    seq = [r.phase for r in ordered]
    assert seq == sorted(seq)


def test_no_single_partition_window_in_epoch_orders(docs):
    # the bucketed two-phase rank must not plan a global unpartitioned
    # sort over the corpus: every Window in the physical plan keys on
    # the bucket column (the offsets table's tiny window is whitelisted
    # by its input being an Aggregate of ≤ |buckets| rows)
    plan = seeded_shuffle(docs)._jdf.queryExecution().executedPlan().toString()
    # corpus-side window is partitioned by _bkt
    assert "partitionBy" not in plan or "_bkt" in plan


def test_dsir_targets_score_higher(docs):
    rows = dsir_weights(docs, target_source="src0").collect()
    srcs = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    in_t = [r.logw for r in rows if srcs[r.doc_id] == "src0"]
    out_t = [r.logw for r in rows if srcs[r.doc_id] != "src0"]
    assert in_t and out_t
    assert np.mean(in_t) > np.mean(out_t)


def test_knn_classify_beats_chance(emb):
    from flink_ms_spark.operators.similarity import knn_classify

    rows = knn_classify(emb, k=5, every=10).collect()
    n_q = emb.where(F.col("vec_id") % 10 == 0).count()
    assert len(rows) == n_q
    acc = sum(r.correct for r in rows) / len(rows)
    n_labels = emb.select("label").distinct().count()
    assert acc > 1.0 / n_labels  # majority vote beats the class prior


def test_ivf_pq_recall_vs_exact(emb):
    from flink_ms_spark.operators.similarity import (
        codebook_from_parquet,
        ivf_pq_topk,
        pq_codebooks_from_parquet,
    )

    centers = codebook_from_parquet(SF, n_cells=8, seed=42)
    cb = pq_codebooks_from_parquet(SF, n_subspaces=16, n_codes=32, seed=42)
    got = ivf_pq_topk(emb, centers, cb, k=5, n_probe=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.a, set()).add(r.b)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    m = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    d2 = ((m[:, None, :] - m[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    hits = total = 0
    for qi, q in enumerate(ids):
        exact = set(ids[np.argsort(d2[qi], kind="stable")[:5]])
        hits += len(exact & by_q.get(q, set()))
        total += 5
    # random synthetic vectors are near-equidistant in 64-d — the
    # hardest case for PQ distortion; 0.3 pins "far better than the
    # 1% chance floor" without overfitting the fixture
    assert hits / total > 0.30  # IVF(2-probe)+16×32-PQ recall@5 floor


def test_kmeans_profile_partitions_corpus(emb):
    from flink_ms_spark.operators.similarity import (
        codebook_from_parquet,
        kmeans_cluster_profile,
    )

    cb = codebook_from_parquet(SF, n_cells=8, seed=42)
    rows = kmeans_cluster_profile(emb, cb).collect()
    assert sum(r.n for r in rows) == emb.count()
    for r in rows:
        assert 0.0 < r.label_share <= 1.0
        assert r.sse >= 0.0


def test_bpe_local_learner_matches_distributed(spark, docs):
    """The driver-side merge learner (serving artifact) must be
    bit-identical to the distributed bpe_merges trainer."""
    from flink_ms_spark.operators.text import bpe_merges, learn_bpe_merges_local

    # local_threshold=0 forces the distributed round loop — the point
    # is pinning IT against the Python kernel the fast path uses
    dist = [(r.left, r.right)
            for r in bpe_merges(docs, n_merges=6, local_threshold=0).collect()]
    local = learn_bpe_merges_local(SF, n_merges=6)
    assert dist == local


def test_bpe_encode_stats_invariants(spark, docs):
    from flink_ms_spark.operators.text import (
        bpe_encode_stats,
        learn_bpe_merges_local,
    )

    merges = learn_bpe_merges_local(SF, n_merges=8)
    rows = bpe_encode_stats(docs, merges).collect()
    assert len(rows) == docs.count()
    for r in rows:
        # merges only ever shrink a word's symbol count, and a word
        # has ≥ 1 symbol
        assert r.n_words <= r.n_bpe
        assert r.bpe_per_word >= 1.0


def test_dsir_sample_budget_and_order(spark, docs):
    from flink_ms_spark.plans.catalog import QUERIES

    rows = QUERIES["dsir_sample"](spark, SF).collect()
    total = sum(r.n_tokens for r in rows)
    kept = [r for r in rows if r.keep]
    assert sum(r.n_tokens for r in kept) <= round(total * 0.3)
    # kept set is exactly a prefix of the (logw desc, doc_id) order
    worst_kept = min((r.logw, -r.doc_id) for r in kept)
    dropped_better = [
        r for r in rows
        if not r.keep and (r.logw, -r.doc_id) > worst_kept
        and sum(k.n_tokens for k in kept) + r.n_tokens <= round(total * 0.3)
    ]
    assert not dropped_better


def test_cluster_balanced_sample_caps_cells(spark, emb):
    from flink_ms_spark.plans.catalog import QUERIES

    rows = QUERIES["cluster_balanced_sample"](spark, SF).collect()
    per_cell = {}
    for r in rows:
        if r.kept:
            per_cell[r.cell] = per_cell.get(r.cell, 0) + 1
    assert per_cell and all(n <= 150 for n in per_cell.values())


def test_ppm_round_trip_real_decode(spark, docs):
    from flink_ms_spark.operators.multimodal import (
        decode_ppm,
        ppm_pixel_stats,
        synthesize_ppm_media,
    )

    media = synthesize_ppm_media(docs.limit(5))
    rows = media.collect()
    for r in rows:
        w, h, px = decode_ppm(bytes(r.payload))
        assert (w, h) == (8, 8) and px.shape == (8, 8, 3)
    stats = ppm_pixel_stats(media).collect()
    assert len(stats) == 5
    for s in stats:
        assert 0.0 <= s.mean_gray <= 255.0
        # gray mean is the mean of the channel means by construction
        assert s.mean_gray == pytest.approx(
            (s.mean_r + s.mean_g + s.mean_b) / 3, abs=1e-5
        )


def test_png_stdlib_decoder_all_filters():
    """decode_png must invert every PNG scanline filter. Build raw
    filtered scanlines BY HAND (per the PNG spec's filter math) and
    check the decoder reconstructs the reference pixels."""
    import struct
    import zlib

    import numpy as np

    from flink_ms_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    h, w = px.shape[:2]
    stride, bpp = w * 3, 3

    def filt(row: bytes, prev: bytes, ftype: int) -> bytes:
        out = bytearray()
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((row[x] - pred) & 0xFF)
        return bytes(out)

    raw = bytearray()
    prev = bytes(stride)
    for r in range(h):
        ftype = r % 5  # exercise None, Sub, Up, Average, Paeth
        row = px[r].tobytes()
        raw += bytes([ftype]) + filt(row, prev, ftype)
        prev = row

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(bytes(raw)))
               + chunk(b"IEND", b""))
    dw, dh, dec = decode_png(payload)
    assert (dw, dh) == (w, h)
    assert np.array_equal(dec, px)


def test_png_encode_decode_round_trip_and_rejections():
    import numpy as np
    import pytest as _pytest

    from flink_ms_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    payload = encode_png(px)
    w, h, back = decode_png(payload)
    assert (w, h) == (8, 8) and np.array_equal(back, px)
    # signature routing
    assert np.array_equal(decode_image(payload)[2], px)
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNK")
    with _pytest.raises(ValueError, match="unsupported image payload"):
        decode_image(b"\xff\xd8jpeg-ish")


def test_bucketed_global_rank_equals_window_rank(spark):
    """The two-phase bucketed rank must reproduce row_number() OVER
    (ORDER BY …) exactly — including ties broken by the tiebreak column
    and descending orders — and its ntile derivation must match ANSI
    NTILE for every bucket-count/total combination on the fixture."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.mixing import bucketed_global_rank

    rng = random.Random(3)
    rows = [(i, rng.randint(0, 50) / 2.0) for i in range(997)]
    df = spark.createDataFrame(rows, "id LONG, v DOUBLE")

    w = Window.partitionBy().orderBy(F.col("v").desc(), F.col("id").asc())
    want = {
        r.id: r.pos
        for r in df.withColumn("pos", F.row_number().over(w)).collect()
    }
    got_df = bucketed_global_rank(
        df,
        bucket=(-F.floor("v")).cast("long"),
        order_cols=[F.col("v").desc(), F.col("id").asc()],
    )
    got = {r.id: r.pos for r in got_df.collect()}
    assert got == want

    from flink_ms_spark.operators.mixing import ntile_expr

    # 997 is prime: total mod n != 0 for every n here, so each case
    # exercises the front-loaded-tile boundary the naive even-spread
    # formula gets wrong
    for n in (2, 3, 4, 7, 10):
        wn = df.withColumn("t", F.ntile(n).over(w))
        want_t = {r.id: r.t for r in wn.collect()}
        got_t = {
            r.id: r.t
            for r in got_df.withColumn("t", ntile_expr(n)).collect()
        }
        assert got_t == want_t, f"ntile({n}) diverged"


def test_vocab_coverage_topk_is_take_ordered(spark):
    """The global top-100 vocab pick must be TakeOrderedAndProject
    (per-partition partial top-k), never a row_number window over the
    unpartitioned vocabulary table — vocab grows with the corpus."""
    from flink_ms_spark.plans.catalog import QUERIES

    plan = (
        QUERIES["vocab_coverage"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition" not in plan


def test_png_round_trip_property():
    """Property: encode→decode is the identity for any 8-bit RGB image
    shape (hypothesis over dims and pixel content)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_ms_spark.operators.multimodal import decode_png, encode_png

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=24),
        h=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, seed):
        px = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, 3), dtype=np.uint8
        )
        dw, dh, back = decode_png(encode_png(px))
        assert (dw, dh) == (w, h)
        assert np.array_equal(back, px)

    check()


def test_dedup_report_is_one_composed_cartesian_free_job(spark, docs):
    """The report must stay a single lazy plan (no driver actions
    inside the builder beyond the fixture load) whose only joins are
    one-row crossJoins of the aggregates — no CartesianProduct over
    data-scale inputs and no uncapped pair expansion node."""
    from flink_ms_spark.operators.dedup import lsh_pair_stats, minhash_signatures

    sigs = minhash_signatures(docs, num_hashes=4, shingle_n=1)
    stats = lsh_pair_stats(sigs, band_size=1, max_bucket_size=64)
    row = stats.collect()[0]
    assert row.n_neardup_pairs >= 0 and row.n_dropped_bucket_docs >= 0
    plan = stats._jdf.queryExecution().executedPlan().toString()
    # the two one-row aggregates meet in a broadcast nested loop of
    # single rows — cheap by construction; what must NOT appear is a
    # data-scale CartesianProduct
    assert "CartesianProduct" not in plan


def test_mixed_format_pixel_stats_format_independent(spark, docs):
    """PPM and PNG payloads of the same doc carry the same pixels, so
    pixel_stats over either format agrees row-for-row."""
    from flink_ms_spark.operators.multimodal import (
        pixel_stats,
        synthesize_png_media,
        synthesize_ppm_media,
    )

    sample = docs.limit(6)
    a = {r.media_id: (r.mean_r, r.mean_g, r.mean_b, r.mean_gray)
         for r in pixel_stats(synthesize_ppm_media(sample)).collect()}
    b = {r.media_id: (r.mean_r, r.mean_g, r.mean_b, r.mean_gray)
         for r in pixel_stats(synthesize_png_media(sample)).collect()}
    assert a == b and len(a) == 6


def test_lpa_communities_refine_connected_components(spark):
    from flink_ms_spark.operators.graph import lpa_communities

    # two disjoint cliques + a pendant: LPA must never merge across
    # components, and a clique converges to its min label
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3),      # clique A
         (10, 11), (10, 12), (11, 12),  # clique B
         (3, 4)],                     # pendant off A
        ["u", "v"],
    )
    got = {r.node: r.community for r in lpa_communities(edges, n_iters=3).collect()}
    comp_a = {got[n] for n in (1, 2, 3, 4)}
    comp_b = {got[n] for n in (10, 11, 12)}
    assert comp_a.isdisjoint(comp_b)
    assert got[10] == got[11] == got[12]  # clique B converges


def test_sq8_reconstruction_error_bounded(spark, emb):
    from flink_ms_spark.operators.similarity import sq8_stats

    rows = sq8_stats(emb).collect()
    assert len(rows) == emb.count()
    # SQ8 per-component error ≤ span/510 (half a code step); the MSE
    # bound follows from the largest observed span
    import numpy as np

    m = np.array([list(r.embedding) for r in emb.collect()], dtype=np.float64)
    spans = m.max(axis=0) - m.min(axis=0)
    worst = float(((spans / 510.0) ** 2).max())
    for r in rows:
        assert r.n_dims == m.shape[1]
        assert 0.0 <= r.recon_mse <= worst + 1e-9


def test_pca_scores_capture_variance_order(spark, emb):
    import numpy as np

    from flink_ms_spark.operators.similarity import pca_from_parquet, pca_scores

    mean, comps = pca_from_parquet(SF, k=3)
    rows = pca_scores(emb, mean, comps).collect()
    assert len(rows) == emb.count()
    pcs = np.array([[r.pc1, r.pc2, r.pc3] for r in rows])
    v = pcs.var(axis=0)
    # principal scores must come out in descending variance order and
    # be (near-)uncorrelated
    assert v[0] >= v[1] >= v[2] > 0
    c = np.corrcoef(pcs.T)
    assert abs(c[0, 1]) < 0.05 and abs(c[0, 2]) < 0.05


def test_data_constrained_mix_prefix_waterfill(spark, monkeypatch):
    """Hand-checked allocation: two sources, budget 51 of 30 raw
    tokens; candidates sorted by quality·0.5^(e-1) with source-asc
    tiebreak keep a:e1 (run 20), a:e2 (40), b:e1 (50) and nothing
    past the budget."""
    import flink_ms_spark.plans.curation  # noqa: F401 (registry import order)
    import flink_ms_spark.plans.mixing as mx
    from flink_ms_spark.plans.catalog import QUERIES

    rows = [
        (1, " ".join(["w"] * 10), "en", "a", 1),
        (2, " ".join(["x"] * 10), "en", "a", 1),
        (3, " ".join(["y"] * 5), "en", "b", 1),
        (4, " ".join(["z"] * 5), "en", "b", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n INT"
    )
    monkeypatch.setattr(mx, "load_table", lambda s, d, t: df)
    out = {r.source: r for r in QUERIES["data_constrained_mix"](spark, "x").collect()}
    a, b = out["a"], out["b"]
    assert (a.source_tokens, b.source_tokens) == (20, 10)
    assert (a.quality, b.quality) == (10.0, 5.0)
    assert (a.n_epochs, b.n_epochs) == (2, 1)
    assert (a.raw_used, b.raw_used) == (40, 10)
    assert a.effective_tokens == 30.0  # 20·(1 + 0.5)
    assert b.effective_tokens == 10.0


def test_snapshot_incremental_dedup_tiers(spark, monkeypatch):
    """doc_id%3==0 is the new snapshot: doc 0 collides with standing
    doc 1 (cross tier), docs 3 and 6 collide with each other only
    (intra tier keeps the min id)."""
    import flink_ms_spark.plans.curation as cu
    from flink_ms_spark.plans.catalog import QUERIES

    rows = [
        (0, "shared old text", "s"),   # new, dup of standing doc 1
        (1, "shared old text", "s"),   # standing
        (2, "unique standing", "s"),   # standing
        (3, "fresh pair", "s"),        # new, canonical of intra pair
        (6, "fresh pair", "s"),        # new, intra-dropped
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    monkeypatch.setattr(cu, "load_table", lambda s, d, t: df)
    out = QUERIES["snapshot_incremental_dedup"](spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_new == 3
    assert r.n_cross_dropped == 1
    assert r.n_intra_dropped == 1
    assert r.n_kept == 1
    assert r.kept_rate == 0.333333


def test_data_constrained_mix_budget_conserved(spark, sf_smoke):
    """Fixture-level invariants: total raw tokens consumed never
    exceeds the 1.7x budget, epochs are within [0, 4], and
    effective <= raw per source (decay < 1)."""
    from flink_ms_spark.plans.catalog import QUERIES

    rows = QUERIES["data_constrained_mix"](spark, sf_smoke).collect()
    assert rows
    total = sum(r.source_tokens for r in rows)
    budget = total * 17 // 10
    assert sum(r.raw_used or 0 for r in rows) <= budget
    for r in rows:
        assert 0 <= r.n_epochs <= 4
        assert (r.raw_used or 0) == r.n_epochs * r.source_tokens
        assert r.effective_tokens <= (r.raw_used or 0) + 1e-6


def test_data_constrained_mix_budget_exact_past_int64_overflow(spark):
    """ADVICE r8: the budget multiply runs on DECIMAL(38,0) so Spark
    matches DuckDB's HUGEINT promotion — in int64, t_all * 17 wraps
    negative past t_all ~ 5.4e17 and the kept set collapses to empty.
    Pin the decimal expression against Python bigint math in the
    overflow regime."""
    from pyspark.sql import functions as F

    from flink_ms_spark.plans.mixing import _DCM_EPOCHS

    t_all = 6 * 10**17  # int64 t_all * 17 = 1.02e19 > 2^63-1
    df = spark.createDataFrame([(t_all,)], "t_all long")
    budget = df.select(
        F.expr(
            f"cast(t_all as decimal(38,0)) * 17 div ({_DCM_EPOCHS} * 10)"
        ).alias("b")
    ).first().b
    assert int(budget) == (t_all * 17) // (_DCM_EPOCHS * 10)
    assert int(budget) > 0  # the int64 wrap would have gone negative


def test_lpa_hub_salting_exact_parity_on_skewed_graph(spark):
    """VERDICT r8 task 5: the per-node hub-segmentation path must be
    label-exact vs the unsegmented layout. A star hub (degree 40) plus
    two dense communities, segment size forced low so every node above
    3 neighbors splits; plus seeded random graphs for breadth."""
    import random

    from flink_ms_spark.operators.graph import lpa_communities

    def run(edge_rows, **kw):
        e = spark.createDataFrame(edge_rows, "u long, v long")
        return {
            r.node: r.community
            for r in lpa_communities(e, n_iters=3, **kw).collect()
        }

    hub = [(0, v) for v in range(1, 41)]  # hub 0, degree 40
    ca = [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    cb = [(200 + i, 200 + j) for i in range(4) for j in range(i + 1, 4)]
    bridges = [(1, 100), (2, 200)]
    edges = hub + ca + cb + bridges

    plain = run(edges, hub_segment_size=None)  # unsegmented plan shape
    salted = run(edges, hub_segment_size=3)    # every node >3 nbrs splits
    assert salted == plain
    assert run(edges) == plain  # default: guard on, no node splits here

    rng = random.Random(9)
    for _ in range(3):
        n = 30
        rnd = sorted(
            {
                (u, v)
                for u, v in (
                    sorted(rng.sample(range(n), 2)) for _ in range(80)
                )
            }
        )
        assert run(rnd, hub_segment_size=2) == run(rnd, hub_segment_size=None)
