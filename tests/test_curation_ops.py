"""Semantic invariants for the corpus-curation widening ops
(repetition filters, eval-set decontamination, domain mix) and the
broadcast plan shape of the decontamination join. Cross-engine value
parity is the driver's DuckDB gate; these pin the semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_ms_spark.plans.catalog import QUERIES


def test_repetition_fracs_bounded(spark, sf_smoke):
    rows = QUERIES["repetition_stats"](spark, sf_smoke).collect()
    assert rows, "no docs scored"
    for r in rows:
        assert 0.0 <= r.top_token_frac <= 1.0
        assert 0.0 <= r.dup_bigram_frac <= 1.0
        assert r.repetitive == (r.top_token_frac > 0.2 or r.dup_bigram_frac > 0.5)


def test_decontaminate_excludes_eval_docs(spark, sf_smoke):
    rows = QUERIES["decontaminate"](spark, sf_smoke).collect()
    assert rows, "no train docs scored"
    for r in rows:
        assert r.doc_id % 100 != 0, "eval doc leaked into scored set"
        assert 0 <= r.n_hit <= r.n_grams
        assert r.contaminated == (r.contamination >= 0.5)


def test_decontaminate_eval_join_is_broadcast(spark, sf_smoke):
    df = QUERIES["decontaminate"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_domain_mix_shares_and_weights(spark, sf_smoke):
    rows = QUERIES["domain_mix"](spark, sf_smoke).collect()
    assert rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    n_src = len(rows)
    for r in rows:
        # weight rebalances this source to a uniform 1/n_src share
        assert abs(r.weight * r.tokens * n_src - sum(x.tokens for x in rows)) / sum(
            x.tokens for x in rows
        ) < 1e-3


def test_customer_orders_dist_counts_all_customers(spark, sf_smoke):
    from flink_ms_spark.sources.tables import load_table

    dist = QUERIES["customer_orders_dist"](spark, sf_smoke)
    total = dist.agg(F.sum("custdist")).collect()[0][0]
    n_cust = load_table(spark, sf_smoke, "customer").count()
    assert total == n_cust, "distribution must partition the customer set"


def test_lm_score_rare_tokens_score_higher(spark, sf_smoke):
    rows = QUERIES["lm_score"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.avg_nll > 0.0, "NLL of any non-degenerate unigram model is positive"


def test_lev_neardup_verifies_candidates(spark, sf_smoke):
    rows = QUERIES["lev_neardup"](spark, sf_smoke).collect()
    for r in rows:
        assert r.a < r.b
        assert 0.0 <= r.rel_dist <= 0.4


def test_hyperplane_bucketing_is_jvm_side(spark, sf_smoke):
    # the bucketing stage must stay in codegen; only verify is Arrow
    from flink_ms_spark.operators.similarity import hyperplane_code, hyperplane_planes
    from flink_ms_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    coded = emb.select(hyperplane_code("embedding", hyperplane_planes(4, 64)).alias("c"))
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hyperplane_neardup_pairs_verified(spark, sf_smoke):
    from flink_ms_spark.plans.catalog import QUERIES as Q

    rows = Q["hyperplane_neardup"](spark, sf_smoke).collect()
    assert rows, "expected some near-dup pairs in the cosine>=0.4 tail"
    for r in rows:
        assert r.a < r.b and r.cos_sim >= 0.4


def test_winsorized_std_not_above_raw(spark, sf_smoke):
    from flink_ms_spark.plans.catalog import QUERIES as Q
    from flink_ms_spark.sources.tables import load_table

    w = {r.event_type: r for r in Q["winsorized_stats"](spark, sf_smoke).collect()}
    raw = {
        r.event_type: r.s
        for r in load_table(spark, sf_smoke, "events")
        .groupBy("event_type")
        .agg(F.stddev_samp("value").alias("s"))
        .collect()
    }
    assert w
    for t, r in w.items():
        assert r.w_std <= raw[t] + 1e-9, "clipping can only shrink dispersion"


def test_pq_topk_recall_beats_chance(spark, sf_oracle):
    import numpy as np

    from flink_ms_spark.plans.catalog import QUERIES as Q
    from flink_ms_spark.sources.tables import load_table

    rows = load_table(spark, sf_oracle, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    m = np.array([list(r[1]) for r in rows])
    d2 = ((m[:, None, :] - m[None, :, :]) ** 2).sum(2)
    np.fill_diagonal(d2, np.inf)
    exact = {ids[i]: set(ids[np.argsort(d2[i])[:5]]) for i in range(len(ids))}
    got: dict = {}
    out = Q["pq_topk"](spark, sf_oracle).collect()
    for r in out:
        got.setdefault(r.a, set()).add(r.b)
    assert len(out) == 5 * len(ids)
    recall = float(np.mean([len(got[i] & exact[i]) / 5 for i in exact]))
    # 0.444 measured; chance is 5/499 ≈ 0.01 — random vectors are the
    # PQ worst case (distance concentration), so 0.3 is a safe floor
    assert recall >= 0.3, f"recall@5 {recall}"


def test_pq_codes_compress_and_roundtrip(spark, sf_smoke):
    from flink_ms_spark.operators.similarity import pq_encode, train_pq_codebooks
    from flink_ms_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    cb = train_pq_codebooks(emb, n_subspaces=16, n_codes=32, seed=42)
    assert cb.shape == (16, 32, 4)
    codes = pq_encode(emb, cb).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r.code) == 16 and all(0 <= c < 32 for c in r.code)


def test_banded_range_join_no_nested_loop(spark, sf_smoke):
    # the whole point of the bucket rewrite: no BroadcastNestedLoopJoin
    from flink_ms_spark.plans.catalog import QUERIES as Q

    df = Q["preceding_5min_count"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    rows = df.collect()
    assert rows and all(r.n_preceding >= 0 for r in rows)


def test_banded_range_join_band_semantics(spark):
    from flink_ms_spark.operators.rangejoin import banded_range_join

    l = spark.createDataFrame([(1, 1000), (2, 2000)], ["lid", "l_ts"])
    r = spark.createDataFrame(
        [(10, 700), (11, 999), (12, 1000), (13, 1999), (14, 2000)], ["rid", "r_ts"]
    )
    got = {
        (x.lid, x.rid)
        for x in banded_range_join(
            l, r, "l_ts", "r_ts", lower=-300, upper=0
        ).collect()
    }
    # half-open [ts-300, ts): 700 and 999 for l=1000; 1999 (not 2000) for l=2000
    assert got == {(1, 10), (1, 11), (2, 13)}


def test_banded_range_join_left_semantics(spark):
    import pytest

    from flink_ms_spark.operators.rangejoin import banded_range_join

    l = spark.createDataFrame(
        [(1, 1000), (2, 2000), (3, 9_999_000)], ["lid", "l_ts"]
    )
    r = spark.createDataFrame(
        [(10, 700), (11, 999), (13, 1999)], ["rid", "r_ts"]
    )
    out = banded_range_join(
        l, r, "l_ts", "r_ts", lower=-300, upper=0, how="left",
        left_keys=["lid"],
    ).collect()
    # matched rows appear per match; unmatched left row 3 exactly once,
    # null-extended on the right columns
    got = {(x.lid, x.rid) for x in out}
    assert got == {(1, 10), (1, 11), (2, 13), (3, None)}
    assert len(out) == 4
    # guard rails
    with pytest.raises(ValueError):
        banded_range_join(l, r, "l_ts", "r_ts", -300, 0, how="left")
    with pytest.raises(NotImplementedError):
        banded_range_join(l, r, "l_ts", "r_ts", -300, 0, how="full")

    # validate_keys (ADVICE r5): duplicate left_keys silently drop the
    # non-matching duplicate — lid=1 at ts 1000 matches, its duplicate
    # at ts 9_999_000 does not, and the anti-join complement loses it
    dup = spark.createDataFrame([(1, 1000), (1, 9_999_000)], ["lid", "l_ts"])
    silent = banded_range_join(
        dup, r, "l_ts", "r_ts", -300, 0, how="left", left_keys=["lid"]
    ).collect()
    assert {(x.lid, x.rid) for x in silent} == {(1, 10), (1, 11)}  # row lost
    with pytest.raises(ValueError, match="unique left_keys"):
        banded_range_join(
            dup, r, "l_ts", "r_ts", -300, 0, how="left",
            left_keys=["lid"], validate_keys=True,
        )
    # a NULL left key is a distinct hazard (never equi-matches), and
    # count(DISTINCT) ignores NULLs — it must be reported as NULL keys,
    # not mislabeled as duplicates (ADVICE r6)
    nul = spark.createDataFrame(
        [(None, 1000), (2, 2000)], "lid INT, l_ts LONG"
    )
    with pytest.raises(ValueError, match="NULL"):
        banded_range_join(
            nul, r, "l_ts", "r_ts", -300, 0, how="left",
            left_keys=["lid"], validate_keys=True,
        )
    # unique keys pass validation with identical output
    ok = banded_range_join(
        l, r, "l_ts", "r_ts", -300, 0, how="left",
        left_keys=["lid"], validate_keys=True,
    ).collect()
    assert {(x.lid, x.rid) for x in ok} == got


def test_compression_ratio_bounds_and_monotonicity(spark, sf_smoke):
    from flink_ms_spark.plans.catalog import QUERIES as Q

    rows = Q["compression_ratio"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.zlib_ratio <= 1.5  # tiny inputs can exceed 1 (header)
    # repeated text must compress better than varied text
    df = spark.createDataFrame(
        [(1, "spam " * 200), (2, " ".join(f"w{i}x{i * 7}" for i in range(200)))],
        ["doc_id", "text"],
    )
    from flink_ms_spark.operators.text import compression_ratio_udf

    ratio = compression_ratio_udf()
    got = {r.doc_id: r.r for r in df.select("doc_id", ratio("text").alias("r")).collect()}
    assert got[1] < got[2] / 2, f"repetition must compress far better: {got}"


def test_pq_index_roundtrip(spark, sf_smoke, tmp_path):
    import numpy as np

    from flink_ms_spark.operators.similarity import (
        build_index,
        load_artifact,
        pq_topk,
        train_pq_codebooks,
    )
    from flink_ms_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    idx = str(tmp_path / "pq_index")
    cb = build_index(emb, idx, kind="pq", n_subspaces=16, n_codes=32, seed=42)["codebooks"]
    loaded = load_artifact(spark, idx, "codebooks")
    assert np.allclose(cb, loaded)
    # same codebooks -> same top-k, whether fresh or loaded
    direct = train_pq_codebooks(emb, 16, 32, seed=42)
    want = {(r.a, r.b, r.rk) for r in pq_topk(emb, direct, k=3).collect()}
    got = {(r.a, r.b, r.rk) for r in pq_topk(emb, loaded, k=3).collect()}
    assert got == want
    from flink_ms_spark.operators.similarity import served_view

    codes = served_view(spark, idx, "codes")
    assert codes.count() == emb.count()


# ---------------------------------------------------------------- round 2 ops


def test_substring_dedup_removes_later_occurrences(spark):
    from flink_ms_spark.operators.dedup import exact_substring_dedup

    span = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [
            (1, f"{span} alpha beta"),         # first occurrence — kept
            (2, f"head {span} gamma delta"),   # later occurrence — cut
            (3, "completely unrelated text here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exact_substring_dedup(docs, n=10).collect()}
    assert out[1].n_removed == 0 and out[1].clean_text.startswith("w1 ")
    assert out[2].n_removed == 10
    assert "w1" not in out[2].clean_text.split()
    assert out[2].clean_text == "head gamma delta"
    assert out[3].n_removed == 0
    for r in out.values():
        n_clean = len(r.clean_text.split()) if r.clean_text else 0
        assert n_clean == r.n_tokens - r.n_removed


def test_substring_dedup_overlapping_spans_union(spark):
    from flink_ms_spark.operators.dedup import exact_substring_dedup

    # 11 shared tokens → two overlapping duplicated 10-spans in doc 2;
    # the union of their positions (11 tokens) is removed once.
    shared = " ".join(f"s{i}" for i in range(11))
    docs = spark.createDataFrame(
        [(1, shared), (2, f"x {shared} y")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in exact_substring_dedup(docs, n=10).collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 11
    assert out[2].clean_text == "x y"


def test_char_trigram_lm_flags_garble(spark):
    from flink_ms_spark.operators.text import char_trigram_lm_score

    # Conditional model: a doc taking a RARE continuation of a common
    # context ("ab" → 'd' once vs 'c' many times) scores high; docs on
    # the common continuation score near 0. (Corpus-unique contexts
    # score exactly 0 — P=1 — which is why this model is paired with
    # the unigram `lm_score`, not a replacement for it.)
    docs = spark.createDataFrame(
        [(i, "abcabcabcabcabc") for i in range(20)] + [(99, "abd")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in char_trigram_lm_score(docs).collect()}
    assert out[99].avg_bits > out[0].avg_bits, (out[99], out[0])
    assert all(r.avg_bits >= 0 for r in out.values())


def test_rrf_fusion_ranks_and_bounds(spark, sf_smoke):
    rows = QUERIES["rrf_fusion"](spark, sf_smoke).collect()
    assert 0 < len(rows) <= 40
    for r in rows:
        assert 0 <= r.bm25_rk <= 20 and 0 <= r.cos_rk <= 20
        assert r.bm25_rk > 0 or r.cos_rk > 0
        expected = (1.0 / (60 + r.bm25_rk) if r.bm25_rk else 0.0) + (
            1.0 / (60 + r.cos_rk) if r.cos_rk else 0.0
        )
        assert abs(r.rrf - expected) < 1e-5
    # ranks are dense and unique within each ranker
    bm_rks = sorted(r.bm25_rk for r in rows if r.bm25_rk)
    assert bm_rks == list(range(1, len(bm_rks) + 1))


def test_shard_manifest_partitions_corpus(spark, sf_smoke):
    from flink_ms_spark.sources.tables import load_table

    rows = QUERIES["shard_manifest"](spark, sf_smoke).collect()
    n_docs = load_table(spark, sf_smoke, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0 <= r.shard < 16 for r in rows)
    # hash-mod balance: token-weighted skews average out to ~0
    total = sum(r.total_tokens for r in rows)
    mean = total / len(rows)
    assert abs(sum(r.total_tokens - mean for r in rows)) < 1e-6 * total


def test_bpe_merges_classic_example(spark):
    from flink_ms_spark.operators.text import bpe_merges

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest new newer")], "doc_id long, text string"
    )
    rows = bpe_merges(docs, n_merges=3).collect()
    assert [(r.left, r.right, r.merged) for r in rows] == [
        ("l", "o", "lo"),
        ("lo", "w", "low"),
        ("e", "r", "er"),  # tie with (e,w) broken lexicographically
    ]
    assert rows[0].pair_count == 5


def test_bpe_merges_handles_single_char_words(spark):
    from flink_ms_spark.operators.text import bpe_merges

    docs = spark.createDataFrame(
        [(1, "a a a bb bb")], "doc_id long, text string"
    )
    rows = bpe_merges(docs, n_merges=2).collect()
    # only 'bb' has an adjacent pair; after merging it nothing remains
    assert [(r.left, r.right) for r in rows] == [("b", "b")]


def test_perplexity_buckets_cover_corpus(spark, sf_smoke):
    from flink_ms_spark.sources.tables import load_table

    rows = QUERIES["perplexity_buckets"](spark, sf_smoke).collect()
    n_docs = load_table(spark, sf_smoke, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r.mean_nll
    for lang, buckets in by_lang.items():
        if {"head", "tail"} <= buckets.keys():
            assert buckets["head"] <= buckets["tail"], (lang, buckets)


def test_round2_plan_shapes(spark, sf_smoke):
    # char_trigram_lm: the alphabet³ model must ride broadcasts, and
    # the corpus-side scoring join must not sort-merge
    plan = (
        QUERIES["char_trigram_lm"](spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # rrf_fusion: both rankers end in partial top-k, never a
    # corpus-wide single-partition window
    plan = (
        QUERIES["rrf_fusion"](spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    # substring_dedup: nothing pairwise
    plan = (
        QUERIES["substring_dedup"](spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_line_dedup_semantics(spark):
    """Pinned micro-fixture: a line in >=3 distinct docs is cut from
    every doc; blank lines and <3-doc lines survive; a doc reduced to
    nothing still appears with empty text_clean; order is preserved."""
    from flink_ms_spark.operators.text import drop_duplicated_lines

    boiler = "Accept cookies"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\nalpha one\n\nbeta two"),
            (2, f"{boiler}\ngamma three"),
            (3, f"shared twice\n{boiler}"),
            (4, boiler),  # only boilerplate -> empty doc survives as row
            (5, "shared twice\nunique line"),  # 'shared twice' in 2 docs: kept
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in drop_duplicated_lines(docs, min_docs=3).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].text_clean == "alpha one\n\nbeta two"  # blank line preserved
    assert out[1].n_lines == 4 and out[1].n_lines_kept == 3
    assert out[2].text_clean == "gamma three"
    assert out[3].text_clean == "shared twice"
    assert out[4].text_clean == "" and out[4].n_lines_kept == 0
    assert out[5].text_clean == "shared twice\nunique line"


def test_line_dedup_normalization_case_insensitive(spark):
    """Frequency counting is on the lowercased/trimmed form, removal
    applies to every casing/padding variant."""
    from flink_ms_spark.operators.text import drop_duplicated_lines

    docs = spark.createDataFrame(
        [(1, "FOOTER \nkeep a"), (2, "footer\nkeep b"), (3, "  Footer\nkeep c")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.text_clean for r in drop_duplicated_lines(docs, min_docs=3).collect()}
    assert out == {1: "keep a", 2: "keep b", 3: "keep c"}


def test_quality_blend_is_uniform_percentile(spark, sf_smoke):
    """Each signal's percentile column is a permutation of the exact
    uniform grid k/(n-1) — the defining property of rank
    normalization (no mass-distorting ties by construction of the
    doc_id tiebreak)."""
    rows = QUERIES["quality_blend"](spark, sf_smoke).collect()
    n = len(rows)
    assert n > 3
    grid = sorted(round(k / (n - 1), 6) for k in range(n))
    for col in ("len_pct", "word_pct", "alpha_pct"):
        assert sorted(getattr(r, col) for r in rows) == grid
    for r in rows:
        assert abs(r.blend - round((r.len_pct + r.word_pct + r.alpha_pct) / 3, 6)) < 1e-9


def test_centroid_drift_self_similarity(spark):
    """Identical cohorts => cos_sim 1.0 and l2_shift 0.0 per label."""
    from flink_ms_spark.plans.catalog import QUERIES as Q
    import flink_ms_spark.plans.mixing as mixing

    # build a tiny embeddings fixture where parity cohorts are identical
    rows = []
    for label in (0, 1):
        for base in range(3):
            vec = [float(label + 1), float(base), 1.0]
            rows.append((2 * (label * 3 + base), vec, label))      # cohort 0
            rows.append((2 * (label * 3 + base) + 1, vec, label))  # cohort 1
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = Q["centroid_drift"](spark, d).collect()
    assert {r.label for r in out} == {0, 1}
    for r in out:
        assert r.cos_sim == 1.0 and r.l2_shift == 0.0
