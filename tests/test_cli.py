"""CLI parity: the reference's job entry points as subcommands, run
end-to-end on tiny inputs (train → mean-vector → serve → predict →
mse; generators; SVM flat + ranged layouts)."""

from __future__ import annotations

import io

import pytest

from flink_ms_spark import cli


def _lines(spark, path: str) -> list[str]:
    return [r.value for r in spark.read.text(str(path)).collect()]


def test_generate_als_model_deterministic(spark, tmp_path):
    out1, out2 = tmp_path / "m1", tmp_path / "m2"
    argv = [
        "generate-als-model",
        "--numUsers", "10", "--numItems", "15", "--latentFactors", "4",
    ]
    cli.main(argv + ["--output", str(out1)])
    cli.main(argv + ["--output", str(out2)])
    l1, l2 = sorted(_lines(spark, out1)), sorted(_lines(spark, out2))
    assert l1 == l2  # seeded: same model on every run
    assert len(l1) == 25
    kinds = {line.split(",")[1] for line in l1}
    assert kinds == {"U", "I"}
    factors = [float(x) for x in l1[0].split(",")[2].split(";")]
    assert len(factors) == 4 and all(f > 0 for f in factors)


def test_generate_svm_model_ranged_layout(spark, tmp_path):
    out = tmp_path / "svm"
    cli.main([
        "generate-svm-model", "--numFeatures", "50", "--range", "20",
        "--output", str(out),
    ])
    rows = sorted(_lines(spark, out))
    buckets = {int(r.split(",")[0]) for r in rows}
    assert buckets == {0, 1, 2}  # ids 1..50, range 20 → buckets 0..2
    pairs = rows[0].split(",")[1].split(";")
    zeros = sum(1 for p in pairs if float(p.split(":")[1]) == 0.0)
    assert 0 < zeros < len(pairs)  # ~50% exact zeros
    for p in pairs:
        w = float(p.split(":")[1])
        assert w == 0.0 or -10.0 <= w <= 10.0


def test_als_workflow_train_serve_predict_mse(spark, tmp_path, capsys):
    ratings = tmp_path / "ratings.csv"
    ratings.write_text(
        "user,item,rating\n"
        + "\n".join(
            f"{u},{i},{(u * 3 + i * 7) % 5 + 1}" for u in range(8) for i in range(6)
        )
        + "\n"
    )
    model_dir = tmp_path / "model"
    cli.main([
        "train-als", "--input", str(ratings), "--output", str(model_dir),
        "--iterations", "3", "--numFactors", "3", "--lambda", "0.1",
    ])
    model_lines = _lines(spark, model_dir)
    assert len(model_lines) == 14  # 8 users + 6 items
    assert all(len(line.split(",")) == 3 for line in model_lines)

    mean_dir = tmp_path / "means"
    cli.main(["mean-vector", "--input", str(model_dir), "--output", str(mean_dir)])
    means = sorted(_lines(spark, mean_dir))
    assert [m.split(",")[:2] for m in means] == [["MEAN", "I"], ["MEAN", "U"]]

    cli.main(["serve", "--input", str(model_dir)])
    captured = capsys.readouterr()
    assert "served 14 keys" in captured.err

    cli.cmd_predict_als(
        type("A", (), {"model": str(model_dir)})(), stdin=io.StringIO("3,2\n99,1\n")
    )
    out = capsys.readouterr().out
    assert "prediction for user=3 item=2 is " in out
    assert "model parameters are missing for the query: 99,1" in out

    # tab-separated eval file, no header
    eval_file = tmp_path / "eval.tsv"
    eval_file.write_text("u\ti\tr\n1\t1\t3.0\n2\t2\t4.0\n99\t1\t1.0\n")
    cli.main([
        "mse", "--model", str(model_dir), "--input", str(eval_file),
    ])
    out = capsys.readouterr().out
    assert "MSE=" in out and "n=2" in out  # user 99 skipped (M8 semantics)


def test_svm_train_and_predict(spark, tmp_path, capsys):
    libsvm = tmp_path / "train.libsvm"
    rows = []
    for i in range(24):
        label = i % 2
        x1, x2 = (1.0 + i % 3, 0.2) if label else (-1.0 - i % 3, -0.4)
        rows.append(f"{label} 1:{x1} 2:{x2} 3:{(i % 5) * 0.1}")
    libsvm.write_text("\n".join(rows) + "\n")

    flat_dir = tmp_path / "svm_flat"
    cli.main(["train-svm", "--training", str(libsvm), "--output", str(flat_dir)])
    flat = sorted(_lines(spark, flat_dir))
    assert len(flat) == 3  # 3 features, 1-indexed
    assert flat[0].split(",")[0] == "1"

    ranged_dir = tmp_path / "svm_ranged"
    cli.main([
        "train-svm", "--training", str(libsvm), "--output", str(ranged_dir),
        "--partition", "--range", "2",
    ])
    ranged = sorted(_lines(spark, ranged_dir))
    assert ranged[0].startswith("0,1:")  # bucket 0 holds features 1 (id/2=0)

    def predict(model_dir, partition):
        cli.cmd_predict_svm(
            type(
                "A", (), {"model": str(model_dir), "threshold": 0.0,
                          "outputDecisionFunction": False,
                          "partition": partition, "range": 2},
            )(),
            stdin=io.StringIO("1:2.0 2:0.3\n1:-2.0 2:-0.3\n9:1.0\n"),
        )
        out = capsys.readouterr().out
        return [ln for ln in out.splitlines() if "predicted label" in ln]

    for labels in (predict(flat_dir, False), predict(ranged_dir, True)):
        assert len(labels) == 3
        assert labels[0].endswith("1.0") and not labels[0].endswith("-1.0")
        assert labels[1].endswith("-1.0")
        assert labels[2].endswith("-1.0")  # missing features → raw 0 → strict > fails


def test_curate_writes_partitioned_corpus(tmp_path, capsys):
    import json
    import os

    from flink_ms_spark.cli import main
    from flink_ms_spark.plans.catalog import QUERIES
    from flink_ms_spark.session import get_spark

    out = str(tmp_path / "curated")
    main(
        [
            "curate",
            "--input-dir", "/root/testdata/sf0.001",
            "--output", out,
            "--min-tokens", "20",
        ]
    )
    assert "curated " in capsys.readouterr().out
    # layout: hive-style lang partitions + manifest
    langs = sorted(d for d in os.listdir(out) if d.startswith("lang="))
    assert langs, "expected lang=* partition directories"
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    # manifest must agree with the corpus_curation catalog query
    spark = get_spark("flink-ms-spark-tests")
    expect = {
        r.lang: (r.n_docs, r.total_tokens)
        for r in QUERIES["corpus_curation"](spark, "/root/testdata/sf0.001").collect()
    }
    got = {k: (v["n_docs"], v["total_tokens"]) for k, v in manifest.items()}
    assert got == expect
    # partition pruning: reading one lang dir sees only that lang
    one = spark.read.parquet(out).where(f"lang = '{langs[0].split('=')[1]}'")
    assert one.count() == manifest[langs[0].split("=")[1]]["n_docs"]


def test_curate_zorder_layout_prunes_both_columns(tmp_path, capsys):
    """curate --zorder doc_id,n_tokens writes the Z-ordered layout the
    zorder_skipping report justifies: same curated rows/manifest as the
    default layout, and a tight 2-D box predicate prunes row groups on
    BOTH columns (footer min/max stats, engine-independent)."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from flink_ms_spark.cli import main

    out = str(tmp_path / "curated_z")
    main(
        [
            "curate",
            "--input-dir", "/root/testdata/sf0.001",
            "--output", out,
            "--min-tokens", "20",
            "--zorder", "doc_id,n_tokens",
        ]
    )
    assert "curated " in capsys.readouterr().out
    assert not [d for d in os.listdir(out) if d.startswith("lang=")], (
        "zorder layout replaces the lang partitioning"
    )
    manifest = json.load(open(os.path.join(out, "_manifest.json")))
    assert sum(m["n_docs"] for m in manifest.values()) > 0

    # footer-stats pruning on a tight 2-D box: with 16 range-disjoint
    # curve files, a box covering ~1/4 of each dimension must leave
    # some files entirely outside its rectangle on one column or the
    # other — impossible for a single-column sort's files, which each
    # span the full range of the non-sorted column.
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) > 4
    stats = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo_d = hi_d = lo_t = hi_t = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "doc_id":
                    s = col.statistics
                    lo_d = s.min if lo_d is None else min(lo_d, s.min)
                    hi_d = s.max if hi_d is None else max(hi_d, s.max)
                elif col.path_in_schema == "n_tokens":
                    s = col.statistics
                    lo_t = s.min if lo_t is None else min(lo_t, s.min)
                    hi_t = s.max if hi_t is None else max(hi_t, s.max)
        stats.append((lo_d, hi_d, lo_t, hi_t))
    all_d = (min(s[0] for s in stats), max(s[1] for s in stats))
    all_t = (min(s[2] for s in stats), max(s[3] for s in stats))
    box_d = (all_d[0], all_d[0] + (all_d[1] - all_d[0]) // 4)
    box_t = (all_t[0], all_t[0] + (all_t[1] - all_t[0]) // 4)
    hit = sum(
        1
        for lo_d, hi_d, lo_t, hi_t in stats
        if lo_d <= box_d[1] and hi_d >= box_d[0]
        and lo_t <= box_t[1] and hi_t >= box_t[0]
    )
    assert hit < len(files), (
        f"no pruning: all {len(files)} files intersect a 1/16-area box"
    )


def test_source_sink_format_roundtrips(tmp_path):
    """Format breadth beyond parquet: the curated-table schema survives
    ORC, CSV (header + explicit schema), and JSON-lines round trips."""
    from flink_ms_spark.session import get_spark
    from flink_ms_spark.sources.tables import load_table

    spark = get_spark("flink-ms-spark-tests")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    want = sorted((r.doc_id, r.lang, r.source, r.n_chars) for r in docs.collect())

    orc = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(orc)
    got = sorted(tuple(r) for r in spark.read.orc(orc).collect())
    assert got == want

    csv = str(tmp_path / "docs_csv")
    docs.write.mode("overwrite").option("header", True).csv(csv)
    got = sorted(
        tuple(r)
        for r in spark.read.schema(docs.schema).option("header", True).csv(csv).collect()
    )
    assert got == want

    js = str(tmp_path / "docs_json")
    docs.write.mode("overwrite").json(js)
    got = sorted(tuple(r) for r in spark.read.schema(docs.schema).json(js).collect())
    assert got == want


def test_explain_prints_formatted_plan(capsys):
    cli.main(["explain", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    # scale-review markers the command exists to surface
    assert "Scan parquet" in out or "FileScan" in out
    assert "HashAggregate" in out


def test_explain_unknown_query_exits(capsys):
    import pytest

    with pytest.raises(SystemExit, match="unknown query"):
        cli.main(["explain", "nope_not_real"])


def test_cli_tokenize_writes_merges_and_stats(spark, tmp_path, capsys):
    out = tmp_path / "tok"
    cli.main([
        "tokenize", "--input-dir", "/root/testdata/sf0.001",
        "--output", str(out), "--n-merges", "4",
    ])
    assert "tokenized" in capsys.readouterr().out
    merges = spark.read.parquet(str(out / "merges")).collect()
    assert len(merges) == 4
    stats = spark.read.parquet(str(out / "doc_stats"))
    assert stats.count() > 0
    assert set(stats.columns) == {"doc_id", "n_words", "n_bpe", "bpe_per_word"}


def test_cli_mix_prints_per_language_plan(capsys):
    cli.main(["mix", "--input-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if "\traw=" in ln]
    assert len(lines) >= 3  # one row per language
    assert all("unimax=" in ln and "epochs=" in ln for ln in lines)


def test_cli_dedup_ingest_end_to_end(spark, tmp_path, capsys):
    import json as _json

    src = tmp_path / "jsonl_in"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog",
         "lang": "en", "source": "s0"},
        {"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog",
         "lang": "en", "source": "s0"},
        {"doc_id": 3, "text": "completely different text about spark shuffles",
         "lang": "en", "source": "s1"},
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    out = tmp_path / "corpus_out"
    cli.main(["dedup-ingest", "--input-dir", str(src), "--output", str(out)])
    assert "ingested" in capsys.readouterr().out
    kept = spark.read.parquet(str(out / "batch_id=0"))
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def test_cli_quality_score_writes_scores(spark, tmp_path, capsys):
    out = tmp_path / "q_out"
    cli.main([
        "quality-score", "--input-dir", "/root/testdata/sf0.001",
        "--output", str(out), "--threshold", "0.5",
    ])
    printed = capsys.readouterr().out
    assert "scored 500 docs" in printed
    scored = spark.read.parquet(str(out))
    assert scored.count() == 500
    cols = set(scored.columns)
    assert {"doc_id", "quality_logit", "quality_prob", "kept"} <= cols
    kept = scored.where("kept = 1").count()
    assert 0 < kept < 500  # the gate separates, neither degenerate


def test_cli_ann_index_build_and_query(spark, tmp_path, capsys):
    """build-ann-index persists codebooks+codes; ann-query serves ADC
    top-k from the persisted index and the nearest neighbor matches
    the brute-force L2 answer for a query vector sitting on a corpus
    point."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8)).astype("float64")
    src = tmp_path / "emb"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(src))

    idx = tmp_path / "idx"
    cli.main([
        "build-ann-index", "--input", str(src), "--index", str(idx),
        "--subspaces", "4", "--codes", "16",
    ])
    built = capsys.readouterr().out
    assert "4 subspaces x 16 codes" in built and "60 vectors encoded" in built

    probe = 17
    vec_arg = ",".join(f"{x:.8f}" for x in vecs[probe])
    cli.main(["ann-query", "--index", str(idx), f"--vector={vec_arg}", "-k", "3"])
    out_lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(out_lines) == 3
    got = [int(l.split("\t")[0]) for l in out_lines]
    # ADC distance of the probe's own cell must rank its exact point
    # first: PQ quantizes, but the self-point shares every code word.
    assert got[0] == probe
    # distances ascend
    d = [float(l.split("\t")[1]) for l in out_lines]
    assert d == sorted(d)

    # the serve lane reads the MERGED view: a streamed increment is
    # immediately queryable (reading codes/ directly would silently
    # serve a stale index — the round-12 coherence class)
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    new_vec = vecs[probe] + 0.001  # lands on the probe's codes
    StreamingAnnIngest(spark, str(idx)).process_batch(
        spark.createDataFrame(
            [(900, [float(x) for x in new_vec])],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        ),
        batch_id=0,
    )
    cli.main(["ann-query", "--index", str(idx), f"--vector={vec_arg}", "-k", "3"])
    served = [
        int(l.split("\t")[0])
        for l in capsys.readouterr().out.splitlines()
        if l.strip()
    ]
    assert 900 in served, "streamed increment must be servable via ann-query"


def test_cli_ann_query_dispatches_ivf_kind(spark, tmp_path, capsys):
    """ann-query on an ivf index ranks corpus candidates from --input
    within the probed coarse cells; without --input it refuses with a
    actionable message instead of guessing."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(41)
    vecs = rng.normal(size=(80, 8)).astype("float64")
    src = tmp_path / "emb"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(src))
    idx = tmp_path / "ivf_idx"
    cli.main(["build-ann-index", "--kind", "ivf", "--input", str(src),
              "--index", str(idx), "--cells", "4"])
    capsys.readouterr()

    probe = 23
    vec_arg = ",".join(f"{x:.8f}" for x in vecs[probe])
    with _pytest.raises(SystemExit, match="--input"):
        cli.main(["ann-query", "--index", str(idx), f"--vector={vec_arg}"])
    cli.main(["ann-query", "--index", str(idx), f"--vector={vec_arg}",
              "-k", "3", "--input", str(src)])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 3
    # exact-cosine ranking within the probed cells: the probe's own
    # corpus point (cos 1.0) must rank first
    assert int(lines[0].split("\t")[0]) == probe
    sims = [float(l.split("\t")[1]) for l in lines]
    assert sims == sorted(sims, reverse=True) and sims[0] > 0.999


def test_cli_ann_ingest_lane_both_kinds(spark, tmp_path, capsys):
    """ann-ingest watches a JSONL dir and lands generation-stamped
    increments on either index kind; ann-query serves the streamed
    vector immediately (pq: merged code view; ivf: members view, no
    --input), and re-running with the same checkpoint is a no-op."""
    import json

    import numpy as np

    rng = np.random.default_rng(59)
    vecs = rng.normal(size=(60, 8)).astype("float64")
    src = tmp_path / "emb"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(src))

    new_vec = rng.normal(size=8)
    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    (stream_dir / "batch.jsonl").write_text(
        json.dumps({"vec_id": 900, "embedding": [float(x) for x in new_vec]})
        + "\n"
    )
    vec_arg = ",".join(f"{x:.8f}" for x in new_vec)

    for kind, extra in (("pq", ["--subspaces", "4", "--codes", "16"]),
                        ("ivf", ["--cells", "4", "--persist-members"]),
                        ("ivfpq", ["--cells", "4", "--subspaces", "4",
                                   "--codes", "16"])):
        idx = tmp_path / f"idx_{kind}"
        cli.main(["build-ann-index", "--kind", kind, "--input", str(src),
                  "--index", str(idx), *extra])
        capsys.readouterr()
        cli.main(["ann-ingest", "--index", str(idx),
                  "--input-dir", str(stream_dir)])
        out = capsys.readouterr().out
        assert f"kind {kind}" in out and "generation 0" in out
        cli.main(["ann-query", "--index", str(idx),
                  f"--vector={vec_arg}", "-k", "3"])
        lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
        assert int(lines[0].split("\t")[0]) == 900, f"{kind}: streamed id"
        # same checkpoint -> committed batch is not reprocessed, and the
        # serve view still holds exactly one row for the streamed id
        cli.main(["ann-ingest", "--index", str(idx),
                  "--input-dir", str(stream_dir)])
        capsys.readouterr()
        cli.main(["ann-query", "--index", str(idx),
                  f"--vector={vec_arg}", "-k", "61"])
        ids = [int(l.split("\t")[0])
               for l in capsys.readouterr().out.splitlines() if l.strip()]
        assert ids.count(900) == 1


def test_cli_ann_status_reports_lifecycle_state(spark, tmp_path, capsys):
    """ann-status reads the ops truth at each lifecycle stage: fresh
    build (gen 0, no increments), landed increment (live tail counted),
    rebuild marker (in-progress flag), and post-reindex (generation
    bump, old-gen debris counted as stale, live tail empty)."""
    import os

    import numpy as np

    from flink_ms_spark.operators.similarity import reindex
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(73)
    vecs = rng.normal(size=(30, 8))
    src = tmp_path / "emb"
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    df.write.parquet(str(src))
    idx = str(tmp_path / "idx")
    cli.main(["build-ann-index", "--input", str(src), "--index", idx,
              "--subspaces", "4", "--codes", "8"])
    capsys.readouterr()

    def status():
        cli.main(["ann-status", "--index", idx])
        return dict(
            l.split("\t") for l in capsys.readouterr().out.splitlines()
            if "\t" in l
        )

    s = status()
    assert s["kind"] == "pq" and s["generation"] == "0"
    assert s["base_rows"] == "30" and s["live_increment_batches"] == "0"
    assert s["rebuild_in_progress"] == "false"

    new_vec = rng.normal(size=(2, 8))
    StreamingAnnIngest(spark, idx).process_batch(
        spark.createDataFrame(
            [(100 + i, [float(x) for x in new_vec[i]]) for i in range(2)],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        ),
        batch_id=0,
    )
    s = status()
    assert s["live_increment_batches"] == "1" and s["live_increment_rows"] == "2"

    os.makedirs(idx + ".rebuilding")
    assert status()["rebuild_in_progress"] == "true"
    os.rmdir(idx + ".rebuilding")

    full = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)]
        + [(100 + i, [float(x) for x in new_vec[i]]) for i in range(2)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    reindex(spark, idx, full, force=True)
    s = status()
    assert s["generation"] == "1" and s["base_rows"] == "32"
    assert s["live_increment_batches"] == "0" and s["stale_generation_dirs"] == "0"
    assert "missing" not in s["built_mean_sq_err"]


def test_cli_build_over_existing_index_swaps_at_next_generation(
    spark, tmp_path, capsys
):
    """ADVICE r13 regression: re-running build-ann-index over an
    existing index must NOT rebuild in place at the same generation
    (a concurrent serve could pair new codebooks with half-overwritten
    codes) — it builds into the .rebuilding marker dir at generation+1
    and installs via the rename-aside swap. With live streaming
    increments it refuses and points at reindex-ann's coverage gate."""
    import numpy as np

    from flink_ms_spark.operators.similarity import read_index_manifest
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(241)
    vecs = rng.normal(size=(40, 8))
    src = tmp_path / "emb"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(src))

    idx = str(tmp_path / "idx")
    build = ["build-ann-index", "--kind", "ivfpq", "--input", str(src),
             "--index", idx, "--cells", "4", "--subspaces", "4",
             "--codes", "8"]
    cli.main(build)
    capsys.readouterr()
    assert read_index_manifest(spark, idx)["generation"] == 0

    cli.main(build)  # rebuild over the live index
    out = capsys.readouterr().out
    assert "swapped in at generation 1" in out
    m = read_index_manifest(spark, idx)
    assert m["kind"] == "ivfpq" and m["generation"] == 1
    import os

    assert os.path.isdir(os.path.join(idx, "codes", "gen=1"))
    assert not os.path.isdir(os.path.join(idx, "codes", "gen=0"))
    assert not os.path.isdir(idx + ".rebuilding")

    # with a live increment tail: refuse (no coverage gate here)
    StreamingAnnIngest(spark, idx).process_batch(
        spark.createDataFrame(
            [(900, [float(x) for x in rng.normal(size=8)])],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        ),
        batch_id=0,
    )
    with pytest.raises(SystemExit, match="reindex-ann"):
        cli.main(build)
    assert read_index_manifest(spark, idx)["generation"] == 1
    # the refusal cleaned up its intent marker (ingest unblocked)
    assert not os.path.isdir(idx + ".rebuilding")

    # --rerank on a non-ivfpq kind refuses instead of silently ignoring
    pq_idx = str(tmp_path / "pq_idx")
    cli.main(["build-ann-index", "--input", str(src), "--index", pq_idx,
              "--subspaces", "4", "--codes", "8"])
    capsys.readouterr()
    with pytest.raises(SystemExit, match="refine stage"):
        cli.main(["ann-query", "--index", pq_idx, "--vector=0,0,0,0,0,0,0,0",
                  "--rerank", "10"])


def test_cli_sql_runs_over_fixture_views(sf_smoke, capsys):
    cli.main([
        "sql",
        "SELECT l_returnflag, count(*) AS n FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        "--sf-dir", sf_smoke,
    ])
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "l_returnflag\tn"
    flags = [l.split("\t")[0] for l in out[1:]]
    assert flags == sorted(flags) and len(flags) >= 2
    for l in out[1:]:
        assert int(l.split("\t")[1]) > 0


def test_cli_sql_output_and_explain(spark, sf_smoke, tmp_path, capsys):
    out = tmp_path / "res"
    cli.main([
        "sql", "SELECT doc_id, lang FROM documents WHERE doc_id < 10",
        "--sf-dir", sf_smoke, "--output", str(out),
    ])
    assert "wrote" in capsys.readouterr().out
    back = spark.read.parquet(str(out))
    assert back.count() == back.where("doc_id < 10").count()

    cli.main([
        "sql", "SELECT count(*) FROM orders", "--sf-dir", sf_smoke, "--explain",
    ])
    plan = capsys.readouterr().out
    assert "Physical Plan" in plan


def test_cli_tables_lists_all_fixtures(sf_smoke, capsys):
    cli.main(["tables", "--sf-dir", sf_smoke])
    out = capsys.readouterr().out.splitlines()
    names = {l.split("\t")[0] for l in out}
    assert {"orders", "lineitem", "documents", "embeddings"} <= names
    assert all(int(l.split("\t")[1].split()[0]) > 0 for l in out)


def test_cli_verify_runs_oracle_gate(sf_smoke, capsys):
    cli.main(["verify", "pricing_summary,upper_trim", "--sf-dir", sf_smoke])
    out = capsys.readouterr().out
    assert "pricing_summary: OK" in out and "upper_trim: OK" in out

    import pytest

    with pytest.raises(SystemExit):
        cli.main(["verify", "no_such_query", "--sf-dir", sf_smoke])


def test_cli_hygiene_report_prints_all_sections(sf_smoke, capsys):
    cli.main(["hygiene-report", "--sf-dir", sf_smoke])
    out = capsys.readouterr().out
    assert "embeddings:" in out and "non-finite" in out
    assert "dead dims:" in out
    assert "cross-source near-dup components" in out
    assert "minhash calibration" in out and "/4 est=" in out
    assert "token gini by source:" in out and "gini=" in out


def test_cli_media_report_prints_all_sections(sf_smoke, capsys):
    cli.main(["media-report", "--sf-dir", sf_smoke])
    out = capsys.readouterr().out
    assert "images:" in out and "mean gray" in out
    assert "histogram features:" in out and "/16" in out
    assert "audio:" in out and "centroid" in out
    assert "video:" in out and "sampled frames" in out and "motion" in out
    assert "feature-space dup census:" in out and "signature groups" in out


def test_cli_chunk_dedup(tmp_path, capsys, spark):
    """chunk-dedup lane: chunk table lands, report prints per source,
    and the landed spans match the operator's direct output."""
    from flink_ms_spark import cli
    from flink_ms_spark.operators.chunking import cdc_chunk_spans

    out = str(tmp_path / "chunks")
    cli.main(
        [
            "chunk-dedup",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
        ]
    )
    printed = capsys.readouterr().out
    assert "chunks" in printed and "dup chars" in printed
    landed = {
        (r.doc_id, r.chunk_idx): (r.start, r.length, r.chunk_hash)
        for r in spark.read.parquet(out).collect()
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    direct = {
        (r.doc_id, r.chunk_idx): (r.start, r.length, r.chunk_hash)
        for r in cdc_chunk_spans(docs).collect()
    }
    assert landed == direct


def test_cli_chunk_ingest(tmp_path, capsys, spark):
    """chunk-ingest lane: the streaming chunk-dedup filter runs from
    the shell — an in-batch copy is rejected, survivors land."""
    import hashlib
    import json

    from flink_ms_spark import cli

    def text(seed):
        out = []
        for i in range(40):
            out.append(hashlib.md5(f"{seed}:{i}".encode()).hexdigest())
        return "".join(out)

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": text("A"), "lang": "en", "source": "s0"},
        {"doc_id": 2, "text": text("A"), "lang": "en", "source": "s0"},
        {"doc_id": 3, "text": text("B"), "lang": "en", "source": "s1"},
    ]
    with open(src / "b.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = str(tmp_path / "corpus")
    cli.main(["chunk-ingest", "--input-dir", str(src), "--output", out])
    assert "ingested" in capsys.readouterr().out
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(out + "/batch_id=0").collect()
    )
    assert kept == [1, 3]


def test_cli_compact_registry_both_kinds(tmp_path, capsys, spark):
    """compact-registry lane: folds both streaming registries from the
    shell (maintenance window), and a post-compaction ingest still
    rejects previously-admitted content — the decision survives the
    layout rewrite end-to-end through the CLI."""
    import hashlib
    import json

    from flink_ms_spark import cli
    from flink_ms_spark import fsutil

    def text(seed):
        return "".join(
            hashlib.md5(f"{seed}:{i}".encode()).hexdigest() for i in range(40)
        )

    def jsonl(dirname, rows, fname="b.jsonl"):
        d = tmp_path / dirname
        d.mkdir(exist_ok=True)
        with open(d / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return d

    # --- chunk kind ---
    src = jsonl("cin", [
        {"doc_id": 1, "text": text("A"), "lang": "en", "source": "s0"},
    ])
    out = str(tmp_path / "ccorpus")
    cli.main(["chunk-ingest", "--input-dir", str(src), "--output", out])
    capsys.readouterr()
    cli.main(["compact-registry", "--kind", "chunk",
              "--registry", out + "/_chunk_registry"])
    printed = capsys.readouterr().out
    assert "rows_after" in printed
    assert fsutil.count_files(spark, out + "/_chunk_registry", ".parquet") == 0

    # second wave arrives in the SAME watched dir (same checkpoint)
    jsonl("cin", [
        {"doc_id": 9, "text": text("A"), "lang": "en", "source": "s0"},
        {"doc_id": 10, "text": text("C"), "lang": "en", "source": "s0"},
    ], fname="b2.jsonl")
    cli.main(["chunk-ingest", "--input-dir", str(src), "--output", out])
    batches = [n for n in fsutil.list_names(spark, out, dirs_only=True)
               if n.startswith("batch_id=") ]
    latest = max(batches, key=lambda n: int(n.split("=")[1]))
    kept = sorted(r.doc_id
                  for r in spark.read.parquet(f"{out}/{latest}").collect())
    assert kept == [10], "compacted registry must still reject doc 1's content"

    # --- band kind ---
    bsrc = jsonl("bin", [
        {"doc_id": 1, "text": text("X"), "lang": "en", "source": "s0"},
    ])
    bout = str(tmp_path / "bcorpus")
    cli.main(["dedup-ingest", "--input-dir", str(bsrc), "--output", bout])
    capsys.readouterr()
    cli.main(["compact-registry", "--kind", "band",
              "--registry", bout + "/_registry", "--buckets", "2"])
    printed = capsys.readouterr().out
    assert "rows_after" in printed
    assert "files_after\t2" in printed, (
        "--buckets must drive the band compactor's target file count"
    )


def test_cli_reindex_ann_drift_policy(spark, tmp_path, capsys):
    """reindex-ann closes the ANN lifecycle loop: healthy corpus →
    no-op with drift ratio ~1; distribution-shifted corpus → rebuild +
    atomic swap, and the retrained codebooks fit the new distribution
    strictly better than the stale ones; an index without a recorded
    baseline refuses to guess (stats-missing) unless forced."""
    import json as _json

    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(60, 8)).astype("float64")
    src = tmp_path / "emb"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(src))
    idx = str(tmp_path / "idx")
    cli.main(["build-ann-index", "--input", str(src), "--index", idx,
              "--subspaces", "4", "--codes", "16"])
    capsys.readouterr()
    assert (tmp_path / "idx" / "stats.json").exists(), (
        "the ops build lane must record the drift baseline"
    )

    # same corpus: healthy, ratio 1.0 (same codebooks, same vectors)
    cli.main(["reindex-ann", "--index", idx, "--input", str(src)])
    out = capsys.readouterr().out
    assert "action\thealthy" in out and "drift_ratio\t1.0" in out

    # shifted corpus (3x scale): stale codebooks' error blows up ~9x,
    # the policy rebuilds, and the swap leaves a serving index whose
    # retrained error beats the stale one on the new distribution
    drift = tmp_path / "emb_drift"
    spark.createDataFrame(
        [(i, [float(3.0 * x) for x in vecs[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(drift))
    cli.main(["reindex-ann", "--index", idx, "--input", str(drift)])
    report = dict(
        l.split("\t") for l in capsys.readouterr().out.splitlines() if "\t" in l
    )
    assert report["action"] == "rebuilt"
    assert float(report["drift_ratio"]) > 1.2
    assert float(report["rebuilt_err"]) < float(report["current_err"])
    # the swapped index serves and carries a fresh baseline
    stats = _json.loads((tmp_path / "idx" / "stats.json").read_text())
    assert abs(stats["mean_sq_err"] - float(report["rebuilt_err"])) < 1e-9
    cli.main(["reindex-ann", "--index", idx, "--input", str(drift)])
    assert "action\thealthy" in capsys.readouterr().out

    # no baseline → refuse to guess; --force rebuilds anyway
    (tmp_path / "idx" / "stats.json").unlink()
    cli.main(["reindex-ann", "--index", idx, "--input", str(drift)])
    assert "action\tstats-missing" in capsys.readouterr().out
    cli.main(["reindex-ann", "--index", idx, "--input", str(drift), "--force"])
    assert "action\trebuilt" in capsys.readouterr().out


def test_cli_ann_lanes_cover_ivf_kind(spark, tmp_path, capsys):
    """build-ann-index --kind ivf persists the coarse quantizer with a
    baseline, and reindex-ann dispatches on the manifest kind — one
    ops lane monitors both ANN families."""
    import numpy as np

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(60, 8)).astype("float64")
    src = tmp_path / "emb"
    spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(src))
    idx = str(tmp_path / "ivf_idx")
    cli.main(["build-ann-index", "--kind", "ivf", "--input", str(src),
              "--index", idx, "--cells", "4"])
    out = capsys.readouterr().out
    assert "ivf, 4 cells" in out
    assert (tmp_path / "ivf_idx" / "stats.json").exists()

    # kind read from the manifest: no --kind flag on the monitor lane
    cli.main(["reindex-ann", "--index", idx, "--input", str(src)])
    out = capsys.readouterr().out
    assert "kind\tivf" in out and "action\thealthy" in out

    drift = tmp_path / "emb_drift"
    spark.createDataFrame(
        [(i, [float(3.0 * x) for x in vecs[i]]) for i in range(60)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).write.parquet(str(drift))
    cli.main(["reindex-ann", "--index", idx, "--input", str(drift)])
    report = dict(
        l.split("\t") for l in capsys.readouterr().out.splitlines() if "\t" in l
    )
    assert report["kind"] == "ivf" and report["action"] == "rebuilt"
    assert float(report["rebuilt_err"]) < float(report["current_err"])
    assert report["generation"] == "1"
