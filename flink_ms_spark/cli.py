"""Command-line surface mirroring the reference's job entry points, so
a user of the reference can run the same jobs with the same flags
against the Spark engine.

Job ↔ reference mapping (flags keep the reference's ParameterTool
names, including their quirks — e.g. train-svm's singular
``--iteration``, SVMImpl.scala:26):

- ``train-als``            ALSImpl.scala (CSV ratings → ALS → model text)
- ``mean-vector``          ALSMeanVector.scala (model text → MEAN rows)
- ``train-svm``            SVMImpl.scala (LibSVM → LinearSVC → flat/ranged text)
- ``generate-als-model``   ALSModelGenerator.scala
- ``generate-svm-model``   SVMModelGenerator.scala
- ``serve``                ALSKafkaProducer+Consumer collapsed: model text
                           (recursively enumerated, S4) → ModelStore
- ``predict-als``          ALSPredict.java console loop ("user,item" lines)
- ``predict-svm``          SVMPredict.java console loop ("id:val id:val ...")
- ``mse``                  MSE.java (model + ratings → mean squared error)

Every job is declarative DataFrame work; ``--output`` writes the
reference text format (K1 overwrite semantics), no output prints (K3).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark(app: str) -> SparkSession:
    from flink_ms_spark.session import get_spark

    return get_spark(app)


def _sink(df: DataFrame, output: str | None) -> None:
    """K1 text sink (overwrite) or K3 print fallback."""
    if output:
        df.write.mode("overwrite").text(output)
    else:
        for row in df.collect():
            print(row[0])


def _sep(name: str) -> str:
    return "\t" if name == "tab" else ","


def cmd_train_als(args: argparse.Namespace) -> None:
    from flink_ms_spark.ml.als import als_model_table, train_als
    from flink_ms_spark.ml.generators import als_model_text_rows
    from flink_ms_spark.sources.text import read_csv_ratings

    spark = _spark("[ALS] model-training")
    ratings = read_csv_ratings(
        spark, args.input, sep=_sep(args.fieldDelimiter), header=args.ignoreFirstLine
    )
    model = train_als(
        ratings,
        rank=args.numFactors,
        max_iter=args.iterations,
        reg_param=getattr(args, "lambda"),
        seed=args.seed,
        num_blocks=args.blocks,
    )
    _sink(als_model_text_rows(als_model_table(model)), args.output)


def cmd_mean_vector(args: argparse.Namespace) -> None:
    from flink_ms_spark.functions.codecs import parse_model_line
    from flink_ms_spark.functions.vector import elementwise_mean

    spark = _spark("[ALS] mean-vector")
    model = (
        spark.read.text(args.input)
        .select(*parse_model_line("value"))
        .where(F.col("id").isNotNull())
    )
    means = []
    for kind in ("U", "I"):
        m = elementwise_mean(model.where(F.col("kind") == kind)).select(
            F.concat_ws(
                ",", F.lit("MEAN"), F.lit(kind), F.array_join("factors", ";")
            ).alias("value")
        )
        means.append(m)
    _sink(means[0].unionAll(means[1]), args.output)


def cmd_train_svm(args: argparse.Namespace) -> None:
    from flink_ms_spark.ml.svm import svm_model_ranged, svm_model_table, train_svm
    from flink_ms_spark.sources.text import read_libsvm

    spark = _spark("[SVM] model-fitting")
    train = read_libsvm(spark, args.training)
    model = train_svm(train, max_iter=args.iteration)
    flat = svm_model_table(spark, model)
    if args.partition:
        ranged = svm_model_ranged(flat, range_size=args.range)
        pairs = F.transform(
            F.map_entries("entries"),
            lambda e: F.concat_ws(":", e.getField("key"), e.getField("value")),
        )
        out = ranged.select(
            F.concat_ws(",", "bucket", F.concat_ws(";", pairs)).alias("value")
        )
    else:
        out = flat.select(F.concat_ws(",", "feature_id", "weight").alias("value"))
    _sink(out, args.output)


def cmd_generate_als(args: argparse.Namespace) -> None:
    from flink_ms_spark.ml.generators import als_model_text_rows, generate_als_model

    spark = _spark("[ALS] model-generator")
    model = generate_als_model(
        spark,
        num_users=args.numUsers,
        num_items=args.numItems,
        latent_factors=args.latentFactors,
        seed=args.seed,
        parallelism=args.parallelism,
    )
    _sink(als_model_text_rows(model), args.output)


def cmd_generate_svm(args: argparse.Namespace) -> None:
    from flink_ms_spark.functions.codecs import bucket_of
    from flink_ms_spark.ml.generators import generate_svm_model

    spark = _spark("[SVM] model-generator")
    flat = generate_svm_model(
        spark, num_features=args.numFeatures, seed=args.seed, parallelism=args.parallelism
    )
    ranged = (
        flat.withColumn("bucket", bucket_of("feature_id", args.range))
        .groupBy("bucket")
        .agg(
            F.concat_ws(
                ";",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("feature_id", "weight"))),
                    lambda s: F.concat_ws(
                        ":", s.getField("feature_id"), s.getField("weight")
                    ),
                ),
            ).alias("pairs")
        )
        .select(F.concat_ws(",", "bucket", "pairs").alias("value"))
    )
    _sink(ranged, args.output)


def cmd_serve(args: argparse.Namespace) -> None:
    from flink_ms_spark.functions.codecs import parse_model_line
    from flink_ms_spark.serving.store import ModelStore
    from flink_ms_spark.sources.text import read_recursive_text

    spark = _spark("[serve] model-pipeline")
    store = ModelStore(spark, args.state_name)
    lines = read_recursive_text(spark, args.input)
    parsed = lines.select(*parse_model_line("value")).where(F.col("id").isNotNull())
    store.upsert_batch(parsed)
    print(f"served {len(store)} keys into state '{args.state_name}'", file=sys.stderr)


def cmd_predict_als(args: argparse.Namespace, stdin=None) -> None:
    """ALSPredict.java console loop: 'user,item' per line → prediction."""
    from flink_ms_spark.functions.codecs import parse_model_line
    from flink_ms_spark.serving.store import ModelStore
    from flink_ms_spark.sources.text import read_recursive_text

    spark = _spark("[ALS] predict")
    store = ModelStore(spark, "ALS_MODEL")
    lines = read_recursive_text(spark, args.model)
    store.upsert_batch(
        lines.select(*parse_model_line("value")).where(F.col("id").isNotNull())
    )
    for raw in stdin or sys.stdin:
        q = raw.upper().strip()  # T9 normalize (ALSPredict.java:61)
        if not q or q == "QUIT":
            break
        user, item = [t.strip() for t in q.split(",")][:2]
        uf, itf = store.lookup(f"{user}-U"), store.lookup(f"{item}-I")
        if uf is None or itf is None:
            print(f"model parameters are missing for the query: {q}")
            continue
        pred = sum(a * b for a, b in zip(uf.factors, itf.factors))
        print(f"prediction for user={user} item={item} is {pred}")


def cmd_predict_svm(args: argparse.Namespace, stdin=None) -> None:
    """SVMPredict.java console loop: sparse 'id:val id:val ...' lines.
    With ``--partition`` the model file holds the ranged layout
    (``bucket,id:w;id:w;...``) and each query groups its features by
    bucket — one store lookup per bucket, the RangePartitionSVMPredict
    optimization (RangePartitionSVMPredict.java:54-113)."""
    from flink_ms_spark.serving.store import ModelStore

    spark = _spark("[SVM] predict")
    store = ModelStore(spark, "SVM_MODEL")
    if args.partition:
        ranged = spark.read.text(args.model).select(
            F.split("value", ",")[0].alias("key"),
            F.split("value", ",")[1].alias("pairs"),
        )
        store.upsert_batch(ranged.where(F.col("key") != ""))
    else:
        flat = spark.read.text(args.model).select(
            F.split("value", ",")[0].alias("key"),
            F.split("value", ",")[0].cast("int").alias("feature_id"),
            F.split("value", ",")[1].cast("double").alias("weight"),
        )
        store.upsert_batch(flat.where(F.col("feature_id").isNotNull()))

    def raw_score(query: str) -> float:
        feats = [tok.split(":") for tok in query.split()]
        if not args.partition:
            # one lookup per feature (SVMPredict.java:63-79)
            return sum(
                row.weight * float(val)
                for fid, val in feats
                if (row := store.lookup(fid.strip())) is not None
            )
        # one lookup per bucket; local hash-probe per feature
        by_bucket: dict[str, list[tuple[int, float]]] = {}
        for fid, val in feats:
            by_bucket.setdefault(str(int(fid) // args.range), []).append(
                (int(fid), float(val))
            )
        score = 0.0
        for bucket, fv in by_bucket.items():
            row = store.lookup(bucket)
            if row is None:
                continue
            weights = dict(
                (int(p.split(":")[0]), float(p.split(":")[1]))
                for p in row.pairs.split(";")
                if p
            )
            score += sum(w * v for f, v in fv if (w := weights.get(f)) is not None)
        return score

    for raw in stdin or sys.stdin:
        q = raw.strip()
        if not q or q.upper() == "QUIT":
            break
        score = raw_score(q)
        if args.outputDecisionFunction:
            print(f"decision function value: {score}")
        else:
            label = 1.0 if score > args.threshold else -1.0  # strict >
            print(f"predicted label: {label}")


def cmd_mse(args: argparse.Namespace) -> None:
    from flink_ms_spark.functions.codecs import parse_model_line
    from flink_ms_spark.operators.evaluate import mse
    from flink_ms_spark.sources.text import read_csv_ratings

    spark = _spark("[ALS] evaluation")
    model = (
        spark.read.text(args.model)
        .select(*parse_model_line("value"))
        .where(F.col("id").isNotNull())
    )
    ratings = read_csv_ratings(
        spark, args.input, sep=_sep(args.fieldDelimiter), header=args.ignoreFirstLine
    )
    row = mse(ratings, model).collect()[0]
    print(f"MSE={row['mse']} over n={row['n']} scored pairs")


def cmd_curate(args: argparse.Namespace) -> None:
    """End-to-end corpus curation WRITE job: exact-dedup survivors →
    token-length gate → PII scrub → lang-partitioned parquet, with
    per-file row caps standing in for target file bytes (the
    small-files guard a streaming ingest pipeline needs), plus a JSON
    manifest of per-language doc/token counts.

    The default write is partitioned by ``lang`` so downstream
    per-language readers prune partitions at the directory level;
    maxRecordsPerFile bounds individual files without an extra
    repartition job. ``--zorder colx,coly`` switches the layout to a
    2-D Z-order curve over those columns instead (partitioning.py:
    zorder_write) — the rewrite the ``zorder_skipping`` report query
    justifies, now reachable end-to-end: choose it when the dominant
    scan predicates are two non-lang columns (e.g. source +
    n_tokens), trading directory-level lang pruning for row-group
    min/max pruning on BOTH predicate columns."""
    import json

    from flink_ms_spark.operators.dedup import exact_dedup_groups
    from flink_ms_spark.operators.text import scrub_pii, token_count
    from flink_ms_spark.sources.tables import load_table

    spark = _spark("[CURATE] corpus-write")
    docs = load_table(spark, args.input_dir, "documents")
    keepers = exact_dedup_groups(docs).select(F.col("keeper_id").alias("doc_id"))
    kept = docs.join(keepers, "doc_id", "left_semi")
    quality = kept.where(token_count("text") >= args.min_tokens)
    curated = quality.select(
        "doc_id", "lang", "source", scrub_pii("text").alias("text")
    ).withColumn("n_tokens", token_count("text"))  # tokens of the SCRUBBED text
    if args.zorder:
        from flink_ms_spark.partitioning import zorder_write

        cols = [c.strip() for c in args.zorder.split(",")]
        if len(cols) != 2:
            raise SystemExit("--zorder takes exactly two columns: colx,coly")
        missing = [c for c in cols if c not in curated.columns]
        if missing:
            raise SystemExit(
                f"--zorder column(s) {missing} not in curated schema "
                f"{curated.columns}"
            )
        zorder_write(curated, args.output, cols[0], cols[1],
                     n_files=args.zorder_files, rank=args.zorder_rank,
                     max_records_per_file=args.max_records_per_file)
    else:
        (
            curated.write.mode("overwrite")
            .option("maxRecordsPerFile", args.max_records_per_file)
            .partitionBy("lang")
            .parquet(args.output)
        )
    manifest = {
        r["lang"]: {"n_docs": r["n_docs"], "total_tokens": r["total_tokens"]}
        for r in spark.read.parquet(args.output)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .collect()
    }
    manifest_path = os.path.join(args.output, "_manifest.json")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    print(f"curated {sum(m['n_docs'] for m in manifest.values())} docs -> {args.output}")


def cmd_quality_score(args: argparse.Namespace) -> None:
    """Model-based quality scoring WRITE job: score every document with
    the frozen logistic quality model (or retrain on the input when
    ``--retrain``), write (doc_id, quality_logit, quality_prob, kept)
    parquet, and print the kept fraction. Scoring is scan-speed column
    math (no UDF, no shuffle); retraining fits the coefficient-scale
    LogisticRegression once and serves the result the same way."""
    from flink_ms_spark.ml.quality import (
        FROZEN_WEIGHTS,
        score_quality,
        train_quality_classifier,
    )
    from flink_ms_spark.sources.tables import load_table

    spark = _spark("[QUALITY] score-write")
    docs = load_table(spark, args.input_dir, "documents")
    weights = (
        tuple(train_quality_classifier(docs)) if args.retrain else FROZEN_WEIGHTS
    )
    scored = score_quality(docs, weights).withColumn(
        "kept", (F.col("quality_prob") >= args.threshold).cast("int")
    )
    scored.write.mode("overwrite").parquet(args.output)
    agg = spark.read.parquet(args.output).agg(
        F.count("*").alias("n"), F.sum("kept").alias("k")
    ).collect()[0]
    print(
        f"scored {agg['n']} docs, kept {agg['k']} "
        f"({agg['k'] / agg['n']:.3f}) at threshold {args.threshold} -> {args.output}"
    )


def cmd_explain(args: argparse.Namespace) -> None:
    """Print the formatted physical plan of a catalog query — the
    scale-review surface (check PushedFilters / ReadSchema /
    WholeStageCodegen / join strategies before shipping a query)."""
    from flink_ms_spark.plans.catalog import QUERIES

    if args.query not in QUERIES:
        raise SystemExit(
            f"unknown query {args.query!r}; valid: {', '.join(sorted(QUERIES))}"
        )
    spark = _spark("[EXPLAIN]")
    df = QUERIES[args.query](spark, args.sf_dir)
    df.explain(mode=args.mode)


def cmd_tokenize(args: argparse.Namespace) -> None:
    """Tokenizer job: learn BPE merges over the corpus, apply them
    vocab-side, and write per-doc token stats + the merge table —
    the train+apply loop a tokenizer pipeline ships."""
    from flink_ms_spark.operators.text import (
        bpe_encode_stats,
        bpe_merges,
        learn_bpe_merges_local,
    )
    from flink_ms_spark.sources.tables import load_table

    spark = _spark("[TOKENIZE]")
    docs = load_table(spark, args.input_dir, "documents")
    merges_df = bpe_merges(docs, n_merges=args.n_merges)
    merges_df.write.mode("overwrite").parquet(os.path.join(args.output, "merges"))
    merges = [(r.left, r.right) for r in merges_df.collect()]
    stats = bpe_encode_stats(docs, merges)
    stats.write.mode("overwrite").parquet(os.path.join(args.output, "doc_stats"))
    n = spark.read.parquet(os.path.join(args.output, "doc_stats")).count()
    print(f"tokenized {n} docs with {len(merges)} merges -> {args.output}")


def cmd_mix(args: argparse.Namespace) -> None:
    """Print the language-mixing plan: natural shares, temperature
    shares, and the UniMax epoch-capped allocation side by side."""
    from flink_ms_spark.operators.mixing import temperature_mix, unimax_alloc
    from flink_ms_spark.sources.tables import load_table

    spark = _spark("[MIX]")
    docs = load_table(spark, args.input_dir, "documents")
    t = temperature_mix(docs, temperature=args.temperature)
    u = unimax_alloc(docs, budget_frac=args.budget_frac, max_epochs=args.max_epochs)
    joined = t.join(u.select("lang", "alloc_tokens", "epochs"), "lang").orderBy("lang")
    for r in joined.collect():
        print(
            f"{r['lang']}\t{r['n_tokens']}\traw={r['raw_share']:.4f}"
            f"\ttemp={r['temp_share']:.4f}\tunimax={r['alloc_tokens']:.0f}"
            f"\tepochs={r['epochs']:.3f}"
        )


def cmd_dedup_ingest(args: argparse.Namespace) -> None:
    """Streaming ingestion dedup: watch a JSONL directory, drop docs
    that near-duplicate the already-ingested corpus (incremental LSH
    registry), write survivors to the output corpus dir."""
    from flink_ms_spark.schemas import CORPUS_SCHEMA
    from flink_ms_spark.streaming.neardup import StreamingNearDup

    spark = _spark("[DEDUP-INGEST]")
    # out_dir engages run()'s distributed survivor sink (batch_id=N
    # parquet written inside each batch); nothing crosses the driver
    nd = StreamingNearDup(
        os.path.join(args.output, "_registry"), out_dir=args.output
    )
    stream = spark.readStream.schema(CORPUS_SCHEMA).json(args.input_dir)
    q = nd.run(stream, os.path.join(args.output, "_checkpoint"))
    q.awaitTermination()
    print(f"ingested into {args.output}")


def cmd_chunk_dedup(args: argparse.Namespace) -> None:
    """Content-defined chunk dedup over a documents parquet: write the
    chunk span table (doc_id, chunk_idx, start, length, chunk_hash)
    and print the per-source dedup report — the ops lane for
    operators/chunking.py (same semantics as the `cdc_chunk_dedup`
    catalog query)."""
    from flink_ms_spark.operators.chunking import cdc_chunk_spans

    spark = _spark("[CHUNK-DEDUP]")
    docs = spark.read.parquet(args.input)
    spans = cdc_chunk_spans(
        docs,
        window=args.window,
        min_len=args.min_len,
        max_len=args.max_len,
        divisor=args.divisor,
    )
    spans.write.mode("overwrite").parquet(args.output)
    spans = spark.read.parquet(args.output)  # report reads the landed table
    canon = spans.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("canon")
    )
    rep = (
        spans.join(canon, "chunk_hash")
        .withColumn(
            "is_dup",
            (F.col("doc_id") != F.col("canon.doc_id"))
            | (F.col("chunk_idx") != F.col("canon.chunk_idx")),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
            F.sum("length").cast("long").alias("chars"),
            F.sum(F.when(F.col("is_dup"), F.col("length")).otherwise(0))
            .cast("long")
            .alias("dup_chars"),
        )
        .orderBy("source")
    )
    for r in rep.collect():
        print(
            f"{r.source}\t{r.n_chunks} chunks\t{r.n_dup} dup\t"
            f"{r.dup_chars}/{r.chars} dup chars"
        )
    print(f"chunk table written to {args.output}")


def cmd_chunk_ingest(args: argparse.Namespace) -> None:
    """Streaming chunk-level dedup ingest: watch a JSONL directory,
    reject docs whose content is already ≥ --max-dup-ratio present in
    the chunk registry (edit- and quilt-robust where dedup-ingest's
    whole-doc LSH is not), write survivors per batch."""
    from flink_ms_spark.schemas import CORPUS_SCHEMA
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    spark = _spark("[CHUNK-INGEST]")
    sd = StreamingChunkDedup(
        os.path.join(args.output, "_chunk_registry"),
        max_dup_ratio=args.max_dup_ratio,
        out_dir=args.output,
    )
    stream = spark.readStream.schema(CORPUS_SCHEMA).json(args.input_dir)
    q = sd.run(stream, os.path.join(args.output, "_checkpoint"))
    q.awaitTermination()
    print(f"ingested into {args.output}")


def cmd_compact_registry(args: argparse.Namespace) -> None:
    """Maintenance-window compaction for the streaming dedup registries
    (run with the ingest stream STOPPED and its checkpoint committed —
    the decision-safety contract both compactors document):

    - ``--kind band`` folds the LSH bucket registry written by
      dedup-ingest to one min-keeper row per (band, band_sig) in a
      single batch_id=-1 partition (streaming/neardup.py);
    - ``--kind chunk`` folds the chunk registry written by
      chunk-ingest into the two-witness bucketed-by-chunk_hash base
      table, emptying the live per-batch tier
      (streaming/chunk_dedup.py).

    Without periodic compaction a long-running ingest accumulates one
    partition dir per micro-batch and the per-batch probe plans
    O(#batches) inputs — layout growth, not row growth, is the scale
    hazard. Prints rows/files before and after."""
    spark = _spark("[COMPACT-REGISTRY]")
    if args.kind == "band":
        from flink_ms_spark.streaming.neardup import compact_registry

        stats = compact_registry(spark, args.registry, target_files=args.buckets)
    else:
        from flink_ms_spark.streaming.chunk_dedup import compact_chunk_registry

        stats = compact_chunk_registry(spark, args.registry, buckets=args.buckets)
    for k, v in stats.items():
        print(f"{k}\t{v}")


def cmd_build_ann_index(args: argparse.Namespace) -> None:
    """Build-once half of the ANN lifecycle: train the index artifacts
    of ``--kind`` (pq codebooks, ivf coarse centroids, or both for
    ivfpq) on the embedding parquet and persist them, the served
    tables and a drift baseline (operators/similarity.py:build_index).
    Serving jobs then run against the persisted index without
    retraining.

    REBUILD OVER AN EXISTING INDEX is swap-safe, never in-place: the
    replacement builds into the ``.rebuilding`` marker dir (which also
    blocks ingest commits) at generation+1 and installs via the
    rename-aside swap — an in-place overwrite at the same generation
    would let a concurrent serve silently pair new codebooks with old
    codes, the exact mix the gen= stamp exists to kill. An index with
    LIVE streaming increments refuses here and points at reindex-ann,
    whose coverage gate proves the rebuild input keeps every served id
    (this lane has no gate, so it must not discard a tail silently)."""
    from flink_ms_spark import fsutil
    from flink_ms_spark.operators.similarity import (
        INDEX_KINDS,
        INDEX_MANIFEST,
        _replace_index,
        build_index,
        live_increment_census,
        persisted_tables,
        read_index_manifest,
    )

    spark = _spark("[ANN] build-index")
    df = spark.read.parquet(args.input)
    target = args.index

    def build(path: str, generation: int) -> dict:
        return build_index(
            df, path, args.kind, n_cells=args.cells,
            n_subspaces=args.subspaces, n_codes=args.codes,
            id_col=args.id_col, vec_col=args.vec_col, seed=args.seed,
            # the ops lane records the build-time quantizer health so
            # reindex-ann can measure drift against it later
            record_stats=True, generation=generation,
            persist_members=args.persist_members,
        )

    generation = 0
    if not fsutil.exists(spark, fsutil.join(target, INDEX_MANIFEST)):
        arts = build(target, 0)  # fresh, or a build that never committed
    else:
        m = read_index_manifest(spark, target)
        generation = m["generation"] + 1

        def rebuild(tmp: str) -> dict:
            # the census runs after the marker exists (the reindex
            # gate's ordering): ingest then refuses to COMMIT, so a
            # batch racing this check stays uncommitted and replays
            live = [b for t in INDEX_KINDS[m["kind"]].tables
                    for b in live_increment_census(spark, target, t,
                                                   m["generation"])[0]]
            if live:
                raise SystemExit(
                    f"build-ann-index: {target} has {len(live)} live "
                    f"streaming increment batch(es); rebuilding here would "
                    f"discard them with NO coverage gate. Use reindex-ann "
                    f"(optionally --force), whose gate proves the rebuild "
                    f"input keeps every served id — or reindex-ann --fold "
                    f"first to fold the tail into the base."
                )
            return build(tmp, generation)

        arts = _replace_index(spark, target, rebuild)
    parts = [args.kind]
    if "centroids" in arts:
        parts.append(f"{arts['centroids'].shape[0]} cells")
    if "codebooks" in arts:
        n_sub, n_codes = arts["codebooks"].shape[:2]
        parts.append(f"{n_sub} subspaces x {n_codes} codes")
    desc = ", ".join(parts)
    tables = persisted_tables(spark, target, INDEX_KINDS[args.kind])
    if "members" in tables:
        desc += " + members table"
    if generation:
        desc += f", swapped in at generation {generation}"
    if tables:
        n = spark.read.parquet(
            fsutil.join(target, tables[-1], f"gen={generation}")).count()
        desc += f", {n} vectors encoded"
    print(f"index {target}: {desc}")


def cmd_reindex_ann(args: argparse.Namespace) -> None:
    """Monitor → reindex half of the ANN lifecycle: measure the
    current corpus's error under each quantizer of the serving index
    and rebuild + swap the index when any has drifted past --max-drift
    times its build-time baseline (operators/similarity.py:reindex).
    ANN degrades silently under distribution shift — queries still
    return k results, just worse ones — so the pipeline needs this
    explicit health loop. The index kind is read from the manifest, so
    one lane monitors every family. ``--fold`` is the cheap maintenance
    sibling: fold the live increment tail into the base at
    generation+1 without retraining (similarity.fold_ann_increments)."""
    from flink_ms_spark.operators.similarity import fold_ann_increments, reindex

    spark = _spark("[ANN] reindex")
    if args.fold:
        report = fold_ann_increments(spark, args.index, id_col=args.id_col)
    elif not args.input:
        raise SystemExit("reindex-ann: --input is required unless --fold")
    else:
        report = reindex(
            spark, args.index, spark.read.parquet(args.input),
            max_drift=args.max_drift, force=args.force, id_col=args.id_col,
            vec_col=args.vec_col, seed=args.seed,
            allow_missing=args.allow_missing,
        )
    for k, v in report.items():
        print(f"{k}\t{v}")


def cmd_ann_status(args: argparse.Namespace) -> None:
    """Ops view of a persisted ANN index: manifest kind + generation,
    base-table size at the serving generation, live increment tail
    (servable batches/rows at the current generation vs stale-gen
    debris awaiting cleanup), the tail/base ratio (the lookup-cost
    health signal — every serve reads the full tail until a reindex or
    fold folds it), drift baseline, and whether a rebuild is in flight
    (the .rebuilding intent marker — ingest commits are refused while
    it exists). The pre-flight check before a reindex and the
    post-mortem after a crashed one.

    SCALE CONTRACT: default counts touch parquet FOOTER metadata only
    (empty-schema counts over the base/tail dirs — no vector columns
    read, no shuffle), so a status probe of a 100 TB index is listing
    + footer IO, never a corpus scan. ``--exact`` opts into the one
    genuinely corpus-scale number: the deduplicated served-row count
    through the same merged recency view serving uses (a
    window-function job over base+tail)."""
    from flink_ms_spark import fsutil
    from flink_ms_spark.operators.similarity import (
        INDEX_KINDS,
        _read_stats,
        live_increment_census,
        persisted_tables,
        read_index_manifest,
        served_view,
    )

    spark = _spark("[ANN] status")
    m = read_index_manifest(spark, args.index)
    kind, gen = INDEX_KINDS[m["kind"]], m["generation"]
    print(f"kind\t{kind.name}")
    print(f"generation\t{gen}")
    rebuilding = fsutil.is_dir(spark, args.index.rstrip("/") + ".rebuilding")
    print(f"rebuild_in_progress\t{str(rebuilding).lower()}")

    def _rows(*dirs: str) -> int:
        # empty schema → parquet footer row counts, no column IO
        return spark.read.parquet(*dirs).count() if dirs else 0

    served = list(kind.tables)[-1]  # the table every query scans
    has_served = served in persisted_tables(spark, args.index, kind)
    if served == "members":  # optional: without it, nothing is served
        print(f"members_table\t{str(has_served).lower()}")
    base_dir = fsutil.join(args.index, served, f"gen={gen}")
    base_rows = _rows(base_dir) if fsutil.is_dir(spark, base_dir) else 0
    if has_served:
        print(f"base_rows\t{base_rows}")

    live, stale_dirs = live_increment_census(spark, args.index, served, gen)
    live_rows = _rows(*live)
    print(f"live_increment_batches\t{len(live)}")
    print(f"live_increment_rows\t{live_rows}")
    print(f"stale_generation_dirs\t{stale_dirs}")
    if base_rows:
        print(f"tail_base_ratio\t{live_rows / base_rows:.4f}")
    if args.exact:
        n = served_view(spark, args.index, served).count() if has_served else 0
        print(f"served_rows\t{n}")

    stats = _read_stats(spark, args.index, kind)
    if stats is None:
        print("built_mean_sq_err\tmissing (reindex-ann reports stats-missing)")
    elif len(stats) == 1:
        print(f"built_mean_sq_err\t{next(iter(stats.values()))['mean_sq_err']}")
    else:
        for q, s in stats.items():
            print(f"built_{q}_err\t{s['mean_sq_err']}")


def cmd_ann_ingest(args: argparse.Namespace) -> None:
    """Streaming half of the ANN lifecycle: watch a JSONL directory of
    (id, embedding) records and land each micro-batch as
    generation-stamped increment partitions beside the persisted
    index's served tables, encoded with the kind's own kernels
    (streaming/ann_ingest.py:StreamingAnnIngest). Serving reads the
    merged view immediately (ann-query); a reindex swap under the
    stream is survived in place (the worker reloads the new artifacts
    and re-encodes the batch — run()'s recovery lane). Re-running with
    the same checkpoint is exactly-once: replayed batches overwrite
    their own partitions."""
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    spark = _spark("[ANN] ingest")
    worker = StreamingAnnIngest(spark, args.index,
                                id_col=args.id_col, vec_col=args.vec_col)
    stream = spark.readStream.schema(
        f"{args.id_col} LONG, {args.vec_col} ARRAY<DOUBLE>"
    ).json(args.input_dir)
    # checkpoint lives BESIDE the index, never inside it: reindex-ann's
    # rename-aside swap relocates and then deletes the old index dir,
    # which would destroy an in-dir checkpoint and with it exactly-once
    ckpt = args.checkpoint or args.index.rstrip("/") + "_ingest_checkpoint"
    worker.run(stream, ckpt).awaitTermination()
    print(f"ingested into {args.index} (kind {worker.kind}, "
          f"generation {worker.generation})")


def cmd_ann_query(args: argparse.Namespace) -> None:
    """Serve half: top-k against a persisted ANN index for one query
    vector (comma-separated floats), through the index's MERGED served
    view (similarity.served_view: base plus current-generation
    streaming increments, latest batch winning per id), so ann-ingest
    freshness serves immediately. Each kind has its serve kernel:

    - pq: ADC scan over the codes (pq_index_topk); prints
      ``id<TAB>ad2``, nearest first.
    - ivfpq: ADC over the probed cells' codes (ivfpq_query_topk);
      prints ``id<TAB>ad2``. With ``--rerank N`` (requires a members
      table, build --persist-members) the top-N ADC candidates re-rank
      on EXACT squared L2 from the probed cells' member partitions —
      the FAISS refine stage; prints ``id<TAB>d2`` exact.
    - ivf: with a members table, reads ONLY the probed cells'
      partitions plus the live tail (ivf_members_topk). An explicit
      ``--input`` OVERRIDES the members view (rank that ad-hoc corpus
      instead — never silently ignored); without members, --input is
      required: candidates are assigned cells in one narrow map and
      ranked ONLY within the query's probed cells (ivf_query_topk) —
      freshness equals the --input corpus, the documented batch-only
      contract. Prints ``id<TAB>cos_sim``, nearest first."""
    from flink_ms_spark.operators import similarity as sim

    spark = _spark("[ANN] query")
    vec = [float(x) for x in args.vector.split(",")]
    q = spark.createDataFrame(
        [(-1, vec)], f"{args.id_col} LONG, {args.vec_col} ARRAY<DOUBLE>"
    )
    kind = sim.read_index_manifest(spark, args.index)["kind"]
    cols = dict(id_col=args.id_col, vec_col=args.vec_col)
    if args.rerank is not None and kind != "ivfpq":
        raise SystemExit(
            f"ann-query: --rerank is the IVF-PQ refine stage; this index "
            f"is kind '{kind}' whose serve is already exact over its "
            f"candidates — refusing rather than silently ignoring the flag."
        )
    if kind == "ivfpq":
        out = sim.ivfpq_query_topk(spark, args.index, q, k=args.k,
                                   n_probe=args.n_probe, rerank=args.rerank,
                                   **cols)
    elif kind == "pq":
        out = sim.pq_index_topk(spark, args.index, q, k=args.k, **cols)
    elif not args.input and sim.persisted_tables(
            spark, args.index, sim.INDEX_KINDS[kind]):
        out = sim.ivf_members_topk(spark, args.index, q, k=args.k,
                                   n_probe=args.n_probe, **cols)
    elif not args.input:
        raise SystemExit(
            "ann-query on an ivf index without a members table needs "
            "--input (embeddings parquet): the index persists only "
            "the coarse quantizer, candidates come from the corpus "
            "(rebuild with --persist-members for O(n_probe) "
            "partition lookups and streaming freshness)"
        )
    else:
        corpus = spark.read.parquet(args.input).select(
            F.col(args.id_col).cast("long").alias(args.id_col),
            F.col(args.vec_col).cast("array<double>").alias(args.vec_col),
        )
        out = sim.ivf_query_topk(
            corpus, sim.load_artifact(spark, args.index, "centroids"), q,
            k=args.k, n_probe=args.n_probe, **cols,
        )
    for r in out.orderBy("rk").collect():
        print(f"{r.b}\t{r[2]:.6f}")


def cmd_sql(args: argparse.Namespace) -> None:
    """Ad-hoc SQL over the fixture tables (region nation customer
    supplier part orders lineitem events documents embeddings,
    registered as temp views). Results print as TSV (header first) or
    land in parquet with --output — the query-engine front door for a
    user who just wants to run SQL."""
    from flink_ms_spark.sources.tables import register_views

    spark = _spark("[SQL]")
    register_views(spark, args.sf_dir)
    df = spark.sql(args.query)
    if args.explain:
        df.explain(mode="formatted")
        return
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
        return
    rows = df.limit(args.max_rows + 1).collect()
    truncated = len(rows) > args.max_rows
    print("\t".join(df.columns))
    for r in rows[: args.max_rows]:
        print("\t".join("" if v is None else str(v) for v in r))
    if truncated:
        print(
            f"... truncated at {args.max_rows} rows (raise --max-rows "
            "or use --output)",
            file=sys.stderr,
        )


def cmd_tables(args: argparse.Namespace) -> None:
    """List the fixture tables with their schemas and row counts."""
    from flink_ms_spark.sources.tables import load_table

    spark = _spark("[SQL] tables")
    names = ("region nation customer supplier part orders lineitem "
             "events documents embeddings").split()
    for name in names:
        df = load_table(spark, args.sf_dir, name)
        print(f"{name}\t{df.count()} rows\t{df.schema.simpleString()}")



def cmd_hygiene_report(args: argparse.Namespace) -> None:
    """Run the pipeline-health audit family (plans/hygiene.py) over a
    fixture dir and print the combined report: embedding hygiene +
    dead dims, the cross-source near-dup matrix, MinHash calibration,
    and per-source token Gini — the pre-flight read before trusting a
    corpus snapshot for dedup/ANN/mixing runs."""
    from flink_ms_spark.plans.catalog import QUERIES

    spark = _spark("[HYGIENE] report")
    h = QUERIES["embedding_health"](spark, args.sf_dir).collect()[0]
    print(
        f"embeddings: {h.n_vectors} vectors, dims {h.dims_min}"
        + ("" if h.dims_min == h.dims_max else f"-{h.dims_max} (INCONSISTENT)")
        + f", {h.n_nonfinite} non-finite, {h.n_zero_vectors} zero-norm, "
        f"norm avg/p50 {h.avg_norm}/{h.p50_norm}"
    )
    dead = [
        r.dim
        for r in QUERIES["dead_dims"](spark, args.sf_dir).collect()
        if r.is_dead
    ]
    print(f"dead dims: {sorted(dead) if dead else 'none'}")
    print("cross-source near-dup components (source_a<=source_b):")
    for r in sorted(
        QUERIES["cross_source_dup_matrix"](spark, args.sf_dir).collect(),
        key=lambda r: (-r.n_components, r.source_a, r.source_b),
    ):
        print(f"  {r.source_a}\t{r.source_b}\t{r.n_components}")
    print("minhash calibration (n_agree/4 -> exact hashed-shingle jaccard):")
    for r in sorted(
        QUERIES["minhash_calibration"](spark, args.sf_dir).collect(),
        key=lambda r: r.n_agree,
    ):
        print(
            f"  {r.n_agree}/4 est={r.est_jaccard} pairs={r.n_pairs} "
            f"avg={r.avg_jaccard} mae={r.mae} "
            f"range=[{r.min_jaccard}, {r.max_jaccard}]"
        )
    print("token gini by source:")
    for r in sorted(
        QUERIES["token_gini_by_source"](spark, args.sf_dir).collect(),
        key=lambda r: r.source,
    ):
        print(
            f"  {r.source}\t{r.n_docs} docs\t{r.total_tokens} tokens\t"
            f"gini={r.gini}"
        )


def cmd_media_report(args: argparse.Namespace) -> None:
    """Run the multimodal feature lanes over a fixture dir and print
    the corpus-level media report: pixel + histogram summaries for the
    mixed PPM/PNG image corpus, spectral stats for the WAV corpus, and
    the cross-format feature-space dup census — the media sibling of
    hygiene-report."""
    from pyspark.sql import functions as F

    from flink_ms_spark.plans.catalog import QUERIES

    spark = _spark("[MEDIA] report")
    px = (
        QUERIES["media_pixel_stats"](spark, args.sf_dir)
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("mean_gray"), 3).alias("gray"),
            F.min("width").alias("w0"),
            F.max("width").alias("w1"),
        )
        .collect()[0]
    )
    print(f"images: {px.n}, mean gray {px.gray}, widths [{px.w0}, {px.w1}]")
    hist = (
        QUERIES["media_histogram_features"](spark, args.sf_dir)
        .agg(
            F.round(F.avg("top_frac"), 4).alias("tf"),
            F.round(F.avg("n_nonzero"), 2).alias("nz"),
        )
        .collect()[0]
    )
    print(f"histogram features: avg top-bin mass {hist.tf}, avg support {hist.nz}/16")
    sp = (
        QUERIES["media_spectral_features"](spark, args.sf_dir)
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("centroid_hz"), 1).alias("c"),
            F.round(F.avg("flatness"), 4).alias("fl"),
            F.round(F.avg("rms"), 1).alias("rms"),
        )
        .collect()[0]
    )
    print(
        f"audio: {sp.n} clips, avg centroid {sp.c} Hz, "
        f"avg flatness {sp.fl}, avg rms {sp.rms}"
    )
    fr = (
        QUERIES["media_frame_features"](spark, args.sf_dir)
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("n_sampled"), 2).alias("ns"),
            F.round(F.avg("motion"), 2).alias("mo"),
        )
        .collect()[0]
    )
    print(
        f"video: {fr.n} streams, avg {fr.ns} sampled frames, "
        f"avg motion {fr.mo}"
    )
    dup = (
        QUERIES["media_dup_pairs"](spark, args.sf_dir)
        .agg(
            F.count("*").alias("groups"),
            F.sum("n_members").alias("members"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "cross_asset"
            ),
        )
        .collect()[0]
    )
    print(
        f"feature-space dup census: {dup.groups} signature groups over "
        f"{dup.members} encodings, {dup.cross_asset} cross-asset collisions"
    )


def cmd_verify(args: argparse.Namespace) -> None:
    """Run one catalog query on Spark AND its DuckDB oracle over the
    same parquet, compare canonically (row count, schema shape,
    order-insensitive value hash) — the single-command correctness
    check a user runs when adopting or upgrading the engine. Exits
    non-zero on mismatch."""
    from flink_ms_spark.plans.catalog import ORACLE_SQL, QUERIES

    names = sorted(QUERIES) if args.query == "all" else args.query.split(",")
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    # Deferred oracles (fixture-trained literals, numpy replays) read
    # SPARK_GRAFT_SF_ORACLE to know which fixture to replay — align it
    # with the Spark side or every deferred oracle mismatches at any
    # non-default --sf-dir. Restore afterward: an in-process caller
    # (the test suite drives cli.main directly) must not inherit a
    # poisoned fixture pointer for ITS later deferred-oracle runs.
    prev = os.environ.get("SPARK_GRAFT_SF_ORACLE")
    os.environ["SPARK_GRAFT_SF_ORACLE"] = args.sf_dir
    try:
        spark = _spark("[VERIFY]")
        from flink_ms_spark.oracle import compare

        failed = []
        for name in names:
            oracle = ORACLE_SQL.get(name)
            if oracle is None:
                print(f"{name}: SKIP (no oracle registered)")
                continue
            if callable(oracle):
                oracle = oracle()
            ok, msg = compare(QUERIES[name](spark, args.sf_dir), oracle, args.sf_dir)
            print(f"{name}: {'OK' if ok else 'MISMATCH — ' + msg}")
            if not ok:
                failed.append(name)
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_SF_ORACLE", None)
        else:
            os.environ["SPARK_GRAFT_SF_ORACLE"] = prev
    if failed:
        raise SystemExit(f"{len(failed)} mismatched: {', '.join(failed)}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="flink_ms_spark")
    sub = p.add_subparsers(dest="command", required=True)

    e = sub.add_parser("explain")
    e.add_argument("query")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    e.add_argument(
        "--mode",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
        default="formatted",
    )
    e.set_defaults(func=cmd_explain)

    t = sub.add_parser("train-als")
    t.add_argument("--input", required=True)
    t.add_argument("--output")
    t.add_argument("--iterations", type=int, default=10)
    t.add_argument("--numFactors", type=int, default=10)
    t.add_argument("--lambda", type=float, default=0.9)
    t.add_argument("--seed", type=int, default=42)
    t.add_argument("--blocks", type=int, default=None)
    t.add_argument("--fieldDelimiter", choices=["comma", "tab"], default="comma")
    t.add_argument("--ignoreFirstLine", type=lambda s: s != "false", default=True)
    t.set_defaults(func=cmd_train_als)

    m = sub.add_parser("mean-vector")
    m.add_argument("--input", required=True)
    m.add_argument("--output")
    m.set_defaults(func=cmd_mean_vector)

    s = sub.add_parser("train-svm")
    s.add_argument("--training", required=True)
    s.add_argument("--output")
    s.add_argument("--blocks", type=int, default=10)
    s.add_argument("--iteration", type=int, default=10)  # sic — SVMImpl.scala:26
    s.add_argument("--partition", action="store_true")
    s.add_argument("--range", type=int, default=1000)
    s.set_defaults(func=cmd_train_svm)

    ga = sub.add_parser("generate-als-model")
    ga.add_argument("--numUsers", type=int, required=True)
    ga.add_argument("--numItems", type=int, required=True)
    ga.add_argument("--latentFactors", type=int, required=True)
    ga.add_argument("--output")
    ga.add_argument("--parallelism", type=int, default=2)
    ga.add_argument("--seed", type=int, default=42)
    ga.set_defaults(func=cmd_generate_als)

    gs = sub.add_parser("generate-svm-model")
    gs.add_argument("--numFeatures", type=int, required=True)
    gs.add_argument("--range", type=int, default=1000)
    gs.add_argument("--output")
    gs.add_argument("--parallelism", type=int, default=2)
    gs.add_argument("--seed", type=int, default=42)
    gs.set_defaults(func=cmd_generate_svm)

    sv = sub.add_parser("serve")
    sv.add_argument("--input", required=True)
    sv.add_argument("--state-name", default="ALS_MODEL")
    sv.set_defaults(func=cmd_serve)

    pa = sub.add_parser("predict-als")
    pa.add_argument("--model", required=True)
    pa.set_defaults(func=cmd_predict_als)

    ps = sub.add_parser("predict-svm")
    ps.add_argument("--model", required=True)
    ps.add_argument("--threshold", type=float, default=0.0)
    ps.add_argument("--outputDecisionFunction", action="store_true")
    ps.add_argument("--partition", action="store_true")  # ranged model layout
    ps.add_argument("--range", type=int, default=1000)
    ps.set_defaults(func=cmd_predict_svm)

    e = sub.add_parser("mse")
    e.add_argument("--model", required=True)
    e.add_argument("--input", required=True)
    e.add_argument("--fieldDelimiter", choices=["comma", "tab"], default="tab")
    e.add_argument("--ignoreFirstLine", type=lambda s: s != "false", default=True)
    e.set_defaults(func=cmd_mse)

    c = sub.add_parser("curate")
    c.add_argument("--input-dir", required=True, help="fixture sf dir")
    c.add_argument("--output", required=True)
    c.add_argument("--min-tokens", type=int, default=20)
    c.add_argument("--max-records-per-file", type=int, default=100_000)
    c.add_argument("--zorder", default=None, metavar="COLX,COLY",
                   help="Z-order the output on two columns instead of "
                   "partitioning by lang (row-group stats pruning on both)")
    c.add_argument("--zorder-files", type=int, default=16)
    c.add_argument("--zorder-rank", choices=["exact", "approx"], default="exact",
                   help="rank normalization: exact percent_rank windows, or "
                   "approx-quantile cutpoints (no global sort — the "
                   "corpus-scale path; numeric columns only)")
    c.set_defaults(func=cmd_curate)

    tk = sub.add_parser("tokenize")
    tk.add_argument("--input-dir", required=True)
    tk.add_argument("--output", required=True)
    tk.add_argument("--n-merges", type=int, default=8)
    tk.set_defaults(func=cmd_tokenize)

    mx = sub.add_parser("mix")
    mx.add_argument("--input-dir", required=True)
    mx.add_argument("--temperature", type=float, default=3.0)
    mx.add_argument("--budget-frac", type=float, default=0.5)
    mx.add_argument("--max-epochs", type=int, default=2)
    mx.set_defaults(func=cmd_mix)

    cd = sub.add_parser("chunk-dedup")
    cd.add_argument("--input", required=True, help="documents parquet path")
    cd.add_argument("--output", required=True, help="chunk table output dir")
    cd.add_argument("--window", type=int, default=8)
    cd.add_argument("--min-len", type=int, default=16)
    cd.add_argument("--max-len", type=int, default=128)
    cd.add_argument("--divisor", type=int, default=16)
    cd.set_defaults(func=cmd_chunk_dedup)

    ci = sub.add_parser("chunk-ingest")
    ci.add_argument("--input-dir", required=True, help="JSONL corpus dir")
    ci.add_argument("--output", required=True)
    ci.add_argument("--max-dup-ratio", type=float, default=0.5)
    ci.set_defaults(func=cmd_chunk_ingest)

    di = sub.add_parser("dedup-ingest")
    di.add_argument("--input-dir", required=True, help="JSONL corpus dir")
    di.add_argument("--output", required=True)
    di.set_defaults(func=cmd_dedup_ingest)

    cr = sub.add_parser("compact-registry")
    cr.add_argument("--kind", choices=["band", "chunk"], required=True)
    cr.add_argument("--registry", required=True,
                    help="registry dir (the ingest lane's _registry / "
                    "_chunk_registry)")
    cr.add_argument("--buckets", type=int, default=8,
                    help="compacted layout width: base-table bucket "
                    "count (chunk) / target file count (band)")
    cr.set_defaults(func=cmd_compact_registry)

    qs = sub.add_parser("quality-score")
    qs.add_argument("--input-dir", required=True, help="fixture sf dir")
    qs.add_argument("--output", required=True)
    qs.add_argument("--threshold", type=float, default=0.5)
    qs.add_argument("--retrain", action="store_true")
    qs.set_defaults(func=cmd_quality_score)

    bi = sub.add_parser("build-ann-index")
    bi.add_argument("--input", required=True, help="embeddings parquet")
    bi.add_argument("--index", required=True, help="index output dir")
    bi.add_argument("--kind", choices=["pq", "ivf", "ivfpq"], default="pq")
    bi.add_argument("--subspaces", type=int, default=16)
    bi.add_argument("--codes", type=int, default=32)
    bi.add_argument("--cells", type=int, default=8,
                    help="coarse cells (--kind ivf)")
    bi.add_argument("--persist-members", action="store_true",
                    help="also persist the corpus partitioned by cell: "
                    "for --kind ivf, point lookups read O(n_probe) "
                    "partitions instead of scanning --input and the index "
                    "gains a streaming increment lane; for --kind ivfpq, "
                    "enables the exact re-rank stage (ann-query --rerank)")
    bi.add_argument("--id-col", default="vec_id")
    bi.add_argument("--vec-col", default="embedding")
    bi.add_argument("--seed", type=int, default=42)
    bi.set_defaults(func=cmd_build_ann_index)

    ri = sub.add_parser("reindex-ann")
    ri.add_argument("--index", required=True)
    ri.add_argument("--input", default=None,
                    help="current embeddings parquet (required unless --fold)")
    ri.add_argument("--fold", action="store_true",
                    help="fold the live increment tail into the base at "
                    "generation+1 WITHOUT retraining (tail-bounding "
                    "maintenance between drift rebuilds; --input unused)")
    ri.add_argument("--max-drift", type=float, default=1.2,
                    help="rebuild when current/built error exceeds this")
    ri.add_argument("--force", action="store_true")
    ri.add_argument("--allow-missing", action="store_true",
                    help="permit a rebuild input that drops served ids "
                    "(deliberate retention shrink; reported, never silent)")
    ri.add_argument("--id-col", default="vec_id")
    ri.add_argument("--vec-col", default="embedding")
    ri.add_argument("--seed", type=int, default=42)
    ri.set_defaults(func=cmd_reindex_ann)

    st = sub.add_parser("ann-status")
    st.add_argument("--index", required=True, help="persisted ANN index dir")
    st.add_argument("--exact", action="store_true",
                    help="also count deduplicated served rows through the "
                    "merged recency view (a corpus-scale window job; the "
                    "default prints footer-metadata counts only)")
    st.set_defaults(func=cmd_ann_status)

    ai = sub.add_parser("ann-ingest")
    ai.add_argument("--index", required=True, help="persisted ANN index dir")
    ai.add_argument("--input-dir", required=True,
                    help="JSONL directory of (id, embedding) records")
    ai.add_argument("--checkpoint", default=None,
                    help="stream checkpoint (default <index>_ingest_checkpoint,"
                    " a SIBLING of the index — the reindex swap replaces the"
                    " index dir, so the checkpoint must not live inside it)")
    ai.add_argument("--id-col", default="vec_id")
    ai.add_argument("--vec-col", default="embedding")
    ai.set_defaults(func=cmd_ann_ingest)

    aq = sub.add_parser("ann-query")
    aq.add_argument("--index", required=True)
    aq.add_argument("--vector", required=True, help="comma-separated floats")
    aq.add_argument("-k", type=int, default=5)
    aq.add_argument("--input", default=None,
                    help="embeddings parquet: required for an ivf index "
                    "without a members table; on a members index it "
                    "OVERRIDES the members view (ad-hoc corpus)")
    aq.add_argument("--n-probe", type=int, default=2)
    aq.add_argument("--rerank", type=int, default=None,
                    help="(ivfpq with a members table) exact re-rank of "
                    "the top-N ADC candidates — prints exact squared L2 "
                    "distances instead of approximate ones")
    aq.add_argument("--id-col", default="vec_id")
    aq.add_argument("--vec-col", default="embedding")
    aq.set_defaults(func=cmd_ann_query)

    sq = sub.add_parser("sql")
    sq.add_argument("query", help="SQL over the fixture views")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--output", help="parquet output dir (default: print TSV)")
    sq.add_argument("--max-rows", type=int, default=100)
    sq.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead")
    sq.set_defaults(func=cmd_sql)

    tb = sub.add_parser("tables")
    tb.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    tb.set_defaults(func=cmd_tables)

    vf = sub.add_parser("verify")
    vf.add_argument("query", help="catalog query name, comma list, or 'all'")
    vf.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    vf.set_defaults(func=cmd_verify)

    hy = sub.add_parser("hygiene-report")
    hy.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    hy.set_defaults(func=cmd_hygiene_report)

    mr = sub.add_parser("media-report")
    mr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    mr.set_defaults(func=cmd_media_report)

    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.func(args)


if __name__ == "__main__":
    main()
