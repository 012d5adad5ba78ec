"""Physical-layout helpers: the knobs that matter at 100 TB.

- ``fan_out`` guards map-heavy per-row operators (shingle explodes,
  hash fan-outs, Arrow decode batches) against under-partitioned
  inputs. On a real cluster reading 100 TB the scan already yields
  thousands of splits and this is a no-op; locally (or after a
  collapsing coalesce) a single small parquet file arrives as ONE
  partition and a 32-core machine would run the whole explode on one
  task.
- ``write_bucketed`` / co-located joins: persist fact tables bucketed
  by their join key so repeated key-equi joins and aggregations skip
  the shuffle entirely (the reference hand-rolls this as its
  range-partitioned model layout, SVMImpl.scala:40-45; Spark bucketing
  is the built-in, declarative form).
- ``salted_join``: explicit skew mitigation for keys too hot even for
  AQE skew-splitting — salt the big side N ways, replicate the small
  side N ways, join on (key, salt).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-task input capacity for the size-derived fan-out cap (below).
# 32 KB of (compressed-estimate) input per task keeps each kernel task
# at ~0.1-0.3 s of real work for the hash/text kernel family measured
# in r14 (64 KB/task over-serialized the md5+normalize tier: 1.27-1.29x
# on the multi-pass dedup queries; 32 KB cleared every >10% regression
# while keeping the wins). Inputs beyond ~1 MB reach full cluster
# parallelism, so the cap only ever acts on tiny inputs. Env-tunable
# for other hardware.
FANOUT_KB_PER_TASK = float(os.environ.get("SPARK_GRAFT_FANOUT_KB_PER_TASK", "32"))


def plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate for a dataframe — file-status bytes
    (scaled by column pruning) for a parquet scan projection,
    propagated estimates otherwise. Driver-side only, runs no job.
    Returns None when no estimate is available."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def fan_out(
    df: DataFrame,
    target: int | None = None,
    kb_per_task: float | None = None,
) -> DataFrame:
    """Round-robin repartition up to ``target`` (default: cluster
    parallelism) — only when the input has fewer partitions; never
    shrinks, never shuffles an already-parallel input.

    ``kb_per_task`` opts a call site into a size-derived CAP on the
    default target: target = clamp(est_bytes / kb_per_task, 2,
    defaultParallelism). At corpus scale the estimate is huge and the
    cap is a no-op (and a real cluster scan already arrives with
    thousands of splits, making fan_out itself a no-op); on a tiny
    input it stops a 32-task wave — ~10 ms/task serial dispatch plus
    a Python-worker round-trip per task — from dwarfing sub-second
    kernels (r14 A/B at sf0.1: 25-58% off eight kernel queries).
    ONLY byte-proportional kernels may opt in: sites whose per-row
    cost is decoupled from input bytes (media synthesis from id-only
    rows, the char-trigram corpus explode) must keep full parallelism
    — capping the trigram explode to one task measured 3.5 s vs
    1.25 s uncapped. Unknown estimates keep full parallelism."""
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
        if kb_per_task:
            est = plan_size_bytes(df)
            if est is not None:
                bpt = max(1, int(kb_per_task * 1024))
                target = max(2, min(target, -(-est // bpt)))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly pin a multi-consumer / per-iteration intermediate.

    Default: ``localCheckpoint(eager=True)`` — the fastest way to cut
    lineage and stop AQE's concurrent stage futures recomputing an
    uncached subtree, but its blocks live on executors and are NOT
    recomputable: on a real cluster a lost executor fails the whole
    query. Set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` for the
    fault-tolerant mode — reliable ``checkpoint(eager=True)`` to the
    session's checkpoint directory (HDFS/object store on a cluster),
    which truncates lineage the same way AND survives executor loss —
    the right call for the long iterative tier (lpa/pagerank/triangle)
    on preemptible executors; see SCALING.md. If no checkpoint dir is
    configured, a local temp dir is set (local-mode convenience; a
    cluster deployment should point it at reliable storage)."""
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") in ("1", "true"):
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            import tempfile

            sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark-graft-ckpt-"))
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def keyed_kernel_width(df: DataFrame, n_keys: int, factor: int = 4) -> int:
    """Partition count for a pinned keyed-kernel shuffle (the
    `repartition(n, key)` that stops AQE coalescing a Python kernel to
    one task): the key cardinality when small — each key CAN get its
    own task — clamped to ``factor × defaultParallelism`` so a
    high-cardinality key (16+ hyperplanes ⇒ 65k+ cells) doesn't create
    tens of thousands of shuffle partitions (ADVICE r14). Above the
    clamp, hash collisions co-locate several keys per task, which is
    exactly the load-balancing one wants once keys outnumber cores."""
    return max(1, min(n_keys, factor * df.sparkSession.sparkContext.defaultParallelism))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Two tables bucketed on their shared join key with the same bucket
    count join WITHOUT a shuffle (and without a sort when sorted) —
    the plan shows no Exchange on either side. At 100 TB this converts
    every repeated model/fact join from a full network shuffle into a
    local per-bucket merge.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    sized for the scan path (default 128 MB — one task per file at
    standard ``maxPartitionBytes``).

    The small-files problem is the classic failure mode of streaming
    ingestion at scale: a million 1 MB files turn every scan into a
    million tasks and crush the driver/listing layer. Returns the
    number of output partitions chosen.

    Partition count comes from actual input bytes (file-status sum via
    the Hadoop FileSystem, no data read — a local glob would sum ZERO
    bytes for an hdfs://s3a:// input and silently repartition 100 TB
    into one file); round-robin repartition gives uniformly sized
    files.
    """
    from flink_ms_spark import fsutil

    total = fsutil.total_bytes(spark, in_path)
    n = max(1, round(total / target_bytes))
    df = spark.read.parquet(in_path)
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n


def zvalue(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two rank-normalized integer
    columns → one BIGINT curve position. Pure bitwise column
    expressions — stays inside whole-stage codegen."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def _approx_rank_col(df: DataFrame, col: str, out_col: str, bits: int) -> DataFrame:
    """Rank-normalize a NUMERIC column to ``bits``-bit integers from
    approx-quantile cutpoints instead of a percent_rank window: one
    Greenwald-Khanna sketch pass (partial-aggregated, nothing sorted
    globally), cutpoints broadcast inside a Bucketizer (JVM binary
    search per row, whole-stage friendly). Duplicate cutpoints — a
    value heavier than one bucket — collapse, coarsening the curve
    exactly where the data has no resolution to give (graceful
    degradation, never an error). Nulls land in the top bucket."""
    from pyspark.ml.feature import Bucketizer

    top = (1 << bits) - 1
    probs = [(i + 1) / (top + 1) for i in range(top)]
    cuts = df.stat.approxQuantile(col, probs, 0.5 / (top + 1))
    splits = [float("-inf")]
    for c in cuts:
        if float(c) > splits[-1]:
            splits.append(float(c))
    splits.append(float("inf"))
    tmp = f"_{out_col}_in"
    with_in = df.withColumn(tmp, F.col(col).cast("double"))
    if len(splits) < 3:  # constant column: one bucket, rank 0
        return with_in.withColumn(out_col, F.lit(0).cast("bigint")).drop(tmp)
    bucketed = Bucketizer(
        splits=splits, inputCol=tmp, outputCol=out_col + "_d",
        handleInvalid="keep",
    ).transform(with_in)
    return bucketed.withColumn(
        out_col, F.least(F.col(out_col + "_d").cast("bigint"), F.lit(top))
    ).drop(tmp, out_col + "_d")


def zorder_write(
    df: DataFrame,
    out_path: str,
    col_x: str,
    col_y: str,
    n_files: int = 16,
    bits: int = 10,
    rank: str = "exact",
    max_records_per_file: int | None = None,
) -> None:
    """Write parquet laid out along a 2-D Z-order curve over
    (col_x, col_y), so min/max row-group stats prune on BOTH columns.

    A single-column sort gives perfect pruning on that column and none
    on any other; the Morton curve trades a little of each for useful
    pruning on both — the standard layout for multi-dimensional scan
    predicates (Delta/Iceberg OPTIMIZE ZORDER does exactly this).

    Columns are rank-normalized to ``bits``-bit integers first so
    skewed value distributions still split the curve evenly.
    ``rank='exact'`` (default) does it with two percent_rank windows —
    two global sorts, fine up to the scale where a sort is fine.
    ``rank='approx'`` is the 100 TB path: approx-quantile cutpoints
    (one sketch pass per column, no global sort) broadcast into a
    binary-search bucketing; curve quality degrades gracefully with
    cutpoint error, and the whole job becomes sketch + one range
    shuffle. Numeric columns only in approx mode (the sketch is).
    ``repartitionByRange`` on the curve position gives range-disjoint
    files; the within-partition sort makes row-group stats tight.
    ``max_records_per_file`` caps individual files (the writer splits
    along the curve sort, so the extra files stay range-disjoint and
    stats-tight) — the same huge-files guard the plain partitioned
    write honors; pass it when n_files alone would leave files beyond
    the scan-task size you provision for.
    """
    from pyspark.sql.window import Window

    top = (1 << bits) - 1
    if rank == "approx":
        ranked = _approx_rank_col(df, col_x, "_zx", bits)
        ranked = _approx_rank_col(ranked, col_y, "_zy", bits)
    elif rank == "exact":
        ranked = df.withColumn(
            "_zx",
            (F.percent_rank().over(Window.orderBy(col_x)) * top).cast("bigint"),
        ).withColumn(
            "_zy",
            (F.percent_rank().over(Window.orderBy(col_y)) * top).cast("bigint"),
        )
    else:
        raise ValueError(f"zorder_write: rank must be exact|approx, got {rank!r}")
    zed = ranked.withColumn("_z", zvalue("_zx", "_zy", bits))
    writer = (
        zed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_zx", "_zy", "_z")
        .write.mode("overwrite")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(out_path)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the big side gets a deterministic salt in
    [0, n_salt) (hash of all its columns — uniform, reproducible), the
    small side is replicated n_salt times; the join key becomes
    (key, salt), splitting each hot key's rows across n_salt reducers.

    Use when one key holds an outsized share of the big side (power-law
    user/item distributions) and AQE's skew-split — which only splits
    by partition, not by key — still leaves a straggler.
    """
    for side, df in (("big", big), ("small", small)):
        if "_salt" in df.columns:
            # withColumn would silently replace the caller's column and
            # the final drop erase it — refuse instead (ADVICE r10,
            # same hazard as operators/skewjoin.py)
            raise ValueError(
                f"salted_join: {side} side already has a '_salt' column "
                "— rename it before salting"
            )
    big_cols = [c for c in big.columns]
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big_cols]), F.lit(n_salt))
    )
    salts = small.sparkSession.createDataFrame(
        [(i,) for i in range(n_salt)], "_salt INT"
    )
    replicated_small = small.crossJoin(F.broadcast(salts)).withColumn(
        "_salt", F.col("_salt").cast("bigint")
    )
    out = salted_big.join(replicated_small, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def partitioned_write(
    df: DataFrame,
    out_path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
) -> None:
    """Hive-style partitioned parquet layout (``out/col=value/...``) —
    the directory-level complement to bucketing and Z-order: a filter
    on a partition column is resolved at FILE LISTING time (partition
    pruning), before any parquet footer is opened.

    At 100 TB this is the difference between listing one ``lang=de``
    directory and scanning the full corpus for a per-language job; the
    salted repartition bounds each directory at
    ``files_per_partition`` files instead of one-file-per-task
    fragments (the small-files trap ``compact_parquet`` exists to
    repair). Partition columns must be low-cardinality (lang, source,
    date) — a high-cardinality partition column creates millions of
    directories and moves the bottleneck to the metastore/listing
    layer, which is why doc_id-grained layout goes through
    ``write_bucketed`` instead.

    The shuffle key is (partition cols, salt in [0, files_per_partition)):
    every partition value spreads over up to ``files_per_partition``
    reducers (each writes at most one file per value it holds), and
    distinct values land on DIFFERENT reducers — never
    ``repartition(n, *cols)``, which caps the WHOLE write at n tasks
    (n=1 would funnel 100 TB through a single task).

    The salt is an ``xxhash64`` of the row's non-partition columns: it
    is the same under task retry and independent of the partition
    columns. A position-based salt (row index in its input partition
    mod k) would equal a partition column computed as ``id % k`` and
    give every value one file. A frame of partition columns only
    hashes those.
    """
    cols = [F.col(c) for c in partition_cols]
    hashed = [c for c in df.columns if c not in partition_cols] or partition_cols
    salt = F.pmod(F.xxhash64(*hashed), F.lit(files_per_partition))
    (
        df.withColumn("_file_salt", salt)
        .repartition(*cols, F.col("_file_salt"))
        .drop("_file_salt")
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(out_path)
    )
