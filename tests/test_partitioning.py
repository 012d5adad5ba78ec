"""Physical-layout contracts: fan_out repair, bucketed shuffle-free
joins, salted skew joins (result parity + plan shape)."""

from pyspark.sql import functions as F

from flink_ms_spark.partitioning import fan_out, salted_join, write_bucketed


def test_fan_out_expands_single_partition(spark):
    df = spark.range(100).coalesce(1)
    assert fan_out(df, target=8).rdd.getNumPartitions() == 8


def test_fan_out_noop_when_parallel_enough(spark):
    df = spark.range(100).repartition(16)
    out = fan_out(df, target=8)
    assert out is df  # no extra shuffle inserted


def test_fan_out_default_target_is_cluster_parallelism(spark):
    df = spark.range(10).coalesce(1)
    expect = spark.sparkContext.defaultParallelism
    assert fan_out(df).rdd.getNumPartitions() == expect


def test_fan_out_size_cap_bounds_tiny_inputs(spark):
    # a multi-KB in-memory relation with a huge kb_per_task collapses
    # to the floor of 2 tasks instead of a full cluster-width wave
    df = spark.range(1000).coalesce(1)
    out = fan_out(df, kb_per_task=1 << 20)
    assert out.rdd.getNumPartitions() == 2


def test_fan_out_size_cap_keeps_full_parallelism_when_big(spark):
    # tiny kb_per_task: the estimate exceeds kb_per_task * parallelism,
    # so the cap is a no-op and the default target applies unchanged
    df = spark.range(100_000).coalesce(1)
    expect = spark.sparkContext.defaultParallelism
    assert fan_out(df, kb_per_task=0.001).rdd.getNumPartitions() == expect


def test_fan_out_explicit_target_ignores_cap(spark):
    # a caller-pinned target (batch-5 per-cell pinning) is never capped
    df = spark.range(100).coalesce(1)
    assert fan_out(df, target=8, kb_per_task=1 << 20).rdd.getNumPartitions() == 8


def test_fan_out_size_cap_never_grows_parallel_input(spark):
    df = spark.range(100).repartition(16)
    assert fan_out(df, kb_per_task=1 << 20) is df


def test_bucketed_join_has_no_exchange(spark):
    # managed tables land in the session's default warehouse dir
    # (spark.sql.warehouse.dir is static); dropped in finally
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        facts = spark.range(1000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("v")
        )
        dims = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        write_bucketed(facts, "b_facts", "k", num_buckets=8, sort_col="k")
        write_bucketed(dims, "b_dims", "k", num_buckets=8, sort_col="k")
        joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dims")


def test_salted_join_matches_plain_join(spark):
    # skewed big side: 90% of rows share key 0
    big = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 7).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(7).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    plain = big.join(small, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    )
    salted = salted_join(big, small, "k", n_salt=4).groupBy("k").agg(
        F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from flink_ms_spark.partitioning import compact_parquet

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    # 64 tiny files
    spark.range(10_000).repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/part-*")) == 64
    n = compact_parquet(spark, src, dst, target_bytes=10**12)
    assert n == 1
    assert len(glob.glob(dst + "/part-*")) == 1
    assert spark.read.parquet(dst).count() == 10_000


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """A Z-ordered layout must prune files on BOTH predicate columns;
    a single-column sort prunes only its own column. Pruning power is
    measured engine-independently from parquet footer min/max stats."""
    import glob

    import pyarrow.parquet as pq

    from flink_ms_spark.partitioning import zorder_write

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("x"),
        # decorrelated second dimension (bit-reversed ordering)
        F.reverse(F.lpad(F.conv(F.col("id").cast("string"), 10, 2), 16, "0")).alias(
            "_b"
        ),
    ).select("x", F.conv(F.col("_b"), 2, 10).cast("bigint").alias("y"))

    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    zorder_write(df, zdir, "x", "y", n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(ldir)

    def files_matching(path, lo_x, hi_x, lo_y, hi_y):
        hit = 0
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins = {"x": [], "y": []}
            maxs = {"x": [], "y": []}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins:
                        mins[name].append(col.statistics.min)
                        maxs[name].append(col.statistics.max)
            if (
                min(mins["x"]) <= hi_x
                and max(maxs["x"]) >= lo_x
                and min(mins["y"]) <= hi_y
                and max(maxs["y"]) >= lo_y
            ):
                hit += 1
        return hit

    # a tight 2-D box: 1/16 of each dimension
    box = (0, n // 16, 0, 65536 // 16 * 3)
    z_hits, l_hits = files_matching(zdir, *box), files_matching(ldir, *box)
    # linear layout: x prunes to ~1 file but that file spans ALL y —
    # no additional pruning. Z-order must beat pure-x pruning only
    # when the second predicate bites; assert it prunes at least as
    # aggressively overall and strictly better on a y-only predicate.
    y_only = (0, n, 0, 65536 // 16)
    assert files_matching(zdir, *y_only) < files_matching(ldir, *y_only)
    assert z_hits <= 16 and l_hits <= 16
    # correctness: layouts hold identical data
    assert spark.read.parquet(zdir).count() == n
    got = spark.read.parquet(zdir).agg(F.sum("x"), F.sum("y")).collect()[0]
    want = df.agg(F.sum("x"), F.sum("y")).collect()[0]
    assert tuple(got) == tuple(want)

    # the approx (sketch-cutpoint, no-global-sort) rank path — the
    # 100 TB variant — must preserve the data exactly and keep the
    # Z-curve's cross-column pruning property: strictly better than
    # the linear layout on the y-only predicate, same as exact.
    adir = str(tmp_path / "zorder_approx")
    zorder_write(df, adir, "x", "y", n_files=16, rank="approx")
    assert spark.read.parquet(adir).count() == n
    got_a = spark.read.parquet(adir).agg(F.sum("x"), F.sum("y")).collect()[0]
    assert tuple(got_a) == tuple(want)
    assert files_matching(adir, *y_only) < files_matching(ldir, *y_only)
    assert files_matching(adir, *box) <= 16


def test_zorder_approx_handles_skew_and_constant_columns(spark, tmp_path):
    """Approx cutpoints on pathological inputs: a 90%-one-value column
    collapses duplicate cutpoints (coarser curve, never an error), and
    a CONSTANT column degrades to a single bucket — both must still
    write all rows."""
    from flink_ms_spark.partitioning import zorder_write

    n = 5_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("x"),
        F.lit(3).alias("y"),
    )
    out = str(tmp_path / "skewz")
    zorder_write(df, out, "x", "y", n_files=4, rank="approx")
    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.agg(F.sum("x")).collect()[0][0] == df.agg(F.sum("x")).collect()[0][0]


def test_zorder_write_honors_max_records_per_file(spark, tmp_path):
    """The huge-files guard the plain partitioned write honors must
    apply to the Z-ordered layout too: a per-file row cap splits the
    range partitions into more (still curve-sorted) files."""
    import glob

    from flink_ms_spark.partitioning import zorder_write

    df = spark.range(4_000).select(
        F.col("id").alias("x"), (F.col("id") * 7 % 4000).alias("y")
    )
    out = str(tmp_path / "capped")
    zorder_write(df, out, "x", "y", n_files=2, max_records_per_file=500)
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) >= 8  # 4000 rows / 500 cap
    assert spark.read.parquet(out).count() == 4_000


def test_fixture_drift_guard(spark, sf_smoke, tmp_path):
    """load_table fails fast with a named error when a load-bearing
    fixture column changes physical type (the nanos->micros ts drift
    silently broke epoch math once; never again silently)."""
    import os

    import pytest

    from flink_ms_spark.sources.tables import load_table

    # current fixtures pass the guard
    assert load_table(spark, sf_smoke, "events").schema

    # simulate a drifted regeneration: ts as BIGINT
    drifted = str(tmp_path / "drift")
    os.makedirs(drifted)
    load_table(spark, sf_smoke, "events").selectExpr(
        "event_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts", "user_id",
        "event_type", "value", "props"
    ).write.parquet(os.path.join(drifted, "events.parquet"))
    with pytest.raises(TypeError, match="fixture drift: events.ts"):
        load_table(spark, drifted, "events")


def test_fixture_guard_covers_every_epoch_and_arith_column(spark, sf_smoke):
    """The guard must enumerate every fixture column the catalog's
    epoch/arithmetic math touches: all timestamps, all doubles that feed
    aggregates, and all integer keys that feed `%`/CAST truncation —
    across every fixture table. Current fixtures must all pass it."""
    from flink_ms_spark.schemas import FIXTURE_TABLES
    from flink_ms_spark.sources.tables import _CRITICAL_TYPES, load_table

    for t in FIXTURE_TABLES:
        df = load_table(spark, sf_smoke, t)  # guard runs inside
        pinned = _CRITICAL_TYPES.get(t, {})
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        # every timestamp/double column in a pinned table must be pinned
        # (a new unpinned one means the guard has a blind spot)
        if pinned:
            for col, typ in actual.items():
                if typ.startswith("timestamp") or typ == "double":
                    assert col in pinned, f"{t}.{col} ({typ}) unpinned"
    # the columns the synthetic-model `% N` arithmetic touches
    assert "event_id" in _CRITICAL_TYPES["events"]
    assert "user_id" in _CRITICAL_TYPES["events"]


def test_partitioned_write_prunes_at_listing_time(spark, tmp_path):
    """A filter on the hive-partition column must become a
    PartitionFilter on the scan (resolved at file listing, zero
    footers opened for other partitions) and the directory layout must
    be one file per partition value — not one-file-per-task
    fragments."""
    import glob

    from flink_ms_spark.partitioning import partitioned_write

    df = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("lang"),
    )
    out = str(tmp_path / "part")
    partitioned_write(df, out, ["lang"], files_per_partition=1)

    # layout: exactly one parquet file under each lang=value directory
    for v in range(4):
        files = glob.glob(f"{out}/lang={v}/*.parquet")
        assert len(files) == 1, files

    # files_per_partition must FAN OUT the write (the salt spreads
    # each value over up to k reducers), never funnel it: with k=4 the
    # total file count across the 4 values exceeds one-per-value, and
    # no directory exceeds k files, whatever the input partitioning (a
    # salt that tracked the row's position in its input partition would
    # equal ``id % 4`` at 2,500-row partitions and collapse each value
    # to one file). AQE's partition coalescing re-merges this TINY
    # shuffle into few tasks (correct at this size — the salt matters
    # when partitions are big enough to survive coalescing), so pin the
    # mechanism with coalescing off.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for n_parts in (None, 4, 32):  # None: the session's default
            df_n = spark.range(10_000, numPartitions=n_parts).select(
                F.col("id"), (F.col("id") % 4).cast("string").alias("lang")
            )
            out4 = str(tmp_path / f"part4-{n_parts}")
            partitioned_write(df_n, out4, ["lang"], files_per_partition=4)
            per_dir = [len(glob.glob(f"{out4}/lang={v}/*.parquet")) for v in range(4)]
            assert all(1 <= n <= 4 for n in per_dir), (n_parts, per_dir)
            assert sum(per_dir) > 4, (n_parts, per_dir)
            back = spark.read.parquet(out4)
            assert back.count() == 10_000 and back.where("lang = '2'").count() == 2500
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    scan = spark.read.parquet(out).filter(F.col("lang") == "2")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:80]
    # the data filter list must NOT carry the partition predicate —
    # pruning happened above the parquet reader
    assert scan.count() == 2500


def test_zorder_report_and_layout_agree_at_sf001(spark, tmp_path):
    """The zorder_skipping catalog query is the PLANNING REPORT that
    justifies a Z-order rewrite; zorder_write is the rewrite. At
    sf0.01 the two must agree: the skip rate measured from the written
    files' parquet footer min/max stats lands within 10 points of the
    report's zorder model (observed 75.0% vs 78.2%) and far above the
    report's linear-layout model (20.4%) on the same 20x20 box."""
    import glob

    import pyarrow.parquet as pq

    from flink_ms_spark.plans.catalog import QUERIES
    from flink_ms_spark.partitioning import zorder_write
    from flink_ms_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    report = {r.layout: r.asDict() for r in QUERIES["zorder_skipping"](spark, sf).collect()}

    # the exact normalized point set the report models
    e = load_table(spark, sf, "events").selectExpr(
        "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS day_no"
    )
    m = e.agg(F.min("user_id").alias("mu"), F.min("day_no").alias("md"))
    xy = e.crossJoin(m).selectExpr(
        "least(user_id - mu, 255) AS x", "least(day_no - md, 255) AS y"
    )

    d = str(tmp_path / "zlayout")
    zorder_write(xy, d, "x", "y", n_files=64, bits=8)

    tot = scanned = 0
    for f in glob.glob(d + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins = {"x": [], "y": []}
        maxs = {"x": [], "y": []}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in mins:
                    mins[col.path_in_schema].append(col.statistics.min)
                    maxs[col.path_in_schema].append(col.statistics.max)
        tot += md.num_rows
        if (
            max(maxs["x"]) >= 10 and min(mins["x"]) <= 29
            and max(maxs["y"]) >= 5 and min(mins["y"]) <= 24
        ):
            scanned += md.num_rows

    assert tot == report["zorder"]["rows_total"]
    actual_skip = 100.0 * (tot - scanned) / tot
    assert abs(actual_skip - report["zorder"]["skip_pct"]) <= 10.0, (
        f"layout skip {actual_skip:.1f}% disagrees with the report's "
        f"{report['zorder']['skip_pct']}%"
    )
    assert actual_skip > report["linear"]["skip_pct"] + 20, (
        "the executable Z-layout must decisively beat the linear model"
    )
