"""Incremental chunk-level dedup over a document stream — the
streaming twin of the ``cdc_chunk_dedup`` batch report.

Near-dup LSH (streaming/neardup.py) admits or rejects a document on
SIGNATURE collision; chunk-level dedup measures how much of the
document's actual CONTENT the corpus already holds — robust to edits
(content-defined boundaries, operators/chunking.py) and to documents
assembled from previously-seen pieces (boilerplate quilts), which no
whole-doc signature catches. A document is rejected when the share of
its characters living in already-owned chunks exceeds
``max_dup_ratio``.

Registry layout — TWO tiers:

- **live tier** ``registry_dir/batch_id=N/`` — parquet of the ADMITTED
  docs' chunk rows (doc_id, chunk_hash, length), one partition per
  micro-batch, written with the same idempotent
  dynamic-partition-overwrite discipline as the neardup registry so a
  replayed micro-batch rewrites its own partition;
- **base tier** ``registry_dir + "_base"`` — the compacted form
  (:func:`compact_chunk_registry`): at most two witness rows per
  chunk_hash, stored as a BUCKETED parquet table clustered by
  chunk_hash, so the per-batch probe joins it with NO exchange on the
  registry side and no per-batch ``distinct()`` over the corpus — the
  O(|registry|) scan-and-shuffle per micro-batch that the un-compacted
  layout pays is the straggler at corpus scale.

Decision determinism under replay — three rules, each load-bearing:

- WITHIN a batch, every chunk hash has one canonical owner — the
  smallest (doc_id, chunk_idx) over the WHOLE batch, admitted or not —
  so the intra-batch verdict depends only on batch content, which a
  replay repeats bit-for-bit;
- the registry probe IGNORES rows whose ``batch_id`` equals the
  in-flight batch's: unlike neardup (where ANY collision drops a doc,
  so co-admitted docs never share buckets and the doc_id rule alone
  suffices), the RATIO rule legally co-admits docs that partially
  share chunks — e.g. a 400-char doc fully contained in a co-admitted
  1000-char doc is 0% dup on the first attempt; without the batch
  exclusion, a replay would see the big doc's first-attempt rows as
  foreign owners, read the small doc as 100% dup, and silently drop it
  (the replay-idempotency violation ADVICE r10 flagged);
- rows registered to the probing doc's OWN doc_id never count as
  foreign, so a doc re-arriving across batches (or surviving rows
  folded into the base tier) cannot self-collide.

Compaction safety: :func:`compact_chunk_registry` must run from a
maintenance window — stream stopped, every live ``batch_id=N``
partition committed in the checkpoint (the same contract as
``neardup.compact_registry``). Base rows therefore all come from
batches that can never replay again, which is why the batch-exclusion
rule only needs to consult the LIVE tier's batch_id column. The
two-witness rule (keep the two smallest distinct owner doc_ids per
chunk_hash) preserves every future verdict exactly: the probe's
predicate is "∃ registered owner with doc_id ≠ mine", and for ANY
probing doc two distinct witnesses answer that predicate identically
to the full owner set — both pinned in tests/test_chunk_dedup_stream.py.
"""

from __future__ import annotations

import hashlib
import json
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ms_spark import fsutil
from flink_ms_spark.operators.chunking import cdc_chunk_spans

_MANIFEST = "MANIFEST.json"


def _base_dir(registry_dir: str) -> str:
    return registry_dir.rstrip("/") + "_base"


def _read_manifest(spark: SparkSession, base_dir: str) -> dict | None:
    path = fsutil.join(base_dir, _MANIFEST)
    if not fsutil.exists(spark, path):
        return None
    return json.loads(fsutil.read_text(spark, path))


def base_table(spark: SparkSession, registry_dir: str) -> DataFrame | None:
    """The compacted base tier as a catalog-registered BUCKETED table
    (or None before the first compaction).

    The manifest — written last, so it is the commit marker (the
    serving/store.py discipline) — names the current generation dir;
    the table is (re-)declared over those files on demand because the
    in-memory catalog does not survive a SparkSession restart. The
    files were written by Spark's bucketed writer, so re-declaring
    ``CLUSTERED BY (chunk_hash)`` over them is exact, and a join on
    chunk_hash plans no Exchange on this side (pinned in
    tests/test_chunk_dedup_stream.py)."""
    base = _base_dir(registry_dir)
    man = _read_manifest(spark, base)
    if man is None:
        return None
    name = man["table"]
    if not spark.catalog.tableExists(name):
        # single quotes in the path double-escape for the SQL literal
        # (saveAsTable took the path as an option, so a quoted corpus
        # dir only bites on re-attach); the table name is generated
        # hex and needs no quoting
        loc = man["path"].replace("'", "''")
        spark.sql(
            f"CREATE TABLE {name} "
            "(doc_id BIGINT, chunk_hash STRING, length INT) "
            "USING PARQUET CLUSTERED BY (chunk_hash) "
            f"SORTED BY (chunk_hash) INTO {man['buckets']} BUCKETS "
            f"LOCATION '{loc}'"
        )
    return spark.table(name)


def compact_chunk_registry(
    spark: SparkSession, registry_dir: str, buckets: int = 8
) -> dict:
    """Fold the live per-batch partitions (and any previous base
    generation) into a fresh bucketed base generation; empty the live
    tier. Run ONLY from a maintenance window (stream stopped, all live
    partitions checkpoint-committed — see module docstring).

    Row rule: per chunk_hash keep the TWO smallest distinct owner
    doc_ids (window over chunk_hash — per-key sort, never global).
    Two distinct witnesses decide "∃ owner ≠ me" identically to the
    full owner set for every possible prober, so no admission verdict
    can change across compaction; rows collapse from O(admitted
    chunk rows) to ≤ 2 per distinct hash, and the layout collapses
    from O(#micro-batches) partition dirs to ``buckets`` files.

    Crash ordering: new generation files first, manifest flip second
    (the commit point), live-tier/old-generation deletes last. A crash
    between flip and delete leaves rows present in BOTH tiers — the
    probe OR-combines the tiers, so duplicates cannot flip a verdict;
    the next compaction folds the debris away.
    """
    from pyspark.sql.window import Window

    base = _base_dir(registry_dir)
    man = _read_manifest(spark, base)

    tiers = []
    if fsutil.count_files(spark, registry_dir, ".parquet") > 0:
        tiers.append(
            spark.read.parquet(registry_dir).select(
                "doc_id", "chunk_hash", "length"
            )
        )
    prev = base_table(spark, registry_dir)
    if prev is not None:
        tiers.append(prev.select("doc_id", "chunk_hash", "length"))
    if not tiers:
        raise ValueError(f"compact_chunk_registry: no registry rows under "
                         f"{registry_dir} (live) or {base} (base)")
    allrows = tiers[0]
    for t in tiers[1:]:
        allrows = allrows.unionByName(t)

    owners = allrows.groupBy("chunk_hash", "doc_id").agg(
        F.min("length").alias("length")
    )
    witnesses = (
        owners.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("chunk_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("_rn") <= 2)
        .select("doc_id", "chunk_hash", "length")
    )

    gen = 0 if man is None else man["generation"] + 1
    gen_dir = fsutil.join(base, f"gen={gen}")
    # unique-per-location table name: the in-memory catalog is
    # session-scoped, but a long-lived session compacting twice must
    # not collide with its own previous registration
    tbl = f"chunkreg_{hashlib.md5(registry_dir.encode()).hexdigest()[:10]}_g{gen}"
    rows_before = allrows.count()
    (
        witnesses.repartition(buckets, "chunk_hash")
        .write.mode("overwrite")
        .bucketBy(buckets, "chunk_hash")
        .sortBy("chunk_hash")
        .option("path", gen_dir)
        .saveAsTable(tbl)
    )
    rows_after = spark.table(tbl).count()
    fsutil.replace_text(
        spark,
        fsutil.join(base, _MANIFEST),
        json.dumps(
            {"generation": gen, "path": gen_dir, "buckets": buckets, "table": tbl}
        ),
    )
    # commit point passed — clear the folded-away layouts. GC sweeps
    # EVERY generation dir and catalog entry the fresh manifest does
    # not name (not just this run's direct predecessor): a crash in a
    # previous compaction's window between ITS manifest flip and ITS
    # cleanup leaves older generations orphaned, and a targeted
    # predecessor-only delete would never reclaim them.
    for name in fsutil.list_names(spark, registry_dir, dirs_only=True):
        if name.startswith("batch_id="):
            fsutil.delete(spark, fsutil.join(registry_dir, name))
    for name in fsutil.list_names(spark, base, dirs_only=True):
        if name.startswith("gen=") and name != f"gen={gen}":
            fsutil.delete(spark, fsutil.join(base, name))
    prefix = tbl.rsplit("_g", 1)[0] + "_g"
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix) and t.name != tbl:
            spark.sql(f"DROP TABLE {t.name}")
    return {
        "generation": gen,
        "rows_before": rows_before,
        "rows_after": rows_after,
        "files_after": fsutil.count_files(spark, gen_dir, ".parquet"),
    }


class StreamingChunkDedup:
    """foreachBatch worker: admit docs whose chunk-duplication ratio
    against (batch canon + registry) stays at or below
    ``max_dup_ratio``; register admitted docs' chunks idempotently."""

    def __init__(
        self,
        registry_dir: str,
        max_dup_ratio: float = 0.5,
        window: int = 8,
        min_len: int = 16,
        max_len: int = 128,
        divisor: int = 16,
        out_dir: str | None = None,
        tail_warn_batches: int = 64,
    ):
        self.registry_dir = registry_dir
        self.max_dup_ratio = max_dup_ratio
        self.chunk_params = dict(
            window=window, min_len=min_len, max_len=max_len, divisor=divisor
        )
        self.out_dir = out_dir
        self.tail_warn_batches = tail_warn_batches

    def _live(self, spark: SparkSession) -> DataFrame | None:
        # fsutil, not os.path: a shared-storage registry URI must not
        # read as "empty" just because the driver's disk lacks it
        if fsutil.count_files(spark, self.registry_dir, ".parquet") == 0:
            return None
        return spark.read.parquet(self.registry_dir)

    def probe(self, spans: DataFrame, batch_id: int) -> DataFrame:
        """Per-chunk foreign-ownership flags against both tiers:
        (doc_id, chunk_idx, length, _reg_dup).

        Base tier: bucketed-by-chunk_hash table — the join shuffles
        only the batch side (no Exchange over the corpus registry,
        plan-pinned) and needs no ``distinct()`` because compaction
        already bounded it at two rows per hash. Live tier: the
        since-last-compaction tail, filtered to OTHER batches (the
        replay-exclusion rule) — small by construction, so Spark
        broadcasts it.
        """
        spark = spans.sparkSession
        probe = spans.select("doc_id", "chunk_idx", "length", "chunk_hash")

        base = base_table(spark, self.registry_dir)
        if base is not None:
            probe = probe.join(
                base.select(
                    "chunk_hash", F.col("doc_id").alias("_base_doc")
                ),
                "chunk_hash",
                "left",
            )
        else:
            probe = probe.withColumn("_base_doc", F.lit(None).cast("long"))

        live = self._live(spark)
        if live is not None:
            # growth guard: the cost model assumes the live tail stays
            # broadcast-small because compaction folds it away. An
            # operator who never compacts regrows the pre-two-tier
            # straggler SILENTLY — the probe still returns correct
            # verdicts, just slower every batch — so past the
            # threshold, say so loudly. Counting partition DIRS is one
            # listing call, no data read.
            n_tail = sum(
                1
                for n in fsutil.list_names(spark, self.registry_dir, dirs_only=True)
                if n.startswith("batch_id=")
            )
            if n_tail > self.tail_warn_batches:
                logging.getLogger(__name__).warning(
                    "chunk registry live tail at %s holds %d batch "
                    "partitions (threshold %d) — the probe join side "
                    "grows every batch until compaction folds it into "
                    "the bucketed base; run compact_chunk_registry in "
                    "the next maintenance window",
                    self.registry_dir,
                    n_tail,
                    self.tail_warn_batches,
                )
            # distinct BEFORE the join: an admitted doc holding the
            # same chunk k times registered k identical rows, and
            # between compactions that duplication would fan the probe
            # join out k-fold (the tail is small, the dedup is cheap)
            tail = (
                live.where(F.col("batch_id") != F.lit(batch_id))
                .select("chunk_hash", F.col("doc_id").alias("_live_doc"))
                .distinct()
            )
            probe = probe.join(tail, "chunk_hash", "left")
        else:
            probe = probe.withColumn("_live_doc", F.lit(None).cast("long"))

        # a hash may match several registry owners (≤2 base witnesses
        # × live tail rows); one foreign owner suffices — collapse
        # back to one row per chunk
        return probe.groupBy("doc_id", "chunk_idx", "length").agg(
            F.max(
                (
                    F.col("_base_doc").isNotNull()
                    & (F.col("_base_doc") != F.col("doc_id"))
                )
                | (
                    F.col("_live_doc").isNotNull()
                    & (F.col("_live_doc") != F.col("doc_id"))
                )
            ).alias("_reg_dup")
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Returns the batch's admitted docs; registers their chunks.
        Idempotent per batch_id."""
        # EAGER localCheckpoint, not lazy persist (r15): spans feeds
        # four consumers in one composed action (canon, the intra join,
        # the registry probe, the chunkless anti-join), and AQE's
        # concurrent stage futures race a lazy persist into recomputing
        # the uncached chunker subtree per consumer — the same
        # pathology r14 profiled (4x) and fixed in the batch dedup
        # paths. A/B on 2500-doc micro-batches (4 reps): batch walls
        # [5.8, 2.8, 3.0, 1.8] -> [4.7, 2.1, 1.9, 1.9] s.
        spans = cdc_chunk_spans(batch_df, **self.chunk_params).localCheckpoint(
            eager=True
        )

        # within-batch canonical owner per chunk hash (admission-blind
        # and therefore replay-stable — see module docstring)
        canon = spans.groupBy("chunk_hash").agg(
            F.min(F.struct("doc_id", "chunk_idx")).alias("_canon")
        )
        intra = (
            spans.join(canon, "chunk_hash")
            .select(
                "doc_id",
                "chunk_idx",
                (F.col("doc_id") != F.col("_canon.doc_id")).alias("_intra_dup"),
            )
        )
        flagged = self.probe(spans, batch_id).join(
            intra, ["doc_id", "chunk_idx"]
        )

        verdict = (
            flagged.withColumn(
                "_dup", F.col("_intra_dup") | F.col("_reg_dup")
            )
            .groupBy("doc_id")
            .agg(
                F.sum("length").alias("_chars"),
                F.sum(F.when(F.col("_dup"), F.col("length")).otherwise(0)).alias(
                    "_dup_chars"
                ),
            )
            .where(
                F.col("_dup_chars")
                <= F.lit(self.max_dup_ratio) * F.col("_chars")
            )
            .select("doc_id")
        )
        # docs that produced NO chunks (empty/null text) have zero
        # duplicated characters by definition — the span-derived
        # verdict never sees them, and without this union they would
        # silently vanish from the survivors (review r11)
        chunkless = batch_df.select("doc_id").join(
            spans.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        verdict = verdict.unionByName(chunkless)
        # materialize BEFORE the registry write: the verdict plan reads
        # the registry files the overwrite below replaces
        kept_ids = verdict.localCheckpoint(eager=True)
        survivors = batch_df.join(kept_ids, "doc_id")
        (
            spans.join(kept_ids, "doc_id")
            .select("doc_id", "chunk_hash", "length")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.registry_dir)
        )
        # (checkpoint blocks are freed when the RDD is GC'd; there is
        # no unpersist() equivalent for localCheckpoint)
        return survivors

    def compact(self, spark: SparkSession, buckets: int = 8) -> dict:
        """See :func:`compact_chunk_registry` (maintenance window only)."""
        return compact_chunk_registry(spark, self.registry_dir, buckets=buckets)

    def _require_sink(self) -> None:
        if self.out_dir is None:
            raise ValueError(
                "StreamingChunkDedup.run needs out_dir — survivors are "
                "stream-scale and must not collect on the driver"
            )

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        self._require_sink()
        survivors = self.process_batch(batch_df, batch_id)
        survivors.write.mode("overwrite").parquet(
            fsutil.join(self.out_dir, f"batch_id={batch_id}")
        )

    def run(self, stream_df: DataFrame, checkpoint: str,
            available_now: bool = True):
        # fail before the stream starts: raising from inside _sink
        # would first process a whole batch (registry already
        # mutated) and only then kill the query (review r11; the
        # neardup sibling has always checked here)
        self._require_sink()
        writer = stream_df.writeStream.foreachBatch(self._sink).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
