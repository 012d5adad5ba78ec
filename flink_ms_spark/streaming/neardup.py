"""Streaming near-duplicate suppression at ingestion — the
incremental form of the MinHash-LSH batch dedup.

Batch LSH (operators/dedup.py:lsh_candidate_pairs) answers "which
pairs in this corpus collide"; an ingestion pipeline needs the online
form: "drop any arriving doc that collides with the corpus seen SO
FAR, and register the survivors". Flink would model this as keyed
state on band signature; Spark-first it is a ``foreachBatch`` loop
over a PERSISTED bucket registry:

per micro-batch
  1. compute MinHash band signatures for arriving docs (same
     md5+affine-reseed math as batch — one digest per shingle);
  2. anti-join the batch's signatures against the registry parquet
     (band_sig → keeper doc_id): any doc sharing a band signature
     with a registered keeper is a near-dup of the seen corpus and is
     dropped (first-seen-wins, matching batch ``lsh`` + min-id
     canonical semantics);
  3. within-batch collisions resolve by connected-component min-id
     (the same transitive semantics as batch ``dup_canonical``) before
     the registry check — a batch is just a small corpus;
  4. append the surviving docs' signatures to the registry.

Scale story: the registry is the ONLY state and it is a plain
hash-partitioned parquet table keyed by band_sig — size is
O(corpus × bands) between compactions; :func:`compact_registry`
collapses it to one keeper row per bucket without changing any
drop decision. The per-batch probe is a
keyed join (broadcast when the batch is small, shuffle-on-band_sig
when not), never a scan of the corpus text. Exactly-once: the
registry append and the survivor sink both key on (batch_id, doc_id)
— a replayed batch overwrites its own partition rather than
double-registering (idempotent foreachBatch, the Spark analogue of
Flink's checkpointed keyed state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ms_spark import fsutil
from flink_ms_spark.operators.dedup import minhash_signatures


def band_signatures(
    docs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band, band_sig): LSH band signatures — delegates to
    the batch operator's ``_band_signatures`` so streaming- and
    batch-produced signatures are BYTE-identical (an earlier local
    reimplementation sorted band rows numerically while the batch path
    sorts the "h:minhash" strings lexically — the two diverge once
    ``num_hashes`` reaches 10, silently breaking registry probes
    against batch-built signatures). Also inherits the batch
    ``band_size == 1`` fast path."""
    from flink_ms_spark.operators.dedup import _band_signatures

    sigs = minhash_signatures(
        docs, num_hashes=num_hashes, shingle_n=shingle_n,
        id_col=id_col, text_col=text_col,
    )
    return _band_signatures(sigs, id_col, band_size)


def compact_registry(
    spark: SparkSession, registry_dir: str, target_files: int = 8
) -> dict:
    """Compact the bucket registry: dedupe to the min-doc_id keeper per
    (band, band_sig) and collapse the O(#micro-batches) per-batch
    partition layout into ONE ``batch_id=-1`` partition of
    ``target_files`` files.

    Why this is the real fix for the O(corpus × bands) growth hazard:
    survivors' buckets are disjoint by construction (any bucket-sharing
    doc is dropped before registering), so the ROW count is already the
    irreducible one-row-per-registered-band — what actually grows
    without bound under streaming is the LAYOUT: every micro-batch
    leaves its own ``batch_id=N`` partition dir with tiny files, so
    after 10^6 micro-batches the probe's scan plans 10^6 partitions.
    Rows can still duplicate per bucket when a replayed batch recreates
    a partition the previous compaction folded away; the min-keeper
    dedupe removes those.

    Decision safety: the probe keys replay-exclusion on doc_id (a doc
    never collides with its own rows), NOT on batch_id, so rewriting
    every row to ``batch_id=-1`` changes no drop decision (pinned in
    tests). Run from a maintenance window: write to a sibling dir, then
    swap. Returns rows/files before and after. All directory ops go
    through the Hadoop FileSystem (fsutil) so the swap works on the
    same shared storage the registry parquet lands on — os.rename on
    an hdfs:// string would fail, and shutil.rmtree would quietly
    delete nothing.
    """

    def _nfiles() -> int:
        return fsutil.count_files(spark, registry_dir, ".parquet")

    if _nfiles() == 0:
        # explicit beats AnalysisException: an ingest that never
        # registered anything (all batches quarantined/empty) has no
        # parquet here, and read.parquet would die on schema inference
        raise ValueError(
            f"compact_registry: no registry rows under {registry_dir}"
        )
    reg = spark.read.parquet(registry_dir)
    compacted = (
        reg.groupBy("band", "band_sig")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "band", "band_sig", F.lit(-1).alias("batch_id"))
        .repartition(target_files)
    )
    before, files_before = reg.count(), _nfiles()
    tmp = registry_dir.rstrip("/") + ".compacting"
    compacted.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    after = spark.read.parquet(tmp).count()
    # Swap by renaming the live registry ASIDE first (never delete
    # before the replacement is in place): Hadoop rename reports many
    # failures by returning false, and a delete-then-failed-rename
    # would leave NO registry at all — every previously-kept doc
    # would be silently re-admitted on the next batch. A failed step
    # here aborts loud and, where possible, rolls the old dir back.
    old = registry_dir.rstrip("/") + ".old"
    fsutil.delete(spark, old)  # stale debris from a prior crash
    if not fsutil.rename(spark, registry_dir, old):
        raise IOError(f"compact_registry: failed to move live registry "
                      f"{registry_dir} aside; compaction aborted, registry intact")
    if not fsutil.rename(spark, tmp, registry_dir):
        restored = fsutil.rename(spark, old, registry_dir)
        raise IOError(f"compact_registry: failed to install compacted registry "
                      f"at {registry_dir}; old registry "
                      f"{'restored' if restored else f'left at {old}'}")
    fsutil.delete(spark, old)
    return {
        "rows_before": before,
        "rows_after": after,
        "files_before": files_before,
        "files_after": _nfiles(),
    }


class StreamingNearDup:
    """Incremental LSH near-dup filter over a document stream.

    ``registry_dir`` holds the persisted bucket registry; survivors of
    each batch are returned by :meth:`process_batch`.

    Survivor sink: with ``out_dir`` set, :meth:`run` writes each
    batch's survivors to ``out_dir/batch_id=N`` parquet INSIDE the
    batch — an idempotent per-batch overwrite, so survivors never
    cross the driver and a replayed batch rewrites its own partition. This matters because
    survivors are the NON-duplicates, i.e. nearly the whole stream at
    typical dup rates; collecting them driver-side is an unbounded
    memory sink at ingest scale. ``debug_keep=True`` opts into the
    driver-side collect for tests/small jobs — EXPLICITLY: running the
    stream with neither ``out_dir`` nor ``debug_keep`` raises rather
    than silently collecting the whole stream into ``kept`` (ADVICE
    r6: the implicit default was the exact unbounded sink the
    paragraph above warns about). ``process_batch`` callers that
    consume the returned survivors themselves need neither.
    """

    def __init__(
        self,
        registry_dir: str,
        num_hashes: int = 8,
        band_size: int = 2,
        shingle_n: int = 3,
        out_dir: str | None = None,
        debug_keep: bool = False,
    ):
        self.registry_dir = registry_dir
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.shingle_n = shingle_n
        self.out_dir = out_dir
        self.debug_keep = debug_keep
        self.kept: list[tuple] = []

    def _registry(self, spark: SparkSession) -> DataFrame | None:
        # fsutil, not os.path: a shared-storage registry URI must not
        # read as "empty" just because the driver's local disk lacks it
        if fsutil.count_files(spark, self.registry_dir, ".parquet") == 0:
            return None
        return spark.read.parquet(self.registry_dir)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Returns the batch's surviving (non-near-dup) docs and
        registers their signatures. Idempotent per batch_id."""
        spark = batch_df.sparkSession
        # EAGER localCheckpoint, not lazy persist (r15): bands feeds
        # the CC membership, the distinct-keeper set, the registry
        # probe and the registry write inside one composed action —
        # AQE's concurrent stage futures race a lazy persist into
        # recomputing the signature kernel per consumer (the r14
        # pathology, fixed in the batch dedup paths). A/B on 2500-doc
        # micro-batches (4 reps): batch walls [3.5, 4.1, 3.5, 4.7] ->
        # [2.1, 1.8, 1.6, 1.6] s (~2.3x).
        bands = band_signatures(
            batch_df,
            num_hashes=self.num_hashes,
            band_size=self.band_size,
            shingle_n=self.shingle_n,
        ).localCheckpoint(eager=True)

        # within-batch: connected-component min-id — the SAME semantics
        # as batch dup_canonical (operators/cluster.py), so collision
        # chains resolve transitively: with A<D<E where D~E and E~A,
        # only A survives (a per-bucket-keeper rule would also keep D).
        # The bipartite CC never expands bucket pairs; a micro-batch's
        # multi-member working set takes the driver union-find fast
        # path in one job.
        from flink_ms_spark.operators.cluster import (
            connected_components_bipartite,
        )

        membership = bands.select(
            "doc_id", F.concat_ws("|", "band", "band_sig").alias("bucket")
        )
        comps = connected_components_bipartite(
            membership, node_col="doc_id", group_col="bucket"
        )
        losers = comps.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        in_batch_kept = (
            bands.select("doc_id").distinct().join(losers, "doc_id", "left_anti")
        )

        reg = self._registry(spark)
        if reg is not None:
            # registry probe: any shared (band, band_sig) with an
            # already-registered keeper of a DIFFERENT doc ⇒ near-dup
            # of the seen corpus. Replay safety is keyed on doc_id, not
            # batch_id: a replayed batch finds its own survivors' rows
            # (same doc_id) and does not self-collide — which also
            # frees compaction to rewrite batch partitions freely.
            seen = reg.select(
                "band", "band_sig", F.col("doc_id").alias("_reg_doc")
            )
            collide = (
                bands.join(in_batch_kept, "doc_id")
                .join(seen, ["band", "band_sig"])
                .where(F.col("doc_id") != F.col("_reg_doc"))
                .select("doc_id")
                .distinct()
            )
            kept_ids = in_batch_kept.join(collide, "doc_id", "left_anti")
        else:
            kept_ids = in_batch_kept

        # materialize BEFORE the registry write below: kept_ids reads
        # the registry files the write replaces (same-table overwrite),
        # and the returned survivors must not lazily re-read them
        kept_ids = kept_ids.localCheckpoint(eager=True)
        survivors = batch_df.join(kept_ids, "doc_id")
        # register survivors' signatures, idempotently per batch
        (
            bands.join(kept_ids, "doc_id")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.registry_dir)
        )
        # (checkpoint blocks are freed when the RDD is GC'd; there is
        # no unpersist() equivalent for localCheckpoint)
        return survivors

    def compact(self, spark: SparkSession) -> dict:
        """See :func:`compact_registry`."""
        return compact_registry(spark, self.registry_dir)

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body — separate so tests can fire a replayed
        batch_id directly and assert the rewrite is idempotent."""
        self._require_sink()
        survivors = self.process_batch(batch_df, batch_id)
        if self.out_dir is not None:
            # distributed sink: per-batch overwrite is idempotent
            # under replay, like the registry write above it — a
            # re-fired batch_id rewrites its own partition
            survivors.write.mode("overwrite").parquet(
                fsutil.join(self.out_dir, f"batch_id={batch_id}")
            )
        if self.debug_keep:
            self.kept.extend(survivors.collect())

    def _require_sink(self) -> None:
        if self.out_dir is None and not self.debug_keep:
            raise ValueError(
                "StreamingNearDup.run() needs a survivor sink: pass "
                "out_dir= for the distributed per-batch parquet sink, "
                "or debug_keep=True to EXPLICITLY opt into the "
                "driver-side collect (unbounded memory at ingest "
                "scale — tests/small jobs only)"
            )

    def run(self, stream_df: DataFrame, checkpoint: str, available_now: bool = True):
        self._require_sink()  # fail before the stream starts, not per batch
        writer = (
            stream_df.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
