"""Streaming ANN index maintenance: encode arriving embedding batches
against the FROZEN artifact of a persisted index — PQ codebooks
(``build_pq_index``), the IVF coarse quantizer + members table
(``build_ivf_index(persist_members=True)``), or the fused IVF-PQ
coarse+codebook pair (``build_ivfpq_index``) — and land them as
idempotent per-batch increment partitions beside the base table.
Serving unions base + live increments through ``load_codes`` (pq) /
``similarity.load_ivf_members`` (ivf) / ``similarity.load_ivfpq_codes``
(ivfpq) — the index stays fresh without retraining, and a replayed
micro-batch overwrites its own partition (exactly-once, the
``batch_id=N`` dynamic-overwrite pattern of the other ingest lanes,
``streaming/neardup.py`` and ``streaming/chunk_dedup.py``).

Why frozen codebooks are the right trade: PQ cell boundaries only
need retraining when the embedding DISTRIBUTION moves (monitored by
the ``centroid_drift`` query and ``reindex_*``'s error ratio), not
when rows arrive.
Encoding is a broadcast-codebook map — no shuffle, no state — so the
streaming path is scan-speed; the expensive Lloyd training stays a
rare offline job.

Id collisions resolve by recency: an id re-sent in a later batch
supersedes its earlier code row (and any base row) at load time via a
vec_id-keyed window — fully parallel, never a global sort. The base
table has batch_id −1, so any increment wins over base.

GENERATION COHERENCE (the reindex interaction): ``reindex_pq`` swaps
in NEW codebooks and bumps the index manifest's generation. A code is
only meaningful against the codebooks that produced it — ADC distances
of old-generation codes against new-generation centroids are
plausible-looking garbage. Three guards make that class impossible:

- every increment partition is stamped ``gen=G/batch_id=N`` with the
  generation the worker's codebooks were loaded under;
- ``load_codes`` serves only increments whose gen matches the CURRENT
  manifest generation (partition-pruned, stale dirs never read);
- ``process_batch`` re-reads the manifest each batch and raises if the
  index was reindexed underneath it — a stale worker fails LOUD at its
  next batch instead of quietly encoding into the new index.

After a reindex, a worker driven through ``run()`` recovers by itself
(reload + re-encode the failed batch under the new generation); a
worker whose ``process_batch`` is called directly must be restarted or
``reload()``-ed. The swap itself discards the increments dir only
after proving the rebuild input covers every served id (reindex_pq's
anti-join gate), so no served ID is lost. The gate proves id coverage
only — an id's latest VALUE survives the swap only if the rebuild
input is the latest corpus snapshot (see reindex_pq's docstring).
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_ms_spark import fsutil
from flink_ms_spark.operators.similarity import (
    load_pq_codebooks,
    pq_encode,
    read_index_manifest,
)

_INC = "codes_increments"


class StaleIndexGenerationError(RuntimeError):
    """The persisted index was reindexed (new codebooks, bumped
    generation) underneath a live worker that loaded the old ones."""


def _migrate_legacy_increments(spark: SparkSession, index_path: str) -> None:
    """Fold pre-generation increment partitions
    (``codes_increments/batch_id=N``) into ``gen=0/batch_id=N``.

    Generation 0 is provably right for them: a legacy partition can
    only exist under an index whose codebooks it was encoded with (the
    pre-stamp reindex deleted the whole increments dir on swap), and a
    pre-manifest index reads as generation 0. Only the WRITER migrates
    (it is about to land a gen-stamped partition, and a future
    partition-discovery read of the mixed layout would fail with
    'conflicting directory structures'); the read path handles legacy
    partitions in place — see load_codes — so serving a legacy-layout
    index never mutates it (read-only storage, concurrent readers).
    Renames are per-directory and idempotent; a lost race against a
    concurrent migrator (rename fails AND the source is gone) is a
    success, not an error."""
    inc = fsutil.join(index_path, _INC)
    if not fsutil.is_dir(spark, inc):
        return
    legacy = [
        n
        for n in fsutil.list_names(spark, inc, dirs_only=True)
        if n.startswith("batch_id=")
    ]
    if not legacy:
        return
    gen_dir = fsutil.join(inc, "gen=0")
    fsutil.mkdirs(spark, gen_dir)
    for name in legacy:
        src = fsutil.join(inc, name)
        if not fsutil.rename(spark, src, fsutil.join(gen_dir, name)):
            if not fsutil.is_dir(spark, src):
                continue  # a concurrent migrator moved it first
            raise IOError(
                f"failed to migrate legacy increment {name} under {inc} "
                f"into gen=0/ — refusing to land a mixed partition layout"
            )


class StreamingAnnIngest:
    """foreachBatch worker: encode + land one increment partition per
    micro-batch, stamped with the generation of the index artifact it
    encoded under. Dispatches on the index manifest kind:

    - **pq** — PQ-encode against the frozen codebooks, land codes
      under ``codes_increments/gen=G/batch_id=N`` (served by
      ``load_codes``);
    - **ivf** — assign cells against the frozen coarse quantizer, land
      raw (id, vec) member rows under
      ``members_increments/gen=G/batch_id=N/cell=C`` (served by
      ``similarity.load_ivf_members`` / ``ivf_members_topk``).
      Requires the index to persist a members table
      (``build_ivf_index(persist_members=True)``) — without one, IVF
      serving assigns candidates from the query-time corpus and is
      exactly as fresh as that corpus, so there is nothing to
      increment (batch-only by contract);
    - **ivfpq** — fused cell-assign + PQ-encode against the frozen
      coarse quantizer AND codebooks (``similarity.ivfpq_encode`` —
      the build's own kernel), land (id, code, cell) under
      ``codes_increments/gen=G/batch_id=N/cell=C`` (served by
      ``similarity.load_ivfpq_codes`` / ``ivfpq_query_topk``).

    TAIL GROWTH: serving reads the FULL live increment tail on every
    lookup (deliberate — a re-sent id may have moved cells, see
    load_ivf_members), and only a reindex folds it away. A
    long-running ingest that never reindexes therefore degrades point
    lookups toward tail scans SILENTLY — so past
    ``tail_warn_batches`` live batch partitions the worker says so
    loudly (one directory listing per batch, no data read — the chunk
    registry's pattern)."""

    def __init__(self, spark: SparkSession, index_path: str,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 tail_warn_batches: int = 64):
        self.spark = spark
        self.index_path = index_path
        self.id_col = id_col
        self.vec_col = vec_col
        self.tail_warn_batches = tail_warn_batches
        self._load_artifacts(spark)

    def _load_artifacts(self, spark: SparkSession) -> None:
        from flink_ms_spark.operators.similarity import (
            has_ivf_members,
            load_ivf_centroids,
            load_pq_codebooks,
        )

        manifest = read_index_manifest(spark, self.index_path)
        self.kind: str = manifest["kind"]
        self.generation: int = manifest["generation"]
        if self.kind == "ivfpq":
            self.centroids = load_ivf_centroids(spark, self.index_path)
            self.codebooks = load_pq_codebooks(spark, self.index_path)
            # a members table (persist_members=True, the rerank lane)
            # must stay in sync with the code table: this worker then
            # lands BOTH increments per batch
            self.has_members: bool = has_ivf_members(spark, self.index_path)
            return
        if self.kind == "ivf":
            if not has_ivf_members(spark, self.index_path):
                raise ValueError(
                    f"StreamingAnnIngest: IVF index {self.index_path} has no "
                    f"members table, so it serves candidates from the "
                    f"query-time corpus (--input) and is exactly as fresh as "
                    f"that corpus — batch-only by contract, nothing to "
                    f"increment. Build with "
                    f"build_ivf_index(persist_members=True) (CLI: "
                    f"build-ann-index --kind ivf --persist-members) to give "
                    f"it a streaming lane."
                )
            self.centroids: np.ndarray = load_ivf_centroids(spark, self.index_path)
        else:
            self.codebooks: np.ndarray = load_pq_codebooks(spark, self.index_path)

    def reload(self, spark: SparkSession | None = None) -> None:
        """Re-read the index artifacts + generation from the live
        index — the recovery step after a reindex swap (what
        constructing a fresh worker would do, without losing the
        object)."""
        self._load_artifacts(spark or self.spark)

    def _land_increment(self, codes: DataFrame, out: str,
                        partition_by: str | None = None) -> None:
        w = codes.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(out)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # per-batch generation check: self.codebooks were loaded ONCE
        # at construction; if reindex_pq swapped the index since, these
        # codebooks no longer match what load_codes will serve against.
        # Fail loud — landing the batch would be silently wrong (and
        # the gen= stamp below keeps even a mid-swap race unservable).
        live = read_index_manifest(batch_df.sparkSession, self.index_path)["generation"]
        if live != self.generation:
            raise StaleIndexGenerationError(
                f"index {self.index_path} is at codebook generation {live} "
                f"but this worker encoded with generation {self.generation} "
                f"— the index was reindexed underneath a live worker. "
                f"Re-encode under the new codebooks (run()'s wrapper and "
                f"reload() do this; a restarted worker reloads in its "
                f"constructor); landing these codes would serve "
                f"mixed-generation distances."
            )
        if self.kind == "ivf":
            from flink_ms_spark.operators.similarity import (
                MEMBERS_INC,
                assign_members,
            )

            out = fsutil.join(
                self.index_path, MEMBERS_INC,
                f"gen={self.generation}", f"batch_id={batch_id}",
            )
            # deterministic within-batch duplicate collapse FIRST (max
            # embedding, lexicographic — arbitrary but replay-stable),
            # then assign, so the landed cell always matches the landed
            # vector
            dedup = batch_df.groupBy(self.id_col).agg(
                F.max(self.vec_col).alias(self.vec_col)
            )
            members = assign_members(dedup, self.centroids,
                                     id_col=self.id_col, vec_col=self.vec_col)
            self._land_increment(members, out, partition_by="cell")
        elif self.kind == "ivfpq":
            from flink_ms_spark.operators.similarity import (
                MEMBERS_INC,
                assign_members,
                ivfpq_encode,
            )

            out = fsutil.join(
                self.index_path, _INC,
                f"gen={self.generation}", f"batch_id={batch_id}",
            )
            # same deterministic within-batch collapse as the ivf lane,
            # BEFORE the fused encode, so the landed (cell, code) pair
            # always comes from the landed vector
            dedup = batch_df.groupBy(self.id_col).agg(
                F.max(self.vec_col).alias(self.vec_col)
            )
            if self.has_members:
                # members FIRST: a serve between the two writes then
                # sees a not-yet-visible candidate (codes absent —
                # harmless) instead of a code whose exact vector is
                # missing (the rerank kernel would raise); a crash
                # between them replays the batch, overwriting both
                mout = fsutil.join(
                    self.index_path, MEMBERS_INC,
                    f"gen={self.generation}", f"batch_id={batch_id}",
                )
                self._land_increment(
                    assign_members(dedup, self.centroids,
                                   id_col=self.id_col, vec_col=self.vec_col),
                    mout, partition_by="cell",
                )
            codes = ivfpq_encode(dedup, self.centroids, self.codebooks,
                                 id_col=self.id_col, vec_col=self.vec_col)
            self._land_increment(codes, out, partition_by="cell")
        else:
            _migrate_legacy_increments(batch_df.sparkSession, self.index_path)
            out = fsutil.join(
                self.index_path, _INC, f"gen={self.generation}", f"batch_id={batch_id}"
            )
            codes = pq_encode(batch_df, self.codebooks,
                              id_col=self.id_col, vec_col=self.vec_col)
            # a micro-batch may carry the same id twice; "latest" within
            # one batch is undefined (no intrinsic order), but the landed
            # row must be DETERMINISTIC or load_codes' recency window
            # breaks ties differently run-to-run (replays stop being
            # idempotent). Collapse to max(code) — arbitrary but stable.
            codes = codes.groupBy(self.id_col).agg(F.max("code").alias("code"))
            self._land_increment(codes, out)
        # post-write re-check: a reindex completing BETWEEN the check
        # above and the write landing leaves this batch under a stale
        # gen= dir — unservable (the gen prune keeps it from ever being
        # WRONG), but the streaming checkpoint would still commit the
        # batch and its vectors would silently vanish from serving.
        # Raise instead: the sink stays uncommitted, the batch replays
        # (on run()'s in-place reload or a worker restart) and re-lands
        # under the new generation. The same refusal covers a reindex
        # IN PROGRESS (the <index>.rebuilding intent marker): its
        # coverage gate already snapshotted the served set, so a batch
        # committing now would be discarded with the increments dir at
        # swap time — uncommitted, it replays after the swap instead.
        # Costs one manifest read + one dir probe per batch.
        spark = batch_df.sparkSession
        if fsutil.is_dir(spark, self.index_path.rstrip("/") + ".rebuilding"):
            raise StaleIndexGenerationError(
                f"index {self.index_path} has a rebuild in progress "
                f"(<index>.rebuilding exists): the reindex coverage gate "
                f"has already snapshotted the served id set, so committing "
                f"batch {batch_id} now would silently discard it at the "
                f"swap. The batch stays uncommitted and replays once the "
                f"rebuild completes (a crashed rebuild leaves the marker — "
                f"re-run reindex or remove the directory)."
            )
        live = read_index_manifest(spark, self.index_path)["generation"]
        if live != self.generation:
            raise StaleIndexGenerationError(
                f"index {self.index_path} was reindexed to generation {live} "
                f"while batch {batch_id} was landing under generation "
                f"{self.generation} — the landed partition is unservable "
                f"(generation-pruned), so the batch must replay under the "
                f"new codebooks rather than commit and silently drop its "
                f"vectors from serving."
            )
        self._warn_on_tail_growth(spark)

    def _warn_on_tail_growth(self, spark: SparkSession) -> None:
        """One directory listing: count this generation's live batch
        partitions and warn past the threshold — every serve reads the
        full tail (cell-move correctness), so unbounded growth turns
        O(n_probe) point lookups into tail scans silently; the fold is
        a reindex (or fold_ann_increments without retraining)."""
        import logging

        inc_name = "members_increments" if self.kind == "ivf" else _INC
        gen_dir = fsutil.join(self.index_path, inc_name, f"gen={self.generation}")
        if not fsutil.is_dir(spark, gen_dir):
            return
        n_tail = sum(
            1
            for n in fsutil.list_names(spark, gen_dir, dirs_only=True)
            if n.startswith("batch_id=")
        )
        if n_tail > self.tail_warn_batches:
            logging.getLogger(__name__).warning(
                "ANN index %s live increment tail holds %d batch "
                "partitions (threshold %d) — every point lookup reads the "
                "full tail until a reindex (reindex-ann) or "
                "fold_ann_increments folds it into the cell-partitioned "
                "base; schedule one in the next maintenance window",
                self.index_path,
                n_tail,
                self.tail_warn_batches,
            )

    def run(self, stream_df: DataFrame, checkpoint: str,
            available_now: bool = True, reload_on_reindex: bool = True):
        """Start the ingest stream. With ``reload_on_reindex`` (the
        default) a reindex swap under the live stream is survived
        in-place: the batch that trips the generation check is
        re-encoded once under the freshly reloaded codebooks instead of
        killing the query. A second swap racing the retry still fails
        loud — then the stream restart replays the batch (the landed
        stale partition is overwrite-idempotent and generation-pruned,
        so nothing is lost or double-served either way)."""
        def _process(batch_df: DataFrame, batch_id: int) -> None:
            try:
                self.process_batch(batch_df, batch_id)
            except StaleIndexGenerationError:
                if not reload_on_reindex:
                    raise
                self.reload(batch_df.sparkSession)
                self.process_batch(batch_df, batch_id)

        writer = stream_df.writeStream.foreachBatch(_process).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def load_codes(spark: SparkSession, index_path: str,
               id_col: str = "vec_id",
               expected_generation: int | None = None) -> DataFrame:
    """The serving view of the code table: base codes plus any landed
    increments OF THE CURRENT CODEBOOK GENERATION, latest batch
    winning per id. Pass the result to ``pq_topk_codes`` exactly like
    the base table. ``expected_generation`` pins both reads for a
    caller that already loaded codebooks under that generation
    (similarity.load_pq_serving — a swap mid-serve then raises in the
    base-codes resolver instead of silently mixing).

    The gen filter is a partition-prune (increments land under
    ``gen=G/batch_id=N``), so stale-generation directories — debris a
    racing worker wrote during a reindex swap — are never even read,
    let alone served as mixed-generation distances.

    This is a PURE read: legacy pre-stamp partitions
    (``codes_increments/batch_id=N``) are read in place as generation
    0 via explicit paths instead of being renamed — a rename on the
    read path broke read-only storage and could race a concurrent
    reader on the same index. The WRITER migrates them before landing
    a stamped partition (see _migrate_legacy_increments)."""
    from flink_ms_spark.operators.similarity import load_pq_codes

    gen = (
        expected_generation
        if expected_generation is not None
        else read_index_manifest(spark, index_path)["generation"]
    )
    base = load_pq_codes(spark, index_path, expected_generation=gen,
                         id_col=id_col).select(
        F.col(id_col), "code", F.lit(-1).cast("long").alias("_b")
    )
    inc_path = fsutil.join(index_path, _INC)
    # fsutil, not os.path: an index on shared storage must not silently
    # serve STALE codes because the driver's local disk lacks inc_path
    if not fsutil.is_dir(spark, inc_path):
        return base.drop("_b")
    names = fsutil.list_names(spark, inc_path, dirs_only=True)
    stamped = [n for n in names if n.startswith("gen=")]
    legacy = [n for n in names if n.startswith("batch_id=")]
    parts = []
    if stamped:
        # explicit stamped paths + basePath: gen/batch_id stay partition
        # columns (the gen filter is still a directory prune) and the
        # listing never trips over a legacy dir's conflicting layout
        parts.append(
            spark.read.option("basePath", inc_path)
            .parquet(*(fsutil.join(inc_path, n) for n in stamped))
            .where(F.col("gen") == gen)
            .select(F.col(id_col), "code", F.col("batch_id").cast("long").alias("_b"))
        )
    if legacy and gen == 0:
        # legacy partitions are generation 0 by construction (the
        # pre-stamp reindex deleted the whole increments dir on swap),
        # so they are servable exactly when the manifest is at gen 0
        parts.append(
            spark.read.option("basePath", inc_path)
            .parquet(*(fsutil.join(inc_path, n) for n in legacy))
            .select(F.col(id_col), "code", F.col("batch_id").cast("long").alias("_b"))
        )
    if not parts:
        return base.drop("_b")
    inc = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    w = Window.partitionBy(id_col).orderBy(F.col("_b").desc())
    return (
        base.unionByName(inc)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(id_col, "code")
    )
