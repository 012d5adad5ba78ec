"""Streaming ANN index maintenance: encode arriving embedding batches
against the FROZEN artifacts of a persisted index (any kind of
``similarity.INDEX_KINDS``, built by ``build_index``) and land them as
idempotent per-batch increment partitions beside each served table.
Serving unions base + live increments through ``similarity.served_view``,
so the index stays fresh without retraining, and a replayed
micro-batch overwrites its own partition (exactly-once, the
``batch_id=N`` dynamic-overwrite pattern of the other ingest lanes,
``streaming/neardup.py`` and ``streaming/chunk_dedup.py``).

Why frozen artifacts are the right trade: PQ cell boundaries and coarse
centroids only need retraining when the embedding DISTRIBUTION moves
(monitored by the ``centroid_drift`` query and ``reindex``'s error
ratios), not when rows arrive. Encoding is a broadcast-artifact map —
no state — so the streaming path is scan-speed; the expensive Lloyd
training stays a rare offline job.

Id collisions resolve by recency: an id re-sent in a later batch
supersedes its earlier row (and any base row) at load time via an
id-keyed window — fully parallel, never a global sort. The base table
has batch_id −1, so any increment wins over base.

GENERATION COHERENCE (the reindex interaction): ``reindex`` swaps in
NEW artifacts and bumps the index manifest's generation. A code or
cell is only meaningful against the artifacts that produced it — ADC
distances of old-generation codes against new-generation centroids are
plausible-looking garbage. Three guards make that class impossible:

- every increment partition is stamped ``gen=G/batch_id=N`` with the
  generation the worker's artifacts were loaded under;
- ``served_view`` serves only the increments of the CURRENT manifest
  generation (stale dirs are never read);
- ``process_batch`` re-reads the manifest each batch and raises if the
  index was reindexed underneath it — a stale worker fails LOUD at its
  next batch instead of quietly encoding into the new index.

After a reindex, a worker driven through ``run()`` recovers by itself
(reload + re-encode the failed batch under the new generation); a
worker whose ``process_batch`` is called directly must be restarted or
``reload()``-ed. The swap itself discards the increments only after
proving the rebuild input covers every served id (reindex's anti-join
gate), so no served ID is lost. The gate proves id coverage only — an
id's latest VALUE survives the swap only if the rebuild input is the
latest corpus snapshot (see reindex's docstring).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ms_spark import fsutil
from flink_ms_spark.operators.similarity import (
    INDEX_KINDS,
    live_increment_census,
    load_index,
    persisted_tables,
    read_index_manifest,
)


class StaleIndexGenerationError(RuntimeError):
    """The persisted index was reindexed (new artifacts, bumped
    generation) underneath a live worker that loaded the old ones."""


class StreamingAnnIngest:
    """foreachBatch worker: collapse each micro-batch to one row per id,
    encode it into every served table of the index with the kind's own
    kernels (the build's), and land one increment partition per table
    under ``<table>_increments/gen=G/batch_id=N`` (``cell=C`` below that
    where the table has cells), stamped with the generation of the
    artifacts it encoded under. An ivfpq index with members lands
    members first, then codes (INDEX_KINDS' write order): a serve
    between the two writes sees a not-yet-visible candidate, never a
    code without its exact vector, and a crash between them replays
    the batch, overwriting both. An ivf index built without members has
    no served table and serves from the query-time corpus — batch-only
    by contract — so the worker refuses it.

    TAIL GROWTH: serving reads the FULL live increment tail on every
    lookup (deliberate — a re-sent id may have moved cells, see
    served_view), and only a fold or reindex folds it away. A
    long-running ingest that never folds therefore degrades point
    lookups toward tail scans SILENTLY — so past ``tail_warn_batches``
    live batch partitions the worker says so loudly (one directory
    listing per batch, no data read — the chunk registry's pattern)."""

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
        kind, self.artifacts, self.generation = load_index(spark, self.index_path)
        self.kind: str = kind.name
        self.tables = persisted_tables(spark, self.index_path, kind)
        if not self.tables:
            raise ValueError(
                f"StreamingAnnIngest: {self.kind} index {self.index_path} "
                f"has no members table, so it serves candidates from the "
                f"query-time corpus (--input) and is exactly as fresh as "
                f"that corpus — batch-only by contract, nothing to "
                f"increment. Build with build_index(kind='ivf', "
                f"persist_members=True) (CLI: build-ann-index --kind ivf "
                f"--persist-members) to give it a streaming lane."
            )

    def reload(self, spark: SparkSession | None = None) -> None:
        """Re-read the index artifacts + generation from the live
        index — the recovery step after a reindex swap (what
        constructing a fresh worker would do, without losing the
        object)."""
        self._load_artifacts(spark or self.spark)

    def _land_increment(self, rows: DataFrame, out: str) -> None:
        w = rows.write.mode("overwrite")
        (w.partitionBy("cell") if "cell" in rows.columns else w).parquet(out)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # per-batch generation check: the artifacts were loaded ONCE;
        # if a reindex swapped the index since, they no longer match
        # what served_view will serve against. Fail loud — landing the
        # batch would be silently wrong (and the gen= stamp below keeps
        # even a mid-swap race unservable).
        spark = batch_df.sparkSession
        live = read_index_manifest(spark, self.index_path)["generation"]
        if live != self.generation:
            raise StaleIndexGenerationError(
                f"index {self.index_path} is at artifact generation {live} "
                f"but this worker encoded with generation {self.generation} "
                f"— the index was reindexed underneath a live worker. "
                f"Re-encode under the new artifacts (run()'s wrapper and "
                f"reload() do this; a restarted worker reloads in its "
                f"constructor); landing these rows would serve "
                f"mixed-generation distances."
            )
        # a micro-batch may carry the same id twice; "latest" within one
        # batch is undefined, but the landed row must be DETERMINISTIC or
        # the recency window breaks ties differently run to run (replays
        # stop being idempotent). Collapse to max(embedding) — arbitrary
        # but replay-stable — BEFORE encoding, so every landed cell and
        # code comes from the landed vector.
        rows = batch_df.groupBy(self.id_col).agg(
            F.max(self.vec_col).alias(self.vec_col)
        )
        encode = INDEX_KINDS[self.kind].tables
        for table in self.tables:
            self._land_increment(
                encode[table](rows, self.artifacts, self.id_col, self.vec_col),
                fsutil.join(self.index_path, f"{table}_increments",
                            f"gen={self.generation}", f"batch_id={batch_id}"),
            )
        # post-write re-check: a reindex completing BETWEEN the check
        # above and the write landing leaves this batch under a stale
        # gen= dir — unservable (never WRONG), but the streaming
        # checkpoint would still commit the batch and its vectors would
        # silently vanish from serving. Raise instead: the sink stays
        # uncommitted, the batch replays (run()'s in-place reload or a
        # worker restart) and re-lands under the new generation. The
        # same refusal covers a rebuild IN PROGRESS (the
        # <index>.rebuilding intent marker): its coverage gate may have
        # snapshotted the served set already, so a batch committing now
        # would be discarded with the increments at the swap.
        if fsutil.is_dir(spark, self.index_path.rstrip("/") + ".rebuilding"):
            raise StaleIndexGenerationError(
                f"index {self.index_path} has a rebuild in progress "
                f"(<index>.rebuilding exists): the reindex coverage gate "
                f"may have snapshotted the served id set, so committing "
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
                f"new artifacts rather than commit and silently drop its "
                f"vectors from serving."
            )
        self._warn_on_tail_growth(spark)

    def _warn_on_tail_growth(self, spark: SparkSession) -> None:
        """One directory listing: count this generation's live batch
        partitions and warn past the threshold."""
        n_tail = len(live_increment_census(
            spark, self.index_path, self.tables[-1], self.generation)[0])
        if n_tail > self.tail_warn_batches:
            logging.getLogger(__name__).warning(
                "ANN index %s live increment tail holds %d batch "
                "partitions (threshold %d) — every point lookup reads the "
                "full tail until a reindex (reindex-ann) or a fold "
                "(reindex-ann --fold) folds it into the base; schedule "
                "one in the next maintenance window",
                self.index_path,
                n_tail,
                self.tail_warn_batches,
            )

    def run(self, stream_df: DataFrame, checkpoint: str,
            available_now: bool = True):
        """Start the ingest stream. A reindex swap under the live
        stream is survived in place: the batch that trips the
        generation check is re-encoded once under the freshly reloaded
        artifacts instead of killing the query. A second swap racing
        the retry still fails loud — then the stream restart replays
        the batch (the landed stale partition is overwrite-idempotent
        and generation-pruned, so nothing is lost or double-served
        either way)."""
        def _process(batch_df: DataFrame, batch_id: int) -> None:
            try:
                self.process_batch(batch_df, batch_id)
            except StaleIndexGenerationError:
                self.reload(batch_df.sparkSession)
                self.process_batch(batch_df, batch_id)

        writer = stream_df.writeStream.foreachBatch(_process).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
