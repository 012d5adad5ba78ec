"""Structured Streaming pipelines (SURVEY.md §2.1 S5/S7, §2.2 K2/K4,
§2.6 X1/X4/X5, §3.2).

The reference's serving pipeline is Kafka → parse → keyBy →
queryable ValueState (ALSKafkaConsumer.java:67-92). Spark-first that
becomes: file/kafka stream source → parse (same codecs as batch) →
``foreachBatch`` latest-per-key merge into the ModelStore, with a
checkpoint location for exactly-once state progression. The online-SGD
job (SGD.java:49-85) becomes the same loop with an SGD step between
parse and merge — the per-record state RPCs of the reference become
one batched read of the rows a micro-batch touches and one batched
write of its winners (the reference is itself eventually consistent
through its Kafka loop, so semantics align at batch boundaries).

File source is used in tests (no Kafka broker in this environment);
``source='kafka'`` wires the same pipeline to a broker when present.
Checkpointing (X5) is the ``checkpointLocation`` option; the 60s
default interval maps to the processing-time trigger. Each micro-batch
commits three metadata files there (the file source's ``sources/0/N``,
the offset WAL ``offsets/N`` before the batch runs, ``commits/N`` after
it); ``session.get_spark`` writes them through Spark's FileSystem-based
checkpoint manager, an atomic rename with 2 subprocess spawns per file
on a host without libhadoop instead of 8 (see the session module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from flink_ms_spark.functions.codecs import parse_model_line
from flink_ms_spark.operators.sgd import sgd_step_local
from flink_ms_spark.serving.store import ModelStore, apply_cdc_batch
from flink_ms_spark.sources.text import parse_rating_lines


def _text_stream(spark: SparkSession, path: str, source: str, kafka_options: dict | None):
    if source == "kafka":
        reader = spark.readStream.format("kafka")
        for k, v in (kafka_options or {}).items():
            reader = reader.option(k, v)
        return reader.load().select(F.col("value").cast("string").alias("value"))
    return spark.readStream.text(path)


def stream_model_into_store(
    spark: SparkSession,
    path: str,
    store: ModelStore,
    checkpoint_dir: str,
    source: str = "file",
    kafka_options: dict | None = None,
    available_now: bool = True,
    trigger_interval: str = "60 seconds",
):
    """Model pipeline: text stream of ``id,KIND,f1;f2;...`` rows →
    latest-per-key upsert into the store (K4/X1 semantics).

    ``available_now=True`` drains what exists and stops (test/batch
    bootstrap — reference PROCESS_ONCE, SGD.java:55-60); otherwise runs
    continuously with the processing-time trigger (PROCESS_CONTINUOUSLY,
    SGD.java:49-54; the reference's 60s default interval).
    """
    lines = _text_stream(spark, path, source, kafka_options)
    parsed = lines.select(*parse_model_line("value")).where(F.col("id").isNotNull())

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        store.upsert_batch(batch_df)

    writer = parsed.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def stream_cdc_into_store(
    spark: SparkSession,
    path: str,
    store: ModelStore,
    checkpoint_dir: str,
    available_now: bool = True,
    trigger_interval: str = "60 seconds",
):
    """CDC change-feed loader: text stream of ``key,OP,x`` lines (OP =
    ``U`` upsert / ``D`` tombstone) applied to the store with
    latest-op-per-key-wins micro-batch semantics via
    :func:`flink_ms_spark.serving.store.apply_cdc_batch` — the
    streaming twin of the ``cdc_upsert_merge`` catalog query, and the
    delete-capable extension of :func:`stream_model_into_store`
    (the reference's consumer is upsert-only,
    ALSKafkaConsumer.java:85-92). Spilled stores pay only a
    touched-bucket rewrite per micro-batch on BOTH arms."""
    lines = spark.readStream.text(path)
    parts = F.split(F.col("value"), ",")
    parsed = lines.select(
        parts.getItem(0).alias("key"),
        parts.getItem(1).alias("op"),
        parts.getItem(2).cast("double").alias("x"),
    ).where(F.col("key").isNotNull() & (F.col("key") != ""))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(store, batch_df)

    writer = parsed.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def run_online_sgd_stream(
    spark: SparkSession,
    ratings_path: str,
    store: ModelStore,
    checkpoint_dir: str,
    learning_rate: float = 0.1,
    user_reg: float = 0.0,
    item_reg: float = 0.0,
    sep: str = "\t",
    available_now: bool = True,
):
    """Online SGD (M6): rating stream → per-micro-batch update of the
    touched model rows → merge back into the serving store.

    Each micro-batch is collected ONCE to the driver, which fetches only
    the ``<user>-U`` / ``<item>-I`` rows it touches plus ``MEAN-U`` /
    ``MEAN-I`` (:meth:`ModelStore.lookup_many`), applies one
    simultaneous-update step with the numpy kernel
    :func:`~flink_ms_spark.operators.sgd.sgd_step_local` (bit-identical
    to ``sgd_step``) and upserts the winners as one ``{key: Row}``
    batch — the Spark-native shape of the reference's
    read-state/update/write-Kafka loop (SGD.java:160-234). Work and
    driver memory per batch are bounded by one micro-batch plus its
    touched rows, never by the store, on both store tiers. Mean-vector
    cold-start rows (MEAN-U/MEAN-I) are honored when present (M7); the
    MEAN rows themselves are never updated. Lines whose user, item or
    rating does not parse are dropped at the source.
    """
    lines = spark.readStream.text(ratings_path)
    ratings = parse_rating_lines(lines, sep=sep).where(
        F.col("user_id").isNotNull()
        & F.col("item_id").isNotNull()
        & F.col("rating").isNotNull()
    )

    def step(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        if not rows:
            return
        users = {str(r.user_id) for r in rows}
        items = {str(r.item_id) for r in rows}
        found = store.lookup_many(
            [f"{u}-U" for u in users] + [f"{i}-I" for i in items] + ["MEAN-U", "MEAN-I"]
        )

        def factors(key: str):
            row = found.get(key)
            return None if row is None else row.factors

        updates = sgd_step_local(
            rows,
            {u: factors(f"{u}-U") for u in users},
            {i: factors(f"{i}-I") for i in items},
            user_mean=factors("MEAN-U"),
            item_mean=factors("MEAN-I"),
            learning_rate=learning_rate,
            user_reg=user_reg,
            item_reg=item_reg,
        )
        store.upsert_batch(
            {f"{id_}-{kind}": Row(id=id_, kind=kind, factors=f) for id_, kind, f in updates}
        )

    writer = ratings.writeStream.foreachBatch(step).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
