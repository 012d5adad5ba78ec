"""Streaming tier (SURVEY.md §5): file-source → serving store pipeline,
last-write-wins upsert, point-lookup hit/miss, online SGD stream."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from flink_ms_spark.serving.store import ModelStore
from flink_ms_spark.streaming.loader import run_online_sgd_stream, stream_model_into_store


def _write(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_stream_model_into_store_last_write_wins(spark, tmp_path):
    src = tmp_path / "model_in"
    ckpt = tmp_path / "ckpt1"
    src.mkdir()
    _write(str(src / "a.txt"), ["1,U,1.0;2.0", "2,U,3.0;4.0", "1,U,9.0;9.0"])
    store = ModelStore(spark, "ALS_MODEL")
    q = stream_model_into_store(spark, str(src), store, str(ckpt), available_now=True)
    q.awaitTermination(120)
    # two versions of key 1-U in one batch → the later line wins
    assert len(store) == 2
    assert list(store.lookup("1-U").factors) == [9.0, 9.0]
    assert list(store.lookup("2-U").factors) == [3.0, 4.0]
    assert store.lookup("3-U") is None  # Optional.empty parity (X2)

    # second file arrives → incremental batch updates key 2-U
    _write(str(src / "b.txt"), ["2,U,7.0;7.0"])
    q2 = stream_model_into_store(spark, str(src), store, str(ckpt), available_now=True)
    q2.awaitTermination(120)
    assert list(store.lookup("2-U").factors) == [7.0, 7.0]
    assert list(store.lookup("1-U").factors) == [9.0, 9.0]  # untouched


def test_store_spills_to_dataframe_backend_past_dict_cap(spark, tmp_path):
    """Beyond-driver-memory story (VERDICT r5 stretch): with
    ``max_dict_keys`` engaged the store drops the dict layer and serves
    point lookups from the pinned DataFrame view — same answers (hit
    payloads, miss=None, last-write-wins across later upserts), and the
    streaming loader keeps working against the spilled store."""
    store = ModelStore(spark, "ALS_MODEL", max_dict_keys=3)
    mirror = ModelStore(spark, "ALS_MODEL_MIRROR")  # uncapped reference

    batch1 = spark.createDataFrame(
        [(f"{i}-U", i, "U", [float(i), 1.0]) for i in range(3)],
        "key STRING, id LONG, kind STRING, factors ARRAY<DOUBLE>",
    )
    for s in (store, mirror):
        s.upsert_batch(batch1)
    assert not store._spilled  # 3 keys == cap, not past it

    # batch 2 pushes past the cap → spill; batch 3 merges distributively
    batch2 = spark.createDataFrame(
        [("3-U", 3, "U", [3.0, 1.0]), ("0-U", 0, "U", [99.0, 99.0])],
        "key STRING, id LONG, kind STRING, factors ARRAY<DOUBLE>",
    )
    batch3 = spark.createDataFrame(
        [("4-I", 4, "I", [4.0, 2.0]), ("3-U", 3, "U", [30.0, 30.0])],
        "key STRING, id LONG, kind STRING, factors ARRAY<DOUBLE>",
    )
    for s in (store, mirror):
        s.upsert_batch(batch2)
        s.upsert_batch(batch3)
    assert store._spilled and not mirror._spilled
    assert store._dict == {}  # no driver-side key state remains

    # lookup parity dict-vs-DF on every key, including overwrites + miss
    assert len(store) == len(mirror) == 5
    for key in sorted(mirror.keys()) + ["nope-U"]:
        got, want = store.lookup(key), mirror.lookup(key)
        if want is None:
            assert got is None
        else:
            assert got.asDict() == want.asDict(), key
    assert list(store.lookup("0-U").factors) == [99.0, 99.0]  # batch-2 win
    assert list(store.lookup("3-U").factors) == [30.0, 30.0]  # batch-3 win

    # view() parity: same latest-per-key rows either backend
    v = {r.key: list(r.factors) for r in store.view().collect()}
    m = {r.key: list(r.factors) for r in mirror.view().collect()}
    assert v == m

    # schema-drift guard still loud when spilled — both directions
    # (ADVICE r6: an ADDED column previously died inside unionByName
    # with an opaque AnalysisException instead of this ValueError)
    with pytest.raises(ValueError, match="drops"):
        store.upsert_batch(
            spark.createDataFrame(
                [("9-U", 9, "U")], "key STRING, id LONG, kind STRING"
            )
        )
    with pytest.raises(ValueError, match="adds"):
        store.upsert_batch(
            spark.createDataFrame(
                [("9-U", 9, "U", [9.0], "extra")],
                "key STRING, id LONG, kind STRING, factors ARRAY<DOUBLE>,"
                " note STRING",
            )
        )

    # snapshot/rollback restores the backend mode across the spill
    pre = ModelStore(spark, "SNAP", max_dict_keys=1)
    pre.upsert_batch(spark.createDataFrame(
        [("a", 1.0)], "key STRING, x DOUBLE"
    ))
    v0 = pre.snapshot()
    pre.upsert_batch(spark.createDataFrame(
        [("b", 2.0)], "key STRING, x DOUBLE"
    ))
    assert pre._spilled
    pre.rollback(v0)
    assert not pre._spilled and pre.lookup("a").x == 1.0 and pre.lookup("b") is None


def test_stream_model_into_spilled_store(spark, tmp_path):
    """The X1/K4 streaming upsert path works unchanged against a
    DataFrame-backed (spilled) store — stream-tier evidence for the
    fallback, not just a unit test on upsert_batch."""
    src = tmp_path / "model_in_spill"
    src.mkdir()
    _write(str(src / "a.txt"), ["1,U,1.0;2.0", "2,U,3.0;4.0", "3,U,5.0;6.0"])
    store = ModelStore(spark, "ALS_MODEL", max_dict_keys=2)
    q = stream_model_into_store(
        spark, str(src), store, str(tmp_path / "ckpt_spill"), available_now=True
    )
    q.awaitTermination(120)
    assert store._spilled and len(store) == 3

    _write(str(src / "b.txt"), ["2,U,7.0;7.0"])  # incremental update
    q2 = stream_model_into_store(
        spark, str(src), store, str(tmp_path / "ckpt_spill"), available_now=True
    )
    q2.awaitTermination(120)
    assert list(store.lookup("2-U").factors) == [7.0, 7.0]
    assert list(store.lookup("1-U").factors) == [1.0, 2.0]
    assert store.lookup("9-U") is None


def test_online_sgd_stream_updates_model(spark, tmp_path):
    model_src = tmp_path / "model_src"
    ratings_src = tmp_path / "ratings_src"
    model_src.mkdir()
    ratings_src.mkdir()
    # model: user 1, item 10, and MEAN fallbacks
    _write(
        str(model_src / "m.txt"),
        ["1,U,1.0;2.0", "10,I,3.0;1.0", "MEAN,U,1.0;1.0", "MEAN,I,2.0;2.0"],
    )
    store = ModelStore(spark, "ALS_MODEL")
    stream_model_into_store(
        spark, str(model_src), store, str(tmp_path / "ckpt_m"), available_now=True
    ).awaitTermination(120)

    _write(str(ratings_src / "r.txt"), ["1\t10\t6.0", "99\t10\t5.0"])
    run_online_sgd_stream(
        spark, str(ratings_src), store, str(tmp_path / "ckpt_r"), learning_rate=0.1
    ).awaitTermination(180)

    # same arithmetic as test_sgd_step_simultaneous_update: e=1 for (1,10)
    u = list(store.lookup("1-U").factors)
    assert u == [1.3, 2.1]
    # cold-start user 99 was created from MEAN-U
    assert store.lookup("99-U") is not None
    # MEAN rows must never be overwritten by the SGD loop
    assert list(store.lookup("MEAN-U").factors) == [1.0, 1.0]


def test_kafka_source_builder(spark):
    """S7/K2 plan construction: with the connector jar present the
    builder yields a streaming (value, kafka_offset) plan; without a
    jar (this container) the failure must be connector RESOLUTION —
    i.e. our wiring reached Spark's kafka source lookup — not a bug in
    the builder itself."""
    from flink_ms_spark.streaming.kafka import read_kafka_lines

    try:
        df = read_kafka_lines(spark, "localhost:9092", "model-topic")
    except Exception as e:  # connector jar not on the classpath
        assert "kafka" in str(e).lower()
        return
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["value", "kafka_offset"]


def test_kafka_codec_executes_on_recorded_frames(spark):
    """S7/K2 execution evidence without a broker (VERDICT r9 task 6):
    the frame→line and line→frame codecs are factored off the
    connector (decode_kafka_frames / encode_kafka_value — the SAME
    functions read_kafka_lines and write_kafka_lines apply), so the
    exact CAST paths execute here against a recorded Kafka-frame
    fixture with the connector's documented schema. The untested
    residue is connector WIRING only (socket + jar), not semantics."""
    from flink_ms_spark.functions.codecs import parse_model_line
    from flink_ms_spark.serving.store import ModelStore
    from flink_ms_spark.streaming.kafka import (
        KAFKA_FRAME_SCHEMA,
        decode_kafka_frames,
        encode_kafka_value,
    )

    # recorded frames exactly as the kafka source emits them: binary
    # key/value, topic/partition/offset/timestamp metadata — including
    # a non-ASCII payload (SimpleStringSchema is UTF-8) and a null key
    import datetime

    ts = datetime.datetime(2026, 1, 1, 0, 0, 0)
    frames = spark.createDataFrame(
        [
            (b"k1", "1,U,1.0;2.0".encode(), "model-topic", 0, 7, ts, 0),
            (None, "2,U,3.0;4.0".encode(), "model-topic", 1, 3, ts, 0),
            (b"k2", "1,U,9.0;9.0".encode(), "model-topic", 0, 8, ts, 0),
            (None, "café,U,5.0;5.0".encode("utf-8"), "model-topic", 1, 4, ts, 0),
        ],
        KAFKA_FRAME_SCHEMA,
    )

    lines = decode_kafka_frames(frames)
    assert [f.name for f in lines.schema.fields] == ["value", "kafka_offset"]
    got = {r.kafka_offset: r.value for r in lines.collect()}
    assert got[7] == "1,U,1.0;2.0" and got[4] == "café,U,5.0;5.0"

    # the reference consumer's full downstream (ALSKafkaConsumer.java:
    # 67-92): deserialize → parse → keyBy → last-write-wins upsert.
    # Offsets order the merge: offset 8 beats offset 7 for key 1-U.
    store = ModelStore(spark, "KAFKA_CODEC")
    parsed = lines.select("kafka_offset", *parse_model_line("value")).where(
        F.col("id").isNotNull()
    )
    store.upsert_batch(parsed, ordinal_col="kafka_offset")
    assert list(store.lookup("1-U").factors) == [9.0, 9.0]
    assert list(store.lookup("2-U").factors) == [3.0, 4.0]
    assert list(store.lookup("café-U").factors) == [5.0, 5.0]

    # K2 encode: the sink-side codec serializes any value column to
    # the single STRING value field the kafka sink requires
    out = encode_kafka_value(spark.createDataFrame([(1,), (2,)], "value int"))
    assert out.schema.simpleString() == "struct<value:string>"
    assert sorted(r.value for r in out.collect()) == ["1", "2"]


def test_bus_produce_consume_parse_upsert_end_to_end(spark, tmp_path):
    """S7→T2→P1→K4 through the file-backed bus stand-in (same builder
    API as Kafka; reference chain ALSKafkaConsumer.java:67-92):
    produce model lines → consume (value, kafka_offset) → parse →
    latest-per-key upsert, with offset-ordered last-write-wins — and a
    re-produced (at-least-once duplicate) batch is absorbed."""
    from flink_ms_spark.functions.codecs import parse_model_line
    from flink_ms_spark.serving.store import ModelStore
    from flink_ms_spark.streaming.kafka import read_bus_lines, write_bus_lines

    bus = f"file://{tmp_path / 'bus'}"
    prod_in = tmp_path / "prod_in"
    prod_in.mkdir()
    _write(str(prod_in / "m1.txt"), ["1,U,1.0;2.0", "2,I,3.0;4.0"])

    producer = spark.readStream.text(str(prod_in))
    write_bus_lines(
        producer, bus, "model-topic", str(tmp_path / "ckpt_prod")
    ).awaitTermination(120)

    # second producer updates key 1-U on its own topic; consuming it
    # AFTER topic-1 (arrival order, like the reference's Kafka loop)
    # must override the original factors
    prod_in2 = tmp_path / "prod_in2"
    prod_in2.mkdir()
    _write(str(prod_in2 / "m2.txt"), ["1,U,9.0;9.0"])
    write_bus_lines(
        spark.readStream.text(str(prod_in2)),
        bus,
        "model-topic2",
        str(tmp_path / "ckpt_prod2"),
    ).awaitTermination(120)

    consumed = read_bus_lines(spark, bus, "model-topic")
    assert consumed.isStreaming
    assert [f.name for f in consumed.schema.fields] == ["value", "kafka_offset"]

    store = ModelStore(spark, "ALS_MODEL")

    def upsert(batch_df, _bid):
        parsed = batch_df.select(
            *parse_model_line("value"), F.col("kafka_offset")
        ).where(F.col("id").isNotNull())
        store.upsert_batch(parsed, ordinal_col="kafka_offset")

    q = (
        consumed.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt_cons"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert store.lookup("1-U").factors == [1.0, 2.0]
    assert store.lookup("2-I").factors == [3.0, 4.0]
    assert store.lookup("9-U") is None  # miss => None (X2 parity)

    # the update arrives after the original (separate consume run, like
    # a later Kafka poll) — last-write-wins takes the new factors
    upd = read_bus_lines(spark, bus, "model-topic2")
    q2 = (
        upd.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt_cons2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert store.lookup("1-U").factors == [9.0, 9.0]
    assert store.lookup("2-I").factors == [3.0, 4.0]


def test_streaming_reliability_conf():
    from flink_ms_spark.streaming.kafka import streaming_reliability_conf

    conf = streaming_reliability_conf(state_backend="rocksdb", task_retries=3)
    assert conf["spark.task.maxFailures"] == "3"
    assert conf["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert "spark.sql.streaming.stateStore.providerClass" not in (
        streaming_reliability_conf(state_backend="memory")
    )


def test_streaming_exact_dedup_first_seen_wins(spark, tmp_path):
    """Stream dedup: duplicate digests are dropped within the watermark
    horizon, including across micro-batch runs (digest state is
    checkpointed)."""
    from flink_ms_spark.streaming.dedup import streaming_exact_dedup

    src = tmp_path / "docs_in"
    ckpt = tmp_path / "ckpt_dedup"
    src.mkdir()
    schema = "ts TIMESTAMP, doc_id LONG, text STRING"
    seen: list = []

    def run() -> None:
        stream = spark.readStream.schema(schema).json(str(src))
        deduped = streaming_exact_dedup(stream, watermark_delay="2 hours")
        q = (
            deduped.writeStream.foreachBatch(
                lambda df, _bid: seen.extend((r.doc_id, r.text_hash) for r in df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        str(src / "a.json"),
        [
            '{"ts": "2024-01-01 10:00:00", "doc_id": 1, "text": "the quick fox"}',
            '{"ts": "2024-01-01 10:01:00", "doc_id": 2, "text": "The  quick fox "}',
            '{"ts": "2024-01-01 10:02:00", "doc_id": 3, "text": "something else"}',
        ],
    )
    run()
    # doc 2 normalizes to doc 1's content → dropped
    assert sorted(d for d, _ in seen) == [1, 3]

    _write(
        str(src / "b.json"),
        [
            '{"ts": "2024-01-01 10:30:00", "doc_id": 4, "text": "the quick fox"}',
            '{"ts": "2024-01-01 10:31:00", "doc_id": 5, "text": "brand new text"}',
        ],
    )
    run()
    # doc 4 duplicates checkpointed digest state → still dropped
    assert sorted(d for d, _ in seen) == [1, 3, 5]


def test_online_sgd_stream_converges_over_batches(spark, tmp_path):
    """The streaming learning loop end-to-end: each micro-batch's
    touched-row SGD update + merge must reduce the served model's
    MSE on the observed ratings (reference SGD.java's purpose)."""
    from flink_ms_spark.operators.evaluate import mse
    from flink_ms_spark.serving.store import ModelStore
    from flink_ms_spark.streaming.loader import run_online_sgd_stream

    # ground truth: rank-1 structure rating = (u+1)(i+1)/4
    users, items = range(4), range(4)
    ratings = [(u, i, (u + 1) * (i + 1) / 4.0) for u in users for i in items]
    ratings_df = spark.createDataFrame(
        ratings, "user_id INT, item_id INT, rating DOUBLE"
    )

    # start from a flat (wrong) model: every factor vector [0.5, 0.5]
    store = ModelStore(spark, "ALS_MODEL")
    seed_rows = [(f"{u}-U", str(u), "U", [0.5, 0.5]) for u in users] + [
        (f"{i}-I", str(i), "I", [0.5, 0.5]) for i in items
    ]
    store.upsert_batch(
        spark.createDataFrame(
            seed_rows, "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>"
        )
    )

    def current_mse() -> float:
        model = store.view().select("id", "kind", "factors")
        return mse(ratings_df, model).collect()[0]["mse"]

    src = tmp_path / "sgd_in"
    ckpt = tmp_path / "ckpt_sgd_conv"
    src.mkdir()
    errs = [current_mse()]
    for epoch in range(3):
        _write(
            str(src / f"epoch{epoch}.txt"),
            [f"{u}\t{i}\t{r}" for u, i, r in ratings],
        )
        q = run_online_sgd_stream(
            spark, str(src), store, str(ckpt), learning_rate=0.1, available_now=True
        )
        q.awaitTermination(120)
        errs.append(current_mse())

    assert errs[-1] < errs[0] * 0.5, f"SGD failed to converge: {errs}"
    assert all(b <= a + 1e-9 for a, b in zip(errs, errs[1:])), f"MSE rose: {errs}"


def test_streaming_curate_matches_batch_semantics(spark, tmp_path):
    """Quality gate + scrub + watermark dedup as one append stream:
    short docs drop, duplicate digests drop (first seen wins), PII is
    scrubbed in survivors, and the second availableNow run continues
    from checkpointed digest state."""
    from flink_ms_spark.streaming.curate import streaming_curate

    long_a = "alpha " * 25 + "mail me at bob@example.com"
    long_b = "beta " * 30
    src = tmp_path / "cur_in"
    ckpt = tmp_path / "ckpt_cur"
    src.mkdir()
    schema = "ts TIMESTAMP, doc_id LONG, text STRING"
    out: list = []

    def run() -> None:
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            streaming_curate(stream, min_tokens=20, watermark_delay="2 hours")
            .writeStream.foreachBatch(
                lambda df, _bid: out.extend(
                    (r.doc_id, r.text, r.n_tokens) for r in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    import json

    _write(
        str(src / "a.json"),
        [
            json.dumps({"ts": "2024-01-01 10:00:00", "doc_id": 1, "text": long_a}),
            json.dumps({"ts": "2024-01-01 10:01:00", "doc_id": 2, "text": "too short"}),
            json.dumps({"ts": "2024-01-01 10:02:00", "doc_id": 3, "text": long_a}),
            json.dumps({"ts": "2024-01-01 10:03:00", "doc_id": 4, "text": long_b}),
        ],
    )
    run()
    got = {d: (t, n) for d, t, n in out}
    # 2 fails the gate; 3 duplicates 1's digest; 1 and 4 survive
    assert sorted(got) == [1, 4]
    assert "bob@example.com" not in got[1][0], "PII must be scrubbed"
    assert got[4][1] == 30

    _write(
        str(src / "b.json"),
        [
            json.dumps({"ts": "2024-01-01 10:30:00", "doc_id": 5, "text": long_b}),
            json.dumps({"ts": "2024-01-01 10:31:00", "doc_id": 6, "text": "gamma " * 21}),
        ],
    )
    run()
    # 5 duplicates checkpointed digest state; 6 is new
    assert sorted(d for d, _, _ in out) == [1, 4, 6]


def test_streaming_mse_ledger(spark, tmp_path):
    """Continuous evaluation: per-micro-batch MSE of arriving ratings
    against the CURRENT served model, appended to an idempotent
    parquet ledger (streaming form of the reference's MSE batch job)."""
    from flink_ms_spark.serving.store import ModelStore
    from flink_ms_spark.streaming.eval import StreamingMSE

    store = ModelStore(spark, "ALS_MODEL_EVAL")
    model_src = tmp_path / "m_src"
    _write(str(model_src / "m.txt"), ["1,U,1.0;2.0", "10,I,3.0;1.0"])
    stream_model_into_store(
        spark, str(model_src), store, str(tmp_path / "ckpt_m2"), available_now=True
    ).awaitTermination(120)

    ratings_src = tmp_path / "r_src"
    ledger = str(tmp_path / "mse_ledger")
    ev = StreamingMSE(store, ledger)
    schema = "user_id INT, item_id INT, rating DOUBLE"

    def run() -> None:
        stream = spark.readStream.schema(schema).json(str(ratings_src))
        q = ev.run(stream, str(tmp_path / "ckpt_ev"))
        q.awaitTermination(120)

    _write(str(ratings_src / "a.json"),
           ['{"user_id": 1, "item_id": 10, "rating": 6.0}',
            '{"user_id": 99, "item_id": 10, "rating": 5.0}'])  # 99: skip-on-miss
    run()
    rows = {r.batch_id: r for r in ev.ledger(spark).collect()}
    # pred(1,10) = 1*3 + 2*1 = 5 -> e^2 = 1; user 99 absent -> skipped
    assert rows[0].n == 1 and rows[0].mse == 1.0

    _write(str(ratings_src / "b.json"),
           ['{"user_id": 1, "item_id": 10, "rating": 4.0}'])
    run()
    rows = {r.batch_id: r for r in ev.ledger(spark).collect()}
    assert set(rows) == {0, 1}
    assert rows[1].n == 1 and rows[1].mse == 1.0


def test_spilled_store_bucket_pruned_layout(spark):
    """Round-8 spill redesign + round-10 manifest layout (VERDICT r7
    task 5, r9 task 5): the spilled view lives in immutable per-bucket
    leaf dirs ``data-G/spill_bucket=B`` referenced by a manifest, so a
    point lookup computes the bucket DRIVER-side and reads one leaf.
    Pins: (a) the on-disk layout — one leaf per occupied bucket, every
    manifest entry present, (b) driver zlib.crc32 agrees with Spark's
    crc32 about every key's bucket, (c) the leaf-scoped Spark fallback
    answers identically to the pyarrow fast path, (d) payload columns
    may not shadow the bucket column."""
    import os

    import zlib

    from pyspark.sql import functions as F

    store = ModelStore(spark, "BUCKETED_SPILL", max_dict_keys=1, spill_buckets=8)
    kv = spark.createDataFrame(
        [(f"k{i}", i, [float(i)]) for i in range(40)],
        "key STRING, id LONG, factors ARRAY<DOUBLE>",
    )
    store.upsert_batch(kv)
    assert store._spilled

    # (a) manifest layout: every referenced leaf exists on disk and is
    # named for the bucket it holds
    assert store._manifest
    for b, rel in store._manifest.items():
        assert rel.endswith(f"spill_bucket={b}")
        assert os.path.isdir(store._leaf_abs(rel))

    # (b) Spark placed each key in the bucket the driver computes
    placed = {
        r.key: r.spill_bucket
        for r in store._df.select("key", "spill_bucket").collect()
    }
    assert len(placed) == 40
    for k, b in placed.items():
        assert store._bucket_of(k) == b == zlib.crc32(k.encode()) % 8
        # ...and that bucket's leaf really holds the key
        leaf = store._leaf_abs(store._manifest[b])
        assert spark.read.parquet(leaf).where(F.col("key") == k).count() == 1

    # (c) arrow fast path == leaf-scoped Spark fallback, hits and miss
    for k in ("k0", "k13", "k39", "absent"):
        via_arrow = store.lookup(k)
        rel = store._manifest.get(store._bucket_of(k))
        rows = (
            spark.read.parquet(store._leaf_abs(rel))
            .where(F.col("key") == k)
            .collect()
            if rel is not None
            else []
        )
        if via_arrow is None:
            assert not rows
        else:
            d = rows[0].asDict()
            d.pop("key")
            assert via_arrow.asDict() == d

    # (d) collision guard is loud
    bad = ModelStore(spark, "SHADOW", max_dict_keys=1)
    with pytest.raises(ValueError, match="spill_bucket"):
        bad.upsert_batch(
            spark.createDataFrame(
                [("a", 1, 0), ("b", 2, 1)],
                "key STRING, v LONG, spill_bucket INT",
            )
        )
